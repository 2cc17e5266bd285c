"""Per-document reference for ``pii_core.pipeline``'s staged path.

Built only from the pipeline's public pieces, one document at a time:
chunk the text, call ``emitter(text, offsets)`` on each chunk separately
(no forward groups, no cross-document state), aggregate with
``_mean_logit_matrix`` on its validating (untrusted-offsets) path, decode
with per-document ``viterbi_bio`` or argmax, then filter, merge and shape
the record. Failures raise, as ``extract_page`` does.

Without ``emitter``/``tokenizer`` it runs the stub pair; for a model
config, pass both.
"""

from __future__ import annotations

import numpy as np

from pii_core.chunking import build_chunks_with_offsets
from pii_core.decoding import viterbi_bio
from pii_core.ner_stub import StubEmitter
from pii_core.pipeline import (
    ExtractConfig,
    _decode_and_filter,
    _finalize_document,
    _label_ctx,
    _mean_logit_matrix,
    _page_record,
    _payload_to_text,
)
from pii_core.spans import Span


def ner_spans_oracle(text: str, cfg: ExtractConfig, emitter,
                     tokenizer) -> list[Span]:
    """One document's filtered NER spans, before the detector merge."""
    pairs = build_chunks_with_offsets(
        text, tokenizer, max_length=cfg.max_length, stride=cfg.stride,
        boundary_backoff=cfg.boundary_backoff, hard_split=cfg.hard_split)
    # a chunk without tokens has nothing to emit
    items = [(ch, offs, emitter(ch.text, offs))
             for ch, offs in pairs if len(offs)]
    ctx = _label_ctx(emitter)
    labels_list, o_id = ctx[0], ctx[3]

    def decode(keys, em) -> list[Span]:
        if cfg.decode == "bio_viterbi":
            pred = viterbi_bio(em, labels_list, o_id)
        else:
            pred = [int(x) for x in np.argmax(em, axis=-1)]
        return _decode_and_filter(keys, em, cfg, ctx, pred=pred)

    if cfg.aggregate == "none":
        return [Span(s.start + ch.char_start, s.end + ch.char_start, s.type,
                     s.conf, s.n_tokens)
                for ch, offs, em in items for s in decode(offs, em)]
    kg = _mean_logit_matrix(items, len(pairs), trusted_offsets=False)
    return [] if kg is None else decode(*kg)


def extract_page_oracle(url, html, text, cfg: ExtractConfig | None = None,
                        emitter=None, tokenizer=None) -> dict:
    """Reference twin of ``extract_page``."""
    cfg = cfg or ExtractConfig()
    emitter = StubEmitter() if emitter is None else emitter
    tokenizer = cfg.make_tokenizer() if tokenizer is None else tokenizer
    extracted = _payload_to_text(html, text, cfg.max_doc_bytes)
    ner = (ner_spans_oracle(extracted, cfg, emitter, tokenizer)
           if cfg.use_ner and extracted else [])
    spans, public = _finalize_document(extracted, ner, cfg)
    return _page_record(url, extracted, spans, public)
