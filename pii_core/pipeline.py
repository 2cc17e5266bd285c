"""The extraction pipeline: one staged path for every entry point.

Chains the full reference inference path (``infer_pii.py:137-313``) plus the
north-rule stages as four generator stages over a per-page ``_Doc`` record:

    1. prep       payload -> text            [NORTH, html_extract/pdf_extract]
                  text -> chunks + offsets   (chunking.py; reference
                                              chunking.py:144-301)
    2. emit       chunk -> NER emissions     (pluggable emitter; reference
                                              infer_pii.py:180-201), in
                                              cross-document forward groups
    3. aggregate  mean-logit matrix keyed by global char offsets
                                             (reference infer_pii.py:209-235,
                                              277-310)
    4. viterbi    BIO Viterbi decode, cross-document packed batches
                                             (reference decoding.py:124-187)

and finishes each document with

    -> scored spans -> filter      (reference spans.py:138-269)
    + regex detector spans         [NORTH, detectors.py]
    -> merge same-type + resolve cross-type (reference spans.py:272-324)
    -> should_be_public = not any(span.type in PII_TYPES)
                                   (reference infer_pii.py:553-569,674)

``extract_page_batch`` runs the stages over a batch of pages;
``extract_page`` is a batch of one, and ``extract_document`` runs them on
text it is given. ``ExtractConfig.make_emitter_and_tokenizer`` is the only
place that resolves the emitter/tokenizer pair.

Determinism contract: for a fixed config the output is a pure function of the
input bytes — fp32 sums accumulate in chunk order, which is fixed per document
and never split across Spark partitions, so results are bit-identical at any
partition count / cluster size and at any batch composition.

Defaults mirror the reference CLI (infer_pii.py:359-438): max_length=512,
stride=64, boundary_backoff=32, decode=bio_viterbi, aggregate=mean_logits,
conf_threshold=0 (disabled), conf_agg=mean, min_span_tokens=0,
resolve_overlaps=True.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field
from itertools import chain, islice
from typing import Callable, Iterator

import numpy as np

from pii_core.chunking import ChunkingConfigError, build_chunks_with_offsets
from pii_core.decoding import viterbi_bio, viterbi_bio_batch
from pii_core.detectors import detect_spans
from pii_core.html_extract import html_to_text_strict
from pii_core.labels import PII_TYPES, label_maps
from pii_core.pdf_extract import looks_like_pdf, pdf_to_text_strict
from pii_core.ner_stub import StubEmitter
from pii_core.spans import Span, filter_spans, merge_and_resolve, spans_from_bio
from pii_core.tokenizer import WordTokenizer

Emitter = Callable[[str, list[tuple[int, int]]], np.ndarray]


@dataclass(frozen=True)
class ExtractConfig:
    max_length: int = 512
    stride: int = 64
    boundary_backoff: int = 32
    decode: str = "bio_viterbi"            # bio_viterbi | argmax
    aggregate: str = "mean_logits"         # mean_logits | none
    conf_threshold: float = 0.0
    conf_threshold_by_type: dict[str, float] = field(default_factory=dict)
    conf_agg: str = "mean"                 # mean | min
    min_span_tokens: int = 0
    min_span_tokens_by_type: dict[str, int] = field(default_factory=dict)
    resolve_overlaps: bool = True
    use_detectors: bool = True
    use_ner: bool = True
    tokenizer_piece_len: int = 8
    # chunks per NER forward pass (reference --batch_size default 8,
    # infer_pii.py:372-375); honored when the emitter provides emit_batch
    batch_size: int = 8
    # web-scale recovery for multi-kB unbroken char runs (minified JS,
    # base64 blobs): False = reference-parity fail-fast (doc quarantined
    # fail-closed); True = chunker cuts such runs at exact token boundaries
    hard_split: bool = False
    # Optional real-model swap-in (requires torch + transformers): a HF
    # token-classification checkpoint path/name. When set (and use_ner is
    # on), make_emitter_and_tokenizer() loads
    # pii_core.ner_transformer.TransformerEmitter and the matching
    # fast-tokenizer adapter; when None (sandbox default) the hermetic
    # StubEmitter + WordTokenizer path runs, byte-identical as before.
    model_path: str | None = None
    model_device: str = "cpu"
    # True (default): the transformer emitter pads every forward to the
    # fixed max_length width, so a chunk's logits never depend on which
    # neighbors share its batch (the partition-invariance contract). False
    # trades bitwise run-to-run identity for pad-to-longest throughput.
    pad_to_max: bool = True
    # Giant-page straggler bound: a payload larger than this quarantines
    # fail-closed (DocTooLargeError, error row, never public) BEFORE any
    # parse work. A 100-TB crawl contains multi-MB pathological pages, and
    # because one document's chunks must colocate (fp32 accumulation
    # order), a single such page can pin a task for minutes while its
    # partition's siblings wait. Units: bytes for binary payloads,
    # characters for pre-extracted text payloads. None disables the cap.
    max_doc_bytes: int | None = 10_000_000

    def __post_init__(self) -> None:
        # Eager validation: a bad config must fail at CONSTRUCTION (driver /
        # submit time), not minutes later inside an executor UDF. Mirrors
        # the chunker's runtime checks (chunking.py) plus enum fields.
        if self.max_length <= 8:
            raise ValueError(f"max_length too small: {self.max_length}")
        # Budget = max_length - num_special_tokens. The special count is a
        # property of the tokenizer: exactly 2 for the stub WordTokenizer
        # (model_path None), but a transformer checkpoint's tokenizer may
        # add 1-3 — and it only exists on the executor. The model path is
        # therefore checked against a CONSERVATIVE worst case (4 specials)
        # so a degenerate stride fails HERE at submit time; a tokenizer
        # with >4 specials slips past this bound but still aborts the job
        # at the first task, because the chunker raises
        # ChunkingConfigError, which extract_page_batch RE-RAISES instead
        # of quarantining — a config error classed as a per-page failure
        # would silently fail-close the entire corpus (every url
        # anti-joined away as "done" with zero spans).
        specials = 2 if self.model_path is None else 4
        budget = int(self.max_length) - specials
        if not (0 <= self.stride < budget):
            raise ValueError(
                f"stride must satisfy 0 <= stride < max_length - "
                f"{specials} = {budget}; got {self.stride}"
                + ("" if self.model_path is None else
                   " (model-path bound assumes up to 4 special tokens)"))
        if self.boundary_backoff < 0:
            raise ValueError(
                f"boundary_backoff must be >= 0, got {self.boundary_backoff}")
        if self.batch_size < 1:
            raise ValueError(f"batch_size must be >= 1, got {self.batch_size}")
        if self.tokenizer_piece_len < 1:
            raise ValueError(
                f"tokenizer_piece_len must be >= 1, got "
                f"{self.tokenizer_piece_len}")
        if self.decode not in ("bio_viterbi", "argmax"):
            raise ValueError(f"unknown decode mode: {self.decode!r}")
        if self.aggregate not in ("mean_logits", "none"):
            raise ValueError(f"unknown aggregate mode: {self.aggregate!r}")
        if self.conf_agg not in ("mean", "min"):
            raise ValueError(f"unknown conf_agg: {self.conf_agg!r}")
        if self.max_doc_bytes is not None and self.max_doc_bytes < 1:
            raise ValueError(
                f"max_doc_bytes must be >= 1 or None, got "
                f"{self.max_doc_bytes}")

    def make_tokenizer(self) -> WordTokenizer:
        return WordTokenizer(piece_len=self.tokenizer_piece_len)

    def make_emitter_and_tokenizer(self, emitter: Emitter | None = None,
                                   tokenizer: WordTokenizer | None = None):
        """The one place that resolves the (emitter, tokenizer) pair: every
        extraction entry point calls it, and the Spark UDF calls it once per
        partition iterator (the per-executor "model load" slot). Fills in
        whichever part the caller did not pass.

        The real checkpoint (reference model load: infer_pii.py:445-470)
        loads only when ``use_ner`` is on AND ``model_path`` is set; a
        detectors-only config never needs torch. Otherwise the deterministic
        stub runs. Under a loading config, a tokenizer passed without an
        emitter raises: it cannot pair with the checkpoint's own fast
        tokenizer, and substituting the stub emitter would silently run
        gazetteer spans against a model config (pages published as public
        with unscanned names)."""
        if emitter is None and self.use_ner and self.model_path is not None:
            if tokenizer is not None:
                raise ValueError(
                    "model_path is set but only a tokenizer was passed; pass "
                    "both emitter and tokenizer (or neither) for the real-"
                    "model path")
            from pii_core.ner_transformer import (  # noqa: PLC0415
                load_transformer_emitter,
            )

            emitter = load_transformer_emitter(
                self.model_path, device=self.model_device,
                max_length=self.max_length, pad_to_max=self.pad_to_max)
            return emitter, emitter.tokenizer_adapter
        return (StubEmitter() if emitter is None else emitter,
                self.make_tokenizer() if tokenizer is None else tokenizer)


_PII_SET = frozenset(PII_TYPES)

_SINGLE_CHUNK_FAST = True

# Documents per cross-document batched-Viterbi call (the Viterbi stage):
# the packed DP's NumPy call overhead amortizes up to ~64 sequences, then
# cache pressure erodes the win (measured on C=27).
_DECODE_BATCH_DOCS = 64
# Docs buffered before decode batches are cut. Web corpora are heavy-tailed
# (p50 ~170 tokens, p99 ~4500 on the synthetic corpus): batching FIFO would
# pair one long doc with 63 short ones, and after the short ones retire the
# packed DP crawls through thousands of near-empty steps. Sorting a wider
# window by length first makes every sub-batch length-homogeneous.
_DECODE_WINDOW_DOCS = 8 * _DECODE_BATCH_DOCS
# Token-row cap per packed sub-batch: bounds the float64 packed matrix and
# int32 backpointers (~500k rows * 27 labels ≈ 160 MB together) when the
# window holds many book-length documents.
_DECODE_CELL_BUDGET = 500_000


def _label_ctx(emitter: Emitter):
    """(labels_list, l2i, id2label, o_id) for this emitter's label space."""
    labels_list = getattr(emitter, "labels", None) or label_maps()[1]
    if isinstance(labels_list, dict):
        labels_list = [labels_list[i] for i in range(len(labels_list))]
    l2i = {lab: i for i, lab in enumerate(labels_list)}
    id2label = {i: lab for lab, i in l2i.items()}
    return labels_list, l2i, id2label, l2i["O"]


def _decode_and_filter(keys, em_global, cfg: ExtractConfig, ctx,
                       pred: list[int] | None = None) -> list[Span]:
    """Spans from a (K,C) emission matrix. ``pred`` short-circuits the
    decode when the label path was already computed (the cross-document
    batched-Viterbi path) — it must be exactly what ``viterbi_bio`` would
    return for this matrix."""
    labels_list, _l2i, id2label, o_id = ctx
    if pred is None:
        if cfg.decode == "bio_viterbi":
            pred = viterbi_bio(em_global, labels_list, o_id)
        else:
            pred = [int(x) for x in np.argmax(em_global, axis=-1)]
    spans = spans_from_bio(keys, pred, em_global, id2label, cfg.conf_agg)
    return filter_spans(
        spans,
        conf_threshold=cfg.conf_threshold,
        conf_threshold_by_type=cfg.conf_threshold_by_type,
        min_span_tokens=cfg.min_span_tokens,
        min_span_tokens_by_type=cfg.min_span_tokens_by_type,
    )


def _mean_logit_matrix(items, n_chunks: int, trusted_offsets: bool = False):
    """One document's global (keys, (K,C) mean-logit matrix) from its
    (chunk, offsets, emissions) stream, or None if no tokens survive.
    ``keys`` are sorted global (start,end) char offsets.

    ``trusted_offsets=True`` asserts the offsets came from a slice-stable
    tokenizer's own scan (``build_chunks_with_offsets``), which produces
    non-empty tokens with strictly increasing starts BY CONSTRUCTION — the
    single-chunk fast path then skips its per-token validation loop. The
    differential test pins trusted and untrusted results identical on that
    provenance."""
    # Single-chunk fast path (the common case for web pages): no overlap
    # to average, so the chunk emissions ARE the global emissions —
    # identical result to the dict accumulation below with count=1
    # (tests flip _SINGLE_CHUNK_FAST to assert the equivalence). A chunk
    # with REPEATED offsets (an emitter/tokenizer adapter emitting
    # duplicate spans) must fall through to the general path, which dedups
    # and averages repeated keys — returning them raw here would make the
    # result depend on whether the document happened to be single-chunk.
    items = list(items)
    if _SINGLE_CHUNK_FAST and n_chunks == 1:
        if not items:
            return None
        ch, offs, em = items[0]
        # One validation pass, no set-of-tuples build: offsets that are all
        # non-empty (a < b) with STRICTLY increasing starts are unique AND
        # already in the general path's sorted order (regex tokenizers
        # produce exactly this shape), so the chunk emissions ARE the
        # global emissions and — when char_start is 0 — ``offs`` itself is
        # the keys list, zero copies. Anything else (empty offsets from a
        # specials-emitting adapter, repeats, disorder) falls through to
        # the general path, whose dict accumulation dedups/averages/sorts;
        # the old set-based condition also accepted unsorted-unique keys
        # and returned them UNSORTED, diverging from the general path's
        # sorted order — narrowing the condition removed that corner.
        if trusted_offsets:
            ok = True
        elif isinstance(offs, np.ndarray):
            # vectorized twin of the tuple-list loop below: non-empty
            # tokens (a < b) with strictly increasing starts
            ok = bool((offs[:, 0] < offs[:, 1]).all()) and (
                offs.shape[0] < 2
                or bool((np.diff(offs[:, 0]) > 0).all()))
        else:
            pa = -1
            ok = True
            for a, b in offs:
                if a >= b or a <= pa:
                    ok = False
                    break
                pa = a
        if ok and len(offs):
            cs = ch.char_start
            if isinstance(offs, np.ndarray):
                keys = offs if cs == 0 else offs + np.int64(cs)
            else:
                keys = (offs if cs == 0
                        else [(a + cs, b + cs) for a, b in offs])
            return keys, np.asarray(em, dtype=np.float32)

    # Accumulate per-token logits keyed by GLOBAL (start,end) char offsets
    # so overlapping chunks average out (reference infer_pii.py:209-235).
    # Fully vectorized form of the reference's dict accumulation (the
    # eval-path idiom, infer_pii.py:853-894): each chunk's offsets become
    # one (N,2) int64 array, global keys pack into a single int64
    # (start << 32 | end — lexicographic order preserved, so np.unique's
    # sorted output IS the dict form's sorted(key_index)), np.unique's
    # inverse indices replace the per-token setdefault loop (the
    # multi-chunk hot spot), and whole chunks add with one fancy-index +=.
    # fp32 accumulation order per key is unchanged (chunks processed in
    # chunk order; a key appears at most once per chunk, and if an emitter
    # ever repeats offsets within a chunk, np.add.at preserves the
    # token-order adds the dict form would have done).
    got = [(ch, offs, np.asarray(em, dtype=np.float32))
           for ch, offs, em in items]
    if not got:
        return None
    enc_parts: list[np.ndarray] = []
    sels: list[np.ndarray] = []
    for ch, offs, em in got:
        o = np.asarray(offs, dtype=np.int64).reshape(-1, 2)
        if o.shape[0] != em.shape[0]:
            raise ValueError(
                f"chunk offsets/emissions mismatch: {o.shape[0]} vs "
                f"{em.shape[0]}")
        g = o + np.int64(ch.char_start)
        keep = g[:, 0] < g[:, 1]
        if not keep.all():
            g = g[keep]
            em = em[keep]
        if g.size and int(g[:, 1].max()) >= (1 << 31):
            # packing headroom: a >2^31-char document cannot reach here
            # anyway (its (T,C) emission matrix would not fit in memory),
            # but never pack silently-wrong keys — the raise quarantines
            # the page fail-closed like any other per-page failure
            raise ValueError(
                f"char offset {int(g[:, 1].max())} exceeds the 2^31 "
                "key-packing bound")
        enc_parts.append((g[:, 0] << np.int64(32)) | g[:, 1])
        sels.append(em)
    all_enc = np.concatenate(enc_parts)
    if all_enc.size == 0:
        return None
    uniq, inv = np.unique(all_enc, return_inverse=True)
    k = uniq.size
    n_classes = got[0][2].shape[1]
    acc = np.zeros((k, n_classes), dtype=np.float32)
    cnt = np.zeros(k, dtype=np.float32)
    pos = 0
    for sel in sels:
        n = sel.shape[0]
        ia = inv[pos:pos + n]
        pos += n
        if ia.size == np.unique(ia).size:
            acc[ia] += sel
            cnt[ia] += 1.0
        else:  # repeated key within one chunk: unbuffered ordered adds
            np.add.at(acc, ia, sel)
            np.add.at(cnt, ia, 1.0)
    keys = np.stack((uniq >> np.int64(32), uniq & np.int64(0xFFFFFFFF)),
                    axis=1)
    # one vectorized fp32 divide — elementwise-identical to dividing each
    # row by its count (same operands, same IEEE op); rows are already in
    # sorted-key order because np.unique sorts the packed keys
    em_global = (acc / cnt[:, None]).astype(np.float32, copy=False)
    return keys, em_global


def _finalize_document(
    text: str, ner_spans: list[Span], cfg: ExtractConfig
) -> tuple[list[Span], bool]:
    """NER spans + detector spans → merged spans + public decision."""
    spans = list(ner_spans)
    if cfg.use_detectors:
        spans.extend(detect_spans(text))
    merged = merge_and_resolve(spans, resolve_overlaps=cfg.resolve_overlaps)
    public = not any(s.type in _PII_SET for s in merged)
    return merged, public


class DocTooLargeError(ValueError):
    """Payload exceeds ``ExtractConfig.max_doc_bytes`` — the page
    quarantines fail-closed before any parse work (straggler bound)."""


def _payload_to_text(html: bytes | None, text: str | None,
                     max_doc_bytes: int | None = None) -> str:
    """Payload sniff: ``%PDF-`` magic routes to the PDF layout parser,
    anything else to the HTML main-content extractor (the north rule's
    "HTML boilerplate strip, PDF/layout parse" stage). A payload above
    ``max_doc_bytes`` raises DocTooLargeError BEFORE parsing: one
    pathological multi-MB page must not pin a whole task (its chunks
    colocate for fp32 determinism, so it cannot be split across workers)."""
    if max_doc_bytes is not None:
        size = len(html) if html else len(text or "")
        if size > max_doc_bytes:
            raise DocTooLargeError(
                f"payload of {size} bytes exceeds max_doc_bytes="
                f"{max_doc_bytes}; quarantined fail-closed (raise the cap "
                "or pre-split the document to process it)")
    if html:
        if looks_like_pdf(html):
            # STRICT: a PDF whose text coverage cannot be asserted raises
            # (UnsupportedPdfError) and the page quarantines fail-closed —
            # the lenient "" would mark an unscanned document publishable
            return pdf_to_text_strict(html)
        # STRICT twin of the PDF branch: a parser crash (vanishingly
        # rare with the stdlib parser) quarantines, never publishes an
        # unscanned page as spans=[] / public
        return html_to_text_strict(html)
    return text or ""


def _page_record(url: str, extracted: str, spans: list[Span],
                 public: bool) -> dict:
    """Reference-shaped JSONL record (infer_pii.py:553-569):
    value = extracted_text[start:end], conf rounded to 2 decimals."""
    return {
        "url": url,
        "extracted_text": extracted,
        "spans": [
            {
                "type": s.type,
                "start": s.start,
                "end": s.end,
                "value": extracted[s.start:s.end],
                "conf": round(float(s.conf), 2),
                "n_tokens": s.n_tokens,
            }
            for s in spans
        ],
        "should_be_public": public,
    }


def _emit_group(group, emitter: Emitter, emit_batch):
    """Emissions for one cross-document chunk group. On a batched-forward
    failure, RETRY PER CHUNK so the error is attributed to the page that
    caused it: the healthy neighbors in the group still get real emissions
    and only the pathological page quarantines (an Exception in place of
    its (T,C) array). A whole-group raise would abort the Spark task and,
    after retries, the cluster job — exactly what per-page quarantine
    exists to prevent."""
    texts = [ch.text for _, ch, _ in group]
    offsets = [offs for _, _, offs in group]
    if emit_batch is not None:
        try:
            ems = list(emit_batch(texts, offsets))
            if len(ems) == len(group):
                return ems
            # wrong count is an emitter contract bug: fall through to the
            # per-chunk path so the miscounted batch can't silently pair
            # emissions with the wrong chunks (zip would truncate)
        except Exception:  # noqa: BLE001 — isolate below
            pass
    out = []
    for text, offs in zip(texts, offsets):
        try:
            if emit_batch is not None:
                one = list(emit_batch([text], [offs]))
                if len(one) != 1:
                    raise RuntimeError(
                        f"emit_batch returned {len(one)} emissions for 1 "
                        "chunk")
                out.append(one[0])
            else:
                out.append(emitter(text, offs))
        except Exception as e:  # noqa: BLE001 — per-page quarantine
            out.append(e)
    return out


@dataclass(slots=True, eq=False)
class _Doc:
    """One page's state as it moves through the four stages."""
    url: str | None
    text: str = ""
    n_chunks: int = 0      # every chunk, token-less ones included
    chunks: list = field(default_factory=list)   # (chunk, offsets), tokens>0
    emitted: list = field(default_factory=list)  # (chunk, offsets, em | exc)
    keys: object = None    # global offsets of ``matrix`` (awaiting Viterbi)
    matrix: np.ndarray | None = None
    ner: list[Span] = field(default_factory=list)
    error: Exception | None = None


def _prep(records, cfg: ExtractConfig, tokenizer,
          max_doc_bytes: int | None) -> Iterator[_Doc]:
    """Stage 1: payload -> text -> chunks, one document at a time."""
    for url, html, text in records:
        d = _Doc(url)
        try:
            d.text = _payload_to_text(html, text, max_doc_bytes)
            if cfg.use_ner and d.text:
                pairs = build_chunks_with_offsets(
                    d.text, tokenizer,
                    max_length=cfg.max_length, stride=cfg.stride,
                    boundary_backoff=cfg.boundary_backoff,
                    hard_split=cfg.hard_split,
                )
                d.n_chunks = len(pairs)
                d.chunks = [(ch, offs) for ch, offs in pairs if len(offs)]
        except ChunkingConfigError:
            # a config that can never work for ANY page must abort the job
            # (loudly, at the first task), not quarantine every page into a
            # silently fail-closed corpus whose urls then all commit as done
            raise
        except Exception as e:  # noqa: BLE001 — per-page quarantine
            d.error = e
        yield d


def _emit(docs: Iterator[_Doc], emitter: Emitter,
          batch_size: int) -> Iterator[_Doc]:
    """Stage 2: emissions for the cross-document chunk stream, cut into
    consecutive ``batch_size`` groups (one ``_emit_group`` forward each)
    wherever document boundaries fall. Yields each document in input order
    as soon as every one of its chunks has its emissions, so only the docs
    of one open group (plus any finished docs queued behind an open one)
    are held."""
    emit_batch = getattr(emitter, "emit_batch", None)
    step = max(1, int(batch_size)) if emit_batch is not None else 1
    waiting: deque[_Doc] = deque()
    buf: list = []  # (doc, chunk, offsets) awaiting a forward group
    for d in chain(docs, [None]):  # None: input exhausted, drain the tail
        if d is not None:
            waiting.append(d)
            buf.extend((d, ch, offs) for ch, offs in d.chunks)
        while len(buf) >= step or (d is None and buf):
            group, buf = buf[:step], buf[step:]
            for (g, ch, offs), em in zip(
                    group, _emit_group(group, emitter, emit_batch)):
                g.emitted.append((ch, offs, em))
        while waiting and len(waiting[0].emitted) == len(waiting[0].chunks):
            yield waiting.popleft()
    # nonempty only on an accounting fault; the aggregate stage catches it
    yield from waiting


def _aggregate(docs: Iterator[_Doc], cfg: ExtractConfig, ctx,
               trusted_offsets: bool) -> Iterator[_Doc]:
    """Stage 3: a document's emissions -> its (keys, mean-logit matrix),
    handed to the Viterbi stage. The non-default modes finish their NER
    spans here instead: ``decode="argmax"`` decodes the matrix directly and
    ``aggregate="none"`` decodes each chunk and shifts it to global offsets
    (reference infer_pii.py:237-275). Chunks and emissions are released on
    the way out, so a document past this stage holds only its matrix."""
    for d in docs:
        try:
            if d.error is None and len(d.emitted) != len(d.chunks):
                # every chunk goes through a forward group before the emit
                # stage lets its doc go, so a short stream is an internal
                # accounting bug — quarantine loudly, never decode a partial
                # emission stream into a plausible-but-wrong record
                d.error = RuntimeError(
                    f"internal: {len(d.chunks) - len(d.emitted)} emissions "
                    f"missing for {d.url!r}")
            if d.error is None:
                d.error = next((em for _, _, em in d.emitted
                                if isinstance(em, Exception)), None)
            if d.error is None and d.emitted:
                if cfg.aggregate == "none":
                    for ch, offs, em in d.emitted:
                        d.ner.extend(
                            Span(s.start + ch.char_start,
                                 s.end + ch.char_start, s.type, s.conf,
                                 s.n_tokens)
                            for s in _decode_and_filter(offs, em, cfg, ctx))
                else:
                    kg = _mean_logit_matrix(d.emitted, d.n_chunks,
                                            trusted_offsets)
                    if kg is not None and cfg.decode == "argmax":
                        d.ner = _decode_and_filter(kg[0], kg[1], cfg, ctx)
                    elif kg is not None:
                        d.keys, d.matrix = kg
        except Exception as e:  # noqa: BLE001 — per-page quarantine
            d.error = e
        d.chunks, d.emitted = [], []
        yield d


def _viterbi_sub(sub: list[_Doc], cfg: ExtractConfig, ctx) -> None:
    """Decode one packed sub-batch in place: ``ner`` on success, ``error``
    on failure. A batch-level failure must not poison healthy neighbors:
    it retries each document through the single-sequence decoder and
    quarantines individually."""
    labels_list, o_id = ctx[0], ctx[3]
    ems = [d.matrix for d in sub]
    try:
        paths = viterbi_bio_batch(ems, labels_list, o_id)
        if len(paths) != len(ems):
            # zip would silently truncate, leaving documents undecoded —
            # same count-contract guard as the emit_batch paths
            raise RuntimeError(
                f"viterbi_bio_batch returned {len(paths)} paths for "
                f"{len(ems)} sequences")
    except Exception:  # noqa: BLE001 — isolate per page below
        paths = []
        for em in ems:
            try:
                paths.append(viterbi_bio(em, labels_list, o_id))
            except Exception as e:  # noqa: BLE001
                paths.append(e)
    for d, path in zip(sub, paths):
        try:
            if isinstance(path, Exception):
                raise path
            d.ner = _decode_and_filter(d.keys, d.matrix, cfg, ctx, pred=path)
        except Exception as e:  # noqa: BLE001 — per-page quarantine
            d.error = e
        d.keys = d.matrix = None


def _viterbi(docs: Iterator[_Doc], cfg: ExtractConfig,
             ctx) -> Iterator[_Doc]:
    """Stage 4: cross-document batched BIO Viterbi. Reads
    ``_DECODE_WINDOW_DOCS`` documents at a time, sorts those holding a
    matrix longest-first (decode order is free; output stays in input
    order) and decodes them through ``viterbi_bio_batch`` in packed
    sub-batches of at most ``_DECODE_BATCH_DOCS`` documents and
    ``_DECODE_CELL_BUDGET`` token rows — bit-identical to per-document
    ``viterbi_bio``, with the DP's per-step NumPy cost amortized across the
    sub-batch (~3x decode speedup)."""
    while window := list(islice(docs, _DECODE_WINDOW_DOCS)):
        todo = sorted((d for d in window if d.matrix is not None),
                      key=lambda d: d.matrix.shape[0], reverse=True)
        sub: list[_Doc] = []
        cells = 0
        for d in todo:
            k = int(d.matrix.shape[0])
            if sub and (len(sub) >= _DECODE_BATCH_DOCS
                        or cells + k > _DECODE_CELL_BUDGET):
                _viterbi_sub(sub, cfg, ctx)
                sub, cells = [], 0
            sub.append(d)
            cells += k
        if sub:
            _viterbi_sub(sub, cfg, ctx)
        yield from window


def _stages(records, cfg: ExtractConfig, emitter: Emitter | None,
            tokenizer: WordTokenizer | None,
            max_doc_bytes: int | None) -> Iterator[_Doc]:
    """The one extraction path: resolve the emitter/tokenizer pair (eagerly,
    so a bad pair raises before any page is read), then chain the four
    stages lazily over ``records`` of (url, html, text)."""
    emitter, tokenizer = cfg.make_emitter_and_tokenizer(emitter, tokenizer)
    ctx = _label_ctx(emitter)
    # offsets below all come from build_chunks_with_offsets over THIS
    # tokenizer: slice-stable scans are strictly-increasing/non-empty by
    # construction, so the aggregation fast path may skip its validation
    trusted = bool(getattr(tokenizer, "slice_stable", False))
    docs = _prep(records, cfg, tokenizer, max_doc_bytes)
    docs = _emit(docs, emitter, cfg.batch_size)
    docs = _aggregate(docs, cfg, ctx, trusted)
    return _viterbi(docs, cfg, ctx)


def extract_page_batch(
    records,
    cfg: ExtractConfig | None = None,
    emitter: Emitter | None = None,
    tokenizer: WordTokenizer | None = None,
) -> list[dict | Exception]:
    """Extract a batch of pages through the four stages (module docstring),
    with chunks from ALL documents sharing ``emitter.emit_batch`` forward
    passes in groups of ``cfg.batch_size``, regardless of document
    boundaries.

    This generalizes the reference's per-document ``--batch_size`` forward
    batching (infer_pii.py:180-201) across documents: web corpora are
    dominated by single-chunk pages, so per-document batching degenerates
    to batch-of-1 forwards and a real GPU emitter starves. Here 8
    single-chunk documents share one forward pass.

    Streaming: the stages are generators, so a document flows through as
    soon as its input is complete — a forward group fires as soon as
    ``batch_size`` chunks are pending; a document's chunks collapse to its
    (keys, mean-logit matrix) the moment its last chunk is through; the
    Viterbi stage decodes one ``_DECODE_WINDOW_DOCS`` window at a time.
    Peak extra memory is O(batch_size × chunk + _DECODE_WINDOW_DOCS
    documents' (keys, matrix, text)) — the WINDOW, not the sub-batch, is
    the buffering bound; the cell budget caps only the packed float64 copy.
    Still far below O(Arrow batch): an up-front phase split would buffer
    every chunk text and per-token offset tuple for all ~1024 batched docs.

    Byte-identity: group boundaries are consecutive ``batch_size`` slices
    of the global chunk stream (independent of where document boundaries
    fall), each document's chunks keep chunk order, emissions per chunk are
    independent of group composition (stub: pure per-chunk function;
    transformer: fixed-width padding — see TransformerEmitter), per-document
    fp32 mean-logit accumulation consumes them in that same order, and
    batched Viterbi is bit-identical to the per-document decoder — so every
    record equals the same page extracted alone (``extract_page``, a batch
    of one) and the per-document oracle in the tests (pytest-pinned parity).

    ``records``: iterable of (url, html, text). Returns a list aligned with
    the input; each element is the page record dict, or the Exception that
    page raised (callers quarantine — the Spark UDF maps it to a
    fail-closed error row). A failing page never poisons its neighbors:
    prep errors, EMITTER errors (isolated per chunk via ``_emit_group``),
    and decode errors all quarantine only their own page. Only a
    ``ChunkingConfigError`` (a config no page can pass) aborts the batch.
    """
    cfg = cfg or ExtractConfig()
    out: list[dict | Exception] = []
    for d in _stages(records, cfg, emitter, tokenizer, cfg.max_doc_bytes):
        if d.error is None:
            try:
                spans, public = _finalize_document(d.text, d.ner, cfg)
                out.append(_page_record(d.url, d.text, spans, public))
                continue
            except Exception as e:  # noqa: BLE001 — per-page quarantine
                d.error = e
        out.append(d.error)
    return out


def extract_page(
    url: str,
    html: bytes | None,
    text: str | None,
    cfg: ExtractConfig | None = None,
    emitter: Emitter | None = None,
    tokenizer: WordTokenizer | None = None,
) -> dict:
    """Full per-page record: ``extract_page_batch`` over this one page,
    re-raising the exception the page quarantined with. See
    ``_payload_to_text`` for the payload sniff and ``_page_record`` for the
    output shape."""
    (rec,) = extract_page_batch([(url, html, text)], cfg, emitter, tokenizer)
    if isinstance(rec, Exception):
        raise rec
    return rec


def extract_document(
    text: str,
    cfg: ExtractConfig | None = None,
    emitter: Emitter | None = None,
    tokenizer: WordTokenizer | None = None,
) -> tuple[list[Span], bool]:
    """(merged spans, should_be_public) for plain text: the same stages on
    the text as given — no payload sniff, no ``max_doc_bytes`` cap."""
    cfg = cfg or ExtractConfig()
    if not isinstance(text, str) or not text:
        return [], True
    (d,) = _stages([(None, None, text)], cfg, emitter, tokenizer, None)
    if d.error is not None:
        raise d.error
    return _finalize_document(text, d.ner, cfg)
