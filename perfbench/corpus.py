"""Input generator for the extraction benchmark.

Run as its own process from the checkout root (``python3 -m perfbench.corpus
--workload W --seed S --cores N --out DIR``): every input of one benchmark run is built here from
the seed alone, so the same seed always gives byte-identical inputs and the
measured process never generates data inside a timed region.

Writes into ``DIR``:

* ``pages/part-XXXXX.parquet`` -- the workload corpus in the engine's pages
  schema ``(url, warc_ts, html, text, lang)``, one file per core;
* ``slice/part-00000.parquet`` -- the strided ``1/cores`` slice (rows with
  ``index % cores == 0``) in one file, for the one-partition scaling job;
* ``recrawl_base/part-00000.parquet`` -- the rows a re-crawl finds already
  committed: all but every ``RECRAWL_EVERY``-th (traced runs only);
* ``curation/part-00000.parquet`` -- ``(doc_id, text)`` with planted exact
  and near duplicate clusters and gate-failing docs (traced runs only);
* ``manifest.json`` -- sizes and the planted counts the correctness gate
  checks against.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys

# Docs per core. Every ``run_incremental`` call costs the JVM about 2 CPU
# seconds whatever its size (planning, code generation, commit); at these
# sizes the engine's Python work is ~75% of the job's CPU time and the
# ``extract_pages`` UDF ~55% of its wall time, while one run stays under a
# minute on a 4-vCPU VM.
WEB_PER_CORE = 1200
LONG_PER_CORE = 300
# Percent of web_crawl rows that are PDF payloads (``gen_pdf_page``).
PDF_PERCENT = 5
# Long-text docs carrying a multi-kB unbroken character run: the chunker
# cannot fit it in a window, so the page quarantines fail-closed.
LONG_BLOB_EVERY = 75
BLOB_CHARS = 8192
# Long-text docs must span at least this many tokens (3 overlapping windows
# of 512 tokens at stride 64 need more than 3 * 510 - 2 * 64).
LONG_MIN_TOKENS = 1600

# In the re-crawl probe, every RECRAWL_EVERY-th url is new; the rest were
# committed by an earlier run.
RECRAWL_EVERY = 4

CURATION_BASE = 160
CURATION_EXACT = (8, 3)   # clusters, copies per cluster (incl. the original)
CURATION_NEAR = (8, 2)
CURATION_SHORT = 12
CURATION_REPETITIVE = 12

EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def _pdf_row(i: int) -> bool:
    # 7919 is coprime to 100, so exactly 5 rows of every 100 consecutive
    # indices are PDFs, spread over every residue class a strided slice uses.
    return (i * 7919) % 100 < PDF_PERCENT


def _pdf_index(k: int) -> int:
    # ``pii_spark.synth.gen_pdf_page(j)`` builds a page with no text at all
    # when j % 97 == 7, which the strict PDF path must quarantine. Every
    # eleventh PDF is such a page (11 is coprime to the 5 PDFs per 100 rows,
    # so they fall in every residue class of a strided slice); the rest use
    # other residues.
    return 97 * k + (7 if k % 11 == 10 else 8 + k % 89)


def web_rows(n: int, seed: int) -> tuple[list[dict], list[str]]:
    """``n`` rows: 95% ``gen_page`` HTML, 5% ``gen_pdf_page`` payloads, an
    eleventh of them textless. Returns (rows, urls planted to quarantine)."""
    from pii_spark.synth import gen_page, gen_pdf_page

    rows, planted, k = [], [], 0
    for i in range(n):
        if _pdf_row(i):
            j = _pdf_index(k)
            k += 1
            rows.append(gen_pdf_page(j, seed=seed))
            if j % 97 == 7:
                planted.append(rows[-1]["url"])
        else:
            rows.append(gen_page(i, seed=seed))
    return rows, planted


def long_rows(n: int, seed: int) -> tuple[list[dict], list[str]]:
    """``n`` pre-extracted text rows (``html`` null), each at least
    ``LONG_MIN_TOKENS`` tokens of PII-dense prose; every
    ``LONG_BLOB_EVERY``-th carries an unbroken run that must quarantine."""
    from pii_core.pipeline import ExtractConfig
    from pii_spark.synth import _paragraphs

    tok = ExtractConfig().make_tokenizer()
    rows, planted = [], []
    for i in range(n):
        rng = random.Random((seed << 20) ^ (0x7E47 + i))
        paras, n_tok = [], 0
        while n_tok < LONG_MIN_TOKENS:
            p = _paragraphs(rng, 1, 0.9)[0]
            paras.append(p)
            n_tok += len(tok.encode(p))
        blob_row = i % LONG_BLOB_EVERY == LONG_BLOB_EVERY - 1
        if blob_row:
            blob = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdef0123456789")
                           for _ in range(BLOB_CHARS))
            paras.insert(len(paras) // 2, blob)
        rows.append({
            "url": f"https://long-{i % 53:02d}.example.gov.br/txt/{seed}/{i}",
            "warc_ts": EPOCH + dt.timedelta(seconds=i * 61),
            "html": None,
            "text": "\n\n".join(paras),
            "lang": "pt",
        })
        if blob_row:
            planted.append(rows[-1]["url"])
    return rows, planted


def curation_rows(seed: int) -> tuple[list[dict], dict]:
    """(doc_id, text) rows with planted drop causes, and the drop counts
    ``curation.curate`` must report for them.

    Exact copies differ from their original only in case and whitespace
    (same normalized fingerprint). A near copy swaps one word, so its
    3-gram shingle Jaccard to the original is ~0.99: at that similarity the
    MinHash banding misses a pair with probability below 1e-6."""
    from pii_spark.synth import _paragraphs

    rows: list[dict] = []

    def add(text: str) -> None:
        rows.append({"doc_id": len(rows), "text": text})

    base = []
    for i in range(CURATION_BASE):
        rng = random.Random((seed << 20) ^ (0xC0DE + i))
        base.append("\n".join(_paragraphs(rng, rng.randrange(4, 8), 0.3)))
        add(base[-1])
    n_clusters, copies = CURATION_EXACT
    for c in range(n_clusters):
        for k in range(1, copies):
            src = base[c]
            add(("  " * k + src.upper()) if k % 2 else src.replace(" ", "   "))
    drop_exact = n_clusters * (copies - 1)
    n_clusters, copies = CURATION_NEAR
    for c in range(n_clusters):
        words = base[CURATION_EXACT[0] + c].split(" ")
        for k in range(1, copies):
            w = list(words)
            w[len(w) // 2 + k] = f"variante{k}"
            add(" ".join(w))
    drop_near = n_clusters * (copies - 1)
    rng = random.Random(seed ^ 0x5EED)
    for _ in range(CURATION_SHORT):
        add(" ".join(rng.choice(["pedido", "prazo", "recurso"])
                     for _ in range(rng.randrange(3, 20))))
    for i in range(CURATION_REPETITIVE):
        line = f"Menu principal do portal numero {i} acesso rapido ao sistema"
        add("\n".join([line] * 40))
    expected = {
        "docs": len(rows),
        "drop_gates": CURATION_SHORT + CURATION_REPETITIVE,
        "drop_exact": drop_exact,
        "drop_near": drop_near,
    }
    expected["kept"] = (expected["docs"] - expected["drop_gates"]
                        - drop_exact - drop_near)
    return rows, expected


def payload_bytes(row: dict) -> int:
    """Input payload size: html/pdf bytes, else the UTF-8 text."""
    if row["html"]:
        return len(row["html"])
    return len((row["text"] or "").encode("utf-8"))


def _write(rows: list[dict], path: str, schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def build(workload: str, seed: int, cores: int, out: str,
          per_core: int | None = None, traced: bool = False) -> dict:
    import pyarrow as pa

    pages_schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    if workload == "web_crawl":
        rows, planted = web_rows(cores * (per_core or WEB_PER_CORE), seed)
    elif workload == "long_text":
        rows, planted = long_rows(cores * (per_core or LONG_PER_CORE), seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    n = len(rows)
    for f in range(cores):
        lo, hi = f * n // cores, (f + 1) * n // cores
        _write(rows[lo:hi], os.path.join(out, "pages", f"part-{f:05d}.parquet"),
               pages_schema)
    sl = rows[::cores]
    _write(sl, os.path.join(out, "slice", "part-00000.parquet"), pages_schema)
    manifest = {
        "workload": workload, "seed": seed, "cores": cores,
        "docs": n, "bytes": sum(map(payload_bytes, rows)),
        "slice_docs": len(sl), "slice_bytes": sum(map(payload_bytes, sl)),
        "quarantine_urls": planted,
    }
    if traced:
        _write([r for i, r in enumerate(rows) if i % RECRAWL_EVERY],
               os.path.join(out, "recrawl_base", "part-00000.parquet"),
               pages_schema)
        crow, expected = curation_rows(seed)
        _write(crow, os.path.join(out, "curation", "part-00000.parquet"),
               pa.schema([("doc_id", pa.int64()), ("text", pa.string())]))
        manifest["curation"] = expected
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--per-core", type=int, default=None)
    ap.add_argument("--traced", action="store_true",
                    help="also write the re-crawl and curation inputs")
    a = ap.parse_args(argv)
    build(a.workload, a.seed, a.cores, a.out, a.per_core, a.traced)
    return 0


if __name__ == "__main__":
    sys.exit(main())
