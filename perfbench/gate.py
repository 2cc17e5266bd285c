"""Correctness gate: what the benchmark checks about the outputs it timed.

Run as a process of its own (``python3 -m perfbench.gate --pages DIR --part K
--of N --out FILE``), it pickles the expected records of the rows with
index ``K`` mod ``N`` of the corpus in ``DIR`` to ``FILE``.

Every check returns a list of human-readable mismatch strings; an empty list
means the check passed. The run fails on any mismatch, and each one counts
as an error in ``error_rate``."""

from __future__ import annotations

import argparse
import hashlib
import json
import pickle

FIELDS = ("extracted_text", "spans", "should_be_public", "n_spans",
          "doc_bytes", "error")


def reference_records(rows: list[dict]) -> dict[str, dict]:
    """Expected result row per url from single-process
    ``pii_core.pipeline.extract_page_batch`` on the same inputs, shaped the
    way the Spark UDF shapes it (an exception becomes a fail-closed error
    row)."""
    from pii_core.pipeline import ExtractConfig, extract_page_batch

    recs = extract_page_batch(
        [(r["url"], r["html"], r["text"]) for r in rows], ExtractConfig())
    out = {}
    for row, rec in zip(rows, recs):
        url = row["url"]
        if isinstance(rec, Exception):
            rec = {"url": url, "extracted_text": "", "spans": [],
                   "should_be_public": False,
                   "error": f"{type(rec).__name__}: {rec}"[:500]}
        else:
            rec = dict(rec, error=None)
        rec["n_spans"] = len(rec["spans"])
        rec["doc_bytes"] = len(rec["extracted_text"].encode("utf-8"))
        out[url] = rec
    return out


def canonical(rec: dict) -> str:
    return json.dumps({k: rec[k] for k in FIELDS}, sort_keys=True,
                      ensure_ascii=False)


def digest(records: dict[str, dict]) -> str:
    """Order-independent digest of a url -> record mapping."""
    h = hashlib.sha256()
    for url in sorted(records):
        h.update(url.encode("utf-8"))
        h.update(hashlib.sha256(canonical(records[url]).encode("utf-8")).digest())
    return h.hexdigest()[:16]


def compare(actual: list[dict], expected: dict[str, dict],
            label: str) -> list[str]:
    """Per-url equality of landed rows against expected records, over the
    urls of ``expected``: each expected url must land exactly once with
    identical fields, and nothing else may land."""
    bad: list[str] = []
    seen: dict[str, dict] = {}
    for row in actual:
        url = row["url"]
        if url in seen:
            bad.append(f"{label}: {url} landed twice")
        seen[url] = row
        if url not in expected:
            bad.append(f"{label}: unexpected url {url}")
        elif canonical(row) != canonical(expected[url]):
            diff = [k for k in FIELDS if row[k] != expected[url][k]]
            bad.append(f"{label}: {url} differs in {diff}")
    bad.extend(f"{label}: {url} missing" for url in expected
               if url not in seen)
    return bad


def check_count(label: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{label}: got {got}, expected {want}"]


def check_quarantine(label: str, rows: list[dict],
                     planted: set[str]) -> list[str]:
    """The quarantined rows are exactly the planted ones."""
    got = {r["url"] for r in rows if r["error"] is not None}
    bad = [f"{label}: {u} quarantined but not planted" for u in got - planted]
    bad += [f"{label}: planted {u} not quarantined" for u in planted - got]
    return bad


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="expected records of one part")
    ap.add_argument("--pages", required=True)
    ap.add_argument("--part", type=int, required=True)
    ap.add_argument("--of", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    import pyarrow.parquet as pq

    rows = pq.read_table(args.pages).to_pylist()[args.part::args.of]
    with open(args.out, "wb") as f:
        pickle.dump(reference_records(rows), f)


if __name__ == "__main__":
    main()
