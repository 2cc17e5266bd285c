"""The benchmark's own tests: the correctness gate catches a planted output
mismatch, and every workload completes a tiny run, untraced and traced,
printing every metric ``BENCHMARK.json`` declares and leaving no process of
its own behind.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus, gate, procfs  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def web_expected():
    rows, planted = corpus.web_rows(40, seed=3)
    return rows, set(planted), gate.reference_records(rows)


def test_gate_passes_identical_output(web_expected):
    _rows, _planted, expected = web_expected
    landed = [dict(r, partition_id=0) for r in expected.values()]
    assert gate.compare(landed, expected, "t") == []


@pytest.mark.parametrize("mutate", [
    lambda r: r["spans"].pop() if r["spans"] else r["spans"].append(
        {"type": "CPF", "start": 0, "end": 1, "value": "x", "conf": 1.0,
         "n_tokens": 1}),
    lambda r: r.update(extracted_text=r["extracted_text"] + " "),
    lambda r: r.update(should_be_public=not r["should_be_public"]),
])
def test_gate_catches_planted_mismatch(web_expected, mutate):
    _rows, _planted, expected = web_expected
    landed = [copy.deepcopy(r) for r in expected.values()]
    victim = landed[len(landed) // 2]
    mutate(victim)
    bad = gate.compare(landed, expected, "t")
    assert len(bad) == 1 and victim["url"] in bad[0]


def test_gate_catches_missing_extra_and_duplicate_urls(web_expected):
    _rows, _planted, expected = web_expected
    landed = [copy.deepcopy(r) for r in expected.values()]
    gone = landed.pop()
    landed.append(dict(landed[0]))
    landed.append(dict(landed[1], url="https://elsewhere.example/x"))
    bad = gate.compare(landed, expected, "t")
    assert any(gone["url"] in b and "missing" in b for b in bad)
    assert any("twice" in b for b in bad)
    assert any("unexpected" in b for b in bad)


def test_gate_quarantine_must_match_planted():
    rows, planted = corpus.web_rows(400, seed=5)
    assert planted, "the corpus must plant textless PDFs"
    landed = [{"url": r["url"], "error": "UnsupportedPdfError: x"
               if r["url"] in planted else None} for r in rows]
    assert gate.check_quarantine("t", landed, set(planted)) == []
    landed[0]["error"] = "ValueError: y"
    assert len(gate.check_quarantine("t", landed, set(planted))) == 1


def _bench_metrics() -> dict[int, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run(workload, trace):
    before = set(procfs._procs())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "11", "--seconds", "0", "--trace", str(trace),
         "--per-core", "8"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = _bench_metrics()[trace]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    left = [c for c in map(_cmdline, set(procfs._procs()) - before)
            if any(w in c for w in ("spark", "perfbench", "multiprocessing"))]
    assert not left, left
