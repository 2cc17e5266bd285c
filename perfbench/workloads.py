"""The timed call of every workload, and the reference it is checked against.

Both workloads time the production entry point ``pii_spark.resume.
run_incremental`` into an empty results directory: ``web_crawl`` over HTML
and PDF pages, ``long_text`` over pre-extracted text. The scaling job is the
same call over the strided ``1/cores`` slice, pinned to one partition."""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

from perfbench import gate, procfs, sparkctl
from perfbench.tracing import Tracer

WORKLOADS = ("web_crawl", "long_text")
# Timed repetitions of the full job, at least, whatever --seconds allows;
# the slice job, which only feeds the printed scaling_eff, runs twice.
MIN_REPS = 3
SLICE_REPS = 2
# Untimed full jobs before the timed loop.
WARM_REPS = 4


def read_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def run_increment(spark, pages_dir: str, out_dir: str, run_id: str,
                  num_partitions: int | None, tracer: Tracer,
                  name: str) -> dict:
    """One timed ``run_incremental`` into the empty ``out_dir``. The JVM
    and its Python workers are sampled while it runs, for their peak RSS
    and the CPU time they used."""
    from pii_spark.resume import run_incremental

    results = os.path.join(out_dir, "results")
    lineage = os.path.join(out_dir, "lineage")
    with procfs.ProcTree(sparkctl.jvm_pid()) as tree, \
            tracer.span(name, run_id=run_id) as sp:
        pages = spark.read.parquet(pages_dir)
        counts = run_incremental(spark, pages, results, lineage, run_id,
                                 num_partitions=num_partitions)
    sp["attrs"].update(counts)
    return {"wall": sp["dur"], "cpu_s": tree.cpu_s,
            "jvm_cpu_s": tree.root_cpu_s,
            "rss_mb": tree.peak_rss_mb, "jvm_rss_mb": tree.root_rss_mb,
            "python_rss_mb": tree.python_rss_mb, "docs": counts["docs"],
            "errors": counts["errors"],
            "rows_dir": os.path.join(results, f"run_id={run_id}")}


def timed_loop(spark, data: str, work: str, seconds: float,
               tracer: Tracer) -> tuple[list[dict], list[dict], dict]:
    """After ``WARM_REPS`` untimed runs of the full job, alternate the
    one-partition slice job and the full job (default partitioning) until
    the slice job ran ``SLICE_REPS`` times, then run the full job until
    ``seconds`` have passed and it ran ``MIN_REPS`` times. Returns (full
    reps, slice reps, landed rows of the first rep of each, for the gate)."""
    reps: dict[str, list[dict]] = {"full": [], "slice": []}
    first_rows: dict[str, list[dict]] = {}
    jobs = {"full": ("pages", None), "slice": ("slice", 1)}
    # untimed: the first full jobs of a session pay class loading and JIT
    # compiling for the scan, shuffle, Arrow and parquet-commit paths. On
    # web_crawl the JVM's own CPU time per job fell 15.5, 6.3, 5.7, 5.7,
    # 3.6, 2.8, 2.6 s over the first seven jobs, then held at ~2.4 s
    for w in range(WARM_REPS):
        out = os.path.join(work, "reps", f"warm{w}")
        run_increment(spark, os.path.join(data, "pages"), out, f"warm{w}",
                      None, tracer, "warm-rep")
        shutil.rmtree(out)
    deadline = time.perf_counter() + seconds
    i = 0
    while (time.perf_counter() < deadline or len(reps["full"]) < MIN_REPS
           or len(reps["slice"]) < SLICE_REPS):
        n_slice = len(reps["slice"])
        kind = ("slice" if n_slice < SLICE_REPS
                and n_slice <= len(reps["full"]) else "full")
        src, parts = jobs[kind]
        out = os.path.join(work, "reps", f"{kind}{i}")
        rep = run_increment(spark, os.path.join(data, src), out,
                            f"{kind}{i}", parts, tracer, kind)
        if kind not in first_rows:
            first_rows[kind] = read_rows(rep["rows_dir"])
        reps[kind].append(rep)
        shutil.rmtree(out)
        i += 1
    return reps["full"], reps["slice"], first_rows


def partition_loads(landed: list[dict],
                    size: dict[str, int]) -> tuple[dict[int, int], dict[int, int]]:
    """Docs and input bytes per ``partition_id`` of a job's landed rows;
    ``size`` maps each url to its payload bytes."""
    docs: dict[int, int] = {}
    nbytes: dict[int, int] = {}
    for r in landed:
        pid = r["partition_id"]
        docs[pid] = docs.get(pid, 0) + 1
        nbytes[pid] = nbytes.get(pid, 0) + size[r["url"]]
    return docs, nbytes


def max_over_mean(values) -> float:
    values = list(values)
    return max(values) / statistics.mean(values)


def reference(pages_dir: str, cores: int, work: str) -> dict[str, dict]:
    """``gate.reference_records`` over the corpus in ``pages_dir``, split
    into ``cores`` strided parts run as separate processes (``python3 -m
    perfbench.gate``). Each part is one single-process
    ``extract_page_batch`` call; records do not depend on their batch, so
    the split changes nothing but wall time. Every process is waited for,
    and killed first if the call is left early."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = [os.path.join(work, f"reference-{k}.pkl") for k in range(cores)]
    procs: list[subprocess.Popen] = []
    try:
        for k, out in enumerate(outs):
            procs.append(subprocess.Popen(
                [sys.executable, "-m", "perfbench.gate", "--pages", pages_dir,
                 "--part", str(k), "--of", str(cores), "--out", out],
                cwd=root))
        for proc in procs:
            if proc.wait() != 0:
                raise RuntimeError(f"reference part exited {proc.returncode}")
    finally:
        for proc in procs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    merged: dict[str, dict] = {}
    for out in outs:
        with open(out, "rb") as f:
            merged.update(pickle.load(f))
        os.remove(out)
    return merged
