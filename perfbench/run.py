"""Extraction benchmark: one command, named workloads, end-to-end metrics and
a correctness gate; ``--trace 1`` gives the per-layer numbers instead.

    python3 perfbench/run.py --workload web_crawl --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it are a readable report. The exit code is 0 only when every
correctness check passed. See perfbench/README.md for the metrics."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cores() -> int:
    # what `env -u OMP_NUM_THREADS nproc` prints: the CPUs this process may
    # run on, whatever OMP_NUM_THREADS says
    return len(os.sched_getaffinity(0))


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _seconds(times) -> str:
    return ", ".join(f"{t:.2f}" for t in times)


def _median(reps: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in reps)


def end_to_end(args, cores: int, data: str, work: str, manifest: dict,
               tracer) -> tuple[dict, int, list[str]]:
    from perfbench import gate, sparkctl, workloads
    from perfbench.corpus import payload_bytes

    spark, setup = sparkctl.timed_setup(cores, work, tracer)
    try:
        full, sliced, landed = workloads.timed_loop(
            spark, data, work, args.seconds, tracer)
    finally:
        sparkctl.stop(spark)

    rows = workloads.read_rows(os.path.join(data, "pages"))
    with tracer.span("reference"):
        expected = workloads.reference(os.path.join(data, "pages"),
                                       cores, work)
    slice_urls = {r["url"] for r in
                  workloads.read_rows(os.path.join(data, "slice"))}
    planted = set(manifest["quarantine_urls"])
    bad = gate.compare(landed["full"], expected, "full job")
    bad += gate.compare(landed["slice"],
                        {u: expected[u] for u in slice_urls}, "slice job")
    bad += gate.check_quarantine("full job", landed["full"], planted)
    bad += gate.check_quarantine("slice job", landed["slice"],
                                 planted & slice_urls)
    for kind, reps, n, q in (("full", full, manifest["docs"], len(planted)),
                             ("slice", sliced, manifest["slice_docs"],
                              len(planted & slice_urls))):
        for i, rep in enumerate(reps):
            bad += gate.check_count(f"{kind}{i} landed", rep["docs"], n)
            bad += gate.check_count(f"{kind}{i} quarantined", rep["errors"], q)
    print(f"output digest {args.workload} seed={args.seed}: "
          f"{gate.digest(expected)}")

    # the plan and the data fix these two, so they catch lost parallelism
    # (fewer partitions, an unbalanced partitioner) that CPU time cannot
    docs, _ = workloads.partition_loads(
        landed["full"], {r["url"]: payload_bytes(r) for r in rows})

    attempted = manifest["docs"] * len(full) + manifest["slice_docs"] * len(sliced)
    quarantined = sum(r["errors"] for r in full + sliced)
    wall = _median(full, "wall")
    wall_slice = _median(sliced, "wall")
    # all timed full jobs' docs over all their CPU time
    cpu = statistics.mean(r["cpu_s"] for r in full)
    mb = manifest["bytes"] / 1e6
    mbps = mb / wall
    mbps_slice = manifest["slice_bytes"] / 1e6 / wall_slice
    # wall-clock figures and the JVM's memory: printed, not gated (see
    # README, "End-to-end")
    print(f"{args.workload} docs_per_s = {manifest['docs'] / wall:.6g} docs/s")
    print(f"{args.workload} mb_per_s = {mbps:.6g} MB/s")
    print(f"{args.workload} scaling_eff = "
          f"{mbps / (cores * mbps_slice):.6g} ratio")
    print(f"{args.workload} peak_rss_mb = {_median(full, 'rss_mb'):.6g} MB "
          f"(JVM {_median(full, 'jvm_rss_mb'):.6g} MB)")
    metrics = {
        "setup_s": _metric(setup, "s"),
        "docs_per_cpu_s": _metric(manifest["docs"] / cpu, "docs/cpu-s"),
        "mb_per_cpu_s": _metric(mb / cpu, "MB/cpu-s"),
        "error_rate": _metric((quarantined + len(bad)) / attempted, "ratio"),
        "worker_rss_mb": _metric(_median(full, "python_rss_mb"), "MB"),
        "partitions": _metric(len(docs), "count"),
        "skew": _metric(workloads.max_over_mean(docs.values()), "ratio"),
    }
    print(f"setup: {setup:.2f} s; "
          f"full job x {manifest['docs']} docs: "
          f"{_seconds(r['wall'] for r in full)} s "
          f"(CPU {_seconds(r['cpu_s'] for r in full)} s, of it JVM "
          f"{_seconds(r['jvm_cpu_s'] for r in full)} s); "
          f"slice job x {manifest['slice_docs']} docs: "
          f"{_seconds(r['wall'] for r in sliced)} s")
    return metrics, attempted, bad


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="how long the timed loop runs")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--per-core", type=int, default=None,
                    help="docs per core (default: the workload's size)")
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401
        from perfbench import procfs, workloads
        from perfbench.tracing import Tracer
        import pii_spark.resume  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # every process the run starts ends before it does, on every way out:
    # SIGTERM unwinds through the finally blocks like an exception
    procfs.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = _cores()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", run_id)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tracer = Tracer(args.workload, run_id, enabled=bool(args.trace))
    cpu0, load0 = procfs.cpu_times(), procfs.load1()
    try:
        with tracer.span("generate"):
            cmd = [sys.executable, "-m", "perfbench.corpus",
                   "--workload", args.workload, "--seed", str(args.seed),
                   "--cores", str(cores), "--out", data]
            if args.per_core:
                cmd += ["--per-core", str(args.per_core)]
            if args.trace:
                cmd.append("--traced")
            subprocess.run(cmd, cwd=ROOT, check=True)
        with open(os.path.join(data, "manifest.json")) as f:
            manifest = json.load(f)
        if args.trace:
            from perfbench import layers

            metrics, attempted, bad = layers.run(
                args.workload, cores, data, work, manifest, tracer)
        else:
            metrics, attempted, bad = end_to_end(
                args, cores, data, work, manifest, tracer)
    finally:
        procfs.end_children()
        shutil.rmtree(work, ignore_errors=True)
    steal, load1 = procfs.steal_pct(cpu0, procfs.cpu_times()), procfs.load1()
    print(f"noise: steal {steal if steal is None else round(steal, 2)}%, "
          f"load1 {load0} -> {load1}, cores {cores}")
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{run_id}.jsonl")
        tracer.write(path)
        print(f"trace: {len(tracer.spans)} spans -> {os.path.relpath(path, ROOT)}")
    for line in bad:
        print(f"MISMATCH {line}")
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.path[0] = ROOT
    sys.exit(main())
