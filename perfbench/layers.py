"""The traced run (``--trace 1``): per-layer numbers, timed from outside.

Every layer is reached through its public functions, and each timed call
gets a span. Four probes, all on the workload's own inputs:

* ``extract`` -- cumulative Spark plans, each forced with a noop sink:
  pruned scan, + salted repartition, + a pass-through ``mapInPandas``, the
  full ``extract_pages``, and that plan into a parquet sink. A layer's time
  is its plan's median minus the previous plan's median. The landed files
  are then counted back and turned into lineage, as ``run_incremental``
  does, and the layers' sum is compared with the timed call itself.
* ``resume`` -- a re-crawl: 3/4 of the urls are committed first (untimed,
  restored before every repetition), then ``committed_urls`` + anti-join
  and ``run_incremental`` with a fresh run id.
* ``curation`` -- ``curate`` over a corpus with planted duplicates, and
  its gate projections and exact-dedup stage on their own.
* ``pii_core`` -- a single-process replay of the stages
  ``extract_page_batch`` composes, on a fixed sample of the workload.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections.abc import Callable, Iterator

from perfbench import gate, sparkctl, workloads
from perfbench.corpus import payload_bytes
from perfbench.tracing import Tracer

REPS = 2
# curate runs a driver-side loop of jobs: one repetition costs ~8 s
CURATION_REPS = 1
SAMPLE_DOCS = {"web_crawl": 400, "long_text": 60}
DECODE_GROUP = 64

# (name, unit) of every per-layer metric, in report order.
METRICS = [
    ("extract.scan_s", "s"), ("extract.exchange_s", "s"),
    ("extract.arrow_s", "s"), ("extract.udf_s", "s"),
    ("extract.sink_s", "s"), ("extract.partitions", "count"),
    ("extract.skew", "ratio"), ("extract.skew_bytes", "ratio"),
    ("extract.udf_share", "ratio"),
    ("resume.antijoin_s", "s"), ("resume.todo_docs", "count"),
    ("resume.commit_s", "s"), ("resume.readback_s", "s"),
    ("resume.lineage_s", "s"),
    ("resume.files_written", "count"), ("resume.bytes_per_doc", "B"),
    ("pipeline.docs_per_s", "docs/s"), ("pipeline.glue_s", "s"),
    ("html_extract.s", "s"), ("html_extract.docs", "count"),
    ("pdf_extract.s", "s"), ("pdf_extract.docs", "count"),
    ("chunking.s", "s"), ("chunking.chunks", "count"),
    ("chunking.tokens", "count"), ("chunking.multi_chunk_docs", "count"),
    ("ner_stub.s", "s"), ("decoding.s", "s"), ("decoding.rows", "count"),
    ("spans.s", "s"), ("spans.count", "count"),
    ("detectors.s", "s"), ("detectors.hits", "count"),
    ("curation.gates_s", "s"), ("dedup.exact_s", "s"),
    ("dedup.near_s", "s"), ("curation.kept", "count"),
    ("curation.drop_gates", "count"), ("curation.drop_exact", "count"),
    ("curation.drop_near", "count"),
    ("trace.coverage", "ratio"), ("trace.overhead", "ratio"),
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _passthrough(batches: Iterator) -> Iterator:
    """Arrow in, Arrow out, no compute: the UDF boundary alone."""
    yield from batches


def _medians(tracer: Tracer, layer: str, reps: int,
             plans: list[tuple[str, Callable[[], object]]]) -> dict[str, float]:
    """Median seconds of each plan over ``reps`` round-robin repetitions
    (round-robin so drift in the machine's load hits every plan alike)."""
    walls: dict[str, list[float]] = {name: [] for name, _ in plans}
    for r in range(reps):
        for name, fn in plans:
            with tracer.span(f"{layer}.{name}", rep=r) as sp:
                fn()
            walls[name].append(sp["dur"])
    return {k: statistics.median(v) for k, v in walls.items()}


def extract_probe(spark, data: str, work: str, rows: list[dict],
                  planted: set[str], tracer: Tracer) -> tuple[dict, list[str]]:
    """The Spark layers of the workload's timed call, and how much of that
    call they explain."""
    from pyspark.sql import functions as F

    from pii_spark.extract import DEFAULT_SALT, extract_pages, lineage_from_results

    pages_dir = os.path.join(data, "pages")
    sink = os.path.join(work, "extract-sink")

    calls = os.path.join(work, "calls")

    def production(name: str, tr: Tracer) -> dict:
        return workloads.run_increment(spark, pages_dir,
                                       os.path.join(calls, name), name, None,
                                       tr, f"extract.{name}")

    # untimed first call: compiles the JVM side of the plan, and what it
    # commits gives the partition count and each partition's docs and bytes
    landed = workloads.read_rows(production("first-call", tracer)["rows_dir"])
    docs, nbytes = workloads.partition_loads(
        landed, {r["url"]: payload_bytes(r) for r in rows})
    bad = gate.check_count("first call landed", len(landed), len(rows))
    bad += gate.check_quarantine("first call", landed, planted)
    n = len(docs)

    pages = spark.read.parquet(pages_dir)
    pruned = pages.select("url", "html", "text")
    salted = pruned.repartition(n, F.xxhash64(F.col("url"), F.lit(DEFAULT_SALT)))
    arrow = salted.mapInPandas(_passthrough, schema=pruned.schema)
    udf = extract_pages(pages)
    med = _medians(tracer, "extract", REPS, [
        ("scan", lambda: _noop(pruned)),
        ("exchange", lambda: _noop(salted)),
        ("arrow", lambda: _noop(arrow)),
        ("udf", lambda: _noop(udf)),
        ("sink", lambda: udf.write.mode("overwrite").parquet(sink)),
        # what run_incremental does with the landed files: count them back,
        # then derive lineage
        ("readback", lambda: spark.read.parquet(sink).agg(
            F.count("*"), F.count("error")).first()),
        ("lineage", lambda: _noop(lineage_from_results(
            spark.read.parquet(sink), "probe"))),
    ])
    shutil.rmtree(sink)
    # the timed call itself, traced once between two untraced runs, so the
    # session's warm-up drift does not read as tracing overhead
    quiet = Tracer("", "", enabled=False)
    untraced = [production("untraced0", quiet)["wall"]]
    traced = production("traced", tracer)["wall"]
    untraced.append(production("untraced1", quiet)["wall"])
    untraced = statistics.median(untraced)
    shutil.rmtree(calls)

    steps = {"extract.scan_s": med["scan"],
             "extract.exchange_s": med["exchange"] - med["scan"],
             "extract.arrow_s": med["arrow"] - med["exchange"],
             "extract.udf_s": med["udf"] - med["arrow"],
             "extract.sink_s": med["sink"] - med["udf"],
             "resume.readback_s": med["readback"],
             "resume.lineage_s": med["lineage"]}
    out = {k: max(0.0, v) for k, v in steps.items()}
    out.update({
        "extract.partitions": n,
        "extract.skew": workloads.max_over_mean(docs.values()),
        "extract.skew_bytes": workloads.max_over_mean(nbytes.values()),
        "extract.udf_share": out["extract.udf_s"] / traced,
        "trace.coverage": sum(out.values()) / traced,
        "trace.overhead": traced / untraced - 1.0,
    })
    return out, bad


def resume_probe(spark, data: str, work: str, rows: list[dict],
                 planted: set[str], tracer: Tracer) -> tuple[dict, list[str]]:
    from pii_spark.extract import extract_pages
    from pii_spark.resume import committed_urls, run_incremental

    base = os.path.join(work, "recrawl-base")
    with tracer.span("resume.commit-base"):
        run_incremental(spark, spark.read.parquet(
            os.path.join(data, "recrawl_base")), os.path.join(base, "results"),
            os.path.join(base, "lineage"), "base")
    done = {r["url"] for r in workloads.read_rows(
        os.path.join(data, "recrawl_base"))}
    todo_urls = {r["url"] for r in rows} - done
    pages_dir = os.path.join(data, "pages")
    state = os.path.join(work, "recrawl")
    results = os.path.join(state, "results")
    lineage = os.path.join(state, "lineage")
    scratch = os.path.join(work, "recrawl-todo")
    walls: list[float] = []
    bad: list[str] = []

    def restore() -> None:
        shutil.rmtree(state, ignore_errors=True)
        shutil.copytree(base, state)

    def todo():
        return spark.read.parquet(pages_dir).join(
            committed_urls(spark, results), "url", "left_anti")

    def increment(run_id: str) -> None:
        restore()  # untimed
        t0 = time.perf_counter()
        got = run_incremental(spark, spark.read.parquet(pages_dir), results,
                              lineage, run_id)
        walls.append(time.perf_counter() - t0)
        landed = workloads.read_rows(os.path.join(results, f"run_id={run_id}"))
        bad.extend(gate.check_count("re-crawl landed", got["docs"],
                                    len(todo_urls)))
        got_urls = {r["url"] for r in landed}
        if got_urls != todo_urls:
            bad.append(f"re-crawl re-extracted {len(got_urls - todo_urls)} "
                       f"committed urls and missed {len(todo_urls - got_urls)}")
        bad.extend(gate.check_quarantine("re-crawl", landed,
                                         planted & todo_urls))

    def extract_todo() -> None:
        extract_pages(todo()).write.mode("overwrite").parquet(scratch)

    restore()
    med = _medians(tracer, "resume", REPS, [
        ("antijoin", lambda: _noop(todo())),
        ("extract-todo", extract_todo),
    ])
    for r in range(REPS):
        with tracer.span("resume.increment", rep=r):
            increment(f"inc{r}")
    last = f"inc{REPS - 1}"
    sizes = []
    for d in (results, lineage):
        part = os.path.join(d, f"run_id={last}")
        sizes += [os.path.getsize(os.path.join(part, f))
                  for f in os.listdir(part) if f.endswith(".parquet")]
    shutil.rmtree(state)
    shutil.rmtree(base)
    shutil.rmtree(scratch)
    out = {
        "resume.antijoin_s": med["antijoin"],
        "resume.todo_docs": len(todo_urls),
        "resume.commit_s": statistics.median(walls) - med["extract-todo"],
        "resume.files_written": len(sizes),
        "resume.bytes_per_doc": sum(sizes) / len(todo_urls),
    }
    return out, bad


def replay_stages(sample: list[dict]) -> dict:
    """One pass of the stage replay: seconds and counts per stage."""
    from pii_core.chunking import build_chunks_with_offsets
    from pii_core.decoding import viterbi_bio_batch
    from pii_core.detectors import detect_spans
    from pii_core.html_extract import html_to_text_strict
    from pii_core.pdf_extract import looks_like_pdf, pdf_to_text_strict
    from pii_core.pipeline import ExtractConfig, _mean_logit_matrix
    from pii_core.spans import filter_spans, merge_and_resolve, spans_from_bio

    cfg = ExtractConfig()
    emitter, tok = cfg.make_emitter_and_tokenizer()
    trusted = bool(getattr(tok, "slice_stable", False))
    labels = list(emitter.labels)
    id2label = dict(enumerate(labels))
    o_id = labels.index("O")
    st: dict[str, float] = {"html_extract.s": 0.0, "html_extract.docs": 0,
                            "pdf_extract.s": 0.0, "pdf_extract.docs": 0}

    def clock(name: str, t0: float) -> None:
        st[name] = st.get(name, 0.0) + time.perf_counter() - t0

    texts = []
    for r in sample:
        payload = r["html"]
        if not payload:
            texts.append(r["text"] or "")
            continue
        kind = "pdf_extract" if looks_like_pdf(payload) else "html_extract"
        st[f"{kind}.docs"] += 1
        t0 = time.perf_counter()
        try:
            text = (pdf_to_text_strict(payload) if kind == "pdf_extract"
                    else html_to_text_strict(payload))
        except Exception:  # noqa: BLE001 -- the pipeline quarantines it
            text = None
        clock(f"{kind}.s", t0)
        texts.append(text)

    t0 = time.perf_counter()
    docs = []
    for text in texts:
        try:
            docs.append(build_chunks_with_offsets(
                text, tok, max_length=cfg.max_length, stride=cfg.stride,
                boundary_backoff=cfg.boundary_backoff,
                hard_split=cfg.hard_split) if text else [])
        except Exception:  # noqa: BLE001 -- the pipeline quarantines it
            docs.append(None)
    clock("chunking.s", t0)
    live = [d or [] for d in docs]
    st["chunking.chunks"] = sum(map(len, live))
    st["chunking.tokens"] = sum(len(o) for d in live for _, o in d)
    st["chunking.multi_chunk_docs"] = sum(len(d) > 1 for d in live)

    flat = [(i, ch, offs) for i, d in enumerate(live) for ch, offs in d
            if len(offs)]
    t0 = time.perf_counter()
    ems = []
    for g in range(0, len(flat), cfg.batch_size):
        grp = flat[g:g + cfg.batch_size]
        ems += emitter.emit_batch([ch.text for _, ch, _ in grp],
                                  [offs for _, _, offs in grp])
    clock("ner_stub.s", t0)

    per_doc: dict[int, list] = {}
    for (i, ch, offs), em in zip(flat, ems):
        per_doc.setdefault(i, []).append((ch, offs, em))
    # untimed, so the engine's own aggregation time lands in pipeline.glue_s
    agg = {}
    for i, items in per_doc.items():
        kg = _mean_logit_matrix(items, len(live[i]), trusted)
        if kg is not None:
            agg[i] = kg
    order = sorted(agg, key=lambda i: -agg[i][1].shape[0])
    t0 = time.perf_counter()
    paths = {}
    for g in range(0, len(order), DECODE_GROUP):
        ids = order[g:g + DECODE_GROUP]
        for i, p in zip(ids, viterbi_bio_batch([agg[i][1] for i in ids],
                                               labels, o_id)):
            paths[i] = p
    clock("decoding.s", t0)
    st["decoding.rows"] = sum(a[1].shape[0] for a in agg.values())

    t0 = time.perf_counter()
    found = [detect_spans(t) if t else [] for t in texts]
    clock("detectors.s", t0)
    st["detectors.hits"] = sum(map(len, found))

    t0 = time.perf_counter()
    n_spans = 0
    for i, text in enumerate(texts):
        ner = []
        if i in agg:
            keys, em = agg[i]
            ner = filter_spans(
                spans_from_bio(keys, paths[i], em, id2label, cfg.conf_agg),
                conf_threshold=cfg.conf_threshold,
                conf_threshold_by_type=cfg.conf_threshold_by_type,
                min_span_tokens=cfg.min_span_tokens,
                min_span_tokens_by_type=cfg.min_span_tokens_by_type)
        n_spans += len(merge_and_resolve(
            ner + found[i], resolve_overlaps=cfg.resolve_overlaps))
    clock("spans.s", t0)
    st["spans.count"] = n_spans
    return st


def pii_core_probe(workload: str, rows: list[dict],
                   tracer: Tracer) -> dict:
    from pii_core.pipeline import ExtractConfig, extract_page_batch

    sample = rows[:SAMPLE_DOCS[workload]]
    records = [(r["url"], r["html"], r["text"]) for r in sample]
    cfg = ExtractConfig()
    emitter, tok = cfg.make_emitter_and_tokenizer()
    batch, passes = [], []
    for r in range(REPS + 1):  # the first pass warms caches, untimed
        with tracer.span("pii_core.extract_page_batch", rep=r) as sp:
            extract_page_batch(records, cfg, emitter, tok)
        with tracer.span("pii_core.stages", rep=r):
            st = replay_stages(sample)
        if r:
            batch.append(sp["dur"])
            passes.append(st)
    out = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    batch_s = statistics.median(batch)
    stage_s = sum(v for k, v in out.items() if k.endswith(".s"))
    out["pipeline.docs_per_s"] = len(sample) / batch_s
    out["pipeline.glue_s"] = batch_s - stage_s
    return out


def curation_probe(spark, data: str, expected: dict,
                   tracer: Tracer) -> tuple[dict, list[str]]:
    """``curate`` with its default config (exact + near dedup), split into
    the gate projections, the exact-dedup stage on the gate survivors, and
    the remainder (near dedup and the audit stitch)."""
    from pyspark.sql import functions as F

    from pii_spark.curation import CurationConfig, curate
    from pii_spark.ops.dedup import line_dedup, normalized_fp
    from pii_spark.ops.textstats import (
        with_dup_line_stats,
        with_ngram_repetition_stats,
    )

    docs = spark.read.parquet(os.path.join(data, "curation"))
    survivors = curate(docs, CurationConfig(
        exact_dedup=False, near_dup_jaccard_pm=None)) \
        .where("drop_reason is null").select("doc_id", "text") \
        .localCheckpoint(eager=True)
    counts: list[dict] = []

    def exact() -> None:
        fp = survivors.select("doc_id", normalized_fp("text").alias("fp"))
        keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
        _noop(fp.join(keep, "fp").where(F.col("doc_id") != F.col("keep_id")))

    def full() -> None:
        counts.append({r["drop_reason"]: r["count"] for r in curate(docs)
                       .groupBy("drop_reason").count().collect()})

    med = _medians(tracer, "curation", CURATION_REPS, [
        # curate's default config runs no line_dedup: it is timed alone
        ("line_dedup", lambda: _noop(line_dedup(docs, 3))),
        ("textstats", lambda: _noop(with_ngram_repetition_stats(
            with_dup_line_stats(docs), top_ns=(2,), dup_ns=(5,)))),
        ("exact", exact),
        ("curate", full),
    ])
    bad: list[str] = []
    for c in counts:
        got = {
            "kept": c.pop(None, 0),
            "drop_gates": c.pop("too_short", 0) + c.pop("repetitive", 0),
            "drop_exact": c.pop("exact_dup", 0),
            "drop_near": c.pop("near_dup", 0),
        }
        bad += [f"curate: unexpected drop reason {k} x{v}" for k, v in c.items()]
        for k, v in got.items():
            bad += gate.check_count(f"curate {k}", v, expected[k])
    out = {f"curation.{k}": v for k, v in got.items()}
    out.update({
        "curation.gates_s": med["line_dedup"] + med["textstats"],
        "dedup.exact_s": med["exact"],
        "dedup.near_s": max(0.0, med["curate"] - med["textstats"]
                            - med["exact"]),
    })
    return out, bad


def run(workload: str, cores: int, data: str, work: str, manifest: dict,
        tracer: Tracer) -> tuple[dict, int, list[str]]:
    """Every probe on one session; returns (metrics, timed calls made,
    mismatches)."""
    rows = workloads.read_rows(os.path.join(data, "pages"))
    planted = set(manifest["quarantine_urls"])
    spark, _ = sparkctl.timed_setup(cores, work, tracer)
    try:
        with tracer.span("extract"):
            m, bad = extract_probe(spark, data, work, rows, planted, tracer)
        with tracer.span("resume"):
            got, more = resume_probe(spark, data, work, rows, planted, tracer)
        m.update(got)
        bad += more
        with tracer.span("curation"):
            got, more = curation_probe(spark, data, manifest["curation"],
                                       tracer)
        m.update(got)
        bad += more
    finally:
        sparkctl.stop(spark)
    with tracer.span("pii_core"):
        m.update(pii_core_probe(workload, rows, tracer))
    calls = sum(1 for s in tracer.spans if s["parent"] is not None)
    print(f"layer split covers {m['trace.coverage']:.1%} of the traced full "
          f"job ({'within' if abs(m['trace.coverage'] - 1) <= 0.1 else 'NOT within'}"
          f" 10%); tracing overhead {m['trace.overhead']:+.1%}; the UDF "
          f"takes {m['extract.udf_share']:.1%} of the full job")
    metrics = {name: {"value": float(m[name]), "unit": unit}
               for name, unit in METRICS}
    return metrics, calls, bad
