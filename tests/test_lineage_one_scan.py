"""The one-scan lineage against its three-branch oracle, and the commit
path that derives the circuit breaker's counts from the same job."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pii_spark.resume as resume
from pii_spark.extract import RESULTS_WITH_PID, lineage_from_results
from pii_spark.synth import pages_df


def lineage_three_branch(results: DataFrame, run_id: str) -> DataFrame:
    """Oracle: the former formulation — explode spans for the per-type
    counts, a separate per-partition docs/bytes aggregate, a join."""
    per_type = (
        results.select("partition_id", F.explode_outer("spans").alias("s"))
        .groupBy("partition_id", F.col("s.type").alias("type"))
        .agg(F.count("*").alias("n"))
        .where(F.col("type").isNotNull())
        .groupBy("partition_id")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("type", "n"))).alias("spans_by_type"))
    )
    base = results.groupBy("partition_id").agg(
        F.count("*").alias("docs"), F.sum("doc_bytes").alias("bytes"))
    return (
        base.join(per_type, "partition_id", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "docs",
            "bytes",
            F.coalesce(
                "spans_by_type",
                F.map_from_arrays(F.array(), F.array()).cast("map<string,bigint>"),
            ).alias("spans_by_type"),
        )
    )


def _errors_by_partition(results: DataFrame) -> dict[int, int]:
    return {r["partition_id"]: r["e"] for r in results.groupBy(
        "partition_id").agg(F.count("error").alias("e")).collect()}


def _rows(lineage: DataFrame) -> dict[int, dict]:
    out = {}
    for r in lineage.collect():
        d = r.asDict()
        d["spans_by_type"] = dict(d["spans_by_type"])
        out[d.pop("partition_id")] = d
    return out


def _assert_matches_oracle(results: DataFrame, run_id: str) -> dict:
    got = _rows(lineage_from_results(results, run_id))
    want = _rows(lineage_three_branch(results, run_id))
    assert {p: r["errors"] for p, r in got.items()} == \
        _errors_by_partition(results)
    assert {p: {k: v for k, v in r.items() if k != "errors"}
            for p, r in got.items()} == want
    return got


def _span(typ, start):
    return (typ, start, start + 3, "v", 0.9, 1)


def test_one_scan_equals_oracle_on_hand_built_edge_cases(spark):
    rows = [
        # repeated types within one doc count per span, the doc once
        ("a", "t", [_span("CPF", 0), _span("EMAIL", 4), _span("CPF", 8)],
         False, 3, 11, None, 0),
        ("b", "", [], True, 0, 0, None, 0),               # no spans
        ("c", "", [], False, 0, 0, "ValueError: x", 0),   # quarantined
        ("d", "tt", [_span("EMAIL", 0)], False, 1, 2, None, 1),
        ("e", "", [], False, 0, 0, "KeyError: y", 2),     # only doc, errored
        ("f", "ttt", [], True, 0, 3, None, 3),            # only doc, no spans
    ]
    res = spark.createDataFrame(rows, RESULTS_WITH_PID)
    got = _assert_matches_oracle(res, "r")
    assert got[0] == {"run_id": "r", "docs": 3, "bytes": 11, "errors": 1,
                      "spans_by_type": {"CPF": 2, "EMAIL": 1}}
    assert got[2] == {"run_id": "r", "docs": 1, "bytes": 0, "errors": 1,
                      "spans_by_type": {}}


def test_one_scan_equals_oracle_on_extracted_corpus(spark, tmp_path):
    """Real extraction output with quarantined docs, docs without spans and
    more partitions than docs (empty partitions write no lineage row)."""
    rows = [(f"ok{i}", None, "Solicito acesso ao processo aqui agora.")
            for i in range(3)]
    rows += [(f"bad{i}", None, "x" * 20000) for i in range(2)]
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
    ])
    pages = spark.createDataFrame(rows, schema).unionByName(
        pages_df(spark, 6, seed=21).select("url", "html", "text"))
    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    out = resume.run_incremental(spark, pages, rdir, ldir, "r1",
                                 num_partitions=16, max_error_rate=None)
    committed = spark.read.schema(resume._committed_schema()).parquet(
        rdir).where(F.col("run_id") == "r1")
    assert committed.count() == 11 < 16  # more partitions than docs
    assert committed.where("size(spans) = 0 AND error IS NULL").count() > 0
    got = _assert_matches_oracle(committed, "r1")

    # the returned breaker counts are the committed files' own counts
    assert out == {"run_id": "r1", "docs": committed.count(),
                   "errors": committed.where("error IS NOT NULL").count()}
    assert out["errors"] == 2
    # and the written lineage is the oracle's, with the errors column
    written = _rows(spark.read.schema(resume._lineage_schema())
                    .parquet(ldir))
    assert written == got
    summ = resume.lineage_summary(spark, ldir, rdir).first()
    assert (summ["docs"], summ["errors"]) == (out["docs"], out["errors"])


def test_run_incremental_runs_one_job_after_the_results_write(
        spark, tmp_path, monkeypatch):
    """The breaker's counts come from the lineage write: the increment's
    only actions are the results write and the lineage write."""
    actions: list[str] = []
    frame_cls = type(spark.range(1))  # the classic implementation class
    writer_cls = type(spark.range(1).write)
    real_parquet = writer_cls.parquet

    def parquet(self, path, *a, **k):
        actions.append(f"write {path}")
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(writer_cls, "parquet", parquet)
    for name in ("collect", "first", "count", "take", "head", "toPandas",
                 "toLocalIterator", "foreach", "foreachPartition"):
        real = getattr(frame_cls, name)
        monkeypatch.setattr(
            frame_cls, name,
            lambda self, *a, _n=name, _f=real, **k:
            actions.append(_n) or _f(self, *a, **k))

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    out = resume.run_incremental(spark, pages_df(spark, 12, seed=5), rdir,
                                 ldir, "r1", num_partitions=3)
    assert actions == [f"write {rdir}", f"write {ldir}"]
    assert out["docs"] == 12

    # an increment with nothing left to do writes no lineage at all
    actions.clear()
    out = resume.run_incremental(spark, pages_df(spark, 12, seed=5), rdir,
                                 ldir, "r2", num_partitions=3)
    assert out == {"run_id": "r2", "docs": 0, "errors": 0}
    assert actions == [f"write {rdir}"]
    assert resume.committed_run_ids(rdir) == ["r1", "r2"]


def test_refused_run_leaves_lineage_in_the_crashed_state(spark, tmp_path):
    """Results -> lineage -> breaker -> marker: a refused run's lineage is
    on disk but unmarked, so no rollup shows it and vacuum removes it."""
    import os

    rows = [(f"bad{i}", None, "x" * 20000) for i in range(3)]
    pages = spark.createDataFrame(rows, "url string, html binary, text string")
    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    with pytest.raises(RuntimeError, match="3/3 pages quarantined"):
        resume.run_incremental(spark, pages, rdir, ldir, "r1",
                               num_partitions=2)
    assert resume._lineage_has_run(ldir, "r1")
    assert resume.lineage_summary(spark, ldir, rdir).count() == 0
    assert resume.vacuum_uncommitted(rdir, ldir) == ["r1"]
    assert not resume._lineage_has_run(ldir, "r1")
    assert not os.listdir(resume._commits_dir(rdir))
