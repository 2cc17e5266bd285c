"""Start, warm up and fully stop the benchmark's Spark session.

The session comes from the production ``pii_spark.session.get_spark`` at
``local[cores]``. Everything Spark writes (local dirs, JVM temp files,
the SQL warehouse) goes under the run's work directory. ``stop`` shuts the
JVM down and waits for it, so no process of the run outlives it."""

from __future__ import annotations

import os

from perfbench.tracing import Tracer


def start(cores: int, workdir: str):
    from pii_spark.session import get_spark

    tmp = os.path.join(workdir, "jvm-tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = get_spark(
        app="perfbench", cores=cores,
        extra_conf={
            # bounded heap: the benchmark shares its machine
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_engine(batches):
    from pii_core.pipeline import extract_page_batch

    extract_page_batch([("u", b"<p>CPF 529.982.247-25</p>", None)])
    yield from batches


def warm_up(spark, cores: int) -> None:
    """First job: one task per core, so every Python worker is spawned and
    has imported and run the engine before any timed call."""
    spark.range(cores, numPartitions=cores) \
        .mapInPandas(_run_engine, "id long") \
        .write.format("noop").mode("overwrite").save()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end
    (its Python worker daemon ends with it). The JVM is ended even when the
    session cannot stop cleanly, e.g. after a call into it was interrupted."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = gateway.proc
            try:
                gateway.shutdown()
            finally:
                proc.stdin.close()  # the launcher exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 -- never leave the JVM behind
                    proc.kill()
                    proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None


def timed_setup(cores: int, workdir: str, tracer: Tracer):
    """Start a session and run the warm-up job. Returns (the session, the
    seconds both took)."""
    with tracer.span("setup") as sp:
        spark = start(cores, workdir)
        warm_up(spark, cores)
    return spark, sp["dur"]
