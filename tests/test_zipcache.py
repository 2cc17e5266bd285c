"""The stat-gated zipimport refresh: an unchanged archive is not re-read on
``importlib.invalidate_caches()``, a rewritten one is, and installing twice
changes nothing."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pii_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ refreshes zip archives lazily; the hook is not installed")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def fresh_hook(monkeypatch):
    """Start from the interpreter's own refresh, restored on teardown."""
    cls = zipimport.zipimporter
    original = getattr(cls.invalidate_caches, "__wrapped__",
                       cls.invalidate_caches)
    monkeypatch.setattr(cls, "invalidate_caches", original)
    return original


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread_and_rewritten_one_is(
        tmp_path, monkeypatch, fresh_hook, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for m in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("zc_mod_a").X == 1

    # without the hook every refresh re-reads the central directory
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2

    assert zipcache.install() is True
    assert zipcache.installed()
    reads.clear()
    importlib.invalidate_caches()  # first refresh after install reads once
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged: stat only

    # rewrite the archive with a new module: the next refresh re-reads it
    # and the new module imports
    _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zc_mod_b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    sys.path_importer_cache.pop(archive, None)


def test_second_install_is_a_no_op(fresh_hook):
    assert zipcache.install() is True
    hook = zipimport.zipimporter.invalidate_caches
    assert zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is hook
    assert hook.__wrapped__ is fresh_hook


def test_reused_worker_keeps_the_hook_after_an_extraction_task(spark):
    """Python workers are reused across tasks and jobs: once an extraction
    task ran on a worker, a later task of another UDF finds the hook."""
    import pandas as pd

    from pii_spark.extract import extract_pages
    from pii_spark.synth import pages_df

    n = spark.sparkContext.defaultParallelism
    assert extract_pages(pages_df(spark, 4 * n, seed=3),
                         num_partitions=n).count() == 4 * n

    def probe(batches):
        from pii_spark import zipcache as zc

        for _ in batches:
            pass
        yield pd.DataFrame({"hooked": [zc.installed()]})

    got = spark.range(0, n, 1, n).mapInPandas(
        probe, "hooked boolean").collect()
    assert any(r["hooked"] for r in got), got
