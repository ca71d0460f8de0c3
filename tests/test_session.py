"""The session's engine settings and the zip re-read gate that
``smartpy_arc_spark.session`` installs on package import:
``importlib.invalidate_caches()`` re-reads an archive's directory only
when the archive changed on disk."""

import importlib
import json
import os
import sys
import zipfile
import zipimport

import pytest

from smartpy_arc_spark import session

gated = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ defers the re-read itself; the gate is not installed",
)


def _write_zip(path, modules):
    """Write the archive at ``path`` afresh (a new file, then renamed over
    the old one), holding one module per ``name -> source``."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """An archive on sys.path holding ``gate_probe_a``, and a list that
    records every ``zipimport._read_directory`` call made on it."""
    path = str(tmp_path / "gate_probe.zip")
    _write_zip(path, {"gate_probe_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("gate_probe_a", "gate_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    session._ZIP_STAMPS.pop(path, None)


@gated
def test_gate_is_installed_once():
    gate = zipimport.zipimporter.invalidate_caches
    assert gate.stamp_gated
    session.install_zip_reread_gate()
    assert zipimport.zipimporter.invalidate_caches is gate


@gated
def test_unchanged_archive_is_not_reread(probe_zip):
    path, reads = probe_zip
    assert importlib.import_module("gate_probe_a").VALUE == "a"
    importlib.invalidate_caches()  # the first gated call reads and stamps
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert path in session._ZIP_STAMPS


@gated
def test_rewritten_archive_is_reread_and_imports(probe_zip):
    path, reads = probe_zip
    importlib.import_module("gate_probe_a")
    importlib.invalidate_caches()
    del reads[:]
    _write_zip(path, {"gate_probe_a": "VALUE = 'a'\n", "gate_probe_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("gate_probe_b").VALUE == "b"
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


@gated
def test_gate_covers_a_reused_spark_worker(spark):
    """A pandas UDF reports, per task, whether the gate was already in
    place when the task started (before the task imports the package) and
    which archives it has stamped.  A worker's second task must see both:
    pyspark's own per-task ``invalidate_caches()`` then went through it."""

    def report(batches):
        import pandas as pd

        started_gated = getattr(
            zipimport.zipimporter.invalidate_caches, "stamp_gated", False
        )
        from smartpy_arc_spark import session as worker_session

        info = {
            "pid": os.getpid(),
            "started_gated": started_gated,
            "stamped": sorted(os.path.basename(a) for a in worker_session._ZIP_STAMPS),
        }
        for _ in batches:
            pass
        yield pd.DataFrame({"info": [json.dumps(info)]})

    seen = set()
    # One 1-task job at a time.  Idle workers are handed out oldest first,
    # so a worker comes back after at most one round over the idle pool.
    for _ in range(16):
        df = spark.range(1, numPartitions=1).mapInPandas(report, "info string")
        info = json.loads(df.collect()[0]["info"])
        if info["pid"] in seen:
            break
        seen.add(info["pid"])
    else:
        pytest.fail(f"no Python worker was reused over {len(seen)} tasks")
    assert info["started_gated"]
    assert "pyspark.zip" in info["stamped"]


def test_codegen_cache_keeps_a_working_set_of_150_classes(spark):
    """Spark's stock cache holds 100 generated classes in 4 segments of
    25: after 150 other classes the first frame's are evicted and a rerun
    compiles them again.  ``get_spark`` sizes the cache to 1000."""
    compiled = session.jclass(
        spark, "org.apache.spark.metrics.source.CodegenMetrics"
    ).METRIC_COMPILATION_TIME()
    first = spark.range(3).selectExpr("id * 7919 + 104729 AS v")
    first.collect()
    n0 = compiled.getCount()
    for i in range(75):  # a Range + Project stage and its result projection
        spark.range(3).selectExpr(f"id * {i + 7920} + {i * 1000 + 104730} AS v").collect()
    n1 = compiled.getCount()
    assert n1 - n0 >= 150
    first.collect()
    assert compiled.getCount() == n1
