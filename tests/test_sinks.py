"""``sinks/write.py::write_table`` with ``compat_casts=True``: the range
guard rides in the write job, a value that does not fit falls back to
``compat_cast_for_write``, and a bad format is rejected before any job.
Also the conf scoping of the memory-sink drains' start helper, and the
file count of a drained stream's write."""

import os
from types import SimpleNamespace

import pandas as pd
import pyspark.sql.functions as F
import pytest

from smartpy_arc_spark.functions.scalar import (
    _guarded_compat_cast,
    compat_cast_for_write,
)
from smartpy_arc_spark.sinks import write as W
from smartpy_arc_spark.sources.scan import read_parquet
from smartpy_arc_spark.streaming import stream as st

LONG_MIN = -(2**63)


def _jobs_run_by(spark, build):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    build()
    # job ids reach the tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(tracker.getJobIdsForGroup()) - before


def _frame(spark, big):
    """Three long columns (one holding ``big``), a bool and a string."""
    rows = [(1, big, -5, True, "a"), (2, 7, None, False, "b"), (3, None, 9, None, None)]
    return spark.createDataFrame(rows, "k long, v long, w long, b boolean, s string")


def test_in_range_write_runs_one_job(spark, tmp_path):
    df = _frame(spark, 2147483647)
    jobs = _jobs_run_by(spark, lambda: W.write_table(
        df, str(tmp_path), "t", compat_casts=True))
    assert len(jobs) == 1, sorted(jobs)
    back = read_parquet(spark, str(tmp_path / "t.parquet"))
    assert dict(back.dtypes) == {
        "k": "int", "v": "int", "w": "int", "b": "int", "s": "string"}
    assert sorted(back.collect(), key=repr) == sorted(
        compat_cast_for_write(df).collect(), key=repr)


def test_guard_keeps_the_plain_cast_schema(spark):
    """Nullability included: a non-nullable long stays a required column."""
    df = spark.range(3).select(
        "id", (F.col("id") > 1).alias("b"), F.lit(None).cast("long").alias("n"))
    assert _guarded_compat_cast(df).schema == compat_cast_for_write(df).schema
    assert not _guarded_compat_cast(df).schema["id"].nullable


def test_bad_format_is_rejected_before_any_job(spark, tmp_path):
    df = _frame(spark, 1)

    def build():
        with pytest.raises(ValueError, match="unsupported format 'xlsx'"):
            W.write_table(df, str(tmp_path), "t", compat_casts=True, fmt="xlsx")

    assert not _jobs_run_by(spark, build)


@pytest.mark.parametrize("big", [2**40, -2147483648, LONG_MIN],
                         ids=["2^40", "int32_min", "long_min"])
@pytest.mark.parametrize("overwrite", [False, True], ids=["new", "overwrite"])
def test_out_of_range_falls_back_to_compat_cast(spark, tmp_path, big, overwrite):
    df = _frame(spark, big)
    want = compat_cast_for_write(df)
    assert dict(want.dtypes)["v"] == "double"
    if overwrite:  # an existing target with another schema
        W.write_table(spark.range(3), str(tmp_path), "t")
    W.write_table(df, str(tmp_path), "t", overwrite=overwrite, compat_casts=True)
    back = read_parquet(spark, str(tmp_path / "t.parquet"))
    assert back.schema.json() == want.schema.json()
    assert sorted(back.collect(), key=repr) == sorted(want.collect(), key=repr)


_LOCAL_FRAMES = {
    # small local frames: Spark folds the guard while it optimizes the
    # write, so it trips before the exists check
    "pandas": lambda spark: spark.createDataFrame(pd.DataFrame({"v": [2**40]})),
    "values": lambda spark: spark.sql("SELECT * FROM VALUES (2199023255552L) AS t(v)"),
}


@pytest.mark.parametrize("make", _LOCAL_FRAMES.values(), ids=_LOCAL_FRAMES.keys())
def test_fallback_keeps_an_existing_target_without_overwrite(spark, tmp_path, make):
    df = make(spark)
    W.write_table(spark.range(3), str(tmp_path), "t")
    with pytest.raises(Exception, match="already exists"):
        W.write_table(df, str(tmp_path), "t", compat_casts=True)
    back = read_parquet(spark, str(tmp_path / "t.parquet"))
    assert sorted(r.id for r in back.collect()) == [0, 1, 2]
    # to a new path the fallback writes what compat_cast_for_write gives
    W.write_table(df, str(tmp_path), "new", compat_casts=True)
    back = read_parquet(spark, str(tmp_path / "new.parquet"))
    want = compat_cast_for_write(df)
    assert back.dtypes == want.dtypes == [("v", "double")]
    assert back.collect() == want.collect()


def test_other_errors_propagate_after_one_attempt(spark, tmp_path, monkeypatch):
    fallbacks = []
    monkeypatch.setattr(W, "compat_cast_for_write", fallbacks.append)
    df = spark.range(4).select(
        F.when(F.col("id") > 2, F.raise_error(F.lit("not the guard")))
        .otherwise(F.col("id")).alias("id"))
    box = {}

    def build():
        with pytest.raises(Exception, match="not the guard") as box["e"]:
            W.write_table(df, str(tmp_path), "t", compat_casts=True)

    assert len(_jobs_run_by(spark, build)) == 1
    assert W.COMPAT_CAST_GUARD not in str(box["e"].value)
    # an existing target fails the exists check, before any job
    W.write_table(spark.range(1), str(tmp_path), "u")
    with pytest.raises(Exception, match="already exists"):
        W.write_table(_frame(spark, 2**40), str(tmp_path), "u", compat_casts=True)
    assert fallbacks == []


SHUFFLE = "spark.sql.shuffle.partitions"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


@pytest.mark.parametrize("fail", [False, True], ids=["returns", "raises"])
def test_drain_start_scopes_both_settings(spark, sf_dir, fail):
    events = st.read_events_stream(spark, sf_dir)
    prior = spark.conf.get(SHUFFLE), spark.conf.get(MANAGER, None)
    seen = {}

    def start():
        seen.update({k: spark.conf.get(k) for k in (SHUFFLE, MANAGER)})
        if fail:
            raise RuntimeError("start failed")
        return "query"

    if fail:
        with pytest.raises(RuntimeError, match="start failed"):
            st._start_at_state_width_on_fs_checkpoints(events, "scoped", start)
    else:
        assert st._start_at_state_width_on_fs_checkpoints(
            events, "scoped", start) == "query"
    assert seen == {
        SHUFFLE: str(st.last_drain_widths["scoped"]["width"]),
        MANAGER: st._fs_checkpoint_manager(spark),
    }
    assert (spark.conf.get(SHUFFLE), spark.conf.get(MANAGER, None)) == prior


def test_drain_checkpoint_manager_class_loads(spark):
    name = st._fs_checkpoint_manager(spark)
    assert spark._jvm.java.lang.Class.forName(name).getSimpleName() == (
        "FileSystemBasedCheckpointFileManager")
    # before Spark 4.1 the class sat in the streaming package itself
    assert st._fs_checkpoint_manager(SimpleNamespace(version="4.0.1")) == (
        "org.apache.spark.sql.execution.streaming.FileSystemBasedCheckpointFileManager")


def test_stream_window_counts_writes_one_part_file(spark, sf_dir, tmp_path):
    """The drained stream's result is one partition, so its compat-cast
    write leaves one part file; the rows read back unchanged."""
    import __spark_entry__ as entry

    sf0_01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    df = entry.q_stream_window_counts(spark, sf0_01)
    W.write_table(df, str(tmp_path), "w", overwrite=True, compat_casts=True)
    out = tmp_path / "w.parquet"
    parts = [p.name for p in out.iterdir() if p.name.startswith("part-")]
    assert len(parts) == 1, parts
    back = read_parquet(spark, str(out))
    assert sorted(back.collect(), key=repr) == sorted(
        _guarded_compat_cast(df).collect(), key=repr)
