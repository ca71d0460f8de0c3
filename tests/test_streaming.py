"""The streaming drains in ``streaming/stream.py``: the state width each
bounded drain derives from its source (``_ckpt.stream_state_width``), the
width of the result it returns (``_ckpt.coalesce_to_bytes``), the rows it
yields at any width, the timeout of the continuous-trigger drain, and the
footer schema of the events stream."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from smartpy_arc_spark.operators import _ckpt
from smartpy_arc_spark.operators._ckpt import stream_state_width
from smartpy_arc_spark.streaming import stream as st

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


@pytest.fixture
def advisory(spark):
    """Set the advisory partition size for one test, then restore it."""
    prev = spark.conf.get(ADVISORY)
    yield lambda size: spark.conf.set(ADVISORY, size)
    spark.conf.set(ADVISORY, prev)


@pytest.fixture
def sf0_01(sf_dir):
    """The sf0.01 tables, next to the suite's default scale factor."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


def _events_bytes(sf_dir):
    return os.path.getsize(os.path.join(sf_dir, "events.parquet"))


def test_sf0_01_events_drain_runs_at_width_1(spark, sf0_01):
    """221 KB of events is far below one advisory partition (64 MB): the
    drain starts with one state partition, and the session's shuffle
    width is restored after start()."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    counts = st.windowed_event_counts(st.read_events_stream(spark, sf0_01))
    name = f"w_{uuid.uuid4().hex[:8]}"
    q = st._start_at_state_width_on_fs_checkpoints(
        counts, name,
        counts.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start,
    )
    q.awaitTermination()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    assert st.last_drain_widths[name] == {
        "width": 1, "source_bytes": _events_bytes(sf0_01), "result_width": None}
    ops = q.lastProgress["stateOperators"]
    assert [o["numShufflePartitions"] for o in ops] == [1]
    assert spark.table(name).count() > 0


def test_width_is_source_bytes_over_advisory_size(spark, sf0_01, advisory):
    counts = st.windowed_event_counts(st.read_events_stream(spark, sf0_01))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    advisory("64KB")
    # ceil(221075 / 65536) = 4
    assert stream_state_width(counts) == (
        min(4, cap), _events_bytes(sf0_01))
    advisory("1b")
    assert stream_state_width(counts)[0] == cap


def test_unsized_source_keeps_width_8(spark):
    from smartpy_arc_spark.sources.eventgen import register_eventgen

    register_eventgen(spark)
    gen = spark.readStream.format("eventgen").load()
    assert stream_state_width(gen.groupBy("user_id").count()) == (8, None)


def test_until_idle_raises_on_timeout(spark):
    """A rate-micro-batch source adds rows in every batch, so it never
    goes idle: the drain raises instead of returning the partial table
    the memory sink holds."""
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10)
        .load()
    )
    agg = rate.groupBy((rate.value % 3).alias("k")).count()
    name = f"rate_{uuid.uuid4().hex[:8]}"
    with pytest.raises(TimeoutError, match=name):
        st.run_stream_until_idle(agg, name=name, timeout_sec=2)
    assert st.last_drain_widths[name] == {
        "width": 8, "source_bytes": None, "result_width": None}


def _windowed(events):
    return st.windowed_event_counts(events), "complete"


def _sessions(events):
    return st.streaming_sessionize(events), "complete"


def _join(events):
    return st.streaming_interval_join(events), "append"


def _first_seen(events):
    return st.streaming_first_seen(events), "append"


def _dedup(events):
    return st.streaming_distinct_keys(events), "append"


@pytest.mark.parametrize(
    "build", [_windowed, _sessions, _join, _first_seen, _dedup],
    ids=["windowed", "sessionize", "stream_join", "first_seen", "dedup"],
)
def test_rows_identical_at_width_1_and_max(spark, sf_dir, advisory, build):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = {}
    for size, width in (("64MB", 1), ("1b", cap)):
        advisory(size)
        frame, mode = build(st.read_events_stream(spark, sf_dir))
        name = f"eq_{uuid.uuid4().hex[:8]}"
        out = st.run_stream_to_memory(frame, output_mode=mode, name=name)
        assert st.last_drain_widths[name]["width"] == width
        got[width] = sorted(out.collect(), key=repr)
    assert got[1] and got[1] == got[cap]


def _views(spark):
    return {t.name for t in spark.catalog.listTables()}


def test_to_memory_drain_leaves_no_view(spark, sf_dir):
    """The memory sink's temp view is dropped; the returned frame still
    reads the drained rows, the same as the batch aggregate."""
    from smartpy_arc_spark.sources.scan import normalize_event_time, read_parquet

    views = _views(spark)
    out = st.run_stream_to_memory(
        st.windowed_event_counts(st.read_events_stream(spark, sf_dir)))
    assert _views(spark) == views
    raw = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    batch = st.windowed_event_counts(
        raw.withColumn("ts", normalize_event_time(raw, "ts")))
    got = sorted(out.collect(), key=repr)
    assert got and got == sorted(batch.collect(), key=repr)
    assert sorted(out.collect(), key=repr) == got


def test_until_idle_drain_leaves_no_view(spark):
    from smartpy_arc_spark.sources.seqgen import register_seqgen

    register_seqgen(spark)
    gen = (
        spark.readStream.format("seqgen")
        .option("n_total", 200).option("rows_per_batch", 100)
        .option("n_users", 10).load()
    )
    agg = gen.groupBy("user_id").agg(F.count("*").alias("n"))
    views = _views(spark)
    out = st.run_stream_until_idle(agg)
    assert _views(spark) == views
    rows = out.collect()
    assert len(rows) == 10 and sum(r.n for r in rows) == 200


def test_until_idle_timeout_leaves_no_view(spark):
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10)
        .load()
    )
    name = f"rate_{uuid.uuid4().hex[:8]}"
    with pytest.raises(TimeoutError):
        st.run_stream_until_idle(rate.groupBy().count(), name=name, timeout_sec=1)
    assert name not in _views(spark)


@pytest.fixture
def sink_frames(monkeypatch):
    """The frames the drains hand to ``coalesce_to_bytes``: each drain's
    memory-sink frame as the drain returned it before it was sized."""
    seen = []

    def spy(df):
        seen.append(df)
        return _ckpt.coalesce_to_bytes(df)

    monkeypatch.setattr(st, "coalesce_to_bytes", spy)
    return seen


def test_sf0_01_window_drain_returns_one_partition(spark, sf0_01, sink_frames):
    """3,385 rows of window counts: the sink plans them in
    min(rows, defaultParallelism) partitions; the drain returns one, with
    the same rows in the same order."""
    name = f"r_{uuid.uuid4().hex[:8]}"
    out = st.run_stream_to_memory(
        st.windowed_event_counts(st.read_events_stream(spark, sf0_01)), name=name)
    (sink,) = sink_frames
    assert out.rdd.getNumPartitions() == 1
    assert sink.rdd.getNumPartitions() == min(
        sink.count(), spark.sparkContext.defaultParallelism)
    assert st.last_drain_widths[name]["result_width"] == 1
    rows = out.collect()
    assert rows and rows == sink.collect()


def test_result_width_grows_with_bytes_up_to_the_sink(spark, sf_dir, advisory, sink_frames):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    widths = []
    for size in ("64MB", "8KB", "1KB", "1b"):
        advisory(size)
        name = f"g_{uuid.uuid4().hex[:8]}"
        out = st.run_stream_to_memory(
            st.windowed_event_counts(st.read_events_stream(spark, sf_dir)), name=name)
        sink = sink_frames[-1]
        width = st.last_drain_widths[name]["result_width"]
        # the sink's rows times their width, through the state-width rule
        assert width == _ckpt.bytes_width(spark, _ckpt.leaf_input_bytes(sink))
        assert out.rdd.getNumPartitions() == min(width, sink.rdd.getNumPartitions())
        assert out.collect() == sink.collect()
        widths.append(width)
    assert widths == sorted(widths) and widths[0] == 1 and widths[-1] == cap


def test_until_idle_sizes_the_result_after_stop(spark):
    from smartpy_arc_spark.sources.seqgen import register_seqgen

    register_seqgen(spark)
    gen = (
        spark.readStream.format("seqgen")
        .option("n_total", 200).option("rows_per_batch", 100)
        .option("n_users", 10).load()
    )
    name = f"idle_{uuid.uuid4().hex[:8]}"
    out = st.run_stream_until_idle(
        gen.groupBy("user_id").agg(F.count("*").alias("n")), name=name)
    assert st.last_drain_widths[name]["result_width"] == 1
    assert out.rdd.getNumPartitions() == 1
    assert sum(r.n for r in out.collect()) == 200


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
def test_events_stream_schema_is_the_batch_reads(spark, sf_dir, scale):
    """The footer schema handed to ``readStream`` gives the stream the
    schema it had when a batch read of the file supplied it."""
    from smartpy_arc_spark.sources.scan import normalize_event_time, read_parquet

    d = os.path.join(os.path.dirname(sf_dir), scale)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(read_parquet(spark, f"{d}/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
    )
    want = raw.withColumn("ts", normalize_event_time(raw, "ts"))
    assert st.read_events_stream(spark, d).schema.json() == want.schema.json()
