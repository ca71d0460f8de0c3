"""Scan semantics: S1/S2 + C4/C5 quirks (SURVEY.md §2.1, §2.5)."""

import contextlib
import datetime as dt
import glob
import os
import warnings

import pytest
from pyspark.sql import functions as F, types as T

from smartpy_arc_spark import scan
from smartpy_arc_spark.functions.scalar import clamp_timestamps
from smartpy_arc_spark.sources.scan import _fill_sentinels, parquet_schema, read_parquet


def test_scan_projection_and_rename(spark, sf_dir):
    df = scan(spark, sf_dir, "nation", flds={"n_nationkey": "key", "n_name": "name"})
    assert df.columns == ["key", "name"]
    assert df.count() == 25


def test_scan_case_insensitive_requested_casing_wins(spark, sf_dir):
    # arc_utils.py:1036-1049 — request with different casing, output keeps it
    df = scan(spark, sf_dir, "nation", flds=["N_NationKey", "n_NAME"])
    assert df.columns == ["N_NationKey", "n_NAME"]


def test_scan_missing_column_raises(spark, sf_dir):
    with pytest.raises(KeyError, match="n_nope"):
        scan(spark, sf_dir, "nation", flds=["n_nope"])


def test_scan_where_pushdown_reaches_parquet(spark, sf_dir):
    df = scan(spark, sf_dir, "lineitem", where="l_quantity < 5",
              flds=["l_orderkey", "l_quantity"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan
    # column pruning: scan schema must not include unrequested columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_scan_sort_by_index_fld(spark, sf_dir):
    df = scan(spark, sf_dir, "region", index_fld="r_name")
    names = [r.r_name for r in df.collect()]
    assert names == sorted(names)


def test_sentinel_fill_per_type(spark):
    rows = [(1, None, None, None), (2, "x", 5.0, dt.datetime(2000, 1, 2))]
    df = spark.createDataFrame(
        rows, schema="id long, s string, d double, t timestamp"
    )
    out = {r.id: r for r in _fill_sentinels(df).collect()}
    assert out[1].s == "" and out[1].d == -1.0
    assert out[1].t == dt.datetime(1678, 1, 1)
    assert out[2].s == "x" and out[2].d == 5.0


def test_sentinel_roundtrip_is_lossy(spark):
    # arc_utils.py:739-745 — a legitimate -1 comes back as null
    from smartpy_arc_spark import fill_null_sentinels, restore_null_sentinels

    df = spark.createDataFrame([(1, -1.0), (2, None)], "id long, d double")
    back = restore_null_sentinels(fill_null_sentinels(df))
    vals = {r.id: r.d for r in back.collect()}
    assert vals[1] is None and vals[2] is None


def test_restore_nan_string_becomes_null(spark):
    from smartpy_arc_spark import restore_null_sentinels

    df = spark.createDataFrame([(1, "nan"), (2, "ok")], "id long, s string")
    vals = {r.id: r.s for r in restore_null_sentinels(df).collect()}
    assert vals[1] is None and vals[2] == "ok"


def test_timestamp_clamp_reference_bounds(spark):
    rows = [
        (1, dt.datetime(1500, 1, 1)),
        (2, dt.datetime(2000, 6, 1)),
        (3, dt.datetime(2500, 1, 1)),
    ]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("t", T.TimestampType()),
    ])
    df = spark.createDataFrame(rows, schema)
    vals = {r.id: r.t for r in clamp_timestamps(df, ["t"]).collect()}
    assert vals[1] is None and vals[3] is None
    assert vals[2] == dt.datetime(2000, 6, 1)


def test_nanos_ts_scan(spark):
    df = scan(spark, "/root/testdata/sf0.001", "events", nanos_ts_cols=["ts"])
    field = dict(df.dtypes)["ts"]
    assert field == "timestamp"
    assert df.where("ts >= '2024-01-01'").count() == df.count()


def test_dbf_connector_roundtrip(spark, tmp_path):
    """Custom Python Data Source: dBASE write → format('dbf') read, with
    C/N/F/L/D types, nulls, deleted-row skip, and folder-workspace
    multi-file parallelism (one input partition per file)."""
    import datetime as dt

    from smartpy_arc_spark.sources.dbf import (
        register_dbf_source,
        write_dbf,
    )

    fields = [("ID", "N", 10, 0), ("NAME", "C", 12, 0), ("BAL", "N", 12, 2),
              ("OK", "L", 1, 0), ("D0", "D", 8, 0)]
    write_dbf(str(tmp_path / "a.dbf"),
              [(1, "alice", 10.5, True, dt.date(2020, 1, 2)),
               (2, None, None, None, None)], fields)
    write_dbf(str(tmp_path / "b.dbf"), [(3, "carol", -1.25, False,
                                         dt.date(1999, 12, 31))], fields)

    register_dbf_source(spark)
    df = spark.read.format("dbf").load(str(tmp_path))
    assert df.schema.simpleString() == (
        "struct<ID:bigint,NAME:string,BAL:double,OK:boolean,D0:date>"
    )
    assert df.rdd.getNumPartitions() == 2  # one per file
    rows = {r.ID: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].NAME == "alice" and rows[1].BAL == 10.5 and rows[1].OK is True
    assert rows[2].NAME is None and rows[2].BAL is None and rows[2].OK is None
    assert rows[3].D0 == dt.date(1999, 12, 31)


def test_avro_codec_roundtrip_values(tmp_path):
    """Pure-Python Avro OCF: all supported types + nulls round-trip
    byte-exactly through both codecs, independent of Spark."""
    import datetime as dt

    from smartpy_arc_spark.sources.avro import iter_avro_records, write_avro

    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "i", "type": ["null", "long"]},
            {"name": "d", "type": ["null", "double"]},
            {"name": "s", "type": ["null", "string"]},
            {"name": "b", "type": ["null", "boolean"]},
            {"name": "raw", "type": ["null", "bytes"]},
            {"name": "ts", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
            {"name": "day", "type": ["null", {"type": "int", "logicalType": "date"}]},
        ],
    }
    rows = [
        (1, 2.5, "héllo", True, b"\x00\xff", dt.datetime(2001, 2, 3, 4, 5, 6, 789000), dt.date(1999, 12, 31)),
        (None, None, None, None, None, None, None),
        (-(2**40), -0.0, "", False, b"", dt.datetime(1970, 1, 1), dt.date(1970, 1, 1)),
    ]
    for codec in ("deflate", "null"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_avro(p, rows, schema, codec=codec, sync=b"x" * 16)
        assert list(iter_avro_records(p)) == rows


def test_avro_split_read_tiles_blocks(tmp_path):
    """Sync-marker splitting: byte-range splits that tile the file decode
    every block exactly once, at any split size."""
    from smartpy_arc_spark.sources.avro import iter_avro_records, write_avro

    schema = {"type": "record", "name": "r",
              "fields": [{"name": "i", "type": ["null", "long"]}]}
    rows = [(i,) for i in range(5000)]
    p = str(tmp_path / "big.avro")
    write_avro(p, rows, schema, rows_per_block=100, sync=b"y" * 16)
    import os
    size = os.path.getsize(p)
    for split in (997, 4096, size):
        got = []
        for off in range(0, size, split):
            got.extend(iter_avro_records(p, off or None, min(off + split, size)))
        assert sorted(got) == rows, f"split={split}"


def test_avro_spark_source_roundtrip(spark, tmp_path):
    """Executor-side Avro sink → format('avro_py') read: schema from the
    container header, values and nulls preserved."""
    from pyspark.sql import functions as F

    from smartpy_arc_spark.sources.avro import register_avro_source, write_avro_files

    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("name"),
        (F.col("id") % 2 == 0).alias("flag"),
    )
    out = write_avro_files(df.repartition(3), str(tmp_path / "t.avro"))
    register_avro_source(spark)
    back = spark.read.format("avro_py").load(out)
    assert back.count() == 100
    assert dict(back.dtypes) == {"id": "bigint", "v": "double",
                                 "name": "string", "flag": "boolean"}
    assert back.where(F.col("v").isNull()).count() == 10
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_jdbc_derby_roundtrip_pushdown(spark, tmp_path):
    """S4 get_db_conn (arc_utils.py:339-373): verified against the Derby
    embedded engine bundled with Spark — write through JDBC, read back via
    jdbc_conn, and assert the predicate + projection reach the remote scan."""
    from smartpy_arc_spark.sources.catalog import jdbc_conn

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    df = spark.range(100).selectExpr("id", "id * 2 as v", "concat('n', id) as name")
    (df.write.format("jdbc").option("url", url).option("dbtable", "t1")
       .option("driver", props["driver"]).mode("overwrite").save())

    read = jdbc_conn(spark, url=url, properties=props)
    back = read("t1").where("v > 100").select("id", "v")
    assert back.count() == 49
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [*IsNotNull(v), *GreaterThan(v,100)]" in plan
    # column pruning: name not in the remote read schema
    assert "name" not in plan.split("ReadSchema")[1]

    # the reference URL shape still builds (not executable here: no server)
    mssql = jdbc_conn(spark, "host", "gisdb")
    assert callable(mssql)


def test_scan_text_and_binaryfile(spark, tmp_path):
    p = tmp_path / "corpus"
    p.mkdir()
    (p / "a.txt").write_text("hello\nworld\n")
    (p / "b.txt").write_text("spark\n")

    from smartpy_arc_spark.sources.scan import scan

    lines = scan(spark, str(p), None, fmt="text")
    assert sorted(r.value for r in lines.collect()) == ["hello", "spark", "world"]

    blobs = scan(spark, str(p), None, fmt="binaryFile")
    got = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in blobs.collect()}
    assert got == {"a.txt": b"hello\nworld\n", "b.txt": b"spark\n"}


def test_compact_files(spark, tmp_path):
    from smartpy_arc_spark.sinks.write import compact_files

    path = str(tmp_path / "frag.parquet")
    spark.range(10_000).repartition(40).write.parquet(path)
    import glob as _g
    assert len(_g.glob(path + "/*.parquet")) == 40

    compact_files(spark, path, target_mb=256)
    files = _g.glob(path + "/*.parquet")
    assert len(files) == 1  # tiny dataset -> single target-size file
    assert spark.read.parquet(path).count() == 10_000


def test_open_workspace_registers_lazy_views(spark, sf_dir):
    from smartpy_arc_spark.sources.catalog import open_workspace

    names = open_workspace(spark, sf_dir)
    assert "nation" in names and "lineitem" in names
    out = spark.sql(
        "SELECT r_name, count(*) AS n FROM nation "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    )
    assert out.count() == 5
    # pushdown intact through the view: filter reaches the parquet scan
    plan = spark.sql(
        "SELECT n_name FROM nation WHERE n_nationkey = 3"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_nationkey" in plan


def test_restore_decimal_sentinel_becomes_null(spark):
    # _fill_sentinels fills DecimalType (it is numeric); the restore must
    # undo it like the double and int columns
    from smartpy_arc_spark import fill_null_sentinels, restore_null_sentinels

    df = spark.sql(
        "SELECT 1 AS id, cast(null AS decimal(12,2)) AS m, "
        "cast(null AS double) AS d, cast(null AS int) AS i"
    )
    back = restore_null_sentinels(fill_null_sentinels(df)).collect()[0]
    assert back.m is None and back.d is None and back.i is None


# --- driver-side parquet schema resolution (sources.scan.parquet_schema) ---

@pytest.fixture(scope="module")
def testdata_tables(sf_dir):
    """Every table of the three testdata scale factors."""
    root = os.path.dirname(sf_dir)
    return sorted(
        path
        for sf in ("sf0.001", "sf0.01", "sf0.1")
        for path in glob.glob(os.path.join(root, sf, "*.parquet"))
    )


@contextlib.contextmanager
def _nanos_as_long(spark, value: str):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def _assert_reads_like_inference(spark, *paths):
    """The read schema with the resolved schema equals Spark's own
    inference, metadata included (compared as JSON)."""
    resolved = parquet_schema(spark, *paths)
    assert resolved is not None, paths
    got = spark.read.schema(resolved).parquet(*paths).schema
    assert got.json() == spark.read.parquet(*paths).schema.json(), paths


@pytest.mark.parametrize("nanos", ["false", "true"])
def test_parquet_schema_matches_inference_on_testdata(spark, testdata_tables, nanos):
    assert len(testdata_tables) == 30
    with _nanos_as_long(spark, nanos), warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for path in testdata_tables:
            _assert_reads_like_inference(spark, path)
    assert not [w for w in caught if "parquet_schema" in str(w.message)]


def test_parquet_schema_matches_inference_on_spark_written_dirs(spark, tmp_path):
    from smartpy_arc_spark.meta import tag_geometry

    df = spark.range(60).selectExpr(
        "id",
        "cast(id % 3 AS string) AS part",
        "array(id, id + 1) AS arr",
        "map(cast(id AS string), id * 1.5) AS m",
        "named_struct('a', id, 'b', array(named_struct('c', cast(id AS string)))) AS st",
        "cast(cast(id AS string) AS binary) AS geometry",
    )
    df = tag_geometry(df, "geometry", crs="EPSG:2223")
    multi = str(tmp_path / "multi")
    df.repartition(3).write.parquet(multi)
    names = os.listdir(multi)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    parted = str(tmp_path / "parted")
    df.write.partitionBy("part").parquet(parted)
    for path in (multi, parted):
        _assert_reads_like_inference(spark, path)
    # several files: inference reads the first in sorted order
    files = sorted(glob.glob(os.path.join(multi, "part-*.parquet")))
    _assert_reads_like_inference(spark, *reversed(files))
    # the geometry tag rides in field metadata, which the JSON compares
    assert read_parquet(spark, multi).schema["geometry"].metadata


def test_parquet_schema_follows_nanos_as_long(spark, tmp_path):
    # parquet TIMESTAMP(NANOS): long under the legacy conf, an illegal type
    # without it — where the resolver must leave Spark's own error in place
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    with _nanos_as_long(spark, "true"):
        _assert_reads_like_inference(spark, path)
        assert read_parquet(spark, path).dtypes == [("ts", "bigint")]
    with _nanos_as_long(spark, "false"):
        with pytest.raises(Exception) as inferred:
            spark.read.parquet(path)
        with pytest.warns(UserWarning, match="falling back"), pytest.raises(inferred.type):
            read_parquet(spark, path)


def test_parquet_schema_fallbacks_keep_spark_errors(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(empty), str(tmp_path / "missing")):
        assert parquet_schema(spark, path) is None
        with pytest.raises(Exception) as inferred:
            spark.read.parquet(path)
        with pytest.raises(inferred.type):
            read_parquet(spark, path)


def test_parquet_schema_defers_to_summary_files(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "summ"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), str(d / "part-0.parquet"))
    pq.write_metadata(pa.schema([("x", pa.int64())]), str(d / "_common_metadata"))
    assert parquet_schema(spark, str(d)) is None
    assert read_parquet(spark, str(d)).schema == spark.read.parquet(str(d)).schema


def test_parquet_schema_warns_and_falls_back_on_unreadable_footer(spark, tmp_path):
    d = tmp_path / "corrupt"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.warns(UserWarning, match="falling back to Spark schema inference"):
        assert parquet_schema(spark, str(d)) is None
    with pytest.raises(Exception) as inferred:
        spark.read.parquet(str(d))
    with pytest.warns(UserWarning), pytest.raises(inferred.type):
        read_parquet(spark, str(d))


def test_parquet_reads_go_through_the_resolver():
    """No package module but sources/scan.py reads parquet with Spark's
    inference: a new ``read.parquet(`` call fails here."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "smartpy_arc_spark")
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if os.path.relpath(path, pkg) == os.path.join("sources", "scan.py"):
            continue
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                if "read.parquet(" in line:
                    offenders.append(f"{path}:{lineno}")
    assert not offenders, offenders


def _jobs_run_by(spark, build):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    build()
    # job ids reach the tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(tracker.getJobIdsForGroup()) - before


def test_scan_and_event_stream_run_no_job(spark, sf_dir, testdata_tables):
    from smartpy_arc_spark.streaming.stream import read_events_stream

    def build():
        for path in testdata_tables:
            scan(spark, os.path.dirname(path), os.path.basename(path))
        read_events_stream(spark, sf_dir)

    assert not _jobs_run_by(spark, build)


@pytest.mark.parametrize("query", [
    "enrich_join_inner", "null_sentinel_fill", "text_stats", "dedup_exact",
    "knn_cosine", "geom_split", "wav_decode",
])
def test_building_bench_queries_runs_no_job(spark, sf_dir, query):
    import __spark_entry__ as contract

    q = getattr(contract, f"q_{query}")
    assert not _jobs_run_by(spark, lambda: q(spark, sf_dir))
