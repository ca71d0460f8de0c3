"""Join / scalar / sink / layer / context / catalog semantics
(SURVEY.md §2.2-2.7)."""

import os

import pytest
from pyspark.sql import functions as F, types as T

from smartpy_arc_spark import (
    CheckoutExtension,
    ScratchDir,
    TempOverwrite,
    compat_cast_for_write,
    copy_feats,
    copy_oids,
    create_layer,
    enrich_join,
    field_map,
    get_table_unique,
    list_fld_types,
    scan,
    write_table,
)
from smartpy_arc_spark.functions.scalar import add_ap_ratio
from smartpy_arc_spark.sources.catalog import CatalogLookupError
from smartpy_arc_spark.sources.inspect import get_oid_fld


# --- J1 ---------------------------------------------------------------


def test_enrich_join_inner_vs_left(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "tid long, payload string"
    )
    enrich = spark.createDataFrame([(1, 10.0), (2, 20.0)], "eid long, extra double")
    inner = enrich_join(target, enrich, "tid", "eid", keep_common=True)
    left = enrich_join(target, enrich, "tid", "eid", keep_common=False)
    assert inner.count() == 2
    assert left.count() == 3
    # unqualified names: the enrichment key is dropped
    assert inner.columns == ["tid", "payload", "extra"]


def test_enrich_join_collision_suffix(spark):
    target = spark.createDataFrame([(1, "t")], "id long, name string")
    enrich = spark.createDataFrame([(1, "e", 9)], "id long, name string, v long")
    out = enrich_join(target, enrich, "id", "id")
    assert sorted(out.columns) == ["id", "name", "name_r", "v"]
    row = out.collect()[0]
    assert row.name == "t" and row.name_r == "e"


def test_enrich_join_is_broadcast(spark):
    big = spark.range(1000).withColumnRenamed("id", "k")
    small = spark.createDataFrame([(i, i * 2) for i in range(10)], "ek long, v long")
    plan = (
        enrich_join(big, small, "k", "ek")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


# --- C1/C2/C6 ---------------------------------------------------------


def test_copy_oids_stable_with_order(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",)], "name string")
    out = copy_oids(df, "oid", order_by=["name"])
    vals = {r.name: r.oid for r in out.collect()}
    assert vals == {"a": 1, "b": 2, "c": 3}
    assert get_oid_fld(out) == "oid"
    assert dict(out.dtypes)["oid"] == "bigint"


def test_copy_oids_order_no_single_partition_exchange(spark):
    # the ordered path must NOT serialize through one partition (the
    # global-window anti-pattern): dense ids come from range partitioning +
    # per-partition offsets instead
    df = spark.range(10_000).withColumnRenamed("id", "k")
    out = copy_oids(df, "oid", order_by=["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    rows = out.orderBy("k").collect()
    assert [r.oid for r in rows] == list(range(1, 10_001))


def test_ap_ratio_circle_is_one(spark):
    import math

    # a circle's perimeter / (2*sqrt(pi*area)) == 1 exactly
    r = 3.0
    df = spark.createDataFrame(
        [(2 * math.pi * r, math.pi * r * r)], "shape_length double, shape_area double"
    )
    val = add_ap_ratio(df).collect()[0].ap_ratio
    assert abs(val - 1.0) < 1e-12


def test_int_downcast_boundary(spark):
    # arc_utils.py:792-798: whole column int32 iff all |v| <= 2147483647
    ok = spark.createDataFrame([(2147483647,), (-2147483647,)], "v long")
    over = spark.createDataFrame([(2147483648,), (1,)], "v long")
    assert dict(compat_cast_for_write(ok).dtypes)["v"] == "int"
    assert dict(compat_cast_for_write(over).dtypes)["v"] == "double"


def test_bool_to_int_cast(spark):
    df = spark.createDataFrame([(True,), (False,)], "b boolean")
    out = compat_cast_for_write(df)
    assert dict(out.dtypes)["b"] == "int"
    assert sorted(r.b for r in out.collect()) == [0, 1]


# --- K1/K3 ------------------------------------------------------------


def test_write_modes_and_readback(spark, tmp_path):
    df = spark.range(5)
    work = str(tmp_path)
    write_table(df, work, "t")
    with pytest.raises(Exception, match="ALREADY_EXISTS"):
        write_table(df, work, "t")
    back = write_table(
        spark.range(2), work, "t", overwrite=True, get_df_back=True
    )
    assert back.count() == 2


def test_write_xy_point_metadata(spark, tmp_path):
    df = spark.createDataFrame([(1.0, 2.0, "a")], "x double, y double, name string")
    path = write_table(df, str(tmp_path), "pts", x_col="x", y_col="y", srs="EPSG:4326")
    back = spark.read.parquet(path)
    md = back.schema["x"].metadata
    assert md["role"] == "geometry" and md["crs"] == "EPSG:4326"


def test_copy_feats_ctas(spark, sf_dir, tmp_path):
    nation = scan(spark, sf_dir, "nation")
    out = copy_feats(
        nation,
        str(tmp_path),
        "nat2",
        flds={"n_nationkey": "key", "n_name": "name"},
        where="n_regionkey = 0",
        fld_lens={"name": 32},
    )
    back = spark.read.parquet(out)
    assert back.columns == ["key", "name"]
    assert back.count() == 5
    assert list_fld_types(back)["name"] == "string (32)"


# --- P1/P2 ------------------------------------------------------------


def test_field_map_list_is_identity(spark):
    cols = field_map(["a", "b"])
    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long").select(cols)
    assert df.columns == ["a", "b"]


def test_create_layer_view(spark, sf_dir):
    cust = scan(spark, sf_dir, "customer")
    create_layer(cust, "test_layer", flds={"c_custkey": "id"}, where="c_acctbal > 0")
    n = spark.sql("SELECT count(*) AS n FROM test_layer").collect()[0].n
    assert 0 < n < cust.count()


# --- M1-M5 ------------------------------------------------------------


def test_scratch_dir_lifecycle():
    with ScratchDir() as s:
        p = s.path
        assert os.path.isdir(p)
        assert p in ScratchDir.list_leftovers()
    assert not os.path.isdir(p)


def test_scratch_clear_leftovers(tmp_path):
    s1 = ScratchDir(base=str(tmp_path))
    s2 = ScratchDir(base=str(tmp_path))
    assert len(ScratchDir.list_leftovers(str(tmp_path))) == 2
    assert ScratchDir.clear_leftovers(str(tmp_path)) == 2
    assert ScratchDir.list_leftovers(str(tmp_path)) == []
    s1.delete(), s2.delete()


def test_temp_overwrite_scope():
    from smartpy_arc_spark.plans.context import overwrite_default

    assert overwrite_default() is False
    with TempOverwrite(True):
        assert overwrite_default() is True
    assert overwrite_default() is False


def test_checkout_extension_noop():
    with CheckoutExtension("Spatial"):
        pass


def test_csv_write_scan_roundtrip(spark, sf_dir, tmp_path):
    nation = scan(spark, sf_dir, "nation")
    write_table(nation, str(tmp_path), "nat_csv", fmt="csv")
    back = scan(spark, str(tmp_path), "nat_csv.csv", fmt="csv",
                where="n_regionkey = 0", flds=["n_nationkey", "n_name"])
    assert back.count() == 5
    assert back.columns == ["n_nationkey", "n_name"]


def test_temp_work_database_scope(spark):
    from smartpy_arc_spark import TempWork

    spark.sql("CREATE DATABASE IF NOT EXISTS tw_test")
    before = spark.catalog.currentDatabase()
    with TempWork(spark, "tw_test"):
        assert spark.catalog.currentDatabase() == "tw_test"
    assert spark.catalog.currentDatabase() == before


# --- S5/S6 ------------------------------------------------------------


def test_catalog_unique_lookup(spark):
    spark.range(1).createOrReplaceTempView("uniq_v")
    assert get_table_unique(spark, "UNIQ_V") == "uniq_v"
    with pytest.raises(CatalogLookupError):
        get_table_unique(spark, "missing_v")


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Hive-partitioned sink layout + partition-pruned scan: the filter on
    the partition column must become a PartitionFilter (directory pruning),
    not a row-level filter — the difference between reading 1/Nth of 100 TB
    and reading all of it."""
    orders = scan(spark, sf_dir, "orders")
    write_table(orders, str(tmp_path), "orders_part",
                partition_by=["o_orderstatus"])
    back = scan(spark, str(tmp_path), "orders_part",
                where="o_orderstatus = 'F'")
    expected = orders.where("o_orderstatus = 'F'").count()
    assert back.count() == expected
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters", 1)[1][:200]


def test_approx_aggregates_accuracy(spark, sf_dir):
    """Sketch-based aggregates land within tolerance of exact values —
    the fixed-memory scale path is trustworthy."""
    li = scan(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median"),
        )
        .collect()
    }
    approx = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("orders"),
            F.percentile_approx("l_extendedprice", 0.5).alias("median"),
        )
        .collect()
    }
    for flag, ex in exact.items():
        ap = approx[flag]
        assert abs(ap.orders - ex.orders) / ex.orders < 0.03
        assert abs(ap.median - ex.median) / ex.median < 0.05


def test_hll_sketch_merge_equals_direct(spark, sf_dir):
    """Union of per-group HLL sketches ≈ directly-built sketch over the
    union — pre-aggregated sketches are re-aggregatable without rescan."""
    li = scan(spark, sf_dir, "lineitem")
    direct = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias("n")
    ).collect()[0].n
    merged = (
        li.groupBy("l_linestatus")
        .agg(F.hll_sketch_agg("l_orderkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
        .collect()[0]
        .n
    )
    exact = li.select("l_orderkey").distinct().count()
    assert abs(merged - exact) / exact < 0.03
    # union of partials tracks the direct sketch closely (not bit-identical:
    # the union path promotes sparse→dense register state)
    assert abs(merged - direct) / direct < 0.02


def test_kll_merged_quantiles_near_exact(spark, sf_dir):
    """The merged-KLL rollup (q_kll_quantile_rollup) must land within KLL's
    rank-error envelope of the exact per-flag percentiles."""
    import __spark_entry__ as entry

    got = {
        r["l_returnflag"]: (r["approx_median_price"], r["approx_p90_price"])
        for r in entry.q_kll_quantile_rollup(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.45)").alias("p45"),
            F.expr("percentile(l_extendedprice, 0.55)").alias("p55"),
            F.expr("percentile(l_extendedprice, 0.87)").alias("p87"),
            F.expr("percentile(l_extendedprice, 0.93)").alias("p93"),
        )
        .collect()
    }
    for flag, (med, p90) in got.items():
        ex = exact[flag]
        # default k=200 KLL: ~1.65% rank error; ±5 rank points is generous
        assert ex["p45"] <= med <= ex["p55"], (flag, med, ex)
        assert ex["p87"] <= p90 <= ex["p93"], (flag, p90, ex)


def test_theta_set_ops_near_exact(spark, sf_dir):
    """Theta union/intersection/difference estimates vs exact distinct set
    algebra on l_partkey across returnflag A and R."""
    import __spark_entry__ as entry

    got = entry.q_theta_segment_overlap(spark, sf_dir).collect()[0]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = {r["l_partkey"] for r in
         li.where("l_returnflag = 'A'").select("l_partkey").distinct().collect()}
    r = {r["l_partkey"] for r in
         li.where("l_returnflag = 'R'").select("l_partkey").distinct().collect()}
    for est, exact in [
        (got["est_union"], len(a | r)),
        (got["est_common"], len(a & r)),
        (got["est_a_only"], len(a - r)),
    ]:
        assert abs(est - exact) <= max(0.05 * exact, 5), (est, exact)
