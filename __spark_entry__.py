"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every query exercises operators of :mod:`smartpy_arc_spark` (see SURVEY.md §2
for the reference mapping).  Aggregated doubles are rounded in BOTH the Spark
query and the oracle SQL so floating-point summation order can't flip the
value hash; integer sums in the oracle are cast back to BIGINT because DuckDB
widens them to HUGEINT.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from smartpy_arc_spark import (  # noqa: E402
    clamp_timestamps,
    compat_cast_for_write,
    copy_oids,
    create_layer,
    enrich_join,
    fill_null_sentinels,
    restore_null_sentinels,
    scan,
)
from smartpy_arc_spark.sources.scan import read_parquet  # noqa: E402

# ---------------------------------------------------------------------------
# helpers


def _prep(spark: SparkSession) -> SparkSession:
    """Defensive runtime config for a driver-owned session: timestamps must
    compare in UTC against the DuckDB oracle, and Arrow keeps pandas-UDF
    paths fast.  Both are runtime-settable; no-ops on our own sessions."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return spark


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _prep(spark)
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): read via the legacy
        # nanos-as-long conf and truncate to Spark's µs timestamps.
        return scan(spark, sf_dir, name, nanos_ts_cols=["ts"])
    return scan(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: scan → filter → project →
    enrichment join (J1) → aggregate, exercising the Phase-0 slice of
    SURVEY.md §7."""
    sf_dir = "/root/testdata/sf0.001"
    _prep(spark)
    lineitem = scan(
        spark,
        sf_dir,
        "lineitem",
        where="l_shipdate >= '1996-01-01'",
        flds={
            "l_orderkey": "okey",
            "l_extendedprice": "price",
            "l_discount": "disc",
            "l_returnflag": "rflag",
        },
    )
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    cust_orders = enrich_join(orders, customer, "o_custkey", "c_custkey")
    joined = lineitem.join(cust_orders, lineitem["okey"] == cust_orders["o_orderkey"])
    return (
        joined.groupBy("c_mktsegment", "rflag")
        .agg(
            F.round(F.sum(F.col("price") * (1 - F.col("disc"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("c_mktsegment", "rflag")
    )


# ---------------------------------------------------------------------------
# reference-surface queries (SURVEY.md §2)


def q_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: where pushdown + column subset + rename + sort (arc_to_pandas)."""
    return scan(
        spark,
        sf_dir,
        "lineitem",
        where="l_shipdate >= '1999-06-01' AND l_quantity < 10",
        flds={
            "l_orderkey": "okey",
            "l_linenumber": "lineno",
            "l_quantity": "qty",
            "l_extendedprice": "price",
        },
        index_fld="okey",
    )


def q_scan_case_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: case-insensitive column resolution, requested casing wins."""
    return scan(
        spark,
        sf_dir,
        "supplier",
        flds=["S_SuppKey", "s_NAME", "s_acctbal"],
    )


def _nullable_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically inject nulls into orders (testdata has none)."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.expr("nullif(o_orderstatus, 'O')").alias("status"),
        F.expr("CASE WHEN o_totalprice > 200000 THEN NULL ELSE o_totalprice END").alias(
            "price"
        ),
        F.expr("CASE WHEN o_orderdate < '1996-01-01' THEN NULL ELSE o_orderdate END").alias(
            "odate"
        ),
    )


def q_null_sentinel_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 forward: null → type-class sentinel ('' / -1 / 1678-01-01)."""
    return fill_null_sentinels(_nullable_orders(spark, sf_dir))


def q_null_sentinel_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 reverse (lossy): sentinel → null after a fill round-trip."""
    return restore_null_sentinels(fill_null_sentinels(_nullable_orders(spark, sf_dir)))


def q_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: COUNT(*)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


def q_enrich_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 KEEP_COMMON: inner enrichment join, unqualified output names."""
    orders = _t(spark, sf_dir, "orders")
    rich_cust = _t(spark, sf_dir, "customer").where("c_acctbal > 5000")
    return enrich_join(
        orders, rich_cust, "o_custkey", "c_custkey", keep_common=True
    ).select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")


def q_enrich_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 KEEP_ALL: left-outer enrichment join."""
    orders = _t(spark, sf_dir, "orders")
    rich_cust = _t(spark, sf_dir, "customer").where("c_acctbal > 5000")
    return enrich_join(
        orders, rich_cust, "o_custkey", "c_custkey", keep_common=False
    ).select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")


def q_copy_oids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: stable row ids via row_number over an explicit order."""
    nation = _t(spark, sf_dir, "nation")
    return copy_oids(nation, "oid", order_by=["n_nationkey"]).select(
        "oid", "n_nationkey", "n_name"
    )


def q_ap_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: Length / (2*sqrt(pi*Area)) compactness expression (pure math on
    part's numeric columns standing in for perimeter/area)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round(
            F.col("p_retailprice") / (F.lit(2.0) * F.sqrt(F.lit(math.pi) * F.col("p_size"))),
            4,
        ).alias("ap_ratio"),
    )


def q_timestamp_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: timestamps outside [lo, hi] → null (narrow bounds to exercise)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    return clamp_timestamps(ev, ["ts"], lo="2024-01-08", hi="2024-01-25")


def q_compat_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: write-side coercions — in-range int64→int32, bool→int32."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_acctbal") > 0).alias("positive_bal")
    )
    return compat_cast_for_write(cust)


def q_copy_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 CTAS shape: filter + field-map projection/rename."""
    part = _t(spark, sf_dir, "part")
    return part.where("p_size > 40").select(
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("price"),
    )


def q_create_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: layer = lazy named view with projection+rename+filter, queried
    through SQL."""
    cust = _t(spark, sf_dir, "customer")
    create_layer(
        cust,
        "cust_layer_v",
        flds={"c_custkey": "id", "c_mktsegment": "segment", "c_acctbal": "bal"},
        where="c_acctbal > 0",
    )
    return spark.sql(
        """
        SELECT segment,
               count(*)           AS n_cust,
               round(sum(bal), 2) AS total_bal
        FROM cust_layer_v
        GROUP BY segment
        """
    )


# ---------------------------------------------------------------------------
# aggregation / window / set-op surface (driver TPC-H-style; SURVEY §2.8)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: wide aggregate with 8 measures."""
    li = _t(spark, sf_dir, "lineitem").where("l_shipdate <= '1998-09-02'")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-way join + agg + deterministic top-10."""
    cust = _t(spark, sf_dir, "customer").where("c_mktsegment = 'BUILDING'")
    orders = _t(spark, sf_dir, "orders").where("o_orderdate < '1998-01-01'")
    li = _t(spark, sf_dir, "lineitem").where("l_shipdate > '1998-01-01'")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join, broadcast dims, revenue per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        "o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'"
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where("r_name = 'ASIA'")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .where(cust["c_nationkey"] == supp["s_nationkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


def q_top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group with deterministic tiebreak."""
    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .where("rk <= 3")
        .select("c_nationkey", "rk", "c_custkey", "c_name", "c_acctbal")
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over returnflag/linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: UNION (distinct) of two key projections."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    a = orders.select(F.col("o_orderkey").alias("okey")).where("o_totalprice > 100000")
    b = li.select(F.col("l_orderkey").alias("okey")).where("l_quantity >= 45")
    return a.union(b).distinct()


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join: customers with orders but no high-value order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    )
    high = orders.where("o_totalprice > 250000")
    return with_orders.join(
        high, with_orders["c_custkey"] == high["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events props column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast(T.LongType()).alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) over events — lag + cumulative
    sum of new-session flags, then per-session aggregate."""
    from smartpy_arc_spark.operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, user_col="user_id", ts_col="ts", gap_minutes=30,
                      tiebreak_col="event_id")
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# text / dedup / similarity extensions (SURVEY §7 phase 3)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy; keeps min doc_id per group."""
    from smartpy_arc_spark.operators.dedup import exact_dedup_groups

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, text_col="text", id_col="doc_id")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality stats: chars, tokens, avg token length."""
    from smartpy_arc_spark.operators.text import text_stats

    docs = _t(spark, sf_dir, "documents")
    return text_stats(docs, text_col="text", id_col="doc_id")


def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting."""
    from smartpy_arc_spark.operators.text import regex_token_count

    docs = _t(spark, sf_dir, "documents")
    return regex_token_count(docs, text_col="text", id_col="doc_id")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (md5 of lowercased de-spaced text)."""
    from smartpy_arc_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs, text_col="text", id_col="doc_id")


def q_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word count with deterministic top-20 (explode → groupBy →
    sorted limit; map-side combinable)."""
    from smartpy_arc_spark.operators.text import wordcount_topk

    docs = _t(spark, sf_dir, "documents")
    return wordcount_topk(docs, k=20)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf·idf terms (idf = ln(N/df))."""
    from smartpy_arc_spark.operators.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, top_n=3)


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup verify tier with length-band blocking."""
    from smartpy_arc_spark.operators.dedup import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents").where("doc_id < 30")
    return edit_distance_pairs(docs, max_distance=200, length_band=40)


def q_content_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sample (md5 first hex digit ∈ {0,1,2} ≈
    3/16) — reproducible by any engine, no seed state."""
    from smartpy_arc_spark.operators.sample import content_hash_sample

    docs = _t(spark, sf_dir, "documents")
    return content_hash_sample(docs, "text", sixteenths=3).select(
        "doc_id", "lang", "n_chars"
    )


def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile/percent_rank/cume_dist per
    order-priority partition with a deterministic tiebreak."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_dow_hour_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar histogram: ISO day-of-week × hour event counts + value avg."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            (F.weekday("ts") + F.lit(1)).alias("iso_dow"),
            F.hour("ts").alias("hh"),
            "value",
        )
        .groupBy("iso_dow", "hh")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates over (user_id, event_type) drained through
    a memory sink — emits the deterministic distinct key set."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        streaming_distinct_keys,
    )

    _prep(spark)
    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(
        streaming_distinct_keys(stream), output_mode="append"
    )


def q_range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: events bucketed by value interval [lo, hi)
    against a broadcast bucket dim; per-bucket counts/sums."""
    from smartpy_arc_spark.operators.join import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    buckets = spark.createDataFrame(
        [("tiny", 0.0, 10.0), ("small", 10.0, 25.0), ("mid", 25.0, 60.0),
         ("large", 60.0, 1e9)],
        "bucket string, lo double, hi double",
    )
    j = range_join(ev, buckets, value_col="value")
    return j.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (clicks × preceding-hour
    purchases per user) drained through a memory sink."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        streaming_interval_join,
    )

    _prep(spark)
    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(
        streaming_interval_join(stream), output_mode="append"
    )


def q_dbf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector: nation staged as a dBASE .dbf file (the
    reference's folder workspace, arc_pandas.py:17-21), read back through
    the Python Data Source (spark.read.format('dbf'))."""
    import tempfile

    from smartpy_arc_spark.sources.dbf import write_dbf

    rows = [
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in _t(spark, sf_dir, "nation").collect()  # bounded dim table
    ]
    d = os.path.join(tempfile.gettempdir(), "sas_dbf_ws")
    os.makedirs(d, exist_ok=True)
    write_dbf(
        os.path.join(d, "nation.dbf"),
        rows,
        [("n_nationkey", "N", 10, 0), ("n_name", "C", 25, 0),
         ("n_regionkey", "N", 10, 0)],
    )
    back = scan(spark, d, "nation", fmt="dbf")
    return back.select(
        F.col("n_nationkey").cast(T.IntegerType()),
        "n_name",
        F.col("n_regionkey").cast(T.IntegerType()),
    )


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for 5 query vectors (ANN baseline)."""
    from smartpy_arc_spark.operators.similarity import knn_cosine_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where("vec_id < 5")
    return knn_cosine_bruteforce(
        queries_df, emb, vec_col="embedding", id_col="vec_id", k=5
    )


def q_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame window: 7-row trailing moving average per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-6, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("ma7_price"),
    )


def q_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outlier detection over event values."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("_mu"),
        F.stddev_samp("value").alias("_sd"),
    )
    return (
        ev.join(F.broadcast(stats), "user_id")
        .select(
            "event_id",
            "user_id",
            F.round((F.col("value") - F.col("_mu")) / F.col("_sd"), 4).alias("zscore"),
        )
        .where("abs(zscore) > 3")
    )


def q_regression_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression aggregates: slope/intercept/corr of order total vs time."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
    # NTZ → TIMESTAMP cast (session is UTC) so unix_micros accepts it
    x = F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(86400e6)
    return j.groupBy("c_mktsegment").agg(
        F.round(F.regr_slope(F.col("o_totalprice"), x), 6).alias("slope"),
        F.round(F.regr_intercept(F.col("o_totalprice"), x), 4).alias("intercept"),
        F.round(F.corr(F.col("o_totalprice"), x), 6).alias("r"),
        F.count(F.lit(1)).alias("n"),
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: candidate pairs → exact-Jaccard verify →
    connected components → drop non-keepers.  The doc ids that survive."""
    from smartpy_arc_spark.operators.components import dedup_clusters
    from smartpy_arc_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").where("doc_id < 40")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.55)
    clusters = dedup_clusters(pairs)
    dropped = clusters.where(~F.col("is_keeper")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id", "lang")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph (iterative
    min-label propagation) → duplicate clusters with keeper flags.  Oracle
    is a recursive CTE computing the same reachability closure."""
    from smartpy_arc_spark.operators.components import dedup_clusters
    from smartpy_arc_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").where("doc_id < 40")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.55)
    return dedup_clusters(pairs)


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (anti-join + union): deterministic updates
    replace matched rows, others pass through."""
    from smartpy_arc_spark.operators.merge import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = (
        cust.where("c_custkey % 10 = 0")
        .select(
            "c_custkey",
            F.lit("UPDATED").alias("c_name"),
            F.round(F.col("c_acctbal") * 2, 2).alias("c_acctbal"),
        )
    )
    merged = merge_upsert(cust, updates, "c_custkey")
    return merged.select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("bal"))


def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2h length, 1h slide): each event lands
    in two overlapping windows."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack) wide measures into long form."""
    li = _t(spark, sf_dir, "lineitem").where("l_linenumber = 1")
    return li.selectExpr(
        "l_orderkey",
        "stack(2, 'qty', l_quantity, 'price', l_extendedprice) AS (measure, val)",
    )


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates: exact countDistinct per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey", "l_partkey").alias("n_supp_part"),
    )


def q_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: customers above their nation's average
    balance (TPC-H Q2/Q17-style correlation, de-correlated by Catalyst)."""
    cust = _t(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("cust_corr_v")
    return spark.sql(
        """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
        FROM cust_corr_v c
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM cust_corr_v c2
            WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top-20 customers by returned-item revenue."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where("l_returnflag = 'R'")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: orders whose total quantity exceeds a threshold
    (aggregate + HAVING)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.max("o_totalprice"), 2).alias("total_price"),
        )
        .where("sum_qty > 250")
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS semi-join with a cross-table predicate
    (lineitem shipped after its order date), counts per priority."""
    orders = _t(spark, sf_dir, "orders").where(
        "o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (orders["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > orders["o_orderdate"]
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-table selective filter + global aggregate — the
    predicate-pushdown showcase (all three filters reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        "l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation-pair volume by ship year.  The selective nation dim
    is broadcast onto supplier/customer BEFORE the fact join so the pair
    filter prunes both sides early (scale path: no post-join filter)."""
    pair = ("NATION_1", "NATION_2")
    nation = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin(*pair)
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem")
    # join order (r11, guide §3.2): the two nation-filtered dims keep
    # ~2/25 of suppliers/customers, so (a) the supp join FIRST prunes
    # lineitem ~12× before any wide exchange, and (b) orders⋈cust
    # shrinks the orders side the same way before the orderkey join —
    # the former shape shuffled the full lineitem⋈orders rows.  Inner
    # joins + filter commute: identical rows out.
    oc = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    return (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(oc, li["l_orderkey"] == orders["o_orderkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: market share of one supplier nation inside one customer
    region, per order year — conditional aggregation over a 6-way join."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where("r_name = 'EUROPE'")
    cust_n = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_n = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = _t(spark, sf_dir, "orders").where(
        "o_orderdate BETWEEN '1995-01-01' AND '1996-12-31'"
    )
    li = _t(spark, sf_dir, "lineitem")
    # r11 (guide §3.2): apply the EUROPE-customer semi-join to orders
    # BEFORE the orderkey join — the former shape exchanged the full
    # lineitem⋈orders output and only then semi-filtered it; the
    # left_semi on o_custkey commutes with the inner join on o_orderkey
    # (it filters order keys, never changes multiplicity), so the wide
    # exchange now carries ~1/5 of the orders side.  Identical rows out.
    orders = orders.join(
        cust_n, orders["o_custkey"] == cust_n["c_custkey"], "left_semi"
    )
    vol = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supp_n, li["l_suppkey"] == supp_n["s_suppkey"])
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)),
                2,
            ).alias("_num"),
            F.round(F.sum("volume"), 2).alias("_den"),
        )
        .select("o_year", F.round(F.col("_num") / F.col("_den"), 6).alias("mkt_share"))
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style profit per supplier nation and order year (supply cost
    approximated as 10% of retail price — no partsupp table in testdata)."""
    part = _t(spark, sf_dir, "part").where("p_name LIKE '%red%'").select(
        "p_partkey", "p_retailprice"
    )
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .select("nation", F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: conditional counts of high/low-priority orders per
    returnflag for late-shipped lineitems."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share in a ship month (broadcast part dim)."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)), 2
            ).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            F.round(
                F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 6
            ).alias("promo_pct"),
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by quarterly revenue — aggregate reused
    twice (per-supplier revenue + its max) without recomputation."""
    li = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'"
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("_max_rev"))
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style: distinct suppliers per (brand, type, size) bucket
    with NOT-IN-style exclusions (via lineitem; no partsupp in testdata)."""
    part = _t(spark, sf_dir, "part").where(
        "p_brand <> 'Brand#1' AND p_type <> 'PROMO' "
        "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs predicate spanning both join sides — Catalyst
    extracts the common p_partkey equi-key and pushes brand/size/qty
    conjuncts below the join."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return j.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: above-average-balance customers with no recent
    orders — uncorrelated scalar subquery + anti join."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.where("c_acctbal > 0").agg(F.avg("c_acctbal").alias("_ab"))
    recent = _t(spark, sf_dir, "orders").where(
        "o_orderdate >= '2000-01-01'"
    ).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("_ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations of the two dims)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_intersect_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set ops: high-value customers split by whether
    they also placed an urgent order (tagged union of both results)."""
    orders = _t(spark, sf_dir, "orders")
    high = orders.where("o_totalprice > 150000").select(
        F.col("o_custkey").alias("ck")
    )
    urgent = orders.where("o_orderpriority = '1-URGENT'").select(
        F.col("o_custkey").alias("ck")
    )
    both = high.intersect(urgent).withColumn("tag", F.lit("both"))
    # subtract = EXCEPT DISTINCT (exceptAll would only remove one
    # occurrence per match, leaving duplicate keys in the result)
    only_high = high.subtract(urgent).withColumn("tag", F.lit("high_only"))
    return both.unionByName(only_high)


def q_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value/nth_value over full-partition frames: each
    customer's first, latest, and second order."""
    orders = _t(spark, sf_dir, "orders")
    full = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        orders.select(
            "o_custkey",
            F.first_value("o_orderkey").over(full).alias("first_order"),
            F.last_value("o_orderkey").over(full).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(full).alias("second_order"),
        )
        .distinct()
    )


def q_lateral_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 customers per nation via a
    per-row dependent subquery (Catalyst decorrelates it into a ranked
    join — same plan family as the window formulation)."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat_v")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat_v")
    return spark.sql(
        """
        SELECT n_name, c_custkey, round(c_acctbal, 2) AS bal
        FROM nation_lat_v,
        LATERAL (
            SELECT c_custkey, c_acctbal FROM customer_lat_v
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        )
        """
    )


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — two disjoint single-dim sets (not a rollup
    or cube prefix), one aggregation pass over the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS total_price,
               count(*) AS n
        FROM li_gs_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — HLL++ distinct counts and quantile-sketch
    percentiles.  Rows-only check (sketch internals differ across engines);
    tests/test_ops.py asserts ≤5%% error vs the exact values.  These are the
    100 TB scale path: fixed-size mergeable state instead of exact shuffles.
    FENCED (VERDICT r10 item 4): the sketches run at rsd 0.01 (the
    default 0.05 rsd admits ~9% misses — observed at sf0.01) and the
    distinct estimates are compared against exact COUNT(DISTINCT) per
    flag (±5% = 5σ) while each returned quantile's exact rank is
    checked against its target (frac_lt/frac_le bounds, ±2% — tie-mass
    aware for the integer quantity column), raising on violation so the
    rows-only stamp asserts sketch semantics, not just row shape."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.percentile_approx("l_quantity", 0.9).alias("approx_p90_qty"),
    ).localCheckpoint(eager=True)
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("xo"),
        F.count_distinct("l_partkey").alias("xp"),
    )
    bad = out.join(exact, "l_returnflag").where(
        (F.abs(F.col("approx_orders") / F.col("xo") - 1) > 0.05)
        | (F.abs(F.col("approx_parts") / F.col("xp") - 1) > 0.05)
    ).collect()
    if bad:
        raise AssertionError(
            "approx_count_distinct outside the 5% fence: "
            + ", ".join(
                f"{r['l_returnflag']}: orders {r['approx_orders']}/{r['xo']} "
                f"parts {r['approx_parts']}/{r['xp']}" for r in bad
            )
        )
    price, qty = F.col("l_extendedprice"), F.col("l_quantity")
    med, p90 = F.col("approx_median_price"), F.col("approx_p90_qty")
    bad = (
        out.join(li, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.avg((price <= med).cast("double")).alias("r50le"),
            F.avg((price < med).cast("double")).alias("r50lt"),
            F.avg((qty <= p90).cast("double")).alias("r90le"),
            F.avg((qty < p90).cast("double")).alias("r90lt"),
        )
        .where(
            (F.col("r50le") < 0.5 - 0.02) | (F.col("r50lt") > 0.5 + 0.02)
            | (F.col("r90le") < 0.9 - 0.02) | (F.col("r90lt") > 0.9 + 0.02)
        )
        .collect()
    )
    if bad:
        raise AssertionError(
            "approx quantile outside the 2% rank fence: "
            + ", ".join(
                f"{r['l_returnflag']}: r50∈[{r['r50lt']:.4f},{r['r50le']:.4f}] "
                f"r90∈[{r['r90lt']:.4f},{r['r90le']:.4f}]" for r in bad
            )
        )
    return out


def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches HLL: per-(flag,status) sketches built in one
    pass, then UNIONED to per-flag estimates — the re-aggregatable-rollup
    pattern (store sketches per partition/day, merge at query time without
    rescanning).  Rows-only; recombination accuracy asserted in tests.
    FENCED (VERDICT r10 item 4): the union estimates are checked against
    exact per-flag COUNT(DISTINCT) within ±5% (Datasketches HLL lg_k=12
    rse ≈1.6%; 5% is the 3σ envelope), raising on violation."""
    li = _t(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    out = sketches.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_orders")
    ).localCheckpoint(eager=True)
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("xo")
    )
    bad = out.join(exact, "l_returnflag").where(
        F.abs(F.col("approx_orders") / F.col("xo") - 1) > 0.05
    ).collect()
    if bad:
        raise AssertionError(
            "HLL union estimate outside the 5% fence: "
            + ", ".join(
                f"{r['l_returnflag']}: {r['approx_orders']} vs exact {r['xo']}"
                for r in bad
            )
        )
    return out


def q_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches KLL quantiles: per-(flag,status) sketches in
    one pass, MERGED per flag, quantiles read from the merged sketch — the
    same store-partial/merge-at-query-time pattern as the HLL rollup, for
    percentiles.  At 100 TB this replaces a full re-sort per quantile query
    with fixed-size sketch state.  Rows-only (no DuckDB KLL), but FENCED
    (VERDICT r8 item 4, the ``minhash_prod_path`` pattern): before
    returning, the query computes each returned quantile value's EXACT
    rank within its flag group (one aggregate over lineitem) and raises
    unless it is within the KLL rank-error bound of the target rank
    (k=200 sketch: normalized rank error ~1.65% at 99% confidence; the
    fence allows 2.5%) — so the driver's rows-only stamp asserts sketch
    semantics, not just row shape.  Rank-error is also unit-asserted in
    tests/test_ops.py."""
    li = _t(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    # kll_sketch_merge_double is a binary scalar merge (no aggregate form):
    # collect the per-group sketches (bounded — one per linestatus) and fold
    # them with the aggregate() HOF, seeding with the first sketch.
    merged = (
        sketches.groupBy("l_returnflag")
        .agg(F.collect_list("sk").alias("sks"))
        .select(
            "l_returnflag",
            F.aggregate(
                F.slice(F.col("sks"), 2, F.greatest(F.size("sks") - 1, F.lit(0))),
                F.element_at("sks", 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ).alias("sk"),
        )
    )
    out = merged.select(
        "l_returnflag",
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)), 2).alias(
            "approx_median_price"
        ),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.9)), 2).alias(
            "approx_p90_price"
        ),
    ).localCheckpoint(eager=True)
    # rank-error fence: exact rank of each sketch quantile via ONE
    # aggregate over lineitem (avg of an indicator = fraction ≤ value)
    bad = (
        out.join(li, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.avg(
                (F.col("l_extendedprice") <= F.col("approx_median_price"))
                .cast("double")
            ).alias("r50"),
            F.avg(
                (F.col("l_extendedprice") <= F.col("approx_p90_price"))
                .cast("double")
            ).alias("r90"),
        )
        .where(
            (F.abs(F.col("r50") - 0.5) > 0.025)
            | (F.abs(F.col("r90") - 0.9) > 0.025)
        )
        .collect()
    )
    if bad:
        raise AssertionError(
            "KLL quantile outside the 2.5% rank-error fence: "
            + ", ".join(
                f"{r['l_returnflag']}: rank(q50)={r['r50']:.4f} "
                f"rank(q90)={r['r90']:.4f}" for r in bad
            )
        )
    return out


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing with the JVM parse_url built-in (host/path/query-param
    extraction) over deterministic synthetic URLs — the per-domain rollup a
    crawl pipeline runs; oracle re-derives the parts with regexes."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/doc/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    parts = docs.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )
    return parts.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.count_distinct("lang_param").alias("n_langs"),
        F.max("path").alias("max_path"),
    )


def q_theta_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches Theta set algebra across segments: distinct-part
    estimates for returnflag A and R plus their INTERSECTION and
    difference — the segment-overlap question HLL cannot answer (HLL only
    unions).  Mergeable fixed-size state, one scan.  Rows-only, but FENCED
    (VERDICT r8 item 4): before returning, the query computes the EXACT
    union / intersection / difference cardinalities (one two-way
    count-distinct aggregate over the same filtered scan) and raises
    unless every theta estimate is within 5% of the exact union plus a
    small absolute slack — the documented error envelope for default
    theta sketches (lgK=12: RSE ≈ 1.6% on the union; intersection and
    difference errors are proportional to the UNION size, not their own
    size, per the Datasketches error model).  The driver's rows-only
    stamp therefore asserts sketch semantics, not just row shape.
    Accuracy is also unit-asserted in tests/test_ops.py."""
    li = _t(spark, sf_dir, "lineitem")
    per_flag = (
        li.where(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag")
        .agg(F.expr("theta_sketch_agg(l_partkey)").alias("sk"))
    )
    both = per_flag.agg(
        F.expr("theta_sketch_estimate(theta_union_agg(sk))").alias("est_union"),
        F.expr(
            "theta_sketch_estimate(theta_intersection_agg(sk))"
        ).alias("est_common"),
        F.expr(
            "theta_sketch_estimate(theta_difference("
            "  max_by(sk, CASE l_returnflag WHEN 'A' THEN 1 ELSE 0 END),"
            "  max_by(sk, CASE l_returnflag WHEN 'R' THEN 1 ELSE 0 END)))"
        ).alias("est_a_only"),
    )
    out = both.select(
        F.round("est_union", 0).alias("est_union"),
        F.round("est_common", 0).alias("est_common"),
        F.round("est_a_only", 0).alias("est_a_only"),
    ).localCheckpoint(eager=True)
    # exact set algebra from one aggregate: per-partkey flag presence,
    # then count the union / intersection / A-only partitions
    exact = (
        li.where(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_partkey")
        .agg(
            F.max((F.col("l_returnflag") == "A").cast("int")).alias("in_a"),
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("in_r"),
        )
        .agg(
            F.count("*").alias("x_union"),
            F.sum(F.col("in_a") * F.col("in_r")).alias("x_common"),
            F.sum(F.col("in_a") * (1 - F.col("in_r"))).alias("x_a_only"),
        )
        .collect()[0]
    )
    est = out.collect()[0]
    tol = 0.05 * exact["x_union"] + 16
    for k_est, k_exact in (
        ("est_union", "x_union"),
        ("est_common", "x_common"),
        ("est_a_only", "x_a_only"),
    ):
        if abs(est[k_est] - exact[k_exact]) > tol:
            raise AssertionError(
                f"theta {k_est}={est[k_est]} vs exact "
                f"{exact[k_exact]} exceeds the ±{tol:.0f} fence "
                f"(5% of union + 16)"
            )
    return out


def q_approx_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k frequency sketch over document tokens.  With
    maxItemsTracked above the (small) vocabulary it degrades to exact
    counts, so the oracle can check it exactly; at web scale the same one
    pass keeps fixed state where an exact groupBy would shuffle the full
    token stream."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode_outer(
            F.filter(F.split("text", " ", -1), lambda t: t != F.lit(""))
        ).alias("token")
    ).where(F.col("token").isNotNull())
    top = toks.agg(
        F.expr("approx_top_k(token, 200, 100000)").alias("tk")
    )
    item = top.select(F.explode_outer("tk").alias("e")).where(
        F.col("e").isNotNull()
    )
    return item.select(
        F.col("e.item").alias("token"),
        F.col("e.count").alias("n"),
    )


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window arithmetic: per-user inter-event gap stats."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.withColumn("_gap", gap_us)
        .where(F.col("_gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("_gap") / 1e6, 4).alias("avg_gap_sec"),
            F.round(F.max("_gap") / 1e6, 4).alias("max_gap_sec"),
        )
    )


def q_dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the smallest doc_id per content hash — the
    row-filter form (window, not join)."""
    from smartpy_arc_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "n_chars", "lang")


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k.  Oracle-backed (round 6): the default
    codebook is deterministic (lowest-16-id vectors), so assignment +
    probe + exact rerank mirror in SQL (``_ivf_ann_sql``); recall vs
    brute force additionally asserted in tests."""
    from smartpy_arc_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb.where("vec_id < 5"), emb, k=5)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event annotated with the user's most recent
    'purchase' value at or before the event time (union-tag-window
    construction; oracle uses DuckDB's native ASOF JOIN)."""
    from smartpy_arc_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    purchases = (
        _t(spark, sf_dir, "events")
        .where("event_type = 'purchase'")
        .select("user_id", "ts", F.col("value").alias("last_purchase_value"))
    )
    out = asof_join(
        ev, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["last_purchase_value"],
    )
    return out.select("event_id", "user_id", "last_purchase_value")


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resampling with forward fill over the event stream (per-key
    sequence-exploded grid + last-ignorenulls window; bucket exposed as an
    epoch index so the oracle stays timezone-free)."""
    from smartpy_arc_spark.operators.resample import resample_ffill

    ev = _t(spark, sf_dir, "events").where("user_id < 30")
    out = resample_ffill(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        interval_sec=3600,
    )
    return out.select(
        "user_id",
        (F.unix_micros("bucket_start") / F.lit(3_600_000_000)).cast("long").alias(
            "bucket_id"
        ),
        F.round("value", 4).alias("value"),
        "filled",
    )


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event annotated with the user's NEXT
    'purchase' value at or after the event time (same single-shuffle
    union-tag construction, following window)."""
    from smartpy_arc_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    purchases = (
        _t(spark, sf_dir, "events")
        .where("event_type = 'purchase'")
        .select("user_id", "ts", F.col("value").alias("next_purchase_value"))
    )
    out = asof_join(
        ev, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["next_purchase_value"], direction="forward",
    )
    return out.select("event_id", "user_id", "next_purchase_value")


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median / p90).

    r12 (guide §5): computed via ``distributed_exact_percentiles`` — the
    former ``percentile(col, array(...))`` was an ObjectHashAggregate
    whose buffer holds EVERY value of the column in one final aggregation
    task (an executor OOM at 100 TB); the replacement shuffles a bucket
    histogram (group × column × occupied bucket) and the rows of the few
    buckets that bracket each requested rank, and interpolates from exact
    ranks with bit-identical arithmetic (equality pinned by
    tests/test_percentiles.py and the oracle hash)."""
    from smartpy_arc_spark.operators.scale import distributed_exact_percentiles

    li = _t(spark, sf_dir, "lineitem")
    p = distributed_exact_percentiles(
        li.select("l_returnflag", "l_extendedprice", "l_quantity"),
        [("l_extendedprice", [0.5, 0.9], "_p"), ("l_quantity", [0.25], "_q")],
        group_col="l_returnflag",
    )
    return p.select(
        "l_returnflag",
        F.round(F.col("_p")[0], 4).alias("median_price"),
        F.round(F.col("_p")[1], 4).alias("p90_price"),
        F.round(F.col("_q")[0], 4).alias("p25_qty"),
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns with per-cell sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic with per-language scores."""
    from smartpy_arc_spark.operators.text import lang_id_heuristic

    docs = _t(spark, sf_dir, "documents")
    return lang_id_heuristic(docs, text_col="text", id_col="doc_id")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality from length/punct/stopword ratios."""
    from smartpy_arc_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return quality_score(docs, text_col="text", id_col="doc_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over a bounded doc subset (near-dup verify tier)."""
    from smartpy_arc_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").where("doc_id < 40")
    return ngram_jaccard_pairs(docs, n=3)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs.  Oracle-backed (round 6) via
    ``portable_hash=True``: md5-derived base hashes + the shared
    ``_FAMILY_SEEDS`` xorshift scrambles make the full banded candidate
    set engine-reproducible (``_minhash_pairs_sql`` mirrors every stage,
    scrambles verified bit-exact); the xxhash64 default remains the
    production fast path, pinned by unit/recall tests."""
    from smartpy_arc_spark.operators.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents")
    # word trigram shingles: ~10× fewer hashes than char shingles at equal
    # near-dup quality on prose — the corpus-scale configuration
    return minhash_lsh_candidates(
        docs, shingle_mode="word", shingle_size=3, portable_hash=True
    )


def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded Hamming candidates.  Oracle-backed (round 6) via
    ``portable_hash=True``: 60-bit md5-derived token hashes make the
    bit-vote signature, 16-bit chunk banding and popcount filter fully
    SQL-mirrorable (``_simhash_candidates_sql``); xxhash64 stays the
    production default."""
    from smartpy_arc_spark.operators.dedup import simhash_candidates

    docs = _t(spark, sf_dir, "documents")
    return simhash_candidates(docs, max_hamming=3, portable_hash=True)


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min/max shingle-hash fingerprint.  Oracle-backed
    (round 6) via ``portable_hash=True`` (md5-derived 60-bit hash, the
    dp_counts pattern) — the winnowing logic is hash-family-agnostic,
    so this verifies it cross-engine while the xxhash64 default remains
    the production fast path (pinned by unit tests)."""
    from smartpy_arc_spark.operators.text import rolling_hash_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return rolling_hash_fingerprint(docs, portable_hash=True)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k.  Oracle-backed (round 6): the
    deterministic seeded hyperplanes + exact-fold cosine make the
    approximate result a cross-engine-reproducible function —
    ``_ann_lsh_sql`` mirrors the same ``_hyperplanes`` literals; recall
    vs exact additionally asserted in tests/test_pipeline_ops.py."""
    from smartpy_arc_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    # dim passed explicitly (testdata embeddings are 64-wide): avoids the
    # one-row driver probe ann_lsh_topk would otherwise run to learn it
    return ann_lsh_topk(emb.where("vec_id < 5"), emb, k=5, dim=64)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-duplicate pairs above a threshold (bounded query side).

    Routing rule (the 100 TB contract): an exact threshold join like this
    is correct ONLY when one side is bounded — here the broadcast query
    side is ``vec_id < 300``, so cost is linear in the corpus with no
    corpus×corpus pairs.  When BOTH sides are the unbounded corpus (true
    all-pairs near-dup), this operator is the wrong tool: route through
    ``operators.semdedup.semdedup`` (cluster-then-intra-cluster) or
    ``operators.similarity.ann_lsh_topk`` (SRP-LSH buckets), which bound
    the candidate set by construction.  ``tests/test_pipeline_ops.py``
    asserts the bounded filter stays in this query."""
    from smartpy_arc_spark.operators.similarity import (
        cosine_threshold_pairs_bounded,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # r11 (guide §4.2): the bounded query side collects (≤300 rows by the
    # routing contract below) and the pair scoring runs as ONE vectorized
    # mapInPandas pass over the corpus — replacing the BNLJ that evaluated
    # an interpreted 64-term HOF fold per candidate pair.  The kernel's
    # per-dimension accumulation is bit-identical to the staged-norm
    # _dot form (see cosine_threshold_pairs_bounded; equivalence pinned
    # by tests/test_round11_opt.py), and rounding stays in Spark.
    va = F.col("embedding").cast("array<double>")
    q_rows = (
        emb.where("vec_id < 300")
        .select(F.col("vec_id").alias("id_a"), va.alias("_va"))
        .collect()
    )
    hits = cosine_threshold_pairs_bounded(
        emb.select(F.col("vec_id").alias("id_a"), va.alias("_va")),
        q_rows,
        vec_col="_va",
        id_col="id_a",
        threshold=0.45,
    )
    return hits.select(
        "id_a", "id_b", F.round("cos", 6).alias("cos_sim")
    )


def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm stats over the embedding array column."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(v, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        emb.select("label", F.sqrt(dot).alias("_norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("_norm"), 4).alias("avg_norm"),
            F.round(F.max("_norm"), 4).alias("max_norm"),
        )
    )


def _rect_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rectangles synthesized from the part table — geometry
    fixtures whose area/length/centroid an SQL oracle can recompute."""
    from smartpy_arc_spark.geometry.columns import make_rect_wkb

    part = _t(spark, sf_dir, "part").where("p_partkey < 500")
    return part.select(
        "p_partkey",
        make_rect_wkb(
            (F.col("p_partkey") % 97).cast("double"),
            (F.col("p_partkey") % 89).cast("double"),
            (F.lit(10) + F.col("p_size")).cast("double"),
            (F.lit(5) + F.col("p_partkey") % 7).cast("double"),
        ).alias("geometry"),
    )


def q_geom_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB → derived columns (SHAPE@X/Y/AREA/LENGTH) + ap_ratio, verified
    arithmetically by the oracle (rect geometry)."""
    from smartpy_arc_spark.geometry import add_geometry_derived
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    rects = _rect_table(spark, sf_dir)
    d = add_geometry_derived(rects)
    return d.select(
        "p_partkey",
        F.round(F.col("SHAPE@X"), 6).alias("cx"),
        F.round(F.col("SHAPE@Y"), 6).alias("cy"),
        F.round(F.col("SHAPE@AREA"), 6).alias("area"),
        F.round(F.col("SHAPE@LENGTH"), 6).alias("length"),
        F.round(
            F.col("SHAPE@LENGTH")
            / (F.lit(2.0) * F.sqrt(F.lit(math.pi) * F.col("SHAPE@AREA"))),
            6,
        ).alias("ap_ratio"),
    )


def q_geom_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-area split over rect geometry: part counts + area conservation,
    verified arithmetically (n_parts = max(floor(area/max_units), 1))."""
    from smartpy_arc_spark.geometry import split_equal_area
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    rects = _rect_table(spark, sf_dir)
    # with_area=True folds the former st_area(geometry) pass INTO the
    # split UDF (r11, guide §4.1): part_area is the exact st_area kernel
    # run on the exact part bytes inside the same Python stage, so the
    # plan drops from 3 ArrowEvalPython boundaries to 2 and every part
    # geometry crosses the JVM↔Python boundary once less.  Values are
    # bit-identical by construction (oracle-verified).
    parts = split_equal_area(
        rects, oid_col="p_partkey", max_area_units=137.0, flds=[],
        with_area=True,
    )
    return (
        parts.select("ORIG_FID", F.col("part_area").alias("_a"))
        .groupBy("ORIG_FID")
        .agg(
            F.count(F.lit(1)).cast(T.IntegerType()).alias("n_parts"),
            F.round(F.sum("_a"), 2).alias("total_area"),
        )
    )


def q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count (left
    outer join so zero-order customers count), with a predicate on the
    joined side (priority filter standing in for the comment NOT LIKE)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where("o_orderpriority <> '1-URGENT'")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity lineitems of a part
    subset, threshold = 0.2 * per-part average quantity (correlated
    aggregate as a pre-aggregated broadcast join, never a per-row
    subquery)."""
    # no explicit broadcast: the filtered part subset is a FRACTION of a
    # fact-sized table, not a bounded dim — at 100 TB a forced broadcast
    # could OOM executors.  Shuffle join on l_partkey; AQE demotes it to
    # broadcast automatically whenever the runtime size is actually small.
    part = _t(spark, sf_dir, "part").where(
        "p_brand = 'Brand#1' AND p_size < 15"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem")
    thresholds = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh"))
    )
    small = li.join(thresholds, on="l_partkey").where(
        F.col("l_quantity") < F.col("qty_thresh")
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers whose lineitem was LATE (shipped >60 days
    after the order date) in a multi-supplier order where NO other supplier
    was late — exists + not-exists as semi/anti joins on the order key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where("o_orderstatus = 'F'")
    supplier = _t(spark, sf_dir, "supplier")
    lo = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey", "l_suppkey",
        (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60).alias("late"),
    )
    # exists/not-exists collapsed into ONE per-order aggregation instead of
    # a semi-join + anti-join + intersect (3 extra shuffles): an order
    # qualifies iff it has >1 distinct supplier and exactly 1 late one —
    # then every late (order, supplier) row in a qualifying order "waits".
    mine_late = lo.where("late").select("l_orderkey", "l_suppkey").distinct()
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    waiting = mine_late.join(
        per_order.where("n_supp > 1 AND n_late_supp = 1"), on="l_orderkey"
    )
    counted = waiting.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("numwait"))
    return (
        counted.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            counted.l_suppkey == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling stub (mapInPandas, 1 row -> n_frames rows): the
    deterministic byte-slice frames let the oracle recompute each frame's
    md5 from the source text."""
    from smartpy_arc_spark.multimodal.binary import attach_payload, frame_sample

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item_id"), "text"
    )
    frames = frame_sample(attach_payload(docs, "text"), n_frames=4)
    return frames.select("item_id", "frame_idx", "frame_md5")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stub (binary in -> fixed-size binary out via
    mapInPandas); the truncate/cycle fake is recomputed by the oracle as
    md5(substr(repeat(text)))."""
    from smartpy_arc_spark.multimodal.binary import attach_payload, resize_image

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item_id"), "text"
    )
    sized = resize_image(attach_payload(docs, "text"), width=8, height=8)
    return sized.select(
        "item_id", F.md5(F.col("payload")).alias("payload_md5"), "width", "height"
    )


def q_federated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-source federation in ONE Catalyst plan: parquet facts
    (customer) joined to nation via the custom dbf connector and to region
    through an in-process Derby JDBC table — the engine's three source
    families composed; the oracle reruns it as plain SQL on the originals."""
    import tempfile

    from smartpy_arc_spark.sources.catalog import jdbc_conn
    from smartpy_arc_spark.sources.dbf import write_dbf

    # unique dir per invocation: embedded Derby holds a single-JVM lock
    # on its database directory, so a FIXED path wedges whenever another
    # Spark session (a parallel pytest run, a crashed driver) still owns
    # or dirtied the lock file
    d = tempfile.mkdtemp(prefix="sas_fed_ws_")
    nation_rows = [
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in _t(spark, sf_dir, "nation").collect()  # bounded dim
    ]
    write_dbf(
        os.path.join(d, "fednation.dbf"),
        nation_rows,
        [("n_nationkey", "N", 10, 0), ("n_name", "C", 25, 0),
         ("n_regionkey", "N", 10, 0)],
    )
    url = f"jdbc:derby:{os.path.join(d, 'fedregion_db')};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    (
        _t(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .write.format("jdbc").option("url", url).option("dbtable", "region")
        .option("driver", props["driver"]).mode("overwrite").save()
    )

    customer = _t(spark, sf_dir, "customer")
    nation = scan(spark, d, "fednation", fmt="dbf")
    region = jdbc_conn(spark, url=url, properties=props)("region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint report: row-local rules in ONE aggregate
    pass + a broadcast-anti-join FK containment check; the oracle
    recomputes every metric with plain SQL aggregates."""
    from smartpy_arc_spark.operators.checks import (
        completeness,
        fk_containment,
        matches,
        max_value,
        min_value,
        run_checks,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    rep = run_checks(
        orders,
        [
            completeness("o_custkey", 1.0),
            completeness("o_orderstatus", 1.0),
            min_value("o_totalprice", 0.0),
            max_value("o_totalprice", 1_000_000.0),
            matches("o_orderpriority", "^[1-5]-", 1.0),
        ],
    )
    fk = fk_containment(orders, customer, "o_custkey", "c_custkey")
    out = rep.union(fk)
    return out.select(
        "rule", "col", F.round("metric", 6).alias("metric"), "threshold", "passed"
    )


def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-priority z-scores of order totals
    (whole group per Arrow batch; the oracle recomputes via window
    aggregates)."""
    from smartpy_arc_spark.operators.normalize import grouped_standardize

    orders = _t(spark, sf_dir, "orders")
    out = grouped_standardize(
        orders, "o_orderpriority", "o_totalprice", id_col="o_orderkey"
    )
    return out.select("o_orderkey", "o_orderpriority", F.round("z", 6).alias("z"))


def q_range_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, rolling 7-day order revenue
    (6 preceding days + current, keyed on days-since-epoch so the frame is
    a true range, not N rows)."""
    orders = _t(spark, sf_dir, "orders").where("o_custkey < 200")
    days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-6, W.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        days.alias("order_day"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("rev_7d"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition profile: distinct-word ratio + top word /
    bigram mass fractions per document."""
    from smartpy_arc_spark.operators.quality import repetition_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(docs)


def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-local Gopher quality gates (word count, mean word length,
    stopword presence, alpha-word fraction) + combined keep flag."""
    from smartpy_arc_spark.operators.quality import gopher_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_flags(docs)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrubbing over documents with deterministic injected PII
    (email always; phone on doc_id%3==0; IPv4 on doc_id%5==0) so the
    oracle can re-derive both the redacted text and the match counts."""
    from smartpy_arc_spark.operators.quality import pii_redact

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    key = F.col("doc_id").cast("string")
    injected = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("user"), key, F.lit("@example.com")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("555-123-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("x")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")
                ),
            ).otherwise(F.lit("y")),
        ).alias("text"),
    )
    return pii_redact(injected, id_col="doc_id")


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the customer
    dimension (broadcast per micro-batch), rolled up by market segment."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        stream_static_enrich,
    )

    _prep(spark)
    stream = read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return run_stream_to_memory(stream_static_enrich(stream, dim))


def q_polyline_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline SHAPE@LENGTH/X/Y (arc_utils.py:698-700 — length applies to
    polylines, area is 0): L-shaped 2-segment lines; the oracle recomputes
    length and the half-length midpoint arithmetically."""
    from smartpy_arc_spark.geometry import add_geometry_derived
    from smartpy_arc_spark.geometry.columns import make_lshape_wkb
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    part = _t(spark, sf_dir, "part").where("p_partkey < 500")
    lines = part.select(
        "p_partkey",
        make_lshape_wkb(
            (F.col("p_partkey") % 97).cast("double"),
            (F.col("p_partkey") % 89).cast("double"),
            (F.lit(10) + F.col("p_size")).cast("double"),
            (F.lit(5) + F.col("p_partkey") % 7).cast("double"),
        ).alias("geometry"),
    )
    d = add_geometry_derived(lines)
    return d.select(
        "p_partkey",
        F.round(F.col("SHAPE@LENGTH"), 6).alias("length"),
        F.round(F.col("SHAPE@AREA"), 6).alias("area"),
        F.round(F.col("SHAPE@X"), 6).alias("mx"),
        F.round(F.col("SHAPE@Y"), 6).alias("my"),
    )


def q_shp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folder workspace WITH geometry (arc_pandas.py:17-21): nation staged
    as a real shapefile (.shp/.shx/.dbf/.prj) with deterministic rect
    geometry, read back through the shapefile data source; derived
    area/length verified arithmetically by the oracle."""
    import tempfile

    from smartpy_arc_spark.geometry import add_geometry_derived
    from smartpy_arc_spark.geometry.wkb import encode_polygon
    from smartpy_arc_spark.session import ensure_worker_imports
    from smartpy_arc_spark.sources.shapefile import write_shapefile

    ensure_worker_imports(spark)
    rows = [
        (r.n_nationkey, r.n_name)
        for r in _t(spark, sf_dir, "nation").collect()  # bounded dim table
    ]
    wkbs = []
    for key, _name in rows:
        x0, y0 = float(key % 7), float(key % 5)
        w, h = float(10 + key % 5), float(3 + key % 4)
        wkbs.append(
            encode_polygon(
                [[[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]]
            )
        )
    d = os.path.join(tempfile.gettempdir(), "sas_shp_ws")
    os.makedirs(d, exist_ok=True)
    write_shapefile(
        os.path.join(d, "nation.shp"),
        rows,
        [("n_nationkey", "N", 10, 0), ("n_name", "C", 25, 0)],
        wkbs,
        crs_wkt='GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984"]]',
    )
    back = scan(spark, d, "nation", fmt="shp", drop_geometry=False)
    der = add_geometry_derived(back)
    return der.select(
        F.col("n_nationkey").cast(T.IntegerType()),
        "n_name",
        F.round(F.col("SHAPE@AREA"), 6).alias("area"),
        F.round(F.col("SHAPE@LENGTH"), 6).alias("length"),
    )


def q_geom_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All five wire encodings (arc_utils.py:970-978): WKB → WKT / GeoJSON /
    ESRIJSON / ESRISHAPE → WKB; the area survives every round trip and the
    oracle recomputes it arithmetically."""
    from smartpy_arc_spark.geometry.columns import (
        from_esrijson,
        from_esrishape,
        from_geojson,
        from_wkt,
        st_area,
        to_esrijson,
        to_esrishape,
        to_geojson,
        to_wkt,
    )
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    rects = _rect_table(spark, sf_dir)
    g = F.col("geometry")
    return rects.select(
        "p_partkey",
        F.round(st_area(from_wkt(to_wkt(g))), 6).alias("area_wkt"),
        F.round(st_area(from_geojson(to_geojson(g))), 6).alias("area_geojson"),
        F.round(st_area(from_esrijson(to_esrijson(g))), 6).alias("area_esrijson"),
        F.round(st_area(from_esrishape(to_esrishape(g))), 6).alias("area_esrishape"),
    )


def q_multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → metadata via mapInPandas decode stub; the
    deterministic fake dims let the oracle recompute them from length.
    (Stub variant kept for stamp continuity; the contract name
    ``multimodal_decode`` now runs the real codecs.)"""
    from smartpy_arc_spark.multimodal.binary import attach_payload, decode_image_meta

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item_id"), "text"
    )
    payloads = attach_payload(docs, "text")
    return decode_image_meta(payloads)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: synthesize genuine JPEG/PNG/BMP/GIF
    containers (pure-Python encoders, format = doc_id % 4), then recover
    dimensions + format through ``decode_image_meta(stub=False)`` — the
    magic-byte-sniffed full decode path (Huffman+IDCT for JPEG, zlib
    inflate for PNG, LZW for GIF).  Dims are closed-form in doc_id, so
    the SQL oracle recomputes them without touching bytes."""
    from smartpy_arc_spark.multimodal.binary import decode_image_meta

    docs = _t(spark, sf_dir, "documents").where("doc_id < 160").select(
        F.col("doc_id").alias("item_id")
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.codecs import make_bmp, make_png
        from smartpy_arc_spark.multimodal.gif import make_gif
        from smartpy_arc_spark.multimodal.jpeg import make_jpeg

        for pdf in batches:
            payloads = []
            for d in pdf["item_id"]:
                d = int(d)
                color = ((d * 37 + 11) % 256, (d * 59 + 5) % 256,
                         (d * 23 + 101) % 256)
                k = d % 4
                if k == 0:  # JPEG needs MCU-aligned dims (the jpeg_decode combo)
                    img = np.full((8 * (1 + d % 2), 16, 3), color, dtype=np.uint8)
                    payloads.append(
                        make_jpeg(img, quality=100, subsample=(d % 3 == 0))
                    )
                else:
                    w, h = 8 + (d % 5) * 4, 4 + (d % 3) * 4
                    img = np.full((h, w, 3), color, dtype=np.uint8)
                    payloads.append(
                        make_png(img) if k == 1
                        else make_bmp(img) if k == 2
                        else make_gif(img)
                    )
            yield pd.DataFrame({"item_id": pdf["item_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    return decode_image_meta(blobs, stub=False).select(
        "item_id", "width", "height", "format"
    )


def q_multimodal_features_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction stub over binary payloads (mapInPandas →
    array<float>), exploded to (item, dim, value) rows so the oracle can
    recompute the deterministic fake arithmetically.  (Stub variant kept
    for stamp continuity; the contract name ``multimodal_features`` now
    runs the real decode-based features.)"""
    from smartpy_arc_spark.multimodal.binary import attach_payload, extract_features

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item_id"), "text"
    )
    feats = extract_features(attach_payload(docs, "text"), dim=8)
    return feats.select(
        "item_id", F.posexplode_outer("features").alias("dim", "feat")
    ).where(F.col("feat").isNotNull()).select(
        "item_id", "dim", F.round(F.col("feat").cast("double"), 4).alias("feat")
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL feature extraction: constant-color PNG/BMP payloads decode
    through the pure-Python codecs and yield classical features (channel
    means/stds, bounded aspect, top-left region luminance) via
    ``extract_features(stub=False)``.  Pixel counts are powers of two and
    the output passes through float32, so every feature is bit-identical
    to the closed-form doc_id expression the SQL oracle evaluates
    (constant image ⇒ mean = c/255, std = 0, luminance =
    0.299·r/255 + 0.587·g/255 + 0.114·b/255)."""
    from smartpy_arc_spark.multimodal.binary import extract_features

    docs = _t(spark, sf_dir, "documents").where("doc_id < 400").select(
        F.col("doc_id").alias("item_id")
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.codecs import make_bmp, make_png

        for pdf in batches:
            payloads = []
            for d in pdf["item_id"]:
                d = int(d)
                color = ((d * 37 + 11) % 256, (d * 59 + 5) % 256,
                         (d * 23 + 101) % 256)
                w = 8 << (d % 2)           # 8 or 16
                h = 4 << (d % 3)           # 4, 8 or 16: h·w a power of two
                img = np.full((h, w, 3), color, dtype=np.uint8)
                payloads.append(make_png(img) if d % 2 == 0 else make_bmp(img))
            yield pd.DataFrame({"item_id": pdf["item_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    feats = extract_features(blobs, dim=8, stub=False)
    return feats.select(
        "item_id", F.posexplode_outer("features").alias("dim", "feat")
    ).where(F.col("feat").isNotNull()).select(
        "item_id", "dim", F.round(F.col("feat").cast("double"), 4).alias("feat")
    )


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregate drained through a
    memory sink — same result as the batch equivalent the oracle runs."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        windowed_event_counts,
    )

    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(windowed_event_counts(stream))


def q_stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): first event
    per key.  Single availableNow batch → deterministic n_in_batch."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        streaming_first_seen,
    )

    _prep(spark)
    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(
        streaming_first_seen(stream), output_mode="append"
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session_window gap sessions (30 min), drained
    synchronously; matches the batch lag+cumsum construction."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        streaming_sessionize,
    )

    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_memory(streaming_sessionize(stream))
    return out.select("user_id", "session_start", "n_events", "total_value")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing word-5-grams
    with a held-out 'benchmark' slice (docs with doc_id % 17 == 0)."""
    from smartpy_arc_spark.operators.contamination import ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where("doc_id % 17 != 0")
    benchmark = docs.where("doc_id % 17 = 0")
    return ngram_decontaminate(corpus, benchmark, n=5, threshold=0.3)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum hash sample (md5 prefix threshold):
    different keep rates per l_returnflag, reproducible in any engine."""
    from smartpy_arc_spark.operators.sample import stratified_hash_sample

    li = _t(spark, sf_dir, "lineitem")
    sampled = stratified_hash_sample(
        li,
        "l_returnflag",
        {"A": 0.2, "N": 0.05, "R": 0.5},
        ["l_orderkey", "l_linenumber"],
    )
    return sampled.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.col("l_returnflag").alias("rflag"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed first-fit-decreasing sequence packing.  Oracle-backed
    (round 6): ``_pack_sequences_sql`` mirrors the crc32 bucketing (byte
    -table fold) and the sequential FFD loop as a flat-state
    list_reduce — all integer; capacity/coverage/determinism invariants
    additionally asserted in tests/test_pipeline_ops.py."""
    from smartpy_arc_spark.operators.pack import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    with_len = docs.select(
        "doc_id", F.size(F.split("text", " ", -1)).alias("n_tokens")
    )
    return pack_sequences(
        with_len, length_col="n_tokens", max_len=128, num_buckets=8
    )


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-batch MinHash LSH: new docs (doc_id % 10 >= 8) vs the
    historical corpus — never corpus-vs-corpus.  Oracle-backed (round 6)
    via ``portable_hash=True`` (``_minhash_incremental_sql`` mirrors the
    new×(corpus ∪ new) bucket join and jaccard estimates)."""
    from smartpy_arc_spark.operators.dedup import minhash_incremental_candidates

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where("doc_id % 10 < 8")
    new = docs.where("doc_id % 10 >= 8")
    return minhash_incremental_candidates(
        corpus, new, shingle_mode="word", shingle_size=3, portable_hash=True
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (16-token windows, stride 12) —
    the pre-embedding splitter; row-local, zero shuffle."""
    from smartpy_arc_spark.operators.contamination import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=16, stride=12)


def q_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-snapshot time travel: publish v1 (overwrite), v2 (append),
    v3 (overwrite) of a supplier slice, then read **v2** — proving old
    versions stay readable and exact after later commits."""
    import shutil
    import tempfile

    from smartpy_arc_spark.sinks.snapshot import read_snapshot, write_snapshot

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    table = tempfile.mkdtemp(prefix="snap_probe_")
    shutil.rmtree(table)  # write_snapshot creates it
    write_snapshot(sup.where("s_suppkey <= 50"), table, mode="overwrite")
    write_snapshot(
        sup.where("s_suppkey > 50 AND s_suppkey <= 80"), table, mode="append"
    )
    write_snapshot(sup.where("s_suppkey > 900"), table, mode="overwrite")
    return read_snapshot(spark, table, version=2)


def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via bitmaps (Spark 4 bitmap_*):
    per-(flag,status,bucket) bitmaps OR-merged up to per-flag, popcounted
    and summed — the store-partials/merge-exactly pattern where HLL would
    approximate.  State per group is bucket-count × 4KB, not the id set.
    Oracle: plain COUNT(DISTINCT) — the bitmap path must match it exactly."""
    li = _t(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.expr("bitmap_bucket_number(l_orderkey)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(l_orderkey))").alias("bm")
    )
    merged = per_bucket.groupBy("l_returnflag", "bkt").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return merged.groupBy("l_returnflag").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_orders")
    )


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT semi-structured path: parse_json into a variant,
    typed variant_get extraction, grouped rollup — the open-schema
    ingestion pattern (vs. the schema-on-read get_json_object of
    `json_props`)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
    )


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — the one-pass distribution
    profile (per-bucket counts + mass share), fixed [0, 60000) domain."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.width_bucket(
        F.col("l_extendedprice"), F.lit(0.0), F.lit(60000.0), F.lit(12)
    )
    counts = li.groupBy(bucket.cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(W.partitionBy())
    return counts.select(
        "bucket", "n", F.round(F.col("n") / total, 6).alias("share")
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel (view → click → purchase): per-user first
    timestamps per stage, a stage counts only if it follows the previous
    one; one shuffle on user_id, conditional aggregation after."""
    ev = _t(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_buy"
        ),
    )
    reached_click = F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))
    reached_buy = reached_click & (F.col("t_buy") > F.col("t_click"))
    return stages.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(reached_click, 1)).alias("n_click_after_view"),
        F.count(F.when(reached_buy, 1)).alias("n_full_funnel"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, distinct
    active users per week offset — two shuffles (user firsts, then
    cohort/offset rollup), both on bounded keys."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = ev.join(firsts, "user_id")
    cohort = F.date_trunc("week", F.col("first_ts"))
    offset = F.floor(
        (F.unix_micros(F.date_trunc("week", F.col("ts")))
         - F.unix_micros(cohort)) / F.lit(7 * 24 * 3600 * 1_000_000)
    )
    return (
        joined.groupBy(
            F.to_date(cohort).alias("cohort_week"),
            offset.cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram collocations with PMI scores (phrase mining).

    The query exposes PMI as ``pmi_e4`` — the raw double scaled by 1e4 and
    rounded to BIGINT — because Spark's ``round(x, 4)`` (BigDecimal HALF_UP)
    and DuckDB's (scaled nearbyint) can disagree by 1 ulp on identical
    inputs, which fails an exact value-hash even though both are "1.2345".
    An integer is bit-exact across engines.
    """
    from smartpy_arc_spark.operators.text import collocations

    docs = _t(spark, sf_dir, "documents")
    out = collocations(docs, min_count=5, raw_pmi=True)
    return out.select(
        "w1",
        "w2",
        "n_pair",
        F.round(F.col("pmi") * 10000).cast("long").alias("pmi_e4"),
    )


def q_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE date spine (Spark 4 recursive CTE) densifying one
    month of daily order counts — sparse facts onto a complete calendar,
    zero-filled.  Recursion depth is the calendar length (bounded),
    independent of fact cardinality."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        WITH RECURSIVE days(d) AS (
            SELECT DATE '1998-01-01'
            UNION ALL SELECT date_add(d, 1) FROM days
            WHERE d < DATE '1998-01-31'
        ), daily AS (
            SELECT CAST(o_orderdate AS DATE) AS od,
                   count(*) AS n
            FROM orders_v
            WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              AND o_orderdate < TIMESTAMP '1998-02-01'
            GROUP BY 1
        )
        SELECT days.d AS day, coalesce(daily.n, 0) AS n_orders
        FROM days LEFT JOIN daily ON days.d = daily.od
    """)


def q_stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark dedup (at-least-once re-delivery
    semantics, guaranteed per-key state eviction); deterministic key-set
    projection drained through a memory sink."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        streaming_dedup_within_watermark,
    )

    _prep(spark)
    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_memory(
        streaming_dedup_within_watermark(stream), output_mode="append"
    )
    return out.select("user_id", "event_type")


def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language 10th-percentile length floor: percentile aggregate +
    broadcast threshold join (no per-group sort windows)."""
    from smartpy_arc_spark.operators.quality import per_group_quantile_filter

    docs = _t(spark, sf_dir, "documents")
    return per_group_quantile_filter(
        docs.select("doc_id", "lang", "n_chars"), "n_chars", "lang", q=0.1
    ).select("doc_id", "lang", "n_chars")


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline: Gopher gates → exact dedup (md5,
    lowest id wins) → 5-gram decontamination vs the doc_id%17 benchmark
    slice → per-language stratified sample.  End-to-end oracle: one DuckDB
    CTE chain mirroring all four stages."""
    from smartpy_arc_spark.operators.pipeline import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(
        docs.where("doc_id % 17 != 0"),
        docs.where("doc_id % 17 = 0"),
        sample_fractions={"en": 0.8},
        default_fraction=0.25,
    )


def q_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleave of two 8-bit key projections — the
    clustering key behind `write_zordered`'s 2-D data-skipping layout."""
    from smartpy_arc_spark.operators.scale import morton_code

    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        morton_code(
            F.col("l_partkey") % 256, F.col("l_suppkey") % 256, bits=8
        ).alias("zcode"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated-min subquery over a dim chain): cheapest
    supplier per qualifying part, supply cost derived from lineitem unit
    prices (testdata has no partsupp).  The min-per-part is a single
    window aggregate over the candidate set — no self-join recompute —
    and every dimension side (part/supplier/nation/region) broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias(
            "supplycost"
        )
    )
    part = (
        _t(spark, sf_dir, "part")
        .where("p_type = 'LARGE' AND p_size <= 10")
        .select("p_partkey", "p_type")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = _t(spark, sf_dir, "region").where("r_name = 'EUROPE'").select("r_regionkey")
    euro_supp = (
        supp.join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        ps.join(F.broadcast(part), ps["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(euro_supp), ps["l_suppkey"] == euro_supp["s_suppkey"])
        .select("p_partkey", "p_type", "s_name", "s_acctbal", "n_name", "supplycost")
    )
    w = W.partitionBy("p_partkey")
    return (
        cand.withColumn("_min_cost", F.min("supplycost").over(w))
        .where(F.col("supplycost") == F.col("_min_cost"))
        .drop("_min_cost")
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (scalar-subquery HAVING): per-part inventory value
    restricted to one region's suppliers, kept only when above a fixed
    fraction of the grand total.  The total is a 1-row broadcast cross
    join — the grouped aggregate is computed once and reused."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = (
        _t(spark, sf_dir, "nation")
        .where("n_regionkey = 2")
        .select("n_nationkey")
    )
    asia_supp = supp.join(
        F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey")
    v = (
        li.join(F.broadcast(asia_supp), li["l_suppkey"] == asia_supp["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_val"))
    )
    total = v.agg((F.sum("_val") * F.lit(0.001)).alias("_cutoff"))
    return (
        v.join(F.broadcast(total))
        .where(F.col("_val") > F.col("_cutoff"))
        .select("l_partkey", F.round("_val", 2).alias("part_value"))
    )


def q20_promo_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-joins with an aggregated per-key
    threshold): suppliers that shipped >30% of a 'red%' part's 1997
    volume, surfaced as a LEFT SEMI join against supplier — the
    candidate-supplier set stays distributed end to end."""
    li97 = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'"
    ).select("l_partkey", "l_suppkey", "l_quantity")
    red = (
        _t(spark, sf_dir, "part")
        .where("p_name LIKE 'red%'")
        .select("p_partkey")
    )
    red_li = li97.join(F.broadcast(red), li97["l_partkey"] == red["p_partkey"]).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    per_ps = red_li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("q_ps")
    )
    w = W.partitionBy("l_partkey")
    cand = (
        per_ps.withColumn("_thresh", F.sum("q_ps").over(w) * F.lit(0.3))
        .where(F.col("q_ps") > F.col("_thresh"))
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        supp.join(cand, supp["s_suppkey"] == cand["l_suppkey"], "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .select("s_name", "n_name")
    )


def q_pagerank_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer<->supplier trade graph (edges from
    orders |x| lineitem, both directions, string-prefixed ids to keep the
    two key spaces disjoint).  3 fixed power iterations with dangling-mass
    redistribution — deterministic, so the oracle is the same iteration
    unrolled in SQL.  Iterative-distributed evidence tier alongside
    connected components (operators/components.py:pagerank)."""
    from smartpy_arc_spark.operators.components import pagerank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # both directions of the distinct c↔s pairs have disjoint prefixed
    # key spaces, so the union is already duplicate-free
    pr = pagerank(edges, iterations=3, damping=0.85, assume_distinct=True)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join correctness evidence: the salted join
    (operators/scale.py:salted_join — small side exploded x8, big side
    scattered over 8 salt buckets) must be *semantically invisible*; the
    oracle is the plain unsalted join.  This is the manual hot-key path for
    when AQE skew splitting can't apply."""
    from smartpy_arc_spark.operators.scale import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = salted_join(li, supp, "l_suppkey", "s_suppkey", salt=8)
    return j.groupBy("s_nationkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# registry


def _previously_stamped() -> set:
    """Query names already green in any CORRECTNESS_r*.json beside this file.

    The per-round driver stamps a bounded prefix of the declared queries, so
    ``queries()`` floats never-stamped (or previously-failing) entries to the
    front each round until every one has a green row on record.
    """
    import glob as _glob
    import json as _json

    here = os.path.dirname(os.path.abspath(__file__))
    seen = set()
    for path in _glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                rec = _json.load(f)
        except Exception:
            continue
        for name, r in rec.items():
            if (
                isinstance(r, dict)
                and r.get("err") is None
                and r.get("rows_match")
                and r.get("hash_match") is not False
            ):
                seen.add(name)
    return seen


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (arXiv:2302.03169): hashed uni+bigram bucket
    models for target (lang='en') vs raw (all docs), per-doc log-likelihood
    ratio, deterministic top-50."""
    from smartpy_arc_spark.operators.importance import dsir_importance_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs, docs.where("lang = 'en'"), m=1024, top_k=50
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (arXiv:2107.06499 surrogate): maximal token
    spans covered by word-8-grams occurring in >= 2 distinct documents."""
    from smartpy_arc_spark.operators.spans import duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, n=8, min_docs=2)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): deterministic seed-centroid clusters
    (k=8 lowest vec_ids), intra-cluster cosine >= 0.35 marks the higher id
    a duplicate of its lowest-id neighbor."""
    from smartpy_arc_spark.operators.semdedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, k=8, threshold=0.35)


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join: fact rows that cannot match the filtered
    dim side are dropped at the scan (bitset membership in codegen) before
    the exact join; result is identical to the plain join."""
    from smartpy_arc_spark.operators.scale import bloom_prefilter_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice", "l_discount"
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .where("o_orderpriority = '1-URGENT'")
        .select("o_orderkey")
    )
    joined = bloom_prefilter_join(
        li, dim, fact_key="l_orderkey", dim_key="o_orderkey"
    )
    return joined.groupBy("l_linestatus").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second columnar wire format: write a lineitem projection as ORC,
    read it back through scan(fmt='orc'), aggregate — proving the scan
    path (projection, filters) is format-agnostic."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "sas_orc_ws")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    li.write.mode("overwrite").orc(os.path.join(d, "li_slice.orc"))
    back = scan(spark, d, "li_slice", fmt="orc")
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (arXiv:1911.00359): char-trigram LM
    counted on the lang='en' slice, per-doc cross-entropy, tertile cuts."""
    from smartpy_arc_spark.operators.perplexity import perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    return perplexity_buckets(docs, docs.where("lang = 'en'"))


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap: keep the 15 longest docs per source
    (n_chars desc, doc_id tiebreak) so no source dominates the mix."""
    from smartpy_arc_spark.operators.sample import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return cap_per_group(
        docs, "source", cap=15, order_by=[F.desc("n_chars")], id_col="doc_id"
    )


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text interchange: write a customer slice as headered CSV, read it
    back through scan(fmt='csv') with an EXPLICIT schema (single pass —
    the inferSchema path would re-scan the file; arc_utils.py:956-988's
    table loads are schema-driven the same way)."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "sas_csv_ws")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    cust.write.mode("overwrite").option("header", True).csv(
        os.path.join(d, "cust_slice.csv")
    )
    back = scan(
        spark,
        d,
        "cust_slice",
        fmt="csv",
        schema="c_custkey long, c_mktsegment string, c_acctbal double",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines interchange: write a nation slice as JSONL, read back
    through scan(fmt='json') with explicit schema, rejoin aggregates."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "sas_jsonl_ws")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nat.write.mode("overwrite").json(os.path.join(d, "nation.jsonl"))
    back = scan(
        spark,
        d,
        "nation.jsonl",
        fmt="json",
        schema="n_nationkey int, n_name string, n_regionkey int",
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").cast("long").alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written with different
    schemas (v2 adds a column), read as one dataset with mergeSchema —
    old rows surface NULL for the new column.  The standard additive
    lake evolution; per-file footer reconciliation, no rewrite."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "sas_evo_ws", "supplier_evo")
    sup = _t(spark, sf_dir, "supplier")
    v1 = sup.where("s_suppkey <= 50").select("s_suppkey", "s_name")
    v2 = (
        sup.where("s_suppkey > 50")
        .select("s_suppkey", "s_name", F.col("s_acctbal").alias("balance"))
    )
    v1.write.mode("overwrite").parquet(d)
    v2.write.mode("append").parquet(d)
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    return merged.select(
        "s_suppkey",
        "s_name",
        F.round("balance", 2).alias("balance"),
        F.col("balance").isNull().alias("pre_evolution"),
    )


def q_multimodal_dedup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload exact dedup — the media-pipeline variant of
    dedup_exact: digest the opaque payload bytes (sha2-256 in codegen,
    content-defined, format-agnostic), group identical blobs, keep the
    lowest item id.  Payloads here are deterministic fakes (lang-source
    bytes) so duplicates exist and the oracle can re-derive digests.
    (Text-payload variant kept for stamp continuity; the contract name
    ``multimodal_dedup`` now digests + decodes real PNG containers.)"""
    from smartpy_arc_spark.multimodal.binary import attach_payload

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item_id"),
        F.concat_ws("-", "lang", "source").alias("media_key"),
    )
    payloads = attach_payload(docs, "media_key")
    return (
        payloads.groupBy(F.sha2(F.col("payload"), 256).alias("digest"))
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("item_id").alias("keeper_id"),
        )
    )


def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal exact dedup: every document synthesizes a genuine
    8×8 PNG whose color is a deterministic function of (lang, source), so
    distinct colors ↔ distinct PNG bytes (the encoder is injective for
    fixed dims).  Dedup groups on sha2-256 of the real container bytes
    (JVM codegen digest — no Python in the shuffle), then ONE real
    ``parse_png`` decode per surviving group recovers the color the SQL
    oracle recomputes from (lang, source) arithmetic.  Scale shape: one
    hash-keyed exchange on the digest; decode cost is per-group, not
    per-row."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item_id"), "lang", "source"
    )

    def synth(batches):
        import numpy as np

        from smartpy_arc_spark.multimodal.codecs import make_png

        for pdf in batches:
            payloads = []
            for lang, source in zip(pdf["lang"], pdf["source"]):
                color = (
                    (ord(lang[0]) * 7 + len(source) * 31) % 256,
                    (ord(lang[0]) * 13 + len(lang) * 17) % 256,
                    (len(lang) * 29 + len(source) * 5) % 256,
                )
                payloads.append(
                    make_png(np.full((8, 8, 3), color, dtype=np.uint8))
                )
            yield pd.DataFrame({"item_id": pdf["item_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    groups = blobs.groupBy(F.sha2(F.col("payload"), 256).alias("digest")).agg(
        F.count("*").cast("long").alias("n_copies"),
        F.min("item_id").alias("keeper_id"),
        F.min("payload").alias("_rep"),
    )

    def decode(batches):
        from smartpy_arc_spark.multimodal.codecs import parse_png

        for pdf in batches:
            rs, gs, bs = [], [], []
            for p in pdf["_rep"]:
                px = parse_png(bytes(p))[0, 0]
                rs.append(int(px[0])); gs.append(int(px[1])); bs.append(int(px[2]))
            yield pd.DataFrame(
                {"r": rs, "g": gs, "b": bs,
                 "n_copies": pdf["n_copies"], "keeper_id": pdf["keeper_id"]}
            )

    return groups.mapInPandas(
        decode, "r int, g int, b int, n_copies long, keeper_id long"
    )


def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning: write lineitem
    partitioned by l_returnflag, read back with a partition predicate —
    the scan must touch one directory, not the table (PartitionFilters
    asserted in tests/test_training_ops.py)."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "sas_prune_ws", "li_part")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_discount"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(d)
    back = read_parquet(spark, d).where("l_returnflag = 'R'")
    return back.groupBy("l_linestatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join: both sides persisted bucketed+sorted
    on the join key, so the join plans with ZERO exchanges (asserted in
    tests/test_ops.py's bucketize test; here the stamped result proves
    the bucketed write/read round-trip preserves the data)."""
    from smartpy_arc_spark.operators.scale import bucketize

    import shutil
    from urllib.parse import urlparse

    spark.sql("CREATE DATABASE IF NOT EXISTS sas_bucket_ws")
    spark.sql("USE sas_bucket_ws")
    # a previous session may have left the managed-table directories on
    # disk without catalog entries in THIS session's in-memory metastore;
    # saveAsTable refuses to reuse the location, so purge both layers
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("sas_b_orders", "sas_b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/sas_bucket_ws.db/{t}", ignore_errors=True)
    try:
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        bo = bucketize(orders, "sas_b_orders", "o_orderkey", n_buckets=8)
        bl = bucketize(li, "sas_b_lineitem", "l_orderkey", n_buckets=8)
        return (
            bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").cast("long").alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("revenue"),
            )
        )
    finally:
        spark.sql("USE default")


def q_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect-and-cut substring dedup: re-emit every document with its
    cross-document duplicated 8-gram spans removed."""
    from smartpy_arc_spark.operators.spans import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=8, min_docs=2)


def q_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled training-mix allocation (alpha=0.5) of a
    100k-char budget across sources, capped at one epoch per source."""
    from smartpy_arc_spark.operators.sample import mixture_allocation

    docs = _t(spark, sf_dir, "documents")
    return mixture_allocation(
        docs, "source", "n_chars", budget=100_000, alpha=0.5
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned over the corpus (arXiv:1508.07909):
    per-round global pair count, deterministic tiebreak, row-local
    HOF merge fold.  Oracle-backed (round 6): ``_bpe_merges_sql``
    unrolls the same 8 count-argmax-merge rounds, with the greedy
    -leftmost merge fold reproduced as a DuckDB list_reduce —
    all-integer/string, zero float risk."""
    from smartpy_arc_spark.operators.bpe import bpe_merges_df

    docs = _t(spark, sf_dir, "documents")
    return bpe_merges_df(docs, n_merges=8)


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins apply: a synthetic I/U/D change batch (derived
    deterministically from supplier keys) applied onto a supplier base
    slice — deletes drop keys, upserts replace, untouched rows pass."""
    from smartpy_arc_spark.operators.merge import cdc_apply

    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    base = sup.where("s_suppkey <= 60")
    changes = (
        sup.where("s_suppkey > 40 AND s_suppkey <= 90")
        .select(
            "s_suppkey",
            F.concat(F.lit("upd-"), F.col("s_name")).alias("s_name"),
            F.round(F.col("s_acctbal") + 1000.0, 2).alias("s_acctbal"),
            (F.col("s_suppkey") % 3 + 1).cast("long").alias("seq"),
            F.when(F.col("s_suppkey") % 7 == 0, "D")
            .when(F.col("s_suppkey") <= 60, "U")
            .otherwise("I")
            .alias("op"),
        )
    )
    return cdc_apply(base, changes, key_col="s_suppkey", seq_col="seq")


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count over the customer->supplier co-order graph
    (edge when a customer's order contains a supplier's lineitem,
    projected onto suppliers via shared orders; bounded slice)."""
    from smartpy_arc_spark.operators.components import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.where("l_suppkey <= 40").alias("a")
    b = li.where("l_suppkey <= 40").alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
    )
    return triangle_count(edges)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-engine inverted index over documents: per term the doc
    frequency, total tf, and canonical doc-ordered postings string."""
    from smartpy_arc_spark.operators.text import inverted_index

    docs = _t(spark, sf_dir, "documents")
    return inverted_index(docs, min_df=3)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample without replacement (50 docs,
    weight = n_chars): content-hash uniform draws, reproducible anywhere."""
    from smartpy_arc_spark.operators.sample import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample_topk(
        docs, weight_col="n_chars", key_cols=["doc_id"], k=50
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10 by content hash),
    rolled up to per-split-per-lang counts."""
    from smartpy_arc_spark.operators.sample import dataset_split

    docs = _t(spark, sf_dir, "documents")
    return (
        dataset_split(docs, ["doc_id"], val_pct=10, test_pct=10)
        .groupBy("split", "lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed bag-of-terms query."""
    from smartpy_arc_spark.operators.text import bm25_search

    docs = _t(spark, sf_dir, "documents")
    return bm25_search(docs, ["spark", "shuffle", "join"], top_k=20)


def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resampling with LINEAR interpolation across gaps (flat
    after the last observation).  Values are scaled to integer cents
    first (the source data is 2-decimal), making the interpolation
    arithmetic EXACT up to one IEEE division — the raw doubles are then
    bit-identical in any engine, so the comparison never rides on
    engine-specific float evaluation order.  Bucket exposed as an epoch
    index so the oracle stays timezone-free."""
    from smartpy_arc_spark.operators.resample import resample_interpolate

    ev = (
        _t(spark, sf_dir, "events")
        .where("user_id < 30")
        .withColumn("value", F.round(F.col("value") * 100).cast("long"))
    )
    out = resample_interpolate(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        interval_sec=3600,
    )
    return out.select(
        "user_id",
        (F.unix_micros("bucket_start") / F.lit(3_600_000_000)).cast("long")
        .alias("bucket_id"),
        F.col("value").alias("value_cents"),
        "interpolated",
    )


def q_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed haversine neighbor join: customers placed on a
    deterministic ~1°x1° grid (synthesized from keys — the testdata has
    no coordinates), all pairs within 5 km via 3x3-cell candidates."""
    from smartpy_arc_spark.geometry.neighbor import neighbor_join

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (F.lit(40.0) + (F.col("c_custkey") * 37 % 1000) / F.lit(1000.0)).alias("lat"),
        (F.lit(-100.0) + (F.col("c_custkey") * 73 % 1000) / F.lit(1000.0)).alias("lon"),
    )
    return neighbor_join(cust, cust, radius_km=5.0)


def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent 2-itemsets over orders (items = part
    groups), with support pruning before pair expansion and lift from
    broadcast item supports."""
    from smartpy_arc_spark.operators.itemsets import frequent_pairs

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("part_group")
    )
    return frequent_pairs(
        li, basket_col="l_orderkey", item_col="part_group", min_support=30
    )


def q_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained ordered funnel: click must follow the matched
    view within 1h, purchase the matched click within 1h — the
    MATCH_RECOGNIZE/windowFunnel semantics, not first-timestamp order."""
    from smartpy_arc_spark.operators.funnel import sequence_funnel

    ev = _t(spark, sf_dir, "events")
    return sequence_funnel(
        ev, ["view", "click", "purchase"], step_window_sec=3600
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two published snapshot versions of a
    supplier slice: adds (new keys), removes (keys dropped in v2) and
    changes (balance bumped), flattened for comparison."""
    import shutil
    import tempfile

    from smartpy_arc_spark.sinks.snapshot import snapshot_diff, write_snapshot

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    table = tempfile.mkdtemp(prefix="snapdiff_probe_")
    shutil.rmtree(table)
    v1 = sup.where("s_suppkey <= 80")
    write_snapshot(v1, table, mode="overwrite")
    v2 = (
        sup.where("s_suppkey <= 100")
        .where("s_suppkey % 9 != 0")
        .withColumn(
            "s_acctbal",
            F.when(
                F.col("s_suppkey") % 4 == 0, F.round(F.col("s_acctbal") + 500.0, 2)
            ).otherwise(F.col("s_acctbal")),
        )
    )
    write_snapshot(v2, table, mode="overwrite")
    d = snapshot_diff(spark, table, key_col="s_suppkey", v_from=1, v_to=2)
    return d.select(
        "s_suppkey",
        "change",
        F.col("old.s_acctbal").alias("old_bal"),
        F.col("new.s_acctbal").alias("new_bal"),
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the supplier co-order graph (iterative peel).
    Oracle-backed (round 6): the bounded fixture (<=30 vertices) peels to
    fixpoint within 30 rounds, so ``_k_core_sql`` unrolls exactly that
    many — extra rounds at fixpoint are identity, matching the
    operator's early exit."""
    from smartpy_arc_spark.operators.components import k_core

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.where("l_suppkey <= 30").alias("a")
    b = li.where("l_suppkey <= 30").alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
    )
    return k_core(edges, k=3)


def q_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outliers: event values deviating > 5 MADs from their
    event-type group median (heavy-tailed values; ~2% flag rate)."""
    from smartpy_arc_spark.operators.quality import mad_anomalies

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return mad_anomalies(
        ev, "event_type", "value", n_mads=5.0, id_cols=["event_id"]
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization of values at the exact [p05, p95]
    group percentiles (clip, keep row count), rolled up to per-type
    means before/after to keep the stamped result compact."""
    from smartpy_arc_spark.operators.quality import winsorize

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = winsorize(ev, "event_type", "value", lo=0.05, hi=0.95)
    return w.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count(F.when(F.col("clipped"), 1)).cast("long").alias("n_clipped"),
        (F.round(F.avg("value"), 4) + F.lit(0.0)).alias("mean_raw"),
        (F.round(F.avg("value_w"), 4) + F.lit(0.0)).alias("mean_winsor"),
    )


def q_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions between event types per user
    sequence, with per-from-state probabilities."""
    from smartpy_arc_spark.operators.sessionize import transition_counts

    ev = _t(spark, sf_dir, "events")
    return transition_counts(ev)


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of document language vs source."""
    from smartpy_arc_spark.operators.stats import chi_square_independence

    docs = _t(spark, sf_dir, "documents")
    return chi_square_independence(docs, "lang", "source")


def q_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between purchase and view event values."""
    from smartpy_arc_spark.operators.stats import welch_t_test

    ev = _t(spark, sf_dir, "events")
    return welch_t_test(ev, "event_type", "value", "purchase", "view")


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum between purchase and view event values;
    ranks via the distributed-CDF construction (partitioned_cumsum), rank
    sums kept in integer space, z as bit-exact integer millionths."""
    from smartpy_arc_spark.operators.stats import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    return mann_whitney_u(ev, "event_type", "value", "purchase", "view")


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between purchase and view values —
    exact integer numerator over n_a*n_b, distributed CDF, no global
    single-partition sort."""
    from smartpy_arc_spark.operators.stats import ks_test_2samp

    ev = _t(spark, sf_dir, "events")
    return ks_test_2samp(ev, "event_type", "value", "purchase", "view")


def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of l_extendedprice on l_quantity from exact
    DECIMAL(38,0) fixed-point sums — engine-order-independent operands,
    one scalar division each for slope/intercept/r2."""
    from smartpy_arc_spark.operators.stats import ols_fit

    li = _t(spark, sf_dir, "lineitem")
    return ols_fit(li, "l_quantity", "l_extendedprice")


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of event values (ts+event_id
    ordering), Pearson r from exact per-key integer-cents sums."""
    from smartpy_arc_spark.operators.stats import autocorrelation

    ev = _t(spark, sf_dir, "events")
    return autocorrelation(
        ev, "user_id", "ts", "value", lag=1, tiebreak_col="event_id"
    )


def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-concentration profile: Shannon entropy, HHI and
    top-category share from exact integer cell counts."""
    from smartpy_arc_spark.operators.stats import concentration

    docs = _t(spark, sf_dir, "documents")
    return concentration(docs, "source", "lang")


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus's own top-100 vocabulary
    (count desc, term asc tiebreak); vocab rides as one broadcast join."""
    from smartpy_arc_spark.operators.text import vocabulary_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocabulary_coverage(docs, vocab_size=100)


def q_equi_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth 10-bucket histogram of o_totalprice: one exact-percentile
    aggregate for all cutpoints, broadcast back, codegen'd bucket assign —
    no global sort/window over the data."""
    from smartpy_arc_spark.operators.quality import equi_depth_histogram

    orders = _t(spark, sf_dir, "orders")
    return equi_depth_histogram(orders, "o_totalprice", n_buckets=10)


def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2 interval) join: lineitem ship dates against a
    two-version supplier dimension (validity split at 1995-07-01), one
    equi-join shuffle on the key with the interval predicate attached."""
    from smartpy_arc_spark.operators.asof import point_in_time_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"),
        F.col("l_shipdate").alias("ts"),
        "l_extendedprice",
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    versions = sup.select(
        "s_suppkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("version"),
                    F.lit("1990-01-01").cast("date").alias("valid_from"),
                    F.lit("1995-07-01").cast("date").alias("valid_to"),
                    F.round(F.col("s_acctbal"), 2).alias("rate"),
                ),
                F.struct(
                    F.lit(2).alias("version"),
                    F.lit("1995-07-01").cast("date").alias("valid_from"),
                    F.lit("2000-01-01").cast("date").alias("valid_to"),
                    F.round(F.col("s_acctbal") + 500.0, 2).alias("rate"),
                ),
            )
        ).alias("v"),
    ).select("s_suppkey", "v.version", "v.valid_from", "v.valid_to", "v.rate")
    j = point_in_time_join(
        li, versions, key="s_suppkey", ts_col="ts", how="inner"
    )
    return j.groupBy("s_suppkey", "version").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


def q_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch hopping-window aggregation (1h window, 15min slide) via the
    F.window generator — each event covered by 4 overlapping windows,
    map-side partial aggregation intact; exact integer-cents sums."""
    from smartpy_arc_spark.operators.sessionize import hopping_window_counts

    ev = _t(spark, sf_dir, "events")
    return hopping_window_counts(ev)


def q_stream_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming profile (transformWithStateInPandas where
    the runtime supports it, applyInPandasWithState fallback — identical
    semantics): per-user event count, distinct event types, top type.
    Single availableNow batch → equals the batch aggregate."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        streaming_type_profile,
    )

    _prep(spark)
    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(
        streaming_type_profile(stream), output_mode="update"
    )


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=0.25) of event values: one in-order codegen
    fold per key — a left fold evaluates in a fixed order, so the result
    is bit-identical across engines; exposed as integer e4 ticks."""
    from smartpy_arc_spark.operators.resample import ewma

    ev = _t(spark, sf_dir, "events")
    out = ewma(
        ev, "user_id", "ts", "value",
        alpha=0.25, tiebreak_col="event_id", raw=True,
    )
    return out.select(
        "user_id",
        "n_obs",
        "last_value",
        # ONE rounding step, to integer — fractional round(x, n) has the
        # engine-specific binary-representation divergence; integer
        # rounding is tie-consistent (both engines round half away)
        F.round(F.col("ewma_value") * 10000).cast("long").alias("ewma_e4"),
    )


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the supplier co-order graph (suppkey <= 40):
    min hop distance from suppliers {1,2,3}, <= 6 hops.  Iterative
    frontier joins with localCheckpoint lineage truncation; oracle is a
    recursive CTE."""
    from smartpy_arc_spark.operators.components import bfs_distances

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.where("l_suppkey <= 40").alias("a")
    b = li.where("l_suppkey <= 40").alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
    )
    return bfs_distances(edges, [1, 2, 3], max_hops=6)


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of event values onto the global distribution
    per event_type: broadcast 1001-point exact quantile grid + per-group
    window rank, grid index in pure integer arithmetic."""
    from smartpy_arc_spark.operators.quality import quantile_normalize

    ev = _t(spark, sf_dir, "events")
    return quantile_normalize(
        ev, "event_type", "value", id_col="event_id", grid=1000
    )


def q_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue: monthly exact-cents totals, lag window
    over the (calendar-bounded) month sequence, delta and pct change in
    integer spaces.  The partition-less lag window holds one row per
    month — bounded by the calendar, not the data."""
    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("long")
            .alias("rev_cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    w = W.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "rev_cents",
        (F.col("rev_cents") - prev).alias("delta_cents"),
        F.when(
            prev.isNotNull() & (prev != 0),
            F.round(
                (F.col("rev_cents") - prev).cast("double")
                / prev.cast("double")
                * 10000
            ).cast("long"),
        ).alias("pct_change_e4"),
    )


def q_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless PPJoin-style set-similarity self-join (Jaccard >= 0.8)
    over a bounded document slice; the oracle runs the brute-force
    quadratic form, so a hash match proves the prefix filter loses
    nothing."""
    from smartpy_arc_spark.operators.dedup import set_similarity_join

    docs = _t(spark, sf_dir, "documents").where("doc_id < 300")
    return set_similarity_join(docs, threshold=0.8)


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity of per-source term-frequency vectors
    (sparse term-keyed self-join, never dense vectors)."""
    from smartpy_arc_spark.operators.text import source_similarity

    docs = _t(spark, sf_dir, "documents")
    return source_similarity(docs, "source")


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed d×d covariance of the embedding matrix (mapInPandas
    partial Gram per Arrow batch, one bounded (i,j)-keyed shuffle).

    Vectors are quantized to integer 1e6 ticks first, which makes every
    partial sum EXACT in any accumulation order — so the mapInPandas
    numpy path and the oracle's SQL sums meet bit-for-bit, something raw
    float sums cannot guarantee across engines."""
    from smartpy_arc_spark.operators.embedding import covariance_matrix

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * 1000000),
        ).alias("embedding"),
    )
    return covariance_matrix(q).select(
        "i", "j", F.col("cov").alias("cov_ticks2")
    )


def q_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of embeddings onto the top-4 principal components
    (driver-side d×d eigh on the distributed covariance; sign-normalized
    deterministic components).  Rows-only: eigendecomposition is not
    SQL-expressible; numerics pinned by unit tests against numpy.
    The ``pc`` array is projected to scalar columns (pc0..pc3 + norm, the
    ``q_lsa_embeddings`` pattern) so the driver canonicalizer — which
    sorts/hashes every cell — never sees an unhashable array cell."""
    from smartpy_arc_spark.operators.embedding import pca_project

    emb = _t(spark, sf_dir, "embeddings")
    out = pca_project(emb, k=4)
    return out.select(
        "vec_id",
        F.round(F.col("pc").getItem(0), 4).alias("pc0"),
        F.round(F.col("pc").getItem(1), 4).alias("pc1"),
        F.round(F.col("pc").getItem(2), 4).alias("pc2"),
        F.round(F.col("pc").getItem(3), 4).alias("pc3"),
        F.round(
            F.sqrt(F.aggregate("pc", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("norm"),
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit count-min sketch over corpus tokens (depth 4 × width 512
    bounded state, one shuffle), point-queried for fixed probe terms.
    Runs the ``portable_hash`` (md5) bucketing so DuckDB rebuilds the
    IDENTICAL sketch (``_cms_heavy_hitters_sql``) — converted from
    rows-only in round 7; the xxhash64 production default keeps its
    overestimate/error-bound unit tests against exact counts."""
    from smartpy_arc_spark.operators.sketch import cms_build, cms_estimate
    from smartpy_arc_spark.operators.text import alpha_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(alpha_tokens(F.col("text"))).alias("t"))
    sk = cms_build(toks, "t", width=512, depth=4, portable_hash=True)
    return cms_estimate(
        sk,
        ["the", "and", "data", "spark", "shuffle", "join", "quality", "zz"],
        width=512,
        depth=4,
        portable_hash=True,
    )


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 built-in XML source: write a nation slice as XML, read it
    back with explicit schema, aggregate — third text interchange format
    after CSV/JSONL, same single-pass schema-driven contract."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "sas_xml_ws", "nation.xml")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nat.write.mode("overwrite").format("xml").option("rowTag", "nation").save(d)
    back = (
        spark.read.format("xml")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .option("rowTag", "nation")
        .load(d)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").cast("long").alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT (df.unpivot / DuckDB UNPIVOT): per-segment
    metric matrix melted to (segment, metric, value) rows.  Every value
    is exact-representable (counts, exact-cents sums, 2-dec maxima) so
    the doubles compare bit-for-bit."""
    cust = _t(spark, sf_dir, "customer")
    wide = cust.groupBy("c_mktsegment").agg(
        F.count("*").cast("double").alias("n_cust"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("decimal(38,0)"))
        .cast("double")
        .alias("total_cents"),
        F.max("c_acctbal").alias("max_bal"),
    )
    return wide.unpivot(
        ["c_mktsegment"],
        ["n_cust", "total_cents", "max_bal"],
        "metric",
        "value",
    )


def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass Poisson bootstrap: 50 resampled means of event value,
    per-(row, replicate) Poisson(1) weights from a Knuth multiplicative
    hash in exact integer arithmetic — engine-reproducible bit-for-bit."""
    from smartpy_arc_spark.operators.stats import poisson_bootstrap

    ev = _t(spark, sf_dir, "events")
    return poisson_bootstrap(ev, "event_id", "value", n_replicates=50)


def q_stream_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING data source (PySpark 4 datasource API):
    deterministic bounded generator with offset tracking and replay,
    drained over multiple micro-batches until exhaustion.  The oracle
    regenerates the identical rows in closed form via generate_series —
    the source's only state is its integer offset."""
    from smartpy_arc_spark.sources.seqgen import register_seqgen
    from smartpy_arc_spark.streaming.stream import run_stream_until_idle

    register_seqgen(spark)
    st = (
        spark.readStream.format("seqgen")
        .option("n_total", 1000)
        .option("rows_per_batch", 500)
        .option("n_users", 50)
        .load()
    )
    agg = st.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("amount").cast("long").alias("total"),
    )
    return run_stream_until_idle(agg, output_mode="complete")


def q_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage: supplier names vs a deterministically
    dirtied copy (drop last char / append one), candidates only within
    (4-char prefix, 2-char length band) blocks, codegen levenshtein <= 2.
    The oracle mirrors the block predicate exactly (|band diff| <= 1)."""
    from smartpy_arc_spark.operators.linkage import fuzzy_link

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dirty = sup.select(
        (F.col("s_suppkey") + 10000).alias("d_id"),
        F.when(
            F.col("s_suppkey") % 2 == 0,
            F.expr("substring(s_name, 1, length(s_name) - 1)"),
        )
        .otherwise(F.concat(F.col("s_name"), F.lit("x")))
        .alias("d_name"),
    )
    return fuzzy_link(
        sup,
        dirty,
        left_id="s_suppkey",
        right_id="d_id",
        left_key="s_name",
        right_key="d_name",
        max_edit=2,
        block_prefix=4,
        length_band=2,
    )


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: per customer, pairs of orders whose
    20-day windows intersect (half-open; o1 < o2) — one equi-join
    shuffle on the customer key with both range conjuncts attached."""
    from smartpy_arc_spark.operators.asof import interval_overlap_join

    orders = (
        _t(spark, sf_dir, "orders")
        .where("o_custkey < 200")
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderdate").alias("w_start"),
            F.date_add(F.col("o_orderdate"), 20).alias("w_end"),
        )
    )
    a = orders.select(
        "o_custkey",
        F.col("okey").alias("okey_a"),
        F.col("w_start").alias("start_a"),
        F.col("w_end").alias("end_a"),
    )
    b = orders.select(
        "o_custkey",
        F.col("okey").alias("okey_b"),
        F.col("w_start").alias("start_b"),
        F.col("w_end").alias("end_b"),
    )
    j = interval_overlap_join(
        a, b,
        key="o_custkey",
        left_start="start_a", left_end="end_a",
        right_start="start_b", right_end="end_b",
    ).where(F.col("okey_a") < F.col("okey_b"))
    return j.select(
        "o_custkey", "okey_a", "okey_b",
        F.datediff(
            F.least(F.col("end_a"), F.col("end_b")),
            F.greatest(F.col("start_a"), F.col("start_b")),
        ).cast("int").alias("overlap_days"),
    )


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed (empirical-Bayes) target encoding of document source by
    n_chars: exact-integer label sums, one deterministic division."""
    from smartpy_arc_spark.operators.features import target_encode_smoothed

    docs = _t(spark, sf_dir, "documents")
    out = target_encode_smoothed(docs, "source", "n_chars", smoothing=20, scale=1)
    return out.select(
        "category", "n", F.round(F.col("enc") * 10000).cast("long").alias("enc_e4")
    )


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event value by event_type —
    the leakage-safe per-row form; exact cents before one division."""
    from smartpy_arc_spark.operators.features import target_encode_loo

    ev = _t(spark, sf_dir, "events")
    out = target_encode_loo(ev, "event_type", "value", id_col="event_id")
    return out.select(
        "event_id",
        "category",
        F.round(F.col("loo_enc") * 10000).cast("long").alias("loo_e4"),
    )


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing-trick encoding of (lang, source) into 256 buckets,
    rolled up to bucket mass.  Oracle-backed (round 6) via
    ``portable_hash=True`` (md5-derived hash) — bucketing/sign semantics
    verified cross-engine; the xxhash64 default remains the production
    fast path (collision-noise and determinism pinned by tests)."""
    from smartpy_arc_spark.operators.features import feature_hash

    docs = _t(spark, sf_dir, "documents")
    fh = feature_hash(
        docs, ["lang", "source"], n_features=256, portable_hash=True
    )
    return fh.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("sign").cast("long").alias("net_sign"),
    )


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (no stub): synthesize deterministic PCM16 WAV
    blobs per document (sawtooth samples, closed-form), parse the RIFF
    container and compute RMS/peak/duration with the pure-struct codec.
    The oracle rebuilds the identical samples via generate_series — the
    whole decode path is value-verified, not just row-counted."""
    from smartpy_arc_spark.multimodal.codecs import wav_features

    docs = _t(spark, sf_dir, "documents").where("doc_id < 200").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.codecs import make_wav

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                n = 160 + (int(d) % 5) * 80
                i = np.arange(n, dtype=np.int64)
                x = ((int(d) * 31 + i * 37) % 65536) - 32768
                payloads.append(make_wav(x.astype(np.int16), rate=16000))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    return wav_features(blobs)


def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (no stub): deterministic 24-bit BMPs per
    document (closed-form pixel function), parsed by the pure-struct
    codec into dimensions + exact channel means; closed-form oracle."""
    from smartpy_arc_spark.multimodal.codecs import bmp_features

    docs = _t(spark, sf_dir, "documents").where("doc_id < 200").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.codecs import make_bmp

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                h, w = 8 + d % 4, 8
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                img = ((d * 7 + y * 13 + x * 3 + c * 5) % 256).astype("uint8")
                payloads.append(make_bmp(img))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    return bmp_features(blobs)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the (lang, source) quasi-identifier over
    documents: per equivalence class size + k>=5 flag."""
    from smartpy_arc_spark.operators.checks import k_anonymity

    docs = _t(spark, sf_dir, "documents")
    return k_anonymity(docs, ["lang", "source"], k=5)


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two user cohorts' value
    distributions (fixed-width [0, 500) x 10 buckets, Laplace-smoothed);
    per-bucket terms and the scalar, integer-millionth scaled."""
    from smartpy_arc_spark.operators.checks import population_stability_index

    ev = _t(spark, sf_dir, "events")
    return population_stability_index(
        ev.where("user_id < 75"),
        ev.where("user_id >= 75"),
        "value",
        lo=0.0,
        hi=500.0,
        n_buckets=10,
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate delta maintenance: a per-customer (n, sum)
    aggregate updated from a synthetic CDC envelope (I/U/D with before/
    after images) WITHOUT rescanning the base - O(changes), not O(base).
    The oracle recomputes the post-change state from scratch, so the
    hash match proves delta-update == full-recompute."""
    from smartpy_arc_spark.operators.merge import incremental_agg_update

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("ticks"),
    )
    base = orders.where("o_orderkey % 7 != 0")
    agg = base.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ticks").cast("long").alias("sum_ticks"),
    )
    # envelope: rows % 7 == 0 arrive as I; % 5 == 0 (and in base) leave
    # as D; % 3 == 0 (in base, not deleted) re-price as U (+1000 ticks)
    inserts = orders.where("o_orderkey % 7 = 0").select(
        F.col("o_custkey").alias("k"), F.lit("I").alias("op"),
        F.col("ticks").alias("value_ticks"),
        F.lit(None).cast("long").alias("old_value_ticks"),
    )
    deletes = base.where("o_orderkey % 5 = 0").select(
        F.col("o_custkey").alias("k"), F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("value_ticks"),
        F.col("ticks").alias("old_value_ticks"),
    )
    updates = base.where("o_orderkey % 5 != 0 AND o_orderkey % 3 = 0").select(
        F.col("o_custkey").alias("k"), F.lit("U").alias("op"),
        (F.col("ticks") + 1000).alias("value_ticks"),
        F.col("ticks").alias("old_value_ticks"),
    )
    changes = inserts.unionAll(deletes).unionAll(updates)
    return incremental_agg_update(agg, changes, key_col="k")


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-planning skew profile of lineitem's supplier key: top-10
    heaviest keys, row share, and skew factor vs the per-key mean."""
    from smartpy_arc_spark.operators.scale import skew_report

    li = _t(spark, sf_dir, "lineitem")
    return skew_report(li, "l_suppkey", top_k=10)


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle: epoch-keyed Knuth-hash
    permutation of documents (same integer PRNG as poisson_bootstrap, so
    any engine derives the identical order).  TakeOrdered head - the
    global sort never materializes; at scale the full permutation is a
    sortWithinPartitions by the same key after a range exchange."""
    docs = _t(spark, sf_dir, "documents")
    epoch = 3
    pos = F.pmod(
        F.col("doc_id") * F.lit(2654435761) + F.lit(epoch * 40503),
        F.lit(4294967296),
    )
    return (
        docs.select("doc_id", "source", pos.alias("shuffle_pos"))
        .orderBy("shuffle_pos", "doc_id")
        .limit(20)
    )


def q_referential_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the star schema's FK arms (orders
    -> customer, lineitem -> orders/part/supplier): orphan + NULL-key
    counts per constraint via anti joins on distinct dim keys."""
    from smartpy_arc_spark.operators.checks import referential_report

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    a = referential_report(
        orders, [("o_custkey", cust, "c_custkey")], fact_name="orders"
    )
    b = referential_report(
        li,
        [
            ("l_orderkey", orders, "o_orderkey"),
            ("l_partkey", part, "p_partkey"),
            ("l_suppkey", sup, "s_suppkey"),
        ],
        fact_name="lineitem",
    )
    return a.unionAll(b)


# queries whose semantics changed after their last green stamp — treated
# as unstamped so the driver re-records them against the CURRENT code
_FORCE_RESTAMP: set[str] = set()  # duplicate_spans re-stamped green in r4


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-optimal (Neyman) sampling budget across document sources
    (n_h ∝ N_h·S_h over n_chars): exact fixed-point moments, one scalar
    broadcast, integer shares/allocations."""
    from smartpy_arc_spark.operators.sample import neyman_allocation

    docs = _t(spark, sf_dir, "documents")
    return neyman_allocation(docs, "source", "n_chars", budget=1000, scale=1)


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode (stdlib zlib inflate + all five scanline
    unfilters): deterministic RGB pixels round-tripped through a real
    compressed container; closed-form oracle on the same pixels."""
    from smartpy_arc_spark.multimodal.codecs import png_features

    docs = _t(spark, sf_dir, "documents").where("doc_id < 200").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.codecs import make_png

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                h, w = 8 + d % 4, 8
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                img = ((d * 11 + y * 17 + x * 5 + c * 3) % 256).astype("uint8")
                payloads.append(make_png(img))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    return png_features(blobs)


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths over the supplier co-order graph
    (weight = min co-occurrence linenumber sum, bounded slice) from
    suppliers {1,2,3}: distributed Bellman-Ford relaxation; recursive-CTE
    oracle with the same max-distance prune."""
    from smartpy_arc_spark.operators.components import shortest_paths

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    a = li.where("l_suppkey <= 30").alias("a")
    b = li.where("l_suppkey <= 30").alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .agg(
            F.min(F.col("a.l_linenumber") + F.col("b.l_linenumber"))
            .cast("long")
            .alias("w")
        )
    )
    return shortest_paths(edges, [1, 2, 3], max_dist=20, max_iters=15)


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensics on o_totalprice: observed vs
    log10(1+1/d) expectation with per-digit chi-square terms."""
    from smartpy_arc_spark.operators.stats import benford_deviation

    orders = _t(spark, sf_dir, "orders")
    return benford_deviation(orders, "o_totalprice")


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of event values: rank weighting from the
    distributed cumulative counts, DECIMAL(38,0) rank-weighted sums."""
    from smartpy_arc_spark.operators.stats import gini_coefficient

    ev = _t(spark, sf_dir, "events")
    return gini_coefficient(ev, "value")


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (average ranks for ties) between
    quantity and extended price: distributed doubled-rank contingencies
    via partitioned_cumsum, Pearson on exact DECIMAL sums."""
    from smartpy_arc_spark.operators.stats import spearman_corr

    li = _t(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_quantity", "l_extendedprice")


def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across order priorities: exact fixed-point grouped
    moments, deterministic sorted-order fold for the between-group term."""
    from smartpy_arc_spark.operators.stats import anova_oneway

    orders = _t(spark, sf_dir, "orders")
    return anova_oneway(orders, "o_orderpriority", "o_totalprice")


def q_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z (pooled SE): completion rate of URGENT vs LOW
    priority orders — exact counts, one deterministic float combine."""
    from smartpy_arc_spark.operators.stats import proportion_ztest

    orders = _t(spark, sf_dir, "orders")
    return proportion_ztest(
        orders,
        "o_orderpriority",
        F.col("o_orderstatus") == "F",
        "1-URGENT",
        "5-LOW",
    )


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM mean-shift detection on event values: integer-exact
    deviation cumsums (n·S_k − k·total), per-key windows only."""
    from smartpy_arc_spark.operators.stats import cusum_changepoints

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoints(
        ev, "user_id", ["ts", "event_id"], "value", threshold=500.0
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders: recency/frequency/monetary
    quintiles via distributed_ntile (no single-partition window)."""
    from smartpy_arc_spark.operators.features import rfm_segments

    orders = _t(spark, sf_dir, "orders")
    return rfm_segments(orders, "o_custkey", "o_orderdate", "o_totalprice")


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/any-touch attribution counts per channel: each purchase
    claims the touches since the user's previous purchase; per-user
    windows only, pure-integer output."""
    from smartpy_arc_spark.operators.funnel import touch_attribution

    ev = _t(spark, sf_dir, "events")
    return touch_attribution(
        ev, "user_id", ["ts", "event_id"], "event_type", "purchase"
    )


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-partitioned point-in-polygon join: customers as points,
    nations as deterministic pentagons; HOF ray cast on cell-local
    candidates only (no cross join), oracle = brute-force ray cast."""
    from smartpy_arc_spark.geometry.spatial_join import points_in_polygons

    nat = _t(spark, sf_dir, "nation")
    cx = ((F.col("n_nationkey") * 37) % 90).cast("double")
    cy = ((F.col("n_nationkey") * 73) % 90).cast("double")
    r = (F.lit(3) + F.col("n_nationkey") % 5).cast("double")

    def v(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    polys = nat.select(
        F.col("n_nationkey").alias("poly_id"),
        F.array(
            v(cx + r, cy),
            v(cx, cy + r),
            v(cx - r, cy),
            v(cx - r / 2.0, cy - r),
            v(cx + r / 2.0, cy - r),
            v(cx + r, cy),
        ).alias("ring"),
    )
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        (((F.col("c_custkey") * 17) % 9000).cast("double") / 100.0).alias("x"),
        (((F.col("c_custkey") * 29) % 9000).cast("double") / 100.0).alias("y"),
    )
    return points_in_polygons(
        pts, polys, cell_size=14.0, point_id="c_custkey"
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION: learn 8 merges on the corpus, then
    tokenize every document with the merge chain compiled into one
    row-local HOF expression (map-only).  Oracle-backed (round 6):
    ``_bpe_encode_sql`` re-learns the same merges (the proven
    ``_bpe_chain_ctes`` rounds) and applies them as nested list_reduce
    folds; greedy-fold semantics additionally pinned by unit tests
    against a pure-Python reference encoder."""
    from smartpy_arc_spark.operators.bpe import bpe_encode, learn_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    merges = [(l, r) for _, l, r, _ in learn_bpe_merges(docs, n_merges=8)]
    return bpe_encode(docs, merges)


def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt level+trend smoothing with a 3-step forecast: the
    same bit-exact in-order fold contract as ewma, struct accumulator,
    dyadic α=0.5 / β=0.25 on fixed-point ticks."""
    from smartpy_arc_spark.operators.resample import holt_linear

    ev = _t(spark, sf_dir, "events")
    return holt_linear(
        ev, "user_id", "ts", "value", tiebreak_col="event_id"
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities over the
    co-order supplier graph (same bounded fixture as bfs_hops).
    Oracle-backed (round 6): ``_label_propagation_sql`` unrolls the same
    6 synchronous rounds with the same self-vote and smallest-label
    tie-break — all-integer, so no float brittleness."""
    from smartpy_arc_spark.operators.components import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("dst"))
    edges = (
        a.join(b, "o")
        .where(F.col("src") < F.col("dst"))
        .where((F.col("src") <= 40) & (F.col("dst") <= 40))
        .select("src", "dst")
        .distinct()
    )
    return label_propagation(edges, max_iter=6)


def q_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between quantity and discount via 2D prefix sums on
    the dense contingency grid — concordant/discordant pair counts with
    zero pair enumeration."""
    from smartpy_arc_spark.operators.stats import kendall_tau_b

    li = _t(spark, sf_dir, "lineitem")
    return kendall_tau_b(li, "l_quantity", "l_discount")


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column table profile of orders: counts, nulls, exact
    distincts, min/max, exact fixed-point means — single aggregate."""
    from smartpy_arc_spark.operators.checks import profile_table

    orders = _t(spark, sf_dir, "orders")
    return profile_table(orders)


def q_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy linkage (same fixture
    as fuzzy_link) feeds connected components, producing resolved-entity
    clusters with keeper flags — the composition a dedup pipeline
    actually runs.  Oracle = mirrored block predicate + recursive-CTE
    reachability closure."""
    from smartpy_arc_spark.operators.components import connected_components
    from smartpy_arc_spark.operators.linkage import fuzzy_link

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dirty = sup.select(
        (F.col("s_suppkey") + 10000).alias("d_id"),
        F.when(
            F.col("s_suppkey") % 2 == 0,
            F.expr("substring(s_name, 1, length(s_name) - 1)"),
        )
        .otherwise(F.concat(F.col("s_name"), F.lit("x")))
        .alias("d_name"),
    )
    pairs = fuzzy_link(
        sup,
        dirty,
        left_id="s_suppkey",
        right_id="d_id",
        left_key="s_name",
        right_key="d_name",
        max_edit=2,
        block_prefix=4,
        length_band=2,
    )
    comp = connected_components(
        pairs, src_col="left_id", dst_col="right_id"
    )
    return comp.select(
        "node",
        "component",
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of the (lang, source) QI over documents with
    doc-length decile as the sensitive attribute — class sizes, distinct
    sensitive counts, modal sensitive count, l>=3 flag."""
    from smartpy_arc_spark.operators.checks import l_diversity

    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_decile", (F.col("n_chars") / 100).cast("int")
    )
    return l_diversity(docs, ["lang", "source"], "len_decile", l=3)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus n-gram novelty per document: fraction of its word
    trigrams appearing in no other document (gram-keyed shuffles only)."""
    from smartpy_arc_spark.operators.text import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=3)


def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup: deterministic BMPs (50 distinct images,
    4 copies each via doc_id % 50) → real decode → integer aHash →
    hash-groupBy duplicate clusters with min-id keepers.  Oracle-backed
    (round 6): the synthetic pixels are closed-form in the class id and
    aHash is all-integer, so ``_image_dedup_sql`` recomputes every
    class's 64-bit hash from scratch in SQL — the decode+hash pipeline
    is value-verified cross-engine, not just row-counted."""
    from smartpy_arc_spark.multimodal.codecs import image_ahash
    from smartpy_arc_spark.session import ensure_worker_imports

    docs = _t(spark, sf_dir, "documents").where("doc_id < 200").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.codecs import make_bmp

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d) % 50
                h, w = 8 + d % 4, 8
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                # spatial frequencies vary with d (aHash ignores constant
                # brightness shifts, so d must bend the PATTERN)
                img = (
                    (y * (13 + 11 * d) + x * (3 + 7 * d) + c * 5) % 256
                ).astype("uint8")
                payloads.append(make_bmp(img))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    hashed = image_ahash(blobs)
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("item_id").alias("keeper_id"),
        )
    )


def q_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (2h window / 1h slide) event-time aggregate on the event
    stream, watermark-bounded, drained to memory — each event lands in
    exactly two overlapping windows; oracle is the 2-way window expand."""
    from smartpy_arc_spark.streaming.stream import (
        hopping_event_counts,
        read_events_stream,
        run_stream_to_memory,
    )

    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(hopping_event_counts(stream))


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity-aware selection of 10 representatives from the
    embedding corpus: k distributed argmax rounds, selected vectors as
    broadcast literals.  Oracle-backed (round 6): ``_mmr_select_sql``
    unrolls the same 10 greedy rounds with exact-fold cosines and the
    same (mmr desc, id asc) argmax; also pinned against a numpy greedy
    reference in tests."""
    from smartpy_arc_spark.operators.embedding import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_select(emb, k=10, lam=0.7)


def q_cdc_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed generation: diff customer v1 vs a deterministic
    v2 (drops, balance updates, inserts) into I/U/D records — the
    converse of cdc_apply, round-trip-verified in tests."""
    from smartpy_arc_spark.operators.merge import generate_cdc

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v2 = (
        cust.where("c_custkey % 17 != 0")
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 10 == 0,
                F.round(F.col("c_acctbal") * 2, 2),
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            cust.where("c_custkey < 50").select(
                (F.col("c_custkey") + 100000).alias("c_custkey"),
                F.col("c_name"),
                F.col("c_acctbal"),
            )
        )
    )
    out = generate_cdc(cust, v2, key_col="c_custkey")
    return out.select(
        "op",
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal"), 2).alias("bal"),
    )


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus: stopword-delimited
    candidate phrases, degree/frequency word scores rounded to integer
    millionths BEFORE the phrase sum (order-free integer aggregates)."""
    from smartpy_arc_spark.operators.text import rake_keywords

    docs = _t(spark, sf_dir, "documents")
    return rake_keywords(docs, top_k=20)


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope of extendedprice vs quantity (disjoint
    rank pairs, deterministic lower-median selection) — the
    outlier-resistant companion to ols_regression."""
    from smartpy_arc_spark.operators.stats import theil_sen

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "uid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    return theil_sen(li, "l_quantity", "l_extendedprice", "uid")


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline of (quantity, extendedprice): per-distinct-x
    max + distributed suffix max — no point-to-point comparisons."""
    from smartpy_arc_spark.operators.stats import pareto_frontier_2d

    li = _t(spark, sf_dir, "lineitem")
    return pareto_frontier_2d(li, "l_quantity", "l_extendedprice")


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: cumulative
    revenue share via partitioned_cumsum in DESC revenue order, class
    cuts (80/95%) compared entirely in integer cents."""
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
        )
        .cast("long")
        .alias("rev_c")
    )
    # the cumsum's per-partition-totals collect already summed rev_c —
    # the former separate rev.agg(sum) re-ran the whole lineitem groupBy
    # a second time for one scalar (r11, guide §2.1/§5.3)
    gt: dict = {}
    cum = partitioned_cumsum(
        rev.withColumn("neg", -F.col("rev_c")), ["neg", "l_partkey"], ["rev_c"],
        grand_totals=gt,
    )
    c = F.col("cum_rev_c").cast("decimal(38,0)")
    t = F.col("total").cast("decimal(38,0)")
    cls = (
        F.when(c * 100 <= t * 80, "A")
        .when(c * 100 <= t * 95, "B")
        .otherwise("C")
    )
    return (
        cum.withColumn("total", F.lit(int(gt["rev_c"])).cast("long"))
        .select(
            "l_partkey",
            "rev_c",
            F.col("cum_rev_c").cast("long").alias("cum_rev_c"),
            cls.alias("abc_class"),
        )
    )


def q_luhn_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum validation (codegen HOF digit walk) over synthetic
    16-digit account numbers, valid/total counts per market segment —
    the false-positive filter composing with pii_redact."""
    from smartpy_arc_spark.operators.quality import luhn_valid

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.lpad((F.col("c_custkey") * 7919).cast("string"), 16, "0").alias("s"),
    )
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(luhn_valid(F.col("s")), 1).otherwise(0))
        .cast("long")
        .alias("n_luhn_valid"),
    )


def q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest: hour-of-day value profile per event type
    trained before Jan 22, MAE on the last week — exact integer error
    numerators, one division per (type, hour) cell."""
    from smartpy_arc_spark.operators.resample import seasonal_naive_eval

    ev = _t(spark, sf_dir, "events")
    return seasonal_naive_eval(
        ev, "event_type", "ts", "value", "2024-01-22 00:00:00"
    )


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of customer order-span durations (event =
    ever had a finalized order; open-status customers censored): exact
    at-risk prefix counts, in-order product fold per curve point."""
    from smartpy_arc_spark.operators.stats import kaplan_meier

    orders = _t(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
        .cast("long")
        .alias("dur"),
        F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("int")
        .alias("ev"),
    )
    return kaplan_meier(per_c, "dur", "ev")


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of event values: exact DECIMAL
    value×duration areas in microseconds, one division per key."""
    from smartpy_arc_spark.operators.resample import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    return time_weighted_avg(
        ev, "user_id", "ts", "value", tiebreak_col="event_id"
    )


def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weiszfeld geometric median of the embedding corpus: 10 rounds of
    one distributed Σv/d, Σ1/d aggregate each (estimate broadcast as
    literals).  Oracle-backed since r7 (VERDICT item 7): each round's
    contributions pre-round to e12 integer ticks summed as
    DECIMAL(38,0) — order-free EXACT sums — and the update is one
    double division of the two tick totals, so the whole 10-round
    iteration is bit-identical across engines at full production speed
    (plain codegen'd integer sums, no per-group state);
    ``_geometric_median_sql`` replays it as 10 unrolled CTE rounds.
    Also pinned against a numpy Weiszfeld reference in tests."""
    from smartpy_arc_spark.operators.embedding import geometric_median

    emb = _t(spark, sf_dir, "embeddings")
    out = geometric_median(emb, n_iter=10)
    return out.select(
        "n",
        "n_iter",
        F.posexplode(
            F.transform(
                F.col("median"), lambda x: F.round(x * 10000).cast("long")
            )
        ).alias("pos", "m_e4"),
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between order priority and status:
    contingency cells + broadcast margins, per-cell terms pre-rounded to
    integer nanonats so the sum is order-free."""
    from smartpy_arc_spark.operators.stats import mutual_information

    orders = _t(spark, sf_dir, "orders")
    return mutual_information(orders, "o_orderpriority", "o_orderstatus")


def q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval around the per-priority mean order price
    (alpha = 0.1): exact order-statistic q-hat from the calibration
    split, held-out coverage count."""
    from smartpy_arc_spark.operators.stats import conformal_interval

    orders = _t(spark, sf_dir, "orders")
    return conformal_interval(
        orders, "o_orderpriority", "o_totalprice", ["o_orderkey"]
    )


def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive md5 mod-sum checksum of the customer table's
    integer/string columns — the replication-reconciliation primitive
    (float columns need a fixed-decimal cast first; documented)."""
    from smartpy_arc_spark.operators.checks import table_fingerprint

    cust = _t(spark, sf_dir, "customer")
    return table_fingerprint(
        cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    )


def q_fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width flat-file interchange: write a customer slice with
    copybook padding (strings left-, numbers right-aligned), read it
    back through positional slicing — oracle is the source table, so a
    hash match proves write∘read is the identity."""
    import os
    import tempfile

    from smartpy_arc_spark.sources.fixedwidth import (
        read_fixed_width,
        write_fixed_width,
    )

    d = os.path.join(tempfile.gettempdir(), "sas_fixedwidth_ws", "cust")
    spec = [
        ("c_custkey", 10, "bigint"),
        ("c_mktsegment", 12, "string"),
        ("c_nationkey", 5, "int"),
    ]
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    write_fixed_width(cust, d, spec)
    return read_fixed_width(spark, d, spec)


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a 3-supplier seed set over the
    customer<->supplier trade graph (2 fixed iterations, restart mass on
    the seeds) — proximity-to-seeds ranking; oracle is the same power
    iteration unrolled in SQL."""
    from smartpy_arc_spark.operators.components import personalized_pagerank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ppr = personalized_pagerank(
        edges, ["s1", "s2", "s3"], iterations=2, damping=0.85,
        assume_distinct=True,
    )
    return ppr.select("node", F.round("rank", 6).alias("rank"))


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy: integer-nanonat
    terms summed order-free — the gibberish/padding quality signal."""
    from smartpy_arc_spark.operators.text import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the directed customer→supplier trade
    graph (2 fixed L1-normalized iterations); oracle is the iteration
    unrolled in SQL."""
    from smartpy_arc_spark.operators.components import hits

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return hits(edges, iterations=2)


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation weighted (lower) median of customer balances, weighted
    by each customer's order count — pure integer selection rule, no
    interpolation to diverge between engines."""
    from smartpy_arc_spark.operators.quality import weighted_median

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    w = orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    base = cust.join(w, cust["c_custkey"] == w["o_custkey"]).select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "n_orders",
    )
    return weighted_median(base, "c_nationkey", "bal_c", "n_orders")


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B|/|A| over a bounded doc
    subset — catches embedded/wrapped duplicates symmetric Jaccard
    misses; threshold 0.5 to surface partial embeddings."""
    from smartpy_arc_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").where("doc_id < 40")
    return containment_pairs(docs, n=3, min_containment=0.5)


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio (RefinedWeb-style redundancy
    signal) via Arrow-batched mapInPandas + stdlib zlib.  No SQL oracle
    (library codec); determinism + band behavior pinned in tests.
    FENCED (VERDICT r10 item 4): in-query asserts that (a) every row's
    ``n_bytes`` equals the source text's UTF-8 octet length and
    ``ratio_e4`` is consistent with n_compressed/n_bytes, (b) compressed
    output is non-empty for non-empty input, and (c) byte-identical texts
    compress to byte-identical sizes (determinism) — raising on any
    violation so the rows-only stamp asserts codec semantics."""
    from smartpy_arc_spark.operators.quality import compression_ratio

    docs = _t(spark, sf_dir, "documents")
    out = compression_ratio(docs).localCheckpoint(eager=True)
    joined = out.join(docs.select("doc_id", "text"), "doc_id")
    bad = joined.where(
        (F.col("n_bytes") != F.octet_length("text"))
        | ((F.col("n_bytes") > 0) & (F.col("n_compressed") <= 0))
        | (
            (F.col("n_bytes") > 0)
            & (
                F.col("ratio_e4")
                # replicate the operator's Python arithmetic EXACTLY:
                # round(nc/nb*10000) is a banker's round (HALF_EVEN →
                # bround) of (nc/nb) computed FIRST — the former
                # HALF_UP round of nc*10000/nb diverged on exact .5
                # ties (15 rows at sf0.1; latent since the fence
                # landed, surfaced by the r12 full-surface scan)
                != F.bround(
                    F.col("n_compressed").cast("double")
                    / F.col("n_bytes") * 10000
                ).cast("long")
            )
        )
    ).count()
    if bad:
        raise AssertionError(
            f"compression_ratio fence: {bad} rows with inconsistent "
            "n_bytes/n_compressed/ratio_e4"
        )
    nondet = (
        joined.groupBy("text")
        .agg(F.count_distinct("n_compressed").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    if nondet:
        raise AssertionError(
            f"compression_ratio fence: {nondet} identical texts with "
            "differing compressed sizes (non-deterministic codec)"
        )
    return out


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: 3 hash-chosen
    non-purchased part groups per customer (bounded broadcast pool,
    left-anti positives, per-anchor window)."""
    from smartpy_arc_spark.operators.sample import negative_samples

    orders = _t(spark, sf_dir, "orders").where("o_custkey < 100").select(
        "o_orderkey", "o_custkey"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    positives = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_partkey") % 200).alias("part_group"),
        )
    )
    pool = spark.range(200).select(F.col("id").alias("part_group"))
    return negative_samples(
        positives, pool, anchor_col="cust", item_col="part_group", k=3
    )


def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do BUILDING and MACHINERY customers share the same
    order-span survival curve?  Same duration/event fixture as
    kaplan_meier, per-term integer-nanounit portability."""
    from smartpy_arc_spark.operators.stats import log_rank_test

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_c = (
        orders.groupBy("o_custkey")
        .agg(
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
            .cast("long")
            .alias("dur"),
            F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("int")
            .alias("ev"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    return log_rank_test(
        per_c, "c_mktsegment", "dur", "ev", "BUILDING", "MACHINERY"
    )


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-purchase cosine over order baskets (part groups):
    basket-local self-join, broadcast supports, per-item top-5."""
    from smartpy_arc_spark.operators.itemsets import item_similarity

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("part_group")
    )
    return item_similarity(
        li,
        basket_col="l_orderkey",
        item_col="part_group",
        min_cooccur=20,
        top_k_per_item=5,
    )


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus word-frequency distribution: OLS of
    ln(freq) on ln(rank), per-point integer-nanounit pre-rounding."""
    from smartpy_arc_spark.operators.text import zipf_slope

    docs = _t(spark, sf_dir, "documents")
    return zipf_slope(docs, top_n=500)


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge: one golden record per synthetic duplicate
    cluster (custkey % 500), latest-non-null per field — the step after
    linkage_clusters in an MDM pipeline."""
    from smartpy_arc_spark.operators.linkage import golden_record

    cust = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 500).alias("dup_cluster"),
        F.col("c_custkey"),
        F.when(F.col("c_custkey") % 3 != 0, F.col("c_name")).alias("name"),
        F.when(
            F.col("c_custkey") % 4 != 0,
            F.round(F.col("c_acctbal") * 100).cast("long"),
        ).alias("bal_c"),
        F.col("c_mktsegment").alias("segment"),
    )
    return golden_record(
        cust, "dup_cluster", "c_custkey", ["name", "bal_c", "segment"]
    )


def q_recs_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end recommender evaluation: hash-split orders 80/20, fit
    item-item similarity on train, recommend the top-3 neighbors of each
    customer's modal train item, and score a hit when a heldout purchase
    lands in the recs — the full train/recommend/evaluate loop as one
    oracle-backed query."""
    from smartpy_arc_spark.operators.itemsets import item_similarity

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # one eager materialization of the joined projection (r11, guide §5):
    # train feeds BOTH the similarity fit and the profile pass, and test
    # the scoring join — the lineitem⋈orders join used to execute once
    # per consumer (the logistic pattern)
    purchases = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.col("o_custkey").alias("cust"),
        F.col("l_orderkey").alias("okey"),
        (F.col("l_partkey") % 100).alias("item"),
    ).localCheckpoint(eager=True)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("okey").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    train = purchases.where(bucket < 80)
    test = purchases.where(bucket >= 80)
    sims = item_similarity(
        train,
        basket_col="okey",
        item_col="item",
        min_cooccur=10,
        top_k_per_item=3,
    )
    profile = (
        train.groupBy("cust", "item")
        .agg(F.count("*").alias("n"))
        .groupBy("cust")
        .agg(
            F.max(
                F.struct(F.col("n"), (-F.col("item")).alias("ni"))
            ).alias("top")
        )
        .select("cust", (-F.col("top.ni")).alias("profile_item"))
    )
    recs = profile.join(
        sims.select(
            F.col("item_a").alias("profile_item"),
            F.col("item_b").alias("rec_item"),
        ),
        "profile_item",
    )
    heldout = test.select("cust", F.col("item").alias("rec_item")).distinct()
    hits = recs.join(heldout, ["cust", "rec_item"]).select(
        "cust", F.lit(1).alias("h")
    ).distinct()
    return (
        profile.join(hits, "cust", "left")
        .groupBy("profile_item")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(F.coalesce(F.col("h"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
    )


def q_stream_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming EWMA anomaly monitor drained to memory: per
    user, values deviating >200 from the running level count as
    anomalies before updating it; oracle replays the identical in-order
    fold (single-batch drain contract)."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        streaming_ewma_anomaly,
    )

    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(
        streaming_ewma_anomaly(stream), output_mode="update"
    )


def q_wav_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio features over deterministic pure-tone WAVs
    (tone frequency varies with doc_id): dominant/centroid/bandwidth Hz
    via numpy rFFT in mapInPandas.  No SQL oracle (FFT); pinned by
    closed-form pure-tone expectations in tests.  FENCED (VERDICT r10
    item 4): the tones are synthesized at 250·(1+doc_id%8) Hz on exact
    rFFT bins (25·(1+k) cycles in 1600 samples at 16 kHz), so in-query
    the dominant frequency must equal the synthesized tone within 1 Hz
    and the centroid within 10 Hz (int16 quantization noise) — raising
    on violation so the rows-only stamp asserts spectral semantics."""
    from smartpy_arc_spark.multimodal.codecs import wav_spectral_features
    from smartpy_arc_spark.session import ensure_worker_imports

    docs = _t(spark, sf_dir, "documents").where("doc_id < 100").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.codecs import make_wav

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                rate, n = 16000, 1600
                freq = 250.0 * (1 + d % 8)  # 250..2000 Hz tones
                i = np.arange(n)
                x = (10000 * np.sin(2 * np.pi * freq * i / rate)).astype(
                    "int16"
                )
                payloads.append(make_wav(x, rate=rate))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    out = wav_spectral_features(blobs).localCheckpoint(eager=True)
    expected = (250 * (1 + F.col("item_id") % 8) * 100).cast("long")
    bad = out.where(
        (F.abs(F.col("dominant_hz_e2") - expected) > 100)
        | (F.abs(F.col("centroid_hz_e2") - expected) > 1000)
        | (F.col("sample_rate") != 16000)
        | (F.col("n_samples") != 1600)
    ).collect()
    if bad:
        raise AssertionError(
            "wav_spectral fence: dominant/centroid off the synthesized "
            "tone: " + ", ".join(
                f"id={r['item_id']}: dom={r['dominant_hz_e2']} "
                f"cen={r['centroid_hz_e2']}" for r in bad[:5]
            )
        )
    return out


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: synthetic deterministic probabilities
    vs 'order finalized' outcomes, per-row predictions pre-rounded to
    integer millionths before the bin sums."""
    from smartpy_arc_spark.operators.checks import calibration_bins

    orders = _t(spark, sf_dir, "orders").withColumn(
        "p", ((F.col("o_orderkey") * 37) % 1000).cast("double") / 1000.0
    )
    return calibration_bins(
        orders, "p", F.col("o_orderstatus") == "F", n_bins=10
    )


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix: the lang_id heuristic's
    predictions against the corpus's ground-truth lang column, one row
    per (truth, predicted) cell."""
    from smartpy_arc_spark.operators.text import lang_id_heuristic

    docs = _t(spark, sf_dir, "documents")
    pred = lang_id_heuristic(docs).select("doc_id", "predicted_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error over the calibration bins: the
    bin-weighted mean |avg_pred − pos_rate|, exact integer numerator
    and ONE division — the scalar behind the reliability diagram."""
    from smartpy_arc_spark.operators.checks import calibration_bins

    orders = _t(spark, sf_dir, "orders").withColumn(
        "p", ((F.col("o_orderkey") * 37) % 1000).cast("double") / 1000.0
    )
    bins = calibration_bins(
        orders, "p", F.col("o_orderstatus") == "F", n_bins=10
    )
    return bins.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.round(
            F.sum(
                F.col("n").cast("decimal(38,0)")
                * F.abs(F.col("avg_pred_e6") - F.col("pos_rate_e6"))
            ).cast("double")
            / F.sum("n").cast("double")
        )
        .cast("long")
        .alias("ece_e6"),
    )


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC from the Mann-Whitney identity
    ``AUC = U_pos / (n_pos · n_neg)`` — tie-correct (average ranks),
    computed on the distinct-score contingency via partitioned_cumsum,
    one division at the end.  Same fixture as the calibration queries."""
    from smartpy_arc_spark.operators.stats import mann_whitney_u

    scored = _t(spark, sf_dir, "orders").select(
        (((F.col("o_orderkey") * 37) % 1000).cast("double") / 1000.0).alias(
            "p"
        ),
        F.when(F.col("o_orderstatus") == "F", "pos")
        .otherwise("neg")
        .alias("y"),
    )
    mw = mann_whitney_u(scored, "y", "p", "pos", "neg")
    return mw.select(
        "n_a",
        "n_b",
        F.round(
            F.col("u2_a").cast("double")
            / (F.lit(2.0) * (F.col("n_a") * F.col("n_b")).cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("auc_e6"),
    )


def q_classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded precision/recall/F1/accuracy/Brier in one aggregate
    pass over the synthetic calibration fixture."""
    from smartpy_arc_spark.operators.checks import classification_metrics

    orders = _t(spark, sf_dir, "orders").withColumn(
        "p", ((F.col("o_orderkey") * 37) % 1000).cast("double") / 1000.0
    )
    return classification_metrics(
        orders, "p", F.col("o_orderstatus") == "F", threshold=0.5
    )


def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table: score-ranked deciles via
    distributed_ntile (descending score, deterministic tiebreak), per-
    decile response counts — lift is the consumer's one division."""
    from smartpy_arc_spark.operators.scale import distributed_ntile

    scored = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        (((F.col("o_orderkey") * 37) % 1000).cast("double") / 1000.0).alias(
            "p"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    # descending score: ntile over the NEGATED score with the key tiebreak
    binned = distributed_ntile(
        scored.withColumn("np", -F.col("p")),
        ["np", "o_orderkey"],
        10,
        out_col="decile",
    )
    return binned.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(F.sum(F.round(F.col("p") * 1000000).cast("long")))
        .cast("long")
        .alias("sum_pred_e6"),
    )


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new/retained/resurrected/churned decomposition of the
    event user base — per-user lag/lead windows, bounded weekly counts."""
    from smartpy_arc_spark.operators.sessionize import growth_accounting

    ev = _t(spark, sf_dir, "events")
    return growth_accounting(ev)


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the corpus truth lang and the lang_id
    heuristic — chance-corrected annotator agreement over the same
    confusion table as langid_confusion."""
    from smartpy_arc_spark.operators.stats import cohens_kappa
    from smartpy_arc_spark.operators.text import lang_id_heuristic

    docs = _t(spark, sf_dir, "documents")
    pred = lang_id_heuristic(docs).select("doc_id", "predicted_lang")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    return cohens_kappa(joined, "lang", "predicted_lang")


def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB configuration of `percentiles`: ``approx_percentile``
    (KLL-style mergeable sketch, accuracy 1/10000) replaces the exact
    buffered aggregate — partials combine map-side, no single-node
    percentile buffer.  Rows-only check: the sketch is engine-specific,
    so no bit-exact DuckDB oracle exists by construction; the exact
    variant (`percentiles`) carries the value-hash evidence.  FENCED
    (VERDICT r10 item 4): each returned quantile's exact rank is checked
    in-query against its target via frac_lt/frac_le bounds (±0.5%; the
    sketch's guarantee at accuracy 10000 is 0.01%, the slack covers the
    4-decimal display rounding), raising on violation."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)"
            ).alias("_p"),
            F.round(
                F.expr("approx_percentile(l_quantity, 0.25, 10000)"), 4
            ).alias("p25_qty"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("_p")[0], 4).alias("median_price"),
            F.round(F.col("_p")[1], 4).alias("p90_price"),
            "p25_qty",
        )
        .orderBy("l_returnflag")
    ).localCheckpoint(eager=True)
    price, qty = F.col("l_extendedprice"), F.col("l_quantity")
    tol = 0.005
    checks = (
        out.join(li, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.avg((price <= F.col("median_price")).cast("double")).alias("m_le"),
            F.avg((price < F.col("median_price")).cast("double")).alias("m_lt"),
            F.avg((price <= F.col("p90_price")).cast("double")).alias("p_le"),
            F.avg((price < F.col("p90_price")).cast("double")).alias("p_lt"),
            F.avg((qty <= F.col("p25_qty")).cast("double")).alias("q_le"),
            F.avg((qty < F.col("p25_qty")).cast("double")).alias("q_lt"),
        )
        .where(
            (F.col("m_le") < 0.5 - tol) | (F.col("m_lt") > 0.5 + tol)
            | (F.col("p_le") < 0.9 - tol) | (F.col("p_lt") > 0.9 + tol)
            | (F.col("q_le") < 0.25 - tol) | (F.col("q_lt") > 0.25 + tol)
        )
        .collect()
    )
    if checks:
        raise AssertionError(
            "approx_percentile outside the 0.5% rank fence: "
            + ", ".join(
                f"{r['l_returnflag']}: m∈[{r['m_lt']:.4f},{r['m_le']:.4f}] "
                f"p90∈[{r['p_lt']:.4f},{r['p_le']:.4f}] "
                f"q25∈[{r['q_lt']:.4f},{r['q_le']:.4f}]" for r in checks
            )
        )
    return out


def q_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB configuration of `profile`: ``approx_count_distinct``
    (HLL++) replaces the exact multi-distinct, eliminating the Expand
    stage — one sketch per column, map-side mergeable.  Rows-only: HLL
    estimates are engine-specific; the exact variant (`profile`) carries
    the value-hash evidence.  FENCED (VERDICT r10 item 4): the approx
    profile is joined per column against the exact profile — every
    non-sketch column (n_rows/n_null/min/max/mean) must match EXACTLY
    (approx swaps only the distinct estimator) and ``n_distinct`` must
    land within ±5% of the exact count — raising on violation."""
    from smartpy_arc_spark.operators.checks import profile_table

    orders = _t(spark, sf_dir, "orders")
    out = profile_table(orders, approx=True).localCheckpoint(eager=True)
    exact = profile_table(orders, approx=False).select(
        "column",
        F.col("n_rows").alias("xn"), F.col("n_null").alias("xnul"),
        F.col("n_distinct").alias("xdis"),
        F.col("min_value").alias("xmin"), F.col("max_value").alias("xmax"),
        F.col("mean_e4").alias("xavg"),
    )
    bad = out.join(exact, "column").where(
        (F.col("n_rows") != F.col("xn"))
        | (F.col("n_null") != F.col("xnul"))
        | (F.col("min_value") != F.col("xmin"))
        | (F.col("max_value") != F.col("xmax"))
        | ~(
            F.col("mean_e4").eqNullSafe(F.col("xavg"))
        )
        | (F.abs(F.col("n_distinct") / F.col("xdis") - 1) > 0.05)
    ).collect()
    if bad:
        raise AssertionError(
            "profile_approx fence: columns diverging from the exact "
            "profile: " + ", ".join(
                f"{r['column']} (dis {r['n_distinct']} vs {r['xdis']})"
                for r in bad
            )
        )
    return out


def q_minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale MinHash-LSH configuration: exact duplicates collapse
    to a min-id representative before banding, and any (band, bucket) above
    64 members spills to representative star edges instead of quadratic
    pairs — so one boilerplate-heavy hot bucket can no longer dominate the
    stage.  Oracle-backed (round 6) via ``portable_hash=True``
    (``_minhash_pairs_sql(capped=64)`` mirrors collapse, banding, cap
    spill and the jaccard estimates); `minhash_pairs` is the uncapped
    classic-LSH reference output."""
    from smartpy_arc_spark.operators.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        docs, shingle_mode="word", shingle_size=3,
        collapse_exact=True, max_bucket_size=64, portable_hash=True,
    )


def q_lsh_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket diagnostics for the capped configuration: bucket
    counts, hottest bucket, docs in oversized buckets, and quadratic-vs-
    star-spilled pair counts — the no-silent-truncation audit companion of
    `minhash_pairs_capped`.  Oracle-backed (round 6) via
    ``portable_hash=True`` (``_lsh_bucket_report_sql`` mirrors banding +
    rollup)."""
    from smartpy_arc_spark.operators.dedup import minhash_lsh_bucket_stats

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_bucket_stats(
        docs, shingle_mode="word", shingle_size=3, max_bucket_size=64,
        portable_hash=True,
    )


def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro interchange via the pure-Python Object Container File codec
    (sources/avro.py — the spark-avro SQL datasource jar is absent from
    this distribution): write an orders slice as deflate-compressed Avro
    (one container per partition, executor-side), read it back through
    scan(fmt='avro') with sync-marker-splittable partitions, aggregate.
    Sums are exact fixed-point (cents as bigint) so the result is
    independent of the re-partitioned read order."""
    import os
    import shutil
    import tempfile

    from smartpy_arc_spark.sources.avro import write_avro_files

    d = os.path.join(tempfile.gettempdir(), "sas_avro_ws")
    shutil.rmtree(d, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    write_avro_files(orders.repartition(4), os.path.join(d, "orders.avro"))
    back = scan(spark, d, "orders", fmt="avro")
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode (pure-Python Huffman + dequant + IDCT +
    chroma upsampling, multimodal/jpeg.py): quality-100 constant-color
    images — a mix of 4:4:4 and 4:2:0 layouts — round-trip through
    genuine entropy-coded JFIF bytes.  At quality 100 the quantizer is
    all-ones, so a constant block survives the DCT path exactly and the
    decoded color is the closed-form YCbCr↔RGB integer roundtrip
    (floor(x+0.5) rounding) the SQL oracle mirrors."""
    from smartpy_arc_spark.multimodal.codecs import jpeg_features

    docs = _t(spark, sf_dir, "documents").where("doc_id < 150").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.jpeg import make_jpeg

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                color = ((d * 37 + 11) % 256, (d * 59 + 5) % 256,
                         (d * 23 + 101) % 256)
                h = 8 * (1 + d % 2)
                img = np.full((h, 16, 3), color, dtype=np.uint8)
                payloads.append(
                    make_jpeg(img, quality=100, subsample=(d % 3 == 0))
                )
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    return jpeg_features(blobs)


def _supplier_edges(spark: SparkSession, sf_dir: str, cap: int = 40) -> DataFrame:
    """Bounded supplier co-order graph (same fixture as bfs_hops /
    label_propagation): distinct (src < dst) pairs sharing an order."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("dst"))
    return (
        a.join(b, "o")
        .where(F.col("src") < F.col("dst"))
        .where((F.col("src") <= cap) & (F.col("dst") <= cap))
        .select("src", "dst")
        .distinct()
    )


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the nation partition of the supplier co-order
    graph, per community, in exact integer arithmetic (L_c·4m − D_c² over
    4m² — one division per community, no float accumulation).  The
    quality gate every community-detection output is judged by."""
    from smartpy_arc_spark.operators.components import modularity

    edges = _supplier_edges(spark, sf_dir)
    asg = (
        _t(spark, sf_dir, "supplier")
        .where("s_suppkey <= 40")
        .select(F.col("s_suppkey").alias("node"), F.col("s_nationkey").alias("community"))
    )
    return modularity(edges, asg).orderBy("community")


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed Louvain (synchronous parity-gated local
    moves + coarsening) over the supplier co-order graph.  Oracle-backed
    since r7 (VERDICT item 7): unit edge weights make every
    degree/total/k_in an integer-valued double, so the modularity-gain
    division is the same exact-operand expression in both engines and
    ``_louvain_sql`` can replay the full 2-level × 4-sweep iteration
    (frozen-flag CTE chain mirrors the early sweep break).  Determinism,
    clique recovery and modularity improvement remain pinned by unit
    tests, and the companion `modularity` query is the exact quality
    oracle."""
    from smartpy_arc_spark.operators.components import louvain_communities

    edges = _supplier_edges(spark, sf_dir)
    return louvain_communities(edges, max_levels=2, max_sweeps=4)


def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact isotonic calibration over the reliability-diagram fixture:
    minimax closed form (max-min of interval averages from integer prefix
    sums) — PAV's answer without PAV's sequential sweep.  The monotone
    companion of `calibration`."""
    from smartpy_arc_spark.operators.stats import isotonic_fit

    orders = _t(spark, sf_dir, "orders").select(
        F.floor(
            ((F.col("o_orderkey") * 37) % 1000).cast("double") / 1000.0 * 10
        ).alias("bin"),
        (F.col("o_orderstatus") == "F").cast("double").alias("y"),
    )
    return isotonic_fit(orders, "bin", "y")


def q_cox_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards score test + one-step β̂ for account
    balance as a continuous covariate of order-span survival (same
    duration/event fixture as kaplan_meier/log_rank; Breslow ties,
    per-event-time integer-millionth terms)."""
    from smartpy_arc_spark.operators.stats import cox_one_step

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    per_c = (
        orders.groupBy("o_custkey")
        .agg(
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
            .cast("long")
            .alias("dur"),
            F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("int")
            .alias("ev"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    return cox_one_step(per_c, "dur", "ev", "c_acctbal")


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup (Datasketches HLL): per-(priority,
    week) customer sketches union into per-priority totals — the re-scan-
    free pattern for distincts at 100 TB.  Rows-only (HLL estimates are
    library-specific); exactness on small cardinalities and the
    union ≤ sum inequality are pinned by unit tests.  FENCED (VERDICT
    r10 item 4): in-query, the union estimate must land within ±5% of
    the exact per-priority COUNT(DISTINCT) and must not exceed the sum
    of the per-week estimates (the inequality the rollup exists to
    beat), raising on violation."""
    from smartpy_arc_spark.operators.sketch import hll_rollup

    orders = _t(spark, sf_dir, "orders").withColumn(
        "wk", F.date_trunc("week", F.col("o_orderdate"))
    )
    out = hll_rollup(
        orders, ["o_orderpriority"], "o_custkey", "wk"
    ).orderBy("o_orderpriority").localCheckpoint(eager=True)
    exact = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("xd")
    )
    bad = out.join(exact, "o_orderpriority").where(
        (F.abs(F.col("distinct_est") / F.col("xd") - 1) > 0.05)
        | (F.col("distinct_est") > F.col("sum_fine_est"))
    ).collect()
    if bad:
        raise AssertionError(
            "hll_rollup fence: union estimate off exact distinct or "
            "above the per-cell sum: " + ", ".join(
                f"{r['o_orderpriority']}: est {r['distinct_est']} vs "
                f"exact {r['xd']} (sum {r['sum_fine_est']})" for r in bad
            )
        )
    return out


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random projection (Achlioptas) with a
    DETERMINISTIC md5-derived sign matrix inlined as literals: map-only,
    zero shuffle, bit-exact on any engine via in-index-order folds.
    Output exploded to (vec_id, j, comp) scalars for value-hash compare."""
    from smartpy_arc_spark.operators.embedding import random_projection

    emb = _t(spark, sf_dir, "embeddings").where("vec_id < 300")
    proj = random_projection(emb, k=8, seed=0)
    return proj.select(
        "vec_id", F.posexplode("proj").alias("j", "comp")
    )


def _random_projection_sql(k: int = 8, d: int = 64, seed: int = 0) -> str:
    """Oracle generated from the SAME md5 sign derivation as
    operators/embedding.py:random_projection_signs — literals can't drift."""
    import math

    from smartpy_arc_spark.operators.embedding import random_projection_signs

    signs = random_projection_signs(k, d, seed=seed)
    inv = repr(1.0 / math.sqrt(k))
    parts = []
    for j in range(k):
        lits = ", ".join(f"{float(s)!r}" for s in signs[j])
        fold = (
            "list_reduce(list_prepend(0.0, "
            f"list_transform(generate_series(1, {d}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{lits}])[i])), "
            "(a, b) -> a + b)"
        )
        parts.append(
            f"SELECT vec_id, CAST({j} AS INTEGER) AS j, "
            f"CAST(round({fold} * {inv} * 1000000) AS BIGINT) AS comp "
            "FROM embeddings WHERE vec_id < 300"
        )
    return " UNION ALL ".join(parts)


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of monthly revenue: centered
    MA-12 trend (half-weight endpoints), per-month-of-cycle seasonal
    means, remainder — exact integer arithmetic with one division per
    output value; edge months null as in every classical implementation."""
    from smartpy_arc_spark.operators.resample import seasonal_decompose

    orders = _t(spark, sf_dir, "orders")
    return seasonal_decompose(orders, "o_orderdate", "o_totalprice")


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF decode (pure-Python variable-width LZW with
    dictionary growth, palettes, multi-frame containers): deterministic
    two-color checkerboard animations round-trip losslessly, so channel
    means over all frames have a closed-form SQL oracle."""
    from smartpy_arc_spark.multimodal.codecs import gif_features

    docs = _t(spark, sf_dir, "documents").where("doc_id < 150").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.gif import make_gif

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                frames = []
                for f in range(1 + d % 3):
                    a = ((d * 13 + f * 7) % 256, (d * 5 + f * 11) % 256,
                         (f * 29 + 3) % 256)
                    b = ((d * 17 + f * 3) % 256, (d * 7 + f * 19) % 256,
                         (d * 3 + f * 5) % 256)
                    img = np.zeros((6, 10, 3), dtype=np.uint8)
                    yy, xx = np.meshgrid(np.arange(6), np.arange(10),
                                         indexing="ij")
                    img[(yy + xx) % 2 == 0] = a
                    img[(yy + xx) % 2 == 1] = b
                    frames.append(img)
                payloads.append(make_gif(frames))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    return gif_features(blobs)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal: per-source banner and
    global footer lines (df ≥ 2 across docs) are dropped from inside
    otherwise-distinct documents; content lines survive and reassemble in
    order.  The corpus has single-line docs, so the fixture synthesizes
    the classic web-page shape (banner + content lines + footer) the
    oracle mirrors exactly."""
    from smartpy_arc_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").where("doc_id < 400")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("SOURCE BANNER "), F.col("source"), F.lit("\n"),
            F.substring("text", 1, 60), F.lit("\n"),
            F.substring("text", 61, 60), F.lit("\n"),
            F.lit("COPYRIGHT FOOTER 2024"),
        ).alias("text"),
    )
    return line_dedup(pages, min_df=2).orderBy("doc_id")


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted order value per market segment: customer account
    balance as the pre-period covariate; exact DECIMAL moments, one
    double division per reported number."""
    from smartpy_arc_spark.operators.stats import cuped_adjust

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    joined = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select("c_mktsegment", "o_totalprice", "c_acctbal")
    return cuped_adjust(
        joined, "o_totalprice", "c_acctbal", "c_mktsegment"
    ).orderBy("c_mktsegment")


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords over the corpus word co-occurrence graph
    (adjacent-token edges, stopwords removed, 5 PageRank iterations).
    Oracle-backed (round 6): ``_textrank_sql`` unrolls the same 5
    power-iteration rounds over the same tokenization (stopword literal
    shared with RAKE_STOPWORDS) in the personalized_pagerank oracle
    shape; the symmetrized graph has no dangling nodes, so that term is
    exactly 0.0 and the mirror omits it bit-exactly."""
    from smartpy_arc_spark.operators.text import textrank_keywords

    docs = _t(spark, sf_dir, "documents")
    return textrank_keywords(docs, top_k=20)


def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction maintenance op: 24 deliberately tiny parquet
    files rewrite into one right-sized file; the report row (before /
    after / row count) is the oracle-checkable contract."""
    import os
    import shutil
    import tempfile

    from smartpy_arc_spark.operators.scale import compact_small_files

    base = os.path.join(tempfile.gettempdir(), "sas_compact_ws")
    shutil.rmtree(base, ignore_errors=True)
    src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
    cust = _t(spark, sf_dir, "customer")
    cust.repartition(24).write.parquet(src)
    return compact_small_files(spark, src, dst, target_bytes=1 << 30)


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-partitioned DBSCAN over deterministic 2-D points: three dense
    unit-box clusters (10 apart) plus isolated far-away noise points.
    Oracle = identical pair predicate + recursive-CTE reachability
    closure for the core components (the linkage_clusters pattern)."""
    from smartpy_arc_spark.operators.semdedup import dbscan_2d

    cust = _t(spark, sf_dir, "customer").where("c_custkey < 600")
    k = F.col("c_custkey") % 3
    px = F.when(
        F.col("c_custkey") % 97 == 0, F.lit(1000.0) + F.col("c_custkey")
    ).otherwise(k * 10.0 + ((F.col("c_custkey") * 7) % 100) / F.lit(100.0))
    py = F.when(
        F.col("c_custkey") % 97 == 0, F.lit(-500.0)
    ).otherwise(k * 5.0 + ((F.col("c_custkey") * 13) % 100) / F.lit(100.0))
    pts = cust.select(
        F.col("c_custkey").alias("id"), px.alias("x"), py.alias("y")
    )
    return dbscan_2d(pts, "x", "y", id_col="id", eps=0.3, min_pts=4).orderBy("id")


_IPF_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking): calibrate the customer
    (segment × nation-bucket) contingency table to uniform 1000-unit
    margins.  Quantized-integer iterations make the fixpoint bit-exact
    cross-engine; the oracle unrolls the same 5 double-scaling rounds."""
    from smartpy_arc_spark.operators.sample import ipf_raking

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", (F.col("c_nationkey") % 5).alias("nk")
    )
    return ipf_raking(
        cust, "c_mktsegment", "nk",
        {s: 1000 for s in _IPF_SEGMENTS},
        {i: 1000 for i in range(5)},
    ).orderBy("c_mktsegment", "nk")


def _ipf_sql(iterations: int = 5, scale: int = 1_000_000) -> str:
    """Oracle generated by unrolling the SAME quantized IPF rounds as
    operators/sample.py:ipf_raking (identical double expression shapes:
    window margin sums + CASE target literals)."""
    parts = [
        "WITH cells0 AS (SELECT c_mktsegment AS r, c_nationkey % 5 AS c, "
        "CAST(count(*) AS BIGINT) AS n, "
        f"CAST(count(*) AS BIGINT) * {scale} AS w FROM customer GROUP BY 1, 2)"
    ]
    cur = "cells0"
    step = 0
    for _ in range(iterations):
        for key in ("r", "c"):
            step += 1
            parts.append(
                f"cells{step} AS (SELECT r, c, n, "
                f"CAST(round(CAST(w AS DOUBLE) "
                f"* (CAST(1000 AS DOUBLE) * {scale}) "
                f"/ CAST(CAST(sum(w) OVER (PARTITION BY {key}) AS BIGINT) "
                f"AS DOUBLE)) AS BIGINT) AS w FROM {cur})"
            )
            cur = f"cells{step}"
    return (
        ", ".join(parts)
        + f" SELECT r AS c_mktsegment, c AS nk, n, w AS weight_scaled, "
        f"CAST(round(CAST(w AS DOUBLE) * 100 / {scale}) AS BIGINT) "
        f"AS cell_weight_e2 FROM {cur} ORDER BY r, c"
    )


def q_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test Naive Bayes language ID on a deterministic split: the
    even-doc half trains per-language token models, the odd half scores;
    output is the (true, predicted) confusion table with mean margins.
    Oracle-backed (round 6): ``nb_score`` pre-rounds every log term to
    integer nanonats, so totals/argmax/margins are exact bigint sums
    mirrored by ``_nb_langid_sql``."""
    from smartpy_arc_spark.operators.text import nb_score, nb_train

    docs = _t(spark, sf_dir, "documents")
    model = nb_train(docs.where("doc_id % 2 = 0"), label_col="lang")
    test = docs.where("doc_id % 2 = 1")
    scored = nb_score(test, model)
    return (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .join(scored, "doc_id")
        .groupBy("true_lang", "predicted_label")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("margin_e6")).cast("long").alias("avg_margin_e6"),
        )
        .orderBy("true_lang", "predicted_label")
    )


def q_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Newton-Raphson logistic regression: does order value /
    customer balance predict 'order finalized'?  One (d+1)²-moment
    aggregate per iteration, bounded driver solve.  Rows-only (IRLS
    floats); coefficient recovery vs a numpy IRLS of the same spec is
    pinned to 1e-6 by unit tests.  FENCED (VERDICT r10 item 4):
    in-query, every coefficient must be finite and the reported train
    log-loss must be finite and no worse than the null model's
    base-rate entropy (a fit that fails to beat predicting the mean is
    a broken fit), raising on violation."""
    import math as _math

    from smartpy_arc_spark.operators.stats import logistic_fit

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # one eager materialization of the joined projection (r11, guide §5):
    # the fit's stats/iteration aggregates AND the fence's base-rate pass
    # all read these rows — the join used to execute three times (fit
    # stats, fit checkpoint, fence pbar)
    base = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
        F.col("o_totalprice"), F.col("c_acctbal"),
    ).localCheckpoint(eager=True)
    out = logistic_fit(
        base, "y", ["o_totalprice", "c_acctbal"], materialize=False
    ).orderBy("term").localCheckpoint(eager=True)
    rows = out.collect()  # bounded: one row per term (3)
    pbar = base.agg(F.avg("y")).first()[0]
    null_ll = -(pbar * _math.log(pbar) + (1 - pbar) * _math.log(1 - pbar))
    for r in rows:
        if not (_math.isfinite(r["coef"]) and _math.isfinite(r["log_loss"])):
            raise AssertionError(f"logistic fence: non-finite fit: {r}")
        if r["log_loss"] > null_ll + 1e-9:
            raise AssertionError(
                f"logistic fence: log_loss {r['log_loss']:.6f} worse than "
                f"null model {null_ll:.6f} — fit did not converge"
            )
    return out


_SHARED_WORKSPACE_SQL = """
    WITH rev AS (
        SELECT n_name, o_orderpriority,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, o_orderpriority
    )
    SELECT n_name, o_orderpriority, rev_cents,
           CAST(rank() OVER (PARTITION BY n_name
                             ORDER BY rev_cents DESC, o_orderpriority)
                AS BIGINT) AS rnk
    FROM rev ORDER BY n_name, rnk
"""


def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain-SQL surface: `open_workspace` registers every table in
    the folder as a lazy temp view, then ONE ANSI SQL string runs
    unchanged on Spark AND on the DuckDB oracle — the strongest possible
    portability statement (the oracle entry IS the query text)."""
    from smartpy_arc_spark.sources.catalog import open_workspace

    open_workspace(spark, sf_dir)
    return spark.sql(_SHARED_WORKSPACE_SQL)


def q_dtw_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elastic shape similarity between event types: DTW over each type's
    hourly count series (Sakoe-Chiba band 24).  Oracle-backed since r7
    (VERDICT item 7): the series are integer-scaled counts, so every DP
    cell is integer-exact in doubles and the numpy fold is bit-portable;
    ``_dtw_types_sql`` replays the banded DP as a nested list_reduce
    (outer fold carries the DP row, inner fold builds it left-to-right).
    Metric properties additionally pinned by unit tests."""
    from smartpy_arc_spark.operators.resample import dtw_pairwise

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.count("*").cast("double").alias("n"))
    )
    return dtw_pairwise(
        hourly, key_col="event_type", order_col="h", value_col="n", band=24
    ).orderBy("key_a", "key_b")


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line capacity statistic: peak simultaneously-open orders per
    month (interval = order date + 1..7 days by key), with the earliest
    instant the peak occurs.  Exact integer deltas; [start, end) ends
    sort before starts."""
    from smartpy_arc_spark.operators.sessionize import peak_concurrency

    orders = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.col("o_orderdate").alias("s"),
        F.expr(
            "o_orderdate + make_dt_interval((o_orderkey % 7) + 1)"
        ).alias("e"),
    )
    return peak_concurrency(orders, "s", "e", group_col="month").orderBy("month")


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters triple exponential smoothing of monthly revenue per
    order priority (additive seasonality, period 12; list-accumulator
    in-order fold).  Oracle = the same fold unrolled as a DuckDB
    list_reduce with the seasonal queue rotated by list slicing."""
    from smartpy_arc_spark.operators.resample import holt_winters

    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.col("o_orderpriority").alias("k"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        )
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("rev")
        )
    )
    return holt_winters(monthly, "k", "m", "rev", period=12).orderBy("k")


def _holt_winters_sql(p: int = 12, alpha: float = 0.5, beta: float = 0.25,
                      gamma: float = 0.5) -> str:
    """Oracle generated from the same fold spec as resample.py:holt_winters
    (no let-binding in either engine's lambdas, so shared subexpressions
    are inlined identically)."""
    a, na = repr(float(alpha)), repr(float(1.0 - alpha))
    b, nb = repr(float(beta)), repr(float(1.0 - beta))
    g, ng = repr(float(gamma)), repr(float(1.0 - gamma))
    L0 = (f"(list_reduce(list_prepend(0.0, xs[1:{p}]), (a2, b2) -> a2 + b2)"
          f" / {float(p)!r})")
    M2 = (f"(list_reduce(list_prepend(0.0, xs[{p + 1}:{2 * p}]), "
          f"(a2, b2) -> a2 + b2) / {float(p)!r})")
    B0 = f"(({M2} - {L0}) / {float(p)!r})"
    S0 = f"list_transform(xs[1:{p}], v -> v - {L0})"
    INIT = f"(list_concat([{L0}, {B0}], {S0}))"
    LNEW = f"({a} * (x[1] - acc[3]) + {na} * (acc[1] + acc[2]))"
    BNEW = f"({b} * ({LNEW} - acc[1]) + {nb} * acc[2])"
    SNEW = f"({g} * (x[1] - {LNEW}) + {ng} * acc[3])"
    FOLD = (
        f"list_reduce(list_prepend({INIT}, "
        f"list_transform(xs[{p + 1}:], v -> [v])), "
        f"(acc, x) -> list_concat(list_concat([{LNEW}, {BNEW}], acc[4:]), "
        f"[{SNEW}]))"
    )
    e4 = "CAST(round({expr} / 100 * 10000) AS BIGINT)"
    return f"""
        WITH monthly AS (
            SELECT o_orderpriority AS k, date_trunc('month', o_orderdate) AS m,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) / 100.0 AS rev
            FROM orders GROUP BY 1, 2
        ), s AS (
            SELECT k, list(CAST(round(rev * 100) AS DOUBLE) ORDER BY m) AS xs
            FROM monthly GROUP BY k
        ), f AS (
            SELECT k, CAST(len(xs) AS BIGINT) AS n_obs,
                   CASE WHEN len(xs) >= {2 * p} THEN {FOLD} END AS hw
            FROM s
        )
        SELECT k, n_obs,
               {e4.format(expr="hw[1]")} AS level_e4,
               {e4.format(expr="hw[2]")} AS trend_e4,
               {e4.format(expr="(hw[1] + hw[2] + hw[3])")} AS f1_e4,
               {e4.format(expr="(hw[1] + 2.0 * hw[2] + hw[4])")} AS f2_e4
        FROM f ORDER BY k
    """


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling Pearson correlation between daily click and view
    counts: integer window moments + one closed-form expression per row
    (IEEE sqrt is correctly rounded, so even the sqrt is bit-portable)."""
    from smartpy_arc_spark.operators.stats import rolling_corr

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
    )
    return rolling_corr(
        daily, "d", "clicks", "views", window=14, min_periods=7, scale=1
    ).orderBy("d")


def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step user journeys (`A > B > C`) across the event
    log: per-user lead windows with id tiebreaks, deterministic top-k."""
    from smartpy_arc_spark.operators.sessionize import path_ngrams

    ev = _t(spark, sf_dir, "events")
    return path_ngrams(
        ev, "user_id", ["ts", "event_id"], "event_type", n=3, top_k=20
    )


def q_convex_hulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation convex hull of deterministic customer point clouds
    (monotone chain in one grouped Arrow batch per nation; CCW WKT ring,
    shoelace area).  Oracle-backed since r7 (VERDICT item 7): the
    fixture coordinates are DYADIC (k/16 — exactly representable
    doubles), so every cross product the Python chain evaluates is
    exact and agrees with integer arithmetic; the oracle rebuilds the
    hull via a QuickHull recursive CTE over 16×-scaled integer points
    (``_convex_hulls_sql``), orders the ring by the chain rule
    (lex-min → below-line ascending → lex-max → above-line descending
    — exactly the monotone-chain CCW ring), and mirrors area (exact
    integer shoelace + Python's round-half-even) and perimeter (the
    same sqrt(dx*dx+dy*dy) sequential fold, bit-identical doubles) and
    the %g WKT formatting (≤6 significant digits — dyadic k/16 values
    always print exactly)."""
    from smartpy_arc_spark.geometry.hull import convex_hulls

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("string").alias("nation"),
        (((F.col("c_custkey") * 29) % 1000) / F.lit(16.0)).alias("x"),
        (((F.col("c_custkey") * 53) % 1000) / F.lit(16.0)).alias("y"),
    )
    return convex_hulls(cust, "nation", "x", "y").orderBy("nation")


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-experimental DiD: BUILDING-segment customers (treated) vs
    the rest, pre/post 1998, on order value — exact DECIMAL moments in
    one conditional aggregate, explicit four-term arithmetic."""
    from smartpy_arc_spark.operators.stats import diff_in_diff

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        F.col("o_totalprice").alias("y"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("treat"),
        (F.year("o_orderdate") >= 1998).cast("int").alias("post"),
    )
    return diff_in_diff(base, "y", "treat", "post")


def q_explain_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan introspection as data: the q3-style join-aggregate's physical
    plan summarized to assertable metric rows (CI's `.explain()`
    replacement).  Oracle-backed since r7: the oracle IS the pinned
    contract — a literal row per metric asserting the plan shape this
    repo's scans guarantee (one broadcast-hash join with the filtered
    fact side broadcast, both filters pushed to the parquet scans, two
    exchanges, zero sort-merge/BNLJ/cartesian) — verified invariant
    across sf0.001/sf0.01/sf0.1.  A planner or scan regression changes
    a metric value and fails the value compare."""
    from smartpy_arc_spark.operators.checks import explain_summary

    li = _t(spark, sf_dir, "lineitem").where("l_quantity < 10")
    o = _t(spark, sf_dir, "orders")
    q = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    return explain_summary(q)


def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-driven dedup evidence: MinHash-LSH candidate pairs
    scored against exact WORD-trigram Jaccard ground truth — the SAME
    shingle space the signatures hash — at the banding's operating
    threshold (16 hashes / 4 bands targets s ≥ 0.8, where theory gives
    P(candidate) = 1−(1−s⁴)⁴ ≈ 0.88).  Precision / recall / F1 in
    integer millionths.  Oracle-backed since r7: the candidate side runs
    ``portable_hash=True`` (the ``minhash_pairs`` contract family), so
    BOTH sides of the eval — exact-Jaccard truth and banded candidates —
    are deterministic functions the ``_dedup_eval_sql`` mirror replays;
    the xxhash64 production path is fenced by ``minhash_prod_path``."""
    from smartpy_arc_spark.operators.contamination import (
        _space_tokens,
        word_ngrams_of_tokens,
    )
    from smartpy_arc_spark.operators.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents").where("doc_id < 300")
    # the exploded trigram table feeds the per-doc sizes AND both sides
    # of the intersection self-join — materialize once so the tokenize/
    # explode pass runs once instead of three times (r11, guide §2.4)
    grams = (
        docs.select("doc_id", _space_tokens(F.col("text")).alias("_toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_ngrams_of_tokens(F.col("_toks"), 3))
            ).alias("g"),
        )
        .localCheckpoint(eager=True)
    )
    # O(#docs) rows, read by both endpoint joins of the truth table
    sizes = grams.groupBy("doc_id").agg(
        F.count("*").alias("sz")
    ).localCheckpoint(eager=True)
    inter = (
        grams.select(F.col("doc_id").alias("id_a"), "g")
        .join(grams.select(F.col("doc_id").alias("id_b"), "g"), "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"),
                                F.col("sz").alias("sa")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("sz").alias("sb")), "id_b")
        .where(
            F.col("i").cast("double")
            / (F.col("sa") + F.col("sb") - F.col("i")).cast("double")
            >= 0.8
        )
        .select("id_a", "id_b")
        .withColumn("_t", F.lit(1))
    )
    cand = (
        minhash_lsh_candidates(
            docs, shingle_mode="word", shingle_size=3, portable_hash=True
        )
        .select("id_a", "id_b")
        .withColumn("_c", F.lit(1))
    )
    joined = truth.join(cand, ["id_a", "id_b"], "full_outer")
    agg = joined.agg(
        F.sum(F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1))
        .alias("tp"),
        F.sum(F.when(F.col("_t").isNotNull() & F.col("_c").isNull(), 1))
        .alias("fn"),
        F.sum(F.when(F.col("_t").isNull() & F.col("_c").isNotNull(), 1))
        .alias("fp"),
    )
    tp = F.coalesce(F.col("tp"), F.lit(0)).cast("double")
    fn = F.coalesce(F.col("fn"), F.lit(0)).cast("double")
    fp = F.coalesce(F.col("fp"), F.lit(0)).cast("double")
    prec = tp / F.greatest(tp + fp, F.lit(1.0))
    rec = tp / F.greatest(tp + fn, F.lit(1.0))
    return agg.select(
        F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("n_tp"),
        F.coalesce(F.col("fn"), F.lit(0)).cast("long").alias("n_fn"),
        F.coalesce(F.col("fp"), F.lit(0)).cast("long").alias("n_fp"),
        F.round(prec * 1e6).cast("long").alias("precision_e6"),
        F.round(rec * 1e6).cast("long").alias("recall_e6"),
        F.round(
            F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
            * 1e6
        ).cast("long").alias("f1_e6"),
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement rollup over gap-30min sessions: sessions, events per
    session, bounce rate, average duration — exact microsecond sums,
    one reused user-keyed exchange."""
    from smartpy_arc_spark.operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, tiebreak_col="event_id")


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: a customer dimension (open rows) plus
    an event-ordered change batch (orders as segment changes) chained
    into validity intervals — matched open rows close at the key's first
    change, consecutive changes form [from, to) chains, only the latest
    stays open.  Integer event-time (orderkey) keeps the contract
    timezone-free."""
    from smartpy_arc_spark.operators.merge import scd2_apply

    cust = _t(spark, sf_dir, "customer").where("c_custkey <= 200")
    current = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    orders = _t(spark, sf_dir, "orders").where("o_custkey <= 200")
    changes = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("seg"),
        F.col("o_orderkey").cast("long").alias("change_ts"),
    )
    return scd2_apply(current, changes, key="c_custkey", ts_col="change_ts")


def _sparse_supplier_edges(spark: SparkSession, sf_dir: str, max_supp: int):
    """Shared co-order supplier graph for the graph-analytics queries:
    edge (a, b) when two high-quantity lineitems of one order come from
    suppliers a < b ≤ max_supp.  The quantity floor keeps the slice
    sparse at every SF (without it the ≤40 clique saturates at sf0.01
    and link prediction has no non-adjacent pairs left to score)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(f"l_suppkey <= {max_supp} AND l_quantity >= 45")
        .select("l_orderkey", "l_suppkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
    )


def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the sparse supplier co-order graph: top
    non-adjacent pairs by resource-allocation index (order-independent
    integer sum), with common-neighbor and Jaccard-e6 scores."""
    from smartpy_arc_spark.operators.components import link_predict

    edges = _sparse_supplier_edges(spark, sf_dir, 40)
    return link_predict(edges, top_k=100)


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per supplier node on the sparse
    co-order graph — triangle closure fraction, e6 fixed-point."""
    from smartpy_arc_spark.operators.components import clustering_coefficient

    edges = _sparse_supplier_edges(spark, sf_dir, 60)
    return clustering_coefficient(edges)


def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based exact CART stump: best Gini split of order status
    F-vs-rest on totalprice, found from a binned histogram + prefix
    window (the XGBoost/LightGBM split-finding primitive, relationally)."""
    from smartpy_arc_spark.operators.stats import decision_stump

    orders = _t(spark, sf_dir, "orders").select(
        "o_totalprice",
        (F.col("o_orderstatus") == "F").cast("int").alias("is_f"),
    )
    return decision_stump(
        orders, feature_col="o_totalprice", label_col="is_f",
        bin_width=20000.0,
    )


def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over orders column pairs: which
    det→dep dependencies hold, and violation counts where they don't."""
    from smartpy_arc_spark.operators.checks import fd_check

    orders = _t(spark, sf_dir, "orders")
    return fd_check(
        orders,
        [
            ("o_orderkey", "o_custkey"),
            ("o_orderkey", "o_totalprice"),
            ("o_custkey", "o_orderstatus"),
            ("o_totalprice", "o_custkey"),
            ("o_orderstatus", "o_orderpriority"),
        ],
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-search fusion: BM25 lexical top-50 and cosine-kNN vector
    top-50 merged by reciprocal-rank fusion (k=60), contributions
    pre-rounded to integers so the fused score is an order-independent
    exact sum."""
    from smartpy_arc_spark.operators.similarity import (
        knn_cosine_bruteforce,
        rrf_fuse,
    )
    from smartpy_arc_spark.operators.text import bm25_search

    docs = _t(spark, sf_dir, "documents")
    lex = bm25_search(docs, ["spark", "shuffle", "join"], top_k=50)
    lexr = lex.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rnk"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    knn = knn_cosine_bruteforce(emb.where("vec_id = 0"), emb, k=50)
    vecr = knn.select(
        F.col("neighbor_id").alias("id"), F.col("rk").alias("rnk")
    )
    return rrf_fuse([lexr, vecr], rank_col="rnk", k=60, top_k=20)


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized Lloyd's k-means (k=8, 2 iterations, deterministic
    lowest-id seeds) over the 64-dim embeddings: e6 integer coordinates
    make every distance an exact bigint and the assignment argmin
    bit-portable.  Output is the per-cluster size + centroid checksums."""
    from smartpy_arc_spark.operators.embedding import kmeans_quantized

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_quantized(emb, k=8, iters=2)


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over part-brand baskets (brands
    co-ordered within an order): support, confidence, lift, conviction —
    each ONE integer-operand division, e6 fixed point."""
    from smartpy_arc_spark.operators.itemsets import association_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return association_rules(
        baskets,
        basket_col="l_orderkey",
        item_col="p_brand",
        min_support=100,
        min_confidence_e6=100000,
    )


def q_decision_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 histogram decision tree on lineitem: root splits return
    flag R-vs-rest on quantity, each side then splits on extendedprice —
    the level-wise GBDT growth step from one 2-D histogram."""
    from smartpy_arc_spark.operators.stats import decision_tree_depth2

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        "l_extendedprice",
        (F.col("l_returnflag") == "R").cast("int").alias("is_r"),
    )
    return decision_tree_depth2(
        li,
        feature_a="l_quantity",
        feature_b="l_extendedprice",
        label_col="is_r",
        bin_width_a=5.0,
        bin_width_b=5000.0,
    )


def q_ar_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit on the daily event-count series: closed-form 2x2
    normal-equation solve on the rounded-mean-centered integer series
    (Cramer's rule, integer moments, one IEEE division per phi)."""
    from smartpy_arc_spark.operators.stats import ar_model

    ev = _t(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    return ar_model(ev, ts_col="day")


def q_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection per event type on the daily rate series: days
    whose count exceeds 1.25x the trailing-7-day average, flagged by
    integer cross-multiplication (no float rates)."""
    from smartpy_arc_spark.operators.stats import burst_detect

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    return burst_detect(
        ev, key_col="event_type", ts_col="day", window_rows=7, num=5, den=4
    )


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of customer order-span durations
    (same risk-set contract as the Kaplan-Meier query): e9/e12
    pre-rounded increments, integer prefix sums over the bounded curve."""
    from smartpy_arc_spark.operators.stats import nelson_aalen

    orders = _t(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
        .cast("long")
        .alias("dur"),
        F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("int")
        .alias("ev"),
    )
    return nelson_aalen(per_c, "dur", "ev")


def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per event type: daily counts
    of high-value (>= 200) events on a dense calendar spine, coupled
    demand/interval EWMAs (dyadic alpha = 0.25) folded in order, demand
    rate = z/p in one IEEE division."""
    from smartpy_arc_spark.operators.resample import croston

    ev = _t(spark, sf_dir, "events").where("value >= 200")
    return croston(ev, "event_type", "ts")


def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per event type (rolling WAU):
    contribution explode of each distinct presence day over the window it
    covers, then one distinct-agg — no range join, linear at any SF."""
    from smartpy_arc_spark.operators.resample import rolling_distinct

    ev = _t(spark, sf_dir, "events")
    return rolling_distinct(ev, "event_type", "ts", "user_id")


def q_xcorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the signup and purchase daily
    count series at lags -7..+7: exact DECIMAL moments per lag, IEEE
    sqrt + one division for r."""
    from smartpy_arc_spark.operators.stats import cross_correlation

    ev = _t(spark, sf_dir, "events")

    def daily(t: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == t)
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.count("*").alias("v"))
        )

    return cross_correlation(daily("signup"), daily("purchase"), max_lag=7)


def q_smd_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance (standardized mean differences) between the
    odd/even user-id split on per-user activity covariates — the
    balance pre-test a CUPED/diff-in-diff readout publishes.  Value sums
    pre-rounded to cents per row so every moment is an exact integer."""
    from smartpy_arc_spark.operators.stats import covariate_balance

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.count_distinct(F.to_date("ts")).cast("long").alias("active_days"),
    )
    unit = per_user.select(
        (F.col("user_id") % 2 == 1).alias("treat"),
        "n_events",
        "value_cents",
        "n_types",
        "active_days",
    )
    return covariate_balance(
        unit, "treat", ["active_days", "n_events", "n_types", "value_cents"]
    )


def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS F2 sketch vs exact self-join size of lineitem order keys:
    33 md5-parity sign counters in one map-side aggregate, mean/median
    estimators and the median's signed relative error."""
    from smartpy_arc_spark.operators.sketch import ams_f2

    li = _t(spark, sf_dir, "lineitem")
    return ams_f2(li, "l_orderkey", k=33)


def q_hilbert_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve index of two 8-bit key projections — the
    jump-free alternative to `zorder_code` for 2-D clustering; the
    xy-to-d walk runs as one integer fold over the bit planes."""
    from smartpy_arc_spark.operators.scale import hilbert_code

    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        hilbert_code(
            F.col("l_partkey") % 256, F.col("l_suppkey") % 256, bits=8
        ).alias("hcode"),
    )


def q_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping report over lineitem order-key zones:
    per-zone row counts, ship-date/price min-max envelopes, and 0/1
    would-scan flags for a date-range and a price predicate — the
    parquet-footer pruning decision as assertable data."""
    from smartpy_arc_spark.operators.scale import zone_map

    li = _t(spark, sf_dir, "lineitem")
    return zone_map(
        li,
        F.expr("l_orderkey div 2048"),
        ["l_shipdate", "l_extendedprice"],
        predicates={
            "ship94": ("l_shipdate", "1994-01-01", "1994-12-31"),
            "price_hi": ("l_extendedprice", 90000.0, None),
        },
    )


def _hilbert_oracle_sql(bits: int = 8) -> str:
    """Oracle generated from the SAME reflect/swap walk as
    operators/scale.py:hilbert_code — one CTE per bit plane, pure
    integer CASE/xor arithmetic."""
    ctes = [
        "s0 AS (SELECT l_orderkey AS okey, l_linenumber AS lineno, "
        "CAST(l_partkey % 256 AS BIGINT) AS hx, "
        "CAST(l_suppkey % 256 AS BIGINT) AS hy, "
        "CAST(0 AS BIGINT) AS hd FROM lineitem)"
    ]
    for i, b in enumerate(range(bits - 1, -1, -1)):
        s = 1 << b
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        ctes.append(
            f"s{i + 1} AS (SELECT okey, lineno, "
            f"CASE WHEN (hy & {s}) > 0 THEN hx ELSE "
            f"CASE WHEN (hx & {s}) > 0 THEN {s - 1} - hy ELSE hy END END "
            f"AS hx, "
            f"CASE WHEN (hy & {s}) > 0 THEN hy ELSE "
            f"CASE WHEN (hx & {s}) > 0 THEN {s - 1} - hx ELSE hx END END "
            f"AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd FROM s{i})"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT okey, lineno, CAST(hd AS BIGINT) AS hcode FROM s{bits}"
    )


def _cms_heavy_hitters_sql(width: int = 512, depth: int = 4) -> str:
    """Oracle rebuilding the SAME count-min sketch as
    operators/sketch.py:cms_build(portable_hash=True): bucket =
    portable_hash64("{seed}:{token}") mod width, est = min over seeds of
    the probed bucket count (absent bucket -> 0).  Bit-exact because the
    md5 hash family and the integer mod are engine-independent."""
    probes = ["the", "and", "data", "spark", "shuffle", "join", "quality", "zz"]
    probe_list = ", ".join(f"'{t}'" for t in probes)
    seed_list = ", ".join(str(i) for i in range(depth))
    bucket = (
        "CAST(concat('0x', substr(md5(concat(CAST(seed AS VARCHAR), ':', {t})),"
        f" 1, 15)) AS BIGINT) % {width}"
    )
    return f"""
        WITH toks AS (
            SELECT unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       w -> w != '')) AS t
            FROM documents
        ), seeds AS (
            SELECT unnest([{seed_list}]) AS seed
        ), sk AS (
            SELECT seed, {bucket.format(t='t')} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM toks CROSS JOIN seeds
            GROUP BY 1, 2
        ), probe AS (
            SELECT term, seed, {bucket.format(t='term')} AS bucket
            FROM (SELECT unnest([{probe_list}]) AS term)
            CROSS JOIN seeds
        )
        SELECT term, CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS est
        FROM probe LEFT JOIN sk USING (seed, bucket)
        GROUP BY term
    """


def _ams_f2_sql(k: int = 33, seed: int = 0) -> str:
    """Oracle generated with the SAME md5-parity sign derivation as
    operators/sketch.py:ams_f2 (round 6: one md5 per 32 counters,
    parsed into three integers; counter j's sign is the low bit of
    nibble ``j mod 32`` — shift+mask, mirrored exactly)."""
    def parity(j: int) -> str:
        b, d = j // 32, j % 32
        h = f"md5(concat('{seed}:{b}:', CAST(l_orderkey AS VARCHAR)))"
        if d <= 14:
            v, sh = f"substr({h}, 1, 15)", 4 * (14 - d)
        elif d <= 29:
            v, sh = f"substr({h}, 16, 15)", 4 * (29 - d)
        else:
            v, sh = f"substr({h}, 31, 2)", 4 * (31 - d)
        return (
            f"(CAST(concat('0x', {v}) AS BIGINT) // {1 << sh}) % 2"
        )

    cs = ", ".join(
        f"CAST(sum(1 - 2 * ({parity(j)})) AS BIGINT) AS c{j}"
        for j in range(k)
    )
    arr = ", ".join(f"c{j} * c{j}" for j in range(k))
    return f"""
        WITH counters AS (SELECT {cs} FROM lineitem),
        sq AS (SELECT [{arr}] AS sqs FROM counters),
        est AS (
            SELECT
                CAST(round(CAST(list_sum(sqs) AS DOUBLE) / {float(k)!r})
                     AS BIGINT) AS est_mean,
                CAST(list_sort(sqs)[{(k + 1) // 2}] AS BIGINT)
                    AS est_median
            FROM sq
        ), exact AS (
            SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2
            FROM (SELECT CAST(count(*) AS HUGEINT) AS c
                  FROM lineitem GROUP BY l_orderkey)
        )
        SELECT CAST({k} AS INTEGER) AS k, exact_f2, est_mean, est_median,
               CAST(round(CAST(est_median - exact_f2 AS DOUBLE)
                          / CAST(exact_f2 AS DOUBLE) * 1000000)
                    AS BIGINT) AS err_med_e6
        FROM est CROSS JOIN exact
    """


def _smd_balance_sql() -> str:
    """Oracle generated over the SAME covariate list and moment order as
    q_smd_balance / operators/stats.py:covariate_balance."""
    covs = ["active_days", "n_events", "n_types", "value_cents"]
    moms = ", ".join(
        f"sum(CAST({c} AS HUGEINT)) AS s{i}, "
        f"sum(CAST({c} AS HUGEINT) * {c}) AS ss{i}"
        for i, c in enumerate(covs)
    )
    rows = []
    for i, c in enumerate(covs):
        mean_t = f"(CAST(tt.s{i} AS DOUBLE) / CAST(tt.n AS DOUBLE))"
        mean_c = f"(CAST(cc.s{i} AS DOUBLE) / CAST(cc.n AS DOUBLE))"
        var_t = (
            f"(CAST(tt.n * tt.ss{i} - tt.s{i} * tt.s{i} AS DOUBLE)"
            f" / CAST(tt.n * (tt.n - 1) AS DOUBLE))"
        )
        var_c = (
            f"(CAST(cc.n * cc.ss{i} - cc.s{i} * cc.s{i} AS DOUBLE)"
            f" / CAST(cc.n * (cc.n - 1) AS DOUBLE))"
        )
        pooled = f"(({var_t} + {var_c}) / 2.0)"
        smd_e6 = (
            f"CASE WHEN {pooled} > 0 THEN CAST(round(({mean_t} - {mean_c})"
            f" / sqrt({pooled}) * 1000000) AS BIGINT) END"
        )
        rows.append(
            f"SELECT '{c}' AS covariate, CAST(tt.n AS BIGINT) AS n_t,"
            f" CAST(cc.n AS BIGINT) AS n_c,"
            f" CAST(round({mean_t} * 1000000) AS BIGINT) AS mean_t_e6,"
            f" CAST(round({mean_c} * 1000000) AS BIGINT) AS mean_c_e6,"
            f" {smd_e6} AS smd_e6,"
            f" CAST(CASE WHEN ({smd_e6}) IS NULL THEN NULL"
            f" WHEN abs({smd_e6}) > 100000 THEN 1 ELSE 0 END"
            f" AS INTEGER) AS imbalanced"
            f" FROM tt CROSS JOIN cc"
        )
    union = " UNION ALL ".join(rows)
    return f"""
        WITH pu AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                       AS active_days
            FROM events GROUP BY user_id
        ), g AS (
            SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t,
                   CAST(count(*) AS HUGEINT) AS n, {moms}
            FROM pu GROUP BY 1
        ), tt AS (SELECT * FROM g WHERE t = 1),
           cc AS (SELECT * FROM g WHERE t = 0)
        SELECT * FROM ({union}) ORDER BY covariate
    """


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing: high-quantity shipment
    intervals [shipdate, receiptdate] per supplier merged into maximal
    covered spans (one key-partitioned window pass, islands by running
    max end)."""
    from smartpy_arc_spark.operators.sessionize import merge_intervals

    li = (
        _t(spark, sf_dir, "lineitem")
        .where("l_suppkey <= 100 AND l_quantity >= 48")
        .select(
            "l_suppkey",
            F.to_date("l_shipdate").alias("iv_start"),
            F.date_add(
                F.to_date("l_shipdate"), F.col("l_quantity").cast("int")
            ).alias("iv_end"),
        )
    )
    return merge_intervals(li, "l_suppkey", "iv_start", "iv_end")


def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau = 1000 days over the same
    customer order-span contract as kaplan_meier: exact integer area
    under the e6-rounded step curve."""
    from smartpy_arc_spark.operators.stats import rmst

    orders = _t(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
        .cast("long")
        .alias("dur"),
        F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("int")
        .alias("ev"),
    )
    return rmst(per_c, "dur", "ev", tau=1000)


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration in deciles
    (cents-exact cumulative shares, custkey tiebreak) — the curve behind
    the gini query, as assertable points."""
    from smartpy_arc_spark.operators.stats import lorenz_curve

    orders = _t(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    return lorenz_curve(per_c, "rev_c", "o_custkey")


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of (mktsegment, nation) QI classes against the
    account-balance distribution (1000-unit buckets): EMD over the
    ordered domain from exact integer cumulative cross-products, one
    division per class."""
    from smartpy_arc_spark.operators.checks import t_closeness

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    return t_closeness(
        cust, ["c_mktsegment", "c_nationkey"], "bal_bucket"
    )


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebooks over the 64-dim embeddings (4
    subspaces x 4 codes, one Lloyd iteration, e6-quantized exact
    distances): per (subspace, code) assignment counts, exact total
    distortion and centroid checksums."""
    from smartpy_arc_spark.operators.embedding import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    return pq_encode(emb, m=4, k=4, iters=1)


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-purchase latency distribution: first signup to first
    subsequent purchase per user, summarized by selection-based exact
    order statistics (no interpolation)."""
    from smartpy_arc_spark.operators.funnel import time_to_convert

    ev = _t(spark, sf_dir, "events")
    return time_to_convert(
        ev, "user_id", "event_type", "ts", "signup", "purchase"
    )


def q_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency in BUSINESS days per order
    priority: weekend-free day counts from a pure-integer closed form
    (no calendar explode), exact sums, one division per reported mean."""
    from smartpy_arc_spark.operators.resample import business_days_between

    orders = _t(spark, sf_dir, "orders")
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min(F.to_date("l_shipdate")).alias("first_ship"))
    )
    lat = business_days_between(
        F.to_date("o_orderdate"), F.col("first_ship")
    )
    j = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderpriority", lat.alias("bd")
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("bd").cast("long").alias("total_bd"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "total_bd",
            F.round(
                F.col("total_bd").cast("double")
                / F.col("n_orders").cast("double")
                * 1000000
            )
            .cast("long")
            .alias("avg_bd_e6"),
        )
        .orderBy("o_orderpriority")
    )


def q_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential 2-patterns over user event streams (b within
    30 minutes after a, not necessarily consecutive): distinct-user
    support and head-conditioned confidence."""
    from smartpy_arc_spark.operators.funnel import sequential_pairs

    ev = _t(spark, sf_dir, "events")
    return sequential_pairs(
        ev, "user_id", "event_type", "ts", max_gap_s=1800, min_support=2
    )


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution over user event journeys with
    'purchase' as the absorbing conversion: distributed transition
    counts, bounded-matrix absorption solve on the driver.
    Oracle-backed since r7: the solve is ALL-INTEGER e12 fixed-point —
    the absorption series Σ Qᵏr via 13 matrix squarings with integer
    half-away quantization, no float anywhere — so
    ``_markov_attribution_sql`` replays the identical integer algebra
    (variants ride as a column; one unrolled squaring chain serves base
    + every removal).  Hand-computed chain tests still pin the math."""
    from smartpy_arc_spark.operators.funnel import markov_attribution

    ev = _t(spark, sf_dir, "events")
    return markov_attribution(
        ev, "user_id", "event_type", "ts", "purchase",
        tiebreak_col="event_id",
    )


def q_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue recognition: each order's cents spread across the
    calendar months of its 90-day service window proportional to
    overlap days, floor allocation with the exact remainder on the
    final month; rolled up per month."""
    from smartpy_arc_spark.operators.resample import recognize_revenue

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("svc_start"),
        F.date_add(F.to_date("o_orderdate"), 90).alias("svc_end"),
    )
    rec = recognize_revenue(
        orders, "o_orderkey", "cents", "svc_start", "svc_end"
    )
    return (
        rec.groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_slices"),
            F.sum("recognized").cast("long").alias("recognized_cents"),
        )
        .orderBy("month")
    )


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per nation: customers ranked by account balance (the
    'model score') against graded relevance = capped order count.
    Discount factors are pre-rounded integer literals, so DCG/IDCG are
    exact integer sums."""
    from smartpy_arc_spark.operators.itemsets import ndcg_at_k

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    per_c = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n_ord"))
    )
    rel = cust.join(
        per_c, cust["c_custkey"] == per_c["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.least(F.coalesce(F.col("n_ord"), F.lit(0)), F.lit(10))
        .cast("long")
        .alias("rel"),
    )
    return ndcg_at_k(
        rel, "c_nationkey", "c_acctbal", "rel", "c_custkey", k=10
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type (cents-exact, event_id tiebreak):
    one hash aggregate with min_by/max_by open/close."""
    from smartpy_arc_spark.operators.resample import ohlc_bars

    ev = _t(spark, sf_dir, "events")
    return ohlc_bars(ev, "event_type", "ts", "value", tiebreak_col="event_id")


def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening of the embeddings: one d²-moment aggregate to the
    driver, numpy eigh on the tiny matrix, literal-inlined map-only
    transform back.  Rows-only (eigendecomposition has no SQL form);
    identity-covariance property is pinned by tests."""
    from smartpy_arc_spark.operators.embedding import whiten_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    out = whiten_embeddings(emb)
    # checksum projection keeps the driver compare payload bounded
    return out.select(
        "vec_id",
        F.round(
            F.aggregate("white", F.lit(0.0), lambda a, x: a + x * x), 6
        ).alias("norm2"),
    )


def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP Laplace-noised event-type counts with deterministic
    md5-derived noise (reproducible release).  Oracle-backed (round 6):
    sign(u) is ±1 so float multiply association is exact, and the
    round-to-integer release absorbs any ulp gap in ln between engines;
    determinism and ε-scaling additionally pinned by tests."""
    from smartpy_arc_spark.operators.checks import dp_counts

    ev = _t(spark, sf_dir, "events")
    return dp_counts(ev, ["event_type"], epsilon=0.5, seed=7)


def _ndcg_oracle_sql(k: int = 10) -> str:
    """Oracle generated with the SAME pre-rounded discount literals as
    operators/itemsets.py:ndcg_at_k."""
    import math

    weights = {i: round(1e6 / math.log2(i + 1)) for i in range(1, k + 1)}
    case = " ".join(f"WHEN {i} THEN {w}" for i, w in weights.items())
    w_s = f"(CASE r_s {case} END)"
    w_i = f"(CASE r_i {case} END)"
    return f"""
        WITH per_c AS (
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
            FROM orders GROUP BY o_custkey
        ), rel AS (
            SELECT c_custkey, c_nationkey, c_acctbal,
                   CAST(least(coalesce(n_ord, 0), 10) AS BIGINT) AS rel
            FROM customer LEFT JOIN per_c ON o_custkey = c_custkey
        ), ranked AS (
            SELECT c_nationkey, rel,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal DESC, c_custkey)
                       AS r_s,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY rel DESC, c_custkey) AS r_i
            FROM rel
        ), terms AS (
            SELECT c_nationkey,
                   CASE WHEN r_s <= {k} THEN rel * {w_s}
                        ELSE CAST(0 AS BIGINT) END AS dcg_t,
                   CASE WHEN r_i <= {k} THEN rel * {w_i}
                        ELSE CAST(0 AS BIGINT) END AS idcg_t
            FROM ranked
        ), agg AS (
            SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_items,
                   CAST(sum(dcg_t) AS BIGINT) AS dcg_e6,
                   CAST(sum(idcg_t) AS BIGINT) AS idcg_e6
            FROM terms GROUP BY c_nationkey
        )
        SELECT c_nationkey, n_items, dcg_e6, idcg_e6,
               CASE WHEN idcg_e6 > 0 THEN
                   CAST(round(CAST(dcg_e6 AS DOUBLE)
                              / CAST(idcg_e6 AS DOUBLE) * 1000000)
                        AS BIGINT)
               END AS ndcg_e6
        FROM agg ORDER BY c_nationkey
    """


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for an account-balance
    'model' predicting finalized orders: reliability / resolution /
    uncertainty from exact per-bin DECIMAL moments."""
    from smartpy_arc_spark.operators.stats import brier_decomposition

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.least(
            F.greatest((F.col("c_acctbal") + 1000) / 11000, F.lit(0.0)),
            F.lit(1.0),
        ).alias("p"),
    )
    yy = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("y")
        )
    )
    base = cust.join(
        yy, cust["c_custkey"] == yy["o_custkey"], "left"
    ).select("p", F.coalesce(F.col("y"), F.lit(0)).alias("y"))
    return brier_decomposition(base, "p", "y")


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean order value per priority: deterministic
    (value, orderkey) rank windows, exact kept-range cents sum, one
    division per group."""
    from smartpy_arc_spark.operators.stats import trimmed_mean

    orders = _t(spark, sf_dir, "orders")
    return trimmed_mean(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    )


def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant activity cycles per event type: per-group FFT of the
    dense daily count series via applyInPandas (numpy on executors,
    calendar-bounded series).  Rows-only; sinusoid recovery pinned by
    tests.  FENCED (VERDICT r10 item 4): the (bounded, n_types × 3)
    result must have contiguous ranks 1..k per key, non-increasing
    power with rank, non-negative power, and periods ≥ 2 days (the
    Nyquist bound of a daily series) — raising on violation so the
    rows-only stamp asserts spectral-ordering semantics."""
    from smartpy_arc_spark.operators.resample import periodogram_topk

    ev = _t(spark, sf_dir, "events")
    out = periodogram_topk(ev, "event_type", "ts", top_k=3).localCheckpoint(
        eager=True
    )
    rows = out.collect()  # bounded: n_event_types x 3
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["event_type"], []).append(r)
    for k, grp in by_key.items():
        grp.sort(key=lambda r: r["rank"])
        if [g["rank"] for g in grp] != list(range(1, len(grp) + 1)):
            raise AssertionError(f"periodogram fence: ranks not 1..k for {k}")
        powers = [g["power_e3"] for g in grp]
        if any(p < 0 for p in powers) or powers != sorted(powers, reverse=True):
            raise AssertionError(
                f"periodogram fence: power not non-increasing for {k}: {powers}"
            )
        if any(g["period_days_e3"] < 2000 for g in grp):
            raise AssertionError(
                f"periodogram fence: period below the 2-day Nyquist bound "
                f"for {k}"
            )
    return out


def q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d + Cliff's delta between purchase and view event values:
    pooled-SD standardized difference from exact cents moments, ordinal
    dominance from the doubled-rank U — the effect-size companions to
    the welch_t / mann_whitney statistics."""
    from smartpy_arc_spark.operators.stats import effect_sizes

    ev = _t(spark, sf_dir, "events")
    return effect_sizes(ev, "event_type", "value", "purchase", "view")


def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-3: frequent brand 3-itemsets across orders with
    downward-closure pruning (frequent items and pairs gate the triple
    join)."""
    from smartpy_arc_spark.operators.itemsets import frequent_triples

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    return frequent_triples(
        baskets, "l_orderkey", "p_brand", min_support=20
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document from regexp-count word /
    sentence / vowel-group-syllable counts — map-only, fixed-order
    divisions, bit-portable."""
    from smartpy_arc_spark.operators.text import readability

    docs = _t(spark, sf_dir, "documents")
    return readability(docs)


def q_pairwise_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-style post-hoc table for order value by priority: every
    priority pair's mean difference and pooled-MSE standard error from
    one exact-moment scan."""
    from smartpy_arc_spark.operators.stats import pairwise_mean_diffs

    orders = _t(spark, sf_dir, "orders")
    return pairwise_mean_diffs(orders, "o_orderpriority", "o_totalprice")


def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the 1996 and 1997 brand revenue
    top-20 rankings (p = 0.9, pre-rounded weight literals) — how stable
    the leaderboard is year over year."""
    from smartpy_arc_spark.operators.similarity import rank_biased_overlap

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")

    def brand_rank(year: int) -> DataFrame:
        rev = (
            li.where(F.year("l_shipdate") == year)
            .join(part, li["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand")
            .agg(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).alias("rev")
            )
        )
        return rev.select(
            F.col("p_brand").alias("item"),
            F.row_number()
            .over(W.orderBy(F.desc("rev"), F.asc("p_brand")))
            .alias("rnk"),
        )

    return rank_biased_overlap(brand_rank(1996), brand_rank(1997), k=20)


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each event type's cumulative daily value
    series: integer running sum/max windows, earliest trough day."""
    from smartpy_arc_spark.operators.stats import max_drawdown

    ev = _t(spark, sf_dir, "events")
    return max_drawdown(ev, "event_type", "ts", "value")


def _rbo_oracle_sql(k: int = 20, p: float = 0.9) -> str:
    """Oracle generated with the SAME pre-rounded weight literals as
    operators/similarity.py:rank_biased_overlap."""
    weights = {
        d: round((1 - p) * (p ** (d - 1)) / d * 1e9) for d in range(1, k + 1)
    }
    vals = ", ".join(f"({d}, {w})" for d, w in weights.items())
    return f"""
        WITH rev94 AS (
            SELECT p_brand,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS rev
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE year(l_shipdate) = 1996 GROUP BY p_brand
        ), rev95 AS (
            SELECT p_brand,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS rev
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE year(l_shipdate) = 1997 GROUP BY p_brand
        ), ra AS (
            SELECT p_brand AS it,
                   row_number() OVER (ORDER BY rev DESC, p_brand) AS r
            FROM rev94
        ), rb AS (
            SELECT p_brand AS it,
                   row_number() OVER (ORDER BY rev DESC, p_brand) AS r
            FROM rev95
        ), common AS (
            SELECT ra.it, greatest(ra.r, rb.r) AS dmin
            FROM ra JOIN rb USING (it)
            WHERE ra.r <= {k} AND rb.r <= {k}
        ), w(d, wt) AS (
            VALUES {vals}
        ), agg AS (
            SELECT CAST(sum(wt) AS BIGINT) AS wsum,
                   CAST(count(DISTINCT it) AS BIGINT) AS n_common
            FROM common JOIN w ON dmin <= d
        )
        SELECT CAST({k} AS INTEGER) AS k,
               CAST({int(round(p * 1000))} AS BIGINT) AS p_e3,
               coalesce(n_common, 0) AS n_common,
               coalesce(CAST(round(CAST(wsum AS DOUBLE) / 1000) AS BIGINT),
                        0) AS rbo_e6
        FROM agg
    """


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers cohorted by first-order month,
    cumulative order revenue (cents) per month-age — the revenue
    companion to cohort_retention."""
    from smartpy_arc_spark.operators.funnel import cohort_ltv

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return cohort_ltv(orders, "o_custkey", "o_orderdate", "cents")


def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc (midpoint) price elasticity per brand between 1996 and 1997:
    quantity-weighted unit prices, log-free midpoint formula, NULL on
    degenerate denominators."""
    from smartpy_arc_spark.operators.stats import arc_elasticity

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows = (
        li.where(F.year("l_shipdate").isin(1996, 1997))
        .join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            "p_brand",
            F.year("l_shipdate").alias("yr"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            ),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    return arc_elasticity(
        rows, "p_brand", "yr", "unit_price", "qty", 1996, 1997
    )


def q_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift table over users: odd/even user-id split as treatment,
    engagement (event count) as the targeting score, purchase as the
    outcome — response-rate lift per score decile."""
    from smartpy_arc_spark.operators.stats import uplift_by_decile

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("purchased"),
    )
    unit = per_user.select(
        (F.col("user_id") % 2 == 1).alias("treat"),
        "n_events",
        "purchased",
        "user_id",
    )
    return uplift_by_decile(
        unit, "treat", "n_events", "purchased", "user_id", n_buckets=5
    )


def q_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out ablation of mean document length: the
    cheapest data-valuation signal for corpus curation (delta > 0 =
    removing the source RAISES the corpus mean)."""
    from smartpy_arc_spark.operators.stats import group_ablation

    docs = _t(spark, sf_dir, "documents").select(
        "source", F.length("text").cast("double").alias("doc_len")
    )
    return group_ablation(docs, "source", "doc_len", scale=1)


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard on the odd/even user-id split of
    event users: exact rational 1-df chi-square against the e6-literal
    0.05 critical value."""
    from smartpy_arc_spark.operators.stats import srm_check

    ev = _t(spark, sf_dir, "events").select(
        "user_id", (F.col("user_id") % 2 == 1).alias("treat")
    )
    return srm_check(ev, "user_id", "treat")


def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment sample-size requirements to detect a 2% lift of mean
    order value at 95%/80%: exact cents moments, pre-rounded z-constant
    literal — no engine-side normal quantile."""
    from smartpy_arc_spark.operators.stats import power_analysis

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select("c_mktsegment", "o_totalprice")
    return power_analysis(j, "c_mktsegment", "o_totalprice")


def q_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode: spec-complete AVI (RIFF hdrl/movi/idx1,
    uncompressed 24-bit bottom-up DIB frames with 4-byte row padding)
    built and parsed by the pure-Python codec in ``multimodal/avi.py``.
    Deterministic checkerboard clips round-trip losslessly, so frame
    count, fps, and channel means over all frames have a closed-form SQL
    oracle.  w=7 exercises the stride-padding path."""
    from smartpy_arc_spark.multimodal.codecs import avi_features

    docs = _t(spark, sf_dir, "documents").where("doc_id < 150").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.avi import make_avi

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                frames = []
                for f in range(2 + d % 4):
                    a = ((d * 11 + f * 5) % 256, (d * 3 + f * 13) % 256,
                         (f * 23 + 7) % 256)
                    b = ((d * 19 + f * 2) % 256, (d * 9 + f * 17) % 256,
                         (d * 2 + f * 3) % 256)
                    img = np.zeros((5, 7, 3), dtype=np.uint8)
                    yy, xx = np.meshgrid(np.arange(5), np.arange(7),
                                         indexing="ij")
                    img[(yy + xx) % 2 == 0] = a
                    img[(yy + xx) % 2 == 1] = b
                    frames.append(img)
                payloads.append(make_avi(frames, fps=5 + d % 10))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    return avi_features(blobs)


def q_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end video frame-sampling pipeline: deterministic solid-color
    AVI clips → ``frame_sample`` (real path: RIFF/DIB parse, evenly-spaced
    pick ``{i·k/2}``, lossless PNG re-encode) → PNG decode back to exact
    per-frame channel values.  Solid frames make every reported channel
    value an exact integer with a closed-form oracle."""
    from smartpy_arc_spark.multimodal.binary import frame_sample

    docs = _t(spark, sf_dir, "documents").where("doc_id < 120").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.avi import make_avi

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                frames = []
                for f in range(2 + d % 5):
                    img = np.zeros((4, 6, 3), dtype=np.uint8)
                    img[:, :] = ((d * 7 + f * 31) % 256, (d * 13 + f * 11) % 256,
                                 (d * 5 + f * 3) % 256)
                    frames.append(img)
                payloads.append(make_avi(frames, fps=8))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    def back(batches):
        import pandas as pd

        from smartpy_arc_spark.multimodal.codecs import parse_png

        for pdf in batches:
            out = {"item_id": [], "frame_idx": [], "r": [], "g": [], "b": []}
            for item_id, idx, frame in zip(pdf["item_id"], pdf["frame_idx"],
                                           pdf["frame"]):
                px = parse_png(bytes(frame))
                out["item_id"].append(int(item_id))
                out["frame_idx"].append(int(idx))
                out["r"].append(int(px[0, 0, 0]))
                out["g"].append(int(px[0, 0, 1]))
                out["b"].append(int(px[0, 0, 2]))
            yield pd.DataFrame(out)

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    sampled = frame_sample(blobs, n_frames=2, stub=False)
    return sampled.mapInPandas(
        back, "item_id long, frame_idx int, r int, g int, b int"
    ).orderBy("item_id", "frame_idx")


def q_lsa_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL learned embeddings: corpus-fit LSA (truncated SVD of the
    hashed TF-IDF doc-term matrix) — the basis is trained on the corpus
    itself via one integer-exact distributed Gram pass + driver ``eigh``,
    then a map-only batch-matmul projection.  Deterministic end-to-end
    (integer TF·IDF_e3 Gram, fixed eigen sign), so reruns are
    bit-identical; rows-only (no SQL engine can eigendecompose)."""
    from smartpy_arc_spark.operators.lsa import lsa_embed

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb, _vals = lsa_embed(docs, dim=64, k=8)
    return emb.select(
        "doc_id",
        F.col("embedding").getItem(0).alias("c0"),
        F.col("embedding").getItem(1).alias("c1"),
        F.col("embedding").getItem(2).alias("c2"),
        F.col("embedding").getItem(3).alias("c3"),
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, v: acc + v * v,
            )
        ).alias("norm"),
    ).orderBy("doc_id")


def _daily_rev(spark: SparkSession, sf_dir: str, by_flag: bool):
    """Daily revenue grid from lineitem: exact cent sums per day (and
    optionally per returnflag), exposed in dollars.  The shared input of
    the market-series queries (bollinger/rsi/macd/beta/sharpe)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    keys = ([F.col("l_returnflag").alias("flag")] if by_flag else []) + [
        F.to_date("l_shipdate").alias("d")
    ]
    return li.groupBy(*keys).agg(
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("rev")
    )


def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average unit price per part: one hash aggregate
    of exact bigint price×qty products, single division per group."""
    from smartpy_arc_spark.operators.resample import vwap

    li = _t(spark, sf_dir, "lineitem")
    base = li.withColumn(
        "unit_price", F.col("l_extendedprice") / F.col("l_quantity")
    )
    return vwap(base, "l_partkey", "unit_price", "l_quantity")


def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the global daily-revenue series (20-day
    trailing window, ±2σ): integer window moments, integer band edges
    from the two pre-rounded e4 values."""
    from smartpy_arc_spark.operators.resample import bollinger_bands

    daily = _daily_rev(spark, sf_dir, by_flag=False)
    return bollinger_bands(daily, "d", "rev", window=20, width=2, scale=1)


def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder RSI(14) of each returnflag's daily-revenue series: two
    fixed-order smoothing folds per key (list_reduce-mirrored)."""
    from smartpy_arc_spark.operators.resample import rsi

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    return rsi(daily, "flag", "d", "rev", period=14, scale=100)


def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12, 26, 9) of each returnflag's daily-revenue series: all
    three EMAs advance in ONE array-accumulator fold per key."""
    from smartpy_arc_spark.operators.resample import macd

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    return macd(daily, "flag", "d", "rev", scale=100)


def q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag beta/alpha/correlation against the all-flags
    "market" daily series: five exact bigint moments per key, broadcast
    market join (one row per calendar day)."""
    from smartpy_arc_spark.operators.stats import market_beta

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    return market_beta(daily, "flag", "d", "rev", scale=1)


def q_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharpe ratio of day-over-day revenue returns per returnflag:
    returns pre-round to integer e6 before the moment sums (order-free),
    annualized by the √252 literal."""
    from smartpy_arc_spark.operators.stats import sharpe_ratio

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    return sharpe_ratio(daily, "flag", "d", "rev", scale=1)


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across order priorities on total price:
    doubled-rank integer construction over the distinct-value table
    (partitioned_cumsum — no global sort task), per-group terms
    pre-rounded to e6."""
    from smartpy_arc_spark.operators.stats import kruskal_wallis

    orders = _t(spark, sf_dir, "orders")
    return kruskal_wallis(orders, "o_orderpriority", "o_totalprice")


def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe equal-variance test across order priorities:
    explicit lower-median centering, DECIMAL second moments, e6
    pre-rounded per-group terms."""
    from smartpy_arc_spark.operators.stats import levene_bf

    orders = _t(spark, sf_dir, "orders")
    return levene_bf(orders, "o_orderpriority", "o_totalprice")


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test of the global daily-revenue series
    around its explicit lower median: exact integer run/sign counts,
    one fixed z expression."""
    from smartpy_arc_spark.operators.stats import runs_test

    daily = _daily_rev(spark, sf_dir, by_flag=False)
    return runs_test(daily, "d", "rev", scale=100)


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority skewness / excess kurtosis / Jarque–Bera normality:
    integer-mean shift pass, exact DECIMAL power sums to the 4th."""
    from smartpy_arc_spark.operators.stats import jarque_bera

    orders = _t(spark, sf_dir, "orders")
    return jarque_bera(orders, "o_orderpriority", "o_totalprice")


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson serial-correlation statistic of the daily-revenue
    linear-trend residuals: DECIMAL OLS moments, residuals pre-rounded
    to ONE integer each, exact quadratic forms."""
    from smartpy_arc_spark.operators.stats import durbin_watson

    daily = _daily_rev(spark, sf_dir, by_flag=False).withColumn(
        "xi", F.datediff(F.col("d"), F.to_date(F.lit("1992-01-01")))
    )
    return durbin_watson(daily, "d", "xi", "rev", scale=100)


def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: did per-customer spend shift between
    the early and late halves of the order history?  Doubled-rank
    construction over distinct |d| (partitioned_cumsum), tie-corrected
    z.  Pairs = customers active in both halves."""
    from smartpy_arc_spark.operators.stats import wilcoxon_signed_rank

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cut = F.lit("1995-06-01").cast("timestamp")
    per = orders.groupBy("o_custkey").agg(
        (
            F.sum(F.when(F.col("o_orderdate") < cut, cents)).cast("double")
            / F.lit(100.0)
        ).alias("early"),
        (
            F.sum(F.when(F.col("o_orderdate") >= cut, cents)).cast("double")
            / F.lit(100.0)
        ).alias("late"),
    )
    return wilcoxon_signed_rank(per, "early", "late", scale=100)


def q_ir_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-relevance IR eval per nation (MRR / AP@10 / P@10 / R@10):
    customers ranked by account balance, relevant = ≥3 orders.
    Reciprocal-rank literals pre-rounded; AP terms e6-pre-rounded."""
    from smartpy_arc_spark.operators.itemsets import ir_eval

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    per_c = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n_ord"))
    )
    rel = cust.join(
        per_c, cust["c_custkey"] == per_c["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        (F.coalesce(F.col("n_ord"), F.lit(0)) >= 3).cast("int").alias("rel"),
    )
    return ir_eval(rel, "c_nationkey", "c_acctbal", "rel", "c_custkey", k=10)


def q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein distance between returned (A) and refused (R)
    lineitems' price distributions: distributed CDF segments, exact
    integer numerators, e6-pre-rounded terms."""
    from smartpy_arc_spark.operators.stats import wasserstein_1d

    li = _t(spark, sf_dir, "lineitem")
    return wasserstein_1d(li, "l_returnflag", "l_extendedprice", "A", "R")


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL / Jensen–Shannon divergence of the language mix
    against the corpus mix: explicit bounded grid with zero cells,
    nanonat per-cell pre-rounding."""
    from smartpy_arc_spark.operators.stats import js_divergence

    docs = _t(spark, sf_dir, "documents")
    return js_divergence(docs, "source", "lang")


def q_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ridge regression of extended price on quantity and
    discount (λ = 1e6 tick², no intercept): exact DECIMAL normal
    equations, Cramer closed form."""
    from smartpy_arc_spark.operators.stats import ridge_2f

    li = _t(spark, sf_dir, "lineitem")
    return ridge_2f(
        li, "l_quantity", "l_discount", "l_extendedprice", lam=1000000
    )


def q_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decode of each user's event sequence under the literal
    2-state session-quality HMM: integer max-plus fold, all
    log-probabilities pre-rounded e6 literals (log never runs
    engine-side)."""
    from smartpy_arc_spark.operators.hmm import viterbi_decode

    ev = _t(spark, sf_dir, "events")
    return viterbi_decode(
        ev, "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


def q_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman filter over each returnflag's daily-revenue
    series: [level, variance] double fold with literal noise terms,
    list_reduce-mirrored."""
    from smartpy_arc_spark.operators.resample import kalman_level

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    return kalman_level(daily, "flag", "d", "rev", scale=100)


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint of the global daily-revenue series by
    binary segmentation: exact integer prefix sums, deterministic
    argmax (gain desc, earliest index)."""
    from smartpy_arc_spark.operators.stats import changepoint_binseg

    daily = _daily_rev(spark, sf_dir, by_flag=False)
    return changepoint_binseg(daily, "d", "rev", min_seg=30, scale=100)


def q_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash cell ids (precision 8 and 4) for event coordinates
    derived deterministically from ids: pure shift/and/concat
    expression, generated-SQL mirror — no UDF."""
    from smartpy_arc_spark.operators.scale import geohash_expr

    ev = _t(spark, sf_dir, "events")
    lat = (F.col("user_id") % 18000) / F.lit(100.0) - F.lit(90.0)
    lon = (F.col("event_id") % 36000) / F.lit(100.0) - F.lit(180.0)
    return ev.select(
        "event_id",
        geohash_expr(lat, lon, precision=8).alias("gh8"),
        geohash_expr(lat, lon, precision=4).alias("gh4"),
    )


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label prediction over the embedding corpus (odd ids scored
    against even ids, k=5): exact e6-integer squared-L2 distances,
    deterministic neighbor order and majority vote."""
    from smartpy_arc_spark.operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    return knn_classify(emb, "vec_id", "embedding", "label", k=5)


def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the three returnflags rank consistently across
    daily blocks?  Within-block doubled ranks (k-row windows partitioned
    by day — scale-free), complete blocks only."""
    from smartpy_arc_spark.operators.stats import friedman_test

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    return friedman_test(daily, "d", "flag", "rev", scale=100)


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise Pearson correlations of four lineitem measures from
    ONE DECIMAL moment scan (6 pairs, listwise deletion)."""
    from smartpy_arc_spark.operators.stats import corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        scale=100,
    )


def q_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest of the supplier co-order graph
    (bounded slice, weight = min co-occurrence linenumber sum): strict
    (w, s, d) total order makes the forest unique under ties.
    Oracle-backed since r7 (VERDICT item 7): all-integer, so
    ``_mst_sql`` replays Borůvka — 7 unrolled rounds (≤60 nodes halve in
    ≤6), each with the per-component (w,s,d)-min edge pick and an 8-step
    min-hook + pointer-jump label merge; post-convergence rounds are the
    identity.  The operator instead finishes with Kruskal on the driver
    once the remaining edges fit under ``LOCAL_FINISH_EDGES`` (this
    graph's ~1.8k edges at sf0.01 fit before round 1); under the strict
    order the forest is unique, so both return the same edges.  Also
    pinned against a Kruskal reference in tests."""
    from smartpy_arc_spark.operators.components import (
        minimum_spanning_forest,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    a = li.where("l_suppkey <= 60").alias("a")
    b = li.where("l_suppkey <= 60").alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("s"),
            F.col("b.l_suppkey").alias("d"),
        )
        .agg(
            F.min(F.col("a.l_linenumber") + F.col("b.l_linenumber"))
            .cast("long")
            .alias("w")
        )
    )
    return minimum_spanning_forest(edges).orderBy("s", "d")


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core SQL window-function surface in one query — row_number /
    rank / dense_rank / ntile / percent-rank (explicit rational) /
    cume_dist / lag / lead / first_value gap — per-nation customers by
    balance, tie semantics exercised on the value-ordered windows."""
    cust = _t(spark, sf_dir, "customer")
    bal = F.round(F.col("c_acctbal") * 100).cast("long")
    base = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("ck"),
        bal.alias("bal"),
    )
    w_tie = W.partitionBy("nk").orderBy(F.col("bal").desc(), F.col("ck"))
    w_val = W.partitionBy("nk").orderBy(F.col("bal").desc())
    n = F.count("*").over(W.partitionBy("nk"))
    rnk = F.rank().over(w_val)
    return base.select(
        "nk",
        "ck",
        "bal",
        F.row_number().over(w_tie).alias("rn"),
        rnk.alias("rnk"),
        F.dense_rank().over(w_val).alias("drnk"),
        F.ntile(4).over(w_tie).alias("quartile"),
        F.when(
            n > 1,
            F.round(
                (rnk - 1).cast("double") / (n - 1).cast("double") * 1e6
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("pct_rank_e6"),
        F.round(F.cume_dist().over(w_val) * 1e6)
        .cast("long")
        .alias("cume_e6"),
        F.lag("bal").over(w_tie).alias("prev_bal"),
        F.lead("bal").over(w_tie).alias("next_bal"),
        (F.first("bal").over(w_tie) - F.col("bal")).alias("gap_to_top"),
    )


def q_xml_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML through the scan() fmt plumbing (vs q_xml_roundtrip's direct
    reader): write a customer slice as rowTag XML, read back through
    scan(fmt='xml') with an explicit schema — cents-exact totals."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "sas_xml_ws")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    cust.write.mode("overwrite").format("xml").option("rowTag", "row").save(
        os.path.join(d, "cust_slice.xml")
    )
    back = scan(
        spark,
        d,
        "cust_slice",
        fmt="xml",
        schema="c_custkey long, c_mktsegment string, c_acctbal double",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_cust"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
        .cast("long")
        .alias("total_bal_cents"),
    )


def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-model diagnostics for orders-per-customer by market
    segment: dispersion ratio + method-of-moments negative-binomial
    fit from exact integer moments."""
    from smartpy_arc_spark.operators.stats import overdispersion_fit

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_c = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n_ord"))
    )
    counts = cust.join(
        per_c, cust["c_custkey"] == per_c["o_custkey"], "left"
    ).select(
        "c_mktsegment",
        F.coalesce(F.col("n_ord"), F.lit(0)).cast("long").alias("n_ord"),
    )
    return overdispersion_fit(counts, "c_mktsegment", "n_ord")


def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical VaR/CVaR (5% tail) of day-over-day revenue changes
    per returnflag: explicit integer rank selection, exact tail mean."""
    from smartpy_arc_spark.operators.stats import var_cvar

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    return var_cvar(daily, "flag", "d", "rev", tail_den=20, scale=100)


def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast scorecard for the weekly-naive (lag-7) forecaster over
    each returnflag's daily revenue: MAE/RMSE/MAPE/sMAPE/MASE/pinball,
    all from exact integer error sums with per-term e6 pre-rounding."""
    from smartpy_arc_spark.operators.resample import forecast_eval

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    w = W.partitionBy("flag").orderBy("d")
    with_f = daily.withColumn("fc", F.lag("rev", 7).over(w))
    return forecast_eval(with_f, "flag", "d", "rev", "fc", scale=100)


def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs most-extreme-day screen on the global daily-revenue
    series: exact integer deviation numerators, deterministic argmax."""
    from smartpy_arc_spark.operators.stats import grubbs_statistic

    daily = _daily_rev(spark, sf_dir, by_flag=False)
    return grubbs_statistic(daily, "d", "rev", scale=100)


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked radius self-join (the cartesian-killer spatial
    pattern): event points within 0.05° of each other via 3×3 cell
    neighborhoods + exact integer distance verify — every pair meets
    once, no cross join anywhere."""
    from smartpy_arc_spark.operators.spatial import radius_self_join

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 3000)
    pts = ev.select(
        "event_id",
        ((F.col("user_id") % 1000) / F.lit(100.0)).alias("lat"),
        ((F.col("event_id") % 1000) / F.lit(100.0)).alias("lon"),
    )
    return radius_self_join(
        pts, "event_id", "lat", "lon", radius_e4=500
    )


def q_kfold_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-fold-out OLS stability (5 folds by orderkey mod):
    train-split moments by subtraction from the totals — one scan, k
    Cramer solves."""
    from smartpy_arc_spark.operators.stats import kfold_regression

    li = _t(spark, sf_dir, "lineitem")
    return kfold_regression(
        li, "l_orderkey", "l_quantity", "l_extendedprice", k=5
    )


def q_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy harness (the dedup_eval pattern for sketches):
    approx_count_distinct and approx_percentile validated against their
    exact counterparts.  Oracle-backed since r7 (VERDICT item 7): the
    CONTRACT columns are the exact sides (engine-agnostic — distinct
    count, integer-rank median over a grouped cumulative-count scan, no
    interpolation conventions) plus the bound FLAGS; the oracle asserts
    the flags are 1, so a sketch drifting out of its published error
    bound flips a flag and fails the value compare.  The raw sketch
    values are engine-specific by nature and deliberately stay out of
    the cross-engine surface (they remain pinned by unit tests)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    # exact median by explicit integer rank over value-grouped counts:
    # the `percentiles` allowlist shape (pre-aggregated single-partition
    # cumsum) — both engines select the same VALUES, no percentile
    # interpolation arithmetic ever runs
    vals = li.select(cents.alias("v")).groupBy("v").agg(
        F.count("*").alias("c")
    )
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    # the single-partition cumsum feeds the total AND the rank probe —
    # materialize once so the allowlisted global window runs once (r11)
    cum = vals.select(
        "v", F.sum("c").over(wcum).alias("cum")
    ).localCheckpoint(eager=True)
    tot = cum.agg(F.max("cum").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("v"))
            ).alias("v_low"),
            F.min(
                F.when(F.col("cum") >= F.expr("n div 2 + 1"), F.col("v"))
            ).alias("v_high"),
        )
        .select(F.expr("(v_low + v_high) div 2").alias("p50_exact_cents"))
    )
    exact = li.agg(
        F.count_distinct("l_partkey").cast("long").alias("nd_exact")
    ).crossJoin(med)
    approx = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02)
        .cast("long")
        .alias("nd_approx"),
        F.percentile_approx(cents, F.lit(0.5), F.lit(10000))
        .cast("double")
        .alias("p50_approx"),
    )
    j = exact.crossJoin(approx)
    nd_rel = (
        F.abs(F.col("nd_approx") - F.col("nd_exact")).cast("double")
        / F.col("nd_exact").cast("double")
    )
    p_rel = F.abs(
        F.col("p50_approx") - F.col("p50_exact_cents").cast("double")
    ) / F.col("p50_exact_cents").cast("double")
    return j.select(
        "nd_exact",
        "p50_exact_cents",
        (nd_rel <= 0.06).cast("int").alias("nd_within_3rsd"),
        (p_rel <= 0.01).cast("int").alias("p50_within_1pct"),
    )


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed type counts drained through the memory sink,
    then ranked to per-window top-2 event types (deterministic count
    desc, type asc) — the trending-items shape: streaming agg + batch
    post-rank."""
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        windowed_event_counts,
    )

    stream = read_events_stream(spark, sf_dir)
    counts = run_stream_to_memory(windowed_event_counts(stream))
    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("window_start", "event_type", "n_events", "rk")
    )


def q_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation modal market segment with deterministic ties
    (count desc, value asc) — never engine-arbitrary like mode()."""
    from smartpy_arc_spark.operators.stats import group_mode

    cust = _t(spark, sf_dir, "customer")
    return group_mode(cust, "c_nationkey", "c_mktsegment")


def q_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/P50/P90 order-price bands per priority by explicit selection
    rank (always a real data value — interpolation conventions never
    enter)."""
    from smartpy_arc_spark.operators.stats import percentile_bands

    orders = _t(spark, sf_dir, "orders")
    return percentile_bands(
        orders, "o_orderpriority", "o_totalprice", qs=(10, 50, 90)
    )


def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres/Paasche/Fisher price indices per ship year vs the 1995
    base basket: per-item unit-price rationals, per-term e2 pre-rounds,
    order-free basket sums."""
    from smartpy_arc_spark.operators.stats import price_index

    li = _t(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").alias("yr"),
        "l_partkey",
        "l_extendedprice",
        "l_quantity",
    )
    return price_index(
        li, "yr", "l_partkey", "l_extendedprice", "l_quantity", 1995
    )


def q_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC–XYZ part classification: cumulative revenue share via
    partitioned_cumsum (never a one-task sort) × demand-CV classes,
    integer e6 cuts."""
    from smartpy_arc_spark.operators.stats import abc_xyz

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.year("l_shipdate").alias("yr"),
        "l_extendedprice",
    )
    return abc_xyz(li, "l_partkey", "yr", "l_extendedprice")


def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-customer order-finalization
    rates toward the MoM beta prior — the small-sample rate-ranking
    fix (1/1 must not beat 97/100)."""
    from smartpy_arc_spark.operators.stats import eb_shrinkage

    orders = _t(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1))
        .cast("long")
        .alias("hits"),
        F.count("*").cast("long").alias("trials"),
    )
    return eb_shrinkage(per_c, "o_custkey", "hits", "trials")


def q_mediation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron–Kenny mediation with Sobel z (quantity → discount →
    extended price): integer-mean centering, exact DECIMAL cross
    moments, Cramer 2×2 for the multiple regression."""
    from smartpy_arc_spark.operators.stats import mediation_analysis

    li = _t(spark, sf_dir, "lineitem")
    return mediation_analysis(
        li, "l_quantity", "l_discount", "l_extendedprice"
    )


def q_cumulative_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen–Johansen competing-risks curve over customer order spans
    (cause from the LAST order's status: F=1, P=2, O=censored):
    bounded distinct-time curve, in-order (S, CIF₁, CIF₂) struct
    folds."""
    from smartpy_arc_spark.operators.stats import cumulative_incidence

    orders = _t(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
        .cast("long")
        .alias("dur"),
        F.max_by(
            "o_orderstatus", F.struct("o_orderdate", "o_orderkey")
        ).alias("last_status"),
    )
    caused = per_c.select(
        "dur",
        F.when(F.col("last_status") == "F", 1)
        .when(F.col("last_status") == "P", 2)
        .otherwise(0)
        .alias("cause"),
    )
    return cumulative_incidence(caused, "dur", "cause")


def q_shapley_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-channel Shapley attribution of user reach across
    view/click/purchase: bitmask coalition counts, integer sixths,
    efficiency axiom holds exactly."""
    from smartpy_arc_spark.operators.funnel import shapley_coverage

    ev = _t(spark, sf_dir, "events")
    return shapley_coverage(
        ev, "user_id", "event_type", ["view", "click", "purchase"]
    )


def q_bigram_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-word suggestion table over the document corpus: top-3
    following words per head with exact conditional probabilities."""
    from smartpy_arc_spark.operators.text import bigram_suggest

    docs = _t(spark, sf_dir, "documents")
    return bigram_suggest(docs, "text", top_k=3, min_count=2)


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced downsample of documents by language:
    every lang keeps min-class-size rows chosen by md5(id) order —
    reproducible on any engine."""
    from smartpy_arc_spark.operators.sample import class_balance

    docs = _t(spark, sf_dir, "documents")
    return class_balance(docs, "lang", "doc_id")


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WOE / Information Value of order price deciles against the
    finalized-order target: explicit deterministic ntile, e9 nanonat
    per-bin pre-rounds."""
    from smartpy_arc_spark.operators.stats import woe_iv

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )
    return woe_iv(orders, "o_totalprice", "is_final", "o_orderkey")


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting feature table per returnflag: lag-1/7 values,
    7/28-day trailing means (count-guarded), calendar features — exact
    integer window sums."""
    from smartpy_arc_spark.operators.features import make_lag_features

    daily = _daily_rev(spark, sf_dir, by_flag=True)
    return make_lag_features(daily, "flag", "d", "rev", scale=100)


def q_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend in the finalized-order share across ship
    years (integer score weights; exact moment sums)."""
    from smartpy_arc_spark.operators.stats import trend_test

    orders = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )
    weights = {1995 + i: i + 1 for i in range(7)}
    return trend_test(orders, "yr", "is_final", weights)


def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired flip test: was each customer active (≥1 order) in
    the early vs late half of the history?  Discordant cells only,
    exact integers."""
    from smartpy_arc_spark.operators.stats import mcnemar_test

    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-06-01").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    per_c = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderdate") < cut).cast("int")).alias("early"),
        F.max((F.col("o_orderdate") >= cut).cast("int")).alias("late"),
    )
    paired = cust.join(
        per_c, cust["c_custkey"] == per_c["o_custkey"], "left"
    ).select(
        F.coalesce(F.col("early"), F.lit(0)).alias("early"),
        F.coalesce(F.col("late"), F.lit(0)).alias("late"),
    )
    return mcnemar_test(paired, "early", "late")


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier co-order graph (bounded
    slice): Pearson over edge-end degrees, exact DECIMAL moments."""
    from smartpy_arc_spark.operators.components import assortativity

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.where("l_suppkey <= 60").alias("a")
    b = li.where("l_suppkey <= 60").alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("s"),
            F.col("b.l_suppkey").alias("d"),
        )
        .distinct()
    )
    return assortativity(edges)


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth fit over the document corpus:
    first-occurrence positions via partitioned_cumsum offsets, 20
    checkpoint vocab sizes, log-log OLS with fixed-order ln sums."""
    from smartpy_arc_spark.operators.text import heaps_law

    docs = _t(spark, sf_dir, "documents")
    return heaps_law(docs, "doc_id", "text", n_checkpoints=20)


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness of per-user event inter-arrivals:
    exact integer second gaps (integer div), DECIMAL moments."""
    from smartpy_arc_spark.operators.stats import burstiness

    ev = _t(spark, sf_dir, "events")
    return burstiness(ev, "user_id", "ts")


def q_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-date islands per supplier's shipping calendar (bounded
    slice, ≥3 consecutive absent days): the delivery-outage
    detector."""
    from smartpy_arc_spark.operators.sessionize import calendar_gaps

    li = (
        _t(spark, sf_dir, "lineitem")
        .where("l_suppkey <= 20")
        .select("l_suppkey", F.to_date("l_shipdate").alias("d"))
    )
    return calendar_gaps(li, "l_suppkey", "d", min_gap_days=3)


def q_double_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-shipment screen: the same part shipped in the same
    exact quantity within 7 days — blocked self-join on (entity,
    amount), each pair once.  Line id is the deterministic
    orderkey·10 + linenumber surrogate."""
    from smartpy_arc_spark.operators.checks import duplicate_charges

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        "l_shipdate",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("line_id"),
    )
    return duplicate_charges(
        li,
        "l_partkey",
        "l_quantity",
        "l_shipdate",
        "line_id",
        window_days=7,
        scale=1,
    )


def q_round_number_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-dollar clustering per priority (forensic round-number
    screen): exact counts, binomial z against the literal 1%."""
    from smartpy_arc_spark.operators.checks import round_number_bias

    orders = _t(spark, sf_dir, "orders")
    return round_number_bias(orders, "o_orderpriority", "o_totalprice")


def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey Markov chain over event types
    (the 400th query): per-cell nanonat pre-rounds, order-free sum,
    predictability = 1 − H/H_max."""
    from smartpy_arc_spark.operators.funnel import markov_entropy

    ev = _t(spark, sf_dir, "events")
    return markov_entropy(
        ev, "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF frame extraction end-to-end: deterministic
    checkerboard animations → REAL variable-width-LZW decode of EVERY
    frame → per-frame corner-pixel channel values (exact integers with
    a closed-form oracle — the gif companion to ``avi_frames``)."""
    docs = _t(spark, sf_dir, "documents").where("doc_id < 150").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.gif import make_gif

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                frames = []
                for f in range(1 + d % 3):
                    a = ((d * 13 + f * 7) % 256, (d * 5 + f * 11) % 256,
                         (f * 29 + 3) % 256)
                    b = ((d * 17 + f * 3) % 256, (d * 7 + f * 19) % 256,
                         (d * 3 + f * 5) % 256)
                    img = np.zeros((6, 10, 3), dtype=np.uint8)
                    yy, xx = np.meshgrid(np.arange(6), np.arange(10),
                                         indexing="ij")
                    img[(yy + xx) % 2 == 0] = a
                    img[(yy + xx) % 2 == 1] = b
                    frames.append(img)
                payloads.append(make_gif(frames))
            yield pd.DataFrame({"item_id": pdf["doc_id"], "payload": payloads})

    def frames_out(batches):
        import pandas as pd

        from smartpy_arc_spark.multimodal.gif import parse_gif

        for pdf in batches:
            out = {"item_id": [], "frame_idx": [], "r": [], "g": [], "b": []}
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                for idx, fr in enumerate(parse_gif(bytes(payload))):
                    out["item_id"].append(int(item_id))
                    out["frame_idx"].append(idx)
                    out["r"].append(int(fr[0, 0, 0]))
                    out["g"].append(int(fr[0, 0, 1]))
                    out["b"].append(int(fr[0, 0, 2]))
            yield pd.DataFrame(out)

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    blobs = docs.mapInPandas(synth, "item_id long, payload binary")
    return blobs.mapInPandas(
        frames_out, "item_id long, frame_idx int, r int, g int, b int"
    ).orderBy("item_id", "frame_idx")


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' κ over orders-as-items with lineitems as raters (rating
    = returnflag; modal rater count defines the design, other items
    excluded and counted)."""
    from smartpy_arc_spark.operators.stats import fleiss_kappa

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    return fleiss_kappa(li, "l_orderkey", "l_returnflag")


def q_chi_square_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted standardized residuals of the priority × status
    contingency table — which cells drive the chi-square."""
    from smartpy_arc_spark.operators.stats import chi_square_residuals

    orders = _t(spark, sf_dir, "orders")
    return chi_square_residuals(orders, "o_orderpriority", "o_orderstatus")


def q_feature_mi_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature screening by mutual information against the order-status
    target: priority, order year, and 50k$ price band, ranked in one
    union (per-cell nanonat pre-rounds throughout)."""
    from smartpy_arc_spark.operators.stats import mutual_information

    orders = _t(spark, sf_dir, "orders")
    feats = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("string").alias("year"),
        F.expr(
            "cast(cast(round(o_totalprice * 100) as bigint) div 5000000"
            " as string)"
        ).alias("price_band"),
        F.col("o_orderstatus").alias("status"),
    )
    parts = []
    for f in ("priority", "year", "price_band"):
        parts.append(
            mutual_information(feats, f, "status").select(
                F.lit(f).alias("feature"), "n", "n_cells", "mi_e9"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def q_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: does high-price × finalized-status
    association reverse across order years?  Exact integer cross-product
    signs, no divisions."""
    from smartpy_arc_spark.operators.stats import simpson_check

    orders = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        (F.col("o_totalprice") > 150000).cast("int").alias("high_price"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )
    return simpson_check(orders, "yr", "high_price", "is_final")


def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% CI of the finalized-order share per priority: the
    small-n-safe proportion interval, z as a pre-rounded e3 literal."""
    from smartpy_arc_spark.operators.stats import wilson_ci

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )
    return wilson_ci(orders, "o_orderpriority", "is_final")


def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel year-adjusted odds ratio + CMH chi-square for
    high-price × finalized-status (the confounder-adjusted companion to
    simpson_check): per-stratum e6 pre-rounded terms."""
    from smartpy_arc_spark.operators.stats import mantel_haenszel

    orders = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        (F.col("o_totalprice") > 150000).cast("int").alias("high_price"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )
    return mantel_haenszel(orders, "yr", "high_price", "is_final")


def q_contingency_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority × status association summary: Pearson chi-square,
    likelihood-ratio G, Cramer's V — per-cell e6 pre-rounded exact
    rationals / single-ln terms."""
    from smartpy_arc_spark.operators.stats import contingency_effects

    orders = _t(spark, sf_dir, "orders")
    return contingency_effects(orders, "o_orderpriority", "o_orderstatus")


def q_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state per user across event types ([event, next) integer
    second intervals; the last event carries no fabricated horizon)."""
    from smartpy_arc_spark.operators.sessionize import state_durations

    ev = _t(spark, sf_dir, "events")
    return state_durations(
        ev, "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


def q_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-header vs line-total reconciliation in exact cents (TPC-H
    totals include tax/discount, so the report quantifies the expected
    systematic gap rather than asserting zero)."""
    from smartpy_arc_spark.operators.checks import reconciliation_check

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_totalprice"
    )
    lines = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    return reconciliation_check(
        orders, lines, "okey", "o_totalprice", "l_extendedprice"
    )


def q_kish_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of revenue-weighted orders per
    priority (design effect of weighting by spend)."""
    from smartpy_arc_spark.operators.stats import kish_ess

    orders = _t(spark, sf_dir, "orders")
    return kish_ess(orders, "o_orderpriority", "o_totalprice")


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box whiteness test (lags 1–7) of the global daily-revenue
    series: integer-mean shift, exact DECIMAL lag products, e6
    pre-rounded autocorrelations."""
    from smartpy_arc_spark.operators.stats import ljung_box

    daily = _daily_rev(spark, sf_dir, by_flag=False)
    return ljung_box(daily, "d", "rev", max_lag=7, scale=100)


def q_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-vs-label agreement (purity + NMI) between document
    source groupings and language labels — the external clustering
    scorecard with nanonat-exact information terms."""
    from smartpy_arc_spark.operators.stats import cluster_agreement

    docs = _t(spark, sf_dir, "documents")
    return cluster_agreement(docs, "source", "lang")


def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of order values with the between/within
    market-segment decomposition (nanonat per-term pre-rounds; total =
    between + within to the rounding unit)."""
    from smartpy_arc_spark.operators.stats import theil_index

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "c_mktsegment", "o_totalprice"
    )
    return theil_index(j, "c_mktsegment", "o_totalprice")


def q_avi_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Motion-JPEG video decode (r7 — closes the last multimodal
    stub, VERDICT item 4): deterministic MJPG AVI clips — every frame a
    genuine entropy-coded baseline JFIF image inside a RIFF ``00dc``
    chunk (``multimodal/avi.py:make_avi(codec='MJPG')``) — decoded
    back through the container sniff + the real JPEG Huffman/dequant/
    IDCT path (``parse_avi`` → ``jpeg.parse_jpeg``).  Quality-100
    constant-color frames survive the all-ones quantizer exactly, so
    each decoded frame's color is the closed-form YCbCr↔RGB integer
    roundtrip the SQL oracle mirrors (the ``jpeg_decode`` acceptance
    argument, now per video frame; 4:2:0 subsampling of constant chroma
    is exact too, so both layouts mix in).  Per-frame independent decode
    is WHY MJPEG suits a Spark pipeline: frames parallelize with no
    inter-frame state."""
    docs = _t(spark, sf_dir, "documents").where("doc_id < 120").select("doc_id")

    def synth_decode(batches):
        import numpy as np
        import pandas as pd

        from smartpy_arc_spark.multimodal.avi import make_avi, parse_avi

        for pdf in batches:
            out = {"item_id": [], "frame_idx": [], "n_frames": [],
                   "r": [], "g": [], "b": []}
            for d in pdf["doc_id"]:
                d = int(d)
                n = 2 + d % 3
                frames = [
                    np.full(
                        (8, 16, 3),
                        ((d * 7 + f * 31) % 256, (d * 13 + f * 11) % 256,
                         (d * 5 + f * 3) % 256),
                        dtype=np.uint8,
                    )
                    for f in range(n)
                ]
                payload = make_avi(
                    frames, fps=8, codec="MJPG", quality=100,
                    subsample=(d % 3 == 0),
                )
                decoded, info = parse_avi(payload)
                assert info["compression"] == "MJPG" and len(decoded) == n
                for f, px in enumerate(decoded):
                    out["item_id"].append(d)
                    out["frame_idx"].append(f)
                    out["n_frames"].append(n)
                    out["r"].append(int(px[0, 0, 0]))
                    out["g"].append(int(px[0, 0, 1]))
                    out["b"].append(int(px[0, 0, 2]))
            yield pd.DataFrame(out)

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    return docs.mapInPandas(
        synth_decode,
        "item_id long, frame_idx int, n_frames int, r int, g int, b int",
    ).orderBy("item_id", "frame_idx")


def q_minhash_prod_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production xxhash64 MinHash-LSH invariant fence (rows-only;
    VERDICT r6 item 3).  Since round 6 the ``minhash_pairs`` contract
    runs ``portable_hash=True`` so the driver can hash-verify it; this
    twin runs the DEFAULT hash family (xxhash64 — the 100 TB fast path)
    end-to-end, both plain and hot-bucket-capped, and ASSERTS the
    hash-family-agnostic candidate-set invariants before returning a
    summary row — a regression in the xxhash64 branch (seeds, xorshift
    scrambles, banding, caps, exact-collapse) now fails a ``queries()``
    entry, not just a unit test:

      1. every byte-identical text group is fully linked: for each
         group, (min-id → member) appears with ``jaccard_est = 1.0``
         (identical text ⇒ identical signature ⇒ same band buckets);
      2. ``0 ≤ jaccard_est ≤ 1`` and ``id_a < id_b`` on every pair;
      3. the capped run emits no more pairs than the uncapped run and
         preserves invariant 1 (star edges replace quadratic pairs but
         never drop exact-dup connectivity).
    """
    from smartpy_arc_spark.operators.dedup import (
        minhash_band_candidates,
        minhash_banded,
        minhash_prepare,
    )

    docs = _t(spark, sf_dir, "documents")
    # the plain and capped runs differ only in cap handling — compute
    # the dominant shingling/MinHash/collapse prefix ONCE (r11, guide
    # §2.4; materialized so both variants read rows, not lineage) and
    # the band explode ONCE (r12): the capped run windows the SAME
    # materialized (id, band, bucket) rows the plain run joins.
    # Identical output to two full minhash_lsh_candidates calls, pinned
    # by tests/test_round11_opt.py and tests/test_round12_opt.py
    sigs, star_exact = minhash_prepare(
        docs, shingle_mode="word", shingle_size=3, collapse_exact=True,
        materialize=True,
    )
    banded = minhash_banded(sigs, materialize=True)
    plain = minhash_band_candidates(
        sigs, star_exact, banded=banded
    ).localCheckpoint(eager=True)
    capped = minhash_band_candidates(
        sigs, star_exact, max_bucket_size=8, banded=banded
    ).localCheckpoint(eager=True)

    expected = (
        docs.select("doc_id", F.xxhash64("text").alias("_th"))
        .withColumn("_rep", F.min("doc_id").over(W.partitionBy("_th")))
        .where(F.col("doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    n_expected = expected.count()
    for name, out in (("plain", plain), ("capped", capped)):
        missing = expected.join(
            out.where(F.col("jaccard_est") == 1.0), ["id_a", "id_b"],
            "left_anti",
        ).count()
        if missing:
            raise AssertionError(
                f"xxhash64 production path dropped {missing} exact-dup "
                f"star edges in the {name} run — hash/banding regression"
            )
        bad = out.where(
            (F.col("jaccard_est") < 0) | (F.col("jaccard_est") > 1)
            | (F.col("id_a") >= F.col("id_b"))
        ).count()
        if bad:
            raise AssertionError(
                f"{bad} pairs violate jaccard/ordering bounds ({name} run)"
            )
    n_plain, n_capped = plain.count(), capped.count()
    if n_capped > n_plain:
        raise AssertionError(
            f"capped run emitted MORE pairs ({n_capped}) than uncapped "
            f"({n_plain}) — cap spill regression"
        )
    return spark.createDataFrame(
        [(n_plain, n_capped, n_expected)],
        "n_pairs_plain long, n_pairs_capped long, n_exact_star_edges long",
    )


def q_simhash_prod_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production xxhash64 SimHash invariant fence (rows-only; VERDICT
    r6 item 3) — the ``q_minhash_prod_path`` contract for the SimHash
    tier: DEFAULT hash family, asserts byte-identical texts appear at
    ``hamming = 0``, every pair respects ``0 ≤ hamming ≤ max_hamming``
    and ``id_a < id_b``, then returns a summary row."""
    from smartpy_arc_spark.operators.dedup import simhash_candidates

    docs = _t(spark, sf_dir, "documents")
    max_h = 3
    out = simhash_candidates(
        docs, max_hamming=max_h, collapse_exact=True
    ).localCheckpoint(eager=True)
    expected = (
        docs.select("doc_id", F.xxhash64("text").alias("_th"))
        .withColumn("_rep", F.min("doc_id").over(W.partitionBy("_th")))
        .where(F.col("doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    n_expected = expected.count()
    missing = expected.join(
        out.where(F.col("hamming") == 0), ["id_a", "id_b"], "left_anti"
    ).count()
    if missing:
        raise AssertionError(
            f"xxhash64 simhash path dropped {missing} exact-dup pairs"
        )
    bad = out.where(
        (F.col("hamming") < 0) | (F.col("hamming") > max_h)
        | (F.col("id_a") >= F.col("id_b"))
    ).count()
    if bad:
        raise AssertionError(f"{bad} pairs violate hamming/ordering bounds")
    return spark.createDataFrame(
        [(out.count(), n_expected)],
        "n_pairs long, n_exact_pairs long",
    )


def _stamp_order(q: dict) -> dict:
    """Unstamped entries first (the driver stamps a bounded prefix per
    round); within the unstamped head, oracle-backed queries precede
    rows-only ones so value-hash evidence accrues before the weaker
    rows-only checks."""
    done = _previously_stamped() - _FORCE_RESTAMP
    with_oracle = set(oracle_sql())
    # r9: the two newly-FENCED sketch queries (VERDICT r8 item 4) jump the
    # oracle-backed backlog so their stamps-on-record assert the fence
    priority = {"kll_quantile_rollup", "theta_segment_overlap"}
    head = {k: v for k, v in q.items() if k not in done and k in priority}
    head.update(
        {k: v for k, v in q.items() if k not in done and k in with_oracle}
    )
    head.update({k: v for k, v in q.items() if k not in done and k not in with_oracle})
    tail = {k: v for k, v in q.items() if k in done}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Declared order is importance order; _stamp_order floats entries that
    # have no green CORRECTNESS row yet to the front (the driver stamps a
    # bounded prefix per round).
    return _stamp_order({
        "dsir_weights": q_dsir_weights,
        "duplicate_spans": q_duplicate_spans,
        "semdedup": q_semdedup,
        "bloom_join": q_bloom_join,
        "orc_roundtrip": q_orc_roundtrip,
        "perplexity_buckets": q_perplexity_buckets,
        "domain_cap": q_domain_cap,
        "mixture_allocation": q_mixture_allocation,
        "bpe_merges": q_bpe_merges,
        "remove_spans": q_remove_spans,
        "csv_roundtrip": q_csv_roundtrip,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "schema_evolution": q_schema_evolution,
        "multimodal_dedup": q_multimodal_dedup,
        "partition_prune": q_partition_prune,
        "bucketed_join": q_bucketed_join,
        "decontaminate": q_decontaminate,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "minhash_incremental": q_minhash_incremental,
        "zorder_code": q_zorder_code,
        "kll_quantile_rollup": q_kll_quantile_rollup,
        "url_stats": q_url_stats,
        "doc_chunks": q_doc_chunks,
        "snapshot_read": q_snapshot_read,
        "theta_segment_overlap": q_theta_segment_overlap,
        "approx_topk_terms": q_approx_topk_terms,
        "curate_corpus": q_curate_corpus,
        "quantile_filter": q_quantile_filter,
        "stream_dedup_wm": q_stream_dedup_wm,
        "recursive_date_spine": q_recursive_date_spine,
        "collocations": q_collocations,
        "funnel_conversion": q_funnel_conversion,
        "price_histogram": q_price_histogram,
        "bitmap_distinct_rollup": q_bitmap_distinct_rollup,
        "variant_props": q_variant_props,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q11_important_parts": q11_important_parts,
        "q20_promo_shippers": q20_promo_shippers,
        "pagerank_influence": q_pagerank_influence,
        "salted_join_revenue": q_salted_join_revenue,
        "cohort_retention": q_cohort_retention,
        "q13_cust_distribution": q13_cust_distribution,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "q21_waiting_supplier": q21_waiting_supplier,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_resize": q_multimodal_resize,
        "resample_ffill": q_resample_ffill,
        "asof_join_forward": q_asof_join_forward,
        "federated_join": q_federated_join,
        "dq_report": q_dq_report,
        "grouped_zscore": q_grouped_zscore,
        "range_window_revenue": q_range_window_revenue,
        "repetition_stats": q_repetition_stats,
        "gopher_flags": q_gopher_flags,
        "pii_redact": q_pii_redact,
        "stream_enrich": q_stream_enrich,
        "shp_scan": q_shp_scan,
        "polyline_derived": q_polyline_derived,
        "geom_encodings": q_geom_encodings,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q10_returned_revenue": q10_returned_revenue,
        "q12_priority_class": q12_priority_class,
        "q14_promo_revenue": q14_promo_revenue,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_counts": q16_supplier_counts,
        "q18_large_orders": q18_large_orders,
        "q19_disjunctive_filter": q19_disjunctive_filter,
        "q22_dormant_customers": q22_dormant_customers,
        "cube_revenue": q_cube_revenue,
        "event_gaps": q_event_gaps,
        "grouping_sets_revenue": q_grouping_sets_revenue,
        "intersect_except_keys": q_intersect_except_keys,
        "first_last_orders": q_first_last_orders,
        "lateral_top2": q_lateral_top2,
        "approx_stats": q_approx_stats,
        "hll_sketch_union": q_hll_sketch_union,
        "dedup_exact_rows": q_dedup_exact_rows,
        "ivf_ann": q_ivf_ann,
        "asof_join": q_asof_join,
        "percentiles": q_percentiles,
        "pivot_status": q_pivot_status,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_pairs": q_minhash_pairs,
        "simhash_candidates": q_simhash_candidates,
        "rolling_fingerprint": q_rolling_fingerprint,
        "ann_lsh": q_ann_lsh,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_label_stats": q_embedding_label_stats,
        "geom_derived": q_geom_derived,
        "geom_split": q_geom_split,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_features": q_multimodal_features,
        "stream_window_counts": q_stream_window_counts,
        "stream_sessionize": q_stream_sessionize,
        "stream_first_seen": q_stream_first_seen,
        # --- below here: stamped green in CORRECTNESS_r01.json ---
        "scan_project_filter": q_scan_project_filter,
        "scan_case_rename": q_scan_case_rename,
        "null_sentinel_fill": q_null_sentinel_fill,
        "null_sentinel_restore": q_null_sentinel_restore,
        "row_count": q_row_count,
        "enrich_join_inner": q_enrich_join_inner,
        "enrich_join_left": q_enrich_join_left,
        "copy_oids": q_copy_oids,
        "ap_ratio": q_ap_ratio,
        "timestamp_clamp": q_timestamp_clamp,
        "compat_casts": q_compat_casts,
        "copy_feats": q_copy_feats,
        "create_layer": q_create_layer,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier": q5_local_supplier,
        "top3_customers_per_nation": q_top3_customers_per_nation,
        "rollup_revenue": q_rollup_revenue,
        "union_distinct_keys": q_union_distinct_keys,
        "semi_anti_join": q_semi_anti_join,
        "json_props": q_json_props,
        "sessionize": q_sessionize,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "token_count_regex": q_token_count_regex,
        "doc_fingerprint": q_doc_fingerprint,
        "knn_cosine": q_knn_cosine,
        "wordcount_topk": q_wordcount_topk,
        "tfidf_top_terms": q_tfidf_top_terms,
        "edit_distance_pairs": q_edit_distance_pairs,
        "content_sample": q_content_sample,
        "ntile_deciles": q_ntile_deciles,
        "dow_hour_histogram": q_dow_hour_histogram,
        "stream_dedup": q_stream_dedup,
        "range_bucket_join": q_range_bucket_join,
        "stream_stream_join": q_stream_stream_join,
        "dbf_scan": q_dbf_scan,
        "rolling_avg": q_rolling_avg,
        "zscore_anomalies": q_zscore_anomalies,
        "regression_per_segment": q_regression_per_segment,
        "dedup_survivors": q_dedup_survivors,
        "dedup_clusters": q_dedup_clusters,
        "merge_upsert": q_merge_upsert,
        "sliding_window_counts": q_sliding_window_counts,
        "unpivot_measures": q_unpivot_measures,
        "distinct_counts": q_distinct_counts,
        "correlated_above_avg": q_correlated_above_avg,
        "q4_order_priority": q4_order_priority,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q7_volume_shipping": q7_volume_shipping,
        # --- r3 late additions: declared last so the earlier unstamped
        # batch keeps stamp priority under the driver's per-round cap ---
        "cdc_apply": q_cdc_apply,
        "triangle_count": q_triangle_count,
        "inverted_index": q_inverted_index,
        "weighted_sample": q_weighted_sample,
        "dataset_split": q_dataset_split,
        "bm25_search": q_bm25_search,
        "resample_interp": q_resample_interp,
        "neighbor_join": q_neighbor_join,
        "frequent_pairs": q_frequent_pairs,
        "sequence_funnel": q_sequence_funnel,
        "snapshot_diff": q_snapshot_diff,
        "k_core": q_k_core,
        "mad_anomalies": q_mad_anomalies,
        "winsorize": q_winsorize,
        "transition_counts": q_transition_counts,
        "chi_square": q_chi_square,
        "welch_t": q_welch_t,
        "mann_whitney": q_mann_whitney,
        "ks_test": q_ks_test,
        "ols_regression": q_ols_regression,
        "autocorr": q_autocorr,
        "source_concentration": q_source_concentration,
        "vocab_coverage": q_vocab_coverage,
        "equi_depth_hist": q_equi_depth_hist,
        "pit_join": q_pit_join,
        "hopping_windows": q_hopping_windows,
        "stream_type_profile": q_stream_type_profile,
        "ewma": q_ewma,
        "bfs_hops": q_bfs_hops,
        "quantile_norm": q_quantile_norm,
        "mom_change": q_mom_change,
        "set_similarity": q_set_similarity,
        "source_similarity": q_source_similarity,
        "embedding_covariance": q_embedding_covariance,
        "pca_embeddings": q_pca_embeddings,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "xml_roundtrip": q_xml_roundtrip,
        "unpivot_metrics": q_unpivot_metrics,
        "poisson_bootstrap": q_poisson_bootstrap,
        "stream_custom_source": q_stream_custom_source,
        "fuzzy_link": q_fuzzy_link,
        "interval_overlap": q_interval_overlap,
        "target_encode": q_target_encode,
        "target_encode_loo": q_target_encode_loo,
        "feature_hash": q_feature_hash,
        "wav_decode": q_wav_decode,
        "bmp_decode": q_bmp_decode,
        "k_anonymity": q_k_anonymity,
        "psi_drift": q_psi_drift,
        "incremental_agg": q_incremental_agg,
        "skew_report": q_skew_report,
        "epoch_shuffle": q_epoch_shuffle,
        "referential_report": q_referential_report,
        "neyman_allocation": q_neyman_allocation,
        "png_decode": q_png_decode,
        "sssp": q_sssp,
        "benford": q_benford,
        "gini": q_gini,
        "spearman": q_spearman,
        "anova": q_anova,
        "proportion_ztest": q_proportion_ztest,
        "cusum": q_cusum,
        "rfm_segments": q_rfm_segments,
        "attribution": q_attribution,
        "spatial_join": q_spatial_join,
        "bpe_encode": q_bpe_encode,
        "holt": q_holt,
        "label_propagation": q_label_propagation,
        "kendall": q_kendall,
        "profile": q_profile,
        "linkage_clusters": q_linkage_clusters,
        "l_diversity": q_l_diversity,
        "ngram_novelty": q_ngram_novelty,
        "image_dedup": q_image_dedup,
        "stream_hopping": q_stream_hopping,
        "mmr_select": q_mmr_select,
        "cdc_generate": q_cdc_generate,
        "rake_keywords": q_rake_keywords,
        "theil_sen": q_theil_sen,
        "pareto_frontier": q_pareto_frontier,
        "abc_classification": q_abc_classification,
        "luhn_validation": q_luhn_validation,
        "seasonal_naive": q_seasonal_naive,
        "kaplan_meier": q_kaplan_meier,
        "twap": q_twap,
        "geometric_median": q_geometric_median,
        "mutual_information": q_mutual_information,
        "conformal": q_conformal,
        "table_fingerprint": q_table_fingerprint,
        "fixed_width_roundtrip": q_fixed_width_roundtrip,
        "personalized_pagerank": q_personalized_pagerank,
        "char_entropy": q_char_entropy,
        "hits": q_hits,
        "weighted_median": q_weighted_median,
        "containment": q_containment,
        "compression_ratio": q_compression_ratio,
        "negative_samples": q_negative_samples,
        "log_rank": q_log_rank,
        "item_similarity": q_item_similarity,
        "zipf_slope": q_zipf_slope,
        "golden_record": q_golden_record,
        "recs_eval": q_recs_eval,
        "stream_ewma_anomaly": q_stream_ewma_anomaly,
        "wav_spectral": q_wav_spectral,
        "calibration": q_calibration,
        "langid_confusion": q_langid_confusion,
        "ece": q_ece,
        "auc": q_auc,
        "classification_metrics": q_classification_metrics,
        "lift_table": q_lift_table,
        "growth_accounting": q_growth_accounting,
        "cohens_kappa": q_cohens_kappa,
        "percentiles_approx": q_percentiles_approx,
        "profile_approx": q_profile_approx,
        "minhash_pairs_capped": q_minhash_pairs_capped,
        "lsh_bucket_report": q_lsh_bucket_report,
        "avro_roundtrip": q_avro_roundtrip,
        "jpeg_decode": q_jpeg_decode,
        "modularity": q_modularity,
        "louvain": q_louvain,
        "isotonic": q_isotonic,
        "cox_score": q_cox_score,
        "hll_rollup": q_hll_rollup,
        "random_projection": q_random_projection,
        "seasonal_decompose": q_seasonal_decompose,
        "gif_decode": q_gif_decode,
        "line_dedup": q_line_dedup,
        "cuped": q_cuped,
        "textrank": q_textrank,
        "compact_files": q_compact_files,
        "dbscan": q_dbscan,
        "ipf_raking": q_ipf_raking,
        "nb_langid": q_nb_langid,
        "logistic": q_logistic,
        "sql_surface": q_sql_surface,
        "dtw_types": q_dtw_types,
        "peak_concurrency": q_peak_concurrency,
        "holt_winters": q_holt_winters,
        "rolling_corr": q_rolling_corr,
        "path_trigrams": q_path_trigrams,
        "convex_hulls": q_convex_hulls,
        "diff_in_diff": q_diff_in_diff,
        "explain_summary": q_explain_summary,
        "dedup_eval": q_dedup_eval,
        "session_stats": q_session_stats,
        "scd2_build": q_scd2_build,
        "link_predict": q_link_predict,
        "clustering_coeff": q_clustering_coeff,
        "decision_stump": q_decision_stump,
        "fd_discovery": q_fd_discovery,
        "rrf_fusion": q_rrf_fusion,
        "kmeans": q_kmeans,
        "association_rules": q_association_rules,
        "decision_tree": q_decision_tree,
        "ar_model": q_ar_model,
        "burst_detect": q_burst_detect,
        "nelson_aalen": q_nelson_aalen,
        "croston": q_croston,
        "rolling_distinct": q_rolling_distinct,
        "xcorr_leadlag": q_xcorr_leadlag,
        "smd_balance": q_smd_balance,
        "ams_f2": q_ams_f2,
        "hilbert_code": q_hilbert_code,
        "zone_map": q_zone_map,
        "interval_merge": q_interval_merge,
        "rmst": q_rmst,
        "lorenz_curve": q_lorenz_curve,
        "t_closeness": q_t_closeness,
        "pq_encode": q_pq_encode,
        "time_to_convert": q_time_to_convert,
        "business_days": q_business_days,
        "seq_patterns": q_seq_patterns,
        "markov_attribution": q_markov_attribution,
        "revenue_recognition": q_revenue_recognition,
        "ndcg_eval": q_ndcg_eval,
        "ohlc_bars": q_ohlc_bars,
        "embedding_whiten": q_embedding_whiten,
        "dp_counts": q_dp_counts,
        "brier_decomposition": q_brier_decomposition,
        "trimmed_mean": q_trimmed_mean,
        "periodogram": q_periodogram,
        "effect_sizes": q_effect_sizes,
        "frequent_triples": q_frequent_triples,
        "readability": q_readability,
        "pairwise_diffs": q_pairwise_diffs,
        "rbo": q_rbo,
        "max_drawdown": q_max_drawdown,
        "cohort_ltv": q_cohort_ltv,
        "price_elasticity": q_price_elasticity,
        "uplift_deciles": q_uplift_deciles,
        "source_ablation": q_source_ablation,
        "srm_check": q_srm_check,
        "power_analysis": q_power_analysis,
        "avi_decode": q_avi_decode,
        "avi_frames": q_avi_frames,
        "lsa_embeddings": q_lsa_embeddings,
        "vwap": q_vwap,
        "bollinger": q_bollinger,
        "rsi": q_rsi,
        "macd": q_macd,
        "market_beta": q_market_beta,
        "sharpe": q_sharpe,
        "kruskal_wallis": q_kruskal_wallis,
        "levene_bf": q_levene_bf,
        "runs_test": q_runs_test,
        "jarque_bera": q_jarque_bera,
        "durbin_watson": q_durbin_watson,
        "wilcoxon": q_wilcoxon,
        "ir_eval": q_ir_eval,
        "wasserstein": q_wasserstein,
        "js_divergence": q_js_divergence,
        "ridge": q_ridge,
        "viterbi": q_viterbi,
        "kalman": q_kalman,
        "changepoint": q_changepoint,
        "geohash": q_geohash,
        "knn_classify": q_knn_classify,
        "friedman": q_friedman,
        "corr_matrix": q_corr_matrix,
        "mst": q_mst,
        "window_suite": q_window_suite,
        "xml_scan_roundtrip": q_xml_scan_roundtrip,
        "overdispersion": q_overdispersion,
        "var_cvar": q_var_cvar,
        "forecast_eval": q_forecast_eval,
        "grubbs": q_grubbs,
        "radius_join": q_radius_join,
        "kfold_ols": q_kfold_ols,
        "sketch_eval": q_sketch_eval,
        "stream_topk": q_stream_topk,
        "group_mode": q_group_mode,
        "percentile_bands": q_percentile_bands,
        "price_index": q_price_index,
        "abc_xyz": q_abc_xyz,
        "eb_shrinkage": q_eb_shrinkage,
        "mediation": q_mediation,
        "cumulative_incidence": q_cumulative_incidence,
        "shapley_coverage": q_shapley_coverage,
        "bigram_suggest": q_bigram_suggest,
        "class_balance": q_class_balance,
        "woe_iv": q_woe_iv,
        "lag_features": q_lag_features,
        "trend_test": q_trend_test,
        "mcnemar": q_mcnemar,
        "assortativity": q_assortativity,
        "heaps_law": q_heaps_law,
        "burstiness": q_burstiness,
        "calendar_gaps": q_calendar_gaps,
        "double_charge": q_double_charge,
        "round_number_bias": q_round_number_bias,
        "markov_entropy": q_markov_entropy,
        "gif_frames": q_gif_frames,
        "fleiss_kappa": q_fleiss_kappa,
        "chi_square_residuals": q_chi_square_residuals,
        "feature_mi_ranking": q_feature_mi_ranking,
        "simpson_check": q_simpson_check,
        "wilson_ci": q_wilson_ci,
        "mantel_haenszel": q_mantel_haenszel,
        "contingency_effects": q_contingency_effects,
        "state_durations": q_state_durations,
        "reconciliation": q_reconciliation,
        "kish_ess": q_kish_ess,
        "ljung_box": q_ljung_box,
        "cluster_agreement": q_cluster_agreement,
        "theil_index": q_theil_index,
        # round-6 stub-variant renames (the contract names above now run
        # the real codecs); declared last so they never displace older
        # unstamped queries from the driver's stamp prefix
        "multimodal_decode_stub": q_multimodal_decode_stub,
        "multimodal_features_stub": q_multimodal_features_stub,
        "multimodal_dedup_text": q_multimodal_dedup_text,
        # r7: xxhash64 production-path invariant fences (VERDICT item 3)
        # — rows-only twins of the portable-hash contract queries,
        # declared last so they never displace older unstamped queries
        "minhash_prod_path": q_minhash_prod_path,
        "simhash_prod_path": q_simhash_prod_path,
        # r7: real MJPEG video decode (VERDICT item 4) — declared last
        # for the same stamp-queue reason
        "avi_mjpeg_frames": q_avi_mjpeg_frames,
    })


def _morton_sql(xe: str, ye: str, bits: int = 8) -> str:
    """Bit-interleave SQL mirroring operators/scale.py:morton_code — built
    programmatically so the Spark expression and the oracle can't drift."""
    terms = []
    for b in range(bits):
        terms.append(f"((({xe}) >> {b}) & 1) << {2 * b + 1}")
        terms.append(f"((({ye}) >> {b}) & 1) << {2 * b}")
    return " | ".join(f"({t})" for t in terms)


_DAILY_REV_SQL = """
            SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS rev
            FROM lineitem GROUP BY 1, 2
"""

_DAILY_REV_GLOBAL_SQL = """
            SELECT CAST(l_shipdate AS DATE) AS d,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS rev
            FROM lineitem GROUP BY 1
"""


def _rsi_sql(period: int = 14) -> str:
    """Generated mirror of ``operators.resample.rsi``: the seed mean and
    the Wilder fold are emitted programmatically so the Spark
    ``F.aggregate`` expression and the DuckDB ``list_reduce`` can't
    drift (the ``holt_winters`` oracle pattern)."""
    p = float(period)

    def wilder(arr: str) -> str:
        seed = (
            f"(list_reduce(list_prepend(0.0, {arr}[1:{period}]), "
            f"(a2, b2) -> a2 + b2) / {p})"
        )
        return (
            f"list_reduce(list_prepend({seed}, {arr}[{period + 1}:]), "
            f"(acc, v) -> (acc * {p - 1.0} + v) / {p})"
        )

    return f"""
        WITH daily AS ({_DAILY_REV_SQL}
        ), ticked AS (
            SELECT flag, d, round(rev * 100) AS x FROM daily
        ), diffs AS (
            SELECT flag, d,
                   x - lag(x) OVER (PARTITION BY flag ORDER BY d) AS dx
            FROM ticked
        ), series AS (
            SELECT flag, CAST(count(*) AS BIGINT) AS n_obs,
                   list(CASE WHEN dx > 0 THEN dx ELSE 0.0 END ORDER BY d)
                       FILTER (WHERE dx IS NOT NULL) AS gains,
                   list(CASE WHEN dx < 0 THEN -dx ELSE 0.0 END ORDER BY d)
                       FILTER (WHERE dx IS NOT NULL) AS losses
            FROM diffs GROUP BY flag
        ), f AS (
            SELECT flag, n_obs, {wilder('gains')} AS ag,
                   {wilder('losses')} AS al
            FROM series
        )
        SELECT flag, n_obs,
               CASE WHEN n_obs >= {period + 1}
                    THEN CAST(round(ag / 100 * 10000) AS BIGINT)
               END AS avg_gain_e4,
               CASE WHEN n_obs >= {period + 1}
                    THEN CAST(round(al / 100 * 10000) AS BIGINT)
               END AS avg_loss_e4,
               CASE WHEN n_obs >= {period + 1}
                    THEN CAST(round(CASE WHEN ag + al > 0
                              THEN 100.0 * ag / (ag + al) * 10000
                              ELSE 0.0 END) AS BIGINT)
               END AS rsi_e4
        FROM f
    """


def _macd_sql(fast: int = 12, slow: int = 26, signal: int = 9) -> str:
    """Generated mirror of ``operators.resample.macd``: the three-EMA
    array-accumulator fold, element order [fast, slow, signal]."""
    af = f"(2.0 / {float(fast + 1)})"
    asl = f"(2.0 / {float(slow + 1)})"
    ag = f"(2.0 / {float(signal + 1)})"
    ef = f"({af} * x[1] + (1.0 - {af}) * acc[1])"
    es = f"({asl} * x[1] + (1.0 - {asl}) * acc[2])"
    sg = f"({ag} * ({ef} - {es}) + (1.0 - {ag}) * acc[3])"
    fold = (
        "list_reduce(list_prepend([xs[1], xs[1], 0.0], "
        "list_transform(xs[2:], v -> [v])), "
        f"(acc, x) -> [{ef}, {es}, {sg}])"
    )
    return f"""
        WITH daily AS ({_DAILY_REV_SQL}
        ), ticked AS (
            SELECT flag, d, round(rev * 100) AS x FROM daily
        ), s AS (
            SELECT flag, list(x ORDER BY d) AS xs FROM ticked GROUP BY flag
        ), f AS (
            SELECT flag, CAST(len(xs) AS BIGINT) AS n_obs,
                   CASE WHEN len(xs) >= 2 THEN {fold} END AS hw
            FROM s
        ), g AS (
            SELECT flag, n_obs,
                   CAST(round((hw[1] - hw[2]) / 100 * 10000) AS BIGINT)
                       AS macd_e4,
                   CAST(round(hw[3] / 100 * 10000) AS BIGINT) AS signal_e4
            FROM f
        )
        SELECT flag, n_obs, macd_e4, signal_e4,
               macd_e4 - signal_e4 AS hist_e4
        FROM g
    """


def _ir_eval_sql(k: int = 10) -> str:
    """Generated mirror of ``operators.itemsets.ir_eval``: the
    reciprocal-rank literals are computed by the SAME Python round as
    the Spark map literal (the ndcg pre-rounded-literal contract)."""
    rr_case = " ".join(
        f"WHEN {r} THEN {round(1e6 / r)}" for r in range(1, k + 1)
    )
    return f"""
        WITH per_c AS (
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
            FROM orders GROUP BY o_custkey
        ), base AS (
            SELECT c.c_nationkey AS g, c.c_acctbal AS score,
                   c.c_custkey AS id,
                   CASE WHEN COALESCE(p.n_ord, 0) >= 3 THEN 1 ELSE 0 END
                       AS rel
            FROM customer c LEFT JOIN per_c p ON c.c_custkey = p.o_custkey
        ), ranked AS (
            SELECT g, rel,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY score DESC, id) AS rk
            FROM base
        ), cumd AS (
            SELECT g, rel, rk,
                   CAST(SUM(rel) OVER (PARTITION BY g ORDER BY rk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c
            FROM ranked
        ), agg AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_items,
                   CAST(SUM(rel) AS BIGINT) AS n_rel,
                   min(CASE WHEN rel = 1 THEN rk END) AS fr,
                   CAST(SUM(CASE WHEN rel = 1 AND rk <= {k}
                        THEN CAST(round(CAST(c AS DOUBLE)
                                        / CAST(rk AS DOUBLE)
                                        * 1000000.0) AS BIGINT) END)
                        AS BIGINT) AS ap_sum,
                   CAST(SUM(CASE WHEN rel = 1 AND rk <= {k}
                            THEN 1 ELSE 0 END) AS BIGINT) AS c_k
            FROM cumd GROUP BY g
        )
        SELECT g AS c_nationkey, n_items, n_rel,
               CAST(CASE fr {rr_case} ELSE 0 END AS BIGINT) AS rr_e6,
               CASE WHEN n_rel > 0 THEN
                   CAST(round(CAST(ap_sum AS DOUBLE)
                              / CAST(least(n_rel, {k}) AS DOUBLE))
                        AS BIGINT)
               END AS ap_e6,
               CAST(round(CAST(c_k AS DOUBLE) / {k} * 1000000.0)
                    AS BIGINT) AS p_at_k_e6,
               CASE WHEN n_rel > 0 THEN
                   CAST(round(CAST(c_k AS DOUBLE) / CAST(n_rel AS DOUBLE)
                              * 1000000.0) AS BIGINT)
               END AS r_at_k_e6
        FROM agg
    """


def _geohash_oracle_sql() -> str:
    """Geohash oracle from the same generator as the Spark expression
    (``operators.scale.geohash_sql`` shares the bit-layout loop with
    ``geohash_expr``)."""
    from smartpy_arc_spark.operators.scale import geohash_sql

    lat = "(user_id % 18000) / 100.0 - 90.0"
    lon = "(event_id % 36000) / 100.0 - 180.0"
    return f"""
        SELECT event_id,
               {geohash_sql(lat, lon, precision=8)} AS gh8,
               {geohash_sql(lat, lon, precision=4)} AS gh4
        FROM events
    """


_GEOHASH_ORACLE_SQL = _geohash_oracle_sql()


def _knn_classify_sql(dim: int = 64, k: int = 5) -> str:
    """Generated mirror of ``operators.similarity.knn_classify``: the
    64-term exact integer distance sum is emitted per dimension."""
    dist = " + ".join(
        f"(te.e[{i}] - tr.e[{i}]) * (te.e[{i}] - tr.e[{i}])"
        for i in range(1, dim + 1)
    )
    return f"""
        WITH q AS (
            SELECT vec_id, label,
                   list_transform(CAST(embedding AS DOUBLE[]),
                       v -> CAST(round(v * 1000000) AS BIGINT)) AS e
            FROM embeddings
        ), te AS (
            SELECT * FROM q WHERE vec_id % 2 = 1
        ), tr AS (
            SELECT * FROM q WHERE NOT (vec_id % 2 = 1)
        ), pairs AS (
            SELECT te.vec_id AS tid, te.label AS tlabel,
                   tr.vec_id AS nid, tr.label AS nlabel,
                   ({dist}) AS d
            FROM te JOIN tr ON tr.vec_id != te.vec_id
        ), ranked AS (
            SELECT tid, tlabel, nid, nlabel, d,
                   row_number() OVER (PARTITION BY tid
                                      ORDER BY d, nid) AS rk
            FROM pairs
        ), votes AS (
            SELECT tid, tlabel, nlabel, count(*) AS votes
            FROM ranked WHERE rk <= {k}
            GROUP BY tid, tlabel, nlabel
        ), best AS (
            SELECT tid, tlabel, nlabel,
                   row_number() OVER (PARTITION BY tid
                                      ORDER BY votes DESC, nlabel) AS vr
            FROM votes
        )
        SELECT tid AS vec_id, tlabel AS true_label,
               nlabel AS pred_label,
               CAST(tlabel = nlabel AS INT) AS correct
        FROM best WHERE vr = 1
    """


def _corr_matrix_sql(cols, *, table: str = "lineitem") -> str:
    """Generated mirror of ``operators.stats.corr_matrix`` over the
    SAME column list, pair order, and expression tree."""
    n = len(cols)
    sel = [
        f"CAST(round({c} * 100) AS BIGINT) AS x{i}"
        for i, c in enumerate(cols)
    ]
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for i in range(n):
        aggs.append(f"CAST(SUM(x{i}) AS BIGINT) AS s{i}")
        aggs.append(f"SUM(CAST(x{i} AS HUGEINT) * x{i}) AS q{i}")
    for i in range(n):
        for j in range(i + 1, n):
            aggs.append(f"SUM(CAST(x{i} AS HUGEINT) * x{j}) AS p{i}_{j}")
    selects = []
    for i in range(n):
        for j in range(i + 1, n):
            num = (
                f"CAST(CAST(n AS HUGEINT) * p{i}_{j} "
                f"- CAST(s{i} AS HUGEINT) * s{j} AS DOUBLE)"
            )
            vi = (
                f"CAST(CAST(n AS HUGEINT) * q{i} "
                f"- CAST(s{i} AS HUGEINT) * s{i} AS DOUBLE)"
            )
            vj = (
                f"CAST(CAST(n AS HUGEINT) * q{j} "
                f"- CAST(s{j} AS HUGEINT) * s{j} AS DOUBLE)"
            )
            selects.append(
                f"SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b, n, "
                f"CASE WHEN {vi} > 0 AND {vj} > 0 THEN "
                f"CAST(round({num} / (sqrt({vi}) * sqrt({vj})) "
                f"* 1000000.0) AS BIGINT) END AS corr_e6 FROM mom"
            )
    union = " UNION ALL ".join(selects)
    return f"""
        WITH base AS (
            SELECT {', '.join(sel)} FROM {table} WHERE {notnull}
        ), mom AS (
            SELECT {', '.join(aggs)} FROM base
        )
        {union}
    """


def _cif_sql() -> str:
    """Generated mirror of ``operators.stats.cumulative_incidence``:
    per-point list_reduce folds over the [d1, d2, c] curve array with a
    [p, cif1, cif2, used] accumulator (the kaplan_meier oracle shape)."""
    nr = "(n_total - acc[4])"
    step = (
        f"[acc[1] * (1.0 - (x[1] + x[2]) / {nr}), "
        f"acc[2] + acc[1] * (x[1] / {nr}), "
        f"acc[3] + acc[1] * (x[2] / {nr}), "
        f"acc[4] + x[1] + x[2] + x[3]]"
    )

    def fold(upto: str, field: int) -> str:
        return (
            "list_reduce(list_prepend([1.0, 0.0, 0.0, 0.0], "
            f"arr[1:{upto}]), (acc, x) -> {step})[{field}]"
        )

    return f"""
        WITH spans AS (
            SELECT o_custkey,
                   CAST(date_diff('day', min(o_orderdate),
                                  max(o_orderdate)) AS BIGINT) AS dur
            FROM orders GROUP BY o_custkey
        ), lasts AS (
            SELECT o_custkey, o_orderstatus AS last_status
            FROM (
                SELECT o_custkey, o_orderstatus,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC,
                                    o_orderkey DESC) AS rn
                FROM orders
            ) WHERE rn = 1
        ), per_c AS (
            SELECT spans.o_custkey, spans.dur, lasts.last_status
            FROM spans JOIN lasts USING (o_custkey)
        ), caused AS (
            SELECT dur AS t,
                   CASE last_status WHEN 'F' THEN 1 WHEN 'P' THEN 2
                        ELSE 0 END AS k
            FROM per_c WHERE dur IS NOT NULL
        ), per_t AS (
            SELECT t,
                   CAST(count(CASE WHEN k = 1 THEN 1 END) AS BIGINT) AS d1,
                   CAST(count(CASE WHEN k = 2 THEN 1 END) AS BIGINT) AS d2,
                   CAST(count(CASE WHEN k = 0 THEN 1 END) AS BIGINT) AS c
            FROM caused GROUP BY t
        ), curve AS (
            SELECT list([CAST(d1 AS DOUBLE), CAST(d2 AS DOUBLE),
                         CAST(c AS DOUBLE)] ORDER BY t) AS arr,
                   list(t ORDER BY t) AS ts,
                   list(d1 ORDER BY t) AS d1s,
                   list(d2 ORDER BY t) AS d2s,
                   list(c ORDER BY t) AS cs,
                   CAST(SUM(d1 + d2 + c) AS BIGINT) AS n_total
            FROM per_t
        )
        SELECT ts[i] AS t,
               CAST(n_total - COALESCE(
                   CAST({fold("i - 1", 4)} AS BIGINT), 0) AS BIGINT)
                   AS n_at_risk,
               CAST(d1s[i] AS BIGINT) AS d1,
               CAST(d2s[i] AS BIGINT) AS d2,
               CAST(cs[i] AS BIGINT) AS n_censored,
               CAST(round({fold("i", 1)} * 1000000.0) AS BIGINT)
                   AS surv_e6,
               CAST(round({fold("i", 2)} * 1000000.0) AS BIGINT)
                   AS cif1_e6,
               CAST(round({fold("i", 3)} * 1000000.0) AS BIGINT)
                   AS cif2_e6
        FROM curve, LATERAL unnest(generate_series(1, len(arr))) AS u(i)
    """


def _heaps_sql(n_checkpoints: int = 20) -> str:
    """Generated mirror of ``operators.text.heaps_law``: checkpoint
    columns and the fixed-order ln sums are emitted from the same
    loop."""
    k = n_checkpoints
    ck_cols = ", ".join(
        f"CAST(max((n_tokens * {i} + {k - 1}) // {k}) AS BIGINT) AS c{i}, "
        f"CAST(SUM(CASE WHEN first_pos <= (n_tokens * {i} + {k - 1}) // {k}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS v{i}"
        for i in range(1, k + 1)
    )
    lx = [f"ln(CAST(c{i} AS DOUBLE))" for i in range(1, k + 1)]
    ly = [f"ln(CAST(v{i} AS DOUBLE))" for i in range(1, k + 1)]
    sx = " + ".join(lx)
    sy = " + ".join(ly)
    sxy = " + ".join(f"{a} * {b}" for a, b in zip(lx, ly))
    sxx = " + ".join(f"{a} * {a}" for a in lx)
    kf = float(k)
    beta = f"(({kf} * ({sxy}) - ({sx}) * ({sy})) / ({kf} * ({sxx}) - ({sx}) * ({sx})))"
    return f"""
        WITH docs AS (
            SELECT doc_id AS doc,
                   list_filter(regexp_split_to_array(lower(text),
                       '\\s+'), w -> w != '') AS w
            FROM documents
        ), sized AS (
            SELECT doc, w, CAST(len(w) AS BIGINT) AS len
            FROM docs WHERE len(w) > 0
        ), offs AS (
            SELECT doc, w,
                   CAST(COALESCE(SUM(len) OVER (ORDER BY doc
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS off
            FROM sized
        ), toks AS (
            SELECT w[u.pos] AS word, offs.off + u.pos AS gpos
            FROM offs,
                 LATERAL unnest(generate_series(1, len(w))) AS u(pos)
        ), firsts AS (
            SELECT word, CAST(min(gpos) AS BIGINT) AS first_pos
            FROM toks GROUP BY word
        ), total AS (
            SELECT CAST(max(gpos) AS BIGINT) AS n_tokens FROM toks
        ), wide AS (
            SELECT CAST(max(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab,
                   {ck_cols}
            FROM firsts, total
        )
        SELECT n_tokens, vocab,
               CAST(round({beta} * 1000000.0) AS BIGINT) AS beta_e6,
               CAST(round((({sy}) - {beta} * ({sx})) / {kf} * 1000000.0)
                    AS BIGINT) AS log_k_e6
        FROM wide
    """


def _ljung_sql(max_lag: int = 7) -> str:
    """Generated mirror of ``operators.stats.ljung_box`` (same lag
    columns, same fixed-order Q sum)."""
    leads = ",\n                       ".join(
        f"lead(u, {k}) OVER (ORDER BY t) AS u{k}"
        for k in range(1, max_lag + 1)
    )
    nums = ",\n                       ".join(
        f"SUM(CAST(u AS HUGEINT) * u{k}) AS num{k}"
        for k in range(1, max_lag + 1)
    )
    rhos = ",\n                   ".join(
        f"CASE WHEN CAST(den AS DOUBLE) > 0 THEN "
        f"CAST(round(CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE)"
        f" * 1000000.0) AS BIGINT) END AS rho{k}_e6"
        for k in range(1, max_lag + 1)
    )
    qsum = " + ".join(
        f"(CAST(rho{k}_e6 AS DOUBLE) / 1000000.0)"
        f" * (CAST(rho{k}_e6 AS DOUBLE) / 1000000.0)"
        f" / CAST(n - {k} AS DOUBLE)"
        for k in range(1, max_lag + 1)
    )
    rho_cols = ", ".join(f"rho{k}_e6" for k in range(1, max_lag + 1))
    return f"""
        WITH daily AS ({_DAILY_REV_GLOBAL_SQL}
        ), base AS (
            SELECT d AS t, CAST(round(rev * 100) AS BIGINT) AS x
            FROM daily
        ), shift AS (
            SELECT CAST(round(CAST(SUM(x) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c
            FROM base
        ), cen AS (
            SELECT t, x - c AS u FROM base, shift
        ), led AS (
            SELECT t, u,
                       {leads}
            FROM cen
        ), mom AS (
            SELECT CAST(count(u) AS BIGINT) AS n,
                   SUM(CAST(u AS HUGEINT) * u) AS den,
                       {nums}
            FROM led
        ), sel AS (
            SELECT n, den,
                   {rhos}
            FROM mom
        )
        SELECT n,
               CASE WHEN n > {max_lag} AND CAST(den AS DOUBLE) > 0 THEN
                   CAST(round(CAST(n * (n + 2) AS DOUBLE)
                              * ({qsum}) * 1000000.0) AS BIGINT)
               END AS q_e6,
               {rho_cols}
        FROM sel
    """


def _dot_fold_sql(a: str, b: str, dim: int = 64) -> str:
    """Sequential left-fold dot product over two DOUBLE[] expressions —
    the exact association order of the Spark HOF
    (``aggregate(zip_with(a,b,*), 0.0, +)``), so doubles match
    bit-for-bit."""
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        f"i -> {a}[i] * {b}[i]), (acc, x) -> acc + x)"
    )


def _cos_fold_sql(a: str, b: str, dim: int = 64) -> str:
    """Mirror of ``operators.similarity.cosine``: dot/sqrt(daa·dbb),
    NULL for zero-norm (same guard, same op order)."""
    dab = _dot_fold_sql(a, b, dim)
    daa = _dot_fold_sql(a, a, dim)
    dbb = _dot_fold_sql(b, b, dim)
    return (
        f"CASE WHEN sqrt(({daa}) * ({dbb})) > 0 "
        f"THEN ({dab}) / sqrt(({daa}) * ({dbb})) END"
    )


def _ann_lsh_sql(n_planes: int = 8, n_tables: int = 4, seed: int = 42,
                 k: int = 5, dim: int = 64) -> str:
    """Generated mirror of ``operators.similarity.ann_lsh_topk``: the
    hyperplane literals come from the SAME ``_hyperplanes()`` RNG the
    Spark plan inlines (one source of truth), the SRP bit-packing uses
    the same MSB-first plane order, and candidate selection / exact
    cosine rerank mirror the operator exactly — so the *approximate*
    result is a deterministic function both engines agree on."""
    from smartpy_arc_spark.operators.similarity import _hyperplanes

    rows = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        for p_idx in range(n_planes):
            vec = ", ".join(repr(float(x)) for x in planes[p_idx])
            rows.append(f"({t}, {p_idx}, [{vec}])")
    values = ",\n                ".join(rows)
    cos = _cos_fold_sql("qe.v", "ce.v", dim)
    return f"""
        WITH planes(tbl, pidx, pv) AS (
            VALUES {values}
        ), corp AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), cb AS (
            SELECT c.vec_id, p.tbl,
                   CAST(sum(CASE WHEN ({_dot_fold_sql('c.v', 'p.pv', dim)})
                                      >= 0
                            THEN 1 << ({n_planes - 1} - p.pidx)
                            ELSE 0 END) AS BIGINT) AS bucket
            FROM corp c CROSS JOIN planes p
            GROUP BY c.vec_id, p.tbl
        ), cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM cb c JOIN (SELECT * FROM cb WHERE vec_id < 5) q
                 ON c.tbl = q.tbl AND c.bucket = q.bucket
            WHERE c.vec_id <> q.vec_id
        ), scored AS (
            SELECT cand.query_id, cand.neighbor_id, {cos} AS _cos
            FROM cand
            JOIN corp qe ON qe.vec_id = cand.query_id
            JOIN corp ce ON ce.vec_id = cand.neighbor_id
        ), ranked AS (
            SELECT query_id, neighbor_id, _cos,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY _cos DESC NULLS LAST, neighbor_id ASC
                   ) AS INTEGER) AS rk
            FROM scored
        )
        SELECT query_id, neighbor_id, round(_cos, 6) AS cos_sim, rk
        FROM ranked WHERE rk <= {k}
    """


def _ivf_ann_sql(n_centroids: int = 16, n_probe: int = 4, k: int = 5,
                 dim: int = 64) -> str:
    """Mirror of ``operators.similarity.ivf_topk`` with the default
    deterministic codebook (the ``n_centroids`` lowest-id corpus
    vectors): nearest-list assignment, n_probe query probes, exact
    cosine rerank — all in the operator's op order."""
    cos_assign = _cos_fold_sql("s.v", "ct.v", dim)
    cos_rerank = _cos_fold_sql("qe.v", "ce.v", dim)
    return f"""
        WITH corp AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), cents AS (
            SELECT vec_id AS centroid_id, v FROM corp
            ORDER BY vec_id LIMIT {n_centroids}
        ), assign AS (
            SELECT s.vec_id, ct.centroid_id,
                   row_number() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY ({cos_assign}) DESC NULLS LAST,
                                ct.centroid_id ASC
                   ) AS rn
            FROM corp s CROSS JOIN cents ct
        ), c_assigned AS (
            SELECT vec_id AS neighbor_id, centroid_id FROM assign
            WHERE rn = 1
        ), q_assigned AS (
            SELECT vec_id AS query_id, centroid_id FROM assign
            WHERE vec_id < 5 AND rn <= {n_probe}
        ), cand AS (
            SELECT DISTINCT q.query_id, c.neighbor_id
            FROM c_assigned c JOIN q_assigned q USING (centroid_id)
            WHERE c.neighbor_id <> q.query_id
        ), scored AS (
            SELECT cand.query_id, cand.neighbor_id, {cos_rerank} AS _cos
            FROM cand
            JOIN corp qe ON qe.vec_id = cand.query_id
            JOIN corp ce ON ce.vec_id = cand.neighbor_id
        ), ranked AS (
            SELECT query_id, neighbor_id, _cos,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY _cos DESC NULLS LAST, neighbor_id ASC
                   ) AS INTEGER) AS rk
            FROM scored
        )
        SELECT query_id, neighbor_id, round(_cos, 6) AS cos_sim, rk
        FROM ranked WHERE rk <= {k}
    """


def _k_core_sql(k: int = 3, cap: int = 30, rounds: int = 30) -> str:
    """Generated mirror of ``operators.components.k_core`` over the
    bounded supplier co-order graph: ``rounds`` unrolled peel rounds.
    The subgraph has ≤ ``cap`` vertices and every non-fixpoint round
    permanently removes ≥ 1 vertex, so ``rounds = cap`` reaches the
    fixpoint and further rounds are identity — exactly the operator's
    early-exit semantics."""
    ctes = [f"""
        e0 AS MATERIALIZED (
            SELECT DISTINCT la.l_suppkey AS va, lb.l_suppkey AS vb
            FROM lineitem la JOIN lineitem lb
                 ON la.l_orderkey = lb.l_orderkey
            WHERE la.l_suppkey < lb.l_suppkey
              AND la.l_suppkey <= {cap} AND lb.l_suppkey <= {cap}
        )"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""
        d{r} AS MATERIALIZED (
            SELECT v, count(*) AS c FROM (
                SELECT va AS v FROM e{p} UNION ALL SELECT vb FROM e{p}
            ) t GROUP BY v
        ), e{r} AS MATERIALIZED (
            SELECT va, vb FROM e{p}
            JOIN d{r} da ON da.v = va JOIN d{r} db ON db.v = vb
            WHERE da.c >= {k} AND db.c >= {k}
        )""")
    body = ",".join(ctes)
    return f"""
        WITH {body}
        SELECT v AS vertex, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT va AS v FROM e{rounds} UNION ALL SELECT vb FROM e{rounds}
        ) t GROUP BY v
    """


def _label_propagation_sql(cap: int = 40, rounds: int = 6) -> str:
    """Generated mirror of ``operators.components.label_propagation``
    (synchronous, self-vote, smallest-label tie-break) over the bounded
    supplier co-order graph: exactly ``rounds`` unrolled rounds — the
    operator's early exit only fires at a fixpoint, where further
    synchronous rounds are identity, so a fixed unroll matches."""
    ctes = [f"""
        e0 AS MATERIALIZED (
            SELECT DISTINCT la.l_suppkey AS s, lb.l_suppkey AS d
            FROM lineitem la JOIN lineitem lb
                 ON la.l_orderkey = lb.l_orderkey
            WHERE la.l_suppkey < lb.l_suppkey
              AND la.l_suppkey <= {cap} AND lb.l_suppkey <= {cap}
        ), edges AS MATERIALIZED (
            SELECT s, d FROM e0 UNION SELECT d, s FROM e0
        ), l0 AS MATERIALIZED (
            SELECT DISTINCT s AS node, s AS label FROM edges
        )"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""
        l{r} AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label ASC
                ) AS rn
                FROM (
                    SELECT node, label, count(*) AS c FROM (
                        SELECT e.s AS node, l.label
                        FROM edges e JOIN l{p} l ON l.node = e.d
                        UNION ALL SELECT node, label FROM l{p}
                    ) votes GROUP BY node, label
                ) m
            ) w WHERE rn = 1
        )""")
    body = ",".join(ctes)
    return f"""
        WITH {body}
        SELECT node, label AS community FROM l{rounds}
    """


_PHASH_SQL = "CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT)"


def _shr_sql(x: str, n: int) -> str:
    """Java ``>>>`` (logical right shift) on a signed 64-bit value, via a
    HUGEINT reinterpret — DuckDB's BIGINT ``>>`` is arithmetic and its
    UBIGINT cast rejects negatives."""
    return (
        f"CAST(((CASE WHEN ({x}) < 0 THEN CAST(({x}) AS HUGEINT)"
        f" + 18446744073709551616 ELSE CAST(({x}) AS HUGEINT) END)"
        f" // {1 << n}) AS BIGINT)"
    )


def _shl21_sql(x: str) -> str:
    """Java ``<< 21`` with 64-bit wraparound (DuckDB's ``<<`` raises on
    overflow): multiply in HUGEINT, mod 2⁶⁴, reinterpret signed."""
    u = (
        f"((CASE WHEN ({x}) < 0 THEN CAST(({x}) AS HUGEINT)"
        f" + 18446744073709551616 ELSE CAST(({x}) AS HUGEINT) END)"
        f" * 2097152) % 18446744073709551616"
    )
    return (
        f"CAST(CASE WHEN ({u}) >= 9223372036854775808 THEN ({u})"
        f" - 18446744073709551616 ELSE ({u}) END AS BIGINT)"
    )


def _scramble_sql(h: str, j: int) -> str:
    """Mirror of ``operators.dedup._scramble`` (xorshift family member j,
    same ``_FAMILY_SEEDS`` constants — verified bit-exact against the
    Spark column expression for positive/negative/extreme inputs)."""
    from smartpy_arc_spark.operators.dedup import _FAMILY_SEEDS

    x1 = f"xor({h}, CAST({_FAMILY_SEEDS[j]} AS BIGINT))"
    x2 = f"xor({x1}, {_shr_sql(x1, 33)})"
    x3 = f"xor({x2}, {_shl21_sql(x2)})"
    return f"xor({x3}, {_shr_sql(x3, 17)})"


def _minhash_core_cte(num_hashes: int = 16, k: int = 3,
                      where: str = "") -> str:
    """Shared CTE prefix of the MinHash mirrors: token hashes → distinct
    word-k-shingle hashes → per-doc signature columns (one ``min`` per
    scrambled family member).  ``where`` optionally restricts the doc
    set (e.g. ``"WHERE doc_id < 300"`` for the eval harness)."""
    ph = _PHASH_SQL.format
    tok_parts = ", ".join(
        f"CAST(th[i + {j}] AS VARCHAR)" for j in range(1, k + 1)
    )
    mins = ",\n                   ".join(
        f"min({_scramble_sql('h', j)}) AS s{j}" for j in range(num_hashes)
    )
    return f"""toks AS MATERIALIZED (
            SELECT doc_id,
                   list_transform(string_split(text, ' '),
                                  t -> {ph(s='t')}) AS th
            FROM documents {where}
        ), shing AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(0,
                           greatest(len(th) - {k - 1}, 1) - 1),
                       i -> {ph(s=f"concat_ws(':', {tok_parts})")})) AS base
            FROM toks
        ), hs AS (
            SELECT doc_id, unnest(base) AS h FROM shing
        ), sigs AS MATERIALIZED (
            SELECT doc_id,
                   {mins}
            FROM hs GROUP BY doc_id
        )"""


def _minhash_banded_sql(num_hashes: int, bands: int, sig_src: str) -> str:
    """UNION ALL of the per-band bucket projections over ``sig_src``."""
    rpb = num_hashes // bands
    ph = _PHASH_SQL.format
    rows = []
    for b in range(bands):
        cols = ", ".join(
            f"CAST(s{b * rpb + r} AS VARCHAR)" for r in range(rpb)
        )
        bucket = ph(s=f"concat_ws(':', '{b}', {cols})")
        rows.append(
            f"SELECT doc_id, {b} AS band, {bucket} AS bucket FROM {sig_src}"
        )
    return "\n            UNION ALL ".join(rows)


def _minhash_pairs_sql(num_hashes: int = 16, k: int = 3, bands: int = 4,
                       capped: int | None = None) -> str:
    """Generated mirror of ``q_minhash_pairs`` (word-trigram banded
    MinHash-LSH in ``portable_hash`` mode): md5-derived base hashes (the
    ``portable_hash64`` contract), the SAME ``_FAMILY_SEEDS`` xorshift
    scrambles (bit-exact — see ``_scramble_sql``), ':'-joined band
    buckets, bucket self-join, distinct pairs, signature-agreement
    Jaccard estimate.  The whole approximate candidate set is a
    deterministic function both engines agree on.

    ``capped=m`` mirrors the corpus-scale configuration
    (``collapse_exact=True, max_bucket_size=m``): byte-identical texts
    collapse to min-id representatives (star edges at jaccard 1.0),
    banding runs on representatives only, and any (band, bucket) above
    m spills to representative star edges instead of quadratic pairs."""
    ph = _PHASH_SQL.format
    sig_src = "rsigs" if capped is not None else "sigs"
    banded = _minhash_banded_sql(num_hashes, bands, sig_src)
    agree = " + ".join(
        f"CASE WHEN sa.s{j} = sb.s{j} THEN 1 ELSE 0 END"
        for j in range(num_hashes)
    )
    core = f"""
        WITH {_minhash_core_cte(num_hashes, k)}"""
    if capped is None:
        return core + f""", banded AS MATERIALIZED (
            {banded}
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
                 ON a.band = b.band AND a.bucket = b.bucket
            WHERE a.doc_id < b.doc_id
        )
        SELECT p.id_a, p.id_b,
               round(({agree}) * 1.0 / {num_hashes}, 4) AS jaccard_est
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
    """
    return core + f""", reps AS MATERIALIZED (
            SELECT doc_id,
                   min(doc_id) OVER (
                       PARTITION BY {ph(s='text')}) AS rep
            FROM documents
        ), star_exact AS (
            SELECT rep AS id_a, doc_id AS id_b FROM reps
            WHERE doc_id <> rep
        ), rsigs AS MATERIALIZED (
            SELECT s.* FROM sigs s JOIN reps r
                 ON r.doc_id = s.doc_id AND r.doc_id = r.rep
        ), banded AS MATERIALIZED (
            {banded}
        ), sized AS MATERIALIZED (
            SELECT doc_id, band, bucket,
                   count(*) OVER (PARTITION BY band, bucket) AS m,
                   min(doc_id) OVER (PARTITION BY band, bucket) AS brep
            FROM banded
        ), star_capped AS (
            SELECT brep AS id_a, doc_id AS id_b FROM sized
            WHERE m > {capped} AND doc_id <> brep
        ), kept AS (
            SELECT doc_id, band, bucket FROM sized WHERE m <= {capped}
        ), pairs AS (
            SELECT DISTINCT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM kept a JOIN kept b
                     ON a.band = b.band AND a.bucket = b.bucket
                WHERE a.doc_id < b.doc_id
                UNION ALL SELECT id_a, id_b FROM star_capped
            ) u
        )
        SELECT p.id_a, p.id_b,
               round(({agree}) * 1.0 / {num_hashes}, 4) AS jaccard_est
        FROM pairs p
        JOIN rsigs sa ON sa.doc_id = p.id_a
        JOIN rsigs sb ON sb.doc_id = p.id_b
        UNION ALL
        SELECT id_a, id_b, 1.0 AS jaccard_est FROM star_exact
    """


def _dedup_eval_sql(num_hashes: int = 16, k: int = 3, bands: int = 4) -> str:
    """Generated mirror of ``q_dedup_eval`` (r7 conversion, VERDICT item
    7): BOTH sides of the eval are deterministic cross-engine — ground
    truth is exact word-trigram Jaccard ≥ 0.8 (integer set sizes, one
    double division), and the candidate set is the ``portable_hash``
    MinHash banding (the proven ``_minhash_pairs_sql`` machinery,
    restricted to ``doc_id < 300``).  tp/fn/fp are integer counts;
    precision/recall/F1 are single fixed expressions over exact
    operands, e6-rounded."""
    core = _minhash_core_cte(num_hashes, k, where="WHERE doc_id < 300")
    banded = _minhash_banded_sql(num_hashes, bands, "sigs")
    return f"""
        WITH {core}, banded AS MATERIALIZED (
            {banded}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
                 ON a.band = b.band AND a.bucket = b.bucket
            WHERE a.doc_id < b.doc_id
        ), tt AS MATERIALIZED (
            SELECT doc_id,
                   list_filter(string_split(text, ' '),
                               t -> t <> '') AS tk
            FROM documents WHERE doc_id < 300
        ), tgrams AS MATERIALIZED (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(tk) >= {k}
                     THEN list_transform(
                         generate_series(1, len(tk) - {k - 1}),
                         i -> concat_ws(' ',
                             {", ".join(f"tk[i + {j}]" for j in range(k))}))
                     ELSE CAST([] AS VARCHAR[]) END)) AS g
            FROM tt
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM tgrams GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM tgrams a JOIN tgrams b
                 ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), truth AS (
            SELECT id_a, id_b FROM inter
            JOIN sizes sa ON sa.doc_id = inter.id_a
            JOIN sizes sb ON sb.doc_id = inter.id_b
            WHERE CAST(i AS DOUBLE)
                  / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.8
        ), joined AS (
            SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 END AS _t,
                   CASE WHEN c.id_a IS NOT NULL THEN 1 END AS _c
            FROM truth t FULL OUTER JOIN cand c
                 ON t.id_a = c.id_a AND t.id_b = c.id_b
        ), counts AS (
            SELECT
                CAST(coalesce(sum(CASE WHEN _t IS NOT NULL
                    AND _c IS NOT NULL THEN 1 END), 0) AS BIGINT) AS tp,
                CAST(coalesce(sum(CASE WHEN _t IS NOT NULL
                    AND _c IS NULL THEN 1 END), 0) AS BIGINT) AS fn,
                CAST(coalesce(sum(CASE WHEN _t IS NULL
                    AND _c IS NOT NULL THEN 1 END), 0) AS BIGINT) AS fp
            FROM joined
        ), m AS (
            SELECT tp, fn, fp,
                   CAST(tp AS DOUBLE)
                       / greatest(CAST(tp AS DOUBLE)
                                  + CAST(fp AS DOUBLE), 1.0) AS prec,
                   CAST(tp AS DOUBLE)
                       / greatest(CAST(tp AS DOUBLE)
                                  + CAST(fn AS DOUBLE), 1.0) AS rec
            FROM counts
        )
        SELECT tp AS n_tp, fn AS n_fn, fp AS n_fp,
               CAST(round(prec * 1e6) AS BIGINT) AS precision_e6,
               CAST(round(rec * 1e6) AS BIGINT) AS recall_e6,
               CAST(round(CASE WHEN prec + rec > 0
                    THEN 2 * prec * rec / (prec + rec)
                    ELSE 0.0 END * 1e6) AS BIGINT) AS f1_e6
        FROM m
    """


def _geometric_median_sql(n_iter: int = 10, dim: int = 64,
                          eps: float = 1e-9) -> str:
    """Generated mirror of ``q_geometric_median`` (r7 conversion):
    ``n_iter`` unrolled Weiszfeld rounds.  Init is the exact e9-tick
    integer mean; each round computes per-row ``d = max(‖v−y‖, eps)``
    (fixed-order element fold, identical doubles), pre-rounds every
    Σv/d / Σ1/d contribution to e12 integer ticks (order-free exact
    sums), and updates ``y_i = CAST(s_i AS DOUBLE) / CAST(siw AS
    DOUBLE)`` — the same single IEEE division the operator performs on
    ``float(Decimal)`` totals, so ten rounds of float iteration stay
    bit-identical across engines."""
    eps_r = repr(float(eps))

    def ssum(expr: str) -> str:
        return f"sum(CAST(round(({expr}) * 1e12) AS BIGINT))"

    fold_sq = (
        f"sqrt(list_reduce(list_prepend(0.0, "
        f"list_transform(generate_series(1, {dim}), "
        f"i -> (v[i] - r.y[i]) * (v[i] - r.y[i]))), (a, b) -> a + b))"
    )
    ctes = [f"""base AS MATERIALIZED (
            SELECT CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ), r0 AS MATERIALIZED (
            SELECT list(m ORDER BY pos) AS y FROM (
                SELECT i AS pos,
                       CAST(sum(CAST(round(v[CAST(i AS INTEGER)] * 1e9)
                                     AS BIGINT)) AS DOUBLE)
                           / count(*) / 1e9 AS m
                FROM base, unnest(generate_series(1, {dim})) t(i)
                GROUP BY i
            ) q
        )"""]
    for k in range(1, n_iter + 1):
        sums = ",\n                   ".join(
            f"{ssum(f'v[{i}] / d')} AS s{i}" for i in range(1, dim + 1)
        )
        ys = ", ".join(
            f"CAST(s{i} AS DOUBLE) / CAST(siw AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        ctes.append(f"""
        d{k} AS MATERIALIZED (
            SELECT v, greatest({fold_sq}, {eps_r}) AS d
            FROM base, r{k - 1} r
        ), r{k} AS MATERIALIZED (
            SELECT [{ys}] AS y FROM (
                SELECT {sums},
                   {ssum('1.0 / d')} AS siw
                FROM d{k}
            ) q
        )""")
    body = ",".join(ctes)
    return f"""
        WITH {body}
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS n,
               CAST({n_iter} AS INTEGER) AS n_iter,
               CAST(i - 1 AS INTEGER) AS pos,
               CAST(round(y[CAST(i AS INTEGER)] * 10000) AS BIGINT) AS m_e4
        FROM r{n_iter}, unnest(generate_series(1, {dim})) t(i)
    """


def _dtw_types_sql(band: int = 24) -> str:
    """Mirror of ``q_dtw_types`` (r7 conversion): the Sakoe-Chiba banded
    DTW DP replayed as a nested ``list_reduce`` — outer fold over rows
    carrying the full (m+1)-length DP row as the accumulator, inner fold
    building each row left-to-right (``cur[j] = cost + min(prev[j],
    prev[j-1], cur[j-1])``), the list-prepend init trick on both levels
    (accumulator type must equal element type, so row indices ride as
    1-element lists).  All values are integer-scaled counts, so every DP
    cell is integer-exact in doubles — bit-portable regardless of
    engine.  INF is a 1e18 sentinel: with ``w ≥ |n−m|`` the end cell is
    always reachable, so sentinels never leak into the result."""
    s = "1e18"
    i_ = "CAST(xi[1] AS BIGINT)"
    j_ = "CAST(xj[1] AS BIGINT)"
    return f"""
        WITH hourly AS (
            SELECT event_type AS k, date_trunc('hour', ts) AS h,
                   CAST(round(CAST(count(*) AS DOUBLE) * 100) AS BIGINT)
                       AS v
            FROM events GROUP BY 1, 2
        ), series AS (
            SELECT k, list(CAST(v AS DOUBLE) ORDER BY h) AS s
            FROM hourly GROUP BY k
        ), pairs AS (
            SELECT a.k AS key_a, b.k AS key_b, a.s AS sa, b.s AS sb,
                   len(a.s) AS n, len(b.s) AS m,
                   greatest({band}, abs(len(a.s) - len(b.s))) AS w
            FROM series a JOIN series b ON a.k < b.k
        ), dp AS (
            SELECT key_a, key_b, n, m,
                list_reduce(
                    list_prepend(
                        list_prepend(0.0, list_transform(
                            generate_series(1, m), x -> {s})),
                        list_transform(generate_series(1, n),
                                       i -> [CAST(i AS DOUBLE)])
                    ),
                    (prev, xi) -> list_concat(
                        list_reduce(
                            list_prepend(
                                list_transform(generate_series(1,
                                    greatest(1, {i_} - w)), x -> {s}),
                                list_transform(generate_series(
                                    greatest(1, {i_} - w),
                                    least(m, {i_} + w)),
                                    j -> [CAST(j AS DOUBLE)])
                            ),
                            (acc, xj) -> list_append(acc,
                                abs(sa[{i_}] - sb[{j_}])
                                + least(prev[{j_} + 1], prev[{j_}],
                                        acc[{j_}]))
                        ),
                        list_transform(generate_series(1,
                            m - least(m, {i_} + w)), x -> {s})
                    )
                ) AS fin
            FROM pairs
        )
        SELECT key_a, key_b,
               CAST(n AS INTEGER) AS len_a, CAST(m AS INTEGER) AS len_b,
               CAST(round(fin[m + 1] / 100 * 100) AS BIGINT) AS dtw_e2
        FROM dp ORDER BY key_a, key_b
    """


def _louvain_sql(max_levels=2, max_sweeps=4, cap=40):
    """Generated mirror of ``q_louvain`` (r7 conversion, VERDICT item 7):
    ``components.louvain_communities`` unrolled — ``max_levels`` ×
    ``max_sweeps`` synchronous parity-gated sweeps over the supplier
    co-order fixture, plus coarsening between levels.  All weights are
    1.0, so every degree/total/k_in is an integer-valued double (exact
    regardless of sum order) and the modularity-gain expression is the
    SAME division of the same exact operands in both engines — gains
    compare identically, so the per-sweep argmax (gain desc, cand asc)
    matches bit-for-bit.  The operator's early sweep break (no odd-
    parity changes) is replayed with a FROZEN flag CTE chain that
    gates both the assignment updates and the moved-any accounting;
    an unconditional second level on a no-move state is the identity
    (the coarsened graph equals the original), matching the
    operator's level break.  Verified node-for-node against the Spark
    operator at sf0.001/sf0.01/sf0.1."""
    ctes = [f"""pairs0 AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS d
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_suppkey < b.l_suppkey
          AND a.l_suppkey <= {cap} AND b.l_suppkey <= {cap}
    ), edges_1 AS MATERIALIZED (
        SELECT s, d, CAST(sum(w) AS DOUBLE) AS w FROM (
            SELECT s, d, 1.0 AS w FROM pairs0
            UNION ALL SELECT d AS s, s AS d, 1.0 AS w FROM pairs0
        ) u GROUP BY s, d
    ), map_0 AS MATERIALIZED (
        SELECT DISTINCT s AS node, s AS community FROM edges_1
    )"""]

    prev_map = "map_0"
    for L in range(1, max_levels + 1):
        e = f"edges_{L}"
        sw = f"selfw_{L}"  # exists for L >= 2
        if L == 1:
            ctes.append(f"""
    twom_{L} AS (SELECT coalesce(sum(w), 0.0) AS m2 FROM {e}),
    deg_{L} AS MATERIALIZED (
        SELECT s, sum(w) AS k FROM {e} GROUP BY s
    )""")
        else:
            ctes.append(f"""
    twom_{L} AS (
        SELECT (SELECT coalesce(sum(w), 0.0) FROM {e})
             + (SELECT coalesce(sum(sw), 0.0) FROM {sw}) AS m2
    ),
    deg_{L} AS MATERIALIZED (
        SELECT coalesce(es.s, sl.node) AS s,
               coalesce(es.k, 0.0) + coalesce(sl.sw, 0.0) AS k
        FROM (SELECT s, sum(w) AS k FROM {e} GROUP BY s) es
        FULL OUTER JOIN {sw} sl ON sl.node = es.s
    )""")
        ctes.append(f"""
    asg_{L}_0 AS MATERIALIZED (
        SELECT s AS node, s AS comm FROM deg_{L}
    ),
    frz_{L}_0 AS (SELECT false AS f),
    mv_{L}_0 AS (SELECT false AS m)""")
        for s_i in range(max_sweeps):
            a = f"asg_{L}_{s_i}"
            nx = f"asg_{L}_{s_i + 1}"
            par = s_i % 2
            ctes.append(f"""
    tot_{L}_{s_i} AS (
        SELECT a.comm, sum(d.k) AS tot
        FROM {a} a JOIN deg_{L} d ON d.s = a.node
        GROUP BY a.comm
    ),
    kto_{L}_{s_i} AS (
        SELECT e.s AS node, a.comm AS cand, sum(e.w) AS k_in
        FROM {e} e JOIN {a} a ON a.node = e.d
        GROUP BY e.s, a.comm
    ),
    cands_{L}_{s_i} AS (
        SELECT node, cand, max(k_in) AS k_in FROM (
            SELECT node, cand, k_in FROM kto_{L}_{s_i}
            UNION ALL SELECT a.node, a.comm AS cand, 0.0 AS k_in FROM {a} a
        ) u GROUP BY node, cand
    ),
    best_{L}_{s_i} AS (
        SELECT node, best, gain FROM (
            SELECT c.node, c.cand AS best,
                   c.k_in - d.k * (t.tot -
                       CASE WHEN c.cand = a.comm THEN d.k ELSE 0.0 END)
                       / tm.m2 AS gain,
                   row_number() OVER (
                       PARTITION BY c.node
                       ORDER BY c.k_in - d.k * (t.tot -
                           CASE WHEN c.cand = a.comm THEN d.k
                                ELSE 0.0 END) / tm.m2 DESC,
                           c.cand ASC) AS rn
            FROM cands_{L}_{s_i} c
            JOIN {a} a ON a.node = c.node
            JOIN deg_{L} d ON d.s = c.node
            JOIN tot_{L}_{s_i} t ON t.comm = c.cand
            CROSS JOIN twom_{L} tm
        ) q WHERE rn = 1
    ),
    chg_{L}_{s_i} AS (
        SELECT count(*) > 0 AS c
        FROM {a} a JOIN best_{L}_{s_i} b ON b.node = a.node
        CROSS JOIN frz_{L}_{s_i} fz
        WHERE NOT fz.f AND coalesce(b.best, a.comm) <> a.comm
          AND a.node % 2 = {par}
    ),
    {nx} AS MATERIALIZED (
        SELECT a.node,
               CASE WHEN NOT fz.f AND a.node % 2 = {par}
                         AND b.best IS NOT NULL
                    THEN b.best ELSE a.comm END AS comm
        FROM {a} a LEFT JOIN best_{L}_{s_i} b ON b.node = a.node
        CROSS JOIN frz_{L}_{s_i} fz
    ),
    frz_{L}_{s_i + 1} AS (
        SELECT fz.f OR (NOT ch.c AND {s_i % 2} = 1) AS f
        FROM frz_{L}_{s_i} fz CROSS JOIN chg_{L}_{s_i} ch
    ),
    mv_{L}_{s_i + 1} AS (
        SELECT mv.m OR (NOT fz.f AND ch.c) AS m
        FROM mv_{L}_{s_i} mv CROSS JOIN frz_{L}_{s_i} fz
        CROSS JOIN chg_{L}_{s_i} ch
    )""")
        last = f"asg_{L}_{max_sweeps}"
        ctes.append(f"""
    canon_{L} AS (
        SELECT comm, min(node) AS cid FROM {last} GROUP BY comm
    ),
    asgc_{L} AS MATERIALIZED (
        SELECT a.node, c.cid AS comm
        FROM {last} a JOIN canon_{L} c ON c.comm = a.comm
    ),
    map_{L} AS MATERIALIZED (
        SELECT m.node, a.comm AS community
        FROM {prev_map} m
        JOIN asgc_{L} a ON a.node = m.community
    )""")
        prev_map = f"map_{L}"
        if L < max_levels:
            ctes.append(f"""
    ec_{L} AS MATERIALIZED (
        SELECT e.s, e.d, e.w, x.comm AS cs, y.comm AS cd
        FROM {e} e
        JOIN asgc_{L} x ON x.node = e.s
        JOIN asgc_{L} y ON y.node = e.d
    ),
    selfw_{L + 1} AS MATERIALIZED (
        SELECT node, sum(sw) AS sw FROM (
            SELECT cs AS node, sum(w) AS sw FROM ec_{L}
            WHERE cs = cd GROUP BY cs
            {"UNION ALL SELECT a.comm AS node, sum(o.sw) AS sw FROM selfw_" + str(L) + " o JOIN asgc_" + str(L) + " a ON a.node = o.node GROUP BY a.comm" if L >= 2 else ""}
        ) u GROUP BY node
    ),
    edges_{L + 1} AS MATERIALIZED (
        SELECT cs AS s, cd AS d, sum(w) AS w FROM ec_{L}
        WHERE cs <> cd GROUP BY cs, cd
    )""")
    body = ",".join(ctes)
    return f"""
        WITH {body}
        SELECT node, community FROM {prev_map} ORDER BY node
    """


def _mst_sql(rounds=7, jumps=8, cap=60):
    """Generated mirror of ``q_mst`` (r7 conversion, VERDICT item 7):
    unrolled Borůvka over the bounded supplier co-order fixture.
    Integer-only: strict (w, s, d) total order makes the forest unique;
    per round every component picks its min cross edge, and components
    merge via ``jumps`` unrolled min-hook + pointer-jump label steps
    (converges in O(log n), n <= 60 here).  Extra rounds after
    convergence are the identity (no cross-component edges -> empty
    chosen set -> labels unchanged), matching the operator's early
    break."""
    ctes = [f"""li AS MATERIALIZED (
        SELECT l_orderkey, l_suppkey, l_linenumber FROM lineitem
        WHERE l_suppkey <= {cap}
    ), e AS MATERIALIZED (
        SELECT a.l_suppkey AS s, b.l_suppkey AS d,
               CAST(min(a.l_linenumber + b.l_linenumber) AS BIGINT) AS w
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    ), comp_0 AS MATERIALIZED (
        SELECT node, node AS c FROM (
            SELECT DISTINCT s AS node FROM e
            UNION SELECT DISTINCT d FROM e
        ) n
    )"""]
    forest_parts = []
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""
    ann_{r} AS MATERIALIZED (
        SELECT e.w, e.s, e.d, x.c AS cs, y.c AS cd
        FROM e JOIN comp_{p} x ON x.node = e.s
               JOIN comp_{p} y ON y.node = e.d
        WHERE x.c <> y.c
    ),
    chosen_{r} AS MATERIALIZED (
        SELECT DISTINCT w, s, d, cs, cd FROM (
            SELECT w, s, d, cs, cd, row_number() OVER (
                PARTITION BY comp ORDER BY w, s, d) AS rn
            FROM (
                SELECT cs AS comp, w, s, d, cs, cd FROM ann_{r}
                UNION ALL SELECT cd AS comp, w, s, d, cs, cd FROM ann_{r}
            ) inc
        ) q WHERE rn = 1
    ),
    ids_{r} AS MATERIALIZED (SELECT DISTINCT c FROM comp_{p}),
    g_{r} AS MATERIALIZED (
        SELECT cs AS a, cd AS b FROM chosen_{r}
        UNION SELECT cd AS a, cs AS b FROM chosen_{r}
    ),
    l_{r}_0 AS MATERIALIZED (SELECT c AS x, c AS lx FROM ids_{r})""")
        for t in range(jumps):
            ctes.append(f"""
    l_{r}_{t + 1} AS MATERIALIZED (
        SELECT l.x,
               least(l.lx,
                     coalesce(nb.m, l.lx),
                     coalesce(ll.lx, l.lx)) AS lx
        FROM l_{r}_{t} l
        LEFT JOIN (
            SELECT g.a AS x, min(l2.lx) AS m
            FROM g_{r} g JOIN l_{r}_{t} l2 ON l2.x = g.b
            GROUP BY g.a
        ) nb ON nb.x = l.x
        LEFT JOIN l_{r}_{t} ll ON ll.x = l.lx
    )""")
        ctes.append(f"""
    comp_{r} AS MATERIALIZED (
        SELECT cp.node, lf.lx AS c
        FROM comp_{p} cp JOIN l_{r}_{jumps} lf ON lf.x = cp.c
    )""")
        forest_parts.append(f"SELECT s, d, w FROM chosen_{r}")
    body = ",".join(ctes)
    union = "\n            UNION ALL ".join(forest_parts)
    return f"""
        WITH {body}
        SELECT s, d, CAST(min(w) AS BIGINT) AS w FROM (
            {union}
        ) f GROUP BY s, d ORDER BY s, d
    """


def _markov_attribution_sql(j_squarings: int = 13) -> str:
    """Generated mirror of ``q_markov_attribution`` (r7 conversion):
    the operator's ALL-INTEGER e12 fixed-point absorption solve replayed
    relationally.  Transition counts come from the same user-ordered
    lead window; every removal VARIANT (base + one per channel) rides as
    a column on sparse (variant, i, j, ticks) matrix rows, so the
    ``j_squarings`` matrix squarings (``S' = S + P·S``, ``P' = P²``,
    HUGEINT products, floor-div rescale) unroll ONCE for all variants.
    Probability quantization, effects, and shares all use the same
    integer half-away division ``(2n + d) // (2d)`` as the operator —
    no float exists anywhere in the solve, so equality is exact."""
    S = 10**12

    def mm(a: str, b: str) -> str:
        """Sparse tick-matmul over (vid, i, j, v) with floor-div rescale."""
        return f"""
            SELECT a.vid, a.i, b.j,
                   CAST(sum(CAST(a.v AS HUGEINT) * b.v) // {S} AS BIGINT)
                       AS v
            FROM {a} a JOIN {b} b ON b.vid = a.vid AND b.i = a.j
            GROUP BY a.vid, a.i, b.j"""

    def madd(a: str, b: str) -> str:
        return f"""
            SELECT vid, i, j, CAST(sum(v) AS BIGINT) AS v FROM (
                SELECT vid, i, j, v FROM {a}
                UNION ALL SELECT vid, i, j, v FROM {b}
            ) u GROUP BY vid, i, j"""

    ctes = [f"""steps AS MATERIALIZED (
            SELECT user_id AS u, event_type AS ch,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events
        ), counts AS MATERIALIZED (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
                SELECT '__start__' AS src, ch AS dst FROM steps WHERE rn = 1
                UNION ALL
                SELECT ch AS src, coalesce(nxt, '__null__') AS dst
                FROM steps
            ) e GROUP BY src, dst
        ), chans AS MATERIALIZED (
            SELECT DISTINCT s FROM (
                SELECT src AS s FROM counts WHERE src <> '__start__'
                UNION SELECT dst FROM counts WHERE dst <> '__null__'
            ) u WHERE s <> 'purchase'
        ), states AS MATERIALIZED (
            SELECT s, CAST(row_number() OVER (
                ORDER BY CASE WHEN s = '__start__' THEN 0 ELSE 1 END, s)
                - 1 AS BIGINT) AS i
            FROM (SELECT '__start__' AS s UNION ALL SELECT s FROM chans) q
        ), variants AS MATERIALIZED (
            SELECT '__base__' AS rm
            UNION ALL SELECT s FROM chans
        ), tot AS MATERIALIZED (
            SELECT st.s, greatest(coalesce(sum(c.n), 0), 1) AS total
            FROM states st LEFT JOIN counts c ON c.src = st.s
            GROUP BY st.s
        ), q AS MATERIALIZED (
            SELECT v.rm AS vid, si.i, sj.i AS j,
                   CAST((2 * CAST(c.n AS HUGEINT) * {S} + t.total)
                        // (2 * t.total) AS BIGINT) AS v
            FROM counts c
            JOIN states si ON si.s = c.src
            JOIN states sj ON sj.s = c.dst
            JOIN tot t ON t.s = c.src
            CROSS JOIN variants v
            WHERE c.src <> '__null__' AND c.src <> 'purchase'
              AND c.dst <> 'purchase'
              AND (v.rm = '__base__'
                   OR (c.src <> v.rm AND c.dst <> v.rm))
        ), rv AS MATERIALIZED (
            SELECT v.rm AS vid, si.i,
                   CAST((2 * CAST(sum(c.n) AS HUGEINT) * {S}
                         + any_value(t.total))
                        // (2 * any_value(t.total)) AS BIGINT) AS v
            FROM counts c
            JOIN states si ON si.s = c.src
            JOIN tot t ON t.s = c.src
            CROSS JOIN variants v
            WHERE c.src <> '__null__' AND c.src <> 'purchase'
              AND c.dst = 'purchase'
              AND (v.rm = '__base__' OR c.src <> v.rm)
            GROUP BY v.rm, si.i
        ), ident AS (
            SELECT v.rm AS vid, st.i, st.i AS j, CAST({S} AS BIGINT) AS v
            FROM states st CROSS JOIN variants v
        ), s_0 AS MATERIALIZED ({madd('ident', 'q')}
        ), p_0 AS MATERIALIZED (SELECT vid, i, j, v FROM q)"""]
    for k in range(j_squarings):
        ctes.append(f"""
        ps_{k} AS MATERIALIZED ({mm(f'p_{k}', f's_{k}')}
        ), s_{k + 1} AS MATERIALIZED ({madd(f's_{k}', f'ps_{k}')}
        ), p_{k + 1} AS MATERIALIZED ({mm(f'p_{k}', f'p_{k}')}
        )""")
    last = f"s_{j_squarings}"
    ctes.append(f"""
        pconv AS MATERIALIZED (
            SELECT s.vid,
                   CAST(coalesce(sum(CAST(s.v AS HUGEINT) * r.v), 0)
                        // {S} AS BIGINT) AS p
            FROM {last} s JOIN rv r ON r.vid = s.vid AND r.i = s.j
            WHERE s.i = 0
            GROUP BY s.vid
        ), allp AS MATERIALIZED (
            SELECT v.rm AS vid, coalesce(p.p, 0) AS p
            FROM variants v LEFT JOIN pconv p ON p.vid = v.rm
        ), basep AS (SELECT p FROM allp WHERE vid = '__base__'),
        eff AS MATERIALIZED (
            SELECT a.vid AS channel,
                   CASE WHEN b.p <= 0 THEN 0
                        ELSE (2 * greatest(b.p - a.p, 0) * 1000000
                              + b.p) // (2 * b.p) END AS e
            FROM allp a CROSS JOIN basep b
            WHERE a.vid <> '__base__'
        ), teff AS (
            SELECT greatest(sum(e), 1) AS te FROM eff
        ), touch AS (
            SELECT c.s, coalesce(sum(n.n), 0) AS n_touches
            FROM chans c LEFT JOIN counts n ON n.src = c.s
            GROUP BY c.s
        )
        SELECT e.channel,
               CAST(t.n_touches AS BIGINT) AS n_touches,
               CAST(e.e AS BIGINT) AS removal_effect_e6,
               CAST((2 * e.e * 1000000 + te.te) // (2 * te.te) AS BIGINT)
                   AS credit_share_e6
        FROM eff e
        JOIN touch t ON t.s = e.channel
        CROSS JOIN teff te
        ORDER BY e.channel""")
    body = ",".join(ctes)
    return f"WITH {body}"


def _convex_hulls_sql() -> str:
    """Mirror of ``q_convex_hulls`` (r7 conversion): QuickHull as a
    recursive CTE over 16×-scaled INTEGER coordinates.  Each recursion
    level maps every active segment (a,b) to its farthest strictly-left
    point c (max integer cross, lex-max tie-break — ties pick a true
    vertex because a boundary-collinear point's cross is a strict convex
    combination of its edge endpoints') and emits (a,c),(c,b); the
    vertex set is every segment's left endpoint.  The CCW ring is the
    monotone-chain order (lex-min, below-line ascending, lex-max,
    above-line descending); area is the exact integer shoelace with
    Python's round-half-even mirrored in integer arithmetic
    (|T|·625/32); the perimeter fold replays sqrt(dx*dx+dy*dy) over the
    identical doubles in the identical order.  The dyadic k/16 fixture
    makes the operator's double crosses exact, so both engines make
    identical pop/keep decisions."""
    fmt_x = ("(CASE WHEN p[1] % 16 = 0 THEN CAST(p[1] // 16 AS VARCHAR) "
             "ELSE CAST(p[1] // 16 AS VARCHAR) || '.' || "
             "rtrim(lpad(CAST(p[1] % 16 * 625 AS VARCHAR), 4, '0'), '0') "
             "END)")
    fmt_y = fmt_x.replace("p[1]", "p[2]")
    return f"""
        WITH RECURSIVE pts AS MATERIALIZED (
            SELECT DISTINCT CAST(c_nationkey AS VARCHAR) AS nation,
                   (c_custkey * 29) % 1000 AS xi,
                   (c_custkey * 53) % 1000 AS yi
            FROM customer
        ), npts AS (
            SELECT CAST(c_nationkey AS VARCHAR) AS nation,
                   count(*) AS n_points
            FROM customer GROUP BY 1
        ), emin AS (
            SELECT nation, xi AS x0, yi AS y0 FROM (
                SELECT nation, xi, yi, row_number() OVER (
                    PARTITION BY nation ORDER BY xi, yi) AS rn
                FROM pts) q WHERE rn = 1
        ), emax AS (
            SELECT nation, xi AS x1, yi AS y1 FROM (
                SELECT nation, xi, yi, row_number() OVER (
                    PARTITION BY nation ORDER BY xi DESC, yi DESC) AS rn
                FROM pts) q WHERE rn = 1
        ), ext AS (
            SELECT emin.nation, x0, y0, x1, y1
            FROM emin JOIN emax USING (nation)
        ), seg AS (
            SELECT nation, x0 AS ax, y0 AS ay, x1 AS bx, y1 AS by FROM ext
            UNION ALL SELECT nation, x1, y1, x0, y0 FROM ext
            UNION ALL
            SELECT picked.nation,
                   CASE WHEN side.i = 0 THEN picked.ax ELSE picked.cx END,
                   CASE WHEN side.i = 0 THEN picked.ay ELSE picked.cy END,
                   CASE WHEN side.i = 0 THEN picked.cx ELSE picked.bx END,
                   CASE WHEN side.i = 0 THEN picked.cy ELSE picked.by END
            FROM (
                SELECT nation, ax, ay, bx, by, cx, cy FROM (
                    SELECT s.nation, s.ax, s.ay, s.bx, s.by,
                           p.xi AS cx, p.yi AS cy,
                           row_number() OVER (
                               PARTITION BY s.nation, s.ax, s.ay,
                                            s.bx, s.by
                               ORDER BY (s.bx - s.ax) * (p.yi - s.ay)
                                      - (s.by - s.ay) * (p.xi - s.ax)
                                      DESC, p.xi DESC, p.yi DESC) AS rn
                    FROM seg s JOIN pts p ON p.nation = s.nation
                    WHERE (s.bx - s.ax) * (p.yi - s.ay)
                        - (s.by - s.ay) * (p.xi - s.ax) > 0
                ) q WHERE rn = 1
            ) picked CROSS JOIN (VALUES (0), (1)) side(i)
        ), verts AS (
            SELECT DISTINCT nation, ax AS xi, ay AS yi FROM seg
        ), chainv AS (
            SELECT v.nation, v.xi, v.yi,
                   CASE WHEN v.xi = e.x0 AND v.yi = e.y0 THEN 0
                        WHEN v.xi = e.x1 AND v.yi = e.y1 THEN 2
                        WHEN (e.x1 - e.x0) * (v.yi - e.y0)
                           - (e.y1 - e.y0) * (v.xi - e.x0) < 0 THEN 1
                        ELSE 3 END AS chain
            FROM verts v JOIN ext e ON e.nation = v.nation
        ), ringl AS (
            SELECT nation,
                   list([xi, yi] ORDER BY chain,
                        CASE WHEN chain = 3 THEN -xi ELSE xi END,
                        CASE WHEN chain = 3 THEN -yi ELSE yi END) AS r0
            FROM chainv GROUP BY nation
        ), closed AS (
            SELECT nation, list_append(r0, r0[1]) AS r, len(r0) AS k
            FROM ringl
        ), meas AS (
            SELECT nation, k,
                   abs(coalesce(list_sum(list_transform(
                       generate_series(1, len(r) - 1),
                       i -> r[i][1] * r[i + 1][2]
                          - r[i + 1][1] * r[i][2])), 0)) AS t_abs,
                   list_reduce(list_prepend(0.0, list_transform(
                       generate_series(1, len(r) - 1),
                       i -> sqrt(
                           (CAST(r[i + 1][1] AS DOUBLE) / 16.0
                            - CAST(r[i][1] AS DOUBLE) / 16.0)
                           * (CAST(r[i + 1][1] AS DOUBLE) / 16.0
                              - CAST(r[i][1] AS DOUBLE) / 16.0)
                           + (CAST(r[i + 1][2] AS DOUBLE) / 16.0
                              - CAST(r[i][2] AS DOUBLE) / 16.0)
                           * (CAST(r[i + 1][2] AS DOUBLE) / 16.0
                              - CAST(r[i][2] AS DOUBLE) / 16.0)))),
                       (a, b) -> a + b) AS perim,
                   array_to_string(list_transform(r, p ->
                       {fmt_x} || ' ' || {fmt_y}), ', ') AS ring_s
            FROM closed
        )
        SELECT m.nation AS nation,
               CAST(np.n_points AS BIGINT) AS n_points,
               CAST(m.k AS INTEGER) AS n_vertices,
               CASE WHEN m.k >= 3 THEN 'POLYGON ((' || ring_s || '))'
                    WHEN m.k = 2 THEN 'LINESTRING (' || ring_s || ')'
                    ELSE 'POINT (' || ring_s || ')' END AS hull_wkt,
               CAST(t_abs * 625 // 32
                    + CASE WHEN t_abs * 625 % 32 > 16 THEN 1
                           WHEN t_abs * 625 % 32 = 16
                                THEN (t_abs * 625 // 32) % 2
                           ELSE 0 END AS BIGINT) AS area_e4,
               CAST(round(perim * 1e4) AS BIGINT) AS perimeter_e4
        FROM meas m JOIN npts np ON np.nation = m.nation
        ORDER BY nation
    """


def _bpe_merges_sql(n_merges: int = 8) -> str:
    """Generated mirror of ``q_bpe_merges`` (``learn_bpe_merges``):
    ``n_merges`` unrolled rounds of frequency-weighted adjacent-pair
    counting (argmax on count desc, then lexical (left, right)) and the
    greedy-leftmost merge fold (``_merge_pair`` semantics, reproduced as
    a DuckDB list_reduce with the list-prepend init trick — verified on
    the 'aaa'→['aa','a'] overlap case).  The operator's n<2 early stop
    is not mirrored: any prose corpus yields ≥ ``n_merges`` viable
    merges, which the row-count compare would catch if violated."""
    body = ",".join(_bpe_chain_ctes(n_merges))
    rows = "\n            UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS \"round\", l AS \"left\", "
        f"r AS \"right\", l || r AS merged, n AS pair_count FROM t{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""
        WITH {body}
        {rows}
    """


def _bpe_chain_ctes(n_merges: int) -> list:
    """The shared CTE chain of the BPE mirrors: corpus word frequencies,
    char-split symbols, and ``n_merges`` rounds of (t{r}: winning pair,
    w{r}: corpus re-merged with it)."""
    ctes = ["""wf AS MATERIALIZED (
            SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(lower(text), '\\s+'),
                    t -> t <> '')) AS word
                FROM documents) t
            GROUP BY word
        ), w0 AS MATERIALIZED (
            SELECT list_transform(generate_series(1, length(word)),
                       i -> substr(word, CAST(i AS INTEGER), 1)) AS syms,
                   freq
            FROM wf
        )"""]
    for r in range(1, n_merges + 1):
        p = r - 1
        ctes.append(f"""
        t{r} AS MATERIALIZED (
            SELECT pr.l AS l, pr.r AS r, CAST(sum(freq) AS BIGINT) AS n
            FROM (
                SELECT freq, unnest(list_transform(
                    generate_series(1, len(syms) - 1),
                    i -> {{'l': syms[i], 'r': syms[i + 1]}})) AS pr
                FROM w{p} WHERE len(syms) >= 2
            ) q GROUP BY pr.l, pr.r
            ORDER BY n DESC, l ASC, r ASC LIMIT 1
        ), w{r} AS MATERIALIZED (
            SELECT list_reduce(
                       list_prepend(CAST([] AS VARCHAR[]),
                                    list_transform(w.syms, s -> [s])),
                       (acc, x) -> CASE
                           WHEN len(acc) > 0 AND acc[-1] = t.l
                                AND x[1] = t.r
                           THEN list_append(acc[:-2], t.l || t.r)
                           ELSE list_append(acc, x[1]) END) AS syms,
                   w.freq
            FROM w{p} w CROSS JOIN t{r} t
        )""")
    return ctes


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """Mirror of ``q_bpe_encode``: re-learn the same ``n_merges`` merges
    (the proven ``_bpe_chain_ctes`` chain), then tokenize every document
    word through the full merge sequence — ``n_merges`` nested
    list_reduce folds — and count tokens.  All integer/string."""
    body = ",".join(_bpe_chain_ctes(n_merges))

    def fold(inner: str, r: int) -> str:
        return (
            "list_reduce(list_prepend(CAST([] AS VARCHAR[]), "
            f"list_transform({inner}, s -> [s])), "
            "(acc, x) -> CASE WHEN len(acc) > 0 "
            f"AND acc[-1] = t{r}.l AND x[1] = t{r}.r "
            f"THEN list_append(acc[:-2], t{r}.l || t{r}.r) "
            "ELSE list_append(acc, x[1]) END)"
        )

    tok = ("list_transform(generate_series(1, length(w)), "
           "i -> substr(w, CAST(i AS INTEGER), 1))")
    for r in range(1, n_merges + 1):
        tok = fold(tok, r)
    crosses = " ".join(f"CROSS JOIN t{r}" for r in range(1, n_merges + 1))
    return f"""
        WITH {body}, dt AS (
            SELECT doc_id,
                   coalesce(list_filter(
                               regexp_split_to_array(lower(text), '\\s+'),
                               t -> t <> ''),
                            CAST([] AS VARCHAR[])) AS ws
            FROM documents
        )
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(list_transform(ws,
                        w -> length(w))), 0) AS BIGINT) AS n_chars_alpha,
               CAST(coalesce(list_sum(list_transform(ws,
                        w -> len({tok}))), 0) AS BIGINT) AS n_tokens
        FROM dt {crosses}
    """


def _crc32_table() -> list:
    """The standard CRC-32 (IEEE 802.3) byte table — generated once so
    the DuckDB mirror of Spark's ``crc32`` is a plain fold over it."""
    tab = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (0xEDB88320 ^ (c >> 1)) if c & 1 else c >> 1
        tab.append(c)
    return tab


def _pack_sequences_sql(max_len: int = 128, num_buckets: int = 8) -> str:
    """Mirror of ``q_pack_sequences``: crc32 bucketing (byte-table fold —
    DuckDB has no crc32 built-in), then the sequential first-fit-
    decreasing loop reproduced as a list_reduce over a FLAT bigint-list
    state ``[k, fill_1..fill_k, assign_1..assign_m]`` (struct
    accumulators miscompile in DuckDB lambdas) — all integer, the
    operator's exact (length desc, id asc) order and first-fit rule."""
    tab = ", ".join(str(x) for x in _crc32_table())
    crc = (
        "xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), "
        "list_transform(generate_series(1, length(ds)), "
        "i -> CAST(ord(substr(ds, CAST(i AS INTEGER), 1)) AS BIGINT))), "
        "(c, b) -> xor(ct.t[CAST(xor(c, b) % 256 AS INTEGER) + 1], "
        "c // 256)), 4294967295)"
    )
    eff = f"least(x[1], CAST({max_len} AS BIGINT))"
    kk = "CAST(acc[1] AS INTEGER)"
    fills = f"acc[2:{kk} + 1]"
    assigns = f"acc[{kk} + 2:len(acc)]"
    pos = (
        f"coalesce(list_position(list_transform({fills}, "
        f"f -> f + {eff} <= {max_len}), true), 0)"
    )
    upd = (
        "list_transform(generate_series(1, CAST(acc[1] AS BIGINT)), "
        f"i -> CASE WHEN i = {pos} "
        f"THEN acc[CAST(i AS INTEGER) + 1] + {eff} "
        f"ELSE acc[CAST(i AS INTEGER) + 1] END)"
    )
    step = (
        f"CASE WHEN {pos} = 0 "
        f"THEN list_concat(list_concat(list_concat([acc[1] + 1], {fills}),"
        f" [{eff}]), list_concat({assigns}, [acc[1]])) "
        f"ELSE list_concat(list_concat([acc[1]], {upd}), "
        f"list_concat({assigns}, [CAST({pos} AS BIGINT) - 1])) END"
    )
    kf = "CAST(st[1] AS INTEGER)"
    assign_i = f"st[{kf} + 1 + CAST(i AS INTEGER)]"
    return f"""
        WITH ct AS (SELECT [{tab}] AS t),
        bucketed AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS length,
                   CAST({crc} % {num_buckets} AS INTEGER) AS bucket
            FROM (SELECT doc_id, text,
                         CAST(doc_id AS VARCHAR) AS ds FROM documents) d,
                 ct
        ), grouped AS (
            SELECT bucket,
                   list({{'doc_id': doc_id, 'length': length}}
                        ORDER BY length DESC, doc_id ASC) AS items
            FROM bucketed GROUP BY bucket
        ), folded AS (
            SELECT bucket, items,
                   list_reduce(
                       list_prepend(CAST([0] AS BIGINT[]),
                           list_transform(items, it -> [it.length])),
                       (acc, x) -> {step}) AS st
            FROM grouped
        )
        SELECT items[CAST(i AS INTEGER)].doc_id AS doc_id,
               items[CAST(i AS INTEGER)].length AS n_tokens,
               bucket,
               {assign_i} AS bin_in_bucket,
               st[CAST({assign_i} AS INTEGER) + 2] AS bin_fill,
               items[CAST(i AS INTEGER)].length > {max_len} AS truncated
        FROM folded, unnest(generate_series(1, len(items))) AS u(i)
    """


def _mmr_select_sql(k: int = 10, lam: float = 0.7, dim: int = 64) -> str:
    """Generated mirror of ``q_mmr_select`` (``embedding.mmr_select``):
    per-position centroid, exact-fold relevance cosine, then ``k``
    unrolled greedy rounds — each round excludes prior picks, scores
    ``λ·rel − (1−λ)·greatest(sims to picks)`` with the same literal
    arithmetic ((1.0 − λ) evaluated as the expression, matching the
    Python-float literal Spark inlines) and takes the (mmr desc, id asc)
    argmax.  Round 7: the centroid mean derives from an exact integer
    e9-tick sum (order-free in both engines) divided in one fixed
    expression, so the centroid — and therefore every relevance/pick
    score, all folds over exact operands — is bit-identical across
    engines; the float-avg ulp acceptance argument is no longer
    needed."""
    lam_r = repr(float(lam))

    def dot(a: str, b: str) -> str:
        return _dot_fold_sql(a, b, dim)

    ctes = [f"""base AS MATERIALIZED (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt({dot('CAST(embedding AS DOUBLE[])',
                             'CAST(embedding AS DOUBLE[])')}) AS nrm
            FROM embeddings
            WHERE sqrt({dot('CAST(embedding AS DOUBLE[])',
                            'CAST(embedding AS DOUBLE[])')}) > 0
        ), cm AS MATERIALIZED (
            SELECT list(m ORDER BY pos) AS c FROM (
                SELECT i AS pos,
                       CAST(sum(CAST(round(v[CAST(i AS INTEGER)] * 1e9)
                                     AS BIGINT)) AS DOUBLE)
                           / count(*) / 1e9 AS m
                FROM base, unnest(generate_series(1, {dim})) t(i)
                GROUP BY i
            ) q
        ), cn AS (
            SELECT sqrt(list_reduce(list_prepend(0.0,
                       list_transform(c, x -> x * x)),
                       (a, b) -> a + b)) AS cnorm
            FROM cm
        ), scored AS MATERIALIZED (
            SELECT b.id, b.v, b.nrm,
                   ({dot('b.v', 'cm.c')}) / (b.nrm * cn.cnorm) AS rel
            FROM base b, cm, cn
        )"""]
    for r in range(1, k + 1):
        if r == 1:
            excl = ""
            ms = "0.0"
        else:
            excl = ("WHERE s.id NOT IN (" + " UNION ALL ".join(
                f"SELECT id FROM pick{i}" for i in range(1, r)) + ")")
            sims = ", ".join(
                f"(({dot('s.v', f'pick{i}.v')}) / (s.nrm * pick{i}.nrm))"
                for i in range(1, r)
            )
            ms = f"greatest({sims})" if r > 2 else sims
        joins = "".join(f", pick{i}" for i in range(1, r))
        ctes.append(f"""
        pick{r} AS MATERIALIZED (
            SELECT s.id, s.v, s.nrm,
                   {lam_r} * s.rel - (1.0 - {lam_r}) * ({ms}) AS mmr
            FROM scored s{joins}
            {excl}
            ORDER BY mmr DESC, s.id ASC LIMIT 1
        )""")
    body = ",".join(ctes)
    rows = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, id AS vec_id, "
        f"round(mmr, 6) AS mmr_score FROM pick{r}"
        for r in range(1, k + 1)
    )
    return f"""
        WITH {body}
        {rows}
    """


def _image_dedup_sql() -> str:
    """Mirror of ``q_image_dedup``: the synthetic BMP pixels are a
    closed-form function of the image class ``d = doc_id % 50``
    (``pix(y,x,c) = (y·(13+11d) + x·(3+7d) + 5c) % 256``), and aHash
    (``codecs.average_hash_array``) is all-integer — fixed-point luma,
    floor-partition 8×8 cell means, integer-mean threshold, MSB-first
    bit pack, two's-complement signing — so the oracle recomputes every
    class's hash in SQL and groups the 200 items by it."""
    lum = " + ".join(
        f"(((y.y * (13 + 11 * d.d) + x.x * (3 + 7 * d.d) + {5 * c}) % 256)"
        f" * {w})"
        for c, w in ((0, 299), (1, 587), (2, 114))
    )
    return f"""
        WITH ds AS (
            SELECT DISTINCT doc_id % 50 AS d FROM documents
            WHERE doc_id < 200
        ), px AS (
            SELECT d.d, y.y, x.x, {lum} AS luma
            FROM ds d,
                 LATERAL (SELECT unnest(generate_series(
                     0, 8 + d.d % 4 - 1)) AS y) y,
                 (SELECT unnest(generate_series(0, 7)) AS x) x
        ), cells AS (
            SELECT d, (y * 8) // (8 + d % 4) AS cy, x AS cx,
                   sum(luma) // count(*) AS mean
            FROM px GROUP BY d, (y * 8) // (8 + d % 4), x
        ), th AS (
            SELECT d, sum(mean) // 64 AS thresh FROM cells GROUP BY d
        ), ah AS (
            SELECT c.d,
                   sum(CASE WHEN c.mean >= t.thresh
                       THEN CAST(1 AS HUGEINT)
                            << CAST(63 - (c.cy * 8 + c.cx) AS INTEGER)
                       ELSE CAST(0 AS HUGEINT) END) AS u
            FROM cells c JOIN th t USING (d)
            GROUP BY c.d
        ), signed AS (
            SELECT d,
                   CAST(CASE WHEN u >= CAST(1 AS HUGEINT) << 63
                        THEN u - (CAST(1 AS HUGEINT) << 64)
                        ELSE u END AS BIGINT) AS ahash
            FROM ah
        )
        SELECT s.ahash,
               CAST(count(*) AS BIGINT) AS n_copies,
               min(doc.doc_id) AS keeper_id
        FROM (SELECT doc_id, doc_id % 50 AS d FROM documents
              WHERE doc_id < 200) doc
        JOIN signed s USING (d)
        GROUP BY s.ahash
    """


def _simhash_candidates_sql(max_hamming: int = 3, chunks: int = 4) -> str:
    """Mirror of ``q_simhash_candidates`` (portable mode): per-doc bit
    votes over md5-derived 60-bit token hashes (bit b of the signature
    sets iff 2·count_set(b) > n_tokens — the sum>0 rule), 16-bit chunk
    banding, bucket self-join, popcount-of-XOR exact filter.  All hashes
    are non-negative, so plain // and % arithmetic extract bits and
    chunks with no sign gymnastics."""
    ph = _PHASH_SQL.format
    width = 64 // chunks
    sig = " + ".join(
        f"CASE WHEN 2 * sum((h // {1 << b}) % 2) > count(*) "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(60)  # portable hashes are 60-bit: bits 60-63 never set
    )
    chunk_rows = "\n            UNION ALL ".join(
        f"SELECT doc_id, {i} AS chunk_idx, "
        f"(sig // {1 << (i * width)}) % {1 << width} AS chunk_val, sig "
        f"FROM sigs"
        for i in range(chunks)
    )
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_transform(string_split(text, ' '),
                                         t -> {ph(s='t')})) AS h
            FROM documents
        ), sigs AS MATERIALIZED (
            SELECT doc_id, CAST({sig} AS BIGINT) AS sig
            FROM toks GROUP BY doc_id
        ), banded AS MATERIALIZED (
            {chunk_rows}
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.sig AS sig_a, b.sig AS sig_b
            FROM banded a JOIN banded b
                 ON a.chunk_idx = b.chunk_idx
                AND a.chunk_val = b.chunk_val
            WHERE a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
        FROM pairs
        WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """


def _lsh_bucket_report_sql(num_hashes: int = 16, k: int = 3,
                           bands: int = 4, cap: int = 64) -> str:
    """Mirror of ``q_lsh_bucket_report`` (``minhash_lsh_bucket_stats`` in
    portable mode): same core + banding, per-bucket sizes, per-band
    rollup of the capping diagnostics."""
    banded = _minhash_banded_sql(num_hashes, bands, "sigs")
    return f"""
        WITH {_minhash_core_cte(num_hashes, k)}, banded AS (
            {banded}
        ), per_bucket AS (
            SELECT band, bucket, count(*) AS m
            FROM banded GROUP BY band, bucket
        )
        SELECT band,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(m) AS BIGINT) AS max_bucket,
               CAST(sum(CASE WHEN m > {cap} THEN m ELSE 0 END) AS BIGINT)
                   AS docs_in_capped_buckets,
               CAST(sum(m * (m - 1) // 2) AS BIGINT) AS pairs_uncapped,
               CAST(sum(CASE WHEN m > {cap} THEN m - 1
                             ELSE m * (m - 1) // 2 END) AS BIGINT)
                   AS pairs_after_cap
        FROM per_bucket GROUP BY band
    """


def _minhash_incremental_sql(num_hashes: int = 16, k: int = 3,
                             bands: int = 4) -> str:
    """Mirror of ``q_minhash_incremental`` (new batch doc_id%10>=8 vs the
    historical corpus, portable mode): same core signatures, banding on
    both sides, new×(corpus ∪ new) bucket join with the double-count
    guard, signature-agreement jaccard."""
    banded = _minhash_banded_sql(num_hashes, bands, "sigs")
    agree = " + ".join(
        f"CASE WHEN sa.s{j} = sb.s{j} THEN 1 ELSE 0 END"
        for j in range(num_hashes)
    )
    return f"""
        WITH {_minhash_core_cte(num_hashes, k)}, banded AS MATERIALIZED (
            {banded}
        ), new_b AS (
            SELECT doc_id AS id_new, band, bucket FROM banded
            WHERE doc_id % 10 >= 8
        ), other_b AS (
            SELECT doc_id AS id_match, band, bucket,
                   false AS match_is_new
            FROM banded WHERE doc_id % 10 < 8
            UNION ALL
            SELECT doc_id AS id_match, band, bucket, true AS match_is_new
            FROM banded WHERE doc_id % 10 >= 8
        ), pairs AS (
            SELECT DISTINCT n.id_new, o.id_match, o.match_is_new
            FROM new_b n JOIN other_b o
                 ON n.band = o.band AND n.bucket = o.bucket
            WHERE (NOT o.match_is_new AND n.id_new <> o.id_match)
               OR (n.id_new < o.id_match)
        )
        SELECT p.id_new, p.id_match, p.match_is_new,
               round(({agree}) * 1.0 / {num_hashes}, 4) AS jaccard_est
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.id_new
        JOIN sigs sb ON sb.doc_id = p.id_match
    """


def _textrank_sql(top_k: int = 20, iterations: int = 5,
                  damping: float = 0.85) -> str:
    """Generated mirror of ``q_textrank`` (``textrank_keywords`` →
    shared ``pagerank``): same tokenization (the stopword literal comes
    from the SAME ``RAKE_STOPWORDS`` constant), same adjacent-pair
    symmetrized-distinct graph, ``iterations`` unrolled power-iteration
    rounds in the ``personalized_pagerank`` oracle shape.  The
    symmetrized graph has no dangling nodes (every node appears as src),
    so the operator's dangling-mass term is exactly 0.0 and adding it is
    a bit-exact no-op — the mirror omits it.  Round 7: the contribution
    sums fold in SORTED sequential order on both sides
    (``aggregate(array_sort(collect_list))`` ↔
    ``list_reduce(list_sort(list))``) — bit-deterministic regardless of
    partition/thread scheduling, closing the last-ulp drift risk a
    plain double SUM carries in both engines."""
    from smartpy_arc_spark.operators.text import RAKE_STOPWORDS

    stops = ", ".join(f"'{w}'" for w in sorted(set(RAKE_STOPWORDS)))
    d = repr(float(damping))
    ctes = [f"""
        stoks AS MATERIALIZED (
            SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               t -> t <> ''
                                    AND NOT list_contains([{stops}], t))
                   AS tk
            FROM documents
        ), edges0 AS (
            SELECT pr.a AS src, pr.b AS dst FROM (
                SELECT unnest(list_transform(
                    generate_series(1, len(tk) - 1),
                    i -> {{'a': tk[i], 'b': tk[i + 1]}})) AS pr
                FROM stoks WHERE len(tk) >= 2
            ) t WHERE pr.a <> pr.b
        ), e AS MATERIALIZED (
            SELECT DISTINCT src AS s, dst AS d FROM (
                SELECT src, dst FROM edges0
                UNION ALL SELECT dst AS src, src AS dst FROM edges0
            ) u
        ), nodes AS MATERIALIZED (
            SELECT DISTINCT s AS node FROM e
        ), nn AS (SELECT count(*) AS n FROM nodes),
        deg AS MATERIALIZED (
            SELECT s, count(*) AS deg FROM e GROUP BY s
        ), r0 AS MATERIALIZED (
            SELECT node, 1.0 / nn.n AS rank FROM nodes, nn
        )"""]
    for r in range(1, iterations + 1):
        p = r - 1
        ctes.append(f"""
        r{r} AS MATERIALIZED (
            SELECT n.node,
                   (1.0 - {d}) / nn.n
                       + {d} * coalesce(c.c, 0.0) AS rank
            FROM nodes n
            LEFT JOIN (
                SELECT e.d AS node,
                       list_reduce(
                           list_prepend(0.0,
                               list_sort(list(r.rank / dg.deg))),
                           (acc, x) -> acc + x) AS c
                FROM e JOIN r{p} r ON r.node = e.s
                       JOIN deg dg ON dg.s = e.s
                GROUP BY e.d
            ) c ON c.node = n.node
            CROSS JOIN nn
        )""")
    body = ",".join(ctes)
    return f"""
        WITH {body}
        SELECT node AS word,
               CAST(round(rank * 1e9) AS BIGINT) AS rank_e9
        FROM r{iterations}
        ORDER BY rank_e9 DESC, word ASC
        LIMIT {top_k}
    """


def _nb_langid_sql() -> str:
    """Mirror of ``q_nb_langid`` (train on even docs, score odd docs):
    exact-integer Laplace counts, per-term nanonat log pre-rounds (the
    same e9 rounding ``operators.text.nb_score`` applies), bigint
    totals, integer argmax/margin — fully order-free."""
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), "
        "t -> t <> '')"
    )
    return f"""
        WITH train AS (
            SELECT lang, text FROM documents WHERE doc_id % 2 = 0
        ), test AS (
            SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1
        ), ttoks AS (
            SELECT lang AS label, unnest({toks}) AS token FROM train
        ), counts AS (
            SELECT label, token, CAST(count(*) AS BIGINT) AS n_tok
            FROM ttoks GROUP BY label, token
        ), ltot AS (
            SELECT label, CAST(sum(n_tok) AS BIGINT) AS n_label_tokens
            FROM counts GROUP BY label
        ), ldocs AS (
            SELECT lang AS label, count(*) AS n_label_docs
            FROM train GROUP BY lang
        ), nd AS (SELECT count(*) AS n_docs FROM train),
        voc AS (SELECT count(DISTINCT token) AS vocab FROM counts),
        weights AS (
            SELECT c.label, c.token,
                   CAST(round((
                       ln(CAST(c.n_tok + 1 AS DOUBLE)
                          / CAST(l.n_label_tokens + voc.vocab AS DOUBLE))
                       - ln(CAST(1 AS DOUBLE)
                            / CAST(l.n_label_tokens + voc.vocab AS DOUBLE))
                   ) * 1e9) AS BIGINT) AS w_gain
            FROM counts c JOIN ltot l USING (label), voc
        ), labelstats AS (
            SELECT l.label,
                   CAST(round(ln(CAST(d.n_label_docs AS DOUBLE)
                                 / CAST(nd.n_docs AS DOUBLE)) * 1e9)
                        AS BIGINT) AS prior,
                   CAST(round(ln(CAST(1 AS DOUBLE)
                                 / CAST(l.n_label_tokens + voc.vocab
                                        AS DOUBLE)) * 1e9)
                        AS BIGINT) AS floor_w
            FROM ltot l JOIN ldocs d USING (label), nd, voc
        ), stoks AS (
            SELECT doc_id, {toks} AS tk FROM test
        ), exp AS (
            SELECT doc_id, unnest(tk) AS token FROM stoks
        ), seen AS (
            SELECT e.doc_id, w.label, CAST(sum(w.w_gain) AS BIGINT) AS gain
            FROM exp e JOIN weights w USING (token)
            GROUP BY e.doc_id, w.label
        ), ll AS (
            SELECT s.doc_id, ls.label,
                   ls.prior + len(s.tk) * ls.floor_w
                       + coalesce(sn.gain, 0) AS ll
            FROM stoks s CROSS JOIN labelstats ls
            LEFT JOIN seen sn
                 ON sn.doc_id = s.doc_id AND sn.label = ls.label
        ), ranked AS (
            SELECT doc_id, label, ll, row_number() OVER (
                PARTITION BY doc_id ORDER BY ll DESC, label ASC
            ) AS rn FROM ll
        ), pred AS (
            SELECT r1.doc_id, r1.label AS predicted_label,
                   (r1.ll - coalesce(r2.ll, r1.ll)) // 1000 AS margin_e6
            FROM ranked r1 LEFT JOIN ranked r2
                 ON r2.doc_id = r1.doc_id AND r2.rn = 2
            WHERE r1.rn = 1
        )
        SELECT t.lang AS true_lang, p.predicted_label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(avg(p.margin_e6)) AS BIGINT) AS avg_margin_e6
        FROM test t JOIN pred p USING (doc_id)
        GROUP BY t.lang, p.predicted_label
    """


def _viterbi_sql() -> str:
    """Generated mirror of ``operators.hmm.viterbi_decode``: the
    integer log-literals come from the SAME ``log_literals()`` call the
    Spark expression inlines — one source of truth, no drift."""
    from smartpy_arc_spark.operators.hmm import EMIT, log_literals

    start, trans, emit, unseen = log_literals()

    def ecase(state: int) -> str:
        whens = " ".join(
            f"WHEN '{k}' THEN {emit[state][k]}" for k in EMIT[state]
        )
        return (
            f"CAST(CASE event_type {whens} ELSE {unseen} END AS BIGINT)"
        )

    step0 = (
        f"greatest(acc[1] + {trans[0][0]}, acc[2] + {trans[1][0]}) + x[1]"
    )
    step1 = (
        f"greatest(acc[1] + {trans[0][1]}, acc[2] + {trans[1][1]}) + x[2]"
    )
    return f"""
        WITH scored AS (
            SELECT user_id, ts, event_id,
                   {ecase(0)} AS e0,
                   {ecase(1)} AS e1
            FROM events
        ), s AS (
            SELECT user_id,
                   list([e0, e1] ORDER BY ts, event_id) AS pairs,
                   CAST(count(*) AS BIGINT) AS n
            FROM scored GROUP BY user_id
        ), f AS (
            SELECT user_id, n,
                   list_reduce(
                       list_prepend(
                           [{start[0]} + pairs[1][1],
                            {start[1]} + pairs[1][2]],
                           pairs[2:]),
                       (acc, x) -> [{step0}, {step1}]) AS sc
            FROM s
        )
        SELECT user_id, n AS n_events,
               CASE WHEN sc[1] >= sc[2] THEN 0 ELSE 1 END AS best_state,
               CAST(greatest(sc[1], sc[2]) AS BIGINT) AS best_score_e6,
               CAST(sc[1] - sc[2] AS BIGINT) AS margin_e6
        FROM f
    """


def _kalman_sql(q: float = 2500.0, r: float = 10000.0) -> str:
    """Generated mirror of ``operators.resample.kalman_level``: the
    [level, variance] fold with the gain expression repeated verbatim
    (no let-binding in either engine's lambda)."""
    g = f"(acc[2] + {q}) / (acc[2] + {q} + {r})"
    step = (
        f"[acc[1] + {g} * (x[1] - acc[1]), "
        f"(1.0 - {g}) * (acc[2] + {q})]"
    )
    gf = f"(f[2] + {q}) / (f[2] + {q} + {r})"
    return f"""
        WITH daily AS ({_DAILY_REV_SQL}
        ), ticked AS (
            SELECT flag, d, round(rev * 100) AS x FROM daily
        ), s AS (
            SELECT flag, list(x ORDER BY d) AS xs,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM ticked GROUP BY flag
        ), folded AS (
            SELECT flag, n_obs,
                   list_reduce(
                       list_prepend([xs[1], {r}],
                                    list_transform(xs[2:], v -> [v])),
                       (acc, x) -> {step}) AS f
            FROM s
        )
        SELECT flag, n_obs,
               CAST(round(f[1] / 100 * 10000) AS BIGINT) AS level_e4,
               CAST(round(f[2] * 100) AS BIGINT) AS p_e2,
               CAST(round({gf} * 1000000.0) AS BIGINT) AS gain_e6
        FROM folded
    """


def oracle_sql() -> dict[str, str]:
    return {
        "dsir_weights": """
            WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), grams AS (
                SELECT doc_id, lang,
                       unnest(w || CASE WHEN len(w) >= 2
                           THEN [array_to_string(w[i:i+1], ' ')
                                 for i in generate_series(1, len(w) - 1)]
                           ELSE [] END) AS g
                FROM toks
            ), b AS (
                SELECT doc_id, lang,
                       CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 1024
                           AS bucket
                FROM grams
            ), qc AS (
                SELECT bucket, count(*) AS n FROM b GROUP BY bucket
            ), pc AS (
                SELECT bucket, count(*) AS n FROM b WHERE lang = 'en'
                GROUP BY bucket
            ), qt AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM qc),
               pt AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM pc),
            wt AS (
                SELECT COALESCE(pc.bucket, qc.bucket) AS bucket,
                       ln((COALESCE(pc.n, 0) + 1.0)
                          / ((SELECT t FROM pt) + 1024.0))
                       - ln((COALESCE(qc.n, 0) + 1.0)
                            / ((SELECT t FROM qt) + 1024.0)) AS w
                FROM pc FULL OUTER JOIN qc USING (bucket)
            ), db AS (
                SELECT doc_id, bucket, count(*) AS c
                FROM b GROUP BY doc_id, bucket
            )
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_features,
                   round(sum(c * w), 4) + 0.0 AS weight
            FROM db JOIN wt USING (bucket)
            GROUP BY doc_id
            ORDER BY weight DESC, doc_id
            LIMIT 50
        """,
        "duplicate_spans": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), grams AS (
                SELECT doc_id, u.p AS pos, u.g AS gram
                FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN len(w) >= 8
                               THEN [{'p': i,
                                      'g': array_to_string(w[i:i+7], ' ')}
                                     for i in generate_series(1, len(w) - 7)]
                               ELSE [] END) AS u
                    FROM toks
                )
            ), dup AS (
                SELECT gram FROM grams
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ), dp AS (
                SELECT doc_id, pos FROM grams JOIN dup USING (gram)
            ), isl AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > 8
                            THEN 1 ELSE 0 END AS ni
                FROM dp
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), isl2 AS (
                SELECT doc_id, pos,
                       sum(ni) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS island
                FROM isl
            )
            SELECT doc_id,
                   CAST(min(pos) AS INTEGER) AS span_start,
                   CAST(max(pos) + 7 AS INTEGER) AS span_end,
                   CAST(max(pos) + 7 - min(pos) + 1 AS INTEGER)
                       AS span_tokens
            FROM isl2 GROUP BY doc_id, island
        """,
        "semdedup": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ), cents AS (
                SELECT vec_id AS cent_id, v AS c FROM e
                ORDER BY vec_id LIMIT 8
            ), scored AS (
                SELECT e.vec_id, cents.cent_id,
                       COALESCE(list_cosine_similarity(e.v, cents.c), -2.0)
                           AS cos_c,
                       e.v
                FROM e CROSS JOIN cents
            ), best AS (
                SELECT vec_id, cent_id AS cluster, v FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY vec_id
                        ORDER BY cos_c DESC, cent_id) AS rn
                    FROM scored
                ) WHERE rn = 1
            ), pairs AS (
                SELECT a.vec_id, min(b.vec_id) AS dup_of
                FROM best a JOIN best b
                  ON a.cluster = b.cluster AND b.vec_id < a.vec_id
                 AND list_cosine_similarity(a.v, b.v) >= 0.35
                GROUP BY a.vec_id
            )
            SELECT best.vec_id, CAST(cluster AS BIGINT) AS cluster,
                   p.dup_of IS NOT NULL AS is_dup, p.dup_of
            FROM best LEFT JOIN pairs p USING (vec_id)
        """,
        "perplexity_buckets": """
            WITH norm AS (
                SELECT doc_id, lang,
                       regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
                FROM documents
            ), tris AS (
                SELECT doc_id, lang,
                       unnest(CASE WHEN len(t) >= 3
                           THEN [substr(t, CAST(i AS INTEGER), 3)
                                 for i in generate_series(1, len(t) - 2)]
                           ELSE [] END) AS tri
                FROM norm
            ), lm AS (
                SELECT tri, count(*) AS n FROM tris WHERE lang = 'en'
                GROUP BY tri
            ), vt AS (
                SELECT CAST(sum(n) AS DOUBLE) AS total,
                       CAST(count(*) AS DOUBLE) AS vocab
                FROM lm
            ), scored AS (
                SELECT tris.doc_id,
                       CAST(count(*) AS BIGINT) AS n_trigrams,
                       round(-sum(COALESCE(
                           ln((lm.n + 1.0)
                              / ((SELECT total FROM vt)
                                 + (SELECT vocab FROM vt) + 1.0)),
                           ln(1.0 / ((SELECT total FROM vt)
                                     + (SELECT vocab FROM vt) + 1.0))
                       )) / count(*), 4) + 0.0 AS cross_entropy
                FROM tris LEFT JOIN lm USING (tri)
                GROUP BY tris.doc_id
            ), cuts AS (
                SELECT quantile_cont(cross_entropy, 1.0/3.0) AS head_cut,
                       quantile_cont(cross_entropy, 2.0/3.0) AS tail_cut
                FROM scored
            )
            SELECT doc_id, n_trigrams, cross_entropy,
                   CASE WHEN cross_entropy <= (SELECT head_cut FROM cuts)
                        THEN 'head'
                        WHEN cross_entropy <= (SELECT tail_cut FROM cuts)
                        THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored
        """,
        "chi_square": """
            WITH cells AS (
                SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
                FROM documents GROUP BY 1, 2
            ), ra AS (SELECT lang, sum(o) AS ra FROM cells GROUP BY 1),
            rb AS (SELECT source, sum(o) AS rb FROM cells GROUP BY 1),
            n AS (SELECT sum(o) AS n FROM cells),
            ka AS (SELECT count(*) AS ka FROM ra),
            kb AS (SELECT count(*) AS kb FROM rb)
            SELECT round(sum((c.o - (r1.ra * r2.rb / (SELECT n FROM n)))
                          * (c.o - (r1.ra * r2.rb / (SELECT n FROM n)))
                          / (r1.ra * r2.rb / (SELECT n FROM n))), 4) + 0.0
                       AS chi2,
                   CAST(((SELECT ka FROM ka) - 1)
                        * ((SELECT kb FROM kb) - 1) AS BIGINT) AS dof,
                   CAST((SELECT n FROM n) AS BIGINT) AS n
            FROM cells c
            JOIN ra r1 USING (lang)
            JOIN rb r2 USING (source)
        """,
        "welch_t": """
            WITH s AS (
                SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                       avg(value) AS m, var_samp(value) AS v
                FROM events WHERE event_type IN ('purchase', 'view')
                GROUP BY 1
            ), a AS (SELECT n AS na, m AS ma, v AS va FROM s
                     WHERE event_type = 'purchase'),
            b AS (SELECT n AS nb, m AS mb, v AS vb FROM s
                  WHERE event_type = 'view')
            SELECT round(ma, 4) + 0.0 AS mean_a,
                   round(mb, 4) + 0.0 AS mean_b,
                   round((ma - mb) / sqrt(va / na + vb / nb), 4) + 0.0
                       AS t_stat,
                   round((va / na + vb / nb) * (va / na + vb / nb)
                         / ((va / na) * (va / na) / (na - 1)
                            + (vb / nb) * (vb / nb) / (nb - 1)), 2) + 0.0
                       AS dof
            FROM a CROSS JOIN b
        """,
        "winsorize": """
            WITH cuts AS (
                SELECT event_type,
                       quantile_cont(value, 0.05) AS lo,
                       quantile_cont(value, 0.95) AS hi
                FROM events GROUP BY 1
            ), w AS (
                SELECT e.event_type, e.value,
                       round(least(greatest(e.value, c.lo), c.hi), 4) + 0.0
                           AS value_w,
                       e.value < c.lo OR e.value > c.hi AS clipped
                FROM events e JOIN cuts c USING (event_type)
            )
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(CASE WHEN clipped THEN 1 END) AS BIGINT)
                       AS n_clipped,
                   round(avg(value), 4) + 0.0 AS mean_raw,
                   round(avg(value_w), 4) + 0.0 AS mean_winsor
            FROM w GROUP BY event_type
        """,
        "transition_counts": """
            WITH seq AS (
                SELECT user_id, event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS to_type
                FROM events
            ), pairs AS (
                SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
                FROM seq WHERE to_type IS NOT NULL
                GROUP BY from_type, to_type
            ), tot AS (
                SELECT from_type, sum(n) AS t FROM pairs GROUP BY from_type
            )
            SELECT p.from_type, p.to_type, p.n,
                   round(p.n / t.t, 4) + 0.0 AS p
            FROM pairs p JOIN tot t USING (from_type)
        """,
        "mad_anomalies": """
            WITH med AS (
                SELECT event_type, quantile_cont(value, 0.5) AS med
                FROM events GROUP BY 1
            ), wm AS (
                SELECT e.event_type, e.event_id, e.value, m.med
                FROM events e JOIN med m USING (event_type)
            ), mad AS (
                SELECT event_type,
                       quantile_cont(abs(value - med), 0.5) AS mad
                FROM wm GROUP BY 1
            )
            SELECT wm.event_type, wm.event_id, wm.value,
                   round(wm.med, 4) AS med, round(d.mad, 4) AS mad,
                   round(abs(wm.value - wm.med) / d.mad, 4) + 0.0
                       AS deviation
            FROM wm JOIN mad d USING (event_type)
            WHERE d.mad > 0
              AND abs(wm.value - wm.med) > 5.0 * d.mad
        """,
        "sequence_funnel": """
            WITH t0 AS (
                SELECT user_id, min(ts) AS t0 FROM events
                WHERE event_type = 'view' GROUP BY 1
            ), t1 AS (
                SELECT t0.user_id, t0.t0,
                       min(CASE WHEN e.ts > t0.t0
                                 AND e.ts <= t0.t0 + INTERVAL 3600 SECOND
                            THEN e.ts END) AS t1
                FROM t0 LEFT JOIN events e
                  ON e.user_id = t0.user_id AND e.event_type = 'click'
                GROUP BY 1, 2
            ), t2 AS (
                SELECT t1.user_id, t1.t1,
                       min(CASE WHEN e.ts > t1.t1
                                 AND e.ts <= t1.t1 + INTERVAL 3600 SECOND
                            THEN e.ts END) AS t2
                FROM t1 LEFT JOIN events e
                  ON e.user_id = t1.user_id AND e.event_type = 'purchase'
                GROUP BY 1, 2
            )
            SELECT CAST(count(*) AS BIGINT) AS n_view,
                   CAST(count(t1) AS BIGINT) AS n_click,
                   CAST(count(t2) AS BIGINT) AS n_purchase
            FROM t2
        """,
        "snapshot_diff": """
            WITH v1 AS (
                SELECT s_suppkey, s_name, s_acctbal FROM supplier
                WHERE s_suppkey <= 80
            ), v2 AS (
                SELECT s_suppkey, s_name,
                       CASE WHEN s_suppkey % 4 = 0
                            THEN round(s_acctbal + 500.0, 2)
                            ELSE s_acctbal END AS s_acctbal
                FROM supplier
                WHERE s_suppkey <= 100 AND s_suppkey % 9 <> 0
            )
            SELECT COALESCE(v1.s_suppkey, v2.s_suppkey) AS s_suppkey,
                   CASE WHEN v1.s_suppkey IS NULL THEN 'added'
                        WHEN v2.s_suppkey IS NULL THEN 'removed'
                        WHEN v1.s_acctbal IS DISTINCT FROM v2.s_acctbal
                             OR v1.s_name IS DISTINCT FROM v2.s_name
                        THEN 'changed' END AS change,
                   v1.s_acctbal AS old_bal, v2.s_acctbal AS new_bal
            FROM v1 FULL OUTER JOIN v2 ON v1.s_suppkey = v2.s_suppkey
            WHERE (v1.s_suppkey IS NULL OR v2.s_suppkey IS NULL
                   OR v1.s_acctbal IS DISTINCT FROM v2.s_acctbal
                   OR v1.s_name IS DISTINCT FROM v2.s_name)
        """,
        "neighbor_join": """
            WITH pts AS (
                SELECT c_custkey AS id,
                       40.0 + (c_custkey * 37 % 1000) / 1000.0 AS lat,
                       -100.0 + (c_custkey * 73 % 1000) / 1000.0 AS lon
                FROM customer
            )
            SELECT a.id AS l_id, b.id AS r_id,
                   round(12742.0 * asin(sqrt(
                       sin(radians(b.lat - a.lat) / 2)
                         * sin(radians(b.lat - a.lat) / 2)
                       + cos(radians(a.lat)) * cos(radians(b.lat))
                         * sin(radians(b.lon - a.lon) / 2)
                         * sin(radians(b.lon - a.lon) / 2)
                   )), 4) AS dist_km
            FROM pts a JOIN pts b ON a.id <> b.id
            WHERE round(12742.0 * asin(sqrt(
                       sin(radians(b.lat - a.lat) / 2)
                         * sin(radians(b.lat - a.lat) / 2)
                       + cos(radians(a.lat)) * cos(radians(b.lat))
                         * sin(radians(b.lon - a.lon) / 2)
                         * sin(radians(b.lon - a.lon) / 2)
                   )), 4) <= 5.0
        """,
        "frequent_pairs": """
            WITH baskets AS (
                SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS i
                FROM lineitem
            ), nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM baskets),
            itemf AS (
                SELECT i, count(*) AS f FROM baskets GROUP BY i
            ), freq AS (SELECT i FROM itemf WHERE f >= 30),
            pruned AS (
                SELECT b, i FROM baskets JOIN freq USING (i)
            ), sized AS (
                SELECT b FROM pruned GROUP BY b
                HAVING count(*) BETWEEN 2 AND 64
            ), pairs AS (
                SELECT p1.i AS item_a, p2.i AS item_b,
                       CAST(count(*) AS BIGINT) AS n_baskets
                FROM pruned p1
                JOIN pruned p2 ON p1.b = p2.b AND p1.i < p2.i
                JOIN sized s ON s.b = p1.b
                GROUP BY p1.i, p2.i
                HAVING count(*) >= 30
            )
            SELECT item_a, item_b, n_baskets,
                   round((n_baskets * (SELECT n FROM nb))
                         / (fa.f * fb.f), 4) + 0.0 AS lift
            FROM pairs
            JOIN itemf fa ON fa.i = item_a
            JOIN itemf fb ON fb.i = item_b
        """,
        "resample_interp": """
            WITH pb AS (
              SELECT user_id,
                     CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
                     CAST(round(max_by(value, ts) * 100) AS BIGINT) AS v
              FROM events WHERE user_id < 30 GROUP BY 1, 2
            ),
            span AS (
              SELECT user_id, min(b) AS b0, max(b) AS b1 FROM pb GROUP BY 1
            ),
            grid AS (
              SELECT user_id, unnest(generate_series(b0, b1)) AS b FROM span
            ),
            j AS (
              SELECT g.user_id, g.b, pb.v
              FROM grid g LEFT JOIN pb ON g.user_id = pb.user_id AND g.b = pb.b
            ),
            j2 AS (
              SELECT user_id, b, v,
                     last_value(v IGNORE NULLS) OVER wp AS pv,
                     first_value(v IGNORE NULLS) OVER wn AS nv,
                     last_value(CASE WHEN v IS NOT NULL THEN b END
                                IGNORE NULLS) OVER wp AS pb_,
                     first_value(CASE WHEN v IS NOT NULL THEN b END
                                 IGNORE NULLS) OVER wn AS nb_
              FROM j
              WINDOW wp AS (PARTITION BY user_id ORDER BY b
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wn AS (PARTITION BY user_id ORDER BY b
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT user_id, b AS bucket_id,
                   -- Spark round(double) rounds the SHORTEST decimal
                   -- string HALF_UP; replicate via VARCHAR->DECIMAL.
                   -- Inputs are integer cents, so the raw double is
                   -- bit-identical to Spark's (exact ints + 1 division)
                   CAST(round(CAST(CAST(
                       CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                            WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
                            ELSE pv + (nv - pv) * (b - pb_) / (nb_ - pb_)
                       END AS VARCHAR) AS DECIMAL(30, 12)), 4) AS DOUBLE)
                       + 0.0 AS value_cents,
                   v IS NULL AS interpolated
            FROM j2
        """,
        "weighted_sample": """
            WITH w AS (
                SELECT doc_id, source, n_chars,
                       round(-ln((CAST(concat('0x',
                               substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                               AS BIGINT) + 1.0) / 4294967297.0)
                             / CAST(n_chars AS DOUBLE), 10) AS es_key
                FROM documents WHERE n_chars > 0
            )
            SELECT doc_id, source, n_chars, es_key
            FROM w ORDER BY es_key, doc_id LIMIT 50
        """,
        "dataset_split": """
            SELECT CASE WHEN b < 10 THEN 'val'
                        WHEN b < 20 THEN 'test'
                        ELSE 'train' END AS split,
                   lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM (
                SELECT lang,
                       CAST(concat('0x',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 100 AS b
                FROM documents
            )
            GROUP BY 1, 2
        """,
        "bm25_search": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), d AS (
                SELECT doc_id, len(w) AS dl, w FROM toks
            ), stats AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
                FROM d
            ), tf AS (
                SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(w) AS term FROM d)
                WHERE term IN ('spark', 'shuffle', 'join')
                GROUP BY doc_id, dl, term
            ), dfreq AS (
                SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                FROM tf GROUP BY term
            )
            SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
                   round(sum(
                       ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))
                   ), 4) + 0.0 AS score
            FROM tf JOIN dfreq f USING (term) CROSS JOIN stats s
            GROUP BY tf.doc_id
            ORDER BY score DESC, tf.doc_id LIMIT 20
        """,
        "cdc_apply": """
            WITH base AS (
                SELECT s_suppkey, s_name, s_acctbal FROM supplier
                WHERE s_suppkey <= 60
            ), ch AS (
                SELECT s_suppkey, 'upd-' || s_name AS s_name,
                       round(s_acctbal + 1000.0, 2) AS s_acctbal,
                       CASE WHEN s_suppkey % 7 = 0 THEN 'D'
                            WHEN s_suppkey <= 60 THEN 'U'
                            ELSE 'I' END AS op
                FROM supplier WHERE s_suppkey > 40 AND s_suppkey <= 90
            )
            SELECT s_suppkey, s_name, s_acctbal FROM base
            WHERE s_suppkey NOT IN (SELECT s_suppkey FROM ch)
            UNION ALL
            SELECT s_suppkey, s_name, s_acctbal FROM ch WHERE op <> 'D'
        """,
        "triangle_count": """
            WITH e AS (
                SELECT DISTINCT a.l_suppkey AS lo, b.l_suppkey AS hi
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                WHERE a.l_suppkey <= 40 AND b.l_suppkey <= 40
                  AND a.l_suppkey < b.l_suppkey
            )
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.lo = e1.hi
            JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
        """,
        "inverted_index": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           t -> t <> '')) AS term
                FROM documents
            ), td AS (
                SELECT term, doc_id, count(*) AS tf
                FROM toks GROUP BY term, doc_id
            )
            SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
                   CAST(sum(tf) AS BIGINT) AS total_tf,
                   string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id)
                       AS postings
            FROM td GROUP BY term HAVING count(*) >= 3
        """,
        "csv_roundtrip": """
            SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM customer GROUP BY c_mktsegment
        """,
        "jsonl_roundtrip": """
            SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
                   min(n_name) AS first_name
            FROM nation GROUP BY n_regionkey
        """,
        "schema_evolution": """
            SELECT s_suppkey, s_name,
                   CASE WHEN s_suppkey > 50 THEN round(s_acctbal, 2) END
                       AS balance,
                   s_suppkey <= 50 AS pre_evolution
            FROM supplier
        """,
        "multimodal_dedup": """
            WITH c AS (
                SELECT doc_id,
                       (ascii(lang) * 7 + length(source) * 31) % 256 AS r,
                       (ascii(lang) * 13 + length(lang) * 17) % 256 AS g,
                       (length(lang) * 29 + length(source) * 5) % 256 AS b
                FROM documents
            )
            SELECT CAST(r AS INTEGER) AS r, CAST(g AS INTEGER) AS g,
                   CAST(b AS INTEGER) AS b,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   min(doc_id) AS keeper_id
            FROM c GROUP BY r, g, b
        """,
        "multimodal_dedup_text": """
            SELECT sha256(concat(lang, '-', source)) AS digest,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   min(doc_id) AS keeper_id
            FROM documents
            GROUP BY sha256(concat(lang, '-', source))
        """,
        "partition_prune": """
            SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem WHERE l_returnflag = 'R'
            GROUP BY l_linestatus
        """,
        "bucketed_join": """
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "remove_spans": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), grams AS (
                SELECT doc_id, u.p AS pos, u.g AS gram
                FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN len(w) >= 8
                               THEN [{'p': i,
                                      'g': array_to_string(w[i:i+7], ' ')}
                                     for i in generate_series(1, len(w) - 7)]
                               ELSE [] END) AS u
                    FROM toks
                )
            ), dup AS (
                SELECT gram FROM grams
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ), dp AS (
                SELECT doc_id, pos FROM grams JOIN dup USING (gram)
            ), isl AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > 8
                            THEN 1 ELSE 0 END AS ni
                FROM dp
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), isl2 AS (
                SELECT doc_id, pos,
                       sum(ni) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS island
                FROM isl
            ), spans AS (
                SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
                FROM isl2 GROUP BY doc_id, island
            ), cut AS (
                SELECT doc_id, list({'s': s, 'e': e}) AS sp
                FROM spans GROUP BY doc_id
            ), kept AS (
                SELECT t.doc_id, t.w,
                       [t.w[CAST(i AS INTEGER)]
                        for i in generate_series(1, len(t.w))
                        if len(list_filter(COALESCE(c.sp, []),
                               p -> i >= p.s AND i <= p.e)) = 0] AS k
                FROM toks t LEFT JOIN cut c USING (doc_id)
            )
            SELECT doc_id,
                   -- array_to_string([]) is NULL in DuckDB; Spark's
                   -- array_join([]) is '' — coalesce to the Spark value
                   COALESCE(array_to_string(k, ' '), '') AS clean_text,
                   CAST(len(w) AS INTEGER) AS n_tokens,
                   CAST(len(w) - len(k) AS INTEGER) AS n_removed
            FROM kept
        """,
        "mixture_allocation": """
            WITH sizes AS (
                SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source
            ), z AS (
                SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM sizes
            )
            SELECT source, n_tokens,
                   round(pow(CAST(n_tokens AS DOUBLE), 0.5)
                         / (SELECT z FROM z), 6) + 0.0 AS weight,
                   CAST(floor(least(
                       CAST(n_tokens AS DOUBLE),
                       100000.0 * pow(CAST(n_tokens AS DOUBLE), 0.5)
                           / (SELECT z FROM z))) AS BIGINT) AS alloc_tokens,
                   round(CAST(floor(least(
                       CAST(n_tokens AS DOUBLE),
                       100000.0 * pow(CAST(n_tokens AS DOUBLE), 0.5)
                           / (SELECT z FROM z))) AS BIGINT)
                         / CAST(n_tokens AS DOUBLE), 4) + 0.0 AS epochs
            FROM sizes
        """,
        "domain_cap": """
            SELECT doc_id, source, n_chars FROM (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC, doc_id) AS rk
                FROM documents
            ) WHERE rk <= 15
        """,
        "bloom_join": """
            SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY l_linestatus
        """,
        "orc_roundtrip": """
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem GROUP BY l_returnflag
        """,
        "zorder_code": f"""
            SELECT l_orderkey AS okey, l_linenumber AS lineno,
                   CAST({_morton_sql('l_partkey % 256', 'l_suppkey % 256')}
                        AS BIGINT) AS zcode
            FROM lineitem
        """,
        "decontaminate": """
            WITH corpus AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t <> '') AS w
                FROM documents WHERE doc_id % 17 <> 0
            ), bench AS (
                SELECT DISTINCT
                       unnest([array_to_string(w[i:i+4], ' ')
                               for i in generate_series(1, len(w) - 4)]) AS gram
                FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS w
                      FROM documents WHERE doc_id % 17 = 0)
            ), corpus_g AS (
                SELECT doc_id,
                       list_distinct([array_to_string(w[i:i+4], ' ')
                               for i in generate_series(1, len(w) - 4)]) AS grams
                FROM corpus
            ), hits AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
                FROM (SELECT doc_id, unnest(grams) AS gram FROM corpus_g) g
                JOIN bench USING (gram)
                GROUP BY doc_id
            )
            SELECT c.doc_id,
                   CAST(len(c.grams) AS INTEGER) AS n_ngrams,
                   COALESCE(h.n_hits, 0) AS n_hits,
                   round(COALESCE(h.n_hits, 0) * 1.0
                         / greatest(len(c.grams), 1), 4) AS contamination,
                   COALESCE(h.n_hits, 0) * 1.0
                         / greatest(len(c.grams), 1) > 0.3 AS is_contaminated
            FROM corpus_g c LEFT JOIN hits h USING (doc_id)
        """,
        "bitmap_distinct_rollup": """
            SELECT l_returnflag,
                   CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM lineitem GROUP BY l_returnflag
        """,
        "variant_props": """
            SELECT event_type,
                   CAST(count(k) AS BIGINT) AS n_with_k,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   round(avg(k), 4) AS avg_k
            FROM (SELECT event_type,
                         CAST(json_extract(props, '$.k') AS INTEGER) AS k
                  FROM events)
            GROUP BY event_type
        """,
        "q2_min_cost_supplier": """
            WITH ps AS (
              SELECT l_partkey, l_suppkey,
                     round(avg(l_extendedprice / l_quantity), 4) AS supplycost
              FROM lineitem GROUP BY 1, 2
            ), cand AS (
              SELECT p.p_partkey, p.p_type, s.s_name, s.s_acctbal,
                     n.n_name, ps.supplycost
              FROM ps
              JOIN part p ON ps.l_partkey = p.p_partkey
              JOIN supplier s ON ps.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'EUROPE' AND p.p_type = 'LARGE' AND p.p_size <= 10
            )
            SELECT * FROM cand c
            WHERE supplycost = (SELECT min(supplycost) FROM cand c2
                                WHERE c2.p_partkey = c.p_partkey)
        """,
        "q11_important_parts": """
            WITH v AS (
              SELECT l.l_partkey,
                     sum(l.l_extendedprice * (1 - l.l_discount)) AS val
              FROM lineitem l
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              WHERE n.n_regionkey = 2
              GROUP BY 1
            )
            SELECT l_partkey, round(val, 2) AS part_value FROM v
            WHERE val > (SELECT sum(val) * 0.001 FROM v)
        """,
        "pagerank_influence": """
            WITH pairs AS (
              SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ), edges AS (
              SELECT src, dst FROM pairs
              UNION ALL
              SELECT dst AS src, src AS dst FROM pairs
            ), nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
              )
            ), nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
            r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
            it1 AS (
              SELECT n.node,
                     0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / d.deg) AS c
                FROM edges e
                JOIN r0 r ON r.node = e.src
                JOIN deg d ON d.src = e.src
                GROUP BY e.dst
              ) c USING (node)
            ), it2 AS (
              SELECT n.node,
                     0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / d.deg) AS c
                FROM edges e
                JOIN it1 r ON r.node = e.src
                JOIN deg d ON d.src = e.src
                GROUP BY e.dst
              ) c USING (node)
            ), it3 AS (
              SELECT n.node,
                     0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / d.deg) AS c
                FROM edges e
                JOIN it2 r ON r.node = e.src
                JOIN deg d ON d.src = e.src
                GROUP BY e.dst
              ) c USING (node)
            )
            SELECT node, round(rank, 6) AS rank FROM it3
        """,
        "salted_join_revenue": """
            SELECT s.s_nationkey,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey
        """,
        "q20_promo_shippers": """
            WITH li97 AS (
              SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
              WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
            ), per_ps AS (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS q_ps
              FROM li97 GROUP BY 1, 2
            ), per_p AS (
              SELECT l_partkey, sum(l_quantity) * 0.3 AS thresh
              FROM li97 GROUP BY 1
            ), cand AS (
              SELECT DISTINCT per_ps.l_suppkey
              FROM per_ps
              JOIN part p ON per_ps.l_partkey = p.p_partkey
              JOIN per_p ON per_ps.l_partkey = per_p.l_partkey
              WHERE p.p_name LIKE 'red%' AND per_ps.q_ps > per_p.thresh
            )
            SELECT s.s_name, n.n_name FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE s.s_suppkey IN (SELECT l_suppkey FROM cand)
        """,
        "price_histogram": """
            -- width_bucket(x, 0, 60000, 12) emulated (absent in DuckDB 1.0)
            WITH h AS (
                SELECT CASE WHEN l_extendedprice < 0 THEN 0
                            WHEN l_extendedprice >= 60000 THEN 13
                            ELSE CAST(floor(l_extendedprice / 5000.0) + 1 AS BIGINT)
                       END AS bucket,
                       CAST(count(*) AS BIGINT) AS n
                FROM lineitem GROUP BY 1
            )
            SELECT CAST(bucket AS INTEGER) AS bucket, n,
                   round(n * 1.0 / (SELECT sum(n) FROM h), 6) AS share
            FROM h
        """,
        "funnel_conversion": """
            WITH stages AS (
                SELECT user_id,
                       min(ts) FILTER (WHERE event_type = 'view') AS t_view,
                       min(ts) FILTER (WHERE event_type = 'click') AS t_click,
                       min(ts) FILTER (WHERE event_type = 'purchase') AS t_buy
                FROM events GROUP BY user_id
            )
            SELECT CAST(count(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT)
                       AS n_view,
                   CAST(count(*) FILTER (WHERE t_view IS NOT NULL
                        AND t_click > t_view) AS BIGINT) AS n_click_after_view,
                   CAST(count(*) FILTER (WHERE t_view IS NOT NULL
                        AND t_click > t_view AND t_buy > t_click) AS BIGINT)
                       AS n_full_funnel
            FROM stages
        """,
        "cohort_retention": """
            WITH firsts AS (
                SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
            )
            SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
                   CAST(date_diff('day', date_trunc('week', f.first_ts),
                                  date_trunc('week', e.ts)) // 7 AS INTEGER)
                       AS week_offset,
                   CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
            FROM events e JOIN firsts f USING (user_id)
            GROUP BY 1, 2
        """,
        "collocations": """
            WITH toks AS (
                SELECT list_filter(string_split(text, ' '), t -> t <> '') AS w
                FROM documents
            ), uni AS (
                SELECT unnest(w) AS t FROM toks
            ), uc AS (
                SELECT t, count(*) AS c FROM uni GROUP BY t
            ), pairs AS (
                SELECT p[1] AS w1, p[2] AS w2
                FROM (SELECT unnest([[w[CAST(i AS INTEGER)],
                                      w[CAST(i AS INTEGER) + 1]]
                                     for i in generate_series(1, len(w) - 1)]) AS p
                      FROM toks WHERE len(w) >= 2)
            ), pc AS (
                SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
                FROM pairs GROUP BY w1, w2
            ), n1 AS (SELECT count(*) AS v FROM uni),
               n2 AS (SELECT count(*) AS v FROM pairs)
            SELECT pc.w1, pc.w2, pc.n_pair,
                   CAST(round(ln((pc.n_pair / (SELECT v * 1.0 FROM n2))
                         / ((a.c / (SELECT v * 1.0 FROM n1))
                            * (b.c / (SELECT v * 1.0 FROM n1)))) * 10000)
                        AS BIGINT) AS pmi_e4
            FROM pc
            JOIN uc a ON a.t = pc.w1
            JOIN uc b ON b.t = pc.w2
            WHERE pc.n_pair >= 5
        """,
        "recursive_date_spine": """
            WITH RECURSIVE days(d) AS (
                SELECT DATE '1998-01-01'
                UNION ALL SELECT d + 1 FROM days WHERE d < DATE '1998-01-31'
            ), daily AS (
                SELECT CAST(o_orderdate AS DATE) AS od,
                       CAST(count(*) AS BIGINT) AS n
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                  AND o_orderdate < TIMESTAMP '1998-02-01'
                GROUP BY 1
            )
            SELECT days.d AS day, coalesce(daily.n, 0) AS n_orders
            FROM days LEFT JOIN daily ON days.d = daily.od
        """,
        "stream_dedup_wm": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "quantile_filter": """
            WITH thr AS (
                SELECT lang, quantile_cont(n_chars, 0.1) AS t
                FROM documents GROUP BY lang
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d JOIN thr USING (lang)
            WHERE d.n_chars >= thr.t
        """,
        "curate_corpus": """
            WITH base AS (
                SELECT doc_id, text, lang, source,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents WHERE doc_id % 17 <> 0
            ), m AS (
                SELECT doc_id,
                       len(toks) AS n_words,
                       round(list_sum(list_transform(toks, x -> len(x)))
                             / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS mwl,
                       len(list_filter(toks, x -> list_contains(
                           ['the','a','of','to','and'], lower(x)))) AS stop_hits,
                       round(len(list_filter(toks,
                                 x -> regexp_matches(x, '[A-Za-z]')))
                             / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS af
                FROM base
            ), qd AS (
                SELECT b.* FROM base b JOIN m USING (doc_id)
                WHERE m.n_words BETWEEN 10 AND 100000
                  AND m.mwl BETWEEN 2.0 AND 12.0
                  AND m.stop_hits >= 1 AND m.af >= 0.7
            ), k AS (
                SELECT min(doc_id) AS doc_id FROM qd GROUP BY md5(text)
            ), s AS (
                SELECT qd.* FROM qd JOIN k USING (doc_id)
            ), bench AS (
                SELECT DISTINCT
                       unnest([array_to_string(w[i:i+4], ' ')
                               for i in generate_series(1, len(w) - 4)]) AS gram
                FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS w
                      FROM documents WHERE doc_id % 17 = 0)
            ), sg AS (
                SELECT doc_id,
                       list_distinct([array_to_string(toks[i:i+4], ' ')
                               for i in generate_series(1, len(toks) - 4)]) AS grams
                FROM s
            ), hits AS (
                SELECT doc_id, count(*) AS n_hits
                FROM (SELECT doc_id, unnest(grams) AS gram FROM sg) g
                JOIN bench USING (gram) GROUP BY doc_id
            ), clean AS (
                SELECT sg.doc_id FROM sg LEFT JOIN hits USING (doc_id)
                WHERE COALESCE(hits.n_hits, 0) * 1.0
                      / greatest(len(sg.grams), 1) <= 0.3
            )
            SELECT s.doc_id, s.lang, s.source
            FROM s JOIN clean USING (doc_id)
            WHERE substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8) <
                  CASE s.lang WHEN 'en' THEN 'cccccccc' ELSE '40000000' END
        """,
        "approx_topk_terms": """
            SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                            t -> t <> '')) AS token
                  FROM documents)
            GROUP BY token
        """,
        "doc_chunks": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t <> '') AS w
                FROM documents
            ), starts AS (
                SELECT doc_id, w,
                       [s for s in generate_series(1, greatest(len(w), 1), 12)
                        if s = 1 or s - 12 + 15 < len(w)] AS ss
                FROM toks WHERE len(w) > 0
            )
            SELECT doc_id,
                   CAST((s - 1) // 12 AS INTEGER) AS chunk_idx,
                   array_to_string(w[s:s+15], ' ') AS chunk_text,
                   CAST(len(w[s:s+15]) AS INTEGER) AS chunk_n_tokens
            FROM (SELECT doc_id, w, unnest(ss) AS s FROM starts)
        """,
        "snapshot_read": """
            SELECT s_suppkey, s_name, s_acctbal
            FROM supplier WHERE s_suppkey <= 80
        """,
        "url_stats": """
            WITH urls AS (
                SELECT 'https://' || source || '.example.org/doc/'
                       || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
                FROM documents
            ), parts AS (
                SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
                       regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
                       regexp_extract(url, 'lang=(.*)$', 1) AS lang_param
                FROM urls
            )
            SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT lang_param) AS BIGINT) AS n_langs,
                   max(path) AS max_path
            FROM parts GROUP BY host
        """,
        "stratified_sample": """
            SELECT l_orderkey AS okey, l_linenumber AS lineno,
                   l_returnflag AS rflag
            FROM lineitem
            WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                             || CAST(l_linenumber AS VARCHAR)), 1, 8) <
                  CASE l_returnflag
                      WHEN 'A' THEN '33333333'
                      WHEN 'N' THEN '0ccccccc'
                      WHEN 'R' THEN '80000000'
                      ELSE '00000000'
                  END
        """,
        "scan_project_filter": """
            SELECT l_orderkey AS okey, l_linenumber AS lineno,
                   l_quantity AS qty, l_extendedprice AS price
            FROM lineitem
            WHERE l_shipdate >= '1999-06-01' AND l_quantity < 10
        """,
        "scan_case_rename": """
            SELECT s_suppkey AS "S_SuppKey", s_name AS "s_NAME", s_acctbal
            FROM supplier
        """,
        "null_sentinel_fill": """
            SELECT o_orderkey AS okey,
                   coalesce(nullif(o_orderstatus, 'O'), '') AS status,
                   coalesce(CASE WHEN o_totalprice > 200000 THEN NULL
                                 ELSE o_totalprice END, -1) AS price,
                   coalesce(CASE WHEN o_orderdate < '1996-01-01' THEN NULL
                                 ELSE o_orderdate END,
                            TIMESTAMP '1678-01-01') AS odate
            FROM orders
        """,
        "null_sentinel_restore": """
            SELECT o_orderkey AS okey,
                   nullif(coalesce(nullif(o_orderstatus, 'O'), ''), '') AS status,
                   nullif(coalesce(CASE WHEN o_totalprice > 200000 THEN NULL
                                        ELSE o_totalprice END, -1), -1) AS price,
                   nullif(coalesce(CASE WHEN o_orderdate < '1996-01-01' THEN NULL
                                        ELSE o_orderdate END,
                                   TIMESTAMP '1678-01-01'),
                          TIMESTAMP '1678-01-01') AS odate
            FROM orders
        """,
        "row_count": "SELECT count(*) AS n_rows FROM lineitem",
        "enrich_join_inner": """
            SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
            FROM orders
            JOIN customer ON o_custkey = c_custkey AND c_acctbal > 5000
        """,
        "enrich_join_left": """
            SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
            FROM orders
            LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
              ON o_custkey = c_custkey
        """,
        "copy_oids": """
            SELECT row_number() OVER (ORDER BY n_nationkey) AS oid,
                   n_nationkey, n_name
            FROM nation
        """,
        "ap_ratio": """
            SELECT p_partkey,
                   round(p_retailprice / (2 * sqrt(pi() * p_size)), 4) AS ap_ratio
            FROM part
        """,
        "timestamp_clamp": """
            SELECT event_id,
                   CASE WHEN ts BETWEEN TIMESTAMP '2024-01-08'
                                    AND TIMESTAMP '2024-01-25'
                        THEN ts ELSE NULL END AS ts
            FROM events
        """,
        "compat_casts": """
            SELECT CAST(c_custkey AS INTEGER) AS c_custkey,
                   CAST(c_acctbal > 0 AS INTEGER) AS positive_bal
            FROM customer
        """,
        "copy_feats": """
            SELECT p_partkey AS pk, p_name AS name, p_brand AS brand,
                   p_retailprice AS price
            FROM part WHERE p_size > 40
        """,
        "create_layer": """
            SELECT c_mktsegment AS segment,
                   count(*) AS n_cust,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM customer WHERE c_acctbal > 0
            GROUP BY c_mktsegment
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                       AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < '1998-01-01'
              AND l_shipdate > '1998-01-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "q5_local_supplier": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
              AND r_name = 'ASIA'
              AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "top3_customers_per_nation": """
            SELECT c_nationkey, rk, c_custkey, c_name, c_acctbal
            FROM (
                SELECT c_nationkey, c_custkey, c_name, c_acctbal,
                       CAST(row_number() OVER (
                           PARTITION BY c_nationkey
                           ORDER BY c_acctbal DESC, c_custkey ASC
                       ) AS INTEGER) AS rk
                FROM customer
            )
            WHERE rk <= 3
        """,
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "union_distinct_keys": """
            SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 100000
            UNION
            SELECT l_orderkey AS okey FROM lineitem WHERE l_quantity >= 45
        """,
        "semi_anti_join": """
            SELECT c_custkey, c_name
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
              AND c_custkey NOT IN (
                  SELECT o_custkey FROM orders WHERE o_totalprice > 250000
              )
        """,
        "json_props": """
            SELECT event_type,
                   count(*) AS n,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
                       AS avg_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events
            GROUP BY event_type
        """,
        "sessionize": """
            WITH flagged AS (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), numbered AS (
                SELECT user_id, ts, value,
                       CAST(sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM numbered
            GROUP BY user_id, session_id
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash,
                   count(*) AS n_dups,
                   min(doc_id) AS keep_id
            FROM documents
            GROUP BY md5(text)
        """,
        "text_stats": """
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                   round(length(replace(text, ' ', ''))
                         * 1.0 / len(string_split(text, ' ')), 4) AS avg_token_len
            FROM documents
        """,
        "token_count_regex": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_tokens
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(lower(replace(text, ' ', ''))) AS fingerprint
            FROM documents
        """,
        "rolling_avg": """
            SELECT o_orderkey, o_custkey,
                   round(avg(o_totalprice) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                   ), 4) AS ma7_price
            FROM orders
        """,
        "zscore_anomalies": """
            WITH stats AS (
                SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
                FROM events GROUP BY user_id
            )
            SELECT event_id, e.user_id,
                   round((value - mu) / sd, 4) AS zscore
            FROM events e JOIN stats s ON e.user_id = s.user_id
            WHERE abs(round((value - mu) / sd, 4)) > 3
        """,
        "regression_per_segment": """
            SELECT c_mktsegment,
                   round(regr_slope(o_totalprice,
                       epoch_us(CAST(o_orderdate AS TIMESTAMP)) / 86400e6), 6)
                       AS slope,
                   round(regr_intercept(o_totalprice,
                       epoch_us(CAST(o_orderdate AS TIMESTAMP)) / 86400e6), 4)
                       AS intercept,
                   round(corr(o_totalprice,
                       epoch_us(CAST(o_orderdate AS TIMESTAMP)) / 86400e6), 6)
                       AS r,
                   count(*) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "dedup_survivors": """
            WITH RECURSIVE sh AS (
                SELECT DISTINCT doc_id,
                       unnest([substr(text, CAST(i AS INTEGER), 3)
                               for i in generate_series(1, greatest(length(text) - 2, 1))])
                           AS shingle
                FROM documents WHERE doc_id < 40
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ), pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.55
            ), edges AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), walk(node, label) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM edges)
                UNION
                SELECT e.s, w.label FROM edges e JOIN walk w ON w.node = e.d
            ), dropped AS (
                SELECT node FROM walk GROUP BY node HAVING node != min(label)
            )
            SELECT doc_id, lang FROM documents
            WHERE doc_id < 40 AND doc_id NOT IN (SELECT node FROM dropped)
        """,
        "dedup_clusters": """
            WITH RECURSIVE sh AS (
                SELECT DISTINCT doc_id,
                       unnest([substr(text, CAST(i AS INTEGER), 3)
                               for i in generate_series(1, greatest(length(text) - 2, 1))])
                           AS shingle
                FROM documents WHERE doc_id < 40
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ), pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.55
            ), edges AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), walk(node, label) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM edges)
                UNION
                SELECT e.s, w.label FROM edges e JOIN walk w ON w.node = e.d
            )
            SELECT node, min(label) AS component,
                   (node = min(label)) AS is_keeper
            FROM walk GROUP BY node
        """,
        "merge_upsert": """
            SELECT c_custkey,
                   CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED'
                        ELSE c_name END AS c_name,
                   round(CASE WHEN c_custkey % 10 = 0
                              THEN round(c_acctbal * 2, 2)
                              ELSE c_acctbal END, 2) AS bal
            FROM customer
        """,
        "sliding_window_counts": """
            WITH expanded AS (
                SELECT event_type, value,
                       unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
                               date_trunc('hour', CAST(ts AS TIMESTAMP))
                                   - INTERVAL 1 HOUR]) AS window_start
                FROM events
            )
            SELECT window_start, event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM expanded
            GROUP BY window_start, event_type
        """,
        "unpivot_measures": """
            SELECT l_orderkey, 'qty' AS measure, l_quantity AS val
            FROM lineitem WHERE l_linenumber = 1
            UNION ALL
            SELECT l_orderkey, 'price', l_extendedprice
            FROM lineitem WHERE l_linenumber = 1
        """,
        "distinct_counts": """
            SELECT l_returnflag,
                   count(DISTINCT l_orderkey) AS n_orders,
                   count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part
            FROM lineitem GROUP BY l_returnflag
        """,
        "correlated_above_avg": """
            SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
            FROM customer c
            WHERE c_acctbal > (
                SELECT avg(c_acctbal) FROM customer c2
                WHERE c2.c_nationkey = c.c_nationkey
            )
        """,
        "q10_returned_revenue": """
            SELECT c_custkey, c_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        "q7_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
            FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                         CAST(year(l_shipdate) AS INTEGER) AS l_year,
                         l_extendedprice * (1 - l_discount) AS volume
                  FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
                  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": """
            SELECT o_year,
                   round(round(sum(CASE WHEN nation = 'NATION_3'
                                        THEN volume ELSE 0 END), 2)
                         / round(sum(volume), 2), 6) AS mkt_share
            FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                         l_extendedprice * (1 - l_discount) AS volume,
                         n2.n_name AS nation
                  FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation n1 ON c_nationkey = n1.n_nationkey
                  JOIN region ON n1.n_regionkey = r_regionkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation n2 ON s_nationkey = n2.n_nationkey
                  WHERE r_name = 'EUROPE'
                    AND o_orderdate BETWEEN '1995-01-01' AND '1996-12-31')
            GROUP BY o_year
        """,
        "q9_product_profit": """
            SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
            FROM (SELECT n_name AS nation,
                         CAST(year(o_orderdate) AS INTEGER) AS o_year,
                         l_extendedprice * (1 - l_discount)
                           - 0.1 * p_retailprice * l_quantity AS amount
                  FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN part ON l_partkey = p_partkey
                  JOIN nation ON s_nationkey = n_nationkey
                  WHERE p_name LIKE '%red%')
            GROUP BY nation, o_year
        """,
        "q12_priority_class": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
              AND l_shipdate > o_orderdate
            GROUP BY l_returnflag
        """,
        "q14_promo_revenue": """
            SELECT round(sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END), 2) AS promo_revenue,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
                   round(100.0 * round(sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END), 2)
                         / round(sum(l_extendedprice * (1 - l_discount)), 2), 6)
                       AS promo_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'
        """,
        "q15_top_supplier": """
            WITH revenue AS (
                SELECT l_suppkey AS supplier_no,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier JOIN revenue ON s_suppkey = supplier_no
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
        "q16_supplier_counts": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
            GROUP BY p_brand, p_type, p_size
        """,
        "q19_disjunctive_filter": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 21)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 40)
        """,
        "q22_dormant_customers": """
            WITH avg_bal AS (
                SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
            SELECT c_nationkey,
                   count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer, avg_bal
            WHERE c_acctbal > ab
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= '2000-01-01')
            GROUP BY c_nationkey
        """,
        "q18_large_orders": """
            SELECT o_orderkey, o_orderdate,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(max(o_totalprice), 2) AS total_price
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderdate
            HAVING sum(l_quantity) > 250
        """,
        "cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_items
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "intersect_except_keys": """
            SELECT ck, 'both' AS tag FROM (
                SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 150000
                INTERSECT
                SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            UNION ALL
            SELECT ck, 'high_only' AS tag FROM (
                SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 150000
                EXCEPT
                SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        """,
        "lateral_top2": """
            SELECT n_name, c_custkey, round(c_acctbal, 2) AS bal
            FROM nation, LATERAL (
                SELECT c_custkey, c_acctbal FROM customer
                WHERE c_nationkey = n_nationkey
                ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
        """,
        "first_last_orders": """
            SELECT DISTINCT o_custkey,
                   first_value(o_orderkey) OVER w AS first_order,
                   last_value(o_orderkey) OVER w AS last_order,
                   nth_value(o_orderkey, 2) OVER w AS second_order
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING)
        """,
        "grouping_sets_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice), 2) AS total_price,
                   count(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        "event_gaps": """
            WITH gaps AS (
                SELECT user_id,
                       epoch_us(ts) - epoch_us(lag(ts) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       )) AS gap_us
                FROM events
            )
            SELECT user_id,
                   count(*) AS n_gaps,
                   round(avg(gap_us) / 1e6, 4) AS avg_gap_sec,
                   round(max(gap_us) / 1e6, 4) AS max_gap_sec
            FROM gaps WHERE gap_us IS NOT NULL
            GROUP BY user_id
        """,
        "dedup_exact_rows": """
            SELECT doc_id, n_chars, lang
            FROM (
                SELECT doc_id, n_chars, lang,
                       row_number() OVER (
                           PARTITION BY md5(text) ORDER BY doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn = 1
        """,
        "asof_join": """
            SELECT a.event_id, a.user_id, b.value AS last_purchase_value
            FROM events a
            ASOF LEFT JOIN (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ) b ON a.user_id = b.user_id AND b.ts <= a.ts
        """,
        "resample_ffill": """
            WITH pb AS (
              SELECT user_id,
                     CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
                     max_by(value, ts) AS v
              FROM events WHERE user_id < 30 GROUP BY 1, 2
            ),
            span AS (
              SELECT user_id, min(b) AS b0, max(b) AS b1 FROM pb GROUP BY 1
            ),
            grid AS (
              SELECT user_id, unnest(generate_series(b0, b1)) AS b FROM span
            ),
            j AS (
              SELECT g.user_id, g.b, pb.v
              FROM grid g LEFT JOIN pb ON g.user_id = pb.user_id AND g.b = pb.b
            )
            SELECT user_id, b AS bucket_id,
                   round(last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS value,
                   v IS NULL AS filled
            FROM j
        """,
        "asof_join_forward": """
            SELECT a.event_id, a.user_id, b.value AS next_purchase_value
            FROM events a
            ASOF LEFT JOIN (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ) b ON a.user_id = b.user_id AND b.ts >= a.ts
        """,
        "percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
                   round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "pivot_status": """
            SELECT l_returnflag,
                   round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS "F",
                   round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS "O"
            FROM lineitem GROUP BY l_returnflag
        """,
        "lang_id": """
            WITH toks AS (
                SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
            ), scored AS (
                SELECT doc_id,
                  CAST(len(list_filter(t, x -> x = 'der'))
                     + len(list_filter(t, x -> x = 'die'))
                     + len(list_filter(t, x -> x = 'und'))
                     + len(list_filter(t, x -> x = 'ist'))
                     + len(list_filter(t, x -> x = 'das')) AS INTEGER) AS score_de,
                  CAST(len(list_filter(t, x -> x = 'the'))
                     + len(list_filter(t, x -> x = 'and'))
                     + len(list_filter(t, x -> x = 'of'))
                     + len(list_filter(t, x -> x = 'to'))
                     + len(list_filter(t, x -> x = 'is')) AS INTEGER) AS score_en,
                  CAST(len(list_filter(t, x -> x = 'el'))
                     + len(list_filter(t, x -> x = 'la'))
                     + len(list_filter(t, x -> x = 'que'))
                     + len(list_filter(t, x -> x = 'de'))
                     + len(list_filter(t, x -> x = 'es')) AS INTEGER) AS score_es,
                  CAST(len(list_filter(t, x -> x = 'le'))
                     + len(list_filter(t, x -> x = 'la'))
                     + len(list_filter(t, x -> x = 'et'))
                     + len(list_filter(t, x -> x = 'est'))
                     + len(list_filter(t, x -> x = 'les')) AS INTEGER) AS score_fr
                FROM toks
            )
            SELECT doc_id, score_de, score_en, score_es, score_fr,
                   CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0
                        THEN 'und'
                        WHEN score_de = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'de'
                        WHEN score_en = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'en'
                        WHEN score_es = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'es'
                        ELSE 'fr' END AS predicted_lang
            FROM scored
        """,
        "quality_score": """
            WITH base AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                       length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
                       len(string_split(text, ' ')) AS n_tokens,
                       CAST(len(list_filter(string_split(lower(text), ' '), x -> x = 'the'))
                          + len(list_filter(string_split(lower(text), ' '), x -> x = 'and'))
                          + len(list_filter(string_split(lower(text), ' '), x -> x = 'of'))
                          + len(list_filter(string_split(lower(text), ' '), x -> x = 'to'))
                          + len(list_filter(string_split(lower(text), ' '), x -> x = 'is'))
                         AS INTEGER) AS stop_hits
                FROM documents
            ), ratios AS (
                SELECT doc_id,
                       n_alpha * 1.0 / greatest(n_chars, 1) AS alpha_ratio,
                       n_punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
                       stop_hits * 1.0 / greatest(n_tokens, 1) AS stop_ratio,
                       least(n_chars / 500.0, 1.0) AS length_score
                FROM base
            )
            SELECT doc_id,
                   round(alpha_ratio, 4) AS alpha_ratio,
                   round(punct_ratio, 4) AS punct_ratio,
                   round(stop_ratio, 4) AS stop_ratio,
                   round(0.4 * alpha_ratio + 0.3 * least(stop_ratio * 5, 1.0)
                         + 0.2 * length_score
                         + 0.1 * (1 - least(punct_ratio * 10, 1.0)), 4)
                       AS quality_score
            FROM ratios
        """,
        "ngram_jaccard": """
            WITH sh AS (
                SELECT DISTINCT doc_id,
                       unnest([substr(text, CAST(i AS INTEGER), 3)
                               for i in generate_series(1, greatest(length(text) - 2, 1))])
                           AS shingle
                FROM documents
                WHERE doc_id < 40
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
        """,
        "embedding_near_dup": """
            SELECT q.vec_id AS id_a, e.vec_id AS id_b,
                   round(list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]),
                       CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings q
            JOIN embeddings e ON e.vec_id > q.vec_id
            WHERE q.vec_id < 300
              AND list_cosine_similarity(
                      CAST(q.embedding AS DOUBLE[]),
                      CAST(e.embedding AS DOUBLE[])) > 0.45
        """,
        "embedding_label_stats": """
            SELECT label, count(*) AS n_vecs,
                   round(avg(sqrt(list_inner_product(
                       CAST(embedding AS DOUBLE[]),
                       CAST(embedding AS DOUBLE[])))), 4) AS avg_norm,
                   round(max(sqrt(list_inner_product(
                       CAST(embedding AS DOUBLE[]),
                       CAST(embedding AS DOUBLE[])))), 4) AS max_norm
            FROM embeddings GROUP BY label
        """,
        "q13_cust_distribution": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (
              SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
              FROM customer LEFT JOIN (
                SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT'
              ) o ON c_custkey = o.o_custkey
              GROUP BY c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q17_small_qty_revenue": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l
            JOIN (
              SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_thresh
              FROM lineitem
              JOIN part ON p_partkey = l_partkey
              WHERE p_brand = 'Brand#1' AND p_size < 15
              GROUP BY l_partkey
            ) t ON l.l_partkey = t.pk
            WHERE l.l_quantity < t.qty_thresh
        """,
        "q21_waiting_supplier": """
            WITH lo AS (
              SELECT l_orderkey, l_suppkey,
                     date_diff('day', o_orderdate, l_shipdate) > 60 AS late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
            ),
            mine AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late)
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM mine m JOIN supplier ON s_suppkey = m.l_suppkey
            WHERE EXISTS (
              SELECT 1 FROM lo o
              WHERE o.l_orderkey = m.l_orderkey AND o.l_suppkey <> m.l_suppkey
            )
            AND NOT EXISTS (
              SELECT 1 FROM lo o
              WHERE o.l_orderkey = m.l_orderkey AND o.l_suppkey <> m.l_suppkey
                    AND o.late
            )
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
        """,
        "multimodal_frames": """
            WITH f AS (
              SELECT doc_id AS item_id, text,
                     greatest(len(text) // 4, 1) AS step
              FROM documents
            )
            SELECT item_id, CAST(i AS INTEGER) AS frame_idx,
                   md5(substr(text, i * step + 1, step)) AS frame_md5
            FROM f CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s
        """,
        "multimodal_resize": """
            SELECT doc_id AS item_id,
                   md5(substr(repeat(text, CAST(64 // greatest(len(text), 1)
                                               AS INTEGER) + 1), 1, 64))
                       AS payload_md5,
                   CAST(8 AS INTEGER) AS width,
                   CAST(8 AS INTEGER) AS height
            FROM documents
        """,
        "federated_join": """
            SELECT r_name,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   round(sum(c_acctbal), 2) AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "dq_report": """
            SELECT 'completeness' AS rule, 'o_custkey' AS col,
                   round(CAST(count(o_custkey) AS DOUBLE) / count(*), 6) AS metric,
                   1.0 AS threshold,
                   CAST(count(o_custkey) AS DOUBLE) / count(*) >= 1.0 AS passed
            FROM orders
            UNION ALL
            SELECT 'completeness', 'o_orderstatus',
                   round(CAST(count(o_orderstatus) AS DOUBLE) / count(*), 6),
                   1.0,
                   CAST(count(o_orderstatus) AS DOUBLE) / count(*) >= 1.0
            FROM orders
            UNION ALL
            SELECT 'min_value', 'o_totalprice',
                   round(CAST(min(o_totalprice) AS DOUBLE), 6), 0.0,
                   min(o_totalprice) >= 0.0
            FROM orders
            UNION ALL
            SELECT 'max_value', 'o_totalprice',
                   round(CAST(max(o_totalprice) AS DOUBLE), 6), 1000000.0,
                   max(o_totalprice) <= 1000000.0
            FROM orders
            UNION ALL
            SELECT 'matches', 'o_orderpriority',
                   round(CAST(count(CASE WHEN regexp_matches(o_orderpriority,
                                                             '^[1-5]-')
                                         THEN 1 END) AS DOUBLE)
                         / count(o_orderpriority), 6),
                   1.0,
                   count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                              THEN 1 END) = count(o_orderpriority)
            FROM orders
            UNION ALL
            SELECT 'fk_containment', 'o_custkey',
                   CAST((SELECT count(*) FROM orders o
                         WHERE NOT EXISTS (SELECT 1 FROM customer c
                                           WHERE c.c_custkey = o.o_custkey))
                        AS DOUBLE),
                   0.0,
                   NOT EXISTS (SELECT 1 FROM orders o
                               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                                 WHERE c.c_custkey = o.o_custkey))
        """,
        "grouped_zscore": """
            SELECT o_orderkey, o_orderpriority,
                   round(CASE WHEN sd IS NULL OR sd = 0 THEN 0.0
                              ELSE (o_totalprice - mu) / sd END, 6) AS z
            FROM (
              SELECT o_orderkey, o_orderpriority, o_totalprice,
                     avg(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mu,
                     stddev_samp(o_totalprice)
                         OVER (PARTITION BY o_orderpriority) AS sd
              FROM orders
            )
        """,
        "range_window_revenue": """
            SELECT o_orderkey, o_custkey,
                   CAST(date_diff('day', DATE '1970-01-01',
                                  CAST(o_orderdate AS DATE)) AS INTEGER)
                       AS order_day,
                   round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey
                       ORDER BY date_diff('day', DATE '1970-01-01',
                                          CAST(o_orderdate AS DATE))
                       RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rev_7d
            FROM orders WHERE o_custkey < 200
        """,
        "repetition_stats": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents
            ),
            b AS (
              SELECT doc_id, toks,
                     [toks[i] || ' ' || toks[i+1]
                      for i in generate_series(1, len(toks)-1)] AS bigs
              FROM t
            ),
            w AS (
              SELECT doc_id, 'w' AS kind, unnest(toks) AS term FROM b
              UNION ALL
              SELECT doc_id, 'b', unnest(bigs) FROM b
            ),
            c AS (
              SELECT doc_id, kind, term, count(*) AS n FROM w GROUP BY 1, 2, 3
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN kind='w' THEN n END) AS BIGINT) AS n_words,
                   round(count(CASE WHEN kind='w' THEN 1 END)
                         / CAST(sum(CASE WHEN kind='w' THEN n END) AS DOUBLE), 6)
                       AS distinct_word_ratio,
                   round(max(CASE WHEN kind='w' THEN n END)
                         / CAST(sum(CASE WHEN kind='w' THEN n END) AS DOUBLE), 6)
                       AS top_word_frac,
                   round(coalesce(max(CASE WHEN kind='b' THEN n END)
                         / CAST(sum(CASE WHEN kind='b' THEN n END) AS DOUBLE),
                         0.0), 6) AS top_bigram_frac
            FROM c GROUP BY doc_id
        """,
        "gopher_flags": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                     CAST(len(toks) AS INTEGER) AS n_words,
                     round(list_sum(list_transform(toks, x -> len(x)))
                           / CAST(greatest(len(toks), 1) AS DOUBLE), 6)
                         AS mean_word_len,
                     CAST(len(list_filter(toks, x -> list_contains(
                         ['the','a','of','to','and'], lower(x)))) AS INTEGER)
                         AS stop_hits,
                     round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                           / CAST(greatest(len(toks), 1) AS DOUBLE), 6)
                         AS alpha_word_frac
              FROM t
            )
            SELECT doc_id, n_words, mean_word_len, stop_hits, alpha_word_frac,
                   n_words BETWEEN 10 AND 100000 AS ok_word_count,
                   mean_word_len BETWEEN 2.0 AND 12.0 AS ok_mean_word_len,
                   stop_hits >= 1 AS ok_stop_words,
                   alpha_word_frac >= 0.7 AS ok_alpha,
                   (n_words BETWEEN 10 AND 100000)
                       AND (mean_word_len BETWEEN 2.0 AND 12.0)
                       AND stop_hits >= 1 AND alpha_word_frac >= 0.7 AS keep
            FROM m
        """,
        "pii_redact": """
            WITH inj AS (
              SELECT doc_id,
                     concat_ws(' ', text,
                       'user' || doc_id || '@example.com',
                       CASE WHEN doc_id % 3 = 0
                            THEN '555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            ELSE 'x' END,
                       CASE WHEN doc_id % 5 = 0
                            THEN '10.0.' || (doc_id % 256) || '.7'
                            ELSE 'y' END) AS text
              FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                       '\\+?[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IP]', 'g')
                       AS text,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER)
                       AS n_email,
                   CAST(len(regexp_extract_all(text,
                       '\\+?[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phone,
                   CAST(len(regexp_extract_all(text,
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
                       AS INTEGER) AS n_ip
            FROM inj
        """,
        "stream_enrich": """
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY c_mktsegment
        """,
        "shp_scan": """
            SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,
                   round(CAST((10 + n_nationkey % 5) * (3 + n_nationkey % 4)
                              AS DOUBLE), 6) AS area,
                   round(CAST(2 * ((10 + n_nationkey % 5) + (3 + n_nationkey % 4))
                              AS DOUBLE), 6) AS length
            FROM nation
        """,
        "polyline_derived": """
            SELECT p_partkey,
                   round(CAST((10 + p_size) + (5 + p_partkey % 7) AS DOUBLE), 6)
                       AS length,
                   round(CAST(0.0 AS DOUBLE), 6) AS area,
                   round(CASE WHEN ((10 + p_size) + (5 + p_partkey % 7)) / 2.0
                                   <= (10 + p_size)
                              THEN (p_partkey % 97)
                                   + ((10 + p_size) + (5 + p_partkey % 7)) / 2.0
                              ELSE CAST((p_partkey % 97) + (10 + p_size) AS DOUBLE)
                         END, 6) AS mx,
                   round(CASE WHEN ((10 + p_size) + (5 + p_partkey % 7)) / 2.0
                                   <= (10 + p_size)
                              THEN CAST(p_partkey % 89 AS DOUBLE)
                              ELSE (p_partkey % 89)
                                   + ((10 + p_size) + (5 + p_partkey % 7)) / 2.0
                                   - (10 + p_size)
                         END, 6) AS my
            FROM part WHERE p_partkey < 500
        """,
        "geom_encodings": """
            SELECT p_partkey,
                   round(CAST((10.0 + p_size) * (5 + p_partkey % 7) AS DOUBLE), 6)
                       AS area_wkt,
                   round(CAST((10.0 + p_size) * (5 + p_partkey % 7) AS DOUBLE), 6)
                       AS area_geojson,
                   round(CAST((10.0 + p_size) * (5 + p_partkey % 7) AS DOUBLE), 6)
                       AS area_esrijson,
                   round(CAST((10.0 + p_size) * (5 + p_partkey % 7) AS DOUBLE), 6)
                       AS area_esrishape
            FROM part WHERE p_partkey < 500
        """,
        "geom_derived": """
            SELECT p_partkey,
                   round((p_partkey % 97) + (10 + p_size) / 2.0, 6) AS cx,
                   round((p_partkey % 89) + (5 + p_partkey % 7) / 2.0, 6) AS cy,
                   round((10.0 + p_size) * (5 + p_partkey % 7), 6) AS area,
                   round(2.0 * ((10 + p_size) + (5 + p_partkey % 7)), 6) AS length,
                   round(2.0 * ((10 + p_size) + (5 + p_partkey % 7))
                         / (2 * sqrt(pi() * (10.0 + p_size)
                                     * (5 + p_partkey % 7))), 6) AS ap_ratio
            FROM part WHERE p_partkey < 500
        """,
        "geom_split": """
            SELECT p_partkey AS ORIG_FID,
                   CAST(greatest(floor(((10.0 + p_size) * (5 + p_partkey % 7))
                                       / 137.0), 1) AS INTEGER) AS n_parts,
                   round((10.0 + p_size) * (5 + p_partkey % 7), 2) AS total_area
            FROM part WHERE p_partkey < 500
        """,
        "multimodal_decode": """
            SELECT doc_id AS item_id,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 16
                             ELSE 8 + (doc_id % 5) * 4 END AS INTEGER)
                       AS width,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 8 * (1 + doc_id % 2)
                             ELSE 4 + (doc_id % 3) * 4 END AS INTEGER)
                       AS height,
                   CASE doc_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                        WHEN 2 THEN 'bmp' ELSE 'gif' END AS format
            FROM documents WHERE doc_id < 160
        """,
        "multimodal_features": """
            WITH base AS (
                SELECT doc_id,
                       (doc_id * 37 + 11) % 256 AS r,
                       (doc_id * 59 + 5) % 256 AS g,
                       (doc_id * 23 + 101) % 256 AS b,
                       CASE doc_id % 2 WHEN 0 THEN 8 ELSE 16 END AS w,
                       CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8
                            ELSE 16 END AS h
                FROM documents WHERE doc_id < 400
            ), feats AS (
                SELECT doc_id,
                       [CAST(r AS DOUBLE) / 255.0,
                        CAST(g AS DOUBLE) / 255.0,
                        CAST(b AS DOUBLE) / 255.0,
                        0.0, 0.0, 0.0,
                        least(CAST(w AS DOUBLE) / h, 4.0) / 4.0,
                        0.299 * (r / 255.0) + 0.587 * (g / 255.0)
                            + 0.114 * (b / 255.0)] AS v
                FROM base
            )
            SELECT doc_id AS item_id, CAST(j - 1 AS INTEGER) AS dim,
                   round(CAST(CAST(v[CAST(j AS INTEGER)] AS REAL)
                              AS DOUBLE), 4) AS feat
            FROM feats, unnest(generate_series(1, 8)) AS t(j)
        """,
        "multimodal_decode_stub": """
            SELECT doc_id AS item_id,
                   CAST(length(text) AS INTEGER) AS n_bytes,
                   CAST(length(text) % 640 AS INTEGER) AS width,
                   CAST((length(text) * 7) % 480 AS INTEGER) AS height,
                   CASE WHEN length(text) % 2 = 0 THEN 'png' ELSE 'jpeg' END
                       AS format
            FROM documents
        """,
        "multimodal_features_stub": """
            SELECT doc_id AS item_id, CAST(j AS INTEGER) AS dim,
                   round(CAST((length(text) * (2 * j + 3) + 7 * j) % 1000
                              AS DOUBLE) / 1000.0, 4) AS feat
            FROM documents, generate_series(0, 7) AS t(j)
        """,
        "stream_window_counts": """
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events
            GROUP BY 1, 2
        """,
        "stream_first_seen": """
            SELECT user_id,
                   min(CAST(ts AS TIMESTAMP)) AS first_ts,
                   CAST(count(*) AS INTEGER) AS n_in_batch
            FROM events GROUP BY user_id
        """,
        "stream_sessionize": """
            WITH flagged AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), numbered AS (
                SELECT user_id, ts, value,
                       sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS session_id
                FROM flagged
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM numbered
            GROUP BY user_id, session_id
        """,
        "wordcount_topk": """
            SELECT word, count(*) AS n
            FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+'))
                      AS word
                  FROM documents)
            WHERE word <> ''
            GROUP BY word
            ORDER BY n DESC, word ASC
            LIMIT 20
        """,
        "tfidf_top_terms": """
            WITH tokens AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
                FROM documents
            ), tok AS (
                SELECT doc_id, term FROM tokens WHERE term <> ''
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM tok GROUP BY doc_id, term
            ), dft AS (
                SELECT term, count(DISTINCT doc_id) AS df_t FROM tok GROUP BY term
            ), n AS (
                SELECT count(*) AS n_docs FROM documents
            ), scored AS (
                SELECT doc_id, term, tf * ln(n_docs * 1.0 / df_t) AS tfidf
                FROM tf JOIN dft USING (term) CROSS JOIN n
            ), ranked AS (
                SELECT doc_id, term, tfidf,
                       CAST(row_number() OVER (
                           PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
                       ) AS INTEGER) AS rk
                FROM scored
            )
            SELECT doc_id, rk, term, round(tfidf, 6) AS tfidf
            FROM ranked WHERE rk <= 3
        """,
        "edit_distance_pairs": """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
            FROM documents a
            JOIN documents b
              ON a.doc_id < b.doc_id
             AND abs(length(a.text) - length(b.text)) <= 40
            WHERE a.doc_id < 30 AND b.doc_id < 30
              AND levenshtein(a.text, b.text) <= 200
        """,
        "content_sample": """
            SELECT doc_id, lang, n_chars
            FROM documents
            WHERE substr(md5(text), 1, 1) IN ('0', '1', '2')
        """,
        "ntile_deciles": """
            SELECT o_orderkey, o_orderpriority,
                   CAST(ntile(10) OVER w AS INTEGER) AS decile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice ASC, o_orderkey ASC)
        """,
        "dow_hour_histogram": """
            SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS INTEGER) AS iso_dow,
                   CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hh,
                   count(*) AS n_events,
                   round(avg(value), 4) AS avg_value
            FROM events
            GROUP BY 1, 2
        """,
        "stream_dedup": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "dbf_scan": """
            SELECT n_nationkey, n_name, n_regionkey FROM nation
        """,
        "stream_stream_join": """
            SELECT c.event_id AS left_id,
                   c.user_id,
                   p.event_id AS right_id,
                   p.value AS right_value,
                   epoch_us(CAST(c.ts AS TIMESTAMP))
                     - epoch_us(CAST(p.ts AS TIMESTAMP)) AS lag_us
            FROM events c
            JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
        """,
        "range_bucket_join": """
            WITH buckets(bucket, lo, hi) AS (
                VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 25.0),
                       ('mid', 25.0, 60.0), ('large', 60.0, 1e9)
            )
            SELECT bucket, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events JOIN buckets ON value >= lo AND value < hi
            GROUP BY bucket
        """,
        "knn_cosine": """
            WITH pairs AS (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(
                           CAST(q.embedding AS DOUBLE[]),
                           CAST(e.embedding AS DOUBLE[])) AS cos_sim
                FROM embeddings q
                JOIN embeddings e ON e.vec_id <> q.vec_id
                WHERE q.vec_id < 5
            ), ranked AS (
                SELECT query_id, neighbor_id, cos_sim,
                       CAST(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id ASC
                       ) AS INTEGER) AS rk
                FROM pairs
            )
            SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rk
            FROM ranked WHERE rk <= 5
        """,
        "mann_whitney": """
            WITH vals AS (
                SELECT value AS v,
                       CAST(count(*) FILTER (WHERE event_type = 'purchase')
                            AS BIGINT) AS na_v,
                       CAST(count(*) FILTER (WHERE event_type = 'view')
                            AS BIGINT) AS nb_v
                FROM events WHERE event_type IN ('purchase', 'view')
                GROUP BY value
            ), cum AS (
                SELECT *, na_v + nb_v AS n_v,
                       COALESCE(SUM(na_v + nb_v) OVER (
                           ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cb
                FROM vals
            ), agg AS (
                SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
                       CAST(SUM(nb_v) AS BIGINT) AS n_b,
                       CAST(SUM(na_v * (2 * cb + n_v + 1)) AS BIGINT) AS r2_a,
                       CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS tie_term
                FROM cum
            )
            SELECT n_a, n_b,
                   CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
                   CAST(round(
                       (CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
                        - CAST(n_a * n_b AS DOUBLE))
                       / (2.0 * sqrt(CAST(n_a * n_b AS DOUBLE) / 12.0
                           * (CAST(n_a + n_b + 1 AS DOUBLE)
                              - CAST(tie_term AS DOUBLE)
                                / CAST((n_a + n_b) * (n_a + n_b - 1)
                                       AS DOUBLE))))
                       * 1000000) AS BIGINT) AS z_e6
            FROM agg
        """,
        "ks_test": """
            WITH vals AS (
                SELECT value AS v,
                       CAST(count(*) FILTER (WHERE event_type = 'purchase')
                            AS BIGINT) AS na_v,
                       CAST(count(*) FILTER (WHERE event_type = 'view')
                            AS BIGINT) AS nb_v
                FROM events WHERE event_type IN ('purchase', 'view')
                GROUP BY value
            ), cum AS (
                SELECT SUM(na_v) OVER (ORDER BY v) AS ca,
                       SUM(nb_v) OVER (ORDER BY v) AS cb
                FROM vals
            ), tot AS (
                SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
                       CAST(SUM(nb_v) AS BIGINT) AS n_b
                FROM vals
            )
            SELECT n_a, n_b,
                   CAST(MAX(ABS(ca * n_b - cb * n_a)) AS BIGINT) AS d_num,
                   CAST(MAX(ABS(ca * n_b - cb * n_a)) AS DOUBLE)
                       / CAST(n_a * n_b AS DOUBLE) AS d
            FROM cum, tot GROUP BY n_a, n_b
        """,
        "ols_regression": """
            WITH t AS (
                SELECT CAST(round(l_quantity * 100) AS HUGEINT) AS x,
                       CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
                FROM lineitem
            ), a AS (
                SELECT CAST(count(*) AS HUGEINT) AS n,
                       SUM(x) AS sx, SUM(y) AS sy,
                       SUM(x * x) AS sxx, SUM(y * y) AS syy,
                       SUM(x * y) AS sxy
                FROM t
            ), d AS (
                SELECT n,
                       CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
                       CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS var_x,
                       CAST(n * syy - sy * sy AS DOUBLE) AS var_y,
                       CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
                FROM a
            )
            SELECT CAST(n AS BIGINT) AS n,
                   round(cov_n / var_x, 6) + 0.0 AS slope,
                   round((syd - (cov_n / var_x) * sxd)
                         / CAST(n AS DOUBLE) / 100.0, 6) + 0.0 AS intercept,
                   round(cov_n * cov_n / (var_x * var_y), 6) + 0.0 AS r2
            FROM d
        """,
        "autocorr": """
            WITH s AS (
                SELECT user_id,
                       CAST(round(value * 100) AS BIGINT) AS y,
                       LAG(CAST(round(value * 100) AS BIGINT)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS x
                FROM events
            ), p AS (
                SELECT user_id, x, y FROM s WHERE x IS NOT NULL
            ), a AS (
                SELECT user_id,
                       CAST(count(*) AS BIGINT) AS n_pairs,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy
                FROM p GROUP BY user_id
            )
            SELECT user_id, n_pairs,
                   round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))),
                         6) + 0.0 AS r
            FROM a
            WHERE n_pairs >= 3
              AND n_pairs * sxx - sx * sx > 0
              AND n_pairs * syy - sy * sy > 0
        """,
        "source_concentration": """
            WITH cells AS (
                SELECT source, lang, CAST(count(*) AS BIGINT) AS c
                FROM documents GROUP BY 1, 2
            ), g AS (
                SELECT source,
                       CAST(SUM(c) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS k_cats,
                       CAST(SUM(c * c) AS BIGINT) AS ss,
                       CAST(MAX(c) AS BIGINT) AS cmax,
                       SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                           AS clnc
                FROM cells GROUP BY source
            )
            SELECT source, n, k_cats,
                   round(ln(CAST(n AS DOUBLE)) - clnc / CAST(n AS DOUBLE), 6)
                       + 0.0 AS entropy,
                   round(CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
                       + 0.0 AS hhi,
                   round(CAST(cmax AS DOUBLE) / CAST(n AS DOUBLE), 6)
                       + 0.0 AS top_share
            FROM g
        """,
        "vocab_coverage": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS t
                FROM documents
            ), vocab AS (
                SELECT t FROM (
                    SELECT t, count(*) AS c FROM toks GROUP BY t
                    ORDER BY c DESC, t ASC LIMIT 100
                )
            ), m AS (
                SELECT d.doc_id, (v.t IS NOT NULL) AS iv
                FROM toks d LEFT JOIN vocab v ON d.t = v.t
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(*) FILTER (WHERE NOT iv) AS BIGINT) AS n_oov,
                   CAST(count(*) FILTER (WHERE NOT iv) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS oov_rate
            FROM m GROUP BY doc_id
        """,
        "equi_depth_hist": """
            WITH cuts AS (
                SELECT quantile_cont(o_totalprice,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
                FROM orders
            ), b AS (
                SELECT o_totalprice AS v,
                       CAST(1 + len(list_filter((SELECT q FROM cuts),
                                                c -> c <= o_totalprice))
                            AS INTEGER) AS bucket
                FROM orders
            )
            SELECT bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   min(v) AS lo, max(v) AS hi,
                   CAST(count(*) AS DOUBLE)
                       / CAST((SELECT count(*) FROM orders) AS DOUBLE)
                       AS share
            FROM b GROUP BY bucket
        """,
        "pit_join": """
            WITH versions AS (
                SELECT s_suppkey, v.version, v.valid_from, v.valid_to, v.rate
                FROM supplier, LATERAL (
                    SELECT unnest([
                        {'version': 1, 'valid_from': DATE '1990-01-01',
                         'valid_to': DATE '1995-07-01',
                         'rate': round(s_acctbal, 2)},
                        {'version': 2, 'valid_from': DATE '1995-07-01',
                         'valid_to': DATE '2000-01-01',
                         'rate': round(s_acctbal + 500.0, 2)}],
                        recursive := true)
                ) v
            )
            SELECT l.l_suppkey AS s_suppkey, v.version,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(SUM(l.l_extendedprice), 2) AS revenue
            FROM lineitem l
            JOIN versions v
              ON v.s_suppkey = l.l_suppkey
             AND v.valid_from <= l.l_shipdate
             AND l.l_shipdate < v.valid_to
            GROUP BY 1, 2
        """,
        "hopping_windows": """
            SELECT CAST((epoch_us(ts) // 900000000 - k.k) * 900 AS BIGINT)
                       AS hop_start_s,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_ticks
            FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
            GROUP BY 1
        """,
        "stream_type_profile": """
            WITH c AS (
                SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2
            ), top AS (
                SELECT user_id, event_type AS top_type FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY user_id ORDER BY c DESC, event_type
                    ) AS rn FROM c
                ) WHERE rn = 1
            ), g AS (
                SELECT user_id,
                       CAST(SUM(c) AS BIGINT) AS n_events,
                       CAST(count(*) AS BIGINT) AS n_distinct_types
                FROM c GROUP BY user_id
            )
            SELECT g.user_id, g.n_events, g.n_distinct_types, top.top_type
            FROM g JOIN top USING (user_id)
        """,
        "ewma": """
            WITH s AS (
                SELECT user_id,
                       list(CAST(round(value * 100) AS DOUBLE)
                            ORDER BY ts, event_id) AS xs
                FROM events GROUP BY user_id
            )
            SELECT user_id,
                   CAST(len(xs) AS BIGINT) AS n_obs,
                   xs[-1] / 100 AS last_value,
                   CAST(round(
                       list_reduce(xs, (acc, x) -> 0.25 * x + 0.75 * acc)
                       / 100 * 10000) AS BIGINT) AS ewma_e4
            FROM s
        """,
        "bfs_hops": """
            WITH RECURSIVE e0 AS (
                SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                WHERE a.l_suppkey < b.l_suppkey
                  AND a.l_suppkey <= 40 AND b.l_suppkey <= 40
            ), e AS (
                SELECT src, dst FROM e0
                UNION SELECT dst AS src, src AS dst FROM e0
            ), d(node, dist) AS (
                SELECT * FROM (VALUES (1, 0), (2, 0), (3, 0)) v(node, dist)
                UNION
                SELECT e.dst, d.dist + 1
                FROM d JOIN e ON e.src = d.node
                WHERE d.dist < 6
            )
            SELECT CAST(node AS BIGINT) AS node,
                   CAST(min(dist) AS BIGINT) AS dist
            FROM d GROUP BY node
        """,
        "quantile_norm": """
            WITH vals AS (
                SELECT value AS v, CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY value
            ), cum AS (
                SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cu
                FROM vals
            ), tot AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals
            ), ranks AS (
                SELECT i, 1 + ((n - 1) * i) // 1000 AS r
                FROM generate_series(0, 1000) t(i), tot
            ), grid AS (
                SELECT i, v AS gv
                FROM ranks JOIN cum ON r > cu - c AND r <= cu
            ), r2 AS (
                SELECT event_id, event_type, value,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY value, event_id
                       ) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS ng
                FROM events
            )
            SELECT event_id, event_type, value, g.gv AS normalized
            FROM r2 JOIN grid g
              ON g.i = CASE WHEN ng = 1 THEN 500
                            ELSE (2 * 1000 * (rn - 1) + (ng - 1))
                                 // (2 * (ng - 1)) END
        """,
        "mom_change": """
            WITH monthly AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
                           AS month,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS HUGEINT))
                            AS BIGINT) AS rev_cents,
                       CAST(count(*) AS BIGINT) AS n_orders
                FROM orders GROUP BY 1
            )
            SELECT month, n_orders, rev_cents,
                   rev_cents - LAG(rev_cents) OVER (ORDER BY month)
                       AS delta_cents,
                   CASE WHEN LAG(rev_cents) OVER (ORDER BY month) IS NOT NULL
                             AND LAG(rev_cents) OVER (ORDER BY month) <> 0
                   THEN CAST(round(
                       CAST(rev_cents - LAG(rev_cents) OVER (ORDER BY month)
                            AS DOUBLE)
                       / CAST(LAG(rev_cents) OVER (ORDER BY month) AS DOUBLE)
                       * 10000) AS BIGINT)
                   END AS pct_change_e4
            FROM monthly
        """,
        "set_similarity": """
            WITH sets AS (
                SELECT doc_id AS id,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '[^a-z]+'),
                           t -> t <> '')) AS toks
                FROM documents WHERE doc_id < 300
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(len(a.toks) AS BIGINT) AS n_a,
                       CAST(len(b.toks) AS BIGINT) AS n_b,
                       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
                           AS n_common
                FROM sets a JOIN sets b ON a.id < b.id
            )
            SELECT id_a, id_b, n_a, n_b, n_common,
                   CAST(n_common AS DOUBLE)
                       / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
            FROM pairs
            WHERE CAST(n_common AS DOUBLE)
                      / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.8
        """,
        "source_similarity": """
            WITH tf AS (
                SELECT g, t, CAST(count(*) AS BIGINT) AS tf
                FROM (
                    SELECT source AS g,
                           unnest(list_filter(
                               regexp_split_to_array(lower(text), '[^a-z]+'),
                               x -> x <> '')) AS t
                    FROM documents
                ) GROUP BY g, t
            ), norms AS (
                SELECT g, CAST(SUM(tf * tf) AS BIGINT) AS ss FROM tf GROUP BY g
            ), dots AS (
                SELECT a.g AS group_a, b.g AS group_b,
                       CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
                FROM tf a JOIN tf b ON a.t = b.t AND a.g < b.g
                GROUP BY 1, 2
            )
            SELECT group_a, group_b, dot,
                   CAST(round(CAST(dot AS DOUBLE)
                        / (sqrt(CAST(na.ss AS DOUBLE))
                           * sqrt(CAST(nb.ss AS DOUBLE))) * 1000000)
                        AS BIGINT) AS cos_e6
            FROM dots
            JOIN norms na ON na.g = group_a
            JOIN norms nb ON nb.g = group_b
        """,
        "embedding_covariance": """
            WITH e AS (
                SELECT vec_id,
                       generate_subscripts(embedding, 1) - 1 AS i,
                       round(unnest(CAST(embedding AS DOUBLE[])) * 1000000)
                           AS x
                FROM embeddings
            ), cells AS (
                SELECT a.i AS i, b.i AS j,
                       SUM(a.x * b.x) AS s,
                       CAST(count(*) AS BIGINT) AS n
                FROM e a JOIN e b
                  ON a.vec_id = b.vec_id AND a.i <= b.i
                GROUP BY 1, 2
            ), sums AS (
                SELECT i, SUM(x) AS colsum FROM e GROUP BY i
            )
            SELECT CAST(c.i AS INTEGER) AS i, CAST(c.j AS INTEGER) AS j,
                   (c.s - sa.colsum * sb.colsum / c.n) / (c.n - 1)
                       AS cov_ticks2
            FROM cells c
            JOIN sums sa ON sa.i = c.i
            JOIN sums sb ON sb.i = c.j
        """,
        "xml_roundtrip": """
            SELECT n_regionkey,
                   CAST(count(*) AS BIGINT) AS n_nations,
                   min(n_name) AS first_name
            FROM nation GROUP BY n_regionkey
        """,
        "unpivot_metrics": """
            WITH wide AS (
                SELECT c_mktsegment,
                       CAST(count(*) AS DOUBLE) AS n_cust,
                       CAST(SUM(CAST(round(c_acctbal * 100) AS HUGEINT))
                            AS DOUBLE) AS total_cents,
                       max(c_acctbal) AS max_bal
                FROM customer GROUP BY c_mktsegment
            )
            UNPIVOT wide ON n_cust, total_cents, max_bal
            INTO NAME metric VALUE value
        """,
        "poisson_bootstrap": """
            WITH r AS (
                SELECT e.event_id AS id,
                       CAST(round(e.value * 100) AS BIGINT) AS ticks,
                       b.b AS replicate
                FROM events e,
                     (SELECT unnest(generate_series(0, 49)) AS b) b
            ), w AS (
                SELECT replicate, ticks,
                       CAST(len(list_filter(
                           [0.36787944117144233, 0.7357588823428847,
                            0.9196986029286058, 0.9810118431238462,
                            0.9963401531726563, 0.9994058151824183,
                            0.9999167588507119, 0.9999897508033253],
                           c -> c < ((id * 2654435761 + replicate * 40503)
                                     % 4294967296) / 4294967296.0))
                            AS BIGINT) AS k
                FROM r
            )
            SELECT CAST(replicate AS INTEGER) AS replicate,
                   CAST(SUM(k) AS BIGINT) AS n_eff,
                   CAST(SUM(k * ticks) AS BIGINT) AS sum_ticks,
                   CAST(round(CAST(SUM(k * ticks) AS DOUBLE)
                        / CAST(SUM(k) AS DOUBLE) / 100 * 10000) AS BIGINT)
                       AS mean_e4
            FROM w GROUP BY replicate
        """,
        "stream_custom_source": """
            SELECT seq % 50 AS user_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM((seq * 2654435761) % 10000) AS BIGINT) AS total
            FROM (SELECT unnest(generate_series(0, 999)) AS seq)
            GROUP BY 1
        """,
        "fuzzy_link": """
            WITH dirty AS (
                SELECT s_suppkey + 10000 AS d_id,
                       CASE WHEN s_suppkey % 2 = 0
                            THEN substring(s_name, 1, length(s_name) - 1)
                            ELSE s_name || 'x' END AS d_name
                FROM supplier
            )
            SELECT s.s_suppkey AS left_id, d.d_id AS right_id,
                   s.s_name AS left_key, d.d_name AS right_key,
                   CAST(levenshtein(s.s_name, d.d_name) AS INTEGER)
                       AS edit_distance
            FROM supplier s JOIN dirty d
              ON lower(substring(s.s_name, 1, 4))
                 = lower(substring(d.d_name, 1, 4))
             AND abs((length(s.s_name) // 2) - (length(d.d_name) // 2)) <= 1
            WHERE levenshtein(s.s_name, d.d_name) <= 2
        """,
        "interval_overlap": """
            WITH w AS (
                SELECT o_custkey, o_orderkey AS okey,
                       o_orderdate AS w_start,
                       o_orderdate + INTERVAL 20 DAY AS w_end
                FROM orders WHERE o_custkey < 200
            )
            SELECT a.o_custkey, a.okey AS okey_a, b.okey AS okey_b,
                   CAST(date_diff('day',
                        greatest(a.w_start, b.w_start),
                        least(a.w_end, b.w_end)) AS INTEGER) AS overlap_days
            FROM w a JOIN w b
              ON a.o_custkey = b.o_custkey
             AND a.w_start < b.w_end AND b.w_start < a.w_end
             AND a.okey < b.okey
        """,
        "target_encode": """
            WITH cats AS (
                SELECT source AS category,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(n_chars) AS BIGINT) AS s
                FROM documents GROUP BY source
            ), tot AS (
                SELECT CAST(SUM(n) AS BIGINT) AS N_all,
                       CAST(SUM(s) AS BIGINT) AS S_all
                FROM cats
            )
            SELECT category, n,
                   CAST(round(
                       (CAST(s AS DOUBLE)
                        + 20.0 * (CAST(S_all AS DOUBLE)
                                  / CAST(N_all AS DOUBLE)))
                       / CAST(n + 20 AS DOUBLE) / 1 * 10000) AS BIGINT)
                       AS enc_e4
            FROM cats, tot
        """,
        "target_encode_loo": """
            WITH rows_t AS (
                SELECT event_id, event_type AS category,
                       CAST(round(value * 100) AS BIGINT) AS y
                FROM events
            ), cats AS (
                SELECT category,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(y) AS BIGINT) AS s
                FROM rows_t GROUP BY category
            )
            SELECT r.event_id, r.category,
                   CASE WHEN c.n > 1 THEN
                       CAST(round(CAST(c.s - r.y AS DOUBLE)
                            / CAST(c.n - 1 AS DOUBLE) / 100 * 10000)
                            AS BIGINT)
                   END AS loo_e4
            FROM rows_t r JOIN cats c USING (category)
        """,
        "wav_decode": """
            WITH d AS (
                SELECT doc_id, 160 + (doc_id % 5) * 80 AS n
                FROM documents WHERE doc_id < 200
            ), s AS (
                SELECT d.doc_id, d.n,
                       ((d.doc_id * 31 + i.i * 37) % 65536) - 32768 AS x
                FROM d, LATERAL (
                    SELECT unnest(generate_series(0, d.n - 1)) AS i
                ) i
            )
            SELECT doc_id AS item_id,
                   CAST(16000 AS INTEGER) AS sample_rate,
                   CAST(n AS BIGINT) AS n_samples,
                   CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
                   CAST(round(sqrt(CAST(SUM(x * x) AS DOUBLE)
                                   / CAST(n AS DOUBLE)) * 10000) AS BIGINT)
                       AS rms_e4,
                   CAST(MAX(abs(x)) AS INTEGER) AS peak
            FROM s GROUP BY doc_id, n
        """,
        "bmp_decode": """
            WITH d AS (
                SELECT doc_id, 8 + doc_id % 4 AS h, 8 AS w
                FROM documents WHERE doc_id < 200
            ), px AS (
                SELECT d.doc_id, d.h, d.w, c.c,
                       (d.doc_id * 7 + y.y * 13 + x.x * 3 + c.c * 5) % 256
                           AS v
                FROM d,
                     LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
                     LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
                     LATERAL (SELECT unnest(generate_series(0, 2)) AS c) c
            )
            SELECT doc_id AS item_id,
                   CAST(w AS INTEGER) AS width,
                   CAST(h AS INTEGER) AS height,
                   CAST(round(SUM(CASE WHEN c = 0 THEN v END) * 100.0
                              / (h * w)) AS BIGINT) AS mean_r_e2,
                   CAST(round(SUM(CASE WHEN c = 1 THEN v END) * 100.0
                              / (h * w)) AS BIGINT) AS mean_g_e2,
                   CAST(round(SUM(CASE WHEN c = 2 THEN v END) * 100.0
                              / (h * w)) AS BIGINT) AS mean_b_e2
            FROM px GROUP BY doc_id, h, w
        """,
        "k_anonymity": """
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
                   count(*) >= 5 AS anonymous
            FROM documents GROUP BY lang, source
        """,
        "psi_drift": """
            WITH b AS (
                SELECT CASE WHEN value < 0 THEN 0
                            WHEN value >= 500 THEN 11
                            ELSE 1 + CAST(floor(value / 50) AS INTEGER)
                       END AS bucket,
                       CAST(count(*) FILTER (WHERE user_id < 75) AS BIGINT)
                           AS n_expected,
                       CAST(count(*) FILTER (WHERE user_id >= 75) AS BIGINT)
                           AS n_actual
                FROM events
                GROUP BY 1
            ), tot AS (
                SELECT CAST(SUM(n_expected) AS BIGINT) AS te,
                       CAST(SUM(n_actual) AS BIGINT) AS ta
                FROM b
            ), scored AS (
                SELECT bucket, n_expected, n_actual,
                       CAST(round(
                           ((CAST(n_expected AS DOUBLE) + 1.0)
                              / (CAST(te AS DOUBLE) + 1.0)
                            - (CAST(n_actual AS DOUBLE) + 1.0)
                              / (CAST(ta AS DOUBLE) + 1.0))
                           * ln(((CAST(n_expected AS DOUBLE) + 1.0)
                                 / (CAST(te AS DOUBLE) + 1.0))
                                / ((CAST(n_actual AS DOUBLE) + 1.0)
                                   / (CAST(ta AS DOUBLE) + 1.0)))
                           * 1000000) AS BIGINT) AS term_e6
                FROM b, tot
            )
            SELECT bucket, n_expected, n_actual, term_e6,
                   (SELECT CAST(SUM(term_e6) AS BIGINT) FROM scored) AS psi_e6
            FROM scored
        """,
        "incremental_agg": """
            WITH o AS (
                SELECT o_custkey AS k, o_orderkey,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS ticks
                FROM orders
            ), post AS (
                -- post-change world recomputed from scratch: base minus
                -- deletes, updates re-priced, inserts present
                SELECT k,
                       CASE WHEN o_orderkey % 7 != 0 AND o_orderkey % 5 != 0
                                 AND o_orderkey % 3 = 0
                            THEN ticks + 1000 ELSE ticks END AS ticks
                FROM o
                WHERE o_orderkey % 7 = 0
                   OR o_orderkey % 5 != 0
            )
            SELECT k, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(ticks) AS BIGINT) AS sum_ticks
            FROM post GROUP BY k
        """,
        "skew_report": """
            WITH counts AS (
                SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n_rows
                FROM lineitem GROUP BY l_suppkey
            ), tot AS (
                SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS n_keys
                FROM counts
            )
            SELECT key, n_rows,
                   CAST(round(CAST(n_rows AS DOUBLE)
                        / CAST(total AS DOUBLE) * 1000000) AS BIGINT)
                       AS share_e6,
                   CAST(round(CAST(n_rows AS DOUBLE)
                        / (CAST(total AS DOUBLE) / CAST(n_keys AS DOUBLE))
                        * 100) AS BIGINT) AS skew_factor_e2
            FROM counts, tot
            ORDER BY n_rows DESC, key ASC LIMIT 10
        """,
        "epoch_shuffle": """
            SELECT doc_id, source,
                   CAST((doc_id * 2654435761 + 3 * 40503) % 4294967296
                        AS BIGINT) AS shuffle_pos
            FROM documents
            ORDER BY shuffle_pos, doc_id LIMIT 20
        """,
        "referential_report": """
            SELECT 'orders.o_custkey -> c_custkey' AS constraint,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders
                    WHERE o_custkey IS NULL) AS n_null_fk,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders o
                    WHERE o.o_custkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey))
                       AS n_orphans,
                   (SELECT count(*) FROM orders o
                    WHERE o.o_custkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey)) = 0
                       AS ok
            UNION ALL
            SELECT 'lineitem.l_orderkey -> o_orderkey',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                    WHERE l_orderkey IS NULL),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    WHERE l.l_orderkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey)),
                   (SELECT count(*) FROM lineitem l
                    WHERE l.l_orderkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey)) = 0
            UNION ALL
            SELECT 'lineitem.l_partkey -> p_partkey',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                    WHERE l_partkey IS NULL),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    WHERE l.l_partkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM part p
                                      WHERE p.p_partkey = l.l_partkey)),
                   (SELECT count(*) FROM lineitem l
                    WHERE l.l_partkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM part p
                                      WHERE p.p_partkey = l.l_partkey)) = 0
            UNION ALL
            SELECT 'lineitem.l_suppkey -> s_suppkey',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                    WHERE l_suppkey IS NULL),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    WHERE l.l_suppkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM supplier s
                                      WHERE s.s_suppkey = l.l_suppkey)),
                   (SELECT count(*) FROM lineitem l
                    WHERE l.l_suppkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM supplier s
                                      WHERE s.s_suppkey = l.l_suppkey)) = 0
        """,
        "neyman_allocation": """
            WITH per AS (
                SELECT source AS stratum,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(SUM(n_chars) AS BIGINT) AS s,
                       CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
                FROM documents GROUP BY source
            ), sdd AS (
                SELECT stratum, n_rows,
                       CASE WHEN n_rows > 1 THEN
                           sqrt(CAST(n_rows * ss - s * s AS DOUBLE)
                                / CAST(n_rows * (n_rows - 1) AS DOUBLE)) / 1
                       ELSE 0.0 END AS sd
                FROM per
            ), w AS (
                SELECT stratum, n_rows, sd,
                       CAST(n_rows AS DOUBLE) * sd AS wt
                FROM sdd
            ), tot AS (SELECT SUM(wt) AS wsum FROM w)
            SELECT stratum, n_rows,
                   CAST(round(sd * 10000) AS BIGINT) AS stddev_e4,
                   CAST(round(wt / wsum * 1000000) AS BIGINT) AS share_e6,
                   CAST(round(wt / wsum * 1000.0) AS BIGINT) AS alloc
            FROM w, tot
        """,
        "png_decode": """
            WITH d AS (
                SELECT doc_id, 8 + doc_id % 4 AS h, 8 AS w
                FROM documents WHERE doc_id < 200
            ), px AS (
                SELECT d.doc_id, d.h, d.w, c.c,
                       (d.doc_id * 11 + y.y * 17 + x.x * 5 + c.c * 3) % 256
                           AS v
                FROM d,
                     LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
                     LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
                     LATERAL (SELECT unnest(generate_series(0, 2)) AS c) c
            )
            SELECT doc_id AS item_id,
                   CAST(w AS INTEGER) AS width,
                   CAST(h AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS n_channels,
                   CAST(round(SUM(CASE WHEN c = 0 THEN v END) * 100.0
                              / (h * w)) AS BIGINT) AS mean_r_e2,
                   CAST(round(SUM(CASE WHEN c = 1 THEN v END) * 100.0
                              / (h * w)) AS BIGINT) AS mean_g_e2,
                   CAST(round(SUM(CASE WHEN c = 2 THEN v END) * 100.0
                              / (h * w)) AS BIGINT) AS mean_b_e2
            FROM px GROUP BY doc_id, h, w
        """,
        "sssp": """
            WITH RECURSIVE e0 AS (
                SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
                       CAST(MIN(a.l_linenumber + b.l_linenumber) AS BIGINT)
                           AS w
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                WHERE a.l_suppkey < b.l_suppkey
                  AND a.l_suppkey <= 30 AND b.l_suppkey <= 30
                GROUP BY 1, 2
            ), e AS (
                SELECT src, dst, w FROM e0
                UNION ALL SELECT dst, src, w FROM e0
            ), d(node, dist) AS (
                SELECT * FROM (VALUES (1, 0), (2, 0), (3, 0)) v(node, dist)
                UNION
                SELECT e.dst, d.dist + e.w
                FROM d JOIN e ON e.src = d.node
                WHERE d.dist + e.w <= 20
            )
            SELECT CAST(node AS BIGINT) AS node,
                   CAST(min(dist) AS BIGINT) AS dist
            FROM d GROUP BY node
        """,
        "benford": """
            WITH digits AS (
                SELECT CAST(substring(regexp_replace(
                           CAST(abs(o_totalprice) AS VARCHAR), '[^1-9]', '', 'g'),
                           1, 1) AS INTEGER) AS digit
                FROM orders
                WHERE o_totalprice IS NOT NULL AND o_totalprice <> 0
            ), counts AS (
                SELECT digit, CAST(count(*) AS BIGINT) AS n
                FROM digits WHERE digit IS NOT NULL GROUP BY digit
            ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
            SELECT digit, n,
                   CAST(round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                              * 1000000) AS BIGINT) AS share_e6,
                   CAST(round(log10(1 + 1.0 / digit) * 1000000) AS BIGINT)
                       AS expected_e6,
                   CAST(round(
                       (CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                        - log10(1 + 1.0 / digit))
                       * (CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                          - log10(1 + 1.0 / digit))
                       / log10(1 + 1.0 / digit)
                       * CAST(t AS DOUBLE) * 1000000) AS BIGINT)
                       AS chi2_term_e6
            FROM counts, tot
        """,
        "gini": """
            WITH vals AS (
                SELECT CAST(round(value * 100) AS BIGINT) AS v,
                       CAST(count(*) AS BIGINT) AS c
                FROM events WHERE round(value * 100) >= 0
                GROUP BY 1
            ), cum AS (
                SELECT v, c, SUM(c) OVER (ORDER BY v) AS k FROM vals
            ), agg AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n,
                       CAST(SUM(v * c) AS HUGEINT) AS sx,
                       CAST(SUM(CAST(v AS HUGEINT)
                            * (c * k - (c * (c - 1)) // 2)) AS HUGEINT)
                           AS sxr
                FROM cum
            )
            SELECT n,
                   CAST(round(
                       (2.0 * CAST(sxr AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                        - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * 1000000) AS BIGINT) AS gini_e6
            FROM agg
        """,
        "spearman": """
            WITH base AS (
                SELECT l_quantity AS x, l_extendedprice AS y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            ), rx AS (
                SELECT x, CAST(count(*) AS BIGINT) AS n_v
                FROM base GROUP BY x
            ), rxc AS (
                SELECT x,
                       2 * (SUM(n_v) OVER (ORDER BY x) - n_v) + n_v + 1
                           AS r2x
                FROM rx
            ), ry AS (
                SELECT y, CAST(count(*) AS BIGINT) AS n_v
                FROM base GROUP BY y
            ), ryc AS (
                SELECT y,
                       2 * (SUM(n_v) OVER (ORDER BY y) - n_v) + n_v + 1
                           AS r2y
                FROM ry
            ), j AS (
                SELECT r2x, r2y
                FROM base JOIN rxc USING (x) JOIN ryc USING (y)
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(r2x AS HUGEINT)) AS HUGEINT) AS sx,
                       CAST(SUM(CAST(r2y AS HUGEINT)) AS HUGEINT) AS sy,
                       CAST(SUM(CAST(r2x AS HUGEINT) * r2y) AS HUGEINT)
                           AS sxy,
                       CAST(SUM(CAST(r2x AS HUGEINT) * r2x) AS HUGEINT)
                           AS sxx,
                       CAST(SUM(CAST(r2y AS HUGEINT) * r2y) AS HUGEINT)
                           AS syy
                FROM j
            )
            SELECT n,
                   CAST(round(
                       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                       THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                       END * 1000000) AS BIGINT) AS rho_e6
            FROM agg
        """,
        "anova": """
            WITH t AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS c
                FROM orders WHERE o_totalprice IS NOT NULL
            ), grp AS (
                SELECT g, CAST(count(*) AS BIGINT) AS ng,
                       CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS sg,
                       CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sqg
                FROM t GROUP BY g
            ), comb AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                       CAST(SUM(ng) AS BIGINT) AS n,
                       CAST(SUM(sg) AS HUGEINT) AS s,
                       CAST(SUM(sqg) AS HUGEINT) AS sq,
                       list_reduce(
                           list_prepend(0.0,
                               list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                                    / CAST(ng AS DOUBLE) ORDER BY g)),
                           (acc, x) -> acc + x) AS ssg
                FROM grp
            )
            SELECT k, n,
                   CAST(round(
                       CASE WHEN k > 1 AND n > k
                                 AND (CAST(sq AS DOUBLE) - ssg) > 0
                       THEN ((ssg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                    / CAST(n AS DOUBLE))
                             / CAST(k - 1 AS DOUBLE))
                            / ((CAST(sq AS DOUBLE) - ssg)
                               / CAST(n - k AS DOUBLE))
                       END * 1000000) AS BIGINT) AS f_e6
            FROM comb
        """,
        "proportion_ztest": """
            WITH s AS (
                SELECT o_orderpriority AS g,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS sc
                FROM orders
                WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
                GROUP BY 1
            ), a AS (
                SELECT n AS n_a, sc AS s_a FROM s WHERE g = '1-URGENT'
            ), b AS (
                SELECT n AS n_b, sc AS s_b FROM s WHERE g = '5-LOW'
            ), j AS (
                SELECT *,
                       CAST(s_a + s_b AS DOUBLE)
                       / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
                FROM a, b
            ), z AS (
                SELECT n_a, n_b, s_a, s_b,
                       sqrt(pool * (1.0 - pool)
                            * (1.0 / CAST(n_a AS DOUBLE)
                               + 1.0 / CAST(n_b AS DOUBLE))) AS se,
                       CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                       - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diff
                FROM j
            )
            SELECT n_a, n_b, s_a AS successes_a, s_b AS successes_b,
                   CAST(round(CASE WHEN se > 0 THEN diff / se END
                              * 1000000) AS BIGINT) AS z_e6
            FROM z
        """,
        "cusum": """
            WITH base AS (
                SELECT user_id AS k, ts, event_id,
                       CAST(round(value * 100) AS BIGINT) AS c
                FROM events WHERE value IS NOT NULL
            ), tot AS (
                SELECT k, CAST(count(*) AS BIGINT) AS n_obs,
                       CAST(SUM(c) AS BIGINT) AS total
                FROM base GROUP BY k
            ), cum AS (
                SELECT b.k, t.n_obs, t.total,
                       SUM(c) OVER (PARTITION BY b.k
                                    ORDER BY ts, event_id) AS s,
                       row_number() OVER (PARTITION BY b.k
                                          ORDER BY ts, event_id) AS i
                FROM base b JOIN tot t ON b.k = t.k
            ), dev AS (
                SELECT k, n_obs,
                       CAST(n_obs AS HUGEINT) * s
                       - CAST(i AS HUGEINT) * total AS dev
                FROM cum
            )
            SELECT k AS user_id, n_obs,
                   CAST(SUM(CASE WHEN abs(dev)
                                      > CAST(n_obs AS HUGEINT) * 50000
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_crossings,
                   CAST(round(CAST(max(abs(dev)) AS DOUBLE)
                              / (CAST(n_obs AS DOUBLE) * 100.0)
                              * 10000) AS BIGINT) AS max_dev_e4
            FROM dev GROUP BY k, n_obs
        """,
        "rfm_segments": """
            WITH per AS (
                SELECT o_custkey AS k,
                       max(o_orderdate) AS last_ts,
                       CAST(count(*) AS BIGINT) AS frequency,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS monetary_c
                FROM orders GROUP BY 1
            ), anchor AS (
                SELECT max(o_orderdate) AS as_of FROM orders
            ), base AS (
                SELECT k,
                       CAST(date_diff('day', last_ts, as_of) AS BIGINT)
                           AS recency_days,
                       frequency, monetary_c
                FROM per, anchor
            )
            SELECT k AS o_custkey, recency_days, frequency, monetary_c,
                   CAST(ntile(5) OVER (ORDER BY recency_days, k)
                        AS INTEGER) AS r_bucket,
                   CAST(ntile(5) OVER (ORDER BY frequency, k)
                        AS INTEGER) AS f_bucket,
                   CAST(ntile(5) OVER (ORDER BY monetary_c, k)
                        AS INTEGER) AS m_bucket
            FROM base
        """,
        "attribution": """
            WITH seq AS (
                SELECT user_id AS u, ts, event_id, event_type AS ch,
                       SUM(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS cba
                FROM events
            ), nc AS (
                SELECT u, CAST(max(cba) AS BIGINT) AS n_conv
                FROM seq GROUP BY u
            ), t AS (
                SELECT s.ch, s.u, s.cba + 1 AS conv_idx, s.ts, s.event_id
                FROM seq s JOIN nc ON s.u = nc.u
                WHERE s.ch <> 'purchase' AND s.cba + 1 <= nc.n_conv
            ), fl AS (
                SELECT ch, u, conv_idx,
                       row_number() OVER (PARTITION BY u, conv_idx
                                          ORDER BY ts, event_id) AS rn,
                       count(*) OVER (PARTITION BY u, conv_idx) AS cnt
                FROM t
            )
            SELECT ch AS channel,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_first,
                   CAST(SUM(CASE WHEN rn = cnt THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_last,
                   CAST(count(*) AS BIGINT) AS n_touch,
                   CAST(count(DISTINCT (u, conv_idx)) AS BIGINT)
                       AS n_conversions
            FROM fl GROUP BY ch
        """,
        "spatial_join": """
            WITH poly AS (
                SELECT n_nationkey AS poly_id,
                       CAST((n_nationkey * 37) % 90 AS DOUBLE) AS cx,
                       CAST((n_nationkey * 73) % 90 AS DOUBLE) AS cy,
                       CAST(3 + n_nationkey % 5 AS DOUBLE) AS r
                FROM nation
            ), ring AS (
                SELECT poly_id,
                       [{'x': cx + r, 'y': cy},
                        {'x': cx, 'y': cy + r},
                        {'x': cx - r, 'y': cy},
                        {'x': cx - r / 2.0, 'y': cy - r},
                        {'x': cx + r / 2.0, 'y': cy - r},
                        {'x': cx + r, 'y': cy}] AS ring
                FROM poly
            ), pt AS (
                SELECT c_custkey,
                       CAST((c_custkey * 17) % 9000 AS DOUBLE) / 100.0 AS px,
                       CAST((c_custkey * 29) % 9000 AS DOUBLE) / 100.0 AS py
                FROM customer
            )
            SELECT c_custkey, poly_id
            FROM pt, ring
            WHERE len(list_filter(ring[1:len(ring) - 1], (p, i) ->
                      ((p.y > py) != (ring[i + 1].y > py)) AND
                      (px < (ring[i + 1].x - p.x) * (py - p.y)
                            / (ring[i + 1].y - p.y) + p.x)
                  )) % 2 = 1
        """,
        "holt": """
            WITH s AS (
                SELECT user_id,
                       list(CAST(round(value * 100) AS DOUBLE)
                            ORDER BY ts, event_id) AS xs
                FROM events GROUP BY user_id
            ), f AS (
                SELECT user_id,
                       CAST(len(xs) AS BIGINT) AS n_obs,
                       CASE WHEN len(xs) >= 2 THEN
                           list_reduce(
                               list_prepend(
                                   [xs[1], xs[2] - xs[1]],
                                   list_transform(xs[2:], v -> [v, 0.0])),
                               (acc, x) -> [
                                   0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                                   0.25 * (0.5 * x[1] + 0.5 * (acc[1] + acc[2])
                                           - acc[1])
                                   + 0.75 * acc[2]])
                       ELSE [xs[1], 0.0] END AS lb
                FROM s
            )
            SELECT user_id, n_obs,
                   CAST(round(lb[1] / 100 * 10000) AS BIGINT) AS level_e4,
                   CAST(round(lb[2] / 100 * 10000) AS BIGINT) AS trend_e4,
                   CAST(round((lb[1] + 3.0 * lb[2]) / 100 * 10000) AS BIGINT)
                       AS forecast_e4
            FROM f
        """,
        "kendall": """
            WITH cells AS (
                SELECT l_quantity AS x, l_discount AS y,
                       CAST(count(*) AS BIGINT) AS n
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
                GROUP BY 1, 2
            ), gx AS (SELECT DISTINCT x FROM cells),
            gy AS (SELECT DISTINCT y FROM cells),
            dense AS (
                SELECT gx.x, gy.y, COALESCE(c.n, 0) AS n
                FROM gx CROSS JOIN gy
                LEFT JOIN cells c ON c.x = gx.x AND c.y = gy.y
            ), pre0 AS (
                SELECT x, y, n,
                       SUM(n) OVER (PARTITION BY x ORDER BY y) AS rowcum,
                       SUM(n) OVER (PARTITION BY y ORDER BY x) AS colcum
                FROM dense
            ), pre AS (
                SELECT x, y, n, rowcum, colcum,
                       SUM(rowcum) OVER (PARTITION BY y ORDER BY x)
                           AS p_incl
                FROM pre0
            ), xt AS (
                SELECT x, max(rowcum) AS t FROM pre GROUP BY x
            ), xc AS (
                SELECT x, SUM(t) OVER (ORDER BY x) - t AS x_lt FROM xt
            ), scored AS (
                SELECT pre.n,
                       pre.p_incl - pre.rowcum - pre.colcum + pre.n
                           AS p_excl,
                       xc.x_lt - (pre.p_incl - pre.rowcum) AS q
                FROM pre JOIN xc ON pre.x = xc.x
            ), yt AS (
                SELECT y, SUM(n) AS t FROM dense GROUP BY y
            ), agg AS (
                SELECT CAST(SUM(n) AS HUGEINT) AS nn,
                       CAST(SUM(CAST(n AS HUGEINT) * p_excl) AS HUGEINT)
                           AS c,
                       CAST(SUM(CAST(n AS HUGEINT) * q) AS HUGEINT) AS d
                FROM scored
            ), ties AS (
                SELECT (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) // 2)
                               AS HUGEINT) FROM xt) AS n1,
                       (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) // 2)
                               AS HUGEINT) FROM yt) AS n2
            )
            SELECT CAST(nn AS BIGINT) AS n,
                   CAST(c AS BIGINT) AS conc_pairs,
                   CAST(d AS BIGINT) AS disc_pairs,
                   CAST(round(
                       CAST(c - d AS DOUBLE)
                       / sqrt(CAST(nn * (nn - 1) // 2 - n1 AS DOUBLE))
                       / sqrt(CAST(nn * (nn - 1) // 2 - n2 AS DOUBLE))
                       * 1000000) AS BIGINT) AS tau_e6
            FROM agg, ties
        """,
        "profile": """
            SELECT 'o_orderkey' AS "column", 'bigint' AS dtype,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                   CAST(min(o_orderkey) AS VARCHAR) AS min_value,
                   CAST(max(o_orderkey) AS VARCHAR) AS max_value,
                   CAST(round(CAST(SUM(CAST(round(CAST(o_orderkey AS DOUBLE)
                        * 100) AS BIGINT)) AS DOUBLE)
                        / (100.0 * count(o_orderkey)) * 10000) AS BIGINT)
                       AS mean_e4
            FROM orders
            UNION ALL
            SELECT 'o_custkey', 'bigint', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT o_custkey) AS BIGINT),
                   CAST(min(o_custkey) AS VARCHAR),
                   CAST(max(o_custkey) AS VARCHAR),
                   CAST(round(CAST(SUM(CAST(round(CAST(o_custkey AS DOUBLE)
                        * 100) AS BIGINT)) AS DOUBLE)
                        / (100.0 * count(o_custkey)) * 10000) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', 'string', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                   CAST(min(o_orderstatus) AS VARCHAR),
                   CAST(max(o_orderstatus) AS VARCHAR),
                   CAST(NULL AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', 'double', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT o_totalprice) AS BIGINT),
                   CAST(min(o_totalprice) AS VARCHAR),
                   CAST(max(o_totalprice) AS VARCHAR),
                   CAST(round(CAST(SUM(CAST(round(o_totalprice * 100)
                        AS BIGINT)) AS DOUBLE)
                        / (100.0 * count(o_totalprice)) * 10000) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'o_orderdate', 'timestamp_ntz', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT o_orderdate) AS BIGINT),
                   CAST(min(o_orderdate) AS VARCHAR),
                   CAST(max(o_orderdate) AS VARCHAR),
                   CAST(NULL AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', 'string', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderpriority IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT),
                   CAST(min(o_orderpriority) AS VARCHAR),
                   CAST(max(o_orderpriority) AS VARCHAR),
                   CAST(NULL AS BIGINT)
            FROM orders
        """,
        "linkage_clusters": """
            WITH RECURSIVE dirty AS (
                SELECT s_suppkey + 10000 AS d_id,
                       CASE WHEN s_suppkey % 2 = 0
                            THEN substring(s_name, 1, length(s_name) - 1)
                            ELSE s_name || 'x' END AS d_name
                FROM supplier
            ), pairs AS (
                SELECT s.s_suppkey AS id_a, d.d_id AS id_b
                FROM supplier s JOIN dirty d
                  ON lower(substring(s.s_name, 1, 4))
                     = lower(substring(d.d_name, 1, 4))
                 AND abs((length(s.s_name) // 2)
                         - (length(d.d_name) // 2)) <= 1
                WHERE levenshtein(s.s_name, d.d_name) <= 2
            ), edges AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), walk(node, label) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM edges)
                UNION
                SELECT e.s, w.label FROM edges e JOIN walk w ON w.node = e.d
            )
            SELECT node, min(label) AS component,
                   (node = min(label)) AS is_keeper
            FROM walk GROUP BY node
        """,
        "l_diversity": """
            WITH cells AS (
                SELECT lang, source,
                       CAST(n_chars // 100 AS INTEGER) AS sv,
                       CAST(count(*) AS BIGINT) AS c
                FROM documents GROUP BY 1, 2, 3
            )
            SELECT lang, source,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_sensitive,
                   CAST(max(c) AS BIGINT) AS top_sensitive_n,
                   count(*) >= 3 AS diverse
            FROM cells GROUP BY lang, source
        """,
        "ngram_novelty": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                   t -> t <> '') AS ts
                FROM documents
            ), dg AS (
                SELECT DISTINCT doc_id, g FROM (
                    SELECT doc_id,
                           unnest([ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]
                                   for i in generate_series(1, len(ts) - 2)])
                               AS g
                    FROM toks WHERE len(ts) >= 3
                )
            ), dfreq AS (
                SELECT g, count(*) AS df FROM dg GROUP BY g
            ), per AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_grams,
                       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_unique
                FROM dg JOIN dfreq USING (g) GROUP BY doc_id
            )
            SELECT doc_id, n_grams, n_unique,
                   CAST(round(CAST(n_unique AS DOUBLE)
                              / CAST(n_grams AS DOUBLE) * 1000000)
                        AS BIGINT) AS novelty_e6
            FROM per
        """,
        "stream_hopping": """
            WITH expanded AS (
                SELECT event_type, value,
                       unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
                               date_trunc('hour', CAST(ts AS TIMESTAMP))
                                   - INTERVAL 1 HOUR]) AS window_start
                FROM events
            )
            SELECT window_start, event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM expanded
            GROUP BY 1, 2
        """,
        "cdc_generate": """
            WITH v1 AS (
                SELECT c_custkey, c_name, c_acctbal FROM customer
            ), v2 AS (
                SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 10 = 0
                            THEN round(c_acctbal * 2, 2)
                            ELSE c_acctbal END AS c_acctbal
                FROM customer WHERE c_custkey % 17 <> 0
                UNION ALL
                SELECT c_custkey + 100000, c_name, c_acctbal
                FROM customer WHERE c_custkey < 50
            ), j AS (
                SELECT COALESCE(o.c_custkey, n.c_custkey) AS k,
                       o.c_custkey IS NOT NULL AS in_old,
                       n.c_custkey IS NOT NULL AS in_new,
                       o.c_name AS o_name, o.c_acctbal AS o_bal,
                       n.c_name AS n_name, n.c_acctbal AS n_bal
                FROM v1 o FULL OUTER JOIN v2 n
                  ON o.c_custkey = n.c_custkey
            )
            SELECT CASE WHEN NOT in_old THEN 'I'
                        WHEN NOT in_new THEN 'D'
                        ELSE 'U' END AS op,
                   k AS c_custkey, n_name AS c_name,
                   round(n_bal, 2) AS bal
            FROM j
            WHERE NOT in_old OR NOT in_new
               OR (o_name IS DISTINCT FROM n_name
                   OR o_bal IS DISTINCT FROM n_bal)
        """,
        "rake_keywords": """
            WITH raw AS (
                SELECT unnest(string_split(
                    regexp_replace(lower(text),
                        '\\b(?:the|a|an|and|or|of|to|in|is|on|for|with|as|by|at|be|this|that|it|from|are|was|were|has|have|had|not|but|if|then|else|when)\\b',
                        '|', 'g'), '|')) AS seg
                FROM documents
            ), occ AS (
                SELECT phrase, string_split(phrase, ' ') AS words FROM (
                    SELECT trim(regexp_replace(seg, '\\s+', ' ', 'g'))
                        AS phrase FROM raw
                ) WHERE phrase <> ''
            ), wsc AS (
                SELECT w,
                       CAST(round(CAST(degree AS DOUBLE) * 1000000
                                  / CAST(freq AS DOUBLE)) AS BIGINT) AS s
                FROM (
                    SELECT w, CAST(count(*) AS BIGINT) AS freq,
                           CAST(SUM(len(words)) AS BIGINT) AS degree
                    FROM (SELECT words, unnest(words) AS w FROM occ)
                    GROUP BY w
                )
            ), pw AS (
                SELECT phrase, n_occurrences, unnest(words) AS w FROM (
                    SELECT phrase, CAST(count(*) AS BIGINT)
                               AS n_occurrences,
                           any_value(words) AS words
                    FROM occ GROUP BY phrase
                )
            )
            SELECT phrase, n_occurrences,
                   CAST(SUM(s) AS BIGINT) AS score_e6
            FROM pw JOIN wsc USING (w)
            GROUP BY phrase, n_occurrences
            ORDER BY score_e6 DESC, phrase LIMIT 20
        """,
        "theil_sen": """
            WITH base AS (
                SELECT CAST(round(CAST(l_quantity AS DOUBLE) * 100)
                            AS BIGINT) AS x,
                       CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
                            AS BIGINT) AS y,
                       l_orderkey * 10 + l_linenumber AS i
                FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND l_extendedprice IS NOT NULL
            ), ranked AS (
                SELECT x, y,
                       row_number() OVER (ORDER BY x, y, i) AS r,
                       count(*) OVER () AS n
                FROM base
            ), pairs AS (
                SELECT lo.n, lo.r AS pr,
                       CAST(hi.y - lo.y AS DOUBLE)
                       / CAST(hi.x - lo.x AS DOUBLE) AS m
                FROM ranked lo JOIN ranked hi
                  ON hi.r = lo.r + (lo.n // 2)
                WHERE lo.r <= lo.n // 2 AND hi.x <> lo.x
            ), ms AS (
                SELECT m, pr,
                       row_number() OVER (ORDER BY m, pr) AS rr,
                       count(*) OVER () AS k
                FROM pairs
            ), slope AS (
                SELECT m, CAST(k AS BIGINT) AS n_pairs
                FROM ms WHERE rr = (k + 1) // 2
            ), resid AS (
                SELECT s.n_pairs, s.m,
                       CAST(p.y AS DOUBLE) - s.m * CAST(p.x AS DOUBLE)
                           AS res,
                       p.r
                FROM ranked p, slope s
            ), rs AS (
                SELECT n_pairs, m, res,
                       row_number() OVER (ORDER BY res, r) AS rr,
                       count(*) OVER () AS k
                FROM resid
            )
            SELECT CAST(k AS BIGINT) AS n, n_pairs,
                   CAST(round(m * 1000000) AS BIGINT) AS slope_e6,
                   CAST(round(res / 100 * 10000) AS BIGINT)
                       AS intercept_e4
            FROM rs WHERE rr = (k + 1) // 2
        """,
        "pareto_frontier": """
            WITH cand AS (
                SELECT CAST(round(CAST(l_quantity AS DOUBLE) * 100)
                            AS BIGINT) AS x,
                       max(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
                                AS BIGINT)) AS y
                FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND l_extendedprice IS NOT NULL
                GROUP BY 1
            )
            SELECT x, y FROM (
                SELECT x, y,
                       max(y) OVER (ORDER BY x DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS pm
                FROM cand
            ) WHERE pm IS NULL OR y > pm
        """,
        "abc_classification": """
            WITH rev AS (
                SELECT l_partkey,
                       CAST(SUM(CAST(round(l_extendedprice
                                     * (1 - l_discount) * 100) AS BIGINT))
                            AS BIGINT) AS rev_c
                FROM lineitem GROUP BY l_partkey
            ), cum AS (
                SELECT l_partkey, rev_c,
                       CAST(SUM(rev_c) OVER (ORDER BY -rev_c, l_partkey)
                            AS BIGINT) AS cum_rev_c
                FROM rev
            ), tot AS (
                SELECT CAST(SUM(rev_c) AS BIGINT) AS total FROM rev
            )
            SELECT l_partkey, rev_c, cum_rev_c,
                   CASE WHEN CAST(cum_rev_c AS HUGEINT) * 100
                             <= CAST(total AS HUGEINT) * 80 THEN 'A'
                        WHEN CAST(cum_rev_c AS HUGEINT) * 100
                             <= CAST(total AS HUGEINT) * 95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM cum, tot
        """,
        "luhn_validation": """
            WITH t AS (
                SELECT c_mktsegment,
                       lpad(CAST(c_custkey * 7919 AS VARCHAR), 16, '0') AS s
                FROM customer
            ), v AS (
                SELECT c_mktsegment,
                       (len(s) BETWEEN 12 AND 19) AND
                       (list_sum(list_transform(
                            generate_series(1, len(s)), i ->
                            CASE WHEN i % 2 = 0 THEN
                                CASE WHEN (ascii(substr(s, len(s) - i + 1, 1))
                                           - 48) * 2 > 9
                                     THEN (ascii(substr(s, len(s) - i + 1, 1))
                                           - 48) * 2 - 9
                                     ELSE (ascii(substr(s, len(s) - i + 1, 1))
                                           - 48) * 2 END
                            ELSE ascii(substr(s, len(s) - i + 1, 1)) - 48
                            END)) % 10 = 0) AS ok
                FROM t
            )
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_luhn_valid
            FROM v GROUP BY 1
        """,
        "seasonal_naive": """
            WITH base AS (
                SELECT event_type AS k,
                       CAST(hour(ts) AS INTEGER) AS h,
                       CAST(round(value * 100) AS BIGINT) AS v,
                       ts < TIMESTAMP '2024-01-22 00:00:00' AS is_train
                FROM events WHERE value IS NOT NULL
            ), train AS (
                SELECT k, h, CAST(count(*) AS BIGINT) AS c,
                       CAST(SUM(v) AS BIGINT) AS s
                FROM base WHERE is_train GROUP BY k, h
            ), scored AS (
                SELECT b.k, b.h, t.c,
                       abs(CAST(b.v AS HUGEINT) * t.c - t.s) AS num
                FROM base b JOIN train t ON b.k = t.k AND b.h = t.h
                WHERE NOT b.is_train
            )
            SELECT k AS event_type, h AS hour, c AS n_train,
                   CAST(count(*) AS BIGINT) AS n_test,
                   CAST(round(CAST(SUM(num) AS DOUBLE) * 100.0
                              / (CAST(c AS DOUBLE)
                                 * CAST(count(*) AS DOUBLE)))
                        AS BIGINT) AS mae_e4
            FROM scored GROUP BY k, h, c
        """,
        "kaplan_meier": """
            WITH per_c AS (
                SELECT o_custkey,
                       CAST(date_diff('day', min(o_orderdate),
                                      max(o_orderdate)) AS BIGINT) AS t,
                       CAST(max(CASE WHEN o_orderstatus = 'F'
                                     THEN 1 ELSE 0 END) AS INTEGER) AS e
                FROM orders GROUP BY o_custkey
            ), per_t AS (
                SELECT t, CAST(SUM(e) AS BIGINT) AS d,
                       CAST(SUM(1 - e) AS BIGINT) AS c
                FROM per_c GROUP BY t
            ), curve AS (
                SELECT list([CAST(d AS DOUBLE), CAST(d + c AS DOUBLE),
                             CAST(t AS DOUBLE), CAST(c AS DOUBLE)]
                            ORDER BY t) AS arr,
                       CAST(SUM(d + c) AS BIGINT) AS n_total
                FROM per_t
            )
            SELECT CAST(arr[i][3] AS BIGINT) AS t,
                   n_total
                   - CAST(COALESCE(list_sum(list_transform(arr[1:i - 1],
                         s -> CAST(s[2] AS BIGINT))), 0) AS BIGINT)
                       AS n_at_risk,
                   CAST(arr[i][1] AS BIGINT) AS n_events,
                   CAST(arr[i][4] AS BIGINT) AS n_censored,
                   CAST(round(
                       list_reduce(
                           list_prepend([1.0, 0.0],
                               list_transform(arr[1:i],
                                   s -> [s[1], s[2]])),
                           (acc, x) -> [
                               acc[1] * (1.0 - x[1]
                                   / (CAST(n_total AS DOUBLE) - acc[2])),
                               acc[2] + x[2]])[1]
                       * 1000000) AS BIGINT) AS s_e6
            FROM curve, LATERAL unnest(generate_series(1, len(arr))) AS u(i)
        """,
        "twap": """
            WITH base AS (
                SELECT user_id AS k, ts, event_id,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events WHERE value IS NOT NULL
            ), stepped AS (
                SELECT k, v, ts, event_id,
                       CAST(epoch_us(lead(ts) OVER (PARTITION BY k
                                ORDER BY ts, event_id))
                            - epoch_us(ts) AS BIGINT) AS dt,
                       row_number() OVER (PARTITION BY k
                                          ORDER BY ts DESC,
                                                   event_id DESC) AS rn
                FROM base
            )
            SELECT k AS user_id,
                   CAST(count(*) AS BIGINT) AS n_obs,
                   CAST(COALESCE(SUM(dt), 0) // 1000000 AS BIGINT)
                       AS span_sec,
                   CAST(round(
                       CASE WHEN COALESCE(SUM(dt), 0) > 0
                       THEN CAST(SUM(CAST(v AS HUGEINT)
                                     * COALESCE(dt, 0)) AS DOUBLE)
                            / CAST(SUM(dt) AS DOUBLE)
                       ELSE CAST(max(CASE WHEN rn = 1 THEN v END)
                                 AS DOUBLE) END
                       / 100 * 10000) AS BIGINT) AS twap_e4
            FROM stepped GROUP BY k
        """,
        "mutual_information": """
            WITH cells AS (
                SELECT o_orderpriority AS a, o_orderstatus AS b,
                       CAST(count(*) AS BIGINT) AS nab
                FROM orders GROUP BY 1, 2
            ), ma AS (
                SELECT a, CAST(SUM(nab) AS BIGINT) AS na
                FROM cells GROUP BY a
            ), mb AS (
                SELECT b, CAST(SUM(nab) AS BIGINT) AS nb
                FROM cells GROUP BY b
            ), tot AS (
                SELECT CAST(SUM(nab) AS BIGINT) AS n FROM cells
            ), scored AS (
                SELECT n,
                       CAST(round(
                           CAST(nab AS DOUBLE) / CAST(n AS DOUBLE)
                           * ln(CAST(n AS DOUBLE) * CAST(nab AS DOUBLE)
                                / (CAST(na AS DOUBLE)
                                   * CAST(nb AS DOUBLE)))
                           * 1e9) AS BIGINT) AS term_e9
                FROM cells JOIN ma USING (a) JOIN mb USING (b), tot
            )
            SELECT n, CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(SUM(term_e9) AS BIGINT) AS mi_e9
            FROM scored GROUP BY n
        """,
        "conformal": """
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                       CAST(o_orderkey AS VARCHAR) AS k,
                       CAST(concat('0x', substr(
                            md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                            AS BIGINT) % 100 AS b
                FROM orders WHERE o_totalprice IS NOT NULL
            ), train AS (
                SELECT g, CAST(count(*) AS BIGINT) AS c,
                       CAST(SUM(v) AS BIGINT) AS s
                FROM base WHERE b < 60 GROUP BY g
            ), cal AS (
                SELECT CAST(abs(CAST(v AS HUGEINT) * c - s) AS DOUBLE)
                       / CAST(c AS DOUBLE) AS r,
                       k
                FROM base JOIN train USING (g)
                WHERE b >= 60 AND b < 80
            ), ranked AS (
                SELECT r, row_number() OVER (ORDER BY r, k) AS rn,
                       count(*) OVER () AS n_cal
                FROM cal
            ), qh AS (
                SELECT r AS qhat, CAST(n_cal AS BIGINT) AS n_cal
                FROM ranked
                WHERE rn = least(((n_cal + 1) * 9 + 9) // 10, n_cal)
            ), test AS (
                SELECT CAST(abs(CAST(v AS HUGEINT) * c - s) AS DOUBLE)
                       / CAST(c AS DOUBLE) AS r
                FROM base JOIN train USING (g)
                WHERE b >= 80
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM base
                    WHERE b < 60) AS n_train,
                   max(n_cal) AS n_cal,
                   CAST(count(*) AS BIGINT) AS n_test,
                   CAST(round(max(qhat) / 100 * 10000) AS BIGINT)
                       AS qhat_e4,
                   CAST(SUM(CASE WHEN r <= qhat THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_covered
            FROM test, qh
        """,
        "table_fingerprint": """
            WITH h AS (
                SELECT CAST(concat('0x', substr(md5(
                           concat_ws(chr(31),
                               COALESCE(CAST(c_custkey AS VARCHAR),
                                        chr(0) || 'NULL'),
                               COALESCE(CAST(c_name AS VARCHAR),
                                        chr(0) || 'NULL'),
                               COALESCE(CAST(c_nationkey AS VARCHAR),
                                        chr(0) || 'NULL'),
                               COALESCE(CAST(c_mktsegment AS VARCHAR),
                                        chr(0) || 'NULL'))),
                           1, 15)) AS BIGINT) AS rh
                FROM customer
            )
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(CAST(SUM(CAST(rh AS HUGEINT)) AS HUGEINT)
                        % CAST(9223372036854775808 AS HUGEINT) AS BIGINT)
                       AS fingerprint
            FROM h
        """,
        "fixed_width_roundtrip": """
            SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
        """,
        "personalized_pagerank": """
            WITH pairs AS (
              SELECT DISTINCT 'c' || o.o_custkey AS src,
                     's' || l.l_suppkey AS dst
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ), edges AS (
              SELECT src, dst FROM pairs
              UNION ALL
              SELECT dst AS src, src AS dst FROM pairs
            ), nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
              )
            ), deg AS (
              SELECT src, count(*) AS deg FROM edges GROUP BY src
            ), r0 AS (
              SELECT node,
                     CASE WHEN node IN ('s1','s2','s3')
                          THEN 1.0 / 3 ELSE 0.0 END AS rank
              FROM nodes
            ), c1 AS (
              SELECT e.dst AS node, SUM(r.rank / d.deg) AS c
              FROM edges e
              JOIN r0 r ON e.src = r.node
              JOIN deg d ON d.src = e.src
              GROUP BY e.dst
            ), dm1 AS (
              SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r0
              WHERE node NOT IN (SELECT src FROM deg)
            ), r1 AS (
              SELECT n.node,
                     (1.0 - 0.85) * CASE WHEN n.node IN ('s1','s2','s3')
                                         THEN 1.0 / 3 ELSE 0.0 END
                     + 0.85 * (COALESCE(c1.c, 0.0)
                               + (SELECT dm FROM dm1)
                                 * CASE WHEN n.node IN ('s1','s2','s3')
                                        THEN 1.0 / 3 ELSE 0.0 END) AS rank
              FROM nodes n LEFT JOIN c1 ON c1.node = n.node
            ), c2 AS (
              SELECT e.dst AS node, SUM(r.rank / d.deg) AS c
              FROM edges e
              JOIN r1 r ON e.src = r.node
              JOIN deg d ON d.src = e.src
              GROUP BY e.dst
            ), dm2 AS (
              SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r1
              WHERE node NOT IN (SELECT src FROM deg)
            ), r2 AS (
              SELECT n.node,
                     (1.0 - 0.85) * CASE WHEN n.node IN ('s1','s2','s3')
                                         THEN 1.0 / 3 ELSE 0.0 END
                     + 0.85 * (COALESCE(c2.c, 0.0)
                               + (SELECT dm FROM dm2)
                                 * CASE WHEN n.node IN ('s1','s2','s3')
                                        THEN 1.0 / 3 ELSE 0.0 END) AS rank
              FROM nodes n LEFT JOIN c2 ON c2.node = n.node
            )
            SELECT node, round(rank, 6) AS rank FROM r2
        """,
        "char_entropy": """
            WITH chars AS (
                SELECT doc_id, unnest(string_split(lower(text), '')) AS ch
                FROM documents
            ), counts AS (
                SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
                FROM chars WHERE ch <> '' GROUP BY doc_id, ch
            ), totals AS (
                SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
                FROM counts GROUP BY doc_id
            )
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_chars,
                   CAST(count(*) AS BIGINT) AS n_distinct_chars,
                   CAST(SUM(CAST(round(
                       -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                       * 1e9) AS BIGINT)) AS BIGINT) AS entropy_e9
            FROM counts JOIN totals USING (doc_id)
            GROUP BY doc_id, n
        """,
        "hits": """
            WITH pairs AS (
              SELECT DISTINCT 'c' || o.o_custkey AS s,
                     's' || l.l_suppkey AS d
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ), nodes AS (
              SELECT DISTINCT node FROM (
                SELECT s AS node FROM pairs UNION ALL SELECT d FROM pairs
              )
            ), nn AS (SELECT count(*) AS n FROM nodes),
            h0 AS (
              SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes
            ), ar1 AS (
              SELECT p.d AS node, SUM(h.hub) AS raw
              FROM pairs p JOIN h0 h ON h.node = p.s GROUP BY p.d
            ), a1 AS (
              SELECT n.node,
                     COALESCE(ar1.raw, 0.0)
                     / (SELECT SUM(raw) FROM ar1) AS authority
              FROM nodes n LEFT JOIN ar1 ON ar1.node = n.node
            ), hr1 AS (
              SELECT p.s AS node, SUM(a.authority) AS raw
              FROM pairs p JOIN a1 a ON a.node = p.d GROUP BY p.s
            ), h1 AS (
              SELECT n.node,
                     COALESCE(hr1.raw, 0.0)
                     / (SELECT SUM(raw) FROM hr1) AS hub
              FROM nodes n LEFT JOIN hr1 ON hr1.node = n.node
            ), ar2 AS (
              SELECT p.d AS node, SUM(h.hub) AS raw
              FROM pairs p JOIN h1 h ON h.node = p.s GROUP BY p.d
            ), a2 AS (
              SELECT n.node,
                     COALESCE(ar2.raw, 0.0)
                     / (SELECT SUM(raw) FROM ar2) AS authority
              FROM nodes n LEFT JOIN ar2 ON ar2.node = n.node
            ), hr2 AS (
              SELECT p.s AS node, SUM(a.authority) AS raw
              FROM pairs p JOIN a2 a ON a.node = p.d GROUP BY p.s
            ), h2 AS (
              SELECT n.node,
                     COALESCE(hr2.raw, 0.0)
                     / (SELECT SUM(raw) FROM hr2) AS hub
              FROM nodes n LEFT JOIN hr2 ON hr2.node = n.node
            )
            SELECT h2.node, round(h2.hub, 6) AS hub,
                   round(a2.authority, 6) AS authority
            FROM h2 JOIN a2 ON a2.node = h2.node
        """,
        "weighted_median": """
            WITH base AS (
                SELECT c.c_nationkey,
                       CAST(round(c.c_acctbal * 100) AS BIGINT) AS v,
                       CAST(w.n_orders AS BIGINT) AS w
                FROM customer c JOIN (
                    SELECT o_custkey, count(*) AS n_orders
                    FROM orders GROUP BY o_custkey
                ) w ON c.c_custkey = w.o_custkey
                WHERE c.c_acctbal IS NOT NULL AND w.n_orders > 0
            ), cells AS (
                SELECT c_nationkey AS g, v, CAST(SUM(w) AS BIGINT) AS w
                FROM base GROUP BY 1, 2
            ), ranked AS (
                SELECT g, v, w,
                       CAST(SUM(w) OVER (PARTITION BY g ORDER BY v)
                            AS BIGINT) AS cumw,
                       CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS tw
                FROM cells
            )
            SELECT g AS c_nationkey,
                   CAST(max(tw) AS BIGINT) AS total_weight,
                   CAST(min(v) AS BIGINT) AS weighted_median
            FROM ranked WHERE 2 * cumw >= tw
            GROUP BY g
        """,
        "containment": """
            WITH sh AS (
                SELECT DISTINCT doc_id AS id,
                       unnest([substr(text, CAST(i AS INTEGER), 3)
                               for i in generate_series(1,
                                   greatest(length(text) - 2, 1))])
                           AS g
                FROM documents WHERE doc_id < 40
            ), sizes AS (
                SELECT id, CAST(count(*) AS BIGINT) AS sz
                FROM sh GROUP BY id
            ), inter AS (
                SELECT a.id AS id_contained, b.id AS id_container,
                       CAST(count(*) AS BIGINT) AS n_inter
                FROM sh a JOIN sh b USING (g)
                WHERE a.id <> b.id GROUP BY 1, 2
            )
            SELECT id_contained, id_container, n_inter,
                   s.sz AS size_contained,
                   CAST(round(CAST(n_inter AS DOUBLE)
                              / CAST(s.sz AS DOUBLE) * 10000) AS BIGINT)
                       AS containment_e4
            FROM inter JOIN sizes s ON s.id = inter.id_contained
            WHERE CAST(round(CAST(n_inter AS DOUBLE)
                             / CAST(s.sz AS DOUBLE) * 10000) AS BIGINT)
                  >= 5000
        """,
        "negative_samples": """
            WITH positives AS (
                SELECT DISTINCT o.o_custkey AS a,
                       l.l_partkey % 200 AS i
                FROM lineitem l JOIN orders o
                  ON l.l_orderkey = o.o_orderkey
                WHERE o.o_custkey < 100
            ), anchors AS (
                SELECT DISTINCT a FROM positives
            ), pool AS (
                SELECT unnest(generate_series(0, 199)) AS i
            ), cand AS (
                SELECT a, i FROM anchors, pool
            ), neg AS (
                SELECT c.a, c.i FROM cand c
                ANTI JOIN positives p ON p.a = c.a AND p.i = c.i
            ), ranked AS (
                SELECT a, i,
                       row_number() OVER (
                           PARTITION BY a
                           ORDER BY CAST(concat('0x', substr(md5(
                                        CAST(a AS VARCHAR) || '|'
                                        || CAST(i AS VARCHAR)), 1, 15))
                                    AS BIGINT), i) AS neg_rank
                FROM neg
            )
            SELECT a AS cust, CAST(i AS BIGINT) AS part_group,
                   CAST(neg_rank AS INTEGER) AS neg_rank
            FROM ranked WHERE neg_rank <= 3
        """,
        "log_rank": """
            WITH per_c AS (
                SELECT o.o_custkey,
                       CAST(date_diff('day', min(o.o_orderdate),
                                      max(o.o_orderdate)) AS BIGINT) AS t,
                       CAST(max(CASE WHEN o.o_orderstatus = 'F'
                                     THEN 1 ELSE 0 END) AS INTEGER) AS e
                FROM orders o GROUP BY o.o_custkey
            ), base AS (
                SELECT p.t, p.e,
                       c.c_mktsegment = 'BUILDING' AS is_a
                FROM per_c p JOIN customer c
                  ON p.o_custkey = c.c_custkey
                WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
            ), per_t AS (
                SELECT t,
                       CAST(SUM(CASE WHEN is_a THEN e ELSE 0 END)
                            AS BIGINT) AS da,
                       CAST(SUM(CASE WHEN NOT is_a THEN e ELSE 0 END)
                            AS BIGINT) AS db,
                       CAST(COUNT(CASE WHEN is_a THEN 1 END)
                            AS BIGINT) AS ra,
                       CAST(COUNT(CASE WHEN NOT is_a THEN 1 END)
                            AS BIGINT) AS rb
                FROM base GROUP BY t
            ), tot AS (
                SELECT CAST(SUM(ra) AS BIGINT) AS n_a,
                       CAST(SUM(rb) AS BIGINT) AS n_b
                FROM per_t
            ), cum AS (
                SELECT t, da, db,
                       CAST(SUM(ra) OVER (ORDER BY t) - ra AS BIGINT)
                           AS cum_ra,
                       CAST(SUM(rb) OVER (ORDER BY t) - rb AS BIGINT)
                           AS cum_rb
                FROM per_t
            ), terms AS (
                SELECT da, db,
                       CAST(n_a - cum_ra AS DOUBLE) AS na_t,
                       CAST(n_b - cum_rb AS DOUBLE) AS nb_t
                FROM cum, tot
            ), scored AS (
                SELECT da,
                       CAST(round(CAST(da + db AS DOUBLE) * na_t
                                  / (na_t + nb_t) * 1e9) AS BIGINT)
                           AS e_e9,
                       CAST(round(CASE WHEN (na_t + nb_t) > 1 THEN
                           CAST(da + db AS DOUBLE)
                           * (na_t / (na_t + nb_t))
                           * (1.0 - na_t / (na_t + nb_t))
                           * ((na_t + nb_t) - CAST(da + db AS DOUBLE))
                           / ((na_t + nb_t) - 1)
                           ELSE 0.0 END * 1e9) AS BIGINT) AS v_e9
                FROM terms
            )
            SELECT (SELECT n_a FROM tot) AS n_a,
                   (SELECT n_b FROM tot) AS n_b,
                   CAST(SUM(da) AS BIGINT) AS observed_a,
                   CAST(SUM(e_e9) AS BIGINT) AS expected_a_e9,
                   CAST(round(
                       CASE WHEN SUM(v_e9) > 0 THEN
                           (CAST(SUM(da) AS DOUBLE)
                            - CAST(SUM(e_e9) AS DOUBLE) / 1e9)
                           / sqrt(CAST(SUM(v_e9) AS DOUBLE) / 1e9)
                       END * 1000000) AS BIGINT) AS z_e6
            FROM scored
        """,
        "item_similarity": """
            WITH bi AS (
                SELECT DISTINCT l_orderkey AS b,
                       l_partkey % 100 AS i
                FROM lineitem
            ), supports AS (
                SELECT i, CAST(count(*) AS BIGINT) AS n
                FROM bi GROUP BY i
            ), co AS (
                SELECT x.i AS item_a, y.i AS item_b,
                       CAST(count(*) AS BIGINT) AS n_cooccur
                FROM bi x JOIN bi y USING (b)
                WHERE x.i <> y.i GROUP BY 1, 2
                HAVING count(*) >= 20
            ), scored AS (
                SELECT c.item_a, c.item_b, c.n_cooccur,
                       CAST(round(CAST(c.n_cooccur AS DOUBLE)
                            / sqrt(CAST(sa.n * sb.n AS DOUBLE))
                            * 1000000) AS BIGINT) AS sim_e6
                FROM co c
                JOIN supports sa ON sa.i = c.item_a
                JOIN supports sb ON sb.i = c.item_b
            )
            SELECT item_a, item_b, n_cooccur, sim_e6,
                   CAST(rank AS INTEGER) AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY item_a
                    ORDER BY sim_e6 DESC, item_b) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "zipf_slope": """
            WITH words AS (
                SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
                    SELECT unnest(list_filter(
                        regexp_split_to_array(lower(text), '[^a-z]+'),
                        t -> t <> '')) AS w
                    FROM documents
                ) GROUP BY w
                ORDER BY f DESC, w LIMIT 500
            ), pts AS (
                SELECT CAST(round(ln(CAST(row_number() OVER (
                           ORDER BY f DESC, w) AS DOUBLE)) * 1e9)
                           AS BIGINT) AS x_e9,
                       CAST(round(ln(CAST(f AS DOUBLE)) * 1e9)
                           AS BIGINT) AS y_e9
                FROM words
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(x_e9 AS HUGEINT)) AS HUGEINT) AS sx,
                       CAST(SUM(CAST(y_e9 AS HUGEINT)) AS HUGEINT) AS sy,
                       CAST(SUM(CAST(x_e9 AS HUGEINT) * y_e9) AS HUGEINT)
                           AS sxy,
                       CAST(SUM(CAST(x_e9 AS HUGEINT) * x_e9) AS HUGEINT)
                           AS sxx
                FROM pts
            ), s AS (
                SELECT n,
                       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           AS slope,
                       CAST(sx AS DOUBLE) AS sxd,
                       CAST(sy AS DOUBLE) AS syd
                FROM agg
            )
            SELECT n AS n_words,
                   CAST(round(slope * 1000000) AS BIGINT) AS slope_e6,
                   CAST(round((syd - slope * sxd) / CAST(n AS DOUBLE)
                              / 1e9 * 1000000) AS BIGINT) AS intercept_e6
            FROM s
        """,
        "golden_record": """
            WITH base AS (
                SELECT c_custkey % 500 AS dup_cluster,
                       c_custkey,
                       CASE WHEN c_custkey % 3 <> 0
                            THEN c_name END AS name,
                       CASE WHEN c_custkey % 4 <> 0
                            THEN CAST(round(c_acctbal * 100) AS BIGINT)
                            END AS bal_c,
                       c_mktsegment AS segment
                FROM customer
            )
            SELECT dup_cluster AS cluster,
                   CAST(count(*) AS BIGINT) AS n_records,
                   arg_max(name, CAST(name IS NOT NULL AS BIGINT)
                           * 1125899906842624 + c_custkey) AS name,
                   CAST(arg_max(bal_c, CAST(bal_c IS NOT NULL AS BIGINT)
                           * 1125899906842624 + c_custkey)
                        AS BIGINT) AS bal_c,
                   arg_max(segment, CAST(segment IS NOT NULL AS BIGINT)
                           * 1125899906842624 + c_custkey) AS segment
            FROM base GROUP BY dup_cluster
        """,
        "recs_eval": """
            WITH purchases AS (
                SELECT o.o_custkey AS cust, l.l_orderkey AS okey,
                       l.l_partkey % 100 AS item
                FROM lineitem l JOIN orders o
                  ON l.l_orderkey = o.o_orderkey
            ), train AS (
                SELECT * FROM purchases
                WHERE CAST(concat('0x', substr(md5(
                          CAST(okey AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 100 < 80
            ), test AS (
                SELECT * FROM purchases
                WHERE CAST(concat('0x', substr(md5(
                          CAST(okey AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 100 >= 80
            ), bi AS (
                SELECT DISTINCT okey AS b, item AS i FROM train
            ), supports AS (
                SELECT i, CAST(count(*) AS BIGINT) AS n
                FROM bi GROUP BY i
            ), co AS (
                SELECT x.i AS item_a, y.i AS item_b,
                       CAST(count(*) AS BIGINT) AS n_cooccur
                FROM bi x JOIN bi y USING (b)
                WHERE x.i <> y.i GROUP BY 1, 2
                HAVING count(*) >= 10
            ), sims AS (
                SELECT item_a, item_b FROM (
                    SELECT c.item_a, c.item_b,
                           row_number() OVER (
                               PARTITION BY c.item_a
                               ORDER BY CAST(round(
                                   CAST(c.n_cooccur AS DOUBLE)
                                   / sqrt(CAST(sa.n * sb.n AS DOUBLE))
                                   * 1000000) AS BIGINT) DESC,
                                   c.item_b) AS rank
                    FROM co c
                    JOIN supports sa ON sa.i = c.item_a
                    JOIN supports sb ON sb.i = c.item_b
                ) WHERE rank <= 3
            ), profile AS (
                SELECT cust, item AS profile_item FROM (
                    SELECT cust, item,
                           row_number() OVER (
                               PARTITION BY cust
                               ORDER BY count(*) DESC, item) AS rn
                    FROM train GROUP BY cust, item
                ) WHERE rn = 1
            ), recs AS (
                SELECT p.cust, p.profile_item, s.item_b AS rec_item
                FROM profile p JOIN sims s ON s.item_a = p.profile_item
            ), heldout AS (
                SELECT DISTINCT cust, item AS rec_item FROM test
            ), hits AS (
                SELECT DISTINCT r.cust
                FROM recs r JOIN heldout h
                  ON h.cust = r.cust AND h.rec_item = r.rec_item
            )
            SELECT p.profile_item,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST(SUM(CASE WHEN hits.cust IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
            FROM profile p LEFT JOIN hits ON hits.cust = p.cust
            GROUP BY p.profile_item
        """,
        "stream_ewma_anomaly": """
            WITH s AS (
                SELECT user_id,
                       list(CAST(round(value * 100) AS DOUBLE)
                            ORDER BY ts, event_id) AS xs
                FROM events GROUP BY user_id
            ), folded AS (
                SELECT user_id, xs,
                       list_reduce(
                           list_prepend([xs[1], 0.0],
                               list_transform(xs[2:], v -> [v, 0.0])),
                           (acc, x) -> [
                               0.25 * x[1] + 0.75 * acc[1],
                               acc[2] + CASE WHEN abs(x[1] - acc[1])
                                                  > 20000.0
                                             THEN 1.0 ELSE 0.0 END])
                           AS acc
                FROM s
            )
            SELECT user_id,
                   CAST(len(xs) AS BIGINT) AS n_events,
                   CAST(floor(acc[1] * 100 + 0.5) AS BIGINT) AS ewma_e4,
                   CAST(acc[2] AS BIGINT) AS n_anomalies
            FROM folded
        """,
        "calibration": """
            WITH base AS (
                SELECT CAST((o_orderkey * 37) % 1000 AS DOUBLE) / 1000.0
                           AS p,
                       o_orderstatus = 'F' AS y
                FROM orders
            ), binned AS (
                SELECT CAST(least(CAST(floor(p * 10) AS INTEGER), 9)
                            AS INTEGER) AS bin,
                       CAST(round(p * 1000000) AS BIGINT) AS p_e6,
                       y
                FROM base WHERE p IS NOT NULL
            )
            SELECT bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(round(CAST(SUM(p_e6) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE)) AS BIGINT)
                       AS avg_pred_e6,
                   CAST(round(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END)
                                   AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) * 1000000)
                        AS BIGINT) AS pos_rate_e6
            FROM binned GROUP BY bin
        """,
        "langid_confusion": """
            WITH pred AS (

            WITH toks AS (
                SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
            ), scored AS (
                SELECT doc_id,
                  CAST(len(list_filter(t, x -> x = 'der'))
                     + len(list_filter(t, x -> x = 'die'))
                     + len(list_filter(t, x -> x = 'und'))
                     + len(list_filter(t, x -> x = 'ist'))
                     + len(list_filter(t, x -> x = 'das')) AS INTEGER) AS score_de,
                  CAST(len(list_filter(t, x -> x = 'the'))
                     + len(list_filter(t, x -> x = 'and'))
                     + len(list_filter(t, x -> x = 'of'))
                     + len(list_filter(t, x -> x = 'to'))
                     + len(list_filter(t, x -> x = 'is')) AS INTEGER) AS score_en,
                  CAST(len(list_filter(t, x -> x = 'el'))
                     + len(list_filter(t, x -> x = 'la'))
                     + len(list_filter(t, x -> x = 'que'))
                     + len(list_filter(t, x -> x = 'de'))
                     + len(list_filter(t, x -> x = 'es')) AS INTEGER) AS score_es,
                  CAST(len(list_filter(t, x -> x = 'le'))
                     + len(list_filter(t, x -> x = 'la'))
                     + len(list_filter(t, x -> x = 'et'))
                     + len(list_filter(t, x -> x = 'est'))
                     + len(list_filter(t, x -> x = 'les')) AS INTEGER) AS score_fr
                FROM toks
            )
            SELECT doc_id, score_de, score_en, score_es, score_fr,
                   CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0
                        THEN 'und'
                        WHEN score_de = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'de'
                        WHEN score_en = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'en'
                        WHEN score_es = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'es'
                        ELSE 'fr' END AS predicted_lang
            FROM scored
        
            )
            SELECT d.lang AS true_lang, p.predicted_lang,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents d JOIN pred p USING (doc_id)
            GROUP BY d.lang, p.predicted_lang
        """,
        "ece": """
            WITH base AS (
                SELECT CAST((o_orderkey * 37) % 1000 AS DOUBLE) / 1000.0
                           AS p,
                       o_orderstatus = 'F' AS y
                FROM orders
            ), binned AS (
                SELECT CAST(least(CAST(floor(p * 10) AS INTEGER), 9)
                            AS INTEGER) AS bin,
                       CAST(round(p * 1000000) AS BIGINT) AS p_e6,
                       y
                FROM base WHERE p IS NOT NULL
            ), bins AS (
                SELECT bin,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(round(CAST(SUM(p_e6) AS DOUBLE)
                                  / CAST(count(*) AS DOUBLE)) AS BIGINT)
                           AS avg_pred_e6,
                       CAST(round(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END)
                                       AS DOUBLE)
                                  / CAST(count(*) AS DOUBLE) * 1000000)
                            AS BIGINT) AS pos_rate_e6
                FROM binned GROUP BY bin
            )
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(round(CAST(SUM(CAST(n AS HUGEINT)
                       * abs(avg_pred_e6 - pos_rate_e6)) AS DOUBLE)
                       / CAST(SUM(n) AS DOUBLE)) AS BIGINT) AS ece_e6
            FROM bins
        """,
        "auc": """
            WITH scored AS (
                SELECT CAST((o_orderkey * 37) % 1000 AS DOUBLE) / 1000.0
                           AS p,
                       CASE WHEN o_orderstatus = 'F'
                            THEN 'pos' ELSE 'neg' END AS y
                FROM orders
            ), vals AS (
                SELECT p AS v,
                       CAST(count(CASE WHEN y = 'pos' THEN 1 END)
                            AS BIGINT) AS na_v,
                       CAST(count(CASE WHEN y = 'neg' THEN 1 END)
                            AS BIGINT) AS nb_v
                FROM scored GROUP BY p
            ), cum AS (
                SELECT v, na_v, nb_v,
                       CAST(SUM(na_v + nb_v) OVER (ORDER BY v)
                            - (na_v + nb_v) AS BIGINT) AS cb
                FROM vals
            ), agg AS (
                SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
                       CAST(SUM(nb_v) AS BIGINT) AS n_b,
                       CAST(SUM(na_v * (2 * cb + na_v + nb_v + 1))
                            AS BIGINT) AS r2a
                FROM cum
            )
            SELECT n_a, n_b,
                   CAST(round(
                       CAST(r2a - n_a * (n_a + 1) AS DOUBLE)
                       / (2.0 * CAST(n_a * n_b AS DOUBLE))
                       * 1000000) AS BIGINT) AS auc_e6
            FROM agg
        """,
        "classification_metrics": """
            WITH base AS (
                SELECT CAST((o_orderkey * 37) % 1000 AS DOUBLE) / 1000.0
                           AS p,
                       o_orderstatus = 'F' AS lab
                FROM orders
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN p >= 0.5 AND lab
                                     THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                       CAST(SUM(CASE WHEN p >= 0.5 AND NOT lab
                                     THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                       CAST(SUM(CASE WHEN p < 0.5 AND lab
                                     THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                       CAST(SUM(CASE WHEN p < 0.5 AND NOT lab
                                     THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                       CAST(SUM(CAST(
                           (CAST(round(p * 1000000) AS BIGINT)
                            - CASE WHEN lab THEN 1 ELSE 0 END * 1000000)
                           * (CAST(round(p * 1000000) AS BIGINT)
                              - CASE WHEN lab THEN 1 ELSE 0 END
                                * 1000000) AS HUGEINT)) AS HUGEINT) AS sq
                FROM base WHERE p IS NOT NULL
            )
            SELECT n, tp, fp, fn, tn,
                   CAST(round(CASE WHEN tp + fp > 0 THEN
                       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                       END * 1000000) AS BIGINT) AS precision_e6,
                   CAST(round(CASE WHEN tp + fn > 0 THEN
                       CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                       END * 1000000) AS BIGINT) AS recall_e6,
                   CAST(round(CASE WHEN tp + fp > 0 AND tp + fn > 0
                                   AND (CAST(tp AS DOUBLE)
                                        / CAST(tp + fp AS DOUBLE)
                                        + CAST(tp AS DOUBLE)
                                          / CAST(tp + fn AS DOUBLE)) > 0
                       THEN 2.0 * (CAST(tp AS DOUBLE)
                                   / CAST(tp + fp AS DOUBLE))
                            * (CAST(tp AS DOUBLE)
                               / CAST(tp + fn AS DOUBLE))
                            / (CAST(tp AS DOUBLE)
                               / CAST(tp + fp AS DOUBLE)
                               + CAST(tp AS DOUBLE)
                                 / CAST(tp + fn AS DOUBLE))
                       END * 1000000) AS BIGINT) AS f1_e6,
                   CAST(round(CAST(tp + tn AS DOUBLE)
                              / CAST(n AS DOUBLE) * 1000000) AS BIGINT)
                       AS accuracy_e6,
                   CAST(round(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
                              / 1e6) AS BIGINT) AS brier_e6
            FROM agg
        """,
        "lift_table": """
            WITH scored AS (
                SELECT o_orderkey,
                       CAST((o_orderkey * 37) % 1000 AS DOUBLE) / 1000.0
                           AS p,
                       CASE WHEN o_orderstatus = 'F'
                            THEN 1 ELSE 0 END AS y
                FROM orders
            )
            SELECT CAST(decile AS INTEGER) AS decile,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS n_pos,
                   CAST(SUM(CAST(round(p * 1000000) AS BIGINT))
                        AS BIGINT) AS sum_pred_e6
            FROM (
                SELECT p, y,
                       ntile(10) OVER (ORDER BY -p, o_orderkey) AS decile
                FROM scored
            ) GROUP BY decile
        """,
        "growth_accounting": """
            WITH uw AS (
                SELECT DISTINCT user_id AS u,
                       CAST(date_trunc('week', ts) AS DATE) AS w
                FROM events
            ), flagged AS (
                SELECT u, w,
                       lag(w) OVER (PARTITION BY u ORDER BY w) AS prev_w,
                       lead(w) OVER (PARTITION BY u ORDER BY w) AS next_w
                FROM uw
            ), statused AS (
                SELECT u, w, next_w,
                       CASE WHEN prev_w IS NULL THEN 'new'
                            WHEN prev_w + INTERVAL 7 DAY = w
                            THEN 'retained'
                            ELSE 'resurrected' END AS status
                FROM flagged
            ), active AS (
                SELECT w,
                       CAST(SUM(CASE WHEN status = 'new'
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_new,
                       CAST(SUM(CASE WHEN status = 'retained'
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_retained,
                       CAST(SUM(CASE WHEN status = 'resurrected'
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_resurrected
                FROM statused GROUP BY w
            ), churn AS (
                SELECT CAST(w + INTERVAL 7 DAY AS DATE) AS w,
                       CAST(count(*) AS BIGINT) AS n_churned
                FROM statused
                WHERE next_w IS NULL OR next_w > w + INTERVAL 7 DAY
                GROUP BY 1
            )
            SELECT COALESCE(a.w, c.w) AS week,
                   COALESCE(n_new, 0) AS n_new,
                   COALESCE(n_retained, 0) AS n_retained,
                   COALESCE(n_resurrected, 0) AS n_resurrected,
                   COALESCE(n_churned, 0) AS n_churned
            FROM active a FULL OUTER JOIN churn c ON a.w = c.w
        """,
        "cohens_kappa": """
            WITH pred AS (

            WITH toks AS (
                SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
            ), scored AS (
                SELECT doc_id,
                  CAST(len(list_filter(t, x -> x = 'der'))
                     + len(list_filter(t, x -> x = 'die'))
                     + len(list_filter(t, x -> x = 'und'))
                     + len(list_filter(t, x -> x = 'ist'))
                     + len(list_filter(t, x -> x = 'das')) AS INTEGER) AS score_de,
                  CAST(len(list_filter(t, x -> x = 'the'))
                     + len(list_filter(t, x -> x = 'and'))
                     + len(list_filter(t, x -> x = 'of'))
                     + len(list_filter(t, x -> x = 'to'))
                     + len(list_filter(t, x -> x = 'is')) AS INTEGER) AS score_en,
                  CAST(len(list_filter(t, x -> x = 'el'))
                     + len(list_filter(t, x -> x = 'la'))
                     + len(list_filter(t, x -> x = 'que'))
                     + len(list_filter(t, x -> x = 'de'))
                     + len(list_filter(t, x -> x = 'es')) AS INTEGER) AS score_es,
                  CAST(len(list_filter(t, x -> x = 'le'))
                     + len(list_filter(t, x -> x = 'la'))
                     + len(list_filter(t, x -> x = 'et'))
                     + len(list_filter(t, x -> x = 'est'))
                     + len(list_filter(t, x -> x = 'les')) AS INTEGER) AS score_fr
                FROM toks
            )
            SELECT doc_id, score_de, score_en, score_es, score_fr,
                   CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0
                        THEN 'und'
                        WHEN score_de = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'de'
                        WHEN score_en = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'en'
                        WHEN score_es = greatest(score_de, score_en, score_es, score_fr)
                        THEN 'es'
                        ELSE 'fr' END AS predicted_lang
            FROM scored
        
            ), joined AS (
                SELECT d.lang AS a, p.predicted_lang AS b
                FROM documents d JOIN pred p USING (doc_id)
            ), cells AS (
                SELECT a, b, CAST(count(*) AS BIGINT) AS c
                FROM joined GROUP BY a, b
            ), agg AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END)
                            AS BIGINT) AS n_agree
                FROM cells
            ), pe AS (
                SELECT CAST(SUM(CAST(ma.na AS HUGEINT) * mb.nb)
                            AS HUGEINT) AS pe_num
                FROM (SELECT a, SUM(c) AS na FROM cells GROUP BY a) ma
                JOIN (SELECT b, SUM(c) AS nb FROM cells GROUP BY b) mb
                  ON ma.a = mb.b
            )
            SELECT n, n_agree,
                   CAST(round(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
                              * 1000000) AS BIGINT) AS po_e6,
                   CAST(round(CAST(pe_num AS DOUBLE)
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                              * 1000000) AS BIGINT) AS pe_e6,
                   CAST(round(CASE WHEN CAST(pe_num AS DOUBLE)
                                        / (CAST(n AS DOUBLE)
                                           * CAST(n AS DOUBLE)) < 1.0
                       THEN (CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
                             - CAST(pe_num AS DOUBLE)
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                            / (1.0 - CAST(pe_num AS DOUBLE)
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                       END * 1000000) AS BIGINT) AS kappa_e6
            FROM agg, pe
        """,
        "random_projection": _random_projection_sql(),
        "session_stats": """
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                 > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), numbered AS (
                SELECT user_id, ts,
                       CAST(sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM flagged
            ), per_sess AS (
                SELECT user_id, session_id,
                       CAST(count(*) AS BIGINT) AS n_ev,
                       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
                           AS dur_us
                FROM numbered GROUP BY user_id, session_id
            )
            SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(sum(n_ev) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bounces,
                   CAST(round(CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
                                   AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT)
                       AS bounce_rate_e6,
                   CAST(round(CAST(sum(n_ev) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) * 1e4) AS BIGINT)
                       AS avg_events_per_session_e4,
                   CAST(round(CAST(sum(dur_us) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) / 1e6 * 100)
                        AS BIGINT) AS avg_duration_s_e2
            FROM per_sess
        """,
        "diff_in_diff": """
            WITH base AS (
                SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS y,
                       CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                           AS t,
                       CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END
                           AS p
                FROM orders JOIN customer ON o_custkey = c_custkey
            ), cells AS (
                SELECT
                  CAST(count(CASE WHEN t=0 AND p=0 THEN 1 END) AS BIGINT) AS n00,
                  CAST(sum(CASE WHEN t=0 AND p=0 THEN y END) AS BIGINT) AS s00,
                  CAST(sum(CASE WHEN t=0 AND p=0 THEN CAST(y AS HUGEINT)*y END) AS HUGEINT) AS q00,
                  CAST(count(CASE WHEN t=0 AND p=1 THEN 1 END) AS BIGINT) AS n01,
                  CAST(sum(CASE WHEN t=0 AND p=1 THEN y END) AS BIGINT) AS s01,
                  CAST(sum(CASE WHEN t=0 AND p=1 THEN CAST(y AS HUGEINT)*y END) AS HUGEINT) AS q01,
                  CAST(count(CASE WHEN t=1 AND p=0 THEN 1 END) AS BIGINT) AS n10,
                  CAST(sum(CASE WHEN t=1 AND p=0 THEN y END) AS BIGINT) AS s10,
                  CAST(sum(CASE WHEN t=1 AND p=0 THEN CAST(y AS HUGEINT)*y END) AS HUGEINT) AS q10,
                  CAST(count(CASE WHEN t=1 AND p=1 THEN 1 END) AS BIGINT) AS n11,
                  CAST(sum(CASE WHEN t=1 AND p=1 THEN y END) AS BIGINT) AS s11,
                  CAST(sum(CASE WHEN t=1 AND p=1 THEN CAST(y AS HUGEINT)*y END) AS HUGEINT) AS q11
                FROM base
            )
            SELECT n00 AS n_ctrl_pre, n01 AS n_ctrl_post,
                   n10 AS n_treat_pre, n11 AS n_treat_post,
                   CAST(round(CAST(s00 AS DOUBLE) / (CAST(n00 AS DOUBLE) * 100.0) * 1e4) AS BIGINT) AS mean_ctrl_pre_e4,
                   CAST(round(CAST(s01 AS DOUBLE) / (CAST(n01 AS DOUBLE) * 100.0) * 1e4) AS BIGINT) AS mean_ctrl_post_e4,
                   CAST(round(CAST(s10 AS DOUBLE) / (CAST(n10 AS DOUBLE) * 100.0) * 1e4) AS BIGINT) AS mean_treat_pre_e4,
                   CAST(round(CAST(s11 AS DOUBLE) / (CAST(n11 AS DOUBLE) * 100.0) * 1e4) AS BIGINT) AS mean_treat_post_e4,
                   CAST(round(((CAST(s11 AS DOUBLE) / (CAST(n11 AS DOUBLE) * 100.0)
                                - CAST(s10 AS DOUBLE) / (CAST(n10 AS DOUBLE) * 100.0))
                               - (CAST(s01 AS DOUBLE) / (CAST(n01 AS DOUBLE) * 100.0)
                                  - CAST(s00 AS DOUBLE) / (CAST(n00 AS DOUBLE) * 100.0))) * 1e4) AS BIGINT) AS did_e4,
                   CAST(round(sqrt(
                       (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) * CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) / (CAST(n00 AS DOUBLE) - 1.0) / CAST(n00 AS DOUBLE) / 10000.0
                     + (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) * CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)) / (CAST(n01 AS DOUBLE) - 1.0) / CAST(n01 AS DOUBLE) / 10000.0
                     + (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) / (CAST(n10 AS DOUBLE) - 1.0) / CAST(n10 AS DOUBLE) / 10000.0
                     + (CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) / (CAST(n11 AS DOUBLE) - 1.0) / CAST(n11 AS DOUBLE) / 10000.0
                   ) * 1e4) AS BIGINT) AS se_e4,
                   CAST(round(((CAST(s11 AS DOUBLE) / (CAST(n11 AS DOUBLE) * 100.0)
                                - CAST(s10 AS DOUBLE) / (CAST(n10 AS DOUBLE) * 100.0))
                               - (CAST(s01 AS DOUBLE) / (CAST(n01 AS DOUBLE) * 100.0)
                                  - CAST(s00 AS DOUBLE) / (CAST(n00 AS DOUBLE) * 100.0)))
                       / sqrt(
                       (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) * CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) / (CAST(n00 AS DOUBLE) - 1.0) / CAST(n00 AS DOUBLE) / 10000.0
                     + (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) * CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)) / (CAST(n01 AS DOUBLE) - 1.0) / CAST(n01 AS DOUBLE) / 10000.0
                     + (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) / (CAST(n10 AS DOUBLE) - 1.0) / CAST(n10 AS DOUBLE) / 10000.0
                     + (CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) / (CAST(n11 AS DOUBLE) - 1.0) / CAST(n11 AS DOUBLE) / 10000.0
                   ) * 1e4) AS BIGINT) AS t_e4
            FROM cells
        """,
        "path_trigrams": """
            WITH steps AS (
                SELECT event_type AS e1,
                       lead(event_type, 1) OVER w AS e2,
                       lead(event_type, 2) OVER w AS e3
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
                   CAST(count(*) AS BIGINT) AS n_paths
            FROM steps WHERE e3 IS NOT NULL
            GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20
        """,
        "rolling_corr": """
            WITH daily AS (
                SELECT date_trunc('day', ts) AS d,
                       CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                            AS BIGINT) AS x,
                       CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
                            AS BIGINT) AS y
                FROM events GROUP BY 1
            ), m AS (
                SELECT d,
                       CAST(count(*) OVER w AS BIGINT) AS n,
                       CAST(sum(x) OVER w AS BIGINT) AS sx,
                       CAST(sum(y) OVER w AS BIGINT) AS sy,
                       CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
                       CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
                       CAST(sum(y * y) OVER w AS BIGINT) AS syy
                FROM daily
                WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING
                             AND CURRENT ROW)
            )
            SELECT d, n AS n_window,
                   CAST(round(CASE WHEN n >= 7
                        AND sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                            * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) > 0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE)
                             / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                        END * 1e6) AS BIGINT) AS corr_e6
            FROM m ORDER BY d
        """,
        "holt_winters": _holt_winters_sql(),
        "peak_concurrency": """
            WITH base AS (
                SELECT date_trunc('month', o_orderdate) AS g,
                       o_orderdate AS s,
                       o_orderdate
                       + ((o_orderkey % 7) + 1) * INTERVAL 1 DAY AS e
                FROM orders
            ), deltas AS (
                SELECT g, s AS t, 1 AS d FROM base
                UNION ALL SELECT g, e AS t, -1 AS d FROM base
            ), curve AS (
                SELECT g, t,
                       CAST(sum(d) OVER (PARTITION BY g ORDER BY t, d
                                         ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) AS c
                FROM deltas
            )
            , stats AS (
                SELECT g, CAST(count(*) / 2 AS BIGINT) AS n_intervals,
                       CAST(max(c) AS BIGINT) AS peak_concurrency
                FROM curve GROUP BY g
            ), at AS (
                SELECT curve.g, min(t) AS peak_at
                FROM curve JOIN stats ON curve.g = stats.g
                 AND curve.c = stats.peak_concurrency
                GROUP BY curve.g
            )
            SELECT stats.g AS month, n_intervals, peak_concurrency, peak_at
            FROM stats JOIN at ON stats.g = at.g ORDER BY month
        """,
        "sql_surface": _SHARED_WORKSPACE_SQL,
        "ipf_raking": _ipf_sql(),
        "dbscan": """
            WITH pts AS (
                SELECT c_custkey AS id,
                       CASE WHEN c_custkey % 97 = 0
                            THEN 1000.0 + c_custkey
                            ELSE (c_custkey % 3) * 10.0
                                 + ((c_custkey * 7) % 100) / 100.0 END AS x,
                       CASE WHEN c_custkey % 97 = 0 THEN -500.0
                            ELSE (c_custkey % 3) * 5.0
                                 + ((c_custkey * 13) % 100) / 100.0 END AS y
                FROM customer WHERE c_custkey < 600
            ), pairs AS (
                SELECT a.id AS ia, b.id AS ib
                FROM pts a JOIN pts b ON a.id <> b.id
                 AND (a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) <= 0.3 * 0.3
            ), deg AS (
                SELECT ia, count(*) AS c FROM pairs GROUP BY ia
            ), core AS (
                SELECT p.id, coalesce(d.c, 0) + 1 >= 4 AS isc
                FROM pts p LEFT JOIN deg d ON p.id = d.ia
            ), ce AS (
                SELECT ia, ib FROM pairs
                JOIN core ca ON pairs.ia = ca.id AND ca.isc
                JOIN core cb ON pairs.ib = cb.id AND cb.isc
            ), reach AS (
                WITH RECURSIVE r(node, lbl) AS (
                    SELECT id, id FROM core WHERE isc
                    UNION
                    SELECT ce.ib, r.lbl FROM r JOIN ce ON ce.ia = r.node
                ) SELECT node, min(lbl) AS cluster FROM r GROUP BY node
            ), border AS (
                SELECT pairs.ia, min(reach.cluster) AS bcluster
                FROM pairs JOIN core cb ON pairs.ib = cb.id AND cb.isc
                JOIN reach ON reach.node = pairs.ib
                GROUP BY pairs.ia
            )
            SELECT p.id, p.x, p.y, core.isc AS is_core,
                   CAST(CASE WHEN core.isc THEN reach.cluster
                             ELSE coalesce(border.bcluster, -1) END
                        AS BIGINT) AS cluster
            FROM pts p
            JOIN core ON p.id = core.id
            LEFT JOIN reach ON reach.node = p.id
            LEFT JOIN border ON border.ia = p.id
            ORDER BY p.id
        """,
        "compact_files": """
            SELECT CAST(24 AS INTEGER) AS n_files_before,
                   CAST(1 AS INTEGER) AS n_files_after,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM customer
        """,
        "cuped": """
            WITH base AS (
                SELECT c_mktsegment AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS y,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS x
                FROM orders JOIN customer ON o_custkey = c_custkey
            ), per_g AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                       CAST(sum(y) AS HUGEINT) AS sy_g,
                       CAST(sum(x) AS HUGEINT) AS sx_g
                FROM base GROUP BY g
            ), pooled AS (
                SELECT CAST(count(*) AS HUGEINT) AS n,
                       CAST(sum(y) AS HUGEINT) AS sy,
                       CAST(sum(x) AS HUGEINT) AS sx,
                       CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                       CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                       CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
                FROM base
            )
            SELECT g AS c_mktsegment, n_g AS n,
                   CAST(round(CAST(sy_g AS DOUBLE)
                              / (CAST(n_g AS DOUBLE) * 100.0) * 1e4)
                        AS BIGINT) AS mean_y_e4,
                   CAST(round((CAST(sy_g AS DOUBLE)
                               / (CAST(n_g AS DOUBLE) * 100.0)
                               - (CAST(n * sxy - sx * sy AS DOUBLE)
                                  / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                                 * (CAST(sx_g AS DOUBLE)
                                    / (CAST(n_g AS DOUBLE) * 100.0)
                                    - CAST(sx AS DOUBLE)
                                      / (CAST(n AS DOUBLE) * 100.0)))
                              * 1e4) AS BIGINT) AS mean_cuped_e4,
                   CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                              / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * 1e6)
                        AS BIGINT) AS theta_e6,
                   CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                              * CAST(n * sxy - sx * sy AS DOUBLE)
                              / (CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                                 * CAST(n * syy - sy * sy AS DOUBLE)) * 1e6)
                        AS BIGINT) AS var_reduction_e6
            FROM per_g CROSS JOIN pooled ORDER BY g
        """,
        "line_dedup": """
            WITH pages AS (
                SELECT doc_id,
                       'SOURCE BANNER ' || source || chr(10)
                       || substr(text, 1, 60) || chr(10)
                       || substr(text, 61, 60) || chr(10)
                       || 'COPYRIGHT FOOTER 2024' AS text
                FROM documents WHERE doc_id < 400
            ), lines AS (
                SELECT doc_id, i.i AS pos, str_split(text, chr(10))[i.i] AS line
                FROM pages, LATERAL (
                    SELECT unnest(generate_series(
                        1, len(str_split(text, chr(10))))) AS i
                ) i
            ), df AS (
                SELECT trim(line) AS k, count(DISTINCT doc_id) AS d
                FROM lines WHERE trim(line) <> ''
                GROUP BY trim(line) HAVING count(DISTINCT doc_id) >= 2
            ), marked AS (
                SELECT l.doc_id, l.pos, l.line,
                       (df.k IS NULL) AS kept
                FROM lines l LEFT JOIN df ON trim(l.line) = df.k
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept,
                   coalesce(string_agg(CASE WHEN kept THEN line END, chr(10)
                                       ORDER BY pos), '') AS text_clean
            FROM marked GROUP BY doc_id ORDER BY doc_id
        """,
        "gif_decode": """
            -- lossless checkerboard animation: 30 cells of color a and 30
            -- of color b per 6x10 frame, n_frames = 1 + doc_id % 3
            WITH src AS (
                SELECT doc_id, 1 + doc_id % 3 AS nf
                FROM documents WHERE doc_id < 150
            ), per_frame AS (
                SELECT s.doc_id, s.nf, f.f,
                       (s.doc_id * 13 + f.f * 7) % 256 AS ar,
                       (s.doc_id * 5 + f.f * 11) % 256 AS ag,
                       (f.f * 29 + 3) % 256 AS ab,
                       (s.doc_id * 17 + f.f * 3) % 256 AS br,
                       (s.doc_id * 7 + f.f * 19) % 256 AS bg,
                       (s.doc_id * 3 + f.f * 5) % 256 AS bb
                FROM src s, LATERAL (
                    SELECT unnest(generate_series(0, s.nf - 1)) AS f
                ) f
            )
            SELECT doc_id AS item_id,
                   CAST(10 AS INTEGER) AS width,
                   CAST(6 AS INTEGER) AS height,
                   CAST(nf AS INTEGER) AS n_frames,
                   CAST(round(SUM((ar + br) * 30) * 100.0 / (60 * nf))
                        AS BIGINT) AS mean_r_e2,
                   CAST(round(SUM((ag + bg) * 30) * 100.0 / (60 * nf))
                        AS BIGINT) AS mean_g_e2,
                   CAST(round(SUM((ab + bb) * 30) * 100.0 / (60 * nf))
                        AS BIGINT) AS mean_b_e2
            FROM per_frame GROUP BY doc_id, nf
        """,
        "seasonal_decompose": """
            WITH monthly AS (
                SELECT date_trunc('month', o_orderdate) AS month,
                       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS y
                FROM orders GROUP BY 1
            ), mi AS (
                SELECT month, y,
                       year(month) * 12 + month(month) AS midx
                FROM monthly
            ), t AS (
                SELECT month, midx, y,
                       CAST(sum(y) OVER (ORDER BY midx RANGE BETWEEN
                                         6 PRECEDING AND 6 FOLLOWING)
                          + sum(y) OVER (ORDER BY midx RANGE BETWEEN
                                         5 PRECEDING AND 5 FOLLOWING)
                            AS BIGINT) AS num,
                       count(*) OVER (ORDER BY midx RANGE BETWEEN
                                      6 PRECEDING AND 6 FOLLOWING) AS nwin
                FROM mi
            ), t2 AS (
                SELECT *, CASE WHEN nwin = 13 THEN 24 * y - num END AS dx,
                       midx % 12 AS moc
                FROM t
            ), seas AS (
                SELECT moc,
                       CAST(round(CAST(sum(dx) AS DOUBLE) * 100
                                  / (2400.0 * count(*))) AS BIGINT)
                           AS seasonal_e2
                FROM t2 WHERE dx IS NOT NULL GROUP BY moc
            )
            SELECT month, y AS y_scaled,
                   CASE WHEN dx IS NOT NULL THEN
                       CAST(round(CAST(num AS DOUBLE) * 100 / 2400.0)
                            AS BIGINT)
                   END AS trend_e2,
                   seasonal_e2,
                   CASE WHEN dx IS NOT NULL THEN
                       CAST(round(CAST(dx AS DOUBLE) * 100 / 2400.0)
                            AS BIGINT)
                       - seasonal_e2
                   END AS remainder_e2
            FROM t2 LEFT JOIN seas USING (moc) ORDER BY month
        """,
        "isotonic": """
            WITH src AS (
                SELECT CAST(floor(((o_orderkey * 37) % 1000) / 1000.0 * 10)
                            AS BIGINT) AS bin,
                       CASE WHEN o_orderstatus = 'F' THEN 1000000 ELSE 0 END
                           AS ys
                FROM orders
            ), bins AS (
                SELECT bin, CAST(count(*) AS BIGINT) AS w,
                       CAST(sum(ys) AS BIGINT) AS s
                FROM src GROUP BY bin
            ), pre AS (
                SELECT bin, w, s,
                       CAST(sum(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
                       CAST(sum(s) OVER (ORDER BY bin) AS BIGINT) AS cs
                FROM bins
            ), pairs AS (
                SELECT lo.bin AS i, hi.bin AS j,
                       CAST(hi.cs - (lo.cs - lo.s) AS DOUBLE)
                       / CAST(hi.cw - (lo.cw - lo.w) AS DOUBLE) AS avg
                FROM pre lo JOIN pre hi ON lo.bin <= hi.bin
            ), inner_ AS (
                SELECT pairs.i, kb.bin AS k, min(avg) AS mn
                FROM pairs JOIN bins kb
                  ON pairs.j >= kb.bin AND pairs.i <= kb.bin
                GROUP BY pairs.i, kb.bin
            ), iso AS (
                SELECT k AS bin, CAST(round(max(mn)) AS BIGINT) AS y_iso_e6
                FROM inner_ GROUP BY k
            )
            SELECT bins.bin, w AS n_obs,
                   CAST(round(CAST(s AS DOUBLE) / CAST(w AS DOUBLE))
                        AS BIGINT) AS y_mean_e6,
                   y_iso_e6
            FROM bins JOIN iso USING (bin) ORDER BY bin
        """,
        "cox_score": """
            WITH per_c AS (
                SELECT o_custkey,
                       CAST(date_diff('day', min(o_orderdate),
                                      max(o_orderdate)) AS BIGINT) AS t,
                       max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                           AS e
                FROM orders GROUP BY o_custkey
            ), subj AS (
                SELECT t, e, CAST(round(c_acctbal * 100) AS BIGINT) AS x
                FROM per_c JOIN customer ON o_custkey = c_custkey
            ), per_t AS (
                SELECT t, CAST(count(*) AS BIGINT) AS n_at,
                       CAST(sum(x) AS BIGINT) AS sx_at,
                       CAST(sum(x * x) AS BIGINT) AS sxx_at,
                       CAST(sum(e) AS BIGINT) AS d_t,
                       CAST(sum(e * x) AS BIGINT) AS s_t
                FROM subj GROUP BY t
            ), risk AS (
                SELECT * FROM (
                    SELECT t, d_t, s_t,
                           CAST(sum(n_at) OVER (ORDER BY t DESC) AS BIGINT)
                               AS n_t,
                           CAST(sum(sx_at) OVER (ORDER BY t DESC) AS BIGINT)
                               AS rx_t,
                           CAST(sum(sxx_at) OVER (ORDER BY t DESC) AS BIGINT)
                               AS rxx_t
                    FROM per_t
                ) WHERE d_t > 0
            ), terms AS (
                SELECT CAST(round((CAST(s_t AS DOUBLE)
                           - CAST(d_t AS DOUBLE)
                             * (CAST(rx_t AS DOUBLE) / CAST(n_t AS DOUBLE)))
                           * 100) AS BIGINT) AS u_term,
                       CAST(round(CAST(d_t AS DOUBLE)
                           * (CAST(rxx_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                              - (CAST(rx_t AS DOUBLE) / CAST(n_t AS DOUBLE))
                                * (CAST(rx_t AS DOUBLE) / CAST(n_t AS DOUBLE)))
                           ) AS BIGINT) AS i_term
                FROM risk
            ), tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(e) AS BIGINT) AS n_events
                FROM subj
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_event_times,
                       CAST(sum(u_term) AS BIGINT) AS u_e2,
                       CAST(sum(i_term) AS BIGINT) AS i_e0
                FROM terms
            )
            SELECT n, n_events, n_event_times, u_e2, i_e0,
                   CAST(round(CAST(u_e2 AS DOUBLE) / CAST(i_e0 AS DOUBLE)
                              * 1e4) AS BIGINT) AS beta_e6,
                   CAST(round(CAST(u_e2 AS DOUBLE) * CAST(u_e2 AS DOUBLE)
                              / CAST(i_e0 AS DOUBLE) / 1e4 * 1e6)
                        AS BIGINT) AS chi2_e6
            FROM agg CROSS JOIN tot
        """,
        "modularity": """
            WITH e AS (
                SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS d
                FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                WHERE a.l_suppkey < b.l_suppkey
                  AND a.l_suppkey <= 40 AND b.l_suppkey <= 40
            ), mm AS (SELECT count(*) AS m FROM e),
            deg AS (
                SELECT n, count(*) AS k FROM (
                    SELECT s AS n FROM e UNION ALL SELECT d AS n FROM e
                ) GROUP BY n
            ),
            asg AS (
                SELECT s_suppkey AS n, s_nationkey AS c
                FROM supplier WHERE s_suppkey <= 40
            ),
            pcd AS (
                SELECT c, CAST(count(*) AS BIGINT) AS n_nodes,
                       CAST(sum(k) AS BIGINT) AS total_degree
                FROM deg JOIN asg USING (n) GROUP BY c
            ),
            intr AS (
                SELECT ca.c AS c, CAST(count(*) AS BIGINT) AS internal_edges
                FROM e JOIN asg ca ON e.s = ca.n JOIN asg cb ON e.d = cb.n
                WHERE ca.c = cb.c GROUP BY ca.c
            )
            SELECT pcd.c AS community, n_nodes,
                   CAST(coalesce(internal_edges, 0) AS BIGINT) AS internal_edges,
                   total_degree,
                   CAST(round(
                       CAST(coalesce(internal_edges, 0) * 4 * mm.m
                            - total_degree * total_degree AS DOUBLE)
                       / CAST(4 * mm.m * mm.m AS DOUBLE) * 1e9
                   ) AS BIGINT) AS contribution_e9
            FROM pcd LEFT JOIN intr ON pcd.c = intr.c CROSS JOIN mm
            ORDER BY community
        """,
        "jpeg_decode": """
            -- closed-form mirror of the quality-100 constant-color JPEG
            -- decode: YCbCr forward+inverse with floor(x+0.5) rounding
            WITH src AS (
                SELECT doc_id,
                       (doc_id * 37 + 11) % 256 AS r,
                       (doc_id * 59 + 5) % 256 AS g,
                       (doc_id * 23 + 101) % 256 AS b,
                       8 * (1 + doc_id % 2) AS h
                FROM documents WHERE doc_id < 150
            ), ycc AS (
                SELECT doc_id, h,
                       greatest(0, least(255, floor(0.299*r + 0.587*g + 0.114*b + 0.5))) AS y,
                       greatest(0, least(255, floor(128 - 0.168736*r - 0.331264*g + 0.5*b + 0.5))) AS cb,
                       greatest(0, least(255, floor(128 + 0.5*r - 0.418688*g - 0.081312*b + 0.5))) AS cr
                FROM src
            ), rgb AS (
                SELECT doc_id, h,
                       greatest(0, least(255, floor(y + 1.402*(cr-128) + 0.5))) AS rr,
                       greatest(0, least(255, floor(y - 0.344136*(cb-128) - 0.714136*(cr-128) + 0.5))) AS gg,
                       greatest(0, least(255, floor(y + 1.772*(cb-128) + 0.5))) AS bb
                FROM ycc
            )
            SELECT doc_id AS item_id,
                   CAST(16 AS INTEGER) AS width,
                   CAST(h AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS n_channels,
                   CAST(rr * 100 AS BIGINT) AS mean_r_e2,
                   CAST(gg * 100 AS BIGINT) AS mean_g_e2,
                   CAST(bb * 100 AS BIGINT) AS mean_b_e2
            FROM rgb
        """,
        "avro_roundtrip": """
            SELECT o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS total_cents,
                   min(o_orderdate) AS first_order,
                   max(o_orderkey) AS max_key
            FROM orders
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "scd2_build": """
            WITH cur AS (
                SELECT c_custkey, c_mktsegment AS seg,
                       CAST(0 AS BIGINT) AS valid_from,
                       CAST(NULL AS BIGINT) AS valid_to
                FROM customer WHERE c_custkey <= 200
            ), ch AS (
                SELECT o_custkey AS c_custkey, o_orderpriority AS seg,
                       CAST(o_orderkey AS BIGINT) AS change_ts
                FROM orders WHERE o_custkey <= 200
            ), chained AS (
                SELECT c_custkey, seg,
                       change_ts AS valid_from,
                       lead(change_ts) OVER (
                           PARTITION BY c_custkey ORDER BY change_ts
                       ) AS valid_to
                FROM ch
            ), first_change AS (
                SELECT c_custkey, min(change_ts) AS fc
                FROM ch GROUP BY c_custkey
            )
            SELECT cur.c_custkey, cur.seg, cur.valid_from,
                   CAST(NULL AS BIGINT) AS valid_to
            FROM cur
            WHERE cur.c_custkey NOT IN (SELECT c_custkey FROM ch)
            UNION ALL
            SELECT cur.c_custkey, cur.seg, cur.valid_from, fc.fc AS valid_to
            FROM cur JOIN first_change fc USING (c_custkey)
            UNION ALL
            SELECT c_custkey, seg, valid_from, valid_to FROM chained
        """,
        "link_predict": """
            WITH li AS (
                SELECT l_orderkey, l_suppkey FROM lineitem
                WHERE l_suppkey <= 40 AND l_quantity >= 45
            ), e AS (
                SELECT DISTINCT a.l_suppkey AS lo, b.l_suppkey AS hi
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_suppkey < b.l_suppkey
            ), adj AS (
                SELECT lo AS u, hi AS z FROM e
                UNION ALL SELECT hi, lo FROM e
            ), deg AS (
                SELECT z, CAST(count(*) AS BIGINT) AS deg_z
                FROM adj GROUP BY z
            ), adjz AS (
                SELECT adj.u, adj.z, deg.deg_z FROM adj JOIN deg USING (z)
            ), pairs AS (
                SELECT a.u AS u, b.u AS v,
                       CAST(count(*) AS BIGINT) AS cn,
                       CAST(sum(CAST(round(1000000.0 / a.deg_z) AS BIGINT))
                            AS BIGINT) AS ra_e6
                FROM adjz a JOIN adjz b ON a.z = b.z AND a.u < b.u
                GROUP BY a.u, b.u
            ), nonadj AS (
                SELECT p.* FROM pairs p
                WHERE NOT EXISTS (
                    SELECT 1 FROM e WHERE e.lo = p.u AND e.hi = p.v
                )
            )
            SELECT n.u, n.v, n.cn,
                   du.deg_z AS deg_u, dv.deg_z AS deg_v,
                   CAST(round(CAST(n.cn AS DOUBLE) * 1000000.0
                              / CAST(du.deg_z + dv.deg_z - n.cn AS DOUBLE))
                        AS BIGINT) AS jaccard_e6,
                   n.ra_e6
            FROM nonadj n
            JOIN deg du ON du.z = n.u
            JOIN deg dv ON dv.z = n.v
            ORDER BY n.ra_e6 DESC, n.cn DESC, n.u, n.v
            LIMIT 100
        """,
        "clustering_coeff": """
            WITH li AS (
                SELECT l_orderkey, l_suppkey FROM lineitem
                WHERE l_suppkey <= 60 AND l_quantity >= 45
            ), e AS (
                SELECT DISTINCT a.l_suppkey AS lo, b.l_suppkey AS hi
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_suppkey < b.l_suppkey
            ), tris AS (
                SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
                FROM e e1 JOIN e e2 ON e1.hi = e2.lo
                WHERE EXISTS (
                    SELECT 1 FROM e WHERE e.lo = e1.lo AND e.hi = e2.hi
                )
            ), pn AS (
                SELECT node, CAST(count(*) AS BIGINT) AS n_tri
                FROM (
                    SELECT a AS node FROM tris
                    UNION ALL SELECT b FROM tris
                    UNION ALL SELECT c FROM tris
                )
                GROUP BY node
            ), deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS deg
                FROM (
                    SELECT lo AS node FROM e
                    UNION ALL SELECT hi FROM e
                )
                GROUP BY node
            )
            SELECT d.node, d.deg,
                   CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri,
                   CASE WHEN d.deg >= 2 THEN
                       CAST(round(CAST(coalesce(pn.n_tri, 0) AS DOUBLE)
                                  * 2000000.0
                                  / CAST(d.deg * (d.deg - 1) AS DOUBLE))
                            AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS cc_e6
            FROM deg d LEFT JOIN pn ON pn.node = d.node
            ORDER BY d.node
        """,
        "decision_stump": """
            WITH b AS (
                SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bin,
                       CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
                FROM orders
            ), h AS (
                SELECT bin, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(y) AS BIGINT) AS pos
                FROM b GROUP BY bin
            ), c AS (
                SELECT bin,
                       CAST(sum(n) OVER w AS BIGINT) AS nl,
                       CAST(sum(pos) OVER w AS BIGINT) AS posl,
                       CAST(sum(n) OVER t AS BIGINT) AS nt,
                       CAST(sum(pos) OVER t AS BIGINT) AS post,
                       max(bin) OVER t AS mb
                FROM h
                WINDOW w AS (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW),
                       t AS (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING)
            ), s AS (
                SELECT bin, nl AS n_left, posl AS pos_left,
                       nt - nl AS n_right, post - posl AS pos_right,
                       CAST(posl * posl + (nl - posl) * (nl - posl)
                            AS DOUBLE) / CAST(nl AS DOUBLE)
                       + CAST((post - posl) * (post - posl)
                              + ((nt - nl) - (post - posl))
                                * ((nt - nl) - (post - posl))
                              AS DOUBLE) / CAST(nt - nl AS DOUBLE)
                           AS score
                FROM c WHERE bin < mb
            )
            SELECT bin AS split_bin,
                   CAST((bin + 1) * 20000.0 AS DOUBLE) AS split_upper,
                   n_left, pos_left, n_right, pos_right,
                   CAST(round(score * 1000000.0) AS BIGINT) AS score_e6
            FROM s ORDER BY score DESC, bin LIMIT 1
        """,
        "fd_discovery": """
            WITH p1 AS (
                SELECT count(DISTINCT o_custkey) AS nd
                FROM orders GROUP BY o_orderkey
            ), p2 AS (
                SELECT count(DISTINCT o_totalprice) AS nd
                FROM orders GROUP BY o_orderkey
            ), p3 AS (
                SELECT count(DISTINCT o_orderstatus) AS nd
                FROM orders GROUP BY o_custkey
            ), p4 AS (
                SELECT count(DISTINCT o_custkey) AS nd
                FROM orders GROUP BY o_totalprice
            ), p5 AS (
                SELECT count(DISTINCT o_orderpriority) AS nd
                FROM orders GROUP BY o_orderstatus
            )
            SELECT * FROM (
                SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
                       CAST(count(*) AS BIGINT) AS n_groups,
                       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_violating,
                       CAST(max(nd) AS BIGINT) AS max_dep_per_det,
                       CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                                      = 0
                            THEN 1 ELSE 0 END AS INTEGER) AS holds
                FROM p1
                UNION ALL
                SELECT 'o_orderkey', 'o_totalprice',
                       CAST(count(*) AS BIGINT),
                       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                            AS BIGINT),
                       CAST(max(nd) AS BIGINT),
                       CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                                      = 0
                            THEN 1 ELSE 0 END AS INTEGER)
                FROM p2
                UNION ALL
                SELECT 'o_custkey', 'o_orderstatus',
                       CAST(count(*) AS BIGINT),
                       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                            AS BIGINT),
                       CAST(max(nd) AS BIGINT),
                       CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                                      = 0
                            THEN 1 ELSE 0 END AS INTEGER)
                FROM p3
                UNION ALL
                SELECT 'o_totalprice', 'o_custkey',
                       CAST(count(*) AS BIGINT),
                       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                            AS BIGINT),
                       CAST(max(nd) AS BIGINT),
                       CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                                      = 0
                            THEN 1 ELSE 0 END AS INTEGER)
                FROM p4
                UNION ALL
                SELECT 'o_orderstatus', 'o_orderpriority',
                       CAST(count(*) AS BIGINT),
                       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                            AS BIGINT),
                       CAST(max(nd) AS BIGINT),
                       CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                                      = 0
                            THEN 1 ELSE 0 END AS INTEGER)
                FROM p5
            )
            ORDER BY determinant, dependent
        """,
        "rrf_fusion": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), d AS (
                SELECT doc_id, len(w) AS dl, w FROM toks
            ), stats AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
                FROM d
            ), tf AS (
                SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(w) AS term FROM d)
                WHERE term IN ('spark', 'shuffle', 'join')
                GROUP BY doc_id, dl, term
            ), dfreq AS (
                SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                FROM tf GROUP BY term
            ), bm AS (
                SELECT tf.doc_id,
                       round(sum(
                           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2
                              * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))
                       ), 4) + 0.0 AS score
                FROM tf JOIN dfreq f USING (term) CROSS JOIN stats s
                GROUP BY tf.doc_id
                ORDER BY score DESC, tf.doc_id LIMIT 50
            ), lexr AS (
                SELECT doc_id AS id,
                       CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                            AS BIGINT) AS rnk
                FROM bm
            ), vpairs AS (
                SELECT e.vec_id AS neighbor_id,
                       list_cosine_similarity(
                           CAST(q.embedding AS DOUBLE[]),
                           CAST(e.embedding AS DOUBLE[])) AS cos_sim
                FROM embeddings q
                JOIN embeddings e ON e.vec_id <> q.vec_id
                WHERE q.vec_id = 0
            ), vecr AS (
                SELECT neighbor_id AS id,
                       CAST(row_number() OVER (
                           ORDER BY cos_sim DESC, neighbor_id ASC
                       ) AS BIGINT) AS rnk
                FROM vpairs
                QUALIFY rnk <= 50
            ), u AS (
                SELECT CAST(id AS BIGINT) AS id, rnk FROM lexr
                UNION ALL
                SELECT CAST(id AS BIGINT), rnk FROM vecr
            )
            SELECT id,
                   CAST(count(*) AS BIGINT) AS n_lists,
                   CAST(min(rnk) AS BIGINT) AS best_rank,
                   CAST(sum(CAST(round(1000000000.0 / (60 + rnk)) AS BIGINT))
                        AS BIGINT) AS rrf_e9
            FROM u GROUP BY id
            ORDER BY rrf_e9 DESC, id
            LIMIT 20
        """,
        "kmeans": """
            WITH pts AS (
                SELECT vec_id AS pid,
                       list_transform(embedding, x ->
                           CAST(round(CAST(x AS DOUBLE) * 1000000.0)
                                AS BIGINT)) AS v
                FROM embeddings
            ), pd AS (
                SELECT pid,
                       unnest(generate_series(1, len(v))) AS i,
                       unnest(v) AS x
                FROM pts
            ), c0 AS (
                SELECT pid AS cid, i, x AS cx FROM pd
                WHERE pid IN (SELECT pid FROM pts ORDER BY pid LIMIT 8)
            ), d1 AS (
                SELECT pd.pid, c.cid,
                       SUM((pd.x - c.cx) * (pd.x - c.cx)) AS d2
                FROM pd JOIN c0 c ON pd.i = c.i
                GROUP BY pd.pid, c.cid
            ), a1 AS (
                SELECT pid, cid FROM (
                    SELECT pid, cid, row_number() OVER (
                        PARTITION BY pid ORDER BY d2, cid) AS rk
                    FROM d1) WHERE rk = 1
            ), c1 AS (
                SELECT a1.cid, pd.i,
                       CAST(round(CAST(SUM(pd.x) AS DOUBLE)
                                  / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cx
                FROM pd JOIN a1 USING (pid)
                GROUP BY a1.cid, pd.i
            ), d2t AS (
                SELECT pd.pid, c.cid,
                       SUM((pd.x - c.cx) * (pd.x - c.cx)) AS d2
                FROM pd JOIN c1 c ON pd.i = c.i
                GROUP BY pd.pid, c.cid
            ), a2 AS (
                SELECT pid, cid FROM (
                    SELECT pid, cid, row_number() OVER (
                        PARTITION BY pid ORDER BY d2, cid) AS rk
                    FROM d2t) WHERE rk = 1
            ), c2 AS (
                SELECT a2.cid, pd.i,
                       CAST(round(CAST(SUM(pd.x) AS DOUBLE)
                                  / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cx
                FROM pd JOIN a2 USING (pid)
                GROUP BY a2.cid, pd.i
            ), d3 AS (
                SELECT pd.pid, c.cid,
                       SUM((pd.x - c.cx) * (pd.x - c.cx)) AS d2
                FROM pd JOIN c2 c ON pd.i = c.i
                GROUP BY pd.pid, c.cid
            ), a3 AS (
                SELECT pid, cid FROM (
                    SELECT pid, cid, row_number() OVER (
                        PARTITION BY pid ORDER BY d2, cid) AS rk
                    FROM d3) WHERE rk = 1
            ), cs AS (
                SELECT cid, CAST(SUM(cx) AS BIGINT) AS cent_sum,
                       CAST(SUM(abs(cx)) AS BIGINT) AS cent_l1
                FROM c2 GROUP BY cid
            )
            SELECT a3.cid, CAST(count(*) AS BIGINT) AS n_points,
                   cs.cent_sum, cs.cent_l1
            FROM a3 JOIN cs USING (cid)
            GROUP BY a3.cid, cs.cent_sum, cs.cent_l1
            ORDER BY a3.cid
        """,
        "association_rules": """
            WITH b AS (
                SELECT DISTINCT l_orderkey AS bk, p_brand AS it
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ), ntx AS (
                SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM b
            ), f AS (
                SELECT it, CAST(count(*) AS BIGINT) AS nf
                FROM b GROUP BY it
            ), pb AS (
                SELECT bk, it FROM b JOIN f USING (it) WHERE nf >= 100
            ), sized AS (
                SELECT bk FROM pb GROUP BY bk
                HAVING count(*) BETWEEN 2 AND 64
            ), pairs AS (
                SELECT x.it AS a, y.it AS b2,
                       CAST(count(*) AS BIGINT) AS n_ab
                FROM pb x
                JOIN pb y ON x.bk = y.bk AND x.it < y.it
                JOIN sized s ON s.bk = x.bk
                GROUP BY x.it, y.it HAVING count(*) >= 100
            ), directed AS (
                SELECT a, b2 AS b, n_ab FROM pairs
                UNION ALL SELECT b2, a, n_ab FROM pairs
            ), scored AS (
                SELECT d.a AS antecedent, d.b AS consequent,
                       d.n_ab AS support, fa.nf AS n_a, fb.nf AS n_b,
                       CAST(round(CAST(d.n_ab AS DOUBLE) * 1000000.0
                                  / CAST(fa.nf AS DOUBLE)) AS BIGINT)
                           AS confidence_e6,
                       CAST(round(CAST(d.n_ab * ntx.n AS DOUBLE) * 1000000.0
                                  / CAST(fa.nf * fb.nf AS DOUBLE)) AS BIGINT)
                           AS lift_e6,
                       CASE WHEN fa.nf > d.n_ab THEN
                           CAST(round(CAST((ntx.n - fb.nf) * fa.nf AS DOUBLE)
                                      * 1000000.0
                                      / CAST(ntx.n * (fa.nf - d.n_ab)
                                             AS DOUBLE)) AS BIGINT)
                       END AS conviction_e6
                FROM directed d
                JOIN f fa ON fa.it = d.a
                JOIN f fb ON fb.it = d.b
                CROSS JOIN ntx
            )
            SELECT * FROM scored
            WHERE confidence_e6 >= 100000
            ORDER BY antecedent, consequent
        """,
        "decision_tree": """
            WITH binned AS (
                SELECT CAST(floor(l_quantity / 5.0) AS BIGINT) AS ba,
                       CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bb,
                       CAST(CASE WHEN l_returnflag = 'R'
                                 THEN 1 ELSE 0 END AS BIGINT) AS y
                FROM lineitem
            ), h2 AS (
                SELECT ba, bb, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(y) AS BIGINT) AS pos
                FROM binned GROUP BY ba, bb
            ), ha AS (
                SELECT ba, CAST(SUM(n) AS BIGINT) AS n,
                       CAST(SUM(pos) AS BIGINT) AS pos
                FROM h2 GROUP BY ba
            ), cuma AS (
                SELECT ba AS bin,
                       SUM(n) OVER w AS nl, SUM(pos) OVER w AS posl,
                       SUM(n) OVER () AS nt, SUM(pos) OVER () AS post,
                       max(ba) OVER () AS mx
                FROM ha
                WINDOW w AS (ORDER BY ba
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), scra AS (
                SELECT bin, nl AS n_left, posl AS pos_left,
                       nt - nl AS n_right, post - posl AS pos_right,
                       CAST(posl * posl + (nl - posl) * (nl - posl)
                            AS DOUBLE) / CAST(nl AS DOUBLE)
                       + CAST((post - posl) * (post - posl)
                              + ((nt - nl) - (post - posl))
                                * ((nt - nl) - (post - posl))
                              AS DOUBLE) / CAST(nt - nl AS DOUBLE) AS score
                FROM cuma WHERE bin < mx
            ), root AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        ORDER BY score DESC, bin ASC) AS rk
                    FROM scra) WHERE rk = 1
            ), sided AS (
                SELECT CASE WHEN h2.ba <= root.bin
                            THEN 'L' ELSE 'R' END AS node,
                       h2.bb,
                       CAST(SUM(h2.n) AS BIGINT) AS n,
                       CAST(SUM(h2.pos) AS BIGINT) AS pos
                FROM h2 CROSS JOIN root
                GROUP BY 1, 2
            ), cumb AS (
                SELECT node, bb AS bin,
                       SUM(n) OVER w AS nl, SUM(pos) OVER w AS posl,
                       SUM(n) OVER p AS nt, SUM(pos) OVER p AS post,
                       max(bb) OVER p AS mx
                FROM sided
                WINDOW w AS (PARTITION BY node ORDER BY bb
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                p AS (PARTITION BY node)
            ), scrb AS (
                SELECT node, bin, nl AS n_left, posl AS pos_left,
                       nt - nl AS n_right, post - posl AS pos_right,
                       CAST(posl * posl + (nl - posl) * (nl - posl)
                            AS DOUBLE) / CAST(nl AS DOUBLE)
                       + CAST((post - posl) * (post - posl)
                              + ((nt - nl) - (post - posl))
                                * ((nt - nl) - (post - posl))
                              AS DOUBLE) / CAST(nt - nl AS DOUBLE) AS score
                FROM cumb WHERE bin < mx
            ), children AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY node
                        ORDER BY score DESC, bin ASC) AS rk
                    FROM scrb) WHERE rk = 1
            )
            SELECT 'root' AS node, 'l_quantity' AS split_col,
                   bin AS split_bin, (bin + 1) * 5.0 AS split_upper,
                   CAST(n_left AS BIGINT) AS n_left,
                   CAST(pos_left AS BIGINT) AS pos_left,
                   CAST(n_right AS BIGINT) AS n_right,
                   CAST(pos_right AS BIGINT) AS pos_right,
                   CAST(round(score * 1000000.0) AS BIGINT) AS score_e6
            FROM root
            UNION ALL
            SELECT node, 'l_extendedprice', bin, (bin + 1) * 5000.0,
                   CAST(n_left AS BIGINT), CAST(pos_left AS BIGINT),
                   CAST(n_right AS BIGINT), CAST(pos_right AS BIGINT),
                   CAST(round(score * 1000000.0) AS BIGINT)
            FROM children
            ORDER BY node
        """,
        "ar_model": """
            WITH per_t AS (
                SELECT CAST(ts AS DATE) AS t,
                       CAST(count(*) AS BIGINT) AS y
                FROM events GROUP BY 1
            ), m AS (
                SELECT CAST(round(CAST(SUM(y) AS DOUBLE)
                                  / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
                           AS ybar
                FROM per_t
            ), lagd AS (
                SELECT y - ybar AS z,
                       lag(y, 1) OVER (ORDER BY t) - ybar AS z1,
                       lag(y, 2) OVER (ORDER BY t) - ybar AS z2,
                       ybar
                FROM per_t CROSS JOIN m
            ), v AS (
                SELECT * FROM lagd WHERE z2 IS NOT NULL
            ), mm AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
                       CAST(max(ybar) AS BIGINT) AS mean_y,
                       CAST(SUM(z1 * z1) AS BIGINT) AS a,
                       CAST(SUM(z1 * z2) AS BIGINT) AS b,
                       CAST(SUM(z2 * z2) AS BIGINT) AS c,
                       CAST(SUM(z1 * z) AS BIGINT) AS e,
                       CAST(SUM(z2 * z) AS BIGINT) AS f
                FROM v
            )
            SELECT n_obs, mean_y,
                   CASE WHEN a * c - b * b <> 0 THEN
                       CAST(round(CAST(c * e - b * f AS DOUBLE) * 1000000.0
                                  / CAST(a * c - b * b AS DOUBLE)) AS BIGINT)
                   END AS phi1_e6,
                   CASE WHEN a * c - b * b <> 0 THEN
                       CAST(round(CAST(a * f - b * e AS DOUBLE) * 1000000.0
                                  / CAST(a * c - b * b AS DOUBLE)) AS BIGINT)
                   END AS phi2_e6
            FROM mm
        """,
        "burst_detect": """
            WITH per_t AS (
                SELECT event_type AS key, CAST(ts AS DATE) AS t,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1, 2
            ), tr AS (
                SELECT key, t, cnt,
                       CAST(SUM(cnt) OVER w AS BIGINT) AS trail_sum,
                       CAST(COUNT(cnt) OVER w AS BIGINT) AS trail_n
                FROM per_t
                WINDOW w AS (PARTITION BY key ORDER BY t
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT key, t, cnt, trail_sum, trail_n,
                   CAST(round(CAST(cnt * trail_n AS DOUBLE) * 1000000.0
                              / CAST(trail_sum AS DOUBLE)) AS BIGINT)
                       AS intensity_e6
            FROM tr
            WHERE trail_n = 7 AND cnt * 7 * 4 > 5 * trail_sum
            ORDER BY key, t
        """,
        "nelson_aalen": """
            WITH per_c AS (
                SELECT o_custkey,
                       CAST(date_diff('day', min(o_orderdate),
                                      max(o_orderdate)) AS BIGINT) AS t,
                       CAST(max(CASE WHEN o_orderstatus = 'F'
                                     THEN 1 ELSE 0 END) AS INTEGER) AS e
                FROM orders GROUP BY o_custkey
            ), per_t AS (
                SELECT t, CAST(SUM(e) AS BIGINT) AS d,
                       CAST(SUM(1 - e) AS BIGINT) AS c
                FROM per_c GROUP BY t
            ), ar AS (
                SELECT *, CAST(SUM(d + c) OVER (
                    ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_at_risk
                FROM per_t
            ), terms AS (
                SELECT t, n_at_risk, d AS n_events, c AS n_censored,
                       CAST(round(CAST(d AS DOUBLE) * 1000000000.0
                                  / CAST(n_at_risk AS DOUBLE)) AS BIGINT)
                           AS dh,
                       CAST(round(CAST(d AS DOUBLE) * 1000000000000.0
                                  / CAST(n_at_risk * n_at_risk AS DOUBLE))
                            AS BIGINT) AS dv
                FROM ar
            )
            SELECT t, n_at_risk, n_events, n_censored,
                   CAST(SUM(dh) OVER (ORDER BY t) AS BIGINT) AS h_e9,
                   CAST(SUM(dv) OVER (ORDER BY t) AS BIGINT) AS var_e12
            FROM terms ORDER BY t
        """,
        "croston": """
            WITH f AS (
                SELECT event_type, CAST(ts AS DATE) AS d
                FROM events WHERE value >= 200
            ), b AS (
                SELECT min(d) AS d0, max(d) AS d1 FROM f
            ), daily AS (
                SELECT event_type, d, CAST(count(*) AS DOUBLE) AS x
                FROM f GROUP BY 1, 2
            ), spine AS (
                SELECT k.event_type, CAST(u.gd AS DATE) AS d
                FROM (SELECT DISTINCT event_type FROM f) k
                CROSS JOIN (
                    SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS gd
                    FROM b
                ) u
            ), dense AS (
                SELECT s.event_type, s.d, coalesce(daily.x, 0.0) AS x
                FROM spine s
                LEFT JOIN daily
                  ON daily.event_type = s.event_type AND daily.d = s.d
            ), ser AS (
                SELECT event_type, list(x ORDER BY d) AS xs
                FROM dense GROUP BY 1
            ), folded AS (
                SELECT event_type,
                       CAST(len(xs) AS BIGINT) AS n_periods,
                       CAST(len(list_filter(xs, v -> v > 0)) AS BIGINT)
                           AS n_demand,
                       list_reduce(
                           list_prepend(
                               [0.0, 0.0, 0.0, 0.0],
                               list_transform(xs, v -> [v, 0.0, 0.0, 0.0])),
                           (acc, e) -> [
                               CASE WHEN e[1] > 0 THEN
                                   CASE WHEN acc[4] = 1
                                        THEN 0.25 * e[1] + 0.75 * acc[1]
                                        ELSE e[1] END
                               ELSE acc[1] END,
                               CASE WHEN e[1] > 0 THEN
                                   CASE WHEN acc[4] = 1
                                        THEN 0.25 * (acc[3] + 1)
                                             + 0.75 * acc[2]
                                        ELSE acc[3] + 1 END
                               ELSE acc[2] END,
                               CASE WHEN e[1] > 0 THEN 0.0
                                    ELSE acc[3] + 1 END,
                               CASE WHEN e[1] > 0 THEN 1.0
                                    ELSE acc[4] END
                           ]) AS st
                FROM ser
            )
            SELECT event_type, n_periods, n_demand,
                   CASE WHEN st[4] = 1
                        THEN CAST(round(st[1] * 10000) AS BIGINT) END
                       AS z_e4,
                   CASE WHEN st[4] = 1
                        THEN CAST(round(st[2] * 10000) AS BIGINT) END
                       AS p_e4,
                   CASE WHEN st[4] = 1
                        THEN CAST(round(st[1] / st[2] * 1000000) AS BIGINT)
                        END AS rate_e6
            FROM folded
        """,
        "rolling_distinct": """
            WITH p AS (
                SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS d
                FROM events
            ), a AS (
                SELECT DISTINCT event_type, d FROM p
            )
            SELECT a.event_type, a.d AS day,
                   CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_active
            FROM a
            JOIN p ON p.event_type = a.event_type
                  AND p.d BETWEEN a.d - 6 AND a.d
            GROUP BY 1, 2
        """,
        "xcorr_leadlag": """
            WITH a AS (
                SELECT CAST(ts AS DATE) AS da,
                       CAST(count(*) AS BIGINT) AS xa
                FROM events WHERE event_type = 'signup' GROUP BY 1
            ), b AS (
                SELECT CAST(ts AS DATE) AS db,
                       CAST(count(*) AS BIGINT) AS xb
                FROM events WHERE event_type = 'purchase' GROUP BY 1
            ), lags AS (
                SELECT CAST(unnest(generate_series(-7, 7)) AS INTEGER)
                    AS lag
            ), m AS (
                SELECT lag, CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(xa AS HUGEINT)) AS sa,
                       sum(CAST(xb AS HUGEINT)) AS sb,
                       sum(CAST(xa AS HUGEINT) * xb) AS sab,
                       sum(CAST(xa AS HUGEINT) * xa) AS saa,
                       sum(CAST(xb AS HUGEINT) * xb) AS sbb
                FROM a CROSS JOIN lags
                JOIN b ON b.db = a.da + lag
                GROUP BY lag
            )
            SELECT lag, n AS n_days,
                   CASE WHEN n >= 3 AND (n * saa - sa * sa) > 0
                             AND (n * sbb - sb * sb) > 0
                        THEN CAST(round(
                            CAST(n * sab - sa * sb AS DOUBLE)
                            / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                               * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
                            * 1000000) AS BIGINT)
                   END AS r_e6
            FROM m ORDER BY lag
        """,
        "zone_map": """
            SELECT CAST(l_orderkey // 2048 AS BIGINT) AS zone,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(l_shipdate) AS min_l_shipdate,
                   max(l_shipdate) AS max_l_shipdate,
                   min(l_extendedprice) AS min_l_extendedprice,
                   max(l_extendedprice) AS max_l_extendedprice,
                   CAST(CASE WHEN max(l_shipdate) >= DATE '1994-01-01'
                              AND min(l_shipdate) <= DATE '1994-12-31'
                             THEN 1 ELSE 0 END AS INTEGER) AS scan_ship94,
                   CAST(CASE WHEN max(l_extendedprice) >= 90000.0
                             THEN 1 ELSE 0 END AS INTEGER) AS scan_price_hi
            FROM lineitem GROUP BY 1 ORDER BY zone
        """,
        "smd_balance": _smd_balance_sql(),
        "ams_f2": _ams_f2_sql(),
        "cms_heavy_hitters": _cms_heavy_hitters_sql(),
        "hilbert_code": _hilbert_oracle_sql(),
        "interval_merge": """
            WITH iv AS (
                SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS s,
                       CAST(l_shipdate AS DATE)
                           + CAST(l_quantity AS INTEGER) AS e
                FROM lineitem WHERE l_suppkey <= 100 AND l_quantity >= 48
            ), w1 AS (
                SELECT k, s, e,
                       max(e) OVER (PARTITION BY k ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) AS pme
                FROM iv
            ), w2 AS (
                SELECT k, s, e,
                       sum(CASE WHEN pme IS NULL OR s > pme
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY k ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS island
                FROM w1
            )
            SELECT k AS l_suppkey, min(s) AS span_start,
                   max(e) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_intervals
            FROM w2 GROUP BY k, island
        """,
        "rmst": """
            WITH per_c AS (
                SELECT o_custkey,
                       CAST(date_diff('day', min(o_orderdate),
                                      max(o_orderdate)) AS BIGINT) AS t,
                       CAST(max(CASE WHEN o_orderstatus = 'F'
                                     THEN 1 ELSE 0 END) AS INTEGER) AS e
                FROM orders GROUP BY o_custkey
            ), per_t AS (
                SELECT t, CAST(SUM(e) AS BIGINT) AS d,
                       CAST(SUM(1 - e) AS BIGINT) AS c
                FROM per_c GROUP BY t
            ), curve AS (
                SELECT list([CAST(d AS DOUBLE), CAST(d + c AS DOUBLE),
                             CAST(t AS DOUBLE), CAST(c AS DOUBLE)]
                            ORDER BY t) AS arr,
                       CAST(SUM(d + c) AS BIGINT) AS n_total
                FROM per_t
            ), km AS (
                SELECT CAST(arr[i][3] AS BIGINT) AS t,
                       n_total
                       - CAST(COALESCE(list_sum(list_transform(arr[1:i - 1],
                             s -> CAST(s[2] AS BIGINT))), 0) AS BIGINT)
                           AS n_at_risk,
                       CAST(round(
                           list_reduce(
                               list_prepend([1.0, 0.0],
                                   list_transform(arr[1:i],
                                       s -> [s[1], s[2]])),
                               (acc, x) -> [
                                   acc[1] * (1.0 - x[1]
                                       / (CAST(n_total AS DOUBLE) - acc[2])),
                                   acc[2] + x[2]])[1]
                           * 1000000) AS BIGINT) AS s_e6
                FROM curve,
                     LATERAL unnest(generate_series(1, len(arr))) AS u(i)
            ), seg AS (
                SELECT t, n_at_risk, s_e6,
                       coalesce(lead(t) OVER (ORDER BY t), 1000) AS nt,
                       row_number() OVER (ORDER BY t) AS rn
                FROM km
            )
            SELECT CAST(1000 AS BIGINT) AS tau,
                   CAST(max(CASE WHEN rn = 1 THEN n_at_risk END) AS BIGINT)
                       AS n_subjects,
                   CAST(max(CASE WHEN rn = 1
                                 THEN 1000000 * least(t, 1000) END)
                        + sum(CAST(s_e6 AS HUGEINT)
                              * (least(nt, 1000) - least(t, 1000)))
                        AS BIGINT) AS rmst_e6
            FROM seg
        """,
        "lorenz_curve": """
            WITH per_c AS (
                SELECT o_custkey,
                       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS rev_c
                FROM orders GROUP BY o_custkey
            ), ranked AS (
                SELECT rev_c,
                       CAST(ntile(10) OVER (ORDER BY rev_c, o_custkey)
                            AS INTEGER) AS bucket
                FROM per_c
            ), per_b AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS n_units,
                       sum(CAST(rev_c AS HUGEINT)) AS bv
                FROM ranked GROUP BY bucket
            )
            SELECT bucket, n_units, CAST(bv AS BIGINT) AS bucket_value,
                   CAST(round(
                       CAST(sum(bv) OVER (ORDER BY bucket
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND CURRENT ROW)
                            AS DOUBLE)
                       / CAST(sum(bv) OVER () AS DOUBLE) * 1000000)
                        AS BIGINT) AS cum_share_e6
            FROM per_b ORDER BY bucket
        """,
        "t_closeness": """
            WITH cells AS (
                SELECT c_mktsegment, c_nationkey,
                       CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv,
                       CAST(count(*) AS BIGINT) AS c
                FROM customer GROUP BY 1, 2, 3
            ), domain AS (
                SELECT sv, CAST(sum(c) AS BIGINT) AS gc
                FROM cells GROUP BY sv
            ), mt AS (
                SELECT CAST(count(*) AS BIGINT) AS m,
                       CAST(sum(gc) AS BIGINT) AS n_tot
                FROM domain
            ), grps AS (
                SELECT DISTINCT c_mktsegment, c_nationkey FROM cells
            ), dense AS (
                SELECT g.c_mktsegment, g.c_nationkey, d.sv, d.gc,
                       CAST(coalesce(c.c, 0) AS BIGINT) AS c
                FROM grps g CROSS JOIN domain d
                LEFT JOIN cells c
                  ON c.c_mktsegment = g.c_mktsegment
                 AND c.c_nationkey = g.c_nationkey AND c.sv = d.sv
            ), cum AS (
                SELECT c_mktsegment, c_nationkey, sv,
                       sum(c) OVER (PARTITION BY c_mktsegment, c_nationkey
                                    ORDER BY sv
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cg,
                       sum(gc) OVER (PARTITION BY c_mktsegment, c_nationkey
                                     ORDER BY sv
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS cc,
                       sum(c) OVER (PARTITION BY c_mktsegment,
                                                 c_nationkey) AS n_g,
                       row_number() OVER (PARTITION BY c_mktsegment,
                                                       c_nationkey
                                          ORDER BY sv) AS rn
                FROM dense
            ), terms AS (
                SELECT c_mktsegment, c_nationkey, n_g, m, n_tot,
                       CASE WHEN rn < m THEN
                           abs(CAST(cg AS HUGEINT) * n_tot
                               - CAST(cc AS HUGEINT) * n_g)
                       ELSE CAST(0 AS HUGEINT) END AS term
                FROM cum CROSS JOIN mt
            ), agg AS (
                SELECT c_mktsegment, c_nationkey,
                       CAST(n_g AS BIGINT) AS n,
                       CASE WHEN m > 1 THEN
                           CAST(round(CAST(sum(term) AS DOUBLE)
                               / CAST(CAST(n_g AS HUGEINT) * n_tot * (m - 1)
                                      AS DOUBLE)
                               * 1000000) AS BIGINT)
                       END AS t_e6
                FROM terms GROUP BY c_mktsegment, c_nationkey, n_g, m, n_tot
            )
            SELECT c_mktsegment, c_nationkey, n, t_e6,
                   CAST(CASE WHEN t_e6 IS NULL THEN NULL
                             WHEN t_e6 <= 200000 THEN 1 ELSE 0 END
                        AS INTEGER) AS close
            FROM agg
        """,
        "pq_encode": """
            WITH pts AS (
                SELECT vec_id AS pid,
                       list_transform(embedding, x ->
                           CAST(round(CAST(x AS DOUBLE) * 1000000.0)
                                AS BIGINT)) AS v
                FROM embeddings
            ), pd AS (
                SELECT pid, CAST((i - 1) // 16 AS INTEGER) AS sub, i,
                       v[i] AS x
                FROM pts,
                     LATERAL unnest(generate_series(1, len(v))) AS u(i)
            ), c0 AS (
                SELECT sub, pid AS cid, i, x AS cx FROM pd
                WHERE pid IN (SELECT pid FROM pts ORDER BY pid LIMIT 4)
            ), d1 AS (
                SELECT pd.pid, pd.sub, c.cid,
                       SUM((pd.x - c.cx) * (pd.x - c.cx)) AS d2
                FROM pd JOIN c0 c ON pd.i = c.i AND pd.sub = c.sub
                GROUP BY pd.pid, pd.sub, c.cid
            ), a1 AS (
                SELECT pid, sub, cid FROM (
                    SELECT pid, sub, cid, row_number() OVER (
                        PARTITION BY pid, sub ORDER BY d2, cid) AS rk
                    FROM d1) WHERE rk = 1
            ), c1 AS (
                SELECT a1.sub, a1.cid, pd.i,
                       CAST(round(CAST(SUM(pd.x) AS DOUBLE)
                                  / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
                           AS cx
                FROM pd JOIN a1 ON pd.pid = a1.pid AND pd.sub = a1.sub
                GROUP BY a1.sub, a1.cid, pd.i
            ), d2t AS (
                SELECT pd.pid, pd.sub, c.cid,
                       SUM((pd.x - c.cx) * (pd.x - c.cx)) AS d2
                FROM pd JOIN c1 c ON pd.i = c.i AND pd.sub = c.sub
                GROUP BY pd.pid, pd.sub, c.cid
            ), a2 AS (
                SELECT pid, sub, cid, d2 FROM (
                    SELECT pid, sub, cid, d2, row_number() OVER (
                        PARTITION BY pid, sub ORDER BY d2, cid) AS rk
                    FROM d2t) WHERE rk = 1
            ), cs AS (
                SELECT sub, cid, CAST(SUM(cx) AS BIGINT) AS cent_sum
                FROM c1 GROUP BY sub, cid
            )
            SELECT a2.sub, a2.cid, CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(a2.d2) AS BIGINT) AS sum_d2, cs.cent_sum
            FROM a2 JOIN cs ON cs.sub = a2.sub AND cs.cid = a2.cid
            GROUP BY a2.sub, a2.cid, cs.cent_sum
            ORDER BY a2.sub, a2.cid
        """,
        "time_to_convert": """
            WITH t0 AS (
                SELECT user_id, min(ts) AS t0
                FROM events WHERE event_type = 'signup'
                GROUP BY user_id
            ), lat AS (
                SELECT e.user_id,
                       date_diff('second',
                                 TIMESTAMP '1970-01-01 00:00:00',
                                 min(e.ts))
                       - date_diff('second',
                                   TIMESTAMP '1970-01-01 00:00:00',
                                   max(t0.t0)) AS lat_s
                FROM events e JOIN t0 ON t0.user_id = e.user_id
                WHERE e.event_type = 'purchase' AND e.ts >= t0.t0
                GROUP BY e.user_id
            ), ranked AS (
                SELECT lat_s,
                       row_number() OVER (ORDER BY lat_s) AS rn,
                       count(*) OVER () AS n
                FROM lat
            )
            SELECT CAST(max(n) AS BIGINT) AS n_converted,
                   min(lat_s) AS min_s,
                   max(CASE WHEN rn = CAST(ceil(n * 0.25) AS INTEGER)
                            THEN lat_s END) AS p25_s,
                   max(CASE WHEN rn = CAST(ceil(n * 0.5) AS INTEGER)
                            THEN lat_s END) AS p50_s,
                   max(CASE WHEN rn = CAST(ceil(n * 0.75) AS INTEGER)
                            THEN lat_s END) AS p75_s,
                   max(lat_s) AS max_s
            FROM ranked
        """,
        "business_days": """
            WITH li AS (
                SELECT l_orderkey, CAST(min(CAST(l_shipdate AS DATE))
                                        AS DATE) AS first_ship
                FROM lineitem GROUP BY l_orderkey
            ), j AS (
                SELECT o_orderpriority,
                       (5 * (date_diff('day', DATE '1970-01-05',
                                       first_ship) // 7)
                        + least(date_diff('day', DATE '1970-01-05',
                                          first_ship) % 7, 5))
                       - (5 * (date_diff('day', DATE '1970-01-05',
                                         CAST(o_orderdate AS DATE)) // 7)
                          + least(date_diff('day', DATE '1970-01-05',
                                            CAST(o_orderdate AS DATE))
                                  % 7, 5)) AS bd
                FROM orders JOIN li ON o_orderkey = l_orderkey
            )
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(bd) AS BIGINT) AS total_bd,
                   CAST(round(CAST(sum(bd) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) * 1000000)
                        AS BIGINT) AS avg_bd_e6
            FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "seq_patterns": """
            WITH e AS (
                SELECT user_id AS u, event_type AS t,
                       date_diff('second',
                                 TIMESTAMP '1970-01-01 00:00:00', ts) AS s
                FROM events
            ), pairs AS (
                SELECT a.t AS type_a, b.t AS type_b,
                       CAST(count(DISTINCT a.u) AS BIGINT) AS n_users
                FROM e a JOIN e b ON a.u = b.u
                WHERE b.s - a.s > 0 AND b.s - a.s <= 1800
                GROUP BY 1, 2
            ), heads AS (
                SELECT t AS type_a,
                       CAST(count(DISTINCT u) AS BIGINT) AS n_head
                FROM e GROUP BY t
            )
            SELECT type_a, type_b, n_users,
                   CAST(round(CAST(n_users AS DOUBLE)
                              / CAST(n_head AS DOUBLE) * 1000000)
                        AS BIGINT) AS confidence_e6
            FROM pairs JOIN heads USING (type_a)
            WHERE n_users >= 2
            ORDER BY type_a, type_b
        """,
        "revenue_recognition": """
            WITH base AS (
                SELECT o_orderkey AS cid,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS amt,
                       CAST(o_orderdate AS DATE) AS s,
                       CAST(o_orderdate AS DATE) + 90 AS e,
                       CAST(90 AS BIGINT) AS td
                FROM orders
            ), months AS (
                SELECT cid, amt, s, e, td, CAST(gm AS DATE) AS month
                FROM base,
                     LATERAL unnest(generate_series(
                         date_trunc('month', s),
                         date_trunc('month', e - 1),
                         INTERVAL 1 MONTH)) AS u(gm)
            ), sl AS (
                SELECT cid, amt, month,
                       CAST(date_diff('day', greatest(s, month),
                                      least(e, CAST(month + INTERVAL 1 MONTH
                                                    AS DATE)))
                            AS BIGINT) AS days,
                       td
                FROM months
            ), al AS (
                SELECT cid, amt, month, days,
                       CAST(floor(CAST(amt * days AS DOUBLE)
                                  / CAST(td AS DOUBLE)) AS BIGINT) AS fa
                FROM sl
            ), fixed AS (
                SELECT month,
                       CASE WHEN month = max(month) OVER (PARTITION BY cid)
                            THEN fa + (amt - sum(fa) OVER (PARTITION BY cid))
                            ELSE fa END AS recognized
                FROM al
            )
            SELECT month, CAST(count(*) AS BIGINT) AS n_slices,
                   CAST(sum(recognized) AS BIGINT) AS recognized_cents
            FROM fixed GROUP BY month ORDER BY month
        """,
        "ndcg_eval": _ndcg_oracle_sql(),
        "ohlc_bars": """
            WITH t AS (
                SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events
            ), r AS (
                SELECT *,
                       row_number() OVER (PARTITION BY event_type, day
                                          ORDER BY ts, event_id) AS rn_a,
                       row_number() OVER (PARTITION BY event_type, day
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn_d
                FROM t
            )
            SELECT event_type, day,
                   max(CASE WHEN rn_a = 1 THEN v END) AS open_c,
                   max(v) AS high_c,
                   min(v) AS low_c,
                   max(CASE WHEN rn_d = 1 THEN v END) AS close_c,
                   CAST(count(*) AS BIGINT) AS volume
            FROM r GROUP BY 1, 2
        """,
        "brier_decomposition": """
            WITH yy AS (
                SELECT o_custkey,
                       max(CASE WHEN o_orderstatus = 'F'
                                THEN 1 ELSE 0 END) AS y
                FROM orders GROUP BY o_custkey
            ), base AS (
                SELECT least(greatest((c_acctbal + 1000) / 11000, 0.0),
                             1.0) AS p,
                       coalesce(yy.y, 0) AS y
                FROM customer LEFT JOIN yy ON o_custkey = c_custkey
            ), qq AS (
                SELECT CAST(round(p * 1000000) AS BIGINT) AS q,
                       CAST(y AS BIGINT) AS y,
                       least(CAST(floor(CAST(round(p * 1000000) AS BIGINT)
                                        / 100000.0) AS INTEGER), 9) AS b
                FROM base
            ), per_b AS (
                SELECT b, CAST(count(*) AS BIGINT) AS n_b,
                       sum(CAST(q AS HUGEINT)) AS sp,
                       sum(CAST(y AS HUGEINT)) AS sy,
                       sum(CAST(q - y * 1000000 AS HUGEINT)
                           * CAST(q - y * 1000000 AS HUGEINT)) AS sq_err
                FROM qq GROUP BY b
            ), tot AS (
                SELECT CAST(sum(n_b) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS n_bins_used,
                       sum(sy) AS sy_t, sum(sq_err) AS sq_err_t
                FROM per_b
            ), per AS (
                SELECT * FROM per_b CROSS JOIN tot
            ), terms AS (
                SELECT n, n_bins_used, sy_t, sq_err_t,
                       CAST(round(CAST((sp - sy * 1000000)
                                       * (sp - sy * 1000000) AS DOUBLE)
                           / CAST(CAST(n_b AS HUGEINT) * 1000000 AS DOUBLE))
                           AS BIGINT) AS rt,
                       CAST(round(CAST((sy * n - sy_t * n_b)
                                       * (sy * n - sy_t * n_b) * 1000000
                                       AS DOUBLE)
                           / CAST(CAST(n_b AS HUGEINT) * n * n AS DOUBLE))
                           AS BIGINT) AS st
                FROM per
            ), summed AS (
                SELECT n, n_bins_used, sy_t, sq_err_t,
                       CAST(sum(rt) AS BIGINT) AS rel_num,
                       CAST(sum(st) AS BIGINT) AS res_num
                FROM terms GROUP BY n, n_bins_used, sy_t, sq_err_t
            )
            SELECT n, n_bins_used,
                   CAST(round(CAST(sq_err_t AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * 1000000 AS DOUBLE))
                       AS BIGINT) AS brier_e6,
                   CAST(round(CAST(rel_num AS DOUBLE) / CAST(n AS DOUBLE))
                        AS BIGINT) AS rel_e6,
                   CAST(round(CAST(res_num AS DOUBLE) / CAST(n AS DOUBLE))
                        AS BIGINT) AS res_e6,
                   CAST(round(CAST(sy_t * (CAST(n AS HUGEINT) - sy_t)
                                   * 1000000 AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * n AS DOUBLE))
                       AS BIGINT) AS unc_e6
            FROM summed
        """,
        "trimmed_mean": """
            WITH ranked AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice,
                                                   o_orderkey) AS rn,
                       count(*) OVER (PARTITION BY o_orderpriority) AS n
                FROM orders
            ), kk AS (
                SELECT *, CAST(floor(n * 10 / 100) AS BIGINT) AS k
                FROM ranked
            ), kept AS (
                SELECT * FROM kk WHERE rn > k AND rn <= n - k
            )
            SELECT g AS o_orderpriority,
                   CAST(n AS BIGINT) AS n,
                   k AS n_trimmed_each_side,
                   CAST(round(CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) / 100.0
                              * 1000000) AS BIGINT) AS trimmed_mean_e6
            FROM kept GROUP BY g, n, k ORDER BY g
        """,
        "effect_sizes": """
            WITH two AS (
                SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS is_a,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events WHERE event_type IN ('purchase', 'view')
            ), m AS (
                SELECT is_a, CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(v AS HUGEINT)) AS s,
                       sum(CAST(v AS HUGEINT) * v) AS ss
                FROM two GROUP BY is_a
            ), pair AS (
                SELECT a.n AS na, a.s AS sa, a.ss AS ssa,
                       b.n AS nb, b.s AS sb, b.ss AS ssb
                FROM (SELECT * FROM m WHERE is_a = 1) a
                CROSS JOIN (SELECT * FROM m WHERE is_a = 0) b
            ), vals AS (
                SELECT value AS v,
                       CAST(count(*) FILTER (WHERE event_type = 'purchase')
                            AS BIGINT) AS na_v,
                       CAST(count(*) FILTER (WHERE event_type = 'view')
                            AS BIGINT) AS nb_v
                FROM events WHERE event_type IN ('purchase', 'view')
                GROUP BY value
            ), cum AS (
                SELECT *, na_v + nb_v AS n_v,
                       COALESCE(SUM(na_v + nb_v) OVER (
                           ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cb
                FROM vals
            ), uagg AS (
                SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
                       CAST(SUM(nb_v) AS BIGINT) AS n_b,
                       CAST(SUM(na_v * (2 * cb + n_v + 1))
                            - SUM(na_v) * (SUM(na_v) + 1) AS BIGINT) AS u2_a
                FROM cum
            ), dd AS (
                SELECT pair.na AS n_a, pair.nb AS n_b, uagg.u2_a,
                       CASE WHEN (
                           (CAST(na - 1 AS DOUBLE)
                            * (CAST(na * ssa - sa * sa AS DOUBLE)
                               / CAST(na * (na - 1) AS DOUBLE))
                            + CAST(nb - 1 AS DOUBLE)
                              * (CAST(nb * ssb - sb * sb AS DOUBLE)
                                 / CAST(nb * (nb - 1) AS DOUBLE)))
                           / CAST(na + nb - 2 AS DOUBLE)) > 0
                       THEN CAST(round(
                           (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                            - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
                           / sqrt((CAST(na - 1 AS DOUBLE)
                                   * (CAST(na * ssa - sa * sa AS DOUBLE)
                                      / CAST(na * (na - 1) AS DOUBLE))
                                   + CAST(nb - 1 AS DOUBLE)
                                     * (CAST(nb * ssb - sb * sb AS DOUBLE)
                                        / CAST(nb * (nb - 1) AS DOUBLE)))
                                  / CAST(na + nb - 2 AS DOUBLE))
                           * 1000000) AS BIGINT)
                       END AS cohens_d_e6
                FROM pair CROSS JOIN uagg
            )
            SELECT n_a, n_b, u2_a, cohens_d_e6,
                   CAST(round(
                       CAST(u2_a - CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
                       / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
                       * 1000000) AS BIGINT) AS cliffs_delta_e6
            FROM dd
        """,
        "frequent_triples": """
            WITH baskets AS (
                SELECT DISTINCT l_orderkey AS bk, p_brand AS it
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ), f1 AS (
                SELECT it FROM baskets GROUP BY it
                HAVING count(*) >= 20
            ), f AS (
                SELECT bk, it FROM baskets JOIN f1 USING (it)
            ), p2 AS (
                SELECT a.it AS ia, b.it AS ib
                FROM f a JOIN f b ON a.bk = b.bk AND a.it < b.it
                GROUP BY 1, 2 HAVING count(*) >= 20
            ), cand AS (
                SELECT a.bk, a.it AS ia, b.it AS ib
                FROM f a JOIN f b ON a.bk = b.bk AND a.it < b.it
                JOIN p2 ON p2.ia = a.it AND p2.ib = b.it
            )
            SELECT cand.ia AS item_a, cand.ib AS item_b, c.it AS item_c,
                   CAST(count(*) AS BIGINT) AS support
            FROM cand JOIN f c ON c.bk = cand.bk AND cand.ib < c.it
            GROUP BY 1, 2, 3 HAVING count(*) >= 20
            ORDER BY support DESC, item_a, item_b, item_c
        """,
        "readability": """
            WITH c AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '\\S+'))
                            AS BIGINT) AS n_words,
                       CAST(greatest(len(regexp_extract_all(text,
                                                            '[.!?]+')), 1)
                            AS BIGINT) AS n_sentences,
                       CAST(len(regexp_extract_all(text,
                                                   '[aeiouyAEIOUY]+'))
                            AS BIGINT) AS n_syllables
                FROM documents
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0 THEN
                       CAST(round((206.835
                           - 1.015 * (CAST(n_words AS DOUBLE)
                                      / CAST(n_sentences AS DOUBLE))
                           - 84.6 * (CAST(n_syllables AS DOUBLE)
                                     / CAST(n_words AS DOUBLE)))
                           * 1000) AS BIGINT)
                   END AS flesch_e3
            FROM c
        """,
        "pairwise_diffs": """
            WITH m AS (
                SELECT o_orderpriority AS g,
                       CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS HUGEINT)) AS s,
                       sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS HUGEINT)
                           * CAST(round(o_totalprice * 100) AS BIGINT))
                           AS ss
                FROM orders GROUP BY o_orderpriority
            ), tot AS (
                SELECT CAST(sum(n) AS BIGINT) AS nt,
                       CAST(count(*) AS BIGINT) AS k,
                       -- HUGEINT term sum, mirroring the Spark side's
                       -- DECIMAL(38,0): per-group terms are ~n*ticks^2
                       -- and a bigint SUM wraps at larger sf
                       sum(CAST(round(
                           CAST(n * ss - s * s AS DOUBLE)
                           / CAST(n AS DOUBLE)) AS HUGEINT)) AS ssw_x
                FROM m
            )
            SELECT a.g AS group_a, b.g AS group_b,
                   a.n AS n_a, b.n AS n_b,
                   CAST(round((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                               - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
                              / 100.0 * 1000000) AS BIGINT) AS diff_e6,
                   CAST(round(sqrt(
                       (CAST(ssw_x AS DOUBLE) / CAST(nt - k AS DOUBLE))
                       * (1.0 / CAST(a.n AS DOUBLE)
                          + 1.0 / CAST(b.n AS DOUBLE)))
                       / 100.0 * 1000000) AS BIGINT) AS se_e6
            FROM m a CROSS JOIN m b CROSS JOIN tot
            WHERE a.g < b.g
            ORDER BY group_a, group_b
        """,
        "rbo": _rbo_oracle_sql(),
        "max_drawdown": """
            WITH daily AS (
                SELECT event_type AS k, CAST(ts AS DATE) AS d,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS dv
                FROM events GROUP BY 1, 2
            ), run AS (
                SELECT k, d,
                       CAST(sum(dv) OVER (PARTITION BY k ORDER BY d
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND CURRENT ROW)
                            AS BIGINT) AS cum
                FROM daily
            ), pk AS (
                SELECT k, d, cum,
                       CAST(max(cum) OVER (PARTITION BY k ORDER BY d
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW)
                            AS BIGINT) AS peak
                FROM run
            ), dd AS (
                SELECT k, d, peak, peak - cum AS dd FROM pk
            ), mx AS (
                SELECT *, max(dd) OVER (PARTITION BY k) AS mdd FROM dd
            )
            SELECT k AS event_type,
                   CAST(mdd AS BIGINT) AS max_drawdown_c,
                   min(d) AS trough_day,
                   CAST(arg_min(peak, d) AS BIGINT) AS peak_c
            FROM mx WHERE dd = mdd
            GROUP BY k, mdd ORDER BY event_type
        """,
        "cohort_ltv": """
            WITH base AS (
                SELECT o_custkey AS u,
                       date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS amt
                FROM orders
            ), firsts AS (
                SELECT u, min(m) AS cohort_month FROM base GROUP BY u
            ), j AS (
                SELECT f.cohort_month,
                       CAST((year(b.m) - year(f.cohort_month)) * 12
                            + (month(b.m) - month(f.cohort_month))
                            AS BIGINT) AS age_months,
                       b.u, b.amt
                FROM base b JOIN firsts f ON b.u = f.u
            ), cell AS (
                SELECT cohort_month, age_months,
                       CAST(count(DISTINCT u) AS BIGINT) AS n_active,
                       CAST(sum(amt) AS BIGINT) AS revenue_c
                FROM j GROUP BY 1, 2
            )
            SELECT CAST(cohort_month AS DATE) AS cohort_month, age_months,
                   n_active, revenue_c,
                   CAST(sum(revenue_c) OVER (
                       PARTITION BY cohort_month ORDER BY age_months
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_revenue_c
            FROM cell ORDER BY cohort_month, age_months
        """,
        "price_elasticity": """
            WITH rows_ AS (
                SELECT p_brand,
                       CASE WHEN year(l_shipdate) = 1997 THEN 1 ELSE 0 END
                           AS is2,
                       CAST(l_quantity AS BIGINT) AS q,
                       CAST(round(l_extendedprice / l_quantity * 100)
                            AS BIGINT) AS pc
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE year(l_shipdate) IN (1996, 1997)
            ), per AS (
                SELECT p_brand,
                       CAST(sum(CASE WHEN is2 = 0 THEN q ELSE 0 END)
                            AS BIGINT) AS q1,
                       CAST(sum(CASE WHEN is2 = 1 THEN q ELSE 0 END)
                            AS BIGINT) AS q2,
                       sum(CASE WHEN is2 = 0
                                THEN CAST(pc AS HUGEINT) * q
                                ELSE CAST(0 AS HUGEINT) END) AS pq1,
                       sum(CASE WHEN is2 = 1
                                THEN CAST(pc AS HUGEINT) * q
                                ELSE CAST(0 AS HUGEINT) END) AS pq2
                FROM rows_ GROUP BY p_brand
            )
            SELECT p_brand, q1, q2,
                   CAST(round(CAST(pq1 AS DOUBLE) / CAST(q1 AS DOUBLE))
                        AS BIGINT) AS p1_c,
                   CAST(round(CAST(pq2 AS DOUBLE) / CAST(q2 AS DOUBLE))
                        AS BIGINT) AS p2_c,
                   CASE WHEN (CAST(pq2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                              - CAST(pq1 AS DOUBLE) / CAST(q1 AS DOUBLE))
                             != 0
                        THEN CAST(round(
                            (CAST(q2 - q1 AS DOUBLE)
                             / CAST(q2 + q1 AS DOUBLE))
                            / ((CAST(pq2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                                - CAST(pq1 AS DOUBLE) / CAST(q1 AS DOUBLE))
                               / (CAST(pq2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                                  + CAST(pq1 AS DOUBLE)
                                    / CAST(q1 AS DOUBLE)))
                            * 1000000) AS BIGINT)
                   END AS elasticity_e6
            FROM per WHERE q1 > 0 AND q2 > 0
            ORDER BY p_brand
        """,
        "uplift_deciles": """
            WITH per_user AS (
                SELECT user_id,
                       CAST(count(*) AS BIGINT) AS n_events,
                       CAST(max(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS purchased
                FROM events GROUP BY user_id
            ), ranked AS (
                SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t,
                       purchased AS y,
                       CAST(ntile(5) OVER (ORDER BY n_events DESC,
                                           user_id) AS INTEGER) AS bucket
                FROM per_user
            ), per AS (
                SELECT bucket,
                       CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_t,
                       CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_c,
                       CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END)
                            AS BIGINT) AS resp_t,
                       CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END)
                            AS BIGINT) AS resp_c
                FROM ranked GROUP BY bucket
            )
            SELECT bucket, n_t, n_c, resp_t, resp_c,
                   CASE WHEN n_t > 0 AND n_c > 0 THEN
                       CAST(round((CAST(resp_t AS DOUBLE)
                                   / CAST(n_t AS DOUBLE)
                                   - CAST(resp_c AS DOUBLE)
                                     / CAST(n_c AS DOUBLE)) * 1000000)
                            AS BIGINT)
                   END AS uplift_e6
            FROM per ORDER BY bucket
        """,
        "source_ablation": """
            WITH per AS (
                SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(CAST(round(CAST(length(text) AS DOUBLE))
                                     AS BIGINT) AS HUGEINT)) AS s
                FROM documents GROUP BY source
            ), tot AS (
                SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s) AS st FROM per
            )
            SELECT g AS source, n,
                   CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                              / 1 * 1000000) AS BIGINT) AS group_mean_e6,
                   CASE WHEN nt > n THEN
                       CAST(round(CAST(st - s AS DOUBLE)
                                  / CAST(nt - n AS DOUBLE)
                                  / 1 * 1000000) AS BIGINT)
                   END AS loo_mean_e6,
                   CASE WHEN nt > n THEN
                       CAST(round(CAST(st - s AS DOUBLE)
                                  / CAST(nt - n AS DOUBLE)
                                  / 1 * 1000000) AS BIGINT)
                   END
                   - CAST(round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                                / 1 * 1000000) AS BIGINT) AS delta_e6
            FROM per CROSS JOIN tot
            ORDER BY delta_e6 DESC NULLS LAST, source
        """,
        "srm_check": """
            WITH units AS (
                SELECT DISTINCT user_id,
                       CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t
                FROM events
            ), agg AS (
                SELECT CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_t,
                       CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_c
                FROM units
            )
            SELECT n_t, n_c,
                   CAST(round(CAST(CAST(n_t - n_c AS HUGEINT)
                                   * (n_t - n_c) * 1000000 AS DOUBLE)
                              / CAST(CAST(n_t AS HUGEINT) + n_c AS DOUBLE))
                        AS BIGINT) AS chi2_e6,
                   CAST(CASE WHEN round(CAST(CAST(n_t - n_c AS HUGEINT)
                                   * (n_t - n_c) * 1000000 AS DOUBLE)
                              / CAST(CAST(n_t AS HUGEINT) + n_c
                                     AS DOUBLE)) > 3841459
                             THEN 1 ELSE 0 END AS INTEGER) AS srm_detected
            FROM agg
        """,
        "power_analysis": """
            WITH m AS (
                SELECT c_mktsegment AS g,
                       CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS HUGEINT)) AS s,
                       sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS HUGEINT)
                           * CAST(round(o_totalprice * 100) AS BIGINT))
                           AS ss
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY c_mktsegment
            )
            SELECT g AS c_mktsegment, n,
                   CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                              / 100 * 1000000) AS BIGINT) AS mean_e6,
                   CASE WHEN n > 1 THEN
                       CAST(round((CAST(n * ss - s * s AS DOUBLE)
                                   / CAST(n * (n - 1) AS DOUBLE))
                                  / (100 * 100) * 1000000) AS BIGINT)
                   END AS var_e6,
                   CAST(round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                              * 200 / 10000.0
                              / 100 * 1000000) AS BIGINT) AS mde_e6,
                   CASE WHEN n > 1
                             AND (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                 * 200 / 10000.0 != 0
                        THEN CAST(ceil(2.0 * 7.848886
                            * (CAST(n * ss - s * s AS DOUBLE)
                               / CAST(n * (n - 1) AS DOUBLE))
                            / (((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                * 200 / 10000.0)
                               * ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                  * 200 / 10000.0))) AS BIGINT)
                   END AS n_per_arm
            FROM m ORDER BY c_mktsegment
        """,
        "avi_decode": """
            -- lossless RIFF/DIB video: 5x7 checkerboard (18 even cells of
            -- color a, 17 odd of color b), nf = 2 + doc_id % 4 frames,
            -- fps = 5 + doc_id % 10
            WITH src AS (
                SELECT doc_id, 2 + doc_id % 4 AS nf, 5 + doc_id % 10 AS fps
                FROM documents WHERE doc_id < 150
            ), per_frame AS (
                SELECT s.doc_id, s.nf, s.fps, f.f,
                       (s.doc_id * 11 + f.f * 5) % 256 AS ar,
                       (s.doc_id * 3 + f.f * 13) % 256 AS ag,
                       (f.f * 23 + 7) % 256 AS ab,
                       (s.doc_id * 19 + f.f * 2) % 256 AS br,
                       (s.doc_id * 9 + f.f * 17) % 256 AS bg,
                       (s.doc_id * 2 + f.f * 3) % 256 AS bb
                FROM src s, LATERAL (
                    SELECT unnest(generate_series(0, s.nf - 1)) AS f
                ) f
            )
            SELECT doc_id AS item_id,
                   CAST(7 AS INTEGER) AS width,
                   CAST(5 AS INTEGER) AS height,
                   CAST(nf AS INTEGER) AS n_frames,
                   CAST(fps AS INTEGER) AS fps,
                   CAST(round(SUM(ar * 18 + br * 17) * 100.0 / (35 * nf))
                        AS BIGINT) AS mean_r_e2,
                   CAST(round(SUM(ag * 18 + bg * 17) * 100.0 / (35 * nf))
                        AS BIGINT) AS mean_g_e2,
                   CAST(round(SUM(ab * 18 + bb * 17) * 100.0 / (35 * nf))
                        AS BIGINT) AS mean_b_e2
            FROM per_frame GROUP BY doc_id, nf, fps
        """,
        "avi_frames": """
            -- solid-color clips: k = 2 + doc_id % 5 frames; evenly-spaced
            -- sample of 2 picks frames {0, k//2}; PNG round-trip is
            -- lossless so channel values are the synth formula exactly
            WITH src AS (
                SELECT doc_id, 2 + doc_id % 5 AS k
                FROM documents WHERE doc_id < 120
            ), picks AS (
                SELECT doc_id, 0 AS frame_idx, 0 AS f FROM src
                UNION ALL
                SELECT doc_id, 1 AS frame_idx, k // 2 AS f FROM src
            )
            SELECT doc_id AS item_id,
                   CAST(frame_idx AS INTEGER) AS frame_idx,
                   CAST((doc_id * 7 + f * 31) % 256 AS INTEGER) AS r,
                   CAST((doc_id * 13 + f * 11) % 256 AS INTEGER) AS g,
                   CAST((doc_id * 5 + f * 3) % 256 AS INTEGER) AS b
            FROM picks ORDER BY item_id, frame_idx
        """,
        "avi_mjpeg_frames": """
            -- closed-form mirror of the quality-100 constant-color MJPEG
            -- decode: per (doc, frame) the synth color goes through the
            -- YCbCr forward+inverse integer roundtrip (floor(x+0.5));
            -- at quality 100 the all-ones quantizer passes constant
            -- blocks exactly, and 4:2:0 averaging of constant chroma is
            -- the identity, so both subsample layouts share the formula
            WITH src AS (
                SELECT doc_id, 2 + doc_id % 3 AS n
                FROM documents WHERE doc_id < 120
            ), fr AS (
                SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS f
                FROM src
            ), rgb0 AS (
                SELECT doc_id, n, f,
                       (doc_id * 7 + f * 31) % 256 AS r,
                       (doc_id * 13 + f * 11) % 256 AS g,
                       (doc_id * 5 + f * 3) % 256 AS b
                FROM fr
            ), ycc AS (
                SELECT doc_id, n, f,
                       greatest(0, least(255, floor(0.299*r + 0.587*g + 0.114*b + 0.5))) AS y,
                       greatest(0, least(255, floor(128 - 0.168736*r - 0.331264*g + 0.5*b + 0.5))) AS cb,
                       greatest(0, least(255, floor(128 + 0.5*r - 0.418688*g - 0.081312*b + 0.5))) AS cr
                FROM rgb0
            )
            SELECT doc_id AS item_id,
                   CAST(f AS INTEGER) AS frame_idx,
                   CAST(n AS INTEGER) AS n_frames,
                   CAST(greatest(0, least(255, floor(y + 1.402*(cr-128) + 0.5))) AS INTEGER) AS r,
                   CAST(greatest(0, least(255, floor(y - 0.344136*(cb-128) - 0.714136*(cr-128) + 0.5))) AS INTEGER) AS g,
                   CAST(greatest(0, least(255, floor(y + 1.772*(cb-128) + 0.5))) AS INTEGER) AS b
            FROM ycc ORDER BY item_id, frame_idx
        """,
        "vwap": """
            WITH base AS (
                SELECT l_partkey AS g,
                       CAST(round(l_extendedprice / l_quantity * 100)
                            AS BIGINT) AS p,
                       CAST(round(l_quantity) AS BIGINT) AS q
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            )
            SELECT g AS l_partkey,
                   CAST(count(*) AS BIGINT) AS n_obs,
                   CAST(SUM(q) AS BIGINT) AS total_qty,
                   CASE WHEN SUM(q) > 0 THEN
                       CAST(round(CAST(SUM(p * q) AS DOUBLE)
                                  / CAST(SUM(q) AS DOUBLE)
                                  / 100 * 10000) AS BIGINT)
                   END AS vwap_e4
            FROM base GROUP BY g
        """,
        "bollinger": f"""
            WITH daily AS ({_DAILY_REV_GLOBAL_SQL}
            ), t2 AS (
                SELECT d, CAST(round(rev * 1) AS BIGINT) AS x FROM daily
            ), winz AS (
                SELECT d, x,
                       CAST(count(*) OVER w AS BIGINT) AS n,
                       CAST(SUM(x) OVER w AS BIGINT) AS s,
                       CAST(SUM(x * x) OVER w AS BIGINT) AS q
                FROM t2
                WINDOW w AS (ORDER BY d
                             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
            ), calc AS (
                SELECT d, n,
                       CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                  / 1 * 10000) AS BIGINT) AS mid_e4,
                       CAST(round(sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE))
                                  / CAST(n AS DOUBLE)
                                  / 1 * 10000) AS BIGINT) AS sd_e4,
                       x * 10000 AS v_e4
                FROM winz
            )
            SELECT d, n AS n_window, mid_e4, sd_e4,
                   mid_e4 + 2 * sd_e4 AS upper_e4,
                   mid_e4 - 2 * sd_e4 AS lower_e4,
                   CAST(v_e4 > mid_e4 + 2 * sd_e4
                        OR v_e4 < mid_e4 - 2 * sd_e4 AS INT) AS outside
            FROM calc
        """,
        "rsi": _rsi_sql(),
        "macd": _macd_sql(),
        "market_beta": f"""
            WITH daily AS ({_DAILY_REV_SQL}
            ), per AS (
                SELECT flag AS k, d AS t,
                       CAST(round(rev * 1) AS BIGINT) AS x
                FROM daily
            ), mkt AS (
                SELECT t, CAST(SUM(x) AS BIGINT) AS m FROM per GROUP BY t
            ), j AS (
                SELECT per.k, per.x, mkt.m FROM per JOIN mkt USING (t)
            ), mom AS (
                SELECT k, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(m) AS BIGINT) AS sm,
                       SUM(CAST(x AS HUGEINT) * m) AS sxm,
                       SUM(CAST(m AS HUGEINT) * m) AS smm,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx
                FROM j GROUP BY k
            )
            SELECT k AS flag, n AS n_obs,
                   CASE WHEN CAST(CAST(n AS HUGEINT) * smm - CAST(sm AS HUGEINT) * sm AS DOUBLE) > 0 THEN
                       CAST(round(CAST(CAST(n AS HUGEINT) * sxm - CAST(sx AS HUGEINT) * sm AS DOUBLE)
                                  / CAST(CAST(n AS HUGEINT) * smm - CAST(sm AS HUGEINT) * sm AS DOUBLE)
                                  * 1000000.0) AS BIGINT)
                   END AS beta_e6,
                   CASE WHEN CAST(CAST(n AS HUGEINT) * smm - CAST(sm AS HUGEINT) * sm AS DOUBLE) > 0 THEN
                       CAST(round((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                                   - CAST(CAST(n AS HUGEINT) * sxm - CAST(sx AS HUGEINT) * sm AS DOUBLE)
                                     / CAST(CAST(n AS HUGEINT) * smm - CAST(sm AS HUGEINT) * sm AS DOUBLE)
                                     * (CAST(sm AS DOUBLE)
                                        / CAST(n AS DOUBLE)))
                                  / 1 * 10000.0) AS BIGINT)
                   END AS alpha_e4,
                   CASE WHEN CAST(CAST(n AS HUGEINT) * smm - CAST(sm AS HUGEINT) * sm AS DOUBLE) > 0
                         AND CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0 THEN
                       CAST(round(CAST(CAST(n AS HUGEINT) * sxm - CAST(sx AS HUGEINT) * sm AS DOUBLE)
                                  / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                                     * sqrt(CAST(CAST(n AS HUGEINT) * smm
                                                 - CAST(sm AS HUGEINT) * sm
                                                 AS DOUBLE)))
                                  * 1000000.0) AS BIGINT)
                   END AS corr_e6
            FROM mom
        """,
        "sharpe": f"""
            WITH daily AS ({_DAILY_REV_SQL}
            ), tick AS (
                SELECT flag AS k, d AS t,
                       CAST(round(rev * 1) AS BIGINT) AS x
                FROM daily
            ), rets AS (
                SELECT k, lag(x) OVER (PARTITION BY k ORDER BY t) AS p, x
                FROM tick
            ), r2 AS (
                SELECT k, CAST(round(CAST(x - p AS DOUBLE)
                                     / CAST(p AS DOUBLE)
                                     * 1000000.0) AS BIGINT) AS r
                FROM rets WHERE p IS NOT NULL AND p != 0
            ), mom AS (
                SELECT k, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(r) AS BIGINT) AS s,
                       SUM(CAST(r AS HUGEINT) * r) AS q
                FROM r2 GROUP BY k
            )
            SELECT k AS flag, n AS n_returns,
                   CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                        AS BIGINT) AS mean_ret_e6,
                   CASE WHEN n >= 2 THEN
                       CAST(round(sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                                       / CAST(n * (n - 1) AS DOUBLE)))
                            AS BIGINT)
                   END AS sd_ret_e6,
                   CASE WHEN n >= 2 AND sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                            / CAST(n * (n - 1) AS DOUBLE)) > 0 THEN
                       CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                  / sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                                         / CAST(n * (n - 1) AS DOUBLE))
                                  * 10000.0) AS BIGINT)
                   END AS sharpe_e4,
                   CASE WHEN n >= 2 AND sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                            / CAST(n * (n - 1) AS DOUBLE)) > 0 THEN
                       CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                  / sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                                         / CAST(n * (n - 1) AS DOUBLE))
                                  * sqrt(252.0) * 10000.0) AS BIGINT)
                   END AS sharpe_ann_e4
            FROM mom
        """,
        "kruskal_wallis": """
            WITH base AS (
                SELECT o_orderpriority AS g, o_totalprice AS v
                FROM orders
                WHERE o_totalprice IS NOT NULL
                  AND o_orderpriority IS NOT NULL
            ), vals AS (
                SELECT v, CAST(count(*) AS BIGINT) AS n_v
                FROM base GROUP BY v
            ), cum AS (
                SELECT v, n_v,
                       CAST(COALESCE(SUM(n_v) OVER (
                           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS cumv
                FROM vals
            ), cells AS (
                SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv
                FROM base GROUP BY g, v
            ), perg AS (
                SELECT g, CAST(SUM(n_gv) AS BIGINT) AS n_g,
                       CAST(SUM(n_gv * (2 * cumv + n_v + 1)) AS BIGINT) AS r2
                FROM cells JOIN cum USING (v) GROUP BY g
            ), terms AS (
                SELECT n_g, CAST(round(
                    CAST(CAST(r2 AS HUGEINT) * r2 AS DOUBLE)
                    / CAST(n_g AS DOUBLE) / 4) AS HUGEINT) AS term
                FROM perg
            ), ties AS (
                SELECT CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS tie_term
                FROM vals
            ), comb AS (
                SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS k_groups,
                       SUM(term) AS t_sum
                FROM terms
            ), stat AS (
                SELECT n, k_groups,
                       12.0 * CAST(t_sum AS DOUBLE)
                           / CAST(n * (n + 1) AS DOUBLE)
                           - 3.0 * CAST(n + 1 AS DOUBLE) AS h,
                       1.0 - CAST(tie_term AS DOUBLE)
                           / CAST(n * n * n - n AS DOUBLE) AS c
                FROM comb, ties
            )
            SELECT n, k_groups,
                   CAST(round(h * 1000000.0) AS BIGINT) AS h_e6,
                   CASE WHEN c > 0
                        THEN CAST(round(h / c * 1000000.0) AS BIGINT)
                   END AS h_adj_e6
            FROM stat
        """,
        "levene_bf": """
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS y
                FROM orders
                WHERE o_totalprice IS NOT NULL
                  AND o_orderpriority IS NOT NULL
            ), ranked AS (
                SELECT g, y,
                       row_number() OVER (PARTITION BY g ORDER BY y) AS rk
                FROM base
            ), sizes AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n_g
                FROM base GROUP BY g
            ), med AS (
                SELECT r.g, r.y AS med
                FROM ranked r JOIN sizes s ON r.g = s.g
                WHERE r.rk = (s.n_g + 1) // 2
            ), zed AS (
                SELECT b.g, abs(b.y - m.med) AS z
                FROM base b JOIN med m USING (g)
            ), perg AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                       CAST(SUM(z) AS BIGINT) AS z1,
                       SUM(CAST(z AS HUGEINT) * z) AS z2
                FROM zed GROUP BY g
            ), terms AS (
                SELECT n_g, z1, z2, CAST(round(
                    CAST(CAST(z1 AS HUGEINT) * z1 AS DOUBLE)
                    / CAST(n_g AS DOUBLE)) AS HUGEINT) AS term
                FROM perg
            ), comb AS (
                SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS k_groups,
                       CAST(SUM(z1) AS BIGINT) AS z1t,
                       SUM(z2) AS z2t,
                       SUM(term) AS t_sum
                FROM terms
            ), stat AS (
                SELECT n, k_groups,
                       greatest(CAST(t_sum AS DOUBLE)
                           - CAST(z1t AS DOUBLE) * CAST(z1t AS DOUBLE)
                             / CAST(n AS DOUBLE), 0.0) AS ssb,
                       CAST(z2t AS DOUBLE)
                           - CAST(t_sum AS DOUBLE) AS ssw
                FROM comb
            )
            SELECT n, k_groups,
                   CASE WHEN k_groups > 1 AND ssw > 0 THEN
                       CAST(round(CAST(n - k_groups AS DOUBLE) * ssb
                                  / (CAST(k_groups - 1 AS DOUBLE) * ssw)
                                  * 1000000.0) AS BIGINT)
                   END AS w_e6
            FROM stat
        """,
        "runs_test": f"""
            WITH daily AS ({_DAILY_REV_GLOBAL_SQL}
            ), base AS (
                SELECT d AS t, CAST(round(rev * 100) AS BIGINT) AS x
                FROM daily
            ), ranked AS (
                SELECT x, row_number() OVER (ORDER BY x) AS rk FROM base
            ), med AS (
                SELECT x AS med FROM ranked
                WHERE rk = (SELECT (count(*) + 1) // 2 FROM base)
            ), signed AS (
                SELECT t, CAST(x > (SELECT med FROM med) AS INT) AS s
                FROM base
            ), lagged AS (
                SELECT s, CASE WHEN lag(s) OVER (ORDER BY t) IS NULL
                                 OR lag(s) OVER (ORDER BY t) != s
                          THEN 1 ELSE 0 END AS new_run
                FROM signed
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(s) AS BIGINT) AS n_above,
                       CAST(count(*) - SUM(s) AS BIGINT) AS n_below,
                       CAST(SUM(new_run) AS BIGINT) AS runs
                FROM lagged
            ), stat AS (
                SELECT n, n_above, n_below, runs,
                       CAST(2 * n_above * n_below AS DOUBLE)
                           / CAST(n AS DOUBLE) + 1 AS mu,
                       CAST(2 * n_above * n_below AS DOUBLE)
                           * (CAST(2 * n_above * n_below AS DOUBLE)
                              - CAST(n AS DOUBLE))
                           / CAST(n * n AS DOUBLE)
                           / CAST(n - 1 AS DOUBLE) AS var
                FROM agg
            )
            SELECT n, n_above, n_below, runs,
                   CASE WHEN var > 0 THEN
                       CAST(round((CAST(runs AS DOUBLE) - mu) / sqrt(var)
                                  * 1000000.0) AS BIGINT)
                   END AS z_e6
            FROM stat
        """,
        "jarque_bera": """
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS y
                FROM orders
                WHERE o_totalprice IS NOT NULL
                  AND o_orderpriority IS NOT NULL
            ), shift AS (
                SELECT g, CAST(round(CAST(SUM(y) AS DOUBLE)
                                     / CAST(count(*) AS DOUBLE))
                               AS BIGINT) AS c
                FROM base GROUP BY g
            ), sh AS (
                SELECT b.g, b.y - s.c AS u FROM base b JOIN shift s USING (g)
            ), mom AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(u) AS BIGINT) AS s1,
                       CAST(SUM(u * u) AS BIGINT) AS s2,
                       SUM(CAST(u * u AS HUGEINT) * u) AS s3,
                       SUM(CAST(u * u AS HUGEINT) * (u * u)) AS s4
                FROM sh GROUP BY g
            ), raw AS (
                SELECT g, n,
                       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                       CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                       CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
                       CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
                FROM mom
            ), cm AS (
                SELECT g, n,
                       r2 - m1 * m1 AS m2,
                       r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
                       r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
                          - 3.0 * m1 * m1 * m1 * m1 AS m4
                FROM raw
            ), sk AS (
                SELECT g, n, m2,
                       m3 / sqrt(m2 * m2 * m2) AS skew,
                       m4 / (m2 * m2) - 3.0 AS kurt
                FROM cm
            )
            SELECT g AS o_orderpriority, n,
                   CASE WHEN n >= 3 AND m2 > 0
                        THEN CAST(round(skew * 1000000.0) AS BIGINT)
                   END AS skew_e6,
                   CASE WHEN n >= 3 AND m2 > 0
                        THEN CAST(round(kurt * 1000000.0) AS BIGINT)
                   END AS kurt_e6,
                   CASE WHEN n >= 3 AND m2 > 0
                        THEN CAST(round(CAST(n AS DOUBLE) / 6.0
                                        * (skew * skew
                                           + kurt * kurt / 4.0)
                                        * 1000000.0) AS BIGINT)
                   END AS jb_e6
            FROM sk
        """,
        "durbin_watson": f"""
            WITH daily AS ({_DAILY_REV_GLOBAL_SQL}
            ), base AS (
                SELECT d AS t,
                       CAST(date_diff('day', DATE '1992-01-01', d)
                            AS BIGINT) AS x,
                       CAST(round(rev * 100) AS BIGINT) AS y
                FROM daily
            ), mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx
                FROM base
            ), fit AS (
                SELECT n,
                       CAST(CAST(n AS HUGEINT) * sxy
                            - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * sxx
                              - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS b,
                       (CAST(sy AS DOUBLE)
                        - CAST(CAST(n AS HUGEINT) * sxy
                               - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                          / CAST(CAST(n AS HUGEINT) * sxx
                                 - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                          * CAST(sx AS DOUBLE))
                       / CAST(n AS DOUBLE) AS a
                FROM mom
            ), resid AS (
                SELECT base.t, fit.n, fit.b,
                       CAST(round(CAST(y AS DOUBLE)
                                  - (fit.a + fit.b * CAST(x AS DOUBLE)))
                            AS BIGINT) AS e
                FROM base, fit
            ), stepped AS (
                SELECT n, b, e, e - lag(e) OVER (ORDER BY t) AS de
                FROM resid
            ), agg AS (
                SELECT n, b,
                       SUM(CAST(e AS HUGEINT) * e) AS see,
                       SUM(CAST(de AS HUGEINT) * de) AS sde
                FROM stepped GROUP BY n, b
            )
            SELECT n,
                   CAST(round(b * 1000000.0) AS BIGINT) AS b_e6,
                   CASE WHEN CAST(see AS DOUBLE) > 0 THEN
                       CAST(round(CAST(sde AS DOUBLE) / CAST(see AS DOUBLE)
                                  * 1000000.0) AS BIGINT)
                   END AS dw_e6
            FROM agg
        """,
        "wilcoxon": """
            WITH per AS (
                SELECT o_custkey,
                       CAST(SUM(CASE WHEN o_orderdate
                                          < TIMESTAMP '1995-06-01'
                                THEN CAST(round(o_totalprice * 100)
                                          AS BIGINT) END) AS BIGINT) AS ca,
                       CAST(SUM(CASE WHEN o_orderdate
                                          >= TIMESTAMP '1995-06-01'
                                THEN CAST(round(o_totalprice * 100)
                                          AS BIGINT) END) AS BIGINT) AS cb
                FROM orders GROUP BY o_custkey
            ), diffs AS (
                SELECT CAST(round(CAST(ca AS DOUBLE) / 100.0 * 100)
                            AS BIGINT)
                     - CAST(round(CAST(cb AS DOUBLE) / 100.0 * 100)
                            AS BIGINT) AS d
                FROM per WHERE ca IS NOT NULL AND cb IS NOT NULL
            ), nz AS (
                SELECT abs(d) AS ad, CAST(d > 0 AS INT) AS pos
                FROM diffs WHERE d != 0
            ), vals AS (
                SELECT ad, CAST(count(*) AS BIGINT) AS n_v,
                       CAST(SUM(pos) AS BIGINT) AS n_pos_v
                FROM nz GROUP BY ad
            ), cum AS (
                SELECT ad, n_v, n_pos_v,
                       CAST(COALESCE(SUM(n_v) OVER (
                           ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS cumv
                FROM vals
            ), agg AS (
                SELECT CAST(SUM(n_v) AS BIGINT) AS n,
                       CAST(SUM(n_pos_v * (2 * cumv + n_v + 1))
                            AS BIGINT) AS w2_plus,
                       CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT)
                           AS tie_term
                FROM cum
            ), stat AS (
                SELECT n, w2_plus,
                       CAST(n * (n + 1) AS DOUBLE) / 2 AS mu2,
                       CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 6
                           - CAST(tie_term AS DOUBLE) / 12 AS var2
                FROM agg
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM diffs) AS n_pairs,
                   n AS n_nonzero, w2_plus,
                   CASE WHEN var2 > 0 THEN
                       CAST(round((CAST(w2_plus AS DOUBLE) - mu2)
                                  / sqrt(var2) * 1000000.0) AS BIGINT)
                   END AS z_e6
            FROM stat
        """,
        "ir_eval": _ir_eval_sql(),
        "wasserstein": """
            WITH vals AS (
                SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                       CAST(count(CASE WHEN l_returnflag = 'A' THEN 1 END)
                            AS BIGINT) AS na_v,
                       CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END)
                            AS BIGINT) AS nb_v
                FROM lineitem WHERE l_returnflag IN ('A', 'R')
                GROUP BY 1
            ), cum AS (
                SELECT v, na_v, nb_v,
                       CAST(SUM(na_v) OVER w AS BIGINT) AS ca,
                       CAST(SUM(nb_v) OVER w AS BIGINT) AS cb,
                       lead(v) OVER (ORDER BY v) - v AS gap
                FROM vals
                WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)
            ), tot AS (
                SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
                       CAST(SUM(nb_v) AS BIGINT) AS n_b
                FROM vals
            ), seg AS (
                SELECT ca, cb, gap FROM cum WHERE gap IS NOT NULL
            )
            SELECT n_a, n_b,
                   CAST(SUM(CAST(round(
                       CAST(CAST(abs(ca * n_b - cb * n_a) AS HUGEINT)
                            * gap AS DOUBLE)
                       / CAST(n_a * n_b AS DOUBLE) / 100 * 1000000.0)
                       AS BIGINT)) AS BIGINT) AS w1_e6
            FROM seg, tot GROUP BY n_a, n_b
        """,
        "js_divergence": """
            WITH base AS (
                SELECT source AS g, lang AS c FROM documents
                WHERE source IS NOT NULL AND lang IS NOT NULL
            ), cells AS (
                SELECT g, c, CAST(count(*) AS BIGINT) AS n_gc
                FROM base GROUP BY g, c
            ), gtot AS (
                SELECT g, CAST(SUM(n_gc) AS BIGINT) AS n_g
                FROM cells GROUP BY g
            ), ctot AS (
                SELECT c, CAST(SUM(n_gc) AS BIGINT) AS n_c
                FROM cells GROUP BY c
            ), tot AS (
                SELECT CAST(SUM(n_gc) AS BIGINT) AS n_tot FROM cells
            ), grid AS (
                SELECT gtot.g, gtot.n_g, ctot.c, ctot.n_c, tot.n_tot,
                       COALESCE(cells.n_gc, 0) AS n_gc
                FROM gtot CROSS JOIN ctot CROSS JOIN tot
                LEFT JOIN cells
                  ON cells.g = gtot.g AND cells.c = ctot.c
            ), calc AS (
                SELECT g, n_g, n_gc,
                       CAST(n_gc AS DOUBLE) / CAST(n_g AS DOUBLE) AS p,
                       CAST(n_c AS DOUBLE) / CAST(n_tot AS DOUBLE) AS q
                FROM grid
            ), terms AS (
                SELECT g, n_g,
                       CASE WHEN n_gc > 0
                            THEN CAST(round(p * ln(p / q) * 1000000000.0)
                                      AS BIGINT)
                            ELSE 0 END AS klt,
                       CAST(round((CASE WHEN n_gc > 0
                                   THEN 0.5 * p * ln(p / ((p + q) / 2))
                                   ELSE 0.0 END
                                   + 0.5 * q * ln(q / ((p + q) / 2)))
                                  * 1000000000.0) AS BIGINT) AS jst
                FROM calc
            )
            SELECT g AS source, CAST(max(n_g) AS BIGINT) AS n,
                   CAST(SUM(klt) AS BIGINT) AS kl_e9,
                   CAST(SUM(jst) AS BIGINT) AS js_e9
            FROM terms GROUP BY g
        """,
        "ridge": """
            WITH base AS (
                SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x1,
                       CAST(round(l_discount * 100) AS BIGINT) AS x2,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
                  AND l_extendedprice IS NOT NULL
            ), mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
                       SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
                       SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
                       SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
                       SUM(CAST(x2 AS HUGEINT) * y) AS s2y
                FROM base
            ), fit AS (
                SELECT n,
                       CAST(s11 AS DOUBLE) + 1000000.0 AS a11,
                       CAST(s22 AS DOUBLE) + 1000000.0 AS a22,
                       CAST(s12 AS DOUBLE) AS a12,
                       CAST(s1y AS DOUBLE) AS b1,
                       CAST(s2y AS DOUBLE) AS b2
                FROM mom
            ), det AS (
                SELECT n, a11, a22, a12, b1, b2,
                       a11 * a22 - a12 * a12 AS dt
                FROM fit
            )
            SELECT n, CAST(dt != 0 AS INT) AS det_ok,
                   CASE WHEN dt != 0 THEN
                       CAST(round((b1 * a22 - b2 * a12) / dt * 1000000.0)
                            AS BIGINT)
                   END AS beta1_e6,
                   CASE WHEN dt != 0 THEN
                       CAST(round((a11 * b2 - a12 * b1) / dt * 1000000.0)
                            AS BIGINT)
                   END AS beta2_e6
            FROM det
        """,
        "viterbi": _viterbi_sql(),
        "kalman": _kalman_sql(),
        "changepoint": f"""
            WITH daily AS ({_DAILY_REV_GLOBAL_SQL}
            ), base AS (
                SELECT d AS t, CAST(round(rev * 100) AS BIGINT) AS x
                FROM daily
            ), pre AS (
                SELECT t,
                       row_number() OVER (ORDER BY t) AS i,
                       CAST(SUM(x) OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                            ROW) AS BIGINT) AS st
                FROM base
            ), totals AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS s
                FROM base
            ), cand AS (
                SELECT pre.t, pre.i, pre.st, totals.n, totals.s
                FROM pre, totals
                WHERE pre.i >= 30 AND pre.i <= totals.n - 30
            ), scored AS (
                SELECT n, i AS split_idx, t AS split_ts,
                       CAST(round((CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                                   / CAST(i AS DOUBLE)
                                   + (CAST(s AS DOUBLE)
                                      - CAST(st AS DOUBLE))
                                     * (CAST(s AS DOUBLE)
                                        - CAST(st AS DOUBLE))
                                     / (CAST(n AS DOUBLE)
                                        - CAST(i AS DOUBLE))
                                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                     / CAST(n AS DOUBLE))
                                  / 100 / 100) AS BIGINT) AS gain_units,
                       CAST(round(CAST(st AS DOUBLE) / CAST(i AS DOUBLE)
                                  / 100 * 10000) AS BIGINT)
                           AS mean_left_e4,
                       CAST(round((CAST(s AS DOUBLE) - CAST(st AS DOUBLE))
                                  / (CAST(n AS DOUBLE)
                                     - CAST(i AS DOUBLE))
                                  / 100 * 10000) AS BIGINT)
                           AS mean_right_e4
                FROM cand
            )
            SELECT n, split_idx, split_ts, gain_units,
                   mean_left_e4, mean_right_e4
            FROM scored ORDER BY gain_units DESC, split_idx LIMIT 1
        """,
        "geohash": _GEOHASH_ORACLE_SQL,
        "knn_classify": _knn_classify_sql(),
        "friedman": f"""
            WITH daily AS ({_DAILY_REV_SQL}
            ), base AS (
                SELECT d AS b, flag AS tr,
                       CAST(round(rev * 100) AS BIGINT) AS y
                FROM daily
            ), ktot AS (
                SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k FROM base
            ), sizes AS (
                SELECT b, count(*) AS n_b, count(DISTINCT tr) AS k_b
                FROM base GROUP BY b
            ), complete AS (
                SELECT b FROM sizes, ktot
                WHERE n_b = k AND k_b = k
            ), inb AS (
                SELECT base.b, base.tr, base.y
                FROM base JOIN complete USING (b)
            ), ranked AS (
                SELECT b, tr,
                       2 * count(*) OVER (PARTITION BY b ORDER BY y
                           RANGE BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING)
                       + count(*) OVER (PARTITION BY b ORDER BY y
                           RANGE BETWEEN 0 PRECEDING AND 0 FOLLOWING)
                       + 1 AS r2
                FROM inb
            ), per_t AS (
                SELECT tr, CAST(SUM(r2) AS BIGINT) AS r2_sum,
                       CAST(count(*) AS BIGINT) AS n_blocks
                FROM ranked GROUP BY tr
            ), agg AS (
                SELECT CAST(max(n_blocks) AS BIGINT) AS n_blocks,
                       CAST(count(*) AS BIGINT) AS k_treatments,
                       SUM(CAST(r2_sum AS HUGEINT) * r2_sum) AS sum_r2sq
                FROM per_t
            )
            SELECT n_blocks, k_treatments,
                   CASE WHEN n_blocks > 0 AND k_treatments > 1 THEN
                       CAST(round((3.0 * CAST(sum_r2sq AS DOUBLE)
                                   / CAST(n_blocks * k_treatments
                                          * (k_treatments + 1) AS DOUBLE)
                                   - 3.0 * CAST(n_blocks
                                          * (k_treatments + 1) AS DOUBLE))
                                  * 1000000.0) AS BIGINT)
                   END AS q_e6
            FROM agg
        """,
        "corr_matrix": _corr_matrix_sql(
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        ),
        "window_suite": """
            WITH base AS (
                SELECT c_nationkey AS nk, c_custkey AS ck,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS bal
                FROM customer
            )
            SELECT nk, ck, bal,
                   CAST(row_number() OVER tie AS INTEGER) AS rn,
                   CAST(rank() OVER val AS INTEGER) AS rnk,
                   CAST(dense_rank() OVER val AS INTEGER) AS drnk,
                   CAST(ntile(4) OVER tie AS INTEGER) AS quartile,
                   CAST(CASE WHEN count(*) OVER (PARTITION BY nk) > 1
                        THEN round(CAST(rank() OVER val - 1 AS DOUBLE)
                                   / CAST(count(*) OVER (PARTITION BY nk)
                                          - 1 AS DOUBLE) * 1000000.0)
                        ELSE 0 END AS BIGINT) AS pct_rank_e6,
                   CAST(round(cume_dist() OVER val * 1000000.0)
                        AS BIGINT) AS cume_e6,
                   lag(bal) OVER tie AS prev_bal,
                   lead(bal) OVER tie AS next_bal,
                   first_value(bal) OVER tie - bal AS gap_to_top
            FROM base
            WINDOW tie AS (PARTITION BY nk ORDER BY bal DESC, ck),
                   val AS (PARTITION BY nk ORDER BY bal DESC)
        """,
        "xml_scan_roundtrip": """
            SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
                   CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS total_bal_cents
            FROM customer GROUP BY c_mktsegment
        """,
        "overdispersion": """
            WITH per_c AS (
                SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
                FROM orders GROUP BY o_custkey
            ), counts AS (
                SELECT c.c_mktsegment AS g,
                       COALESCE(p.n_ord, 0) AS c
                FROM customer c LEFT JOIN per_c p
                  ON c.c_custkey = p.o_custkey
            ), mom AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(c) AS BIGINT) AS s,
                       CAST(SUM(c * c) AS BIGINT) AS q
                FROM counts GROUP BY g
            ), calc AS (
                SELECT g, n,
                       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                       CAST(n * q - s * s AS DOUBLE)
                           / CAST(n * (n - 1) AS DOUBLE) AS var
                FROM mom
            )
            SELECT g AS c_mktsegment, n,
                   CAST(round(mean * 1000000.0) AS BIGINT) AS mean_e6,
                   CASE WHEN n >= 2
                        THEN CAST(round(var * 1000000.0) AS BIGINT)
                   END AS var_e6,
                   CASE WHEN n >= 2 AND mean > 0
                        THEN CAST(round(var / mean * 1000000.0) AS BIGINT)
                   END AS dispersion_e6,
                   CASE WHEN n >= 2 AND var > mean AND mean > 0
                        THEN CAST(round(mean * mean / (var - mean)
                                        * 1000000.0) AS BIGINT)
                   END AS nb_r_e6,
                   CASE WHEN n >= 2 AND var > mean AND mean > 0
                        THEN CAST(round(mean / var * 1000000.0) AS BIGINT)
                   END AS nb_p_e6
            FROM calc
        """,
        "var_cvar": f"""
            WITH daily AS ({_DAILY_REV_SQL}
            ), tick AS (
                SELECT flag AS k, d AS t,
                       CAST(round(rev * 100) AS BIGINT) AS x
                FROM daily
            ), chg AS (
                SELECT k, t,
                       x - lag(x) OVER (PARTITION BY k ORDER BY t) AS d
                FROM tick
            ), ranked AS (
                SELECT k, d,
                       row_number() OVER (PARTITION BY k
                                          ORDER BY d, t) AS rk
                FROM chg WHERE d IS NOT NULL
            ), sizes AS (
                SELECT k, CAST(count(*) AS BIGINT) AS n,
                       CAST((count(*) + 19) // 20 AS BIGINT) AS kt
                FROM ranked GROUP BY k
            ), tail AS (
                SELECT r.k, s.n, s.kt, r.d, r.rk
                FROM ranked r JOIN sizes s ON r.k = s.k
                WHERE r.rk <= s.kt
            )
            SELECT k AS flag, n AS n_changes, kt AS k_tail,
                   CAST(max(CASE WHEN rk = kt THEN d END) * 100
                        AS BIGINT) AS var_e4,
                   CAST(round(CAST(SUM(d) AS DOUBLE) / CAST(kt AS DOUBLE)
                              / 100 * 10000) AS BIGINT) AS cvar_e4
            FROM tail GROUP BY k, n, kt
        """,
        "forecast_eval": f"""
            WITH daily AS ({_DAILY_REV_SQL}
            ), wf AS (
                SELECT flag AS k, d AS t,
                       CAST(round(rev * 100) AS BIGINT) AS a,
                       CAST(round(lag(rev, 7) OVER (PARTITION BY flag
                                                    ORDER BY d) * 100)
                            AS BIGINT) AS f
                FROM daily
            ), naive AS (
                SELECT k, CAST(count(*) AS BIGINT) AS m,
                       CAST(SUM(ne) AS BIGINT) AS ns
                FROM (
                    SELECT k,
                           abs(a - lag(a) OVER (PARTITION BY k ORDER BY t))
                               AS ne
                    FROM wf
                ) WHERE ne IS NOT NULL GROUP BY k
            ), scored AS (
                SELECT k, a, f, a - f AS e, abs(a - f) AS ae
                FROM wf WHERE f IS NOT NULL
            ), agg AS (
                SELECT k, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(ae) AS BIGINT) AS sae,
                       SUM(CAST(ae AS HUGEINT) * ae) AS sse,
                       CAST(count(CASE WHEN a != 0 THEN 1 END) AS BIGINT)
                           AS n_mape,
                       CAST(SUM(CASE WHEN a != 0 THEN
                            CAST(round(CAST(ae AS DOUBLE)
                                       / CAST(abs(a) AS DOUBLE)
                                       * 1000000.0) AS BIGINT) END)
                            AS BIGINT) AS s_mape,
                       CAST(count(CASE WHEN abs(a) + abs(f) > 0 THEN 1 END)
                            AS BIGINT) AS n_smape,
                       CAST(SUM(CASE WHEN abs(a) + abs(f) > 0 THEN
                            CAST(round(2.0 * CAST(ae AS DOUBLE)
                                       / CAST(abs(a) + abs(f) AS DOUBLE)
                                       * 1000000.0) AS BIGINT) END)
                            AS BIGINT) AS s_smape,
                       CAST(SUM(9 * greatest(e, 0) + greatest(-e, 0))
                            AS BIGINT) AS s_pin10
                FROM scored GROUP BY k
            )
            SELECT agg.k AS flag, n AS n_scored,
                   CAST(round(CAST(sae AS DOUBLE) / CAST(n AS DOUBLE)
                              / 100 * 10000) AS BIGINT) AS mae_e4,
                   CAST(round(sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE))
                              / 100 * 10000) AS BIGINT) AS rmse_e4,
                   CASE WHEN n_mape > 0 THEN
                       CAST(round(CAST(s_mape AS DOUBLE)
                                  / CAST(n_mape AS DOUBLE)) AS BIGINT)
                   END AS mape_e6,
                   CASE WHEN n_smape > 0 THEN
                       CAST(round(CAST(s_smape AS DOUBLE)
                                  / CAST(n_smape AS DOUBLE)) AS BIGINT)
                   END AS smape_e6,
                   CASE WHEN ns > 0 THEN
                       CAST(round(CAST(sae AS DOUBLE) / CAST(n AS DOUBLE)
                                  / (CAST(ns AS DOUBLE)
                                     / CAST(m AS DOUBLE))
                                  * 1000000.0) AS BIGINT)
                   END AS mase_e6,
                   CAST(round(CAST(s_pin10 AS DOUBLE)
                              / CAST(10 * n AS DOUBLE)
                              / 100 * 10000) AS BIGINT) AS pinball90_e4
            FROM agg LEFT JOIN naive ON agg.k = naive.k
        """,
        "grubbs": f"""
            WITH daily AS ({_DAILY_REV_GLOBAL_SQL}
            ), base AS (
                SELECT d AS t, CAST(round(rev * 100) AS BIGINT) AS x
                FROM daily
            ), mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS s,
                       SUM(CAST(x AS HUGEINT) * x) AS q
                FROM base
            ), flagged AS (
                SELECT t, x, n, s, q, abs(n * x - s) AS dev
                FROM base, mom
            ), top AS (
                SELECT * FROM flagged
                ORDER BY dev DESC, t LIMIT 1
            )
            SELECT n,
                   CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                              / 100 * 10000) AS BIGINT) AS mean_e4,
                   CASE WHEN n >= 2 THEN
                       CAST(round(sqrt(CAST(CAST(n AS HUGEINT) * q
                                  - CAST(s AS HUGEINT) * s AS DOUBLE)
                                  / CAST(n * (n - 1) AS DOUBLE))
                              / 100 * 10000) AS BIGINT)
                   END AS sd_e4,
                   CASE WHEN n >= 2 AND sqrt(CAST(CAST(n AS HUGEINT) * q
                             - CAST(s AS HUGEINT) * s AS DOUBLE)
                             / CAST(n * (n - 1) AS DOUBLE)) > 0 THEN
                       CAST(round(CAST(dev AS DOUBLE) / CAST(n AS DOUBLE)
                                  / sqrt(CAST(CAST(n AS HUGEINT) * q
                                         - CAST(s AS HUGEINT) * s
                                         AS DOUBLE)
                                         / CAST(n * (n - 1) AS DOUBLE))
                                  * 1000000.0) AS BIGINT)
                   END AS g_e6,
                   t AS outlier_ts,
                   CAST(x * 100 AS BIGINT) AS outlier_e4
            FROM top
        """,
        "radius_join": """
            WITH pts AS (
                SELECT event_id AS pid,
                       CAST(round((user_id % 1000) / 100.0 * 10000)
                            AS BIGINT) AS la,
                       CAST(round((event_id % 1000) / 100.0 * 10000)
                            AS BIGINT) AS lo
                FROM events WHERE event_id < 3000
            ), celled AS (
                SELECT pid, la, lo,
                       CAST(floor(CAST(la AS DOUBLE) / 500) AS BIGINT)
                           AS cx,
                       CAST(floor(CAST(lo AS DOUBLE) / 500) AS BIGINT)
                           AS cy
                FROM pts
            ), a AS (
                SELECT pid AS id_a, la AS la_a, lo AS lo_a,
                       cx + o.dx AS jx, cy + o.dy AS jy
                FROM celled, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                     (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)
            ), b AS (
                SELECT pid AS id_b, la AS la_b, lo AS lo_b,
                       cx AS jx, cy AS jy
                FROM celled
            ), pairs AS (
                SELECT id_a, id_b,
                       (la_a - la_b) * (la_a - la_b)
                       + (lo_a - lo_b) * (lo_a - lo_b) AS dist2
                FROM a JOIN b USING (jx, jy)
                WHERE id_a < id_b
            )
            SELECT id_a, id_b, dist2,
                   CAST(round(sqrt(CAST(dist2 AS DOUBLE))) AS BIGINT)
                       AS dist_e4
            FROM pairs WHERE dist2 <= 500 * 500
        """,
        "kfold_ols": """
            WITH base AS (
                SELECT CAST(l_orderkey % 5 AS INTEGER) AS fold,
                       CAST(round(l_quantity * 100) AS BIGINT) AS x,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            ), per_fold AS (
                SELECT fold, CAST(count(*) AS BIGINT) AS n_f,
                       CAST(SUM(x) AS BIGINT) AS sx_f,
                       CAST(SUM(y) AS BIGINT) AS sy_f,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy_f,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx_f
                FROM base GROUP BY fold
            ), totals AS (
                SELECT CAST(SUM(n_f) AS BIGINT) AS n_t,
                       CAST(SUM(sx_f) AS BIGINT) AS sx_t,
                       CAST(SUM(sy_f) AS BIGINT) AS sy_t,
                       SUM(sxy_f) AS sxy_t,
                       SUM(sxx_f) AS sxx_t
                FROM per_fold
            ), fit AS (
                SELECT fold,
                       CAST(n_t - n_f AS BIGINT) AS n,
                       CAST(sx_t - sx_f AS BIGINT) AS sx,
                       CAST(sy_t - sy_f AS BIGINT) AS sy,
                       sxy_t - sxy_f AS sxy,
                       sxx_t - sxx_f AS sxx
                FROM per_fold, totals
            ), calc AS (
                SELECT fold, n,
                       CAST(CAST(n AS HUGEINT) * sxy
                            - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS num,
                       CAST(CAST(n AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS den,
                       CAST(sx AS DOUBLE) AS sxd,
                       CAST(sy AS DOUBLE) AS syd
                FROM fit
            )
            SELECT fold, n AS n_train,
                   CASE WHEN den > 0 THEN
                       CAST(round(num / den * 1000000.0) AS BIGINT)
                   END AS slope_e6,
                   CASE WHEN den > 0 THEN
                       CAST(round((syd - num / den * sxd)
                                  / CAST(n AS DOUBLE) / 100
                                  * 10000.0) AS BIGINT)
                   END AS intercept_e4
            FROM calc
        """,
        "stream_topk": """
            WITH counts AS (
                SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
                           AS window_start,
                       event_type,
                       count(*) AS n_events
                FROM events GROUP BY 1, 2
            ), ranked AS (
                SELECT window_start, event_type,
                       CAST(n_events AS BIGINT) AS n_events,
                       CAST(row_number() OVER (
                           PARTITION BY window_start
                           ORDER BY n_events DESC, event_type)
                           AS INTEGER) AS rk
                FROM counts
            )
            SELECT window_start, event_type, n_events, rk
            FROM ranked WHERE rk <= 2
        """,
        "group_mode": """
            WITH cells AS (
                SELECT c_nationkey AS g, c_mktsegment AS v,
                       CAST(count(*) AS BIGINT) AS c
                FROM customer
                WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
                GROUP BY 1, 2
            ), ranked AS (
                SELECT g, v, c,
                       CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n,
                       row_number() OVER (PARTITION BY g
                                          ORDER BY c DESC, v) AS rk
                FROM cells
            )
            SELECT g AS c_nationkey, v AS mode_value, c AS mode_count, n,
                   CAST(round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                              * 1000000.0) AS BIGINT) AS share_e6
            FROM ranked WHERE rk = 1
        """,
        "percentile_bands": """
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS x
                FROM orders
                WHERE o_totalprice IS NOT NULL
                  AND o_orderpriority IS NOT NULL
            ), ranked AS (
                SELECT g, x,
                       row_number() OVER (PARTITION BY g ORDER BY x) AS rk,
                       CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
                FROM base
            )
            SELECT g AS o_orderpriority, CAST(max(n) AS BIGINT) AS n,
                   CAST(max(CASE WHEN rk = (n * 10 + 99) // 100
                            THEN x END) * 100 AS BIGINT) AS p10_e4,
                   CAST(max(CASE WHEN rk = (n * 50 + 99) // 100
                            THEN x END) * 100 AS BIGINT) AS p50_e4,
                   CAST(max(CASE WHEN rk = (n * 90 + 99) // 100
                            THEN x END) * 100 AS BIGINT) AS p90_e4
            FROM ranked GROUP BY g
        """,
        "price_index": """
            WITH per AS (
                SELECT CAST(year(l_shipdate) AS INTEGER) AS t,
                       l_partkey AS i,
                       CAST(SUM(CAST(round(l_extendedprice * 100)
                                     AS BIGINT)) AS BIGINT) AS c,
                       CAST(SUM(CAST(round(l_quantity) AS BIGINT))
                            AS BIGINT) AS s
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                  AND l_quantity IS NOT NULL AND round(l_quantity) > 0
                GROUP BY 1, 2
            ), base AS (
                SELECT i, c AS c0, s AS s0 FROM per WHERE t = 1995
            ), j AS (
                SELECT per.t, per.c, per.s, base.c0, base.s0
                FROM per JOIN base USING (i) WHERE per.t != 1995
            ), agg AS (
                SELECT t, CAST(count(*) AS BIGINT) AS n_items,
                       CAST(SUM(CAST(round(CAST(c AS DOUBLE)
                            / CAST(s AS DOUBLE) * CAST(s0 AS DOUBLE))
                            AS BIGINT)) AS BIGINT) AS l_num,
                       CAST(SUM(CAST(round(CAST(c0 AS DOUBLE)
                            / CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                            AS BIGINT)) AS BIGINT) AS l_den,
                       CAST(SUM(CAST(round(CAST(c AS DOUBLE)
                            / CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                            AS BIGINT)) AS BIGINT) AS p_num,
                       CAST(SUM(CAST(round(CAST(c0 AS DOUBLE)
                            / CAST(s0 AS DOUBLE) * CAST(s AS DOUBLE))
                            AS BIGINT)) AS BIGINT) AS p_den
                FROM j GROUP BY t
            )
            SELECT t AS yr, n_items,
                   CAST(round(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE)
                              * 1000000.0) AS BIGINT) AS laspeyres_e6,
                   CAST(round(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)
                              * 1000000.0) AS BIGINT) AS paasche_e6,
                   CAST(round(sqrt(CAST(l_num AS DOUBLE)
                                   / CAST(l_den AS DOUBLE)
                                   * (CAST(p_num AS DOUBLE)
                                      / CAST(p_den AS DOUBLE)))
                              * 1000000.0) AS BIGINT) AS fisher_e6
            FROM agg
        """,
        "abc_xyz": """
            WITH cells AS (
                SELECT l_partkey AS i,
                       CAST(year(l_shipdate) AS INTEGER) AS t,
                       CAST(SUM(CAST(round(l_extendedprice * 100)
                                     AS BIGINT)) AS BIGINT) AS v
                FROM lineitem WHERE l_extendedprice IS NOT NULL
                GROUP BY 1, 2
            ), per_item AS (
                SELECT i, CAST(count(*) AS BIGINT) AS m,
                       CAST(SUM(v) AS BIGINT) AS rev,
                       SUM(CAST(v AS HUGEINT) * v) AS q
                FROM cells GROUP BY i
            ), cum AS (
                SELECT i, m, rev, q,
                       CAST(SUM(rev) OVER (ORDER BY -rev, i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                            ROW) AS BIGINT) AS cum_rev,
                       CAST(SUM(rev) OVER () AS BIGINT) AS tot
                FROM per_item
            ), scored AS (
                SELECT i, rev,
                       CAST(round(CAST(cum_rev AS DOUBLE)
                                  / CAST(tot AS DOUBLE) * 1000000.0)
                            AS BIGINT) AS cum_share_e6,
                       CASE WHEN m >= 2
                             AND CAST(rev AS DOUBLE) / CAST(m AS DOUBLE) > 0
                            THEN CAST(round(
                                sqrt(CAST(CAST(m AS HUGEINT) * q
                                     - CAST(rev AS HUGEINT) * rev
                                     AS DOUBLE)
                                     / CAST(m * (m - 1) AS DOUBLE))
                                / (CAST(rev AS DOUBLE)
                                   / CAST(m AS DOUBLE))
                                * 1000000.0) AS BIGINT)
                       END AS cv_e6
                FROM cum
            ), classed AS (
                SELECT i, rev, cum_share_e6,
                       CASE WHEN cum_share_e6 <= 800000 THEN 'A'
                            WHEN cum_share_e6 <= 950000 THEN 'B'
                            ELSE 'C' END AS abc,
                       cv_e6,
                       CASE WHEN cv_e6 IS NULL THEN 'Z'
                            WHEN cv_e6 < 500000 THEN 'X'
                            WHEN cv_e6 < 1000000 THEN 'Y'
                            ELSE 'Z' END AS xyz
                FROM scored
            )
            SELECT i AS l_partkey, rev AS revenue, cum_share_e6, abc,
                   cv_e6, xyz, abc || xyz AS klass
            FROM classed
        """,
        "eb_shrinkage": """
            WITH base AS (
                SELECT o_custkey AS i,
                       CAST(count(CASE WHEN o_orderstatus = 'F'
                                  THEN 1 END) AS BIGINT) AS x,
                       CAST(count(*) AS BIGINT) AS n
                FROM orders GROUP BY o_custkey
            ), rated AS (
                SELECT i, x, n,
                       CAST(round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                                  * 1000000.0) AS BIGINT) AS r6
                FROM base WHERE n > 0
            ), mom AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                       CAST(SUM(r6) AS BIGINT) AS s,
                       SUM(CAST(r6 AS HUGEINT) * r6) AS q
                FROM rated
            ), pri AS (
                SELECT k,
                       CAST(s AS DOUBLE) / CAST(k AS DOUBLE)
                           / 1000000.0 AS m,
                       CAST(CAST(k AS HUGEINT) * q
                            - CAST(s AS HUGEINT) * s AS DOUBLE)
                           / CAST(k * (k - 1) AS DOUBLE)
                           / 1000000000000.0 AS v
                FROM mom
            ), pri2 AS (
                SELECT k, m, v,
                       m * (1.0 - m) / v - 1.0 AS ab,
                       (k >= 2 AND v > 0
                        AND m * (1.0 - m) / v - 1.0 > 0) AS ok
                FROM pri
            ), pri3 AS (
                SELECT ok,
                       CASE WHEN ok THEN m * ab END AS a,
                       CASE WHEN ok THEN (1.0 - m) * ab END AS b
                FROM pri2
            )
            SELECT i AS o_custkey, x AS hits, n AS trials, r6 AS rate_e6,
                   CAST(round(a * 1000000.0) AS BIGINT) AS alpha_e6,
                   CAST(round(b * 1000000.0) AS BIGINT) AS beta_e6,
                   CAST(round(CASE WHEN ok THEN
                       (CAST(x AS DOUBLE) + a)
                       / (CAST(n AS DOUBLE) + a + b) * 1000000.0
                       ELSE CAST(r6 AS DOUBLE) END) AS BIGINT) AS shrunk_e6
            FROM rated, pri3
        """,
        "mediation": """
            WITH base AS (
                SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
                       CAST(round(l_discount * 100) AS BIGINT) AS m,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
                  AND l_extendedprice IS NOT NULL
            ), shift AS (
                SELECT
                    CAST(round(CAST(SUM(x) AS DOUBLE)
                               / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cx,
                    CAST(round(CAST(SUM(m) AS DOUBLE)
                               / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cm,
                    CAST(round(CAST(SUM(y) AS DOUBLE)
                               / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cy
                FROM base
            ), cen AS (
                SELECT x - cx AS x, m - cm AS m, y - cy AS y
                FROM base, shift
            ), mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS tx,
                       CAST(SUM(m) AS BIGINT) AS tm,
                       CAST(SUM(y) AS BIGINT) AS ty,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(x AS HUGEINT) * m) AS sxm,
                       SUM(CAST(m AS HUGEINT) * m) AS smm,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy,
                       SUM(CAST(m AS HUGEINT) * y) AS smy,
                       SUM(CAST(y AS HUGEINT) * y) AS syy
                FROM cen
            ), corr AS (
                SELECT n,
                       CAST(sxx AS DOUBLE) - CAST(tx AS DOUBLE)
                           * CAST(tx AS DOUBLE) / CAST(n AS DOUBLE) AS Sxx,
                       CAST(sxm AS DOUBLE) - CAST(tx AS DOUBLE)
                           * CAST(tm AS DOUBLE) / CAST(n AS DOUBLE) AS Sxm,
                       CAST(smm AS DOUBLE) - CAST(tm AS DOUBLE)
                           * CAST(tm AS DOUBLE) / CAST(n AS DOUBLE) AS Smm,
                       CAST(sxy AS DOUBLE) - CAST(tx AS DOUBLE)
                           * CAST(ty AS DOUBLE) / CAST(n AS DOUBLE) AS Sxy,
                       CAST(smy AS DOUBLE) - CAST(tm AS DOUBLE)
                           * CAST(ty AS DOUBLE) / CAST(n AS DOUBLE) AS Smy,
                       CAST(syy AS DOUBLE) - CAST(ty AS DOUBLE)
                           * CAST(ty AS DOUBLE) / CAST(n AS DOUBLE) AS Syy
                FROM mom
            ), fit AS (
                SELECT n, Sxx, Sxm, Smm, Sxy, Smy, Syy,
                       Sxm / Sxx AS a,
                       Sxy / Sxx AS c,
                       Sxx * Smm - Sxm * Sxm AS det
                FROM corr
            ), fit2 AS (
                SELECT *,
                       (Sxy * Smm - Smy * Sxm) / det AS c_p,
                       (Sxx * Smy - Sxm * Sxy) / det AS b
                FROM fit
            ), fit3 AS (
                SELECT *,
                       (Smm - a * Sxm) / CAST(n - 2 AS DOUBLE) / Sxx
                           AS se_a2,
                       (Syy - c_p * Sxy - b * Smy)
                           / CAST(n - 3 AS DOUBLE) * Sxx / det AS se_b2,
                       (n >= 4 AND det > 0 AND Sxx > 0) AS ok
                FROM fit2
            )
            SELECT n,
                   CASE WHEN ok THEN CAST(round(a * 1000000.0) AS BIGINT)
                   END AS a_e6,
                   CASE WHEN ok THEN CAST(round(c * 1000000.0) AS BIGINT)
                   END AS c_e6,
                   CASE WHEN ok THEN CAST(round(c_p * 1000000.0) AS BIGINT)
                   END AS c_prime_e6,
                   CASE WHEN ok THEN CAST(round(b * 1000000.0) AS BIGINT)
                   END AS b_e6,
                   CASE WHEN ok THEN CAST(round(a * b * 1000000.0)
                                          AS BIGINT)
                   END AS indirect_e6,
                   CASE WHEN ok THEN CAST(round(a * b
                       / sqrt(b * b * se_a2 + a * a * se_b2)
                       * 1000000.0) AS BIGINT)
                   END AS sobel_z_e6,
                   CASE WHEN ok THEN CAST(round(a * b / c * 1000000.0)
                                          AS BIGINT)
                   END AS prop_mediated_e6
            FROM fit3
        """,
        "cumulative_incidence": _cif_sql(),
        "shapley_coverage": """
            WITH masks AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'view' THEN 1
                           ELSE 0 END)
                       + 2 * max(CASE WHEN event_type = 'click' THEN 1
                                 ELSE 0 END)
                       + 4 * max(CASE WHEN event_type = 'purchase' THEN 1
                                 ELSE 0 END) AS mask
                FROM events
                WHERE event_type IN ('view', 'click', 'purchase')
                GROUP BY user_id
            ), cnt AS (
                SELECT mask, CAST(count(*) AS BIGINT) AS n FROM masks
                GROUP BY mask
            ), v AS (
                SELECT
                  CAST(SUM(CASE WHEN mask & 1 > 0 THEN n ELSE 0 END)
                       AS BIGINT) AS v1,
                  CAST(SUM(CASE WHEN mask & 2 > 0 THEN n ELSE 0 END)
                       AS BIGINT) AS v2,
                  CAST(SUM(CASE WHEN mask & 3 > 0 THEN n ELSE 0 END)
                       AS BIGINT) AS v3,
                  CAST(SUM(CASE WHEN mask & 4 > 0 THEN n ELSE 0 END)
                       AS BIGINT) AS v4,
                  CAST(SUM(CASE WHEN mask & 5 > 0 THEN n ELSE 0 END)
                       AS BIGINT) AS v5,
                  CAST(SUM(CASE WHEN mask & 6 > 0 THEN n ELSE 0 END)
                       AS BIGINT) AS v6,
                  CAST(SUM(CASE WHEN mask & 7 > 0 THEN n ELSE 0 END)
                       AS BIGINT) AS v7
                FROM cnt
            ), stacked AS (
                SELECT 'view' AS channel, v1 AS solo_coverage,
                       2*v1 + (v3 - v2) + (v5 - v4) + 2*(v7 - v6) AS phi6,
                       v7 AS v_all
                FROM v
                UNION ALL
                SELECT 'click', v2,
                       2*v2 + (v3 - v1) + (v6 - v4) + 2*(v7 - v5), v7
                FROM v
                UNION ALL
                SELECT 'purchase', v4,
                       2*v4 + (v5 - v1) + (v6 - v2) + 2*(v7 - v3), v7
                FROM v
            )
            SELECT channel, solo_coverage,
                   CAST(phi6 AS BIGINT) AS phi6,
                   CAST(round(CAST(phi6 AS DOUBLE) / 6 * 100) AS BIGINT)
                       AS phi_e2,
                   CAST(round(CAST(phi6 AS DOUBLE)
                              / CAST(6 * v_all AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS share_e6
            FROM stacked
        """,
        "bigram_suggest": """
            WITH toks AS (
                SELECT list_filter(regexp_split_to_array(lower(text),
                           '\\s+'), w -> w != '') AS w
                FROM documents
            ), pairs AS (
                SELECT w[i] AS head, w[i + 1] AS nxt
                FROM toks, LATERAL unnest(generate_series(1, len(w) - 1))
                     AS u(i)
                WHERE len(w) >= 2
            ), counts AS (
                SELECT head, nxt, CAST(count(*) AS BIGINT) AS n_pair
                FROM pairs GROUP BY head, nxt
            ), ranked AS (
                SELECT head, nxt, n_pair,
                       CAST(SUM(n_pair) OVER (PARTITION BY head)
                            AS BIGINT) AS n_head,
                       CAST(row_number() OVER (PARTITION BY head
                            ORDER BY n_pair DESC, nxt) AS INTEGER) AS rank
                FROM counts
            )
            SELECT head, nxt AS next_word, n_pair, n_head, rank,
                   CAST(round(CAST(n_pair AS DOUBLE)
                              / CAST(n_head AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS p_e6
            FROM ranked WHERE rank <= 3 AND n_pair >= 2
        """,
        "class_balance": """
            WITH base AS (
                SELECT lang AS lbl, doc_id AS rid FROM documents
                WHERE lang IS NOT NULL AND doc_id IS NOT NULL
            ), n_min AS (
                SELECT CAST(min(n) AS BIGINT) AS n_min FROM (
                    SELECT count(*) AS n FROM base GROUP BY lbl
                )
            ), ranked AS (
                SELECT lbl, rid,
                       CAST(row_number() OVER (PARTITION BY lbl
                            ORDER BY md5(CAST(rid AS VARCHAR)), rid)
                            AS INTEGER) AS pick_rank
                FROM base
            )
            SELECT lbl AS lang, rid AS doc_id, pick_rank
            FROM ranked, n_min WHERE pick_rank <= n_min
        """,
        "woe_iv": """
            WITH base AS (
                SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
                       CAST(o_orderstatus = 'F' AS INTEGER) AS y,
                       o_orderkey AS rid
                FROM orders
                WHERE o_totalprice IS NOT NULL
            ), tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n_tot FROM base
            ), binned AS (
                SELECT y,
                       CAST(((row_number() OVER (ORDER BY x, rid) - 1)
                             * 10) // n_tot AS BIGINT) AS bin
                FROM base, tot
            ), per_bin AS (
                SELECT bin, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(y) AS BIGINT) AS n_good,
                       CAST(count(*) - SUM(y) AS BIGINT) AS n_bad
                FROM binned GROUP BY bin
            ), totals AS (
                SELECT CAST(SUM(n_good) AS BIGINT) AS g,
                       CAST(SUM(n_bad) AS BIGINT) AS b
                FROM per_bin
            )
            SELECT bin, n, n_good, n_bad,
                   CASE WHEN n_good > 0 AND n_bad > 0 THEN
                       CAST(round(ln((CAST(n_good AS DOUBLE)
                                      / CAST(g AS DOUBLE))
                                     / (CAST(n_bad AS DOUBLE)
                                        / CAST(b AS DOUBLE)))
                                  * 1000000000.0) AS BIGINT)
                   END AS woe_e9,
                   CASE WHEN n_good > 0 AND n_bad > 0 THEN
                       CAST(round((CAST(n_good AS DOUBLE)
                                   / CAST(g AS DOUBLE)
                                   - CAST(n_bad AS DOUBLE)
                                     / CAST(b AS DOUBLE))
                                  * ln((CAST(n_good AS DOUBLE)
                                        / CAST(g AS DOUBLE))
                                       / (CAST(n_bad AS DOUBLE)
                                          / CAST(b AS DOUBLE)))
                                  * 1000000000.0) AS BIGINT)
                   END AS iv_term_e9
            FROM per_bin, totals
        """,
        "lag_features": f"""
            WITH daily AS ({_DAILY_REV_SQL}
            ), base AS (
                SELECT flag, d, CAST(round(rev * 100) AS BIGINT) AS y
                FROM daily
            )
            SELECT flag, d, y,
                   lag(y, 1) OVER w AS lag_1,
                   lag(y, 7) OVER w AS lag_7,
                   CAST(round(CAST(SUM(y) OVER w7 AS DOUBLE)
                              / CAST(count(*) OVER w7 AS DOUBLE)
                              / 100 * 10000) AS BIGINT) AS rmean7_e4,
                   CAST(count(*) OVER w7 AS BIGINT) AS n7,
                   CAST(round(CAST(SUM(y) OVER w28 AS DOUBLE)
                              / CAST(count(*) OVER w28 AS DOUBLE)
                              / 100 * 10000) AS BIGINT) AS rmean28_e4,
                   CAST(count(*) OVER w28 AS BIGINT) AS n28,
                   CAST(dayofweek(d) + 1 AS INTEGER) AS dow,
                   CAST(month(d) AS INTEGER) AS month
            FROM base
            WINDOW w AS (PARTITION BY flag ORDER BY d),
                   w7 AS (PARTITION BY flag ORDER BY d
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                   w28 AS (PARTITION BY flag ORDER BY d
                           ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
        """,
        "trend_test": """
            WITH base AS (
                SELECT CAST(CASE year(o_orderdate)
                            WHEN 1995 THEN 1 WHEN 1996 THEN 2
                            WHEN 1997 THEN 3 WHEN 1998 THEN 4
                            WHEN 1999 THEN 5 WHEN 2000 THEN 6
                            WHEN 2001 THEN 7 END AS BIGINT) AS w,
                       CAST(o_orderstatus = 'F' AS INTEGER) AS y
                FROM orders
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(y) AS BIGINT) AS x_tot,
                       CAST(SUM(w * y) AS BIGINT) AS swx,
                       CAST(SUM(w) AS BIGINT) AS swn,
                       CAST(SUM(w * w) AS BIGINT) AS sw2n
                FROM base WHERE w IS NOT NULL AND y IS NOT NULL
            ), stat AS (
                SELECT n, x_tot,
                       n * swx - swn * x_tot AS num,
                       CAST(x_tot AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
                       CAST(sw2n AS DOUBLE)
                           - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                             / CAST(n AS DOUBLE) AS bracket
                FROM agg
            )
            SELECT n, x_tot AS n_hits, CAST(num AS BIGINT) AS num,
                   CASE WHEN pbar * (1.0 - pbar) * bracket > 0 THEN
                       CAST(round((CAST(num AS DOUBLE) / CAST(n AS DOUBLE))
                                  / sqrt(pbar * (1.0 - pbar) * bracket)
                                  * 1000000.0) AS BIGINT)
                   END AS z_e6
            FROM stat
        """,
        "mcnemar": """
            WITH per_c AS (
                SELECT o_custkey,
                       max(CASE WHEN o_orderdate < TIMESTAMP '1998-06-01'
                           THEN 1 ELSE 0 END) AS early,
                       max(CASE WHEN o_orderdate >= TIMESTAMP '1998-06-01'
                           THEN 1 ELSE 0 END) AS late
                FROM orders GROUP BY o_custkey
            ), paired AS (
                SELECT COALESCE(p.early, 0) AS p, COALESCE(p.late, 0) AS q
                FROM customer c LEFT JOIN per_c p
                  ON c.c_custkey = p.o_custkey
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                       CAST(SUM(CASE WHEN p = 1 AND q = 0 THEN 1 ELSE 0
                                END) AS BIGINT) AS b,
                       CAST(SUM(CASE WHEN p = 0 AND q = 1 THEN 1 ELSE 0
                                END) AS BIGINT) AS c
                FROM paired
            )
            SELECT n_pairs, b, c,
                   CASE WHEN b + c > 0 THEN
                       CAST(round(CAST((b - c) * (b - c) AS DOUBLE)
                                  / CAST(b + c AS DOUBLE) * 1000000.0)
                            AS BIGINT)
                   END AS chi2_e6,
                   CASE WHEN b + c > 0 THEN
                       CAST(round(CAST((abs(b - c) - 1) * (abs(b - c) - 1)
                                       AS DOUBLE)
                                  / CAST(b + c AS DOUBLE) * 1000000.0)
                            AS BIGINT)
                   END AS chi2_cc_e6
            FROM agg
        """,
        "assortativity": """
            WITH und AS (
                SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS d
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                WHERE a.l_suppkey <= 60 AND b.l_suppkey <= 60
                  AND a.l_suppkey < b.l_suppkey
            ), dirs AS (
                SELECT s AS a, d AS b FROM und
                UNION ALL
                SELECT d AS a, s AS b FROM und
            ), deg AS (
                SELECT a, CAST(count(*) AS BIGINT) AS deg
                FROM dirs GROUP BY a
            ), j AS (
                SELECT dx.deg AS dx, dy.deg AS dy
                FROM dirs
                JOIN deg dx ON dirs.a = dx.a
                JOIN deg dy ON dirs.b = dy.a
            ), mom AS (
                SELECT CAST(count(*) AS BIGINT) AS m2,
                       CAST(SUM(dx) AS BIGINT) AS sx,
                       CAST(SUM(dy) AS BIGINT) AS sy,
                       SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
                       SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
                       SUM(CAST(dy AS HUGEINT) * dy) AS syy
                FROM j
            )
            SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
                   CASE WHEN CAST(CAST(m2 AS HUGEINT) * sxx
                             - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0
                         AND CAST(CAST(m2 AS HUGEINT) * syy
                             - CAST(sy AS HUGEINT) * sy AS DOUBLE) > 0
                   THEN
                       CAST(round(CAST(CAST(m2 AS HUGEINT) * sxy
                                  - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                                  / (sqrt(CAST(CAST(m2 AS HUGEINT) * sxx
                                     - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                                     * sqrt(CAST(CAST(m2 AS HUGEINT) * syy
                                       - CAST(sy AS HUGEINT) * sy
                                       AS DOUBLE)))
                                  * 1000000.0) AS BIGINT)
                   END AS r_e6
            FROM mom
        """,
        "heaps_law": _heaps_sql(),
        "burstiness": """
            WITH lagged AS (
                SELECT user_id AS k, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           AS prev_ts
                FROM events
            ), gaps AS (
                SELECT k,
                       CAST((epoch_us(CAST(ts AS TIMESTAMP))
                             - epoch_us(CAST(prev_ts AS TIMESTAMP)))
                            // 1000000 AS BIGINT) AS g
                FROM lagged WHERE prev_ts IS NOT NULL
            ), mom AS (
                SELECT k, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(g) AS BIGINT) AS s,
                       SUM(CAST(g AS HUGEINT) * g) AS q
                FROM gaps GROUP BY k
            ), stat AS (
                SELECT k, n, s,
                       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                       CASE WHEN n >= 2 THEN
                           sqrt(CAST(CAST(n AS HUGEINT) * q
                                - CAST(s AS HUGEINT) * s AS DOUBLE)
                                / CAST(n * (n - 1) AS DOUBLE))
                       END AS sd
                FROM mom
            )
            SELECT k AS user_id, n AS n_gaps,
                   CAST(round(mean * 100) AS BIGINT) AS mean_gap_e2,
                   CAST(round(sd * 100) AS BIGINT) AS sd_gap_e2,
                   CASE WHEN n >= 2 AND sd + mean > 0 THEN
                       CAST(round((sd - mean) / (sd + mean) * 1000000.0)
                            AS BIGINT)
                   END AS b_e6
            FROM stat
        """,
        "calendar_gaps": """
            WITH days AS (
                SELECT DISTINCT l_suppkey AS k,
                       CAST(l_shipdate AS DATE) AS d
                FROM lineitem WHERE l_suppkey <= 20
            ), stepped AS (
                SELECT k, d,
                       lead(d) OVER (PARTITION BY k ORDER BY d) AS nxt
                FROM days
            )
            SELECT k AS l_suppkey,
                   d + 1 AS gap_start,
                   nxt - 1 AS gap_end,
                   CAST(date_diff('day', d, nxt) - 1 AS BIGINT) AS gap_days
            FROM stepped
            WHERE nxt IS NOT NULL
              AND date_diff('day', d, nxt) - 1 >= 3
        """,
        "double_charge": """
            WITH base AS (
                SELECT l_partkey AS e,
                       CAST(round(l_quantity * 1) AS BIGINT) AS c,
                       CAST(l_shipdate AS DATE) AS d,
                       l_orderkey * 10 + l_linenumber AS rid
                FROM lineitem WHERE l_quantity IS NOT NULL
            )
            SELECT a.e AS l_partkey, a.c AS amount_units,
                   a.rid AS id_a, b.rid AS id_b,
                   CAST(abs(date_diff('day', a.d, b.d)) AS BIGINT)
                       AS days_apart
            FROM base a JOIN base b
              ON a.e = b.e AND a.c = b.c AND a.rid < b.rid
            WHERE abs(date_diff('day', a.d, b.d)) <= 7
        """,
        "round_number_bias": """
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS c
                FROM orders WHERE o_totalprice IS NOT NULL
            ), agg AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_round
                FROM base GROUP BY g
            )
            SELECT g AS o_orderpriority, n, n_round,
                   CAST(round(CAST(n_round AS DOUBLE) / CAST(n AS DOUBLE)
                              * 1000000.0) AS BIGINT) AS share_e6,
                   CASE WHEN n > 0 THEN
                       CAST(round((CAST(n_round AS DOUBLE)
                                   - CAST(n AS DOUBLE) * 0.01)
                                  / sqrt(CAST(n AS DOUBLE) * 0.01
                                         * (1.0 - 0.01))
                                  * 1000000.0) AS BIGINT)
                   END AS z_e6
            FROM agg
        """,
        "markov_entropy": """
            WITH steps AS (
                SELECT event_type AS a,
                       lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS b
                FROM events
            ), cells AS (
                SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
                FROM steps WHERE b IS NOT NULL GROUP BY a, b
            ), src AS (
                SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a
                FROM cells GROUP BY a
            ), tot AS (
                SELECT CAST(SUM(n_ab) AS BIGINT) AS n,
                       CAST(count(DISTINCT a) AS BIGINT) AS k
                FROM cells
            ), scored AS (
                SELECT n, k,
                       CAST(round(-(CAST(n_ab AS DOUBLE)
                                    / CAST(n AS DOUBLE))
                                  * ln(CAST(n_ab AS DOUBLE)
                                       / CAST(n_a AS DOUBLE))
                                  * 1000000000.0) AS BIGINT) AS t
                FROM cells JOIN src USING (a), tot
            ), agg AS (
                SELECT n, k, CAST(SUM(t) AS BIGINT) AS h_e9
                FROM scored GROUP BY n, k
            )
            SELECT n AS n_transitions, k AS n_states, h_e9,
                   CAST(round(ln(CAST(k AS DOUBLE)) * 1000000000.0)
                        AS BIGINT) AS h_max_e9,
                   CASE WHEN k > 1 THEN
                       CAST(round((1.0 - (CAST(h_e9 AS DOUBLE)
                                          / 1000000000.0)
                                         / ln(CAST(k AS DOUBLE)))
                                  * 1000000.0) AS BIGINT)
                   END AS predictability_e6
            FROM agg
        """,
        "gif_frames": """
            WITH src AS (
                SELECT doc_id, 1 + doc_id % 3 AS nf
                FROM documents WHERE doc_id < 150
            )
            SELECT doc_id AS item_id,
                   CAST(u.f AS INTEGER) AS frame_idx,
                   CAST((doc_id * 13 + u.f * 7) % 256 AS INTEGER) AS r,
                   CAST((doc_id * 5 + u.f * 11) % 256 AS INTEGER) AS g,
                   CAST((u.f * 29 + 3) % 256 AS INTEGER) AS b
            FROM src, LATERAL unnest(generate_series(0, nf - 1)) AS u(f)
            ORDER BY item_id, frame_idx
        """,
        "fleiss_kappa": """
            WITH base AS (
                SELECT l_orderkey AS i, l_returnflag AS r FROM lineitem
                WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
            ), sizes AS (
                SELECT i, CAST(count(*) AS BIGINT) AS n_i
                FROM base GROUP BY i
            ), n_mode AS (
                SELECT n_i AS n_raters FROM (
                    SELECT n_i, count(*) AS c FROM sizes GROUP BY n_i
                ) ORDER BY c DESC, n_i LIMIT 1
            ), kept AS (
                SELECT sizes.i, n_mode.n_raters
                FROM sizes, n_mode WHERE sizes.n_i = n_mode.n_raters
            ), cells AS (
                SELECT base.i, base.r, kept.n_raters,
                       CAST(count(*) AS BIGINT) AS n_ij
                FROM base JOIN kept ON base.i = kept.i
                GROUP BY base.i, base.r, kept.n_raters
            ), per_item AS (
                SELECT i, n_raters,
                       CAST(SUM(n_ij * n_ij) AS BIGINT) AS ssq
                FROM cells GROUP BY i, n_raters
            ), cat_tot AS (
                SELECT r, CAST(SUM(n_ij) AS BIGINT) AS n_j
                FROM cells GROUP BY r
            ), tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n_items,
                       CAST(max(n_raters) AS BIGINT) AS n_raters,
                       CAST(SUM(ssq) AS BIGINT) AS ssq_tot
                FROM per_item
            ), pe_row AS (
                SELECT CAST(SUM(n_j) AS BIGINT) AS n_all,
                       SUM(CAST(n_j AS HUGEINT) * n_j) AS sq_all
                FROM cat_tot
            ), excl AS (
                SELECT CAST(count(*) AS BIGINT) AS n_sizes FROM sizes
            ), calc AS (
                SELECT n_items, n_raters,
                       n_sizes - n_items AS n_excluded,
                       CAST(ssq_tot - n_items * n_raters AS DOUBLE)
                           / CAST(n_items * n_raters * (n_raters - 1)
                                  AS DOUBLE) AS pbar,
                       CAST(sq_all AS DOUBLE)
                           / (CAST(n_all AS DOUBLE)
                              * CAST(n_all AS DOUBLE)) AS pe
                FROM tot, pe_row, excl
            )
            SELECT n_items, n_raters,
                   CAST(n_excluded AS BIGINT) AS n_excluded,
                   CAST(round(pbar * 1000000.0) AS BIGINT) AS pbar_e6,
                   CAST(round(pe * 1000000.0) AS BIGINT) AS pe_e6,
                   CASE WHEN pe < 1 THEN
                       CAST(round((pbar - pe) / (1.0 - pe) * 1000000.0)
                            AS BIGINT)
                   END AS kappa_e6
            FROM calc
        """,
        "chi_square_residuals": """
            WITH cells AS (
                SELECT o_orderpriority AS a, o_orderstatus AS b,
                       CAST(count(*) AS BIGINT) AS o
                FROM orders
                WHERE o_orderpriority IS NOT NULL
                  AND o_orderstatus IS NOT NULL
                GROUP BY 1, 2
            ), ma AS (
                SELECT a, CAST(SUM(o) AS BIGINT) AS n_a
                FROM cells GROUP BY a
            ), mb AS (
                SELECT b, CAST(SUM(o) AS BIGINT) AS n_b
                FROM cells GROUP BY b
            ), tot AS (
                SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
            ), calc AS (
                SELECT a, b, o,
                       CAST(o * n - n_a * n_b AS DOUBLE)
                           / CAST(n AS DOUBLE)
                           / sqrt(CAST(n_a AS DOUBLE)
                                  * CAST(n_b AS DOUBLE)
                                  / CAST(n AS DOUBLE)
                                  * (1.0 - CAST(n_a AS DOUBLE)
                                         / CAST(n AS DOUBLE))
                                  * (1.0 - CAST(n_b AS DOUBLE)
                                         / CAST(n AS DOUBLE))) AS resid
                FROM cells JOIN ma USING (a) JOIN mb USING (b), tot
            )
            SELECT a, b, o AS n_obs,
                   CAST(round(resid * 1000000.0) AS BIGINT) AS resid_e6,
                   CAST(abs(resid) > 2 AS INT) AS flagged
            FROM calc
        """,
        "feature_mi_ranking": """
            SELECT 'priority' AS feature, n,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(SUM(term_e9) AS BIGINT) AS mi_e9
            FROM (
                SELECT n, CAST(round(
                       CAST(nab AS DOUBLE) / CAST(n AS DOUBLE)
                       * ln(CAST(n AS DOUBLE) * CAST(nab AS DOUBLE)
                            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                       * 1e9) AS BIGINT) AS term_e9
                FROM (
                    SELECT o_orderpriority AS a, o_orderstatus AS b,
                           CAST(count(*) AS BIGINT) AS nab
                    FROM orders GROUP BY 1, 2
                ) cells
                JOIN (
                    SELECT o_orderpriority AS a, CAST(count(*) AS BIGINT) AS na
                    FROM orders GROUP BY 1
                ) ma USING (a)
                JOIN (
                    SELECT o_orderstatus AS b,
                           CAST(count(*) AS BIGINT) AS nb
                    FROM orders GROUP BY 1
                ) mb USING (b),
                (SELECT CAST(count(*) AS BIGINT) AS n FROM orders) tot
            ) scored GROUP BY n UNION ALL\n            SELECT 'year' AS feature, n,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(SUM(term_e9) AS BIGINT) AS mi_e9
            FROM (
                SELECT n, CAST(round(
                       CAST(nab AS DOUBLE) / CAST(n AS DOUBLE)
                       * ln(CAST(n AS DOUBLE) * CAST(nab AS DOUBLE)
                            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                       * 1e9) AS BIGINT) AS term_e9
                FROM (
                    SELECT CAST(year(o_orderdate) AS VARCHAR) AS a, o_orderstatus AS b,
                           CAST(count(*) AS BIGINT) AS nab
                    FROM orders GROUP BY 1, 2
                ) cells
                JOIN (
                    SELECT CAST(year(o_orderdate) AS VARCHAR) AS a, CAST(count(*) AS BIGINT) AS na
                    FROM orders GROUP BY 1
                ) ma USING (a)
                JOIN (
                    SELECT o_orderstatus AS b,
                           CAST(count(*) AS BIGINT) AS nb
                    FROM orders GROUP BY 1
                ) mb USING (b),
                (SELECT CAST(count(*) AS BIGINT) AS n FROM orders) tot
            ) scored GROUP BY n UNION ALL\n            SELECT 'price_band' AS feature, n,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(SUM(term_e9) AS BIGINT) AS mi_e9
            FROM (
                SELECT n, CAST(round(
                       CAST(nab AS DOUBLE) / CAST(n AS DOUBLE)
                       * ln(CAST(n AS DOUBLE) * CAST(nab AS DOUBLE)
                            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                       * 1e9) AS BIGINT) AS term_e9
                FROM (
                    SELECT CAST(CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS VARCHAR) AS a, o_orderstatus AS b,
                           CAST(count(*) AS BIGINT) AS nab
                    FROM orders GROUP BY 1, 2
                ) cells
                JOIN (
                    SELECT CAST(CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS VARCHAR) AS a, CAST(count(*) AS BIGINT) AS na
                    FROM orders GROUP BY 1
                ) ma USING (a)
                JOIN (
                    SELECT o_orderstatus AS b,
                           CAST(count(*) AS BIGINT) AS nb
                    FROM orders GROUP BY 1
                ) mb USING (b),
                (SELECT CAST(count(*) AS BIGINT) AS n FROM orders) tot
            ) scored GROUP BY n
        """,
        "simpson_check": """
            WITH base AS (
                SELECT CAST(year(o_orderdate) AS INTEGER) AS g,
                       CAST(o_totalprice > 150000 AS INTEGER) AS x,
                       CAST(o_orderstatus = 'F' AS INTEGER) AS y
                FROM orders
                WHERE o_totalprice IS NOT NULL
                  AND o_orderstatus IS NOT NULL
            ), cells AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0
                                END) AS BIGINT) AS n11,
                       CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0
                                END) AS BIGINT) AS n10,
                       CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0
                                END) AS BIGINT) AS n01,
                       CAST(SUM(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0
                                END) AS BIGINT) AS n00
                FROM base GROUP BY g
            ), signed AS (
                SELECT n, n11, n10, n01, n00,
                       CASE WHEN CAST(n11 AS HUGEINT) * n00
                                 - CAST(n10 AS HUGEINT) * n01 > 0 THEN 1
                            WHEN CAST(n11 AS HUGEINT) * n00
                                 - CAST(n10 AS HUGEINT) * n01 < 0 THEN -1
                            ELSE 0 END AS s
                FROM cells
            ), comb AS (
                SELECT CAST(SUM(n) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS n_strata,
                       CAST(SUM(n11) AS BIGINT) AS t11,
                       CAST(SUM(n10) AS BIGINT) AS t10,
                       CAST(SUM(n01) AS BIGINT) AS t01,
                       CAST(SUM(n00) AS BIGINT) AS t00,
                       CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_pos,
                       CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_neg,
                       CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_zero
                FROM signed
            ), overall AS (
                SELECT *,
                       CASE WHEN CAST(t11 AS HUGEINT) * t00
                                 - CAST(t10 AS HUGEINT) * t01 > 0 THEN 1
                            WHEN CAST(t11 AS HUGEINT) * t00
                                 - CAST(t10 AS HUGEINT) * t01 < 0 THEN -1
                            ELSE 0 END AS o_sgn
                FROM comb
            )
            SELECT n, n_strata, CAST(o_sgn AS INTEGER) AS overall_sign,
                   n_pos, n_neg, n_zero,
                   CAST(CASE WHEN (o_sgn = 1 AND n_pos = 0)
                               OR (o_sgn = -1 AND n_neg = 0)
                        THEN 1 ELSE 0 END AS INTEGER) AS reversed
            FROM overall
        """,
        "wilson_ci": """
            WITH agg AS (
                SELECT o_orderpriority AS g,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(o_orderstatus = 'F' AS INTEGER))
                            AS BIGINT) AS x
                FROM orders
                WHERE o_orderstatus IS NOT NULL
                  AND o_orderpriority IS NOT NULL
                GROUP BY 1
            ), calc AS (
                SELECT g, n, x,
                       CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                       1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE) AS denom
                FROM agg
            ), ci AS (
                SELECT g, n, x, p,
                       (p + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
                           / denom AS center,
                       1.96 * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
                                   + 1.96 * 1.96
                                     / (4.0 * CAST(n AS DOUBLE)
                                        * CAST(n AS DOUBLE))) / denom
                           AS hw
                FROM calc
            )
            SELECT g AS o_orderpriority, n, x AS hits,
                   CAST(round(p * 1000000.0) AS BIGINT) AS p_e6,
                   CAST(round((center - hw) * 1000000.0) AS BIGINT)
                       AS lo_e6,
                   CAST(round((center + hw) * 1000000.0) AS BIGINT)
                       AS hi_e6
            FROM ci
        """,
        "mantel_haenszel": """
            WITH base AS (
                SELECT CAST(year(o_orderdate) AS INTEGER) AS g,
                       CAST(o_totalprice > 150000 AS INTEGER) AS x,
                       CAST(o_orderstatus = 'F' AS INTEGER) AS y
                FROM orders
                WHERE o_totalprice IS NOT NULL
                  AND o_orderstatus IS NOT NULL
            ), cells AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0
                                END) AS BIGINT) AS n11,
                       CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0
                                END) AS BIGINT) AS n10,
                       CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0
                                END) AS BIGINT) AS n01,
                       CAST(SUM(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0
                                END) AS BIGINT) AS n00
                FROM base GROUP BY g
            ), terms AS (
                SELECT n, n11,
                       CAST(round(CAST(n11 * n00 AS DOUBLE)
                                  / CAST(n AS DOUBLE) * 1000000.0)
                            AS BIGINT) AS a_t,
                       CAST(round(CAST(n10 * n01 AS DOUBLE)
                                  / CAST(n AS DOUBLE) * 1000000.0)
                            AS BIGINT) AS b_t,
                       CAST(round(CAST((n11 + n10) * (n11 + n01)
                                       AS DOUBLE)
                                  / CAST(n AS DOUBLE) * 1000000.0)
                            AS BIGINT) AS e_t,
                       CAST(round(
                           CAST(CAST(n11 + n10 AS HUGEINT)
                                * (n01 + n00) AS DOUBLE)
                           * CAST(CAST(n11 + n01 AS HUGEINT)
                                  * (n10 + n00) AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                              * (CAST(n AS DOUBLE) - 1.0))
                           * 1000000.0) AS BIGINT) AS v_t
                FROM cells WHERE n >= 2
            ), agg AS (
                SELECT CAST(SUM(n) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS n_strata,
                       CAST(SUM(n11) AS BIGINT) AS t11,
                       CAST(SUM(a_t) AS BIGINT) AS sa,
                       CAST(SUM(b_t) AS BIGINT) AS sb,
                       CAST(SUM(e_t) AS BIGINT) AS se_sum,
                       CAST(SUM(v_t) AS BIGINT) AS sv
                FROM terms
            )
            SELECT n, n_strata,
                   CASE WHEN sa > 0 AND sb > 0 THEN
                       CAST(round(CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE)
                                  * 1000000.0) AS BIGINT)
                   END AS or_mh_e6,
                   CASE WHEN sa > 0 AND sb > 0 THEN
                       CAST(round(ln(CAST(sa AS DOUBLE)
                                     / CAST(sb AS DOUBLE))
                                  * 1000000.0) AS BIGINT)
                   END AS ln_or_e6,
                   CASE WHEN sv > 0 THEN
                       CAST(round((CAST(t11 AS DOUBLE)
                                   - CAST(se_sum AS DOUBLE) / 1000000.0)
                                  * (CAST(t11 AS DOUBLE)
                                     - CAST(se_sum AS DOUBLE)
                                       / 1000000.0)
                                  / (CAST(sv AS DOUBLE) / 1000000.0)
                                  * 1000000.0) AS BIGINT)
                   END AS cmh_e6
            FROM agg
        """,
        "contingency_effects": """
            WITH cells AS (
                SELECT o_orderpriority AS a, o_orderstatus AS b,
                       CAST(count(*) AS BIGINT) AS o
                FROM orders
                WHERE o_orderpriority IS NOT NULL
                  AND o_orderstatus IS NOT NULL
                GROUP BY 1, 2
            ), ma AS (
                SELECT a, CAST(SUM(o) AS BIGINT) AS n_a
                FROM cells GROUP BY a
            ), mb AS (
                SELECT b, CAST(SUM(o) AS BIGINT) AS n_b
                FROM cells GROUP BY b
            ), tot AS (
                SELECT CAST(SUM(o) AS BIGINT) AS n,
                       CAST(count(DISTINCT a) AS BIGINT) AS r,
                       CAST(count(DISTINCT b) AS BIGINT) AS c
                FROM cells
            ), terms AS (
                SELECT n, r, c,
                       CAST(round(
                           CAST(CAST(o AS HUGEINT) * n
                                - CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
                           * CAST(CAST(o AS HUGEINT) * n
                                  - CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(n_a AS DOUBLE)
                              * CAST(n_b AS DOUBLE))
                           * 1000000.0) AS BIGINT) AS chi_t,
                       CAST(round(2.0 * CAST(o AS DOUBLE)
                                  * ln(CAST(o AS DOUBLE)
                                       * CAST(n AS DOUBLE)
                                       / (CAST(n_a AS DOUBLE)
                                          * CAST(n_b AS DOUBLE)))
                                  * 1000000.0) AS BIGINT) AS g_t
                FROM cells JOIN ma USING (a) JOIN mb USING (b), tot
            ), agg AS (
                SELECT n, r, c,
                       CAST(SUM(chi_t) AS BIGINT) AS chi2_sum,
                       CAST(SUM(g_t) AS BIGINT) AS g_sum
                FROM terms GROUP BY n, r, c
            )
            SELECT n, r AS n_rows, c AS n_cols,
                   CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
                   chi2_sum AS chi2_e6, g_sum AS g_e6,
                   CASE WHEN least(r - 1, c - 1) > 0 THEN
                       CAST(round(sqrt(CAST(chi2_sum AS DOUBLE) / 1000000.0
                                       / CAST(n * least(r - 1, c - 1)
                                              AS DOUBLE))
                                  * 1000000.0) AS BIGINT)
                   END AS cramers_v_e6
            FROM agg
        """,
        "state_durations": """
            WITH stepped AS (
                SELECT user_id AS k, event_type AS s,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                       epoch_us(CAST(lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS TIMESTAMP)) AS nxt_us
                FROM events
            ), secs AS (
                SELECT k, s, (nxt_us - us) // 1000000 AS sec
                FROM stepped WHERE nxt_us IS NOT NULL
            ), per AS (
                SELECT k, s, CAST(count(*) AS BIGINT) AS n_intervals,
                       CAST(SUM(sec) AS BIGINT) AS total_sec
                FROM secs GROUP BY k, s
            )
            SELECT k AS user_id, s AS event_type, n_intervals, total_sec,
                   CAST(round(CAST(total_sec AS DOUBLE)
                              / CAST(SUM(total_sec) OVER (PARTITION BY k)
                                     AS DOUBLE) * 1000000.0) AS BIGINT)
                       AS share_e6
            FROM per
        """,
        "reconciliation": """
            WITH h AS (
                SELECT o_orderkey AS k,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS hc
                FROM orders
            ), l_agg AS (
                SELECT l_orderkey AS k,
                       CAST(SUM(CAST(round(l_extendedprice * 100)
                                     AS BIGINT)) AS BIGINT) AS lsum
                FROM lineitem GROUP BY l_orderkey
            ), j AS (
                SELECT h.k, h.hc, l_agg.lsum,
                       h.hc - COALESCE(l_agg.lsum, 0) AS gap
                FROM h LEFT JOIN l_agg ON h.k = l_agg.k
            )
            SELECT CAST(count(*) AS BIGINT) AS n_headers,
                   CAST(SUM(CASE WHEN lsum IS NOT NULL AND abs(gap) <= 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
                   CAST(SUM(CASE WHEN lsum IS NOT NULL AND abs(gap) > 0
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_mismatched,
                   CAST(SUM(CASE WHEN lsum IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_missing_lines,
                   CAST(max(CASE WHEN lsum IS NOT NULL THEN abs(gap)
                            END) AS BIGINT) AS worst_gap_cents,
                   CAST(SUM(CASE WHEN lsum IS NOT NULL THEN abs(gap)
                            ELSE 0 END) AS BIGINT) AS total_gap_cents
            FROM j
        """,
        "kish_ess": """
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS w
                FROM orders
                WHERE o_totalprice IS NOT NULL
                  AND round(o_totalprice * 100) > 0
            ), agg AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(w) AS BIGINT) AS s,
                       SUM(CAST(w AS HUGEINT) * w) AS q
                FROM base GROUP BY g
            )
            SELECT g AS o_orderpriority, n,
                   CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(q AS DOUBLE) * 100) AS BIGINT)
                       AS ess_e2,
                   CAST(round(CAST(n AS DOUBLE)
                              / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                 / CAST(q AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS deff_e6
            FROM agg
        """,
        "ljung_box": _ljung_sql(),
        "cluster_agreement": """
            WITH base AS (
                SELECT source AS c, lang AS l FROM documents
                WHERE source IS NOT NULL AND lang IS NOT NULL
            ), cells AS (
                SELECT c, l, CAST(count(*) AS BIGINT) AS n_cl
                FROM base GROUP BY c, l
            ), mc AS (
                SELECT c, CAST(SUM(n_cl) AS BIGINT) AS n_c
                FROM cells GROUP BY c
            ), ml AS (
                SELECT l, CAST(SUM(n_cl) AS BIGINT) AS n_l
                FROM cells GROUP BY l
            ), tot AS (
                SELECT CAST(SUM(n_cl) AS BIGINT) AS n FROM cells
            ), best AS (
                SELECT CAST(SUM(n_cl) AS BIGINT) AS pure_sum FROM (
                    SELECT n_cl, row_number() OVER (PARTITION BY c
                        ORDER BY n_cl DESC, l) AS rk
                    FROM cells
                ) WHERE rk = 1
            ), mi AS (
                SELECT CAST(SUM(CAST(round(
                    CAST(n_cl AS DOUBLE) / CAST(n AS DOUBLE)
                    * ln(CAST(n AS DOUBLE) * CAST(n_cl AS DOUBLE)
                         / (CAST(n_c AS DOUBLE) * CAST(n_l AS DOUBLE)))
                    * 1000000000.0) AS BIGINT)) AS BIGINT) AS mi_e9
                FROM cells JOIN mc USING (c) JOIN ml USING (l), tot
            ), hc AS (
                SELECT CAST(SUM(CAST(round(
                    -(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1000000000.0) AS BIGINT)) AS BIGINT) AS h_c_e9,
                       CAST(count(*) AS BIGINT) AS n_clusters
                FROM mc, tot
            ), hl AS (
                SELECT CAST(SUM(CAST(round(
                    -(CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1000000000.0) AS BIGINT)) AS BIGINT) AS h_l_e9,
                       CAST(count(*) AS BIGINT) AS n_labels
                FROM ml, tot
            )
            SELECT n, n_clusters, n_labels,
                   CAST(round(CAST(pure_sum AS DOUBLE) / CAST(n AS DOUBLE)
                              * 1000000.0) AS BIGINT) AS purity_e6,
                   mi_e9, h_c_e9, h_l_e9,
                   CASE WHEN h_c_e9 > 0 AND h_l_e9 > 0 THEN
                       CAST(round((CAST(mi_e9 AS DOUBLE) / 1000000000.0)
                                  / sqrt((CAST(h_c_e9 AS DOUBLE)
                                          / 1000000000.0)
                                         * (CAST(h_l_e9 AS DOUBLE)
                                            / 1000000000.0))
                                  * 1000000.0) AS BIGINT)
                   END AS nmi_e6
            FROM tot, best, mi, hc, hl
        """,
        "theil_index": """
            WITH base AS (
                SELECT c.c_mktsegment AS g,
                       CAST(round(o.o_totalprice * 100) AS BIGINT) AS x
                FROM orders o JOIN customer c
                  ON o.o_custkey = c.c_custkey
                WHERE o.o_totalprice IS NOT NULL
                  AND round(o.o_totalprice * 100) > 0
                  AND c.c_mktsegment IS NOT NULL
            ), gtot AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                       CAST(SUM(x) AS BIGINT) AS x_g
                FROM base GROUP BY g
            ), tot AS (
                SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                       CAST(SUM(x_g) AS BIGINT) AS x_tot,
                       CAST(count(*) AS BIGINT) AS n_groups
                FROM gtot
            ), t_total AS (
                SELECT CAST(SUM(CAST(round(
                    CAST(x AS DOUBLE) / CAST(x_tot AS DOUBLE)
                    * ln(CAST(n AS DOUBLE) * CAST(x AS DOUBLE)
                         / CAST(x_tot AS DOUBLE))
                    * 1000000000.0) AS BIGINT)) AS BIGINT) AS t_total_e9
                FROM base, tot
            ), t_between AS (
                SELECT CAST(SUM(CAST(round(
                    CAST(x_g AS DOUBLE) / CAST(x_tot AS DOUBLE)
                    * ln((CAST(x_g AS DOUBLE) / CAST(x_tot AS DOUBLE))
                         / (CAST(n_g AS DOUBLE) / CAST(n AS DOUBLE)))
                    * 1000000000.0) AS BIGINT)) AS BIGINT)
                    AS t_between_e9
                FROM gtot, tot
            ), t_within AS (
                SELECT CAST(SUM(CAST(round(
                    (CAST(x_g AS DOUBLE) / CAST(x_tot AS DOUBLE))
                    * (CAST(x AS DOUBLE) / CAST(x_g AS DOUBLE)
                       * ln(CAST(n_g AS DOUBLE) * CAST(x AS DOUBLE)
                            / CAST(x_g AS DOUBLE)))
                    * 1000000000.0) AS BIGINT)) AS BIGINT)
                    AS t_within_e9
                FROM base JOIN gtot USING (g), tot
            )
            SELECT n, n_groups, t_total_e9, t_between_e9, t_within_e9
            FROM tot, t_total, t_between, t_within
        """,
        # round-6 rows-only → oracle-backed conversions (generated
        # mirrors; deterministic approximate/iterative results)
        "ann_lsh": _ann_lsh_sql(),
        "ivf_ann": _ivf_ann_sql(),
        "k_core": _k_core_sql(),
        "label_propagation": _label_propagation_sql(),
        "nb_langid": _nb_langid_sql(),
        "textrank": _textrank_sql(),
        # portable_hash64 mirrors (md5 15-hex-digit prefix, base-16):
        # the operators run portable_hash=True in their contract queries
        "minhash_pairs": _minhash_pairs_sql(),
        "dedup_eval": _dedup_eval_sql(),
        "convex_hulls": _convex_hulls_sql(),
        "dtw_types": _dtw_types_sql(),
        "markov_attribution": _markov_attribution_sql(),
        "explain_summary": """
            -- the PINNED plan contract for the q3-style join-aggregate
            -- (r7): literal expected values per metric; a planner/scan
            -- regression on the Spark side flips a value and fails the
            -- compare.  Verified sf-invariant (0.001/0.01/0.1).
            SELECT metric, CAST(value AS BIGINT) AS value FROM (VALUES
                ('broadcast_exchanges', 1),
                ('broadcast_hash_joins', 1),
                ('broadcast_nested_loop_joins', 0),
                ('cartesian_products', 0),
                ('exchanges_single_partition', 0),
                ('exchanges_total', 2),
                ('file_scans', 2),
                ('pushed_filters', 2),
                ('sort_merge_joins', 0),
                ('sorts', 0),
                ('wholestage_codegen_spans', 0),
                ('windows', 0)
            ) AS t(metric, value)
        """,
        "geometric_median": _geometric_median_sql(),
        "louvain": _louvain_sql(),
        "mst": _mst_sql(),
        "sketch_eval": """
            -- exact sides recomputed; the bound flags are the sketch
            -- CONTRACT (asserted 1): Spark's side flips a flag if a
            -- sketch leaves its published error bound
            WITH vals AS (
                SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                       count(*) AS c
                FROM lineitem GROUP BY 1
            ), cum AS (
                SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM vals
            ), tot AS (SELECT max(cum) AS n FROM cum),
            sel AS (
                SELECT min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
                           AS v_low,
                       min(CASE WHEN cum >= n // 2 + 1 THEN v END)
                           AS v_high
                FROM cum, tot
            )
            SELECT (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
                    FROM lineitem) AS nd_exact,
                   CAST((v_low + v_high) // 2 AS BIGINT)
                       AS p50_exact_cents,
                   CAST(1 AS INTEGER) AS nd_within_3rsd,
                   CAST(1 AS INTEGER) AS p50_within_1pct
            FROM sel
        """,
        "minhash_pairs_capped": _minhash_pairs_sql(capped=64),
        "lsh_bucket_report": _lsh_bucket_report_sql(),
        "minhash_incremental": _minhash_incremental_sql(),
        "simhash_candidates": _simhash_candidates_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "bpe_encode": _bpe_encode_sql(),
        "pack_sequences": _pack_sequences_sql(),
        "image_dedup": _image_dedup_sql(),
        "mmr_select": _mmr_select_sql(),
        "rolling_fingerprint": """
            WITH sh AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(length(text) - 7, 1)),
                           i -> substr(text, CAST(i AS INTEGER), 8)))
                           AS s
                FROM documents
            )
            SELECT doc_id,
                   min(CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))
                       AS min_shingle_hash,
                   max(CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))
                       AS max_shingle_hash
            FROM sh GROUP BY doc_id
        """,
        "feature_hash": """
            WITH h AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(concat_ws(chr(31),
                            c.name, c.val)), 1, 15)) AS BIGINT) AS hv
                FROM documents,
                     LATERAL (SELECT * FROM (VALUES
                        ('lang', lang), ('source', source)) t(name, val)) c
            )
            SELECT CAST(hv % 256 AS INTEGER) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN (hv // 4294967296) % 2 = 0
                                 THEN 1 ELSE -1 END) AS BIGINT) AS net_sign
            FROM h GROUP BY hv % 256
        """,
        # deterministic md5-derived Laplace noise (seed 7, eps 0.5,
        # sensitivity 1): u and the noise expression mirror
        # operators/checks.py:dp_counts op-for-op; sign(u) is +-1 so the
        # float multiply association is exact, and round-to-integer
        # absorbs any ulp gap in ln between engines
        "dp_counts": """
            WITH true_c AS (
                SELECT event_type, count(*) AS n
                FROM events GROUP BY event_type
            ), uni AS (
                SELECT event_type, n,
                       CAST(CAST(concat('0x', substr(md5(concat_ws(
                                chr(31), '7', CAST(event_type AS VARCHAR)
                            )), 1, 13)) AS BIGINT) AS DOUBLE)
                           / 4503599627370496.0 AS u52
                FROM true_c
            ), lap AS (
                SELECT event_type, n,
                       (u52 * 0.999998 + 0.000001) - 0.5 AS u
                FROM uni
            )
            SELECT event_type,
                   CAST(n + CAST(round(
                       -2.0 * sign(u) * ln(1.0 - 2.0 * abs(u))
                   ) AS BIGINT) AS BIGINT) AS noisy_count,
                   CAST(500000 AS BIGINT) AS epsilon_e6
            FROM lap
        """,
    }
