"""Round-12 optimization equivalence pins: restructured operators must
produce bit-identical output to their pre-optimization composition."""

import struct

import pyspark.sql.functions as F
import pytest


def _bits(x):
    return None if x is None else struct.pack(">d", x).hex()


def _check_percentiles(spark, rows, fracs_a, fracs_b):
    """distributed_exact_percentiles must match the builtin exact
    percentile() BIT-FOR-BIT (same IEEE doubles, not just approximately)
    on the default shape AND with forced bucket refinement rounds."""
    from smartpy_arc_spark.operators.scale import distributed_exact_percentiles

    df = spark.createDataFrame(rows, "g string, a double, b double")
    fa = ",".join(map(str, fracs_a))
    fb = ",".join(map(str, fracs_b))
    ref = {
        r["g"]: (r["pa"], r["pb"])
        for r in df.groupBy("g").agg(
            F.expr(f"percentile(a, array({fa}))").alias("pa"),
            F.expr(f"percentile(b, array({fb}))").alias("pb"),
        ).collect()
    }
    for kw in (
        {},                                  # default: fixed octave map only
        {"refine_cap": 4, "n_buckets": 8},   # forced refinement rounds
    ):
        new = {
            r["g"]: (r["pa"], r["pb"])
            for r in distributed_exact_percentiles(
                df, [("a", fracs_a, "pa"), ("b", fracs_b, "pb")],
                group_col="g", **kw
            ).collect()
        }
        assert set(ref) == set(new), kw
        for g in ref:
            for k in (0, 1):
                ra, na = ref[g][k], new[g][k]
                if ra is None or na is None:
                    assert ra == na, (kw, g, k, ra, na)
                    continue
                assert [_bits(x) for x in ra] == [_bits(x) for x in na], (
                    kw, g, k,
                )


def test_exact_percentiles_bit_equal_ties(spark):
    import random

    random.seed(7)
    rows = [
        (random.choice("ABCD"), float(random.randint(0, 30)),
         random.random() * 100)
        for _ in range(2000)
    ]
    _check_percentiles(spark, rows, [0.5, 0.9, 0.25, 0.0, 1.0], [0.1, 0.37])


def test_exact_percentiles_bit_equal_edge_groups(spark):
    # singleton groups, all-null columns, mixed-null groups
    rows = [
        ("X", 1.0, 2.0),
        ("Y", 3.0, None),
        ("Y", 5.0, None),
        ("Z", None, None),
        ("W", -7.25, 0.0),
    ]
    _check_percentiles(spark, rows, [0.5, 0.9], [0.25, 1.0])


def test_exact_percentiles_bit_equal_constant(spark):
    rows = [("S", 42.0, 7.0) for _ in range(50)]
    _check_percentiles(spark, rows, [0.3, 0.6], [0.5])


def test_exact_percentiles_ungrouped_and_empty(spark):
    from smartpy_arc_spark.operators.scale import distributed_exact_percentiles

    df = spark.createDataFrame(
        [(float(i % 13), float(i % 7)) for i in range(500)],
        "a double, b double",
    )
    ref = df.agg(
        F.expr("percentile(a, array(0.5,0.9))").alias("pa"),
        F.expr("percentile(b, array(0.25))").alias("pb"),
    ).collect()[0]
    new = distributed_exact_percentiles(
        df, [("a", [0.5, 0.9], "pa"), ("b", [0.25], "pb")]
    ).collect()
    assert len(new) == 1
    assert [_bits(x) for x in ref["pa"]] == [_bits(x) for x in new[0]["pa"]]
    assert [_bits(x) for x in ref["pb"]] == [_bits(x) for x in new[0]["pb"]]
    # empty input: the ungrouped form still emits one all-NULL row,
    # exactly like a global agg
    empty = spark.createDataFrame([], "a double, b double")
    out = distributed_exact_percentiles(empty, [("a", [0.5], "pa")]).collect()
    assert len(out) == 1 and out[0]["pa"] is None


def test_percentiles_query_plan_has_no_exact_percentile_buffer(spark, sf_dir):
    """The headline `percentiles` query must not plan the full-column
    ObjectHashAggregate percentile buffer (guide §5 scale cliff)."""
    import __spark_entry__ as mod

    df = mod.queries()["percentiles"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" not in plan


def _baskets():
    rows = []
    for b in range(30):
        for i in range(2 + b % 5):
            rows.append((b, (b * 7 + i * 3) % 11))
    return rows


def _two_cliques():
    """Two 5-cliques joined by one bridge, plus a separate 3-chain."""
    edges = []
    for base in (0, 10):
        edges += [(base + i, base + j) for i in range(5) for j in range(i + 1, 5)]
    return edges + [(0, 10), (20, 21), (21, 22)]


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def _itemsets(df):
    from smartpy_arc_spark.operators import itemsets

    return (
        _sorted_rows(itemsets.frequent_pairs(
            df, basket_col="bk", item_col="it", min_support=2)),
        _sorted_rows(itemsets.frequent_triples(
            df, "bk", "it", min_support=2)),
    )


def _mst(df):
    from smartpy_arc_spark.operators.components import minimum_spanning_forest

    return _sorted_rows(minimum_spanning_forest(df))


def _cc(df):
    from smartpy_arc_spark.operators.components import connected_components

    return _sorted_rows(connected_components(df))


def _louvain(df):
    from smartpy_arc_spark.operators.components import louvain_communities

    return _sorted_rows(louvain_communities(df))


# case -> (input rows, input schema, operator run returning sorted rows)
_CHECKPOINT_CASES = {
    "itemsets": (_baskets(), "bk long, it long", _itemsets),
    "mst": (
        [(s, d, (s * 7 + d * 3) % 5 + 1) for s, d in _two_cliques()],
        "s long, d long, w long",
        _mst,
    ),
    "connected_components": (_two_cliques(), "id_a long, id_b long", _cc),
    "louvain": (_two_cliques(), "src long, dst long", _louvain),
}


@pytest.mark.parametrize("case", list(_CHECKPOINT_CASES))
def test_identical_on_both_checkpoint_paths(spark, monkeypatch, tmp_path, case):
    """Operators behind sized_local_checkpoint must return identical rows
    whether their intermediates materialize (default) or recompute (cap
    exceeded).  Inputs go through parquet: a createDataFrame local has no
    leaf size, so the cap would never bite on it."""
    from smartpy_arc_spark.operators._ckpt import leaf_input_bytes

    rows, schema, run = _CHECKPOINT_CASES[case]
    path = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    df = spark.read.parquet(path)
    assert leaf_input_bytes(df) is not None
    want = run(df)
    monkeypatch.setenv("SMARTPY_ARC_CKPT_CAP_BYTES", "1")
    assert run(df) == want


def test_stream_drain_idle_counts_distinct_events_only():
    """The until-idle drain must count DISTINCT no-data progress events,
    not wall-clock polls of a possibly-stale lastProgress (VERDICT r11
    item 3: on a slow host the same stale no-data event re-polled N
    times must never end the drain while a data batch is in flight)."""
    from smartpy_arc_spark.streaming.stream import _drain_step

    def ev(ts, rows):
        return {"timestamp": ts, "numInputRows": rows}

    # stale no-data event re-polled 10x: idle must stay 0 past the first
    idle, ts, seen = 0, None, False
    idle, ts, seen = _drain_step(ev("t1", 5), ts, seen, idle,
                                 data_available=True)
    assert (idle, seen) == (0, True)
    for _ in range(10):
        idle, ts, seen = _drain_step(ev("t2", 0), ts, seen, idle,
                                     data_available=False)
    assert idle == 1  # one distinct event -> exactly one unit of evidence

    # a fresh no-data event while the engine still reports data
    # available contributes nothing
    idle, ts, seen = _drain_step(ev("t3", 0), ts, seen, idle,
                                 data_available=True)
    assert idle == 1
    # new data resets the evidence
    idle, ts, seen = _drain_step(ev("t4", 3), ts, seen, idle,
                                 data_available=True)
    assert idle == 0
    # exhaustion: fresh no-data event with nothing available counts
    idle, ts, seen = _drain_step(ev("t5", 0), ts, seen, idle,
                                 data_available=False)
    assert idle == 1
    # no-data events BEFORE any data never count (startup grace)
    idle2, ts2, seen2 = _drain_step(ev("s1", 0), None, False, 0,
                                    data_available=False)
    assert (idle2, seen2) == (0, False)


def test_minhash_shared_band_explode_identical(spark):
    """Passing a shared materialized band explode into both cap variants
    must produce exactly the rows of the unshared composition."""
    from smartpy_arc_spark.operators.dedup import (
        minhash_band_candidates,
        minhash_banded,
        minhash_prepare,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over dog {i % 3}")
         for i in range(60)] + [(100, "dup text"), (101, "dup text")],
        "doc_id long, text string",
    )
    sigs, star = minhash_prepare(
        docs, shingle_mode="word", shingle_size=3, collapse_exact=True,
        materialize=True,
    )
    banded = minhash_banded(sigs, materialize=True)
    for cap in (None, 8):
        want = sorted(map(tuple, minhash_band_candidates(
            sigs, star, max_bucket_size=cap).collect()))
        got = sorted(map(tuple, minhash_band_candidates(
            sigs, star, max_bucket_size=cap, banded=banded).collect()))
        assert got == want, cap
