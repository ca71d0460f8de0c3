"""Round-6 guards: the near-dup routing-rule fence (VERDICT r5 next-round
#6) and input checks from ADVICE r5.  The bounded-collect tests live in
tests/test_ckpt.py, beside ``collect_if_fits``."""

import inspect

import pytest


def test_embedding_near_dup_keeps_bounded_filter():
    """The exact threshold join in q_embedding_near_dup is only scale-legal
    because its broadcast side is bounded; this fence keeps the filter (and
    the routing-rule docstring) from being silently dropped."""
    import __spark_entry__ as e

    src = inspect.getsource(e.q_embedding_near_dup)
    assert "vec_id < 300" in src, "bounded query-side filter removed"
    assert "broadcast" in src
    doc = e.q_embedding_near_dup.__doc__
    assert "Routing rule" in doc and "semdedup" in doc


def test_e4_scale_guard_rejects_non_divisors(spark):
    """ADVICE r5: the 10000 // scale integer shortcut silently mis-scales
    when scale does not divide 10000 — now a fail-fast error."""
    from smartpy_arc_spark.operators.stats import (
        grubbs_statistic,
        percentile_bands,
        var_cvar,
    )
    from smartpy_arc_spark.operators.resample import bollinger_bands

    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0)], "k long, t string, v double"
    )
    for call in (
        lambda: var_cvar(df, "k", "t", "v", scale=3),
        lambda: grubbs_statistic(df, "t", "v", scale=30000),
        lambda: percentile_bands(df, "k", "v", scale=7),
        lambda: bollinger_bands(df, "t", "v", scale=3),
    ):
        with pytest.raises(ValueError, match="divide 10000"):
            call()


def test_duplicate_charges_time_bucket_blocking(spark):
    """ADVICE r5: blocking now includes a coarse time bucket; pairs across
    the bucket boundary must still meet exactly once, far-apart identical
    charges must not pair."""
    from smartpy_arc_spark.operators.checks import duplicate_charges

    rows = [
        # same entity+amount: days 1, 6 (in-window, crosses div-7 buckets),
        # 300 (out of window)
        ("acme", 9.99, "2024-01-01", 1),
        ("acme", 9.99, "2024-01-06", 2),
        ("acme", 9.99, "2024-10-01", 3),
        # different amount never pairs
        ("acme", 5.00, "2024-01-02", 4),
    ]
    df = spark.createDataFrame(rows, "e string, amt double, ts string, rid long")
    out = duplicate_charges(df, "e", "amt", "ts", "rid", window_days=7)
    got = {(r["id_a"], r["id_b"]): r["days_apart"] for r in out.collect()}
    assert got == {(1, 2): 5}


def test_bollinger_decimal_moments_no_int64_wrap(spark):
    """ADVICE r5: Sum(x^2) now runs in DECIMAL(38,0) — magnitudes whose
    n*q would wrap int64 (x ~ 4e9 ticks at scale=1) must still produce
    a finite non-negative sd."""
    from smartpy_arc_spark.operators.resample import bollinger_bands

    rows = [(f"2024-01-{d:02d}", 4.0e9 + d * 1e6) for d in range(1, 11)]
    df = spark.createDataFrame(rows, "t string, v double")
    out = bollinger_bands(df, "t", "v", window=5, scale=1).collect()
    assert all(r["sd_e4"] is not None and r["sd_e4"] >= 0 for r in out)
    # x^2 = 1.6e19 > 2^63: the old int64 path wrapped negative here
    assert max(r["sd_e4"] for r in out) > 0
