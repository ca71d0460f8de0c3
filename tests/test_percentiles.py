"""``scale.distributed_exact_percentiles``: bit-equality with the builtin
exact ``percentile()`` on the default path and with every refinement
level forced, plus its input guards."""

import random
import struct

import pyspark.sql.functions as F
import pytest

from smartpy_arc_spark.operators import _ckpt, scale


def _bits(x, signed_zero=True):
    if x is None:
        return None
    if x == 0.0 and not signed_zero:
        x = 0.0
    return struct.pack(">d", x).hex()


def _check_percentiles(spark, monkeypatch, rows, fracs_a, fracs_b,
                       signed_zero=True):
    """distributed_exact_percentiles must match the builtin exact
    percentile() BIT-FOR-BIT (same IEEE doubles, not just approximately)
    on the default shape AND with forced bucket refinement rounds.

    ``signed_zero=False`` compares a zero result by value only: on data
    holding both -0.0 and +0.0 the builtin's zero sign follows its
    hash-map order, while the primitive follows Spark's grouping
    normalization (documented in its docstring)."""
    df = spark.createDataFrame(rows, "g string, a double, b double")
    fa = ",".join(map(repr, fracs_a))
    fb = ",".join(map(repr, fracs_b))
    ref = {
        r["g"]: (r["pa"], r["pb"])
        for r in df.groupBy("g").agg(
            F.expr(f"percentile(a, array({fa}))").alias("pa"),
            F.expr(f"percentile(b, array({fb}))").alias("pb"),
        ).collect()
    }
    for cap in (
        scale.REFINE_CAP,  # default: level 0 only
        4,                 # forced refinement of every fat bracket
        0,                 # every level runs
    ):
        monkeypatch.setattr(scale, "REFINE_CAP", cap)
        new = {
            r["g"]: (r["pa"], r["pb"])
            for r in scale.distributed_exact_percentiles(
                df, [("a", fracs_a, "pa"), ("b", fracs_b, "pb")],
                group_col="g",
            ).collect()
        }
        assert set(ref) == set(new), cap
        for g in ref:
            for k in (0, 1):
                ra, na = ref[g][k], new[g][k]
                if ra is None or na is None:
                    assert ra == na, (cap, g, k, ra, na)
                    continue
                assert [_bits(x, signed_zero) for x in ra] == [
                    _bits(x, signed_zero) for x in na
                ], (cap, g, k, ra, na)


def test_exact_percentiles_bit_equal_ties(spark, monkeypatch):
    random.seed(7)
    rows = [
        (random.choice("ABCD"), float(random.randint(0, 30)),
         random.random() * 100)
        for _ in range(2000)
    ]
    _check_percentiles(
        spark, monkeypatch, rows, [0.5, 0.9, 0.25, 0.0, 1.0], [0.1, 0.37]
    )


def test_exact_percentiles_bit_equal_edge_groups(spark, monkeypatch):
    # singleton groups, all-null columns, mixed-null groups
    rows = [
        ("X", 1.0, 2.0),
        ("Y", 3.0, None),
        ("Y", 5.0, None),
        ("Z", None, None),
        ("W", -7.25, 0.0),
    ]
    _check_percentiles(spark, monkeypatch, rows, [0.5, 0.9], [0.25, 1.0])


def test_exact_percentiles_bit_equal_empty_fracs(spark, monkeypatch):
    # group "1" is non-NULL only in the empty-fracs spec: it must keep its
    # row, and an empty-fracs spec yields NULL, not []
    rows = [("1", 1.0, None), ("1", 2.0, None), ("2", 3.0, 4.0)]
    _check_percentiles(spark, monkeypatch, rows, [], [0.5])
    _check_percentiles(spark, monkeypatch, rows, [], [])


def test_exact_percentiles_bit_equal_constant(spark, monkeypatch):
    rows = [("S", 42.0, 7.0) for _ in range(50)]
    _check_percentiles(spark, monkeypatch, rows, [0.3, 0.6], [0.5])


def test_exact_percentiles_bit_equal_stress(spark, monkeypatch):
    """Every special double, the octave extremes and a cluster far
    narrower than a level-0 bucket, with 10 fractions per column."""
    random.seed(3)
    special = [
        float("nan"), float("inf"), float("-inf"), 0.0, -0.0,
        5e-324, -5e-324, 1e-310, 2.2250738585072014e-308,
        1.7976931348623157e308, -1.7976931348623157e308, None,
    ]

    def val():
        r = random.random()
        if r < 0.15:
            return random.choice(special)
        if r < 0.45:  # a 1e-9-wide dense cluster
            return 1.0 + random.random() * 1e-9
        if r < 0.6:
            return float(random.randint(-5, 5))
        return random.uniform(-1e6, 1e6) * 10.0 ** random.randint(-300, 300)

    rows = [(random.choice("ABC"), val(), val()) for _ in range(6000)]
    fracs = [0.0, 0.1, 0.25, 0.333, 0.5, 0.5001, 0.75, 0.9, 0.999, 1.0]
    _check_percentiles(
        spark, monkeypatch, rows, fracs, fracs[::-1], signed_zero=False
    )


def test_exact_percentiles_near_largest_double(spark, monkeypatch):
    # a bracketing bucket at the top octave: bucket bounds computed as
    # floats overflowed here (math.ldexp(2.0, 1023))
    rows = [("x", 1.0, 1.0), ("x", 1.7976931348623157e308, 2.0)]
    _check_percentiles(spark, monkeypatch, rows, [0.5, 1.0], [0.5])


def test_exact_percentiles_many_pairs_every_level(spark, monkeypatch):
    """2,100 (group, column) pairs with every refinement level forced:
    a key chained as ``key * n_buckets`` per level wraps int64 here."""
    ncols, ngroups = 21, 100
    cols = [f"c{i}" for i in range(ncols)]
    df = spark.createDataFrame(
        [
            (g, *[g * 1000 + i * 10 + r for i in range(ncols)])
            for g in range(ngroups)
            for r in range(3)
        ],
        ", ".join(["g long"] + [f"{c} long" for c in cols]),
    )
    monkeypatch.setattr(scale, "REFINE_CAP", 0)
    specs = [(c, [0.5, 0.75], f"p_{c}") for c in cols]
    new = {
        r["g"]: [r[f"p_{c}"] for c in cols]
        for r in scale.distributed_exact_percentiles(
            df, specs, group_col="g"
        ).collect()
    }
    ref = {
        r["g"]: [r[f"p_{c}"] for c in cols]
        for r in df.groupBy("g").agg(*[
            F.expr(f"percentile({c}, array(0.5, 0.75))").alias(f"p_{c}")
            for c in cols
        ]).collect()
    }
    assert len(ref) == ngroups
    assert new == ref


def test_exact_percentiles_histogram_cap(spark, monkeypatch):
    df = spark.createDataFrame(
        [(g, float(v)) for g in range(5) for v in (1.0, 3.0, 9.0)],
        "g long, a double",
    )
    monkeypatch.setattr(_ckpt, "COLLECT_ROW_CAP", 10)
    with pytest.raises(ValueError, match=r"group column 'g'.* 10 "):
        scale.distributed_exact_percentiles(df, [("a", [0.5], "p")], group_col="g")
    monkeypatch.setattr(_ckpt, "COLLECT_ROW_CAP", 15)
    assert len(
        scale.distributed_exact_percentiles(
            df, [("a", [0.5], "p")], group_col="g"
        ).collect()
    ) == 5


def test_exact_percentiles_ungrouped_and_empty(spark):
    df = spark.createDataFrame(
        [(float(i % 13), float(i % 7)) for i in range(500)],
        "a double, b double",
    )
    ref = df.agg(
        F.expr("percentile(a, array(0.5,0.9))").alias("pa"),
        F.expr("percentile(b, array(0.25))").alias("pb"),
    ).collect()[0]
    new = scale.distributed_exact_percentiles(
        df, [("a", [0.5, 0.9], "pa"), ("b", [0.25], "pb")]
    ).collect()
    assert len(new) == 1
    assert [_bits(x) for x in ref["pa"]] == [_bits(x) for x in new[0]["pa"]]
    assert [_bits(x) for x in ref["pb"]] == [_bits(x) for x in new[0]["pb"]]
    # empty input: the ungrouped form still emits one all-NULL row,
    # exactly like a global agg
    empty = spark.createDataFrame([], "a double, b double")
    out = scale.distributed_exact_percentiles(
        empty, [("a", [0.5], "pa")]
    ).collect()
    assert len(out) == 1 and out[0]["pa"] is None


def test_percentiles_query_plan_has_no_exact_percentile_buffer(spark, sf_dir):
    """The headline `percentiles` query must not plan the full-column
    ObjectHashAggregate percentile buffer (guide §5 scale cliff)."""
    import __spark_entry__ as mod

    df = mod.queries()["percentiles"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" not in plan
