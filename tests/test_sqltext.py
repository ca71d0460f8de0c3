"""The write-side coercions built from SQL text (``sqltext.project``):
each analyzes to the same plan as its ``pyspark.sql.functions`` Column
form, over awkward column names and literals, and the compat guard is
built in the same number of py4j round trips whatever the column count.
So are the per-group literal maps (``sqltext.lit_map``) of the conformal
interval and the exact percentiles, whatever the group count."""

import datetime
import decimal
import math
import threading

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartpy_arc_spark.functions import scalar as sc
from smartpy_arc_spark.operators.scale import distributed_exact_percentiles
from smartpy_arc_spark.operators.stats_effects import conformal_interval
from smartpy_arc_spark.sources.scan import _DATE_TYPES, _NUMERIC_TYPES, _fill_sentinels
from smartpy_arc_spark.sqltext import ident, lit_map, literal, select_sql

INT32_MAX = 2147483647


@pytest.fixture(scope="module")
def awkward(spark):
    """One column per type class, under names with a backtick, a dot, a
    space and non-ASCII letters."""
    return spark.sql(
        """SELECT id AS `a``b`, CAST(id AS INT) AS `x.y`, 'é' AS `s p`,
                  CAST(NULL AS STRING) AS `ñ`, id % 2 = 0 AS `flag.`,
                  CAST(id AS DOUBLE) / 2 AS d, CAST(id AS DECIMAL(10, 2)) AS `dec`,
                  CAST('2024-01-01' AS TIMESTAMP_NTZ) AS tn,
                  CAST(NULL AS TIMESTAMP) AS tz, CAST('2024-01-01' AS DATE) AS dt,
                  array(id) AS arr
           FROM range(3)"""
    )


def _col(name):
    return F.col("`" + name.replace("`", "``") + "`")


# ---- the Column forms the SQL text replaces (quoted names, one select)

def _column_compat(df, long_to):
    exprs = []
    for field in df.schema.fields:
        c = _col(field.name)
        if isinstance(field.dataType, T.BooleanType):
            exprs.append(c.cast(T.IntegerType()).alias(field.name))
        elif isinstance(field.dataType, T.LongType):
            exprs.append(long_to(c).alias(field.name))
        else:
            exprs.append(c.alias(field.name))
    return df.select(exprs)


def _column_guard(df):
    return _column_compat(df, lambda c: F.coalesce(
        F.when(~c.between(-INT32_MAX, INT32_MAX),
               F.raise_error(F.lit(sc.COMPAT_CAST_GUARD))),
        c.cast(T.IntegerType()),
    ))


def _column_fill(df, str_fill="", num_fill=-1, date_fill="1678-01-01"):
    exprs = []
    for field in df.schema.fields:
        c, dt = _col(field.name), field.dataType
        if isinstance(dt, T.StringType):
            exprs.append(F.coalesce(c, F.lit(str_fill)).alias(field.name))
        elif isinstance(dt, _NUMERIC_TYPES):
            exprs.append(F.coalesce(c, F.lit(num_fill).cast(dt)).alias(field.name))
        elif isinstance(dt, _DATE_TYPES):
            exprs.append(F.coalesce(c, F.lit(date_fill).cast(dt)).alias(field.name))
        else:
            exprs.append(c.alias(field.name))
    return df.select(exprs)


def _column_restore(df, str_fill="", num_fill=-1, date_fill="1678-01-01"):
    exprs = []
    for field in df.schema.fields:
        c, dt = _col(field.name), field.dataType
        if isinstance(dt, T.StringType):
            hit = c.isin(str_fill, "nan")
        elif isinstance(dt, _NUMERIC_TYPES):
            hit = c == F.lit(num_fill).cast(dt)
        elif isinstance(dt, _DATE_TYPES):
            hit = c == F.lit(date_fill).cast(dt)
        else:
            exprs.append(c.alias(field.name))
            continue
        exprs.append(F.when(hit, F.lit(None)).otherwise(c).alias(field.name))
    return df.select(exprs)


def _column_clamp(df, cols, lo, hi):
    exprs = []
    for field in df.schema.fields:
        c, dt = _col(field.name), field.dataType
        if field.name in cols:
            c = F.when(c.between(F.lit(lo).cast(dt), F.lit(hi).cast(dt)), c).otherwise(
                F.lit(None).cast(dt))
        exprs.append(c.alias(field.name))
    return df.select(exprs)


FILLS = [
    {},
    {"str_fill": "it's a \\ back'slash", "num_fill": 1.5, "date_fill": "2000-02-29"},
    {"str_fill": "ünï  ", "num_fill": -2.5e-07, "date_fill": "1970-01-01"},
    {"str_fill": "", "num_fill": 1 << 40, "date_fill": "9999-12-31"},
    {"str_fill": "`x`.y", "num_fill": 0, "date_fill": "1678-01-01"},
]


def test_guard_and_fallback_match_the_column_forms(awkward):
    assert sc._guarded_compat_cast(awkward).sameSemantics(_column_guard(awkward))
    for to, jtype in (("INT", T.IntegerType()), ("DOUBLE", T.DoubleType())):
        text = sc._compat_cast(awkward, lambda _n, col, to=to: f"CAST({col} AS {to})")
        assert text.sameSemantics(_column_compat(awkward, lambda c, t=jtype: c.cast(t)))
    assert sc.compat_cast_for_write(awkward).sameSemantics(
        _column_compat(awkward, lambda c: c.cast(T.IntegerType())))


@pytest.mark.parametrize("kw", FILLS)
def test_fill_and_restore_match_the_column_forms(awkward, kw):
    assert _fill_sentinels(awkward, **kw).sameSemantics(_column_fill(awkward, **kw))
    assert sc.restore_null_sentinels(awkward, **kw).sameSemantics(
        _column_restore(awkward, **kw))


@pytest.mark.parametrize("cols", [None, ["tn"]])
def test_clamp_matches_the_column_form(awkward, cols):
    want_cols = cols or ["tn", "tz"]
    for lo, hi in ((sc.TS_CLAMP_LO, sc.TS_CLAMP_HI), ("2024-01-01 00:00:01", "2025-01-01")):
        assert sc.clamp_timestamps(awkward, cols, lo, hi).sameSemantics(
            _column_clamp(awkward, want_cols, lo, hi))


def test_clamp_values_and_errors(spark):
    df = spark.sql(
        """SELECT CAST(t AS TIMESTAMP_NTZ) AS t, CAST(t AS TIMESTAMP) AS z FROM VALUES
           ('1600-01-01'), ('2000-01-01'), ('2300-01-01') AS v(t)""")
    rows = sc.clamp_timestamps(df).collect()
    assert [r.t is None for r in rows] == [True, False, True]
    assert [r.z is None for r in rows] == [True, False, True]
    assert sc.clamp_timestamps(df, []) is df
    with pytest.raises(KeyError, match="nope"):
        sc.clamp_timestamps(df, ["nope"])


def test_non_finite_fill_gives_the_column_forms_values(spark):
    """``CAST('NaN' AS DOUBLE)`` is the only SQL spelling of a NaN, so the
    plan differs from ``F.lit(nan)``'s; the values do not."""
    df = spark.sql("SELECT CAST(NULL AS DOUBLE) AS d, 1.0D AS e")
    for v in (math.nan, math.inf, -math.inf):
        got = _fill_sentinels(df, num_fill=v).collect()
        want = _column_fill(df, num_fill=v).collect()
        assert repr(got) == repr(want)


def test_literal_and_ident_text():
    assert ident("a`b.c d") == "`a``b.c d`"
    assert literal("it's \\") == "'it\\'s \\\\'"
    assert literal(1.5) == "1.5D" and literal(-2.5e-07) == "-2.5e-07D"
    assert literal(-1) == "-1" and literal(True) == "true" and literal(None) == "NULL"
    assert literal(math.nan) == "CAST('NaN' AS DOUBLE)"
    assert literal(-math.inf) == "CAST('-Infinity' AS DOUBLE)"
    assert literal(datetime.date(2020, 1, 2)) == "CAST('2020-01-02' AS DATE)"
    assert literal(datetime.datetime(2020, 1, 2, 3, 4, 5)) == (
        "CAST('2020-01-02 03:04:05' AS TIMESTAMP)")
    assert literal(-1, T.DecimalType(10, 2)) == "CAST(-1 AS decimal(10,2))"
    with pytest.raises(TypeError):
        literal(object())


def test_text_holding_the_separator_is_sent_one_by_one(spark):
    df = spark.range(2)
    out = select_sql(df, ["id AS id", "'a\x00b' AS s"])
    assert [tuple(r) for r in out.collect()] == [(0, "a\x00b"), (1, "a\x00b")]


def _round_trips(spark, monkeypatch, build):
    """py4j commands ``build`` sends from this thread; the deferred
    deletes of collected Java proxies ride on a finalizer thread and are
    not counted."""
    client = spark.sparkContext._gateway._gateway_client
    me = threading.get_ident()
    calls = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.undo()
    return len(calls)


def test_guard_build_round_trips_do_not_grow_with_columns(spark, monkeypatch):
    counts = {}
    for n in (5, 50):
        df = spark.range(1).selectExpr(*[f"id AS c{i}" for i in range(n)])
        counts[n] = _round_trips(spark, monkeypatch, lambda: sc._guarded_compat_cast(df))
    assert abs(counts[50] - counts[5]) <= 2, counts


LIT_MAP_KEYS = [
    [1, -7, 1 << 40],
    ["it's", "a \\ b", "ünï", ""],
    [1.5, -0.25, 1e300],
    [True, False],
    # SQL text spells these as a CAST, which the optimizer folds
    [math.inf, -math.inf, 2.0],
    [datetime.date(2020, 2, 29), datetime.date(1970, 1, 1)],
]


@pytest.mark.parametrize("keys", LIT_MAP_KEYS)
@pytest.mark.parametrize("to", [None, T.LongType()])
def test_lit_map_matches_the_lit_pairs(spark, keys, to):
    pairs = [(k, i * 3) for i, k in enumerate(keys)]
    want = F.create_map(*[
        x for k, v in pairs for x in (F.lit(k), F.lit(v) if to is None else F.lit(v).cast(to))
    ])
    df = spark.createDataFrame([(k,) for k in keys] + [(None,)], ["k"])
    got_df, want_df = (df.select(m[F.col("k")].alias("v")) for m in (lit_map(pairs, to), want))
    assert got_df.schema == want_df.schema
    assert got_df.collect() == want_df.collect()
    if "CAST" not in literal(keys[0]):
        assert got_df.sameSemantics(want_df)


def test_lit_map_builds_datetime_and_decimal_keys_from_lits(spark):
    for key in (datetime.datetime(2020, 1, 2, 3, 4, 5), decimal.Decimal("1.50")):
        df = spark.createDataFrame([(key,)], ["k"])
        got = df.select(lit_map([(key, 1)])[F.col("k")].alias("v"))
        assert got.sameSemantics(df.select(F.create_map(F.lit(key), F.lit(1))[F.col("k")]
                                           .alias("v")))
        assert got.collect()[0].v == 1


def _grouped(spark, n_groups):
    return spark.range(n_groups * 10).selectExpr(
        f"id % {n_groups} AS g", "CAST(id * 7 % 101 AS DOUBLE) / 4 AS v", "id AS k")


@pytest.mark.parametrize("build", [
    lambda df: conformal_interval(df, "g", "v", ["k"]),
    lambda df: distributed_exact_percentiles(df, [("v", [0.5, 0.9], "p")], group_col="g"),
], ids=["conformal", "percentiles"])
def test_group_maps_round_trips_do_not_grow_with_groups(spark, monkeypatch, build):
    """One ``F.lit`` pair per group made several py4j round trips each:
    41 s to build the conformal interval at 4,096 groups, 55 s for the
    percentiles at 8,192."""
    counts = {n: _round_trips(spark, monkeypatch, lambda n=n: build(_grouped(spark, n)))
              for n in (10, 1000)}
    assert abs(counts[1000] - counts[10]) <= 2, counts
