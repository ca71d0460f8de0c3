"""Scalar computation / derived columns — C1-C6 (SURVEY.md §2.5).

All implemented with Spark built-ins, as ``pyspark.sql.functions`` Columns
or, for the per-column C4-C6 projections, as their SQL text
(``sqltext.project``), so they stay inside whole-stage codegen; no Python
UDFs anywhere in this module.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartpy_arc_spark.meta import tag_oid
from smartpy_arc_spark.sources.scan import _DATE_TYPES, _NUMERIC_TYPES, _fill_sentinels
from smartpy_arc_spark.sqltext import ident, literal, project, select_sql


def portable_hash64(c) -> "F.Column":
    """Engine-portable 60-bit hash of a string column: the first 15 hex
    digits of md5, parsed base-16 — deterministic, non-negative, and
    reproducible in any engine with md5 + hex parsing (DuckDB:
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``).  The dp_counts
    pattern, shared so every hash-keyed operator can offer an
    oracle-comparable mode next to its xxhash64 fast path (xxhash64 has
    no cross-engine equivalent)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# The reference's pandas-representable timestamp range (arc_utils.py:717-718):
# values outside are coerced to null on scan.
TS_CLAMP_LO = "1677-09-22"
TS_CLAMP_HI = "2262-04-11"

INT32_MAX = 2147483647


def copy_oids(df: DataFrame, fld_name: str, order_by: list[str] | None = None) -> DataFrame:
    """C1 ``copy_oids`` (arc_utils.py:376-384): materialize a row id.

    With ``order_by``: dense 1-based ids following the key order, computed
    WITHOUT a single-partition global window: range-partition on the keys
    (partition i holds globally-smaller keys than i+1), sort within each
    partition, derive the per-partition row index from
    ``monotonically_increasing_id``'s documented layout (pid in the upper
    bits, a dense per-partition counter in the lower 33), then add broadcast
    per-partition offsets from one tiny counts job (numPartitions rows to the
    driver).  Identical to ``row_number() OVER (ORDER BY keys)`` whenever the
    keys are unique; ties may be numbered in a different (still arbitrary)
    order.  Without ``order_by``: cheap ``monotonically_increasing_id``
    (unique, not dense, not stable across runs — exactly Spark's contract).
    """
    if order_by:
        part = (
            df.repartitionByRange(*[F.col(c) for c in order_by])
            .sortWithinPartitions(*order_by)
            .withColumn("__mid", F.monotonically_increasing_id())
        )
        pid = F.shiftright(F.col("__mid"), 33)
        local = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
        counts = (
            # bounded: one row per partition
            part.groupBy(pid.alias("__pid")).agg(F.count("*").alias("__n")).collect()
        )
        offsets: dict[int, int] = {}
        acc = 0
        for r in sorted(counts, key=lambda r: r["__pid"]):
            offsets[r["__pid"]] = acc
            acc += r["__n"]
        # literal map pid -> cumulative offset; numPartitions entries, tiny
        off_map = F.create_map(
            *[F.lit(v) for kv in offsets.items() for v in kv]
        )
        out = part.withColumn(
            fld_name,
            (local + off_map[pid] + F.lit(1)).cast(T.LongType()),
        ).drop("__mid")
    else:
        out = df.withColumn(fld_name, F.monotonically_increasing_id())
    return tag_oid(out, fld_name)


def add_ap_ratio(
    df: DataFrame,
    fld_name: str = "ap_ratio",
    *,
    length_col: str = "shape_length",
    area_col: str = "shape_area",
) -> DataFrame:
    """C2 ``add_ap_ratio`` (arc_utils.py:586-606): perimeter / circumference of
    the same-area circle — ``Length / (2 * sqrt(pi * Area))``, the one Arcade
    expression in the reference (arc_utils.py:604)."""
    return df.withColumn(
        fld_name,
        F.col(length_col) / (F.lit(2.0) * F.sqrt(F.lit(math.pi) * F.col(area_col))),
    )


def clamp_timestamps(
    df: DataFrame,
    cols: list[str] | None = None,
    lo: str = TS_CLAMP_LO,
    hi: str = TS_CLAMP_HI,
) -> DataFrame:
    """C4 datetime sanitize (arc_utils.py:710-724): timestamps outside
    [lo, hi] → null.  Spark's µs timestamps are wider than pandas ns, so this
    is a compat option, not a default.

    Every clamped column is rewritten in one projection built from SQL
    text (``sqltext.project``), so the frame is analyzed once, not once
    per timestamp column; the bounds are cast to each column's own type
    (TIMESTAMP or TIMESTAMP_NTZ)."""
    if cols is None:
        cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
        ]
    clamped = set(cols)
    if not clamped:
        return df
    unknown = clamped - set(df.columns)
    if unknown:
        raise KeyError(f"clamp_timestamps: no column named {sorted(unknown)}")

    def clamp(col: str, field: T.StructField) -> str | None:
        if field.name not in clamped:
            return None
        dt = field.dataType
        return (
            f"CASE WHEN (({col} >= {literal(lo, dt)}) AND ({col} <= {literal(hi, dt)})) "
            f"THEN {col} ELSE {literal(None, dt)} END"
        )

    return project(df, clamp)


def fill_null_sentinels(df: DataFrame, **kw) -> DataFrame:
    """C5 forward direction: null → sentinel (scan default sentinels)."""
    return _fill_sentinels(df, **kw)


def restore_null_sentinels(
    df: DataFrame,
    *,
    str_fill: str = "",
    num_fill: float = -1,
    date_fill: str = "1678-01-01",
) -> DataFrame:
    """C5 reverse direction (arc_utils.py:739-745): sentinel → null, including
    the literal string ``'nan'``, for every type class ``_fill_sentinels``
    fills, in one projection built from SQL text (``sqltext.project``).
    Lossy by design — legitimate sentinel values become null; provided for
    reference parity, not as a default."""

    def restore(col: str, field: T.StructField) -> str | None:
        if isinstance(field.dataType, T.StringType):
            hit = f"{col} IN ({literal(str_fill)}, {literal('nan')})"
        elif isinstance(field.dataType, _NUMERIC_TYPES):
            hit = f"({col} = {literal(num_fill, field.dataType)})"
        elif isinstance(field.dataType, _DATE_TYPES):
            hit = f"({col} = {literal(date_fill, field.dataType)})"
        else:
            return None
        return f"CASE WHEN {hit} THEN NULL ELSE {col} END"

    return project(df, restore)


def _compat_cast(df: DataFrame, long_to: Callable[[str, str], str]) -> DataFrame:
    """The per-column rule of the C6 coercions, as one projection built
    from SQL text (``sqltext.project``): bool → int32, each long column
    through ``long_to(name, col)``, which returns the SQL of its new
    value given its quoted name ``col``, every other column kept."""

    def cast(col: str, field: T.StructField) -> str | None:
        if isinstance(field.dataType, T.BooleanType):
            return f"CAST({col} AS INT)"
        if isinstance(field.dataType, T.LongType):
            return long_to(field.name, col)
        return None

    return project(df, cast)


def compat_cast_for_write(df: DataFrame) -> DataFrame:
    """C6 write-side coercions (arc_utils.py:786-805), applied column-wise:

      * bool → int32 (arc_utils.py:799-800)
      * int64 → int32 iff every value fits ±2147483647, else → float64
        (arc_utils.py:792-798) — the range test is a single distributed
        aggregate over all long columns, not a per-row decision.  It
        compares max and min rather than ``max(abs)``: ``abs`` of
        ``Long.MIN_VALUE`` overflows (an ANSI error, or a silent wrap to a
        negative value that would pass the test).

    The range test runs as its own Spark job when this is called, so a
    caller that then runs the frame computes its input twice.
    ``sinks.write.write_table(compat_casts=True)`` avoids that: it checks
    the range inside the write job and calls this function only when a
    value does not fit.

    Timestamps are already µs in Spark (the reference's ns→µs step,
    arc_utils.py:801-802, is a no-op here).
    """
    long_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.LongType)]
    too_wide: set[str] = set()
    if long_cols:
        row = select_sql(df, [
            f"(max({ident(c)}) <= {INT32_MAX}) AND (min({ident(c)}) >= {-INT32_MAX}) "
            f"AS {ident(c)}"
            for c in long_cols
        ]).first()
        # NULL: an empty or all-null column, which fits
        too_wide = {c for c in long_cols if row[c] is False}
    return _compat_cast(
        df, lambda name, col: f"CAST({col} AS {'DOUBLE' if name in too_wide else 'INT'})"
    )


# the message of the error a guarded cast raises; write_table falls back
# to compat_cast_for_write on it and on nothing else
COMPAT_CAST_GUARD = "compat_casts: an int64 value is outside ±2147483647"


def _guarded_compat_cast(df: DataFrame) -> DataFrame:
    """The C6 coercions of :func:`compat_cast_for_write` with the range
    test moved into the plan: every long column becomes int32, and a
    value outside ±2147483647 raises ``COMPAT_CAST_GUARD`` in the task
    that meets it.  The bound is explicit because an ANSI cast to int
    would accept -2147483648, which the reference sends to float64.  The
    guard is NULL unless it raises, so the coalesce always yields the
    cast, and the column keeps the nullability the plain cast gives it
    (a non-nullable input stays a required parquet column)."""
    guard = (
        "coalesce(CASE WHEN NOT (({col} >= {lo}) AND ({col} <= {hi})) "
        "THEN raise_error({msg}) END, CAST({col} AS INT))"
    )
    return _compat_cast(
        df,
        lambda _name, col: guard.format(
            col=col, lo=-INT32_MAX, hi=INT32_MAX, msg=literal(COMPAT_CAST_GUARD)
        ),
    )
