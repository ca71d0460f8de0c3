"""Per-column projections written as SQL text and built in one JVM call.

Each ``pyspark.sql.functions`` call that builds a Column (``F.col``,
``F.lit``, ``F.when``, ``cast``, ``alias``) calls into the JVM, and under
Spark 4 each one makes about ten py4j round trips: the call-site capture,
the session and class lookups, then the function itself.  A per-column
rewrite of a wide frame therefore costs milliseconds of driver CPU per
column before any data moves.  :func:`project` renders one SQL expression
per column instead and hands the whole projection to the JVM at once
(:func:`select_sql`), so building it costs the same few round trips
whatever the column count.  The expressions are written to analyze to
the same plan as their Column forms (``DataFrame.sameSemantics``).
Per-group literal maps are built the same way (:func:`lit_map`): one
``map(...)`` expression instead of one ``F.lit`` pair per group.

String literals are rendered with backslash escapes, the default SQL
parser's string syntax (``spark.sql.parser.escapedStringLiterals`` off).
"""

from __future__ import annotations

import datetime
import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartpy_arc_spark.session import jclass

# joins the expressions into one string that the JVM splits again; a
# projection whose text holds it is sent expression by expression
_SEP = "\x00"
# java.util.regex.Pattern.LITERAL
_PATTERN_LITERAL = 16


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier: backticks, with each backtick
    inside doubled."""
    return "`" + name.replace("`", "``") + "`"


def literal(value, to: T.DataType | None = None) -> str:
    """The SQL text of the literal ``F.lit(value)`` makes, cast to ``to``
    when given, as ``F.lit(value).cast(to)`` does.  Integers stay
    unsuffixed (int, else bigint, as ``F.lit`` types them), floats carry
    the double suffix (``1.5D``, not the decimal ``1.5``) and non-finite
    floats go through ``CAST('NaN' AS DOUBLE)``; dates and timestamps go
    through ``CAST('<iso text>' AS <type>)``."""
    if value is None:
        text = "NULL"
    elif isinstance(value, bool):
        text = "true" if value else "false"
    elif isinstance(value, int):
        text = str(value)
    elif isinstance(value, float):
        if math.isnan(value):
            text = "CAST('NaN' AS DOUBLE)"
        elif math.isinf(value):
            text = f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
        else:
            text = f"{value!r}D"
    elif isinstance(value, str):
        text = "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    elif isinstance(value, datetime.datetime):
        text = f"CAST('{value.isoformat(sep=' ')}' AS TIMESTAMP)"
    elif isinstance(value, datetime.date):
        text = f"CAST('{value.isoformat()}' AS DATE)"
    else:
        raise TypeError(f"no SQL literal for {type(value).__name__} {value!r}")
    return text if to is None else f"CAST({text} AS {to.simpleString()})"


def _renders_as_lit(value) -> bool:
    """Whether :func:`literal` gives ``value`` the type and value
    ``F.lit`` gives it.  A datetime does not: ``F.lit`` converts it in the
    Python process's time zone, the SQL text in the session's."""
    if isinstance(value, datetime.datetime):
        return False
    return isinstance(value, (bool, int, float, str, datetime.date))


def lit_map(pairs: list[tuple], to: T.DataType | None = None) -> Column:
    """``F.create_map(F.lit(k), F.lit(v)[.cast(to)], ...)`` over ``pairs``
    as one ``F.expr`` of SQL ``map(...)`` text: a few py4j round trips
    whatever the pair count, where the ``F.lit`` form makes several per
    pair.  When a key or value is of a type :func:`literal` cannot render
    as ``F.lit`` types it (a datetime, a decimal, bytes), the map is built
    in the ``F.lit`` form."""
    if all(_renders_as_lit(k) and _renders_as_lit(v) for k, v in pairs):
        return F.expr(
            "map(" + ", ".join(f"{literal(k)}, {literal(v, to)}" for k, v in pairs) + ")"
        )
    return F.create_map(*[
        x for k, v in pairs
        for x in (F.lit(k), F.lit(v) if to is None else F.lit(v).cast(to))
    ])


def select_sql(df: DataFrame, exprs: list[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in a fixed number of py4j round trips.
    ``selectExpr`` ships a Python list to the JVM one element per round
    trip; here the expressions travel as one string, split again by
    ``java.util.regex.Pattern`` and passed as one ``String[]``."""
    if not exprs or any(_SEP in e for e in exprs):
        return df.selectExpr(*exprs)
    spark = df.sparkSession
    parts = (
        jclass(spark, "java.util.regex.Pattern")
        .compile(_SEP, _PATTERN_LITERAL)
        .split(_SEP.join(exprs), -1)
    )
    return type(df)(df._jdf.selectExpr(parts), spark)


def project(
    df: DataFrame, rule: Callable[[str, T.StructField], str | None]
) -> DataFrame:
    """One projection over every column of ``df``, in order and under its
    own name: ``rule(col, field)`` gives the SQL of the column's new
    value, where ``col`` is the quoted name, or None to pass the column
    through as ``col AS col`` (what ``F.col(name).alias(name)`` builds)."""
    exprs = []
    for field in df.schema.fields:
        col = ident(field.name)
        exprs.append(f"{rule(col, field) or col} AS {col}")
    return select_sql(df, exprs)
