"""Enrichment join — J1 (SURVEY.md §2.4), THE join of the reference.

Reference ``pandas_to_features`` (arc_utils.py:901-953): stage the dataframe
into a scratch table, build an attribute index on the join key
(arc_utils.py:931), AddJoin with KEEP_COMMON (inner) or KEEP_ALL (left
outer) (arc_utils.py:936-947), strip qualified ``table.field`` prefixes from
output names (arc_utils.py:948 + TempQualifiedFields arc_utils.py:138-152),
materialize.

Spark-first: no staging, no index — a single join whose physical strategy
Catalyst picks.  The enrichment side is the known-small side (that's the
operator's whole purpose), so it is always hinted ``broadcast()``: at
100 TB the target fact table never shuffles, each executor hash-probes the
broadcast enrichment map.  The hint goes through
``_ckpt.broadcast_if_small``, the engine's one size gate: an enrichment
side over its cap is joined by shuffle (sort-merge / shuffle-hash with AQE
skew splitting) with a warning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartpy_arc_spark.operators._ckpt import broadcast_if_small


def enrich_join(
    target: DataFrame,
    enrich: DataFrame,
    target_id_fld: str,
    enrich_id_fld: str,
    *,
    keep_common: bool = True,
    suffix: str = "_r",
) -> DataFrame:
    """Join ``enrich`` onto ``target``.

    * ``keep_common=True`` → inner (KEEP_COMMON), False → left outer
      (KEEP_ALL) — arc_utils.py:936-947.
    * Output has *unqualified* names: the enrichment join key is dropped
      (it duplicates the target key), and any other colliding enrichment
      column is suffixed — matching the reference's unqualified-fields
      materialization (arc_utils.py:948).
    * The enrichment side is hinted as broadcast unless its leaf bytes
      exceed ``_ckpt.BROADCAST_CAP_BYTES``; then it is joined by shuffle
      with a warning rather than risk an executor OOM.
    """
    how = "inner" if keep_common else "left"
    right = broadcast_if_small(enrich, "enrich_join")

    # Rename colliding non-key enrichment columns before the join so the
    # output needs no qualification.
    target_cols = set(target.columns)
    renames = {
        c: c + suffix
        for c in enrich.columns
        if c in target_cols and c != enrich_id_fld
    }
    for old, new in renames.items():
        right = right.withColumnRenamed(old, new)

    cond = target[target_id_fld] == right[enrich_id_fld]
    joined = target.join(right, cond, how)
    # Drop the duplicate key column from the enrichment side (unless it is
    # the same column name as the target's — then Spark keeps both refs and
    # we drop the right-hand one).
    return joined.drop(right[enrich_id_fld])


def range_join(
    facts: DataFrame,
    ranges: DataFrame,
    *,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    how: str = "inner",
) -> DataFrame:
    """Interval (range) join: each fact row matched to the range rows whose
    half-open interval [lo, hi) contains its value.

    The ranges side is broadcast — a bucket/dimension table is bounded by
    definition, so every executor probes its local copy and the fact side
    never shuffles (a non-equi condition would otherwise force a
    broadcast-nested-loop with the big side streamed, which is exactly what
    we get, minus any shuffle).  For two BIG interval sets, bucketize both
    by interval-aligned grid cells first and equi-join on the cell key.
    """
    cond = (F.col(value_col) >= ranges[lo_col]) & (F.col(value_col) < ranges[hi_col])
    return facts.join(F.broadcast(ranges), cond, how)
