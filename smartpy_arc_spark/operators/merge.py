"""MERGE INTO / CDC upsert emulation (no Delta/Iceberg jars in this image).

``merge_upsert`` is the classic anti-join + union: updates win on key
collision, unmatched target rows pass through — semantically MERGE INTO
WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT for whole rows.

``scd2_apply`` applies a batch of changes as slowly-changing-dimension
type 2: matched current rows are closed at the key's earliest change and
the changes chain into consecutive validity intervals, the latest staying
open.

Both are few-shuffle constructions; with Delta on the classpath swap for a
real ``MERGE INTO`` — the call signatures are designed to be drop-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    *,
    validate: bool = True,
) -> DataFrame:
    """Updates replace matched target rows; unmatched pass through.
    Schemas must be union-compatible by name.

    Real MERGE INTO errors when a target row matches multiple source rows;
    ``validate=True`` (default) enforces the same key-uniqueness on
    ``updates`` with one extra aggregate over the (small) update side.
    Pass ``validate=False`` only when uniqueness is guaranteed upstream.
    """
    if validate:
        dup = (
            # bounded: limit(1)
            updates.groupBy(key).count().where(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"updates contain multiple rows for key {key}={dup[0][0]!r}; "
                "MERGE semantics require a unique update per key "
                "(deduplicate upstream or pass validate=False deliberately)"
            )
    kept = target.join(updates.select(key), on=key, how="left_anti")
    return kept.unionByName(updates.select(target.columns))


def scd2_apply(
    current: DataFrame,
    changes: DataFrame,
    *,
    key: str,
    ts_col: str = "change_ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """SCD2: close matched open rows at the key's earliest change timestamp
    and open chained validity intervals per change — multiple changes for
    one key in a batch produce consecutive closed rows with only the
    latest left open (``valid_to IS NULL``).

    Caveat: a change older than the open row's ``valid_from`` produces an
    inverted interval — out-of-order (late-arriving) feeds need bitemporal
    handling upstream; this operator assumes event-time-ordered batches
    relative to the open rows.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    chained = (
        changes.withColumn(valid_from, F.col(ts_col))
        .withColumn(valid_to, F.lead(ts_col).over(w))
        .withColumn("_first_change", F.min(ts_col).over(
            Window.partitionBy(key)
        ))
    )
    first_change = chained.select(key, "_first_change").distinct()

    closed = (
        current.where(F.col(valid_to).isNull())
        .join(first_change, on=key, how="inner")
        .withColumn(valid_to, F.col("_first_change"))
        .drop("_first_change")
    )
    untouched = current.join(changes.select(key), on=key, how="left_anti")
    already_closed = (
        current.join(first_change.select(key), on=key, how="left_semi")
        .where(F.col(valid_to).isNotNull())
    )
    opened = chained.drop(ts_col, "_first_change").select(*current.columns)
    return (
        untouched.unionByName(already_closed)
        .unionByName(closed)
        .unionByName(opened)
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    *,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change batch (ops 'I'/'U'/'D' with a per-key sequence)
    to a base table, latest-wins — the lakehouse "apply changes" primitive
    (Delta's APPLY CHANGES INTO, Iceberg's upsert with deletes).

    Per key: the change row with the highest ``seq_col`` decides — D
    removes the key, I/U replace the base row with the change's payload;
    keys without changes pass through.  Ties on (key, seq) are invalid
    input and raise (the same duplicate-key validation MERGE does).

    Scale shape: one hash aggregate on the change batch (max_by — no
    sort window), one shuffled left-anti + union; the base table is
    touched once.  The change batch is typically ≪ base and its reduced
    form (1 row/key) broadcasts for both joins.
    """
    dup = (
        changes.groupBy(key_col, seq_col)
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") > 1)
        .limit(1)
        .collect()  # bounded: limit(1)
    )
    if dup:
        raise ValueError(
            f"cdc_apply: multiple change rows for key={dup[0][key_col]} "
            f"seq={dup[0][seq_col]}; (key, seq) must be unique"
        )
    payload = [c for c in changes.columns if c not in (op_col,)]
    latest = (
        changes.groupBy(key_col)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload if c != key_col], F.col(op_col)),
                F.col(seq_col),
            ).alias("__w")
        )
        .select(key_col, "__w.*")
    )
    survivors_from_changes = latest.where(F.col(op_col) != "D").drop(op_col)
    changed_keys = latest.select(key_col)
    untouched = base.join(F.broadcast(changed_keys), key_col, "left_anti")
    return untouched.unionByName(
        survivors_from_changes.select(*base.columns)
    )


def incremental_agg_update(
    agg: DataFrame,
    changes: DataFrame,
    *,
    key_col: str,
    n_col: str = "n",
    sum_col: str = "sum_ticks",
    op_col: str = "op",
    value_col: str = "value_ticks",
    old_value_col: str = "old_value_ticks",
) -> DataFrame:
    """Incremental maintenance of a (count, sum) aggregate table from a
    CDC batch — the materialized-view delta update that avoids
    rescanning the base detail (the whole point at 100 TB: the work is
    O(|changes| + |touched keys|), not O(|base|)).

    Change rows carry ``op`` ∈ {I, U, D} with the after-image in
    ``value_col`` and (for U/D) the before-image in ``old_value_col`` —
    the standard CDC envelope.  Per key the batch folds to
    ``(Δn, Δsum)``:  I → (+1, +v), D → (−1, −v_old), U → (0, v − v_old);
    one bounded aggregate on the touched keys, one outer join onto the
    aggregate table, rows whose count reaches zero drop out.

    Count/sum must be algebraic for this to be exact — which they are;
    the same envelope extends to any commutative-group measure.
    """
    d_n = (
        F.when(F.col(op_col) == "I", F.lit(1))
        .when(F.col(op_col) == "D", F.lit(-1))
        .otherwise(F.lit(0))
    )
    d_sum = (
        F.when(F.col(op_col) == "I", F.col(value_col))
        .when(F.col(op_col) == "D", -F.col(old_value_col))
        .otherwise(F.col(value_col) - F.col(old_value_col))
    )
    deltas = changes.groupBy(key_col).agg(
        F.sum(d_n).cast("long").alias("__dn"),
        F.sum(d_sum).cast("long").alias("__ds"),
    )
    merged = agg.join(deltas, key_col, "full").select(
        F.col(key_col),
        (F.coalesce(F.col(n_col), F.lit(0)) + F.coalesce("__dn", F.lit(0)))
        .cast("long")
        .alias(n_col),
        (F.coalesce(F.col(sum_col), F.lit(0)) + F.coalesce("__ds", F.lit(0)))
        .cast("long")
        .alias(sum_col),
    )
    return merged.where(F.col(n_col) > 0)


def generate_cdc(
    old: DataFrame,
    new: DataFrame,
    *,
    key_col: str,
    compare_cols: list[str] | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Diff two versions of a table into a CDC change batch — the
    converse of ``cdc_apply``: keys only in ``new`` emit 'I', keys only
    in ``old`` emit 'D', keys in both whose compared payload differs
    emit 'U' (unchanged keys emit nothing).  ``cdc_apply(old,
    generate_cdc(old, new), ...)`` reproduces ``new`` exactly — the
    round-trip a change-data-feed must satisfy, asserted in tests.

    One full-outer hash join on the key; payload comparison is null-safe
    (``eqNullSafe``) so NULL→value and value→NULL transitions emit 'U'.
    Output: ``(op, key, payload columns from new — NULL for 'D')``.
    """
    cols = compare_cols or [c for c in new.columns if c != key_col]
    o = old.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__o_{c}") for c in cols],
    ).withColumn("__in_old", F.lit(True))
    nw = new.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__n_{c}") for c in cols],
    ).withColumn("__in_new", F.lit(True))
    j = o.join(nw, "__k", "full_outer")
    same = None
    for c in cols:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(~same, F.lit("U"))
    )
    return (
        j.withColumn(op_col, op)
        .where(F.col(op_col).isNotNull())
        .select(
            op_col,
            F.col("__k").alias(key_col),
            *[F.col(f"__n_{c}").alias(c) for c in cols],
        )
    )
