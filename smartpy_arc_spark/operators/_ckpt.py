"""The engine's one size policy: every pin and broadcast decision.

This module is the only place that sizes a frame (``sizeInBytes``) and the
only place that decides whether an intermediate is pinned
(:func:`sized_local_checkpoint`) or a join side is broadcast
(:func:`broadcast_if_small`).  Operators call these two functions; they do
not size frames or pick storage levels themselves.

**The estimator** is the SUM OF LEAF-RELATION SIZES of the frame's
optimized plan (:func:`leaf_input_bytes`): exact file bytes for parquet
scans.  The plan-level estimate is not used: a join node's estimate is the
PRODUCT of its children, and a driver-built ``createDataFrame`` local
reports ``Long.MaxValue``.  Measured on sf0.01 (Spark 4.1.2):

=========================================  ===================  =================
input                                      plan-stats estimate  leaf-sum estimate
=========================================  ===================  =================
10-row list ``createDataFrame``            9223372036854775807  None (unsized)
``customer`` filtered (enrichment side)    33,827               33,827
``orders ⋈ customer``                      9,518,850,146        315,225
=========================================  ===================  =================

Unsized frames are driver-built locals, whose rows already sit on the
driver: both decisions keep the status quo (pin, broadcast) for them.  A
localCheckpoint's leaf carries its origin plan's plan-level estimate,
which can be far too large; that errs toward recompute and shuffle, the
safe direction.

**Pinning.**  ``localCheckpoint(eager=True)`` makes a repeated-subtree plan
single-pass (guide §2.4/§5), but it is the wrong trade when the pinned
frame is proportional to the input: a column-pruned parquet re-scan
becomes a cluster-wide write of the whole intermediate, and since local
checkpoints are non-replicated and truncate lineage, one lost executor
fails the job instead of recomputing (VERDICT r11 item 1).  So the frame
is pinned only while ``leaf_input_bytes × scale`` fits
``$SMARTPY_ARC_CKPT_CAP_BYTES`` (default 8 GiB, a single-node storage
budget; clusters should set it to their storage-memory headroom); above
that it recomputes from lineage.  ``scale`` is a per-site factor for known
super-linear expansion.  Every guarded frame is deterministic, so the
recompute path is semantics-preserving.  Pins are stored serialized
MEMORY_AND_DISK: deserialized row blocks cost ~150+ bytes per (string,
string) edge, and at the 100x scaling-probe rung (120M directed edges)
32 concurrently-unrolling tasks OOMed a 16 GiB JVM (r9); serialized
Tungsten rows are a fraction of that and spill cleanly.

**Broadcasting.**  An oversized broadcast OOMs executors instead of
degrading, so a hinted side whose leaf bytes exceed
:data:`BROADCAST_CAP_BYTES` (512 MiB) is left unhinted with a warning,
and the join falls back to a shuffle join that AQE can still re-plan.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

BROADCAST_CAP_BYTES = 512 << 20
_DEFAULT_CAP_BYTES = 8 * 1024**3
# Long.MaxValue (and anything close) marks an unsized leaf
_UNSIZED_SENTINEL = 1 << 62


def ckpt_cap_bytes() -> int:
    return int(
        os.environ.get("SMARTPY_ARC_CKPT_CAP_BYTES", _DEFAULT_CAP_BYTES)
    )


def leaf_input_bytes(df: DataFrame) -> int | None:
    """Sum of the optimized plan's leaf-relation sizes in bytes, or None
    when any leaf is unsized."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            size = int(str(leaves.apply(i).stats().sizeInBytes()))
            if size >= _UNSIZED_SENTINEL:
                return None
            total += size
        return total
    except Exception:
        return None


def sized_local_checkpoint(df: DataFrame, *, scale: float = 1.0) -> DataFrame:
    """Eager serialized localCheckpoint when ``leaf_input_bytes * scale``
    fits the cap; the unmodified (recompute-from-lineage) frame when it
    does not."""
    est = leaf_input_bytes(df)
    if est is not None and est * scale > ckpt_cap_bytes():
        return df
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


def broadcast_if_small(df: DataFrame, what: str) -> DataFrame:
    """``F.broadcast(df)`` when its leaf bytes fit :data:`BROADCAST_CAP_BYTES`
    or are unsized; otherwise ``df`` unhinted, with a warning naming
    ``what``."""
    est = leaf_input_bytes(df)
    if est is not None and est > BROADCAST_CAP_BYTES:
        warnings.warn(
            f"{what}: broadcast side estimated at {est} leaf bytes "
            f"(> cap {BROADCAST_CAP_BYTES}); falling back to shuffle join",
            stacklevel=3,
        )
        return df
    return F.broadcast(df)
