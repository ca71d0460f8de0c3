"""The engine's one size policy: every pin, broadcast, state-width and
driver-collect decision.

This module is the only place that sizes a frame (``sizeInBytes``) and the
only place that decides whether an intermediate is pinned
(:func:`sized_local_checkpoint`), a join side is broadcast
(:func:`broadcast_if_small`), how wide a bounded stream's state and
result are (:func:`stream_state_width`, :func:`coalesce_to_bytes`) or
whether a frame of unknown row count may be collected
(:func:`collect_if_fits`).  Operators and drains call these
functions; they do not size frames, pick storage levels, set widths or
probe row counts themselves.

**The estimator** is the SUM OF LEAF-RELATION SIZES of the frame's
optimized plan (:func:`leaf_input_bytes`): exact file bytes for parquet
scans.  The plan-level estimate is not used: a join node's estimate is the
PRODUCT of its children, and a driver-built ``createDataFrame`` local
reports ``Long.MaxValue``.  A streaming frame is read from its analyzed
plan, because ``optimizedPlan()`` throws on streaming plans; its V1 file
source leaf (``StreamingRelation``) reports ``Long.MaxValue`` itself and
is sized by its batch twin, ``dataSource.resolveRelation().sizeInBytes``:
exact file bytes, ``pathGlobFilter`` honoured, and no schema-inference job
because a stream's schema is user-specified.  ``StreamingRelationV2``
leaves (rate, Python data sources, Kafka) stay unsized.  Measured on
sf0.01 (Spark 4.1.2):

=========================================  ===================  =================
input                                      plan-stats estimate  leaf-sum estimate
=========================================  ===================  =================
10-row list ``createDataFrame``            9223372036854775807  None (unsized)
``customer`` filtered (enrichment side)    33,827               33,827
``orders ⋈ customer``                      9,518,850,146        315,225
``events`` file stream, windowed counts    9223372036854775807  221,075
``rate`` stream                            9223372036854775807  None (unsized)
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

**Stream state width.**  Spark turns AQE off for stateful streams, so
nothing coalesces a stateful shuffle, and every state partition opens a
state store in every micro-batch (a delta file, its ``.crc`` and a
checkpoint-checksum sidecar, each local create forking ``chmod``).  A
bounded drain therefore runs its stateful shuffle at the width AQE would
have coalesced its source to,
``ceil(leaf bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)``
clamped to ``[1, spark.sql.shuffle.partitions]`` (:func:`bytes_width`).
An unsized source keeps :data:`UNSIZED_STREAM_WIDTH`, the fixed width the
drains ran at before they were sized.  A drain's result is sized by the
same rule (:func:`coalesce_to_bytes`): the memory sink's frame plans as a
local table scan cut into ``min(rows, defaultParallelism)`` partitions,
so a few thousand rows would otherwise be written as that many files and
read back by that many tasks.  The Borůvka finish's driver-built forest
goes through the same rule: up to the driver-collect cap its rows fit one
partition, so a caller's sort of it needs no exchange.

**Driver collects.**  A frame whose row count the caller cannot bound by
construction is collected through :func:`collect_if_fits`: one
``limit(COLLECT_ROW_CAP + 1)`` collect, so the driver never holds more
than :data:`COLLECT_ROW_CAP` + 1 rows whatever the input size, and the
caller learns "fits" or "does not fit" from the same job that brings the
rows home.  The bound counts rows, not bytes, because the driver-side cost
of these results is per row: every collected row becomes a Python
``Row``, and the callers turn each one into literals, union-find steps or
numpy rows.  Their rows are narrow (a few longs, or one vector), so a row
bound is also a byte bound.  The cap is 1 << 16 rows: at that size the
Borůvka finish's five-long edge rows hold about 2.6 MB, and the exact
percentile histogram, whose construction builds literal maps from the
collected rows, was measured on a 4-vCPU host (Spark 4.1.2) at 18.4 s of
construction and run wall for 65,536 rows against 62.5 s for 131,072: the
last power of two before a call passes a minute.  Above the cap each
caller either keeps working distributed (the Borůvka rounds) or raises a
``ValueError`` that names the oversized side.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from smartpy_arc_spark.session import jclass

BROADCAST_CAP_BYTES = 512 << 20
COLLECT_ROW_CAP = 1 << 16
UNSIZED_STREAM_WIDTH = 8
_DEFAULT_CAP_BYTES = 8 * 1024**3
# Long.MaxValue (and anything close) marks an unsized leaf
_UNSIZED_SENTINEL = 1 << 62


def ckpt_cap_bytes() -> int:
    return int(
        os.environ.get("SMARTPY_ARC_CKPT_CAP_BYTES", _DEFAULT_CAP_BYTES)
    )


def _leaf_bytes(leaf) -> int:
    if leaf.nodeName() == "StreamingRelation":
        # a V1 streaming file source: size its batch twin
        return int(leaf.dataSource().resolveRelation(True, False).sizeInBytes())
    return int(str(leaf.stats().sizeInBytes()))


def leaf_input_bytes(df: DataFrame) -> int | None:
    """Sum of the plan's leaf-relation sizes in bytes (the optimized plan,
    or the analyzed plan of a streaming frame), or None when any leaf is
    unsized."""
    try:
        qe = df._jdf.queryExecution()
        plan = qe.analyzed() if df.isStreaming else qe.optimizedPlan()
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            size = _leaf_bytes(leaves.apply(i))
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


def bytes_width(spark: SparkSession, nbytes: int) -> int:
    """The partition count AQE would coalesce ``nbytes`` to:
    ``ceil(nbytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)``
    clamped to ``[1, spark.sql.shuffle.partitions]``."""
    target = jclass(spark, "org.apache.spark.network.util.JavaUtils").byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-nbytes // target)))


def stream_state_width(df: DataFrame) -> tuple[int, int | None]:
    """``(width, source bytes)`` for a bounded stream's stateful shuffle:
    :func:`bytes_width` of its leaf bytes, or
    ``(UNSIZED_STREAM_WIDTH, None)`` for an unsized source."""
    est = leaf_input_bytes(df)
    if est is None:
        return UNSIZED_STREAM_WIDTH, None
    return bytes_width(df.sparkSession, est), est


def coalesce_to_bytes(df: DataFrame) -> tuple[DataFrame, int | None]:
    """``(df.coalesce(w), w)`` with ``w`` the :func:`bytes_width` of the
    frame's leaf bytes, or ``(df, None)`` for an unsized frame.
    ``coalesce`` adds no shuffle, keeps the partitions' concatenation
    order and never widens."""
    est = leaf_input_bytes(df)
    if est is None:
        return df, None
    width = bytes_width(df.sparkSession, est)
    return df.coalesce(width), width


def collect_if_fits(df: DataFrame) -> list | None:
    """The rows of ``df`` when it has at most :data:`COLLECT_ROW_CAP`
    rows, else None; one ``limit(COLLECT_ROW_CAP + 1)`` collect."""
    rows = df.limit(COLLECT_ROW_CAP + 1).collect()
    return rows if len(rows) <= COLLECT_ROW_CAP else None
