#!/usr/bin/env python
"""Micro-batch census for the streaming contract queries (VERDICT r8
item 7).

Every micro-batch of a Structured Streaming drain is its own job
cascade, so under a degraded per-job dispatch regime a streaming query's
wall time scales with its BATCH COUNT, not its data volume — the
regime-independent number to engineer against.  This tool runs each
``q_stream*`` contract query at sf0.1 and prints one JSON line mapping
query name -> micro-batches executed (from the sink's lastProgress
batchId, recorded by ``run_stream_to_memory`` /
``run_stream_until_idle``).

The headline target (judge r8): ``stream_window_counts`` at ≤2 batches —
the parquet file source under ``availableNow`` reads the whole bounded
directory in one data batch (no maxFilesPerTrigger configured, single
part-file), plus at most one no-data batch to commit the advanced
watermark.  ``stream_custom_source`` runs a continuous-trigger drain of
a rate-limited generator source, so its count is prefetch-paced by
design and recorded for visibility, not gated.

Next to the batch counts, ``state`` maps each query to the stateful
shuffle width its drain chose and the source bytes behind it
(``source_bytes`` null for an unsized source, which keeps width 8),
with ``result_width`` beside them: the partition count of the result
the drain returned (``_ckpt.coalesce_to_bytes``; null where the result
is unsized).

Usage: python tools/stream_batches.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    import __spark_entry__ as mod
    from smartpy_arc_spark import get_spark
    from smartpy_arc_spark.streaming import stream as st

    spark = get_spark("stream_batches")
    qs = mod.queries()
    names = [n for n in qs if n.startswith("stream_")]
    if only:
        names = [n for n in names if n in only]
    counts: dict[str, int] = {}
    state: dict[str, dict | None] = {}
    for name in names:
        st.last_drain_batches.clear()
        st.last_drain_widths.clear()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        drains = st.last_drain_batches
        # a query may drain several streams (stream-stream join helpers
        # run one); record the drain with the most batches
        top = max(drains, key=drains.get) if drains else None
        counts[name] = drains[top] if top else -1
        state[name] = st.last_drain_widths.get(top)
    print(json.dumps({"metric": "stream_micro_batches", "sf_dir": sf_dir,
                      "batches": counts, "state": state}))


if __name__ == "__main__":
    main()
