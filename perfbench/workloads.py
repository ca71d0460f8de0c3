"""The benchmark's workloads: which contract queries a pass runs, and where
each result goes.  See README.md for why each workload exists."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # "parquet": write through sinks.write.write_table and read the result
    # back through sources.scan; "noop": run the plan into the noop sink.
    sink: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_exchange",
            (
                "enrich_join_inner",
                "null_sentinel_fill",
                "stream_window_counts",
            ),
            "parquet",
        ),
        Workload(
            "curate_iterate",
            (
                "text_stats",
                "dedup_exact",
                "knn_cosine",
                "geom_split",
                "wav_decode",
                "mst",
            ),
            "noop",
        ),
    )
}
