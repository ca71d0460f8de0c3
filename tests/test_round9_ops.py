"""Round-9 additions: bench provenance normalization, serialized
edge-checkpoint storage level, streaming micro-batch recording, and the
stats.py facade split."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- bench gate

def _fake_bench(queries, heavy):
    return {
        "value": round(sum(queries.values()), 3),
        "queries": queries,
        "heavy_tail": heavy,
        "heavy_tail_total": round(sum(heavy.values()), 3),
        "sf": 0.1,
    }


def test_normalize_identity_against_reference():
    """A run identical to the reference reads regime 1.0, no regressions."""
    from bench import normalize_against_reference

    ref = json.load(open(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_REFERENCE.json")))
    out = normalize_against_reference(
        _fake_bench(ref["queries"], ref["heavy_tail"]))
    assert out["regime_factor"] == 1.0
    assert out["regressed"] == []
    assert out["normalized_total"] == ref["total"]


def test_normalize_uniform_contention_divides_out():
    """Uniform 2x inflation (the contention signature) normalizes back to
    the reference total and flags nothing."""
    from bench import normalize_against_reference

    ref = json.load(open(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_REFERENCE.json")))
    q2 = {k: round(v * 2, 6) for k, v in ref["queries"].items()}
    h2 = {k: round(v * 2, 6) for k, v in ref["heavy_tail"].items()}
    out = normalize_against_reference(_fake_bench(q2, h2))
    assert out["regime_factor"] == pytest.approx(2.0, abs=0.01)
    assert out["regressed"] == []
    assert out["normalized_total"] == pytest.approx(ref["total"], rel=0.01)


def test_normalize_single_regression_survives():
    """One query regressing 5x on an otherwise idle run barely moves the
    median, lands in `regressed`, and keeps inflating normalized_total —
    normalization must never hide a real regression."""
    from bench import normalize_against_reference

    ref = json.load(open(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_REFERENCE.json")))
    q = dict(ref["queries"])
    victim = sorted(q)[0]
    q[victim] = round(q[victim] * 5, 6)
    out = normalize_against_reference(_fake_bench(q, ref["heavy_tail"]))
    assert out["regressed"] == [victim]
    assert out["regime_factor"] == pytest.approx(1.0, abs=0.05)
    assert out["normalized_total"] > ref["total"]


def test_normalize_sf_mismatch_is_inert():
    from bench import normalize_against_reference

    assert normalize_against_reference(
        {"value": 1.0, "queries": {"x": 1.0}, "sf": 0.01}) == {}


# ------------------------------------------------- serialized edge checkpoint

def test_graph_ops_survive_checkpoint_level(spark):
    """End-to-end value pin across the operators whose edge checkpoints
    moved to the serialized level: a fixed 2-component graph."""
    from smartpy_arc_spark.operators.components import (
        connected_components,
        label_propagation,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "src long, dst long")
    cc = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, src_col="src", dst_col="dst").collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    lp = label_propagation(edges, src_col="src", dst_col="dst")
    assert lp.count() == 7
    both = edges.union(
        edges.selectExpr("dst as src", "src as dst"))
    pr = pagerank(both, iterations=2, assume_distinct=False)
    total = sum(r["rank"] for r in pr.collect())
    assert total == pytest.approx(1.0, abs=1e-6)


# ------------------------------------------------------ stream batch counts

def test_stream_drain_records_batch_count(spark, sf_dir):
    """run_stream_to_memory exposes the drain's micro-batch count; the
    bounded single-file parquet source is ONE data batch under
    availableNow."""
    from smartpy_arc_spark.streaming import stream as st

    st.last_drain_batches.clear()
    out = st.run_stream_to_memory(
        st.windowed_event_counts(st.read_events_stream(spark, sf_dir)))
    assert out.count() > 0
    assert list(st.last_drain_batches.values()) == [1]


# ----------------------------------------------------------- stats facade

def test_stats_facade_reexports_all_split_modules():
    """Every public operator of the four split modules is importable from
    the pre-split path (the stable API)."""
    import smartpy_arc_spark.operators.stats as stats
    import smartpy_arc_spark.operators.stats_effects as eff
    import smartpy_arc_spark.operators.stats_survival as surv
    import smartpy_arc_spark.operators.stats_tests as tst
    import smartpy_arc_spark.operators.stats_timeseries as ts

    for mod in (tst, ts, surv, eff):
        for name in dir(mod):
            if name.startswith("_"):
                continue
            obj = getattr(mod, name)
            if callable(obj) and getattr(obj, "__module__", "") == mod.__name__:
                assert getattr(stats, name) is obj, name
