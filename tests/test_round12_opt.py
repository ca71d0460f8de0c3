"""Round-12 optimization equivalence pins: restructured operators must
produce bit-identical output to their pre-optimization composition."""

import pytest


def _baskets():
    rows = []
    for b in range(30):
        for i in range(2 + b % 5):
            rows.append((b, (b * 7 + i * 3) % 11))
    return rows


def _two_cliques():
    """Two 5-cliques joined by one bridge, plus a separate 3-chain."""
    edges = []
    for base in (0, 10):
        edges += [(base + i, base + j) for i in range(5) for j in range(i + 1, 5)]
    return edges + [(0, 10), (20, 21), (21, 22)]


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def _itemsets(df):
    from smartpy_arc_spark.operators import itemsets

    return (
        _sorted_rows(itemsets.frequent_pairs(
            df, basket_col="bk", item_col="it", min_support=2)),
        _sorted_rows(itemsets.frequent_triples(
            df, "bk", "it", min_support=2)),
    )


def _mst(df):
    from smartpy_arc_spark.operators.components import minimum_spanning_forest

    return _sorted_rows(minimum_spanning_forest(df))


def _cc(df):
    from smartpy_arc_spark.operators.components import connected_components

    return _sorted_rows(connected_components(df))


def _louvain(df):
    from smartpy_arc_spark.operators.components import louvain_communities

    return _sorted_rows(louvain_communities(df))


_MST_CASE = (
    [(s, d, (s * 7 + d * 3) % 5 + 1) for s, d in _two_cliques()],
    "s long, d long, w long",
    _mst,
)
# mst case -> components.LOCAL_FINISH_EDGES: the driver-side finish alone
# (default), distributed rounds before it (bound 20 < the 23 edges), and
# distributed rounds only (0)
_MST_BOUNDS = {"mst": None, "mst_mixed": 20, "mst_distributed": 0}

# case -> (input rows, input schema, operator run returning sorted rows)
_CHECKPOINT_CASES = {
    "itemsets": (_baskets(), "bk long, it long", _itemsets),
    **{case: _MST_CASE for case in _MST_BOUNDS},
    "connected_components": (_two_cliques(), "id_a long, id_b long", _cc),
    "louvain": (_two_cliques(), "src long, dst long", _louvain),
}


@pytest.mark.parametrize("case", list(_CHECKPOINT_CASES))
def test_identical_on_both_checkpoint_paths(spark, monkeypatch, tmp_path, case):
    """Operators behind sized_local_checkpoint must return identical rows
    whether their intermediates materialize (default) or recompute (cap
    exceeded).  Inputs go through parquet: a createDataFrame local has no
    leaf size, so the cap would never bite on it."""
    from smartpy_arc_spark.operators import components
    from smartpy_arc_spark.operators._ckpt import leaf_input_bytes

    if _MST_BOUNDS.get(case) is not None:
        monkeypatch.setattr(
            components, "LOCAL_FINISH_EDGES", _MST_BOUNDS[case]
        )
    rows, schema, run = _CHECKPOINT_CASES[case]
    path = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    df = spark.read.parquet(path)
    assert leaf_input_bytes(df) is not None
    want = run(df)
    monkeypatch.setenv("SMARTPY_ARC_CKPT_CAP_BYTES", "1")
    assert run(df) == want


def test_stream_drain_idle_counts_distinct_events_only():
    """The until-idle drain must count DISTINCT no-data progress events,
    not wall-clock polls of a possibly-stale lastProgress (VERDICT r11
    item 3: on a slow host the same stale no-data event re-polled N
    times must never end the drain while a data batch is in flight)."""
    from smartpy_arc_spark.streaming.stream import _drain_step

    def ev(ts, rows):
        return {"timestamp": ts, "numInputRows": rows}

    # stale no-data event re-polled 10x: idle must stay 0 past the first
    idle, ts, seen = 0, None, False
    idle, ts, seen = _drain_step(ev("t1", 5), ts, seen, idle,
                                 data_available=True)
    assert (idle, seen) == (0, True)
    for _ in range(10):
        idle, ts, seen = _drain_step(ev("t2", 0), ts, seen, idle,
                                     data_available=False)
    assert idle == 1  # one distinct event -> exactly one unit of evidence

    # a fresh no-data event while the engine still reports data
    # available contributes nothing
    idle, ts, seen = _drain_step(ev("t3", 0), ts, seen, idle,
                                 data_available=True)
    assert idle == 1
    # new data resets the evidence
    idle, ts, seen = _drain_step(ev("t4", 3), ts, seen, idle,
                                 data_available=True)
    assert idle == 0
    # exhaustion: fresh no-data event with nothing available counts
    idle, ts, seen = _drain_step(ev("t5", 0), ts, seen, idle,
                                 data_available=False)
    assert idle == 1
    # no-data events BEFORE any data never count (startup grace)
    idle2, ts2, seen2 = _drain_step(ev("s1", 0), None, False, 0,
                                    data_available=False)
    assert (idle2, seen2) == (0, False)


def test_minhash_shared_band_explode_identical(spark):
    """Passing a shared materialized band explode into both cap variants
    must produce exactly the rows of the unshared composition."""
    from smartpy_arc_spark.operators.dedup import (
        minhash_band_candidates,
        minhash_banded,
        minhash_prepare,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over dog {i % 3}")
         for i in range(60)] + [(100, "dup text"), (101, "dup text")],
        "doc_id long, text string",
    )
    sigs, star = minhash_prepare(
        docs, shingle_mode="word", shingle_size=3, collapse_exact=True,
        materialize=True,
    )
    banded = minhash_banded(sigs, materialize=True)
    for cap in (None, 8):
        want = sorted(map(tuple, minhash_band_candidates(
            sigs, star, max_bucket_size=cap).collect()))
        got = sorted(map(tuple, minhash_band_candidates(
            sigs, star, max_bucket_size=cap, banded=banded).collect()))
        assert got == want, cap
