"""Connected components (dedup clustering), Borůvka minimum spanning
forest and MERGE/SCD2 emulation."""

import datetime as dt
import os
import random

import pytest
from pyspark.sql import functions as F

from smartpy_arc_spark.operators import _ckpt, components
from smartpy_arc_spark.operators.components import (
    connected_components,
    dedup_clusters,
    minimum_spanning_forest,
)
from smartpy_arc_spark.operators.merge import merge_upsert, scd2_apply


def test_connected_components_two_clusters(spark):
    # {1,2,3,4} via chain, {10,11}, singleton edges only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # path graph of 40 nodes — needs log-rounds, not 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    comp = connected_components(pairs)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 41


def test_connected_components_dedup_edges_false_equivalent(spark):
    # min-label spreading is idempotent to duplicate orientations, so the
    # no-dedup fast path (Boruvka's per-round merge) must label identically
    # even when both orientations and repeats are fed in
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (10, 11), (10, 11), (11, 10)],
        "id_a long, id_b long",
    )
    a = {r.node: r.component for r in connected_components(pairs).collect()}
    b = {
        r.node: r.component
        for r in connected_components(pairs, dedup_edges=False).collect()
    }
    assert a == b == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_keeper_flags(spark):
    pairs = spark.createDataFrame([(5, 9), (9, 7)], "id_a long, id_b long")
    rows = {r.node: r for r in dedup_clusters(pairs).collect()}
    assert rows[5].is_keeper and not rows[7].is_keeper and not rows[9].is_keeper
    assert all(r.component == 5 for r in rows.values())


def _kruskal(nodes, edges):
    """Reference MST with the same strict (w, s, d) total order."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for w, a, b in sorted((w, a, b) for a, b, w in edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.append((a, b, w))
    return sorted(out)


# _ckpt.COLLECT_ROW_CAP per MST path: the driver-side Kruskal finish alone
# (default bound), distributed Borůvka rounds then the finish, and
# distributed rounds only
_MST_BOUNDS = {"local": None, "mixed": 20, "distributed": 0}


@pytest.fixture(params=list(_MST_BOUNDS))
def mst_path(request, monkeypatch):
    """Pins minimum_spanning_forest to one path; ``check(n_edges)``
    asserts the run took it, from the edge-list sizes handed to the
    driver-side finish."""
    bound = _MST_BOUNDS[request.param]
    if bound is not None:
        monkeypatch.setattr(_ckpt, "COLLECT_ROW_CAP", bound)
    finished = []
    finish = components._kruskal_finish

    def spy(rows):
        finished.append(len(rows))
        return finish(rows)

    monkeypatch.setattr(components, "_kruskal_finish", spy)

    def check(n_edges):
        if bound is None or n_edges <= bound:
            # round 1 probes every edge and finishes at once
            assert finished == [n_edges]
        else:
            # round 1 saw more than the bound, so at least one
            # distributed round ran before the finish
            assert len(finished) == 1 and finished[0] <= bound
        finished.clear()

    return check


def test_mst_matches_kruskal_random_graphs(spark, mst_path):
    for seed in (3, 11):
        random.seed(seed)
        nodes = list(range(14))
        seen, edges = set(), []
        for _ in range(40):
            a, b = random.sample(nodes, 2)
            a, b = min(a, b), max(a, b)
            if (a, b) in seen:
                continue
            seen.add((a, b))
            edges.append((a, b, random.randint(1, 8)))  # duplicate weights
        df = spark.createDataFrame(edges, "s long, d long, w long")
        got = sorted(
            (r.s, r.d, r.w) for r in minimum_spanning_forest(df).collect()
        )
        assert got == _kruskal(nodes, edges)
        mst_path(len(edges))


def test_mst_chain_exercises_pointer_doubling(spark, mst_path):
    # strictly increasing weights along a 48-node path: every component's
    # min edge hooks toward node 0, so the round-1 hook tree is a maximal-
    # depth chain — the worst case for the parent pointer-doubling merge
    edges = [(i, i + 1, 100 + i) for i in range(48)]
    df = spark.createDataFrame(edges, "s long, d long, w long")
    got = sorted((r.s, r.d, r.w) for r in minimum_spanning_forest(df).collect())
    assert got == sorted(edges)  # a path IS its own spanning tree
    mst_path(len(edges))


def test_mst_forest_on_disconnected_graph(spark, mst_path):
    edges = [(1, 2, 5), (2, 3, 1), (1, 3, 2), (10, 11, 7)]
    df = spark.createDataFrame(edges, "s long, d long, w long")
    got = sorted((r.s, r.d, r.w) for r in minimum_spanning_forest(df).collect())
    # two trees: {(2,3,1),(1,3,2)} and {(10,11,7)}
    assert got == [(1, 3, 2), (2, 3, 1), (10, 11, 7)]
    mst_path(len(edges))


def test_mst_single_edge_and_self_loop(spark, mst_path):
    edges = [(1, 2, 3), (4, 4, 1)]  # self-loop must drop
    df = spark.createDataFrame(edges, "s long, d long, w long")
    got = [(r.s, r.d, r.w) for r in minimum_spanning_forest(df).collect()]
    assert got == [(1, 2, 3)]
    mst_path(1)


def test_mst_null_weight_sorts_first(spark, mst_path):
    # a NULL weight is the lightest, as in the struct min of a distributed
    # round, so both NULL edges join the forest
    edges = [(1, 2, None), (2, 3, 5), (1, 3, 4), (3, 4, None)]
    df = spark.createDataFrame(edges, "s long, d long, w long")
    got = {(r.s, r.d, r.w) for r in minimum_spanning_forest(df).collect()}
    assert got == {(1, 2, None), (1, 3, 4), (3, 4, None)}
    mst_path(len(edges))


def test_mst_chain_job_count(spark):
    """The driver-side finish keeps the 48-node chain to a handful of
    Spark jobs; fully distributed Borůvka runs about 40 on it."""
    edges = [(i, i + 1, 100 + i) for i in range(48)]
    df = spark.createDataFrame(edges, "s long, d long, w long")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    minimum_spanning_forest(df).collect()
    # job ids reach the tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert 0 < len(jobs) <= 10, sorted(jobs)


def test_mst_local_path_probes_first_and_returns_one_partition(spark, sf_dir):
    """The sf0.01 ``mst`` query's edges fit the driver cap, so round 1's
    probe is the only run of its edge pipeline: nothing is pinned, and
    the driver finish comes back as one partition, which ``q_mst``'s sort
    reads without a range-partition sample or an exchange.  Pinning the
    edges first and returning the finish as 4 partitions ran 7 jobs."""
    import __spark_entry__ as entry

    sf0_01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pinned = set(sc._jsc.getPersistentRDDs().keySet())
    before = set(tracker.getJobIdsForGroup())
    rows = entry.q_mst(spark, sf0_01).collect()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert rows and 0 < len(jobs) <= 4, sorted(jobs)
    assert not set(sc._jsc.getPersistentRDDs().keySet()) - pinned

    edges = [(i, i + 1, 100 + i) for i in range(48)]
    forest = minimum_spanning_forest(
        spark.createDataFrame(edges, "s long, d long, w long"))
    assert forest.rdd.getNumPartitions() == 1
    assert sorted(tuple(r) for r in forest.collect()) == edges


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k long, name string, v double"
    )
    updates = spark.createDataFrame([(2, "B2", 20.0), (9, "new", 9.0)],
                                    "k long, name string, v double")
    out = {r.k: (r.name, r.v) for r in merge_upsert(target, updates, "k").collect()}
    assert out == {1: ("a", 1.0), 2: ("B2", 20.0), 3: ("c", 3.0), 9: ("new", 9.0)}


def test_merge_upsert_rejects_duplicate_update_keys(spark):
    target = spark.createDataFrame([(1, "a")], "k long, name string")
    dups = spark.createDataFrame([(1, "b"), (1, "c")], "k long, name string")
    with pytest.raises(ValueError, match="multiple rows for key"):
        merge_upsert(target, dups, "k")


def test_scd2_multiple_changes_same_key_chain(spark):
    t0 = dt.datetime(2024, 1, 1)
    t1, t2 = dt.datetime(2024, 3, 1), dt.datetime(2024, 6, 1)
    current = spark.createDataFrame(
        [(1, "v1", t0, None)],
        "k long, attr string, valid_from timestamp, valid_to timestamp",
    )
    changes = spark.createDataFrame(
        [(1, "v2", t1), (1, "v3", t2)], "k long, attr string, change_ts timestamp"
    )
    out = sorted(
        (r.attr, r.valid_from, r.valid_to) for r in scd2_apply(current, changes, key="k").collect()
    )
    assert out == [("v1", t0, t1), ("v2", t1, t2), ("v3", t2, None)]
    # open-row uniqueness holds even with intra-batch chains
    open_rows = [r for r in scd2_apply(current, changes, key="k").collect()
                 if r.valid_to is None]
    assert len(open_rows) == 1


def test_scd2_apply(spark):
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    current = spark.createDataFrame(
        [(1, "v1", t0, None), (2, "w1", t0, None)],
        "k long, attr string, valid_from timestamp, valid_to timestamp",
    )
    changes = spark.createDataFrame(
        [(1, "v2", t1)], "k long, attr string, change_ts timestamp"
    )
    out = scd2_apply(current, changes, key="k")
    rows = sorted(
        [(r.k, r.attr, r.valid_from, r.valid_to) for r in out.collect()]
    )
    assert rows == [
        (1, "v1", t0, t1),      # closed at change ts
        (1, "v2", t1, None),    # new current row
        (2, "w1", t0, None),    # untouched key passes through
    ]
    # open-row uniqueness invariant
    open_counts = (
        out.where(F.col("valid_to").isNull()).groupBy("k").count().collect()
    )
    assert all(r["count"] == 1 for r in open_counts)


def test_pagerank_dangling_mass_conserved(spark):
    from smartpy_arc_spark.operators.components import pagerank

    # a -> b -> c, c dangling: without redistribution mass leaks each round
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    pr = {r.node: r.rank for r in pagerank(edges, iterations=10).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    # sink of the chain accumulates the most rank
    assert pr["c"] > pr["b"] > 0
    assert set(pr) == {"a", "b", "c"}


def test_pagerank_symmetric_star(spark):
    from smartpy_arc_spark.operators.components import pagerank

    # undirected star: hub h <-> 4 leaves; hub must dominate, leaves equal
    pairs = [("h", f"l{i}") for i in range(4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src string, dst string"
    )
    pr = {r.node: r.rank for r in pagerank(edges, iterations=8).collect()}
    leaves = [v for k, v in pr.items() if k != "h"]
    assert pr["h"] > max(leaves)
    assert max(leaves) - min(leaves) < 1e-12
    assert abs(sum(pr.values()) - 1.0) < 1e-9


def test_louvain_recovers_cliques(spark):
    """Two 5-cliques joined by a single bridge edge: Louvain assigns each
    clique one community, and its partition's modularity beats both the
    singleton and the one-community partitions."""
    from smartpy_arc_spark.operators.components import (
        louvain_communities,
        modularity,
    )

    edges = []
    for base in (0, 10):
        edges += [(base + i, base + j) for i in range(5) for j in range(i + 1, 5)]
    edges.append((0, 10))  # bridge
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.community for r in louvain_communities(e).collect()}
    c_a = {got[i] for i in range(5)}
    c_b = {got[10 + i] for i in range(5)}
    assert len(c_a) == 1 and len(c_b) == 1 and c_a != c_b

    def q_of(assign_rows):
        a = spark.createDataFrame(assign_rows, "node long, community long")
        return sum(
            r.contribution_e9 for r in modularity(e, a).collect()
        )

    q_louvain = q_of([(n, c) for n, c in got.items()])
    q_single = q_of([(n, n) for n in got])
    q_one = q_of([(n, 0) for n in got])
    assert q_louvain > q_single and q_louvain > q_one
    # determinism: a second run is identical
    again = {r.node: r.community
             for r in louvain_communities(e).collect()}
    assert again == got


def test_modularity_exact_values(spark):
    """Hand-computable case: two disjoint triangles.  m=6, each community
    has L=3, D=6 → contribution = (3·24 − 36)/144 = 0.25 per community."""
    from smartpy_arc_spark.operators.components import modularity

    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = spark.createDataFrame(
        [(n, n // 10) for n in (0, 1, 2, 10, 11, 12)], "node long, community long"
    )
    rows = {r.community: r for r in modularity(e, a).collect()}
    for c in (0, 1):
        assert rows[c].internal_edges == 3 and rows[c].total_degree == 6
        assert rows[c].contribution_e9 == 250_000_000


def test_louvain_multilevel_selfw_coarsen(spark):
    """ADVICE r10: a nested clique-of-cliques that coarsens through >=2
    levels, exercising the coarsen branch where the prior level's selfw
    rides as self-loop edges (the r10 single-grouped-pass rewrite).
    Assignments and modularity are pinned to the pre-rewrite values so
    any future sweep/coarsen refactor that changes semantics fails here
    instead of only in the sf0.1 contract run."""
    from smartpy_arc_spark.operators.components import (
        louvain_communities,
        modularity,
    )

    edges = []
    for sg in (0, 100):
        cl = [[sg + 10 * c + i for i in range(5)] for c in range(3)]
        for c in cl:
            edges += [
                (a, b) for i, a in enumerate(c) for b in c[i + 1:]
            ]
        # 8 inter-clique edges per clique pair: strong enough that the
        # supergroup merge is profitable at the SUPERNODE level (level 1)
        # but not at the node level (level 0)
        for i in range(3):
            for j in range(i + 1, 3):
                for t in range(8):
                    edges.append((cl[i][t % 5], cl[j][(t * 2) % 5]))
    edges.append((0, 100))  # bridge between supergroups
    e = spark.createDataFrame(edges, "src long, dst long")

    trace = []
    got = {
        r.node: r.community
        for r in louvain_communities(e, _level_trace=trace).collect()
    }
    # three coarsens; the 2nd and 3rd fold prior selfw through the union
    assert [t["selfw_riding"] for t in trace] == [False, True, True]

    # pinned pre-rewrite partition (deterministic parity sweeps; the two
    # supergroups coarsen-merge, each leaving one supernode behind — a
    # synchronous-sweep artifact, pinned as-is)
    parts = {}
    for n, c in got.items():
        parts.setdefault(c, set()).add(n)
    expected = {
        frozenset({0, 1, 2, 3, 4, 10, 11, 12, 13, 14, 21, 22, 23, 24}),
        frozenset({20}),
        frozenset(
            {100, 101, 102, 103, 104, 110, 111, 112, 113, 114,
             121, 122, 123, 124}
        ),
        frozenset({120}),
    }
    assert {frozenset(v) for v in parts.values()} == expected

    a = spark.createDataFrame(list(got.items()), "node long, community long")
    q = sum(r.contribution_e9 for r in modularity(e, a).collect())
    assert q == 418729622

    # determinism: a second run is bit-identical
    again = {
        r.node: r.community for r in louvain_communities(e).collect()
    }
    assert again == got
