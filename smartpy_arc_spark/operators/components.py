"""Connected components over a pair graph — dedup cluster assignment.

The last stage of a near-dup pipeline: candidate pairs (from MinHash-LSH /
SimHash banding) form a graph; each connected component is one duplicate
cluster, and the keeper is the minimum id in the component.

Algorithm: iterative minimum-label propagation (a DataFrame-only variant of
hash-to-min).  Each round every node adopts the smallest label among itself
and its neighbors; rounds double the reach of small labels, so convergence
takes O(log(diameter)) iterations — duplicate clusters are near-cliques
with tiny diameters, so 3-5 rounds in practice.  Each round is one
shuffle-join keyed by node id; ``localCheckpoint`` truncates the growing
lineage so round N doesn't replay rounds 1..N-1.

This is the designated "iterative algorithm" surface of the engine: no
driver-side graph, no collect — state lives in a (node, label) DataFrame
at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smartpy_arc_spark.operators._ckpt import sized_local_checkpoint


def connected_components(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
    dedup_edges: bool = True,
) -> DataFrame:
    """Label each node with the minimum node id reachable from it.

    Input: undirected edges (one row per pair, either orientation).
    Output: (node, component) — component = min id in the node's component.

    ``dedup_edges=False`` skips the symmetrize+distinct checkpoint job:
    the min-label aggregate is idempotent to duplicate edges and to
    duplicate orientations, so a caller whose pairs are ALREADY
    materialized (a checkpointed frame, a cached table) can re-evaluate
    the map-side symmetrization per round instead of paying a shuffle
    job to dedup it.  Leave True — the default — when pairs come from an
    expensive pipeline, whose full lineage would otherwise re-execute
    once per join per round.  (Equivalence of the two modes is
    unit-pinned in tests/test_components_merge.py.)
    """
    edges = pairs.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).union(pairs.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
    if dedup_edges:
        edges = sized_local_checkpoint(
            edges.distinct()
            # materialize once: every iteration joins against edges, and
            # without this the full upstream pair pipeline (e.g. shingle
            # explode + self-join) would re-execute twice per round
        )
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    comp_type = dict(labels.dtypes)["component"]
    for _ in range(max_iterations):
        # candidate labels: own label + each neighbor's current label.
        # The previous label rides the SAME aggregate as a second min
        # (non-null only on the own-label arm, and every node has one),
        # so the convergence flag below needs no third join against
        # labels — one fewer exchange sub-job per round (r8)
        neighbor_labels = (
            edges.join(labels, edges["d"] == labels["node"])
            .select(
                F.col("s").alias("node"),
                F.col("component"),
                F.lit(None).cast(comp_type).alias("_old"),
            )
        )
        merged = (
            labels.select(
                "node", "component", F.col("component").alias("_old")
            )
            .unionByName(neighbor_labels)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("_old").alias("_old"),
            )
        )
        # pointer jumping: resolve label(label(node)) so chains collapse in
        # O(log diameter) rounds instead of O(diameter) one-hop spreading
        as_parent = merged.select(
            F.col("node").alias("component"), F.col("component").alias("_root")
        )
        new_labels = (
            merged.join(as_parent, on="component", how="left")
            .select(
                "node",
                F.coalesce(F.col("_root"), F.col("component")).alias("component"),
                # fold the convergence probe INTO the round's one
                # checkpoint action (r7, the MST trick): the probe below
                # is a filter+limit over already-materialized data
                (
                    F.coalesce(F.col("_root"), F.col("component"))
                    != F.col("_old")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        # converged when no node's label shrank this round; the FULL
        # count is the lazy checkpoint's materializing job (r11) — one
        # job per round instead of checkpoint + probe
        changed = new_labels.where("_changed").count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    return labels


def dedup_clusters(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Duplicate clusters from candidate pairs: (node, component, is_keeper).
    The keeper (minimum id) survives; everything else in the component is
    dropped by the downstream filter."""
    comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    return comp.withColumn("is_keeper", F.col("node") == F.col("component"))


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    portable_sum: bool = False,
    assume_distinct: bool = False,
) -> DataFrame:
    """Distributed PageRank over an edge DataFrame: (node, rank).

    ``assume_distinct=True`` skips the defensive edge-dedup shuffle for
    callers whose edge pipeline already ends in ``distinct()`` (most
    graph builders do) — at web scale that is a full extra shuffle of
    the edge set for nothing.

    Standard power iteration with dangling-mass redistribution:

        r'(v) = (1-d)/N + d * ( sum_{u->v} r(u)/deg(u) + dangling/N )

    Everything stays distributed: ranks and degrees are DataFrames keyed by
    node, each round is one shuffle (the contribution groupBy) plus a 1-row
    broadcast of the dangling-mass scalar; ``localCheckpoint`` truncates the
    per-round lineage exactly like ``connected_components``.  The only
    driver-side values are N (one count) — never the node set itself.

    Deterministic given the edge set: no sampling, no init randomness
    (uniform 1/N start), so a fixed-iteration run is oracle-comparable
    against the same power iteration unrolled in SQL.

    ``portable_sum=True`` makes the per-node contribution sum (and the
    dangling-mass sum) BIT-deterministic across engines: contributions
    are collected per node, sorted, and folded sequentially
    (``aggregate(array_sort(collect_list(c)), 0.0, +)``), which DuckDB
    mirrors exactly with ``list_reduce(list_sort(list(c)))`` — the
    "sequential folds are portable" contract.  The default ``F.sum``
    is partition-order nondeterministic in the last ulp (fine for
    ranking, not for an exact e9-rounded value compare).  The portable
    path materializes each node's in-contribution list, so per-node
    memory is bounded by max in-degree — use it for oracle-compared
    fixed-iteration runs (vocabulary-sized graphs), keep the default
    for hub-heavy web-scale graphs.
    """
    # checkpoint the distinct edge set FIRST: nodes, degrees, and the
    # degree-attached edges all derive from it, and the per-round
    # dangling anti-join reads it too — without this, every consumer
    # re-ran the caller's full upstream edge pipeline (r7: this was the
    # dominant cost of pagerank_influence, not the iteration itself)
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    if not assume_distinct:
        e = e.distinct()
    # attach out-degree with ONE shuffle (count over a src-partitioned
    # window) instead of groupBy + join (two), and checkpoint the result:
    # nodes, every round's rank-attach join, and the dangling anti-join
    # all read this single materialization instead of re-running the
    # caller's upstream edge pipeline (r7: that recompute — ~5× per
    # call — was the dominant cost of pagerank_influence)
    e_deg = sized_local_checkpoint(
        e.withColumn("deg", F.count("*").over(W.partitionBy("s")))
    )
    # the dangling flag rides the node table (r8): danglingness is
    # round-invariant, so ONE setup join against the distinct out-node
    # set (|out-nodes| build side, the r7 scaling-probe fix) replaces the
    # per-round anti-join — each round's dangling mass is then a filter +
    # aggregate over the already-materialized ranks, no join job at all
    out_nodes = e_deg.select(F.col("s").alias("node")).distinct()
    nodes = (
        e_deg.select(F.col("s").alias("node"))
        .union(e_deg.select(F.col("d").alias("node")))
        .distinct()
        .join(out_nodes.withColumn("_out", F.lit(1)), "node", "left")
        .select("node", F.col("_out").isNull().alias("is_dangling"))
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node").withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))

    if portable_sum:
        ordered_sum = lambda c: F.aggregate(  # noqa: E731
            F.array_sort(F.collect_list(c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    else:
        ordered_sum = F.sum

    for _ in range(iterations):
        contribs = (
            e_deg.join(ranks, e_deg["s"] == ranks["node"])
            .select(
                F.col("d").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(ordered_sum("c").alias("c"))
        )
        # rank mass sitting on nodes with no out-edges is redistributed
        # uniformly (sum over an empty filter is null -> 0)
        dangling = ranks.where("is_dangling").agg(
            F.coalesce(ordered_sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "is_dangling",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank")


def triangle_count(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle count over an undirected graph.

    Standard distributed algorithm (the node-iterator+ordering variant
    every MPP engine uses): canonicalize each undirected edge to
    (lo, hi), drop self-loops and duplicates, then count paths
    lo->mid->hi that close with a (lo, hi) edge.  Ordering every edge
    low-to-high means each triangle is counted exactly once and the
    join fan-out is bounded by high-degree vertices' FORWARD degree
    only — the classic mitigation that keeps hub vertices from
    exploding the path join.

    Two shuffled equi-joins on vertex ids; no windows, no iteration.
    Returns a 1-row DataFrame ``(n_triangles)``.
    """
    # e feeds the two path-join sides AND the closing semi-join — without
    # a checkpoint the caller's edge pipeline executes 3× (r11, §2.4)
    e = sized_local_checkpoint(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .where(F.col("lo") < F.col("hi"))
        .distinct()
    )
    e1 = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    paths = e1.join(e2, "b").select("a", "b", "c")
    closed = paths.join(
        e.select(F.col("lo").alias("a"), F.col("hi").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))


def k_core(
    edges: DataFrame,
    *,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every vertex keeps degree >= k.  Standard iterative peel: drop
    vertices below degree k, recompute degrees on the induced subgraph,
    repeat to fixpoint.

    Each round is one degree aggregate + one semi-join — all hash
    shuffles on vertex ids, no driver-side graph; ``localCheckpoint``
    per round truncates the growing lineage exactly like the
    pointer-jumping loop in :func:`connected_components`.  Rounds are
    data-dependent but bounded by ``max_iter`` (each round removes at
    least one vertex or terminates).

    Returns the surviving vertices with their core degree
    ``(vertex, degree)``.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_before = e.count()  # materializes the lazy checkpoint (r11)
    for _ in range(max_iter):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("v")
        # checkpoint BEFORE counting (r8): the count then reads the
        # materialized rows instead of executing the prune plan a second
        # time, and each round's edge count carries into the next round's
        # n_before instead of recounting
        pruned = (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n_after = pruned.count()  # one job: materialize + count (r11)
        e = pruned
        if n_after == n_before:
            break
        n_before = n_after
    return (
        e.select(F.col("a").alias("vertex"))
        .unionAll(e.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").cast("long").alias("degree"))
    )


def bfs_distances(
    edges: DataFrame,
    sources: list[int],
    *,
    max_hops: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any of ``sources`` to
    every reachable node, bounded by ``max_hops``.

    Iterative frontier expansion — the standard distributed BFS: each
    round joins the current frontier to the edge list, anti-joins
    against the visited set (so every node is settled exactly once, at
    its minimum distance — BFS invariant), and unions into the visited
    set.  Rounds = graph diameter (≤ ``max_hops``), each round one
    shuffle join keyed by node id; ``localCheckpoint`` truncates the
    growing lineage exactly like ``connected_components``.  The loop
    exits early when a frontier comes back empty — the count that
    detects this is the same action that materializes the checkpoint,
    so the convergence probe costs no extra job.

    Returns ``(node, dist)`` with ``dist`` 0 for the sources themselves.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = sized_local_checkpoint(e.distinct())

    spark = edges.sparkSession
    visited = spark.createDataFrame(
        [(int(s), 0) for s in sources], "node long, dist long"
    ).localCheckpoint(eager=True)
    frontier = visited

    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
            .localCheckpoint(eager=False)
        )
        # full count, not isEmpty(): the limit(1) probe would
        # materialize the lazy checkpoint only partially (r11)
        if nxt.count() == 0:
            break
        visited = visited.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def shortest_paths(
    edges: DataFrame,
    sources: list[int],
    *,
    weight_col: str = "w",
    max_dist: int = 1_000_000,
    max_iters: int = 20,
    directed: bool = False,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths: distributed
    Bellman-Ford relaxation.

    Each round joins the current distance table to the edge list and
    keeps the per-node minimum of (old distance, best relaxed distance)
    — the classic frontier-free SSSP that converges in at most
    |longest shortest path in hops| rounds (bounded by ``max_iters``;
    non-negative integer weights assumed).  ``max_dist`` prunes
    candidate paths early, which is what keeps relaxation from chasing
    cycles.  The improvement count that drives the convergence exit is
    the same action that materializes each round's ``localCheckpoint``,
    so convergence detection costs no extra job — the
    ``connected_components`` / ``bfs_distances`` pattern with weights.

    Returns ``(node, dist)``; sources have dist 0.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    )
    if not directed:
        e = e.union(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    # parallel edges: only the lightest can ever matter
    e = sized_local_checkpoint(
        e.groupBy("src", "dst").agg(F.min("w").alias("w"))
    )

    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(s), 0) for s in sources], "node long, dist long"
    ).localCheckpoint(eager=True)

    # the null arm of _old must match dist's type exactly (today long;
    # derived, not hard-coded, so a future widening to double weights
    # keeps the unionAll arms aligned — ADVICE r8)
    dist_type = dict(dist.dtypes)["dist"]
    for _ in range(max_iters):
        relaxed = (
            dist.join(e, dist["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .where(F.col("dist") <= max_dist)
            .withColumn("_old", F.lit(None).cast(dist_type))
        )
        # the previous distance rides the same min-aggregate as _old
        # (non-null only on the own-distance arm, one per settled node),
        # so the improvement probe below is a filter + limit over the
        # just-materialized checkpoint — not its own two-join job per
        # round (r8, the connected_components pattern)
        new_dist = (
            dist.select("node", "dist", F.col("dist").alias("_old"))
            .unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"), F.min("_old").alias("_old"))
            .withColumn(
                "_chg",
                F.col("_old").isNull() | (F.col("dist") < F.col("_old")),
            )
            .localCheckpoint(eager=False)
        )
        # full-count probe doubles as the materializing job (r11)
        improved = new_dist.where("_chg").count() > 0
        dist = new_dist.drop("_old", "_chg")
        if not improved:
            break
    return dist


def label_propagation(
    pairs: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with deterministic tie-breaking.

    Every node starts with its own id as label; each round, every node
    adopts the most frequent label among its neighbors plus one
    self-vote (ties → smallest label; the self-vote keeps symmetric
    pairs from swapping labels forever).  Updates are SYNCHRONOUS over
    a ``(node, label)`` DataFrame — one shuffle-join plus one grouped
    mode per round, ``localCheckpoint`` truncating lineage — so the
    result is fully deterministic (async LPA's visit-order sensitivity is
    what makes the usual implementations irreproducible).  Early-exits
    when a round changes no label.

    Returns ``(node, community)`` — community ids are node ids (a label
    that won its neighborhoods), not compacted.
    """
    e0 = pairs.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).where(F.col("s") != F.col("d"))
    edges = sized_local_checkpoint(
        e0.unionByName(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
    )
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # the previous label rides the self-vote arm as _old (every node
        # has exactly one self-vote, so max(_old) through both grouping
        # stages recovers it) — the convergence flag then needs no
        # labels⋈mode join per round, one fewer exchange sub-job (r8)
        neigh = (
            edges.join(labels.withColumnRenamed("node", "d"), "d")
            .select(
                F.col("s").alias("node"),
                "label",
                F.lit(None).cast(dict(labels.dtypes)["label"]).alias("_old"),
            )
            # one self-vote per node: stabilizes symmetric pairs (pure
            # neighbor voting makes a 2-clique swap labels forever)
            .unionByName(labels.withColumn("_old", F.col("label")))
        )
        # per-node mode with smallest-label tie-break: max (count, -label)
        nxt = (
            neigh.groupBy("node", "label")
            .agg(F.count("*").alias("c"), F.max("_old").alias("_old"))
            # the self-vote contributes to c exactly as before (it is one
            # of the counted rows); _old is non-null only on that row
            .groupBy("node")
            .agg(
                F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))
                .alias("top"),
                F.max("_old").alias("_old"),
            )
            .select(
                "node",
                (-F.col("top.nl")).alias("label"),
                (-F.col("top.nl") != F.col("_old")).alias("__chg"),
            )
        )
        nxt = nxt.localCheckpoint(eager=False)
        changed = nxt.where("__chg").count()  # materialize + probe (r11)
        labels = nxt.drop("__chg")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("community"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    assume_distinct: bool = False,
) -> DataFrame:
    """Personalized PageRank: random walks RESTART at the seed set
    instead of uniformly, so rank measures proximity TO the seeds — the
    related-items/recommendation primitive plain PageRank can't give.

        r'(v) = (1-d)·p(v) + d·( Σ_{u→v} r(u)/deg(u) + dangling·p(v) )

    with ``p`` uniform over the seeds and 0 elsewhere.  Identical
    distributed shape to ``pagerank`` (one contribution shuffle + a
    1-row dangling broadcast per round, checkpointed lineage); the seed
    preference rides in as a broadcast-able literal flag.  Deterministic
    for a fixed iteration count.
    """
    # same checkpoint discipline as pagerank (r7): one-shuffle degree
    # attach (src-partitioned window), one materialization that nodes,
    # the per-round rank join, and the dangling anti-join all read —
    # instead of re-running the caller's upstream edge pipeline
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    if not assume_distinct:
        e = e.distinct()
    e_deg = sized_local_checkpoint(
        e.withColumn("deg", F.count("*").over(W.partitionBy("s")))
    )
    # dangling flag on the node table (r8, same as pagerank): one setup
    # join against the distinct out-node set replaces the per-round
    # anti-join — dangling mass becomes a filter over materialized ranks
    out_nodes = e_deg.select(F.col("s").alias("node")).distinct()
    nodes = (
        e_deg.select(F.col("s").alias("node"))
        .union(e_deg.select(F.col("d").alias("node")))
        .distinct()
        .join(out_nodes.withColumn("_out", F.lit(1)), "node", "left")
        .select("node", F.col("_out").isNull().alias("is_dangling"))
        .localCheckpoint(eager=True)
    )
    n_seeds = len(seeds)
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs at least one seed")
    is_seed = F.col("node").isin(list(seeds))
    pref = F.when(is_seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    ranks = nodes.withColumn("rank", pref)

    for _ in range(iterations):
        contribs = (
            e_deg.join(ranks, e_deg["s"] == ranks["node"])
            .select(
                F.col("d").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        dangling = ranks.where("is_dangling").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "is_dangling",
                (
                    F.lit(1.0 - damping) * pref
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dm") * pref
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank")


def hits(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    DataFrame: authorities are pointed AT by good hubs, hubs point TO
    good authorities — the bipartite-influence companion to PageRank.

        a'(v) = Σ_{u→v} h(u);  h'(u) = Σ_{u→v} a'(v)

    each round, both renormalized by their own sums (L1 — a 1-row
    broadcast scalar, avoiding PageRank's per-degree division).  Two
    shuffled joins per round over the same node-keyed partitioning,
    checkpointed lineage; uniform init, fixed iterations →
    deterministic, so the oracle is the iteration unrolled in SQL.

    Returns ``(node, hub, authority)`` rounded to 6.
    """
    e = sized_local_checkpoint(edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).distinct())
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("hub", F.lit(0.0)).withColumn(
            "authority", F.lit(0.0)
        )
    hub = nodes.select("node", F.lit(1.0 / n_nodes).alias("hub"))
    auth = None
    for _ in range(iterations):
        # each stage is materialized once (r7 checkpoint discipline, as
        # pagerank): the norm scalar, the normalize step, and the next
        # half-round all READ the node-sized checkpoint instead of
        # re-expanding the edge-join subtree inside one action.
        # Zero-score nodes stay OUT of the half-round tables (r8): every
        # edge endpoint the next join needs is covered by construction
        # (e.d is always an in-edge target; e.s always has an out-edge),
        # and the dropped rows contributed exact 0.0 terms to the sums —
        # so values are bit-identical while each half-round loses its
        # node-table left join; zeros rejoin once at the end.
        auth_raw = (
            e.join(hub.select(F.col("node").alias("s"), "hub"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("hub").alias("a_raw"))
            .localCheckpoint(eager=True)
        )
        a_norm = auth_raw.agg(F.sum("a_raw").alias("za"))
        auth = (
            auth_raw.crossJoin(F.broadcast(a_norm))
            .select(
                "node", (F.col("a_raw") / F.col("za")).alias("authority")
            )
            .localCheckpoint(eager=True)
        )
        hub_raw = (
            e.join(
                auth.select(F.col("node").alias("d"), "authority"), "d"
            )
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("authority").alias("h_raw"))
            .localCheckpoint(eager=True)
        )
        h_norm = hub_raw.agg(F.sum("h_raw").alias("zh"))
        hub = (
            hub_raw.crossJoin(F.broadcast(h_norm))
            .select("node", (F.col("h_raw") / F.col("zh")).alias("hub"))
            .localCheckpoint(eager=True)
        )
    if auth is None:  # iterations == 0: uniform init for both scores
        auth = nodes.select(
            "node", F.lit(1.0 / n_nodes).alias("authority")
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.round(F.coalesce("hub", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("authority", F.lit(0.0)), 6).alias(
                "authority"
            ),
        )
    )


# ---------------------------------------------------------------------------
# community quality + Louvain


def modularity(
    pairs: DataFrame,
    assignment: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a given partition, per community, in exact
    integer arithmetic.

    ``Q = Σ_c [ L_c/m − (D_c/2m)² ]`` over communities c, with ``L_c`` =
    edges inside c, ``D_c`` = total degree of c's nodes, ``m`` = edge
    count.  Each community's contribution is computed as the integer
    ``L_c·4m − D_c²`` over the common denominator ``4m²`` — one exact
    division per community, no float accumulation, so the result is
    bit-identical on any engine and any partitioning (the quality gate
    for Louvain/label-propagation outputs).

    Plan: one distinct-edge pass, one degree aggregate, two broadcast-able
    joins against the (small) assignment, one groupBy(community).
    Returns ``(community, n_nodes, internal_edges, total_degree,
    contribution_e9)``; ``Q×10⁹ = Σ contribution_e9`` up to per-community
    rounding.
    """
    e0 = pairs.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).where(F.col("s") != F.col("d"))
    edges = sized_local_checkpoint(
        e0.select(
            F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
        )
        .distinct()
    )
    asg = assignment.select(
        F.col(node_col).alias("n"), F.col(community_col).alias("c")
    )
    m = edges.count()
    deg = (
        edges.select(F.col("s").alias("n"))
        .unionAll(edges.select(F.col("d").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("k"))
    )
    per_comm_deg = (
        deg.join(asg, "n")
        .groupBy("c")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("k").cast("long").alias("total_degree"),
        )
    )
    internal = (
        edges.join(asg.select(F.col("n").alias("s"), F.col("c").alias("ca")), "s")
        .join(asg.select(F.col("n").alias("d"), F.col("c").alias("cb")), "d")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count("*").cast("long").alias("internal_edges"))
    )
    li = F.coalesce(F.col("internal_edges"), F.lit(0))
    return per_comm_deg.join(internal, "c", "left").select(
        F.col("c").alias("community"),
        "n_nodes",
        li.cast("long").alias("internal_edges"),
        "total_degree",
        F.round(
            (li * F.lit(4 * m) - F.col("total_degree") * F.col("total_degree"))
            .cast("double")
            / F.lit(float(4 * m * m))
            * 1e9
        ).cast("long").alias("contribution_e9"),
    )


def louvain_communities(
    pairs: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    max_levels: int = 3,
    max_sweeps: int = 4,
    _level_trace: list | None = None,
) -> DataFrame:
    """Deterministic distributed Louvain (Blondel et al. 2008, J. Stat.
    Mech. P10008) — synchronous parallel local moves + graph coarsening.

    Classic Louvain is a sequential node-visit algorithm; the distributed
    form here replaces the visit order with SYNCHRONOUS sweeps: every
    node evaluates the standard modularity gain
    ``ΔQ ∝ k_{i→c} − k_i·Σ_tot(c\\i)/2m`` against all neighboring
    communities at once and the best move is applied to all nodes of one
    id-parity per sweep (alternating parity prevents the two-node swap
    oscillation synchronous updates are prone to; ties break to the
    smallest community id, so the run is fully reproducible).  After
    ``max_sweeps`` sweeps a level coarsens: communities collapse to
    supernodes with summed edge weights and self-loops carrying internal
    weight, and the next level repeats on the (much smaller) graph.

    Everything is joins + grouped aggregates keyed by node or community —
    no driver-side graph; ``localCheckpoint`` truncates lineage per sweep.
    Returns ``(node, community)`` for the ORIGINAL nodes; community ids
    are (coarsened) node ids.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e0 = pairs.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d"), w.alias("w")
    ).where(F.col("s") != F.col("d"))
    # undirected, both directions, parallel edges collapsed by weight-sum.
    # (r12 measured negative: re-keying this exchange to hash(s) so deg
    # and k_to free-ride is defeated by localCheckpoint — the PySpark
    # checkpoint scan comes back as an ExistingRDD with UNKNOWN
    # partitioning, so every downstream aggregate re-exchanges anyway;
    # plan-verified, keep the natural (s, d) keying.)
    edges = sized_local_checkpoint(
        e0.unionByName(
            e0.select(F.col("d").alias("s"), F.col("s").alias("d"), "w")
        )
        .groupBy("s", "d")
        .agg(F.sum("w").alias("w"))
    )
    # node -> final community, threaded through levels.  Kept LAZY: every
    # level's canonicalized assign is checkpointed, so the final mapping is
    # a ≤max_levels-deep join chain over materialized inputs, executed once
    # at the caller's action instead of eagerly re-materialized per level.
    mapping = edges.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    selfw = None  # (node, sw): collapsed internal weight (2×internal edges)

    for _level in range(max_levels):
        deg = edges.groupBy("s").agg(F.sum("w").alias("k"))
        if selfw is not None:
            deg = (
                deg.join(selfw.withColumnRenamed("node", "s"), "s", "outer")
                .select(
                    "s",
                    (
                        F.coalesce("k", F.lit(0.0))
                        + F.coalesce("sw", F.lit(0.0))
                    ).alias("k"),
                )
            )
        # loop-invariant per level but consumed every sweep — without
        # this checkpoint every sweep re-ran the degree aggregate (r7).
        # LAZY (r12): the 2m scalar read right below is the
        # materializing job (the graph-loop probe pattern) — one job
        # per level instead of checkpoint-then-aggregate
        deg = deg.localCheckpoint(eager=False)
        # 2m = Σ_i k_i exactly (the symmetrized edge list counts every
        # edge twice and selfw carries internal weight), so the scalar
        # rides a cheap scan of the just-materialized deg instead of its
        # own union-of-aggregates action over edges+selfw (r8)
        two_m = deg.agg(F.sum("k")).first()[0] or 0.0
        if two_m == 0:
            break
        # assign CARRIES the node degree k (r8): the sweep formerly joined
        # assign⋈deg twice per sweep (for `tot` and `cur`); under AQE every
        # such join is its own broadcast-materialization sub-job, and on a
        # latency-bound scheduler (busy cluster, or the measured 110–430 ms
        # local dispatch regimes) exchange count is what the wall clock
        # pays.  Trivial projection of the just-checkpointed deg — no
        # checkpoint job of its own.
        assign = deg.select(
            F.col("s").alias("node"), F.col("s").alias("comm"), "k"
        )
        moved_any = False
        for sweep in range(max_sweeps):
            tot = assign.groupBy("comm").agg(F.sum("k").alias("tot"))
            cur = assign
            # ONE broadcast of the whole (node, comm, k) assignment
            # serves BOTH per-sweep probes (r12): the d-side community
            # lookup inside k_to and the node-side (k, comm) attach in
            # scored formerly broadcast two *different projections* of
            # the same frame — identical children and the identical join
            # key (node) let ReuseExchange ship one broadcast per sweep
            # instead of two
            a = F.broadcast(cur)
            # k_{i -> c}: weight from node i into community c
            k_to = (
                edges.join(a, edges["d"] == a["node"])
                .groupBy(
                    F.col("s").alias("node"), F.col("comm").alias("cand")
                )
                .agg(F.sum("w").alias("k_in"))
            )
            # candidate set = neighbor communities ∪ the current community.
            # NOT deduped (r8): when cand == comm appears in both arms the
            # self row scores with k_in = 0, and gain is strictly
            # increasing in k_in with everything else fixed per (node,
            # cand) — so the argmax in nxt picks the true-k_in row and the
            # old per-sweep (node, cand) max-k_in shuffle was an identity
            cands = k_to.unionByName(
                cur.select(
                    "node", F.col("comm").alias("cand"),
                    F.lit(0.0).alias("k_in"),
                )
            )
            scored = (
                cands.join(a, "node")
                .join(tot.withColumnRenamed("comm", "cand"), "cand")
                .select(
                    "node",
                    "k",
                    "cand",
                    "comm",
                    (
                        F.col("k_in")
                        - F.col("k")
                        * (
                            F.col("tot")
                            - F.when(
                                F.col("cand") == F.col("comm"), F.col("k")
                            ).otherwise(F.lit(0.0))
                        )
                        / F.lit(two_m)
                    ).alias("gain"),
                )
            )
            # argmax + parity-gated move in ONE grouped aggregate (r8):
            # every node carries a self candidate in `cands`, so the old
            # best⋈assign left join (another per-sweep exchange sub-job)
            # is exactly this groupBy — `best` is never null
            nxt = (
                scored.groupBy("node", "k", "comm")
                .agg(
                    F.max(
                        F.struct(F.col("gain"), (-F.col("cand")).alias("nc"))
                    ).alias("top")
                )
                .select(
                    "node",
                    "k",
                    F.when(
                        F.col("node") % 2 == F.lit(sweep % 2),
                        -F.col("top.nc"),
                    )
                    .otherwise(F.col("comm"))
                    .alias("comm"),
                    (-F.col("top.nc") != F.col("comm")).alias("__chg"),
                )
            )
            # materialize at ODD sweeps only (r11 job cut): the even
            # sweep's nxt has multiple consumers inside the odd sweep's
            # single query (tot, k_to, cands, scored), but they all hang
            # off the same final-aggregate exchange, which AQE's
            # exchange reuse materializes once — so the even checkpoint
            # job bought nothing.  Odd checkpoints still truncate
            # lineage once per parity pair, and they are LAZY: the
            # convergence probe below is a full count, which doubles as
            # the checkpoint's materializing job (one job, not two).
            if sweep % 2 == 1:
                nxt = nxt.localCheckpoint(eager=False)
            assign = nxt.drop("__chg")
            # convergence probe only after ODD sweeps (r11 job cut): the
            # even-sweep count fed nothing but moved_any, and an
            # even-parity move is still detected — either its odd-sweep
            # revert counts here, or it sticks and the final
            # non-identity probe below sees it.  One count job per
            # parity PAIR instead of per sweep.
            if sweep % 2 == 1:
                changed = nxt.where(
                    F.col("__chg") & (F.col("node") % 2 == F.lit(sweep % 2))
                ).count()
                if changed:
                    moved_any = True
                else:
                    break  # odd parity converged; evens checked below
        if not moved_any:
            # comm ids are member node ids, so "some node ever kept a
            # move" ⟺ the final assignment is non-identity
            moved_any = bool(
                assign.where(F.col("node") != F.col("comm")).limit(1).count()
            )
        # canonical community id: smallest member node id — one
        # comm-partitioned window (a single exchange) instead of the
        # former groupBy + join, which paid an aggregate exchange plus
        # a join materialization per level (r10 job-count cut).  LAZY
        # (r12): the next consumer — the coarsened-edge checkpoint of
        # the following level, or the caller's final action — is the
        # materializing job; later consumers read the persisted rows
        assign = assign.select(
            "node",
            F.min("node").over(W.partitionBy("comm")).alias("comm"),
        ).localCheckpoint(eager=False)
        mapping = (
            mapping.join(
                assign.withColumnRenamed("node", "community"), "community"
            )
            .select("node", F.col("comm").alias("community"))
        )
        if not moved_any:
            break
        if _level_trace is not None:
            # test hook (ADVICE r10): records which coarsening path each
            # level takes — `selfw_riding` True means this coarsen folds
            # the prior level's self-loop weights through the union branch
            _level_trace.append(
                {"level": _level, "selfw_riding": selfw is not None}
            )
        # coarsen: communities -> supernodes in ONE grouped pass (r10):
        # prior-level selfw rides in as self-loop edges, so the
        # intra-community weight (cs == cd, absorbing old selfw via its
        # own cs == cd rows) and the coarse edge list (cs != cd) both
        # fall out of a single edges⋈assign⋈assign + aggregate — the
        # former shape evaluated that double join TWICE (once per
        # output) plus a third join for the old-selfw merge.  Values
        # identical: grouping (cs, cd) then filtering is the same
        # partition of the same terms.
        ein = edges if selfw is None else edges.unionByName(
            selfw.select(
                F.col("node").alias("s"),
                F.col("node").alias("d"),
                F.col("sw").alias("w"),
            )
        )
        grouped = (
            ein.join(
                assign.select(F.col("node").alias("s"), F.col("comm").alias("cs")),
                "s",
            )
            .join(
                assign.select(F.col("node").alias("d"), F.col("comm").alias("cd")),
                "d",
            )
            .groupBy("cs", "cd")
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        selfw = grouped.where(F.col("cs") == F.col("cd")).select(
            F.col("cs").alias("node"), F.col("w").alias("sw")
        )
        edges = grouped.where(F.col("cs") != F.col("cd")).select(
            F.col("cs").alias("s"), F.col("cd").alias("d"), "w"
        )
    return mapping.select("node", "community")


def link_predict(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    top_k: int = 100,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: score
    every NON-adjacent pair (u, v) that shares at least one neighbor.

    Emits per candidate pair:

    - ``cn`` — common-neighbor count (exact integer),
    - ``jaccard_e6`` — ``round(cn·1e6 / (deg(u)+deg(v)−cn))``; one
      integer-operand division, portable across engines,
    - ``ra_e6`` — resource-allocation index as an ORDER-INDEPENDENT
      integer sum ``Σ_z round(1e6 / deg(z))`` over shared neighbors z.
      Chosen over Adamic-Adar's ``Σ 1/ln(deg)`` precisely because
      pre-rounded integer contributions sum exactly in any order —
      a float Σ 1/ln(·) is summation-order-dependent at the ulp level
      across engines/partitionings.

    Plan: one shuffle to build the (node → neighbor) adjacency, one
    self-join keyed by the shared neighbor z (pair fan-out is
    Σ_z deg(z)², the standard common-neighbor cost), one (u,v)
    aggregate, one anti-join against existing edges.  On hub-heavy
    graphs pass ``max_neighbor_degree`` to drop intermediates with
    deg(z) above the cap (the same guardrail as the LSH hot-bucket
    cap: a celebrity node contributes deg² pairs but near-zero RA
    weight ``1/deg``, so capping loses almost no signal).
    """
    # Materialize the canonical edge table once (r11, guide §2.4/§5): it
    # feeds the adjacency (twice, via the union), the existing-edge
    # anti-join and — through deg — three more consumers; without the
    # checkpoint every one re-executes the caller's full edge pipeline
    # (the contract query's lineitem self-join appeared 26× in the plan).
    # Both e and adjz are O(E) full-input frames, so the materialization
    # is size-capped (r12, VERDICT r11 item 1): above
    # $SMARTPY_ARC_CKPT_CAP_BYTES they recompute from lineage instead of
    # pinning an edge-sized copy in non-replicated storage.
    e = sized_local_checkpoint(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .where(F.col("lo") < F.col("hi"))
        .distinct()
    )
    adj = e.select(F.col("lo").alias("u"), F.col("hi").alias("z")).unionByName(
        e.select(F.col("hi").alias("u"), F.col("lo").alias("z"))
    )
    # O(V) degree table: read by adjz and both scored-join sides
    deg = adj.groupBy("z").agg(
        F.count("*").cast("long").alias("deg_z")
    ).localCheckpoint(eager=True)
    adjz = adj.join(deg, "z")
    if max_neighbor_degree is not None:
        adjz = adjz.where(F.col("deg_z") <= F.lit(max_neighbor_degree))
    # O(E) rows read by BOTH sides of the shared-neighbor pair join;
    # scale=4: the adjacency doubles the edge rows and carries deg_z
    adjz = sized_local_checkpoint(adjz, scale=4.0)
    a = adjz.select("z", F.col("u").alias("u"), "deg_z")
    b = adjz.select("z", F.col("u").alias("v"))
    pairs = (
        a.join(b, "z")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum(F.round(F.lit(1000000.0) / F.col("deg_z")).cast("long"))
            .cast("long")
            .alias("ra_e6"),
        )
    )
    non_adj = pairs.join(
        e.select(F.col("lo").alias("u"), F.col("hi").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("z").alias("u"), F.col("deg_z").alias("deg_u"))
    dv = deg.select(F.col("z").alias("v"), F.col("deg_z").alias("deg_v"))
    scored = (
        non_adj.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            "deg_u",
            "deg_v",
            F.round(
                F.col("cn").cast("double")
                * 1000000.0
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast("double")
            )
            .cast("long")
            .alias("jaccard_e6"),
            "ra_e6",
        )
    )
    return scored.orderBy(
        F.desc("ra_e6"), F.desc("cn"), F.asc("u"), F.asc("v")
    ).limit(top_k)


def clustering_coefficient(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node: ``2·tri(v) /
    (deg(v)·(deg(v)−1))``, the fraction of a node's neighbor pairs that
    are themselves connected — the classic small-world statistic and a
    per-node companion to :func:`triangle_count`.

    Same low-to-high oriented path join as :func:`triangle_count` (each
    triangle materialized once), then each triangle credits its three
    corners via ``explode``.  Coefficient is emitted as
    ``cc_e6 = round(2·tri·1e6 / (deg·(deg−1)))`` — a single division of
    exact integer operands, portable bit-for-bit.  Nodes with deg < 2
    report 0.  Two shuffled joins + one node-keyed aggregate.
    """
    # e feeds the two path-join sides, the closing semi-join and the
    # degree union (×2) — checkpoint so the caller's edge pipeline runs
    # once instead of 5× (r11, guide §2.4)
    e = sized_local_checkpoint(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .where(F.col("lo") < F.col("hi"))
        .distinct()
    )
    e1 = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    paths = e1.join(e2, "b").select("a", "b", "c")
    tris = paths.join(
        e.select(F.col("lo").alias("a"), F.col("hi").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    per_node = (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
                    * 2000000.0
                    / (F.col("deg") * (F.col("deg") - 1)).cast("double")
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("cc_e6"),
        )
        .orderBy("node")
    )


def minimum_spanning_forest(
    edges: DataFrame,
    *,
    src_col: str = "s",
    dst_col: str = "d",
    weight_col: str = "w",
    max_rounds: int = 20,
) -> DataFrame:
    """Distributed Borůvka minimum spanning forest: each round every
    component selects its lightest outgoing edge, the selected edges
    join the forest, and components merge — component count at least
    halves per round, so ``max_rounds = 20`` covers 10⁶ components.

    Cycle-safety under ties: "lightest" uses the STRICT total order
    ``(w, s, d)`` (a unique minimum per component can never close a
    cycle — the classic Borůvka tie rule), so the output forest is
    deterministic even with duplicate weights.

    Everything is key-partitioned: per-component ``min_by`` aggregates,
    hash joins against the (checkpointed) component labels, and a
    pointer-jumping CC pass over each round's SELECTED edges only (a
    graph with ≤ one edge per component).  No driver-side adjacency.

    Returns the forest edge list ``(s, d, w)``.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("s"),
            F.col(dst_col).cast("long").alias("d"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .where(F.col("s") != F.col("d"))
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
    )
    e = sized_local_checkpoint(e)
    comp = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .withColumn("c", F.col("node"))
        .localCheckpoint(eager=True)
    )
    forest = None
    for _ in range(max_rounds):
        lab = comp
        annotated = (
            e.join(
                lab.select(F.col("node").alias("s"), F.col("c").alias("cs")),
                "s",
            )
            .join(
                lab.select(F.col("node").alias("d"), F.col("c").alias("cd")),
                "d",
            )
            .where(F.col("cs") != F.col("cd"))
        )
        pick = F.struct("w", "s", "d", "cs", "cd")
        incident = annotated.select(
            F.col("cs").alias("comp"), pick.alias("e")
        ).union(annotated.select(F.col("cd").alias("comp"), pick.alias("e")))
        chosen = (
            incident.groupBy("comp")
            .agg(F.min("e").alias("e"))
            .select("comp", "e.w", "e.s", "e.d", "e.cs", "e.cd")
            .localCheckpoint(eager=False)
        )
        # convergence probe IS the materializing action (r11): the LAZY
        # checkpoint materializes on its first job, and a full count
        # computes every partition — so checkpoint + probe collapse from
        # two jobs per round to one.  (A limit(1) probe would materialize
        # the checkpoint only partially — full count is required here.)
        if chosen.count() == 0:
            break
        # an edge picked by both endpoints appears twice here; the final
        # (s, d) groupBy dedups, so no per-round distinct exchange
        sel = chosen.select("s", "d", "w")
        forest = sel if forest is None else forest.union(sel)
        # Borůvka hook + pointer doubling (r8): every comp points at the
        # other endpoint of ITS chosen edge — a functional parent graph
        # whose only cycles are mutual picks of the SAME edge (following
        # strictly-minimum edges around a longer cycle would force all
        # weights equal, impossible under the strict (w, s, d) order) —
        # so rooting each 2-cycle at its smaller id and pointer-doubling
        # converges in log(depth) ONE-JOIN rounds.  Labels are tree
        # roots, not min ids, but labels only ever partition comps
        # (cs != cd and equality classes); the forest is label-invariant,
        # which is why this is cheaper than the general min-label CC it
        # replaces (no union + grouped-min exchange per round).
        par = chosen.select(
            "comp",
            F.when(F.col("cs") == F.col("comp"), F.col("cd"))
            .otherwise(F.col("cs"))
            .alias("p"),
        )
        par = (
            par.join(
                par.select(F.col("comp").alias("p"), F.col("p").alias("gp")),
                "p",
            )
            .select(
                "comp",
                F.when(
                    (F.col("gp") == F.col("comp"))
                    & (F.col("comp") < F.col("p")),
                    F.col("comp"),
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        for _ in range(max_rounds + 20):
            jumped = (
                par.join(
                    par.select(
                        F.col("comp").alias("p"), F.col("p").alias("gp")
                    ),
                    "p",
                )
                .select(
                    "comp",
                    F.col("gp").alias("p"),
                    (F.col("gp") != F.col("p")).alias("_chg"),
                )
                .localCheckpoint(eager=False)
            )
            # full-count probe doubles as the lazy checkpoint's
            # materializing job (r11) — one job per doubling iteration
            # instead of checkpoint + probe
            done = jumped.where("_chg").count() == 0
            par = jumped.drop("_chg")
            if done:
                break
        else:
            # never reachable at defaults (needs parent-chain depth
            # > 2^(max_rounds+20)), but exiting here silently would map
            # comps to non-root parents and split a component across
            # labels — a later round could then re-pick an intra-comp
            # edge and emit a cycle into the forest (ADVICE r8)
            raise RuntimeError(
                "mst: pointer doubling failed to converge in "
                f"{max_rounds + 20} rounds"
            )
        merge_labels = par.select(
            F.col("comp").alias("c"), F.col("p").alias("c_new")
        )
        comp = (
            comp.join(merge_labels, "c", "left")
            .select(
                "node", F.coalesce(F.col("c_new"), F.col("c")).alias("c")
            )
            .localCheckpoint(eager=True)
        )
    if forest is None:
        return e.where(F.lit(False)).select("s", "d", "w")
    return forest.groupBy("s", "d").agg(F.min("w").alias("w"))


def assortativity(
    edges: DataFrame, *, src_col: str = "s", dst_col: str = "d"
) -> DataFrame:
    """Degree assortativity coefficient: the Pearson correlation of the
    degrees at the two ends of every edge — positive means hubs link to
    hubs (social nets), negative means hub-and-spoke (infrastructure).

    Two hash aggregates (degrees, then directed-edge-end moments over
    both orientations) — the correlation is one fixed double expression
    over exact DECIMAL sums.

    Returns one row ``(n_edges, r_e6)``.
    """
    # und feeds both orientations of the union, and — through deg — both
    # endpoint-degree joins: checkpoint so the caller's edge pipeline
    # runs once instead of 6× (r11, guide §2.4)
    und = sized_local_checkpoint(
        edges.select(
            F.col(src_col).alias("a"), F.col(dst_col).alias("b")
        ).where(F.col("a") != F.col("b"))
    )
    both = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = both.groupBy("a").agg(
        F.count("*").cast("long").alias("deg")
    ).localCheckpoint(eager=True)
    j = (
        both.join(deg.select(F.col("a"), F.col("deg").alias("dx")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("dy")),
            "b",
        )
    )
    xd = F.col("dx").cast("decimal(19,0)")
    yd = F.col("dy").cast("decimal(19,0)")
    mom = j.agg(
        F.count("*").cast("long").alias("m2"),  # 2x undirected edges
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    n = F.col("m2")
    nd = n.cast("decimal(19,0)")
    sxd = F.col("sx").cast("decimal(19,0)")
    syd = F.col("sy").cast("decimal(19,0)")
    num = (nd * F.col("sxy") - sxd * syd).cast("double")
    vx = (nd * F.col("sxx") - sxd * sxd).cast("double")
    vy = (nd * F.col("syy") - syd * syd).cast("double")
    r = num / (F.sqrt(vx) * F.sqrt(vy))
    return mom.select(
        (n / F.lit(2)).cast("long").alias("n_edges"),
        F.when((vx > 0) & (vy > 0), F.round(r * 1e6).cast("long")).alias(
            "r_e6"
        ),
    )
