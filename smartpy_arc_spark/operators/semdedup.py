"""SemDeDup: semantic deduplication via embedding clusters.

"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication" (Abbas et al., 2023, arXiv:2303.09540) removes documents
whose *embeddings* are near-identical even when their text is not:

  1. cluster the embedding space (the paper: k-means on GPU);
  2. within each cluster, compute pairwise cosine similarity;
  3. for every pair above a threshold, keep one representative (the
     paper keeps the item farthest from the centroid; this
     implementation keeps the lowest id — deterministic and
     engine-portable) and drop the rest.

Clustering here is a single deterministic assignment pass against seed
centroids (the ``k`` lowest-id vectors) instead of iterated Lloyd
k-means.  That choice is what makes the operator exactly reproducible in
any engine — the oracle replays it in SQL — while keeping the shape of
the real algorithm: all-pairs work happens only *within* a cluster.
Swap the seed table for a trained codebook (see ``similarity.py``'s IVF
trainer) without touching the rest of the pipeline.

Scale design (100 TB of embeddings):
- Centroids are ``k`` rows — **broadcast**; assignment is one scan, no
  shuffle.  k grows with the corpus (the paper uses k ≈ 11k for LAION),
  keeping expected cluster size |C|/k bounded, so the intra-cluster
  self-join is quadratic only in a bounded cluster width, never in the
  corpus.
- The self-join shuffles both sides on ``cluster`` (co-partitioned
  equi-join) and the keep-list is an aggregate over pair rows — no
  driver-side state anywhere.
- Dot products are ``zip_with``/``aggregate`` higher-order functions:
  JVM-side, vectorized, no Python in the hot path.

No counterpart in the reference repo; part of the LLM-training-data
extension surface (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartpy_arc_spark.operators._ckpt import sized_local_checkpoint


def assign_clusters(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    two_level: bool = False,
) -> DataFrame:
    """Nearest-seed-centroid assignment: centroids are the ``k`` lowest-id
    vectors, broadcast; each row gets ``(cluster, cos_to_centroid)``.

    Ties in cosine break toward the lower centroid id (deterministic).

    HOF-CSE staging (r7, the ``embedding_near_dup`` pattern): each side's
    squared norm is computed ONCE — per row and per centroid — instead of
    per (row × centroid) pair inside ``cosine()``; the pair stage then
    evaluates a single dot fold.  ``sqrt(n2v * n2c)`` is the same double
    as ``sqrt(dot(v,v) * dot(c,c))`` (identical op order), so scores are
    bit-unchanged.

    ``two_level=True`` is the SCALE path (r7 — caught by
    ``tools/scaling_probe.py``): SemDeDup needs ``k ∝ corpus`` to keep
    cluster widths bounded, which makes flat nearest-centroid assignment
    O(n·k) = O(n²/width) — quadratic in the corpus.  The two-level form
    routes each row through its nearest of √k coarse centroids (the √k
    lowest-id centroids), then scores only the fine centroids whose own
    nearest coarse is that cell — O(n·√k) with the classic IVF
    approximation (a row near a cell boundary may land in the
    neighboring cluster; dedup recall degrades gracefully since both
    sides of a near-dup pair shift together).
    """
    from smartpy_arc_spark.operators.similarity import _dot

    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("__n2v", _dot(F.col("__v"), F.col("__v")))
    cents = (
        vecs.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("cent_id"),
            F.col("__v").alias("__c"),
            F.col("__n2v").alias("__n2c"),
        )
    )

    def best_of(scored: DataFrame, cand_id: str, score: str,
                keep_cols: list) -> DataFrame:
        return scored.groupBy(id_col).agg(
            F.max_by(
                F.struct(F.col(cand_id).alias("cluster"),
                         F.col(score).alias("cos_c")),
                # (cos, -cand): highest cosine, lowest id on ties
                F.struct(F.col(score), (-F.col(cand_id)).alias("neg")),
            ).alias("b"),
            *[F.first(c).alias(c) for c in keep_cols],
        )

    denom = F.sqrt(F.col("__n2v") * F.col("__n2c"))
    cos_c = F.when(denom > 0, _dot(F.col("__v"), F.col("__c")) / denom)

    if not two_level:
        scored = vecs.crossJoin(F.broadcast(cents)).select(
            id_col, "__v", "__n2v", "cent_id",
            F.coalesce(cos_c, F.lit(-2.0)).alias("cos_c"),
        )
        best = best_of(scored, "cent_id", "cos_c", ["__v", "__n2v"])
        return best.select(
            id_col, F.col("b.cluster").alias("cluster"),
            F.round(F.col("b.cos_c"), 6).alias("cos_to_centroid"),
            "__v", "__n2v",
        )

    n_coarse = max(1, int(k ** 0.5))
    coarse = cents.orderBy("cent_id").limit(n_coarse).select(
        F.col("cent_id").alias("coarse_id"),
        F.col("__c").alias("__cc"),
        F.col("__n2c").alias("__n2cc"),
    )
    cdenom = F.sqrt(F.col("__n2c") * F.col("__n2cc"))
    c_cos = F.when(cdenom > 0, _dot(F.col("__c"), F.col("__cc")) / cdenom)
    # fine centroid -> its nearest coarse cell (k x sqrt(k), tiny)
    fine_map = (
        cents.crossJoin(F.broadcast(coarse))
        .select(
            "cent_id", "__c", "__n2c", "coarse_id",
            F.coalesce(c_cos, F.lit(-2.0)).alias("cos_cc"),
        )
        .groupBy("cent_id")
        .agg(
            F.max_by(
                "coarse_id",
                F.struct(F.col("cos_cc"), (-F.col("coarse_id")).alias("n")),
            ).alias("coarse_id"),
            F.first("__c").alias("__c"),
            F.first("__n2c").alias("__n2c"),
        )
    )
    # row -> nearest coarse cell (n x sqrt(k))
    rdenom = F.sqrt(F.col("__n2v") * F.col("__n2cc"))
    r_cos = F.when(rdenom > 0, _dot(F.col("__v"), F.col("__cc")) / rdenom)
    row_coarse = (
        vecs.crossJoin(F.broadcast(coarse))
        .select(
            id_col, "__v", "__n2v", "coarse_id",
            F.coalesce(r_cos, F.lit(-2.0)).alias("cos_cc"),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                "coarse_id",
                F.struct(F.col("cos_cc"), (-F.col("coarse_id")).alias("n")),
            ).alias("coarse_id"),
            F.first("__v").alias("__v"),
            F.first("__n2v").alias("__n2v"),
        )
    )
    # row -> best fine centroid within its coarse cell (n x ~sqrt(k))
    scored = row_coarse.join(F.broadcast(fine_map), "coarse_id").select(
        id_col, "__v", "__n2v", "cent_id",
        F.coalesce(cos_c, F.lit(-2.0)).alias("cos_c"),
    )
    best = best_of(scored, "cent_id", "cos_c", ["__v", "__n2v"])
    return best.select(
        id_col, F.col("b.cluster").alias("cluster"),
        F.round(F.col("b.cos_c"), 6).alias("cos_to_centroid"),
        "__v", "__n2v",
    )


def semdedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    threshold: float = 0.95,
    two_level: bool = False,
) -> DataFrame:
    """SemDeDup keep/drop decisions.

    Returns one row per input vector: ``(id_col, cluster, is_dup,
    dup_of)`` where ``is_dup`` marks vectors having a *lower-id* neighbor
    in the same cluster with cosine >= ``threshold``; ``dup_of`` is the
    smallest such neighbor id (null for survivors).
    """
    # The intra-cluster self-join is quadratic in cluster width; k must
    # scale with the corpus (the paper uses k ~ 11k for LAION-scale).  A
    # k that leaves avg cluster width above ~64k rows would plan
    # billions of comparisons per cluster — refuse loudly rather than
    # letting the job grind: the fix (raise k / train a codebook) is a
    # parameter change, not a code change.
    n = df.count()
    if k > 0 and n / k > 65536:
        raise ValueError(
            f"semdedup: avg cluster width {n}/{k} ~ {n // k} rows; the "
            f"intra-cluster pair join is quadratic in width — raise k "
            f"(paper-scale: corpus_size / ~10k) or pass a trained codebook"
        )
    # materialize the assignment ONCE (r11, guide §2.4/§5): `assigned`
    # feeds three consumers (both sides of the intra-cluster pair join
    # and the final left join), and without this the whole assignment
    # pass — corpus scan + centroid broadcast + nearest-centroid
    # aggregate — executed three times per run (r11 plan audit: 6
    # embeddings scans in one plan).
    assigned = sized_local_checkpoint(assign_clusters(
        df, id_col=id_col, vec_col=vec_col, k=k, two_level=two_level
    ))
    a = assigned.select(
        F.col("cluster"), F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"), F.col("__n2v").alias("__na2"),
    )
    b = assigned.select(
        F.col("cluster"), F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"), F.col("__n2v").alias("__nb2"),
    )
    # co-partitioned equi-join on cluster; quadratic only within a cluster.
    # HOF-CSE staging (r7): per-row squared norms ride in from
    # assign_clusters, so the quadratic pair stage evaluates ONE dot fold
    # per pair instead of three; sqrt(na2*nb2) keeps cosine's exact double
    # op order, so keep/drop decisions are bit-unchanged.
    from smartpy_arc_spark.operators.similarity import _dot

    pair_denom = F.sqrt(F.col("__na2") * F.col("__nb2"))
    pair_cos = F.when(
        pair_denom > 0, _dot(F.col("__va"), F.col("__vb")) / pair_denom
    )
    dup_pairs = (
        a.join(b, "cluster")
        .where(F.col("__idb") < F.col("__ida"))
        .where(pair_cos >= threshold)
        .groupBy(F.col("__ida").alias(id_col))
        .agg(F.min("__idb").alias("dup_of"))
    )
    return (
        assigned.join(dup_pairs, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def dbscan_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    id_col: str = "id",
    eps: float = 0.5,
    min_pts: int = 4,
) -> DataFrame:
    """Grid-partitioned DBSCAN (Ester et al., KDD 1996) over 2-D points.

    The classic density clustering, distributed the standard way: bucket
    points into an ``eps``-sized grid, generate candidate pairs only
    between a point and the 3×3 neighboring cells (every true ε-neighbor
    lands there, and cell population bounds the join fan-out), exact-
    filter by squared distance, then:

      * core points — ≥ ``min_pts`` points (self included) within ε;
      * clusters — connected components of the core–core ε-graph
        (:func:`~smartpy_arc_spark.operators.components.connected_components`,
        the same pointer-jumping iteration the dedup pipeline uses);
      * border points — non-core with a core ε-neighbor, assigned the
        SMALLEST neighboring core's cluster (classic DBSCAN leaves border
        assignment visit-order-dependent; the min rule makes it
        deterministic);
      * noise — cluster −1.

    Cell-keyed shuffles only; no all-pairs anywhere.  Returns
    ``(id, x, y, is_core, cluster)`` with cluster ids = min member id.
    """
    from smartpy_arc_spark.operators.components import connected_components

    inv = 1.0 / eps
    pts = df.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("double").alias("px"),
        F.col(y_col).cast("double").alias("py"),
    ).withColumn("cx", F.floor(F.col("px") * inv).cast("long")).withColumn(
        "cy", F.floor(F.col("py") * inv).cast("long")
    )
    pts = pts.localCheckpoint(eager=True)
    offs = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("ox"), F.lit(dy).alias("oy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])
    )
    probes = pts.select(
        F.col("pid").alias("id_a"), F.col("px").alias("xa"),
        F.col("py").alias("ya"), "cx", "cy", offs.alias("o"),
    ).select(
        "id_a", "xa", "ya",
        (F.col("cx") + F.col("o.ox")).alias("cx"),
        (F.col("cy") + F.col("o.oy")).alias("cy"),
    )
    pairs = (
        probes.join(
            pts.select(
                F.col("pid").alias("id_b"), F.col("px").alias("xb"),
                F.col("py").alias("yb"), "cx", "cy",
            ),
            ["cx", "cy"],
        )
        .where(F.col("id_a") != F.col("id_b"))
        .where(
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            <= F.lit(eps * eps)
        )
        .select("id_a", "id_b")
    )
    pairs = pairs.localCheckpoint(eager=True)
    deg = pairs.groupBy("id_a").agg(F.count("*").alias("nn"))
    core = (
        pts.join(deg, pts["pid"] == deg["id_a"], "left")
        .select("pid", (F.coalesce("nn", F.lit(0)) + 1 >= min_pts).alias("is_core"))
    ).localCheckpoint(eager=True)
    core_ids = core.where("is_core").select(F.col("pid").alias("cid_"))
    core_edges = (
        pairs.join(core_ids.withColumnRenamed("cid_", "id_a"), "id_a")
        .join(core_ids.withColumnRenamed("cid_", "id_b"), "id_b")
    )
    comp = connected_components(core_edges, src_col="id_a", dst_col="id_b")
    # singleton cores never appear in core_edges: they are their own cluster
    core_clusters = (
        core_ids.join(comp, core_ids["cid_"] == comp["node"], "left")
        .select(
            F.col("cid_").alias("pid"),
            F.coalesce("component", "cid_").alias("cluster"),
        )
    )
    border = (
        pairs.join(
            core_clusters.withColumnRenamed("pid", "id_b"), "id_b"
        )
        .groupBy("id_a")
        .agg(F.min("cluster").alias("bcluster"))
    )
    return (
        pts.join(core, "pid")
        .join(core_clusters.withColumnRenamed("cluster", "ccluster"), "pid", "left")
        .join(border.withColumnRenamed("id_a", "pid"), "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            F.col("px").alias(x_col),
            F.col("py").alias(y_col),
            "is_core",
            F.when(F.col("is_core"), F.col("ccluster"))
            .otherwise(F.coalesce("bcluster", F.lit(-1)))
            .cast("long")
            .alias("cluster"),
        )
    )
