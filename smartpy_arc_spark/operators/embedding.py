"""Embedding-matrix analytics: distributed covariance and PCA projection.

The dimensionality-reduction step of an embedding pipeline (dedup at
lower dim, visualization, whitening before ANN).  The distributed part —
the only part that costs anything at 100 TB — is accumulating the d×d
Gram matrix; the eigendecomposition of that d×d matrix (a few thousand
doubles for d=64) is driver-side numpy, exactly where a d×d problem
belongs.

Scale shape:
  * ``covariance_matrix`` — one ``mapInPandas`` pass emits per-Arrow-batch
    partial Gram triangles as (i, j, partial_sum) triples computed by one
    numpy ``X.T @ X`` per batch (BLAS, no per-row Python), then one
    shuffle keyed by the (i, j) cell — d(d+1)/2 keys, map-side combined.
    Nothing driver-side grows with n.
  * ``pca_project`` — eigh on the collected d×d matrix, then a broadcast
    (d × k) component matrix applied by a second ``mapInPandas`` matmul.
    Component signs are normalized (largest-|loading| entry positive) so
    the output is deterministic even though eigenvectors are only defined
    up to sign.

No counterpart in the reference repo; embedding-pipeline extension
surface (SURVEY.md §7).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def covariance_matrix(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Sample covariance of a vector column as sparse cell rows
    ``(i, j, cov)`` for the upper triangle ``i <= j``.

    Partial Gram sums per Arrow batch (numpy ``X.T @ X``), one bounded
    shuffle on the (i, j) cell key, mean-corrected at the end from the
    same pass's per-dimension sums.
    """
    spark = df.sparkSession
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            g = x.T @ x
            s = x.sum(axis=0)
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(d)]),
                    "j": np.concatenate([ju, np.full(d, -1)]),
                    # j = -1 rows carry the per-dimension value sums
                    "s": np.concatenate([g[iu, ju], s]),
                    "n": np.concatenate(
                        [np.zeros(len(iu)), np.full(d, float(len(pdf)))]
                    ),
                }
            )

    parts = df.select(
        F.col(vec_col).cast("array<double>").alias("__v")
    ).mapInPandas(partial_gram, "i int, j int, s double, n double")
    cells = parts.groupBy("i", "j").agg(
        F.sum("s").alias("s"), F.sum("n").alias("n")
    )
    sums = cells.where("j = -1").select(
        F.col("i").alias("gi"),
        F.col("s").alias("colsum"),
        F.col("n").alias("n_rows"),
    )
    gram = cells.where("j >= 0")
    return (
        gram.join(
            F.broadcast(sums.select(F.col("gi").alias("i"), "colsum", "n_rows")),
            "i",
        )
        .join(
            F.broadcast(
                sums.select(F.col("gi").alias("j"), F.col("colsum").alias("colsum_j"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            (
                (
                    F.col("s")
                    - F.col("colsum") * F.col("colsum_j") / F.col("n_rows")
                )
                / (F.col("n_rows") - 1)
            ).alias("cov"),
        )
    )


def pca_components(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 4,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA: returns ``(components, explained_var, mean)`` where
    ``components`` is (k × d) with deterministic signs, ``explained_var``
    the top-k eigenvalues, ``mean`` the (d,) column means.

    The covariance accumulates distributed (see ``covariance_matrix``);
    only the d×d eigenproblem runs on the driver.
    """
    rows = covariance_matrix(df, vec_col=vec_col).collect()  # bounded: d×d
    d = max(r["j"] for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # (k, d)
    # sign convention: the largest-|loading| coordinate of each component
    # is positive (eigenvectors are defined only up to sign)
    for ci in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[ci])))
        if comps[ci, j] < 0:
            comps[ci] = -comps[ci]
    mean_rows = (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("p", "x"))
        .groupBy("p")
        .agg(F.avg("x").alias("m"))
        .collect()  # bounded: d rows
    )
    mean = np.zeros(d)
    for r in mean_rows:
        mean[r["p"]] = r["m"]
    return comps, vals[order], mean


def pca_project(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    components: np.ndarray | None = None,
    mean: np.ndarray | None = None,
) -> DataFrame:
    """Project vectors onto the top-``k`` principal components.

    Fits on ``df`` itself unless ``components``/``mean`` are supplied
    (fit once, project many — the train/apply split).  The (d × k)
    component matrix ships to executors inside the mapInPandas closure
    (a few KB); projection is one numpy matmul per Arrow batch.

    Returns ``(id, pc array<double> of length k)``.
    """
    if components is None or mean is None:
        components, _, mean = pca_components(df, vec_col=vec_col, k=k)
    comp_t = np.ascontiguousarray(components.T)  # (d, k)
    mu = np.ascontiguousarray(mean)

    spark = df.sparkSession
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            p = (x - mu) @ comp_t
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__pc": [row.tolist() for row in p]}
            )

    out = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).mapInPandas(project, "__id long, __pc array<double>")
    return out.select(
        F.col("__id").alias(id_col), F.col("__pc").alias("pc")
    )


def mmr_select(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein, SIGIR
    1998): greedily pick ``k`` vectors maximizing
    ``λ·relevance − (1−λ)·max_sim_to_already_selected`` — the standard
    diversity-aware sampler for curating representative-but-varied
    training subsets from an embedding corpus.

    Relevance is cosine similarity to the corpus centroid.  Scale shape:
    the centroid is one bounded aggregate (dim rows); each of the k
    greedy rounds is ONE distributed argmax (TakeOrdered limit-1, no
    global sort) over candidates scored against the ≤k selected vectors,
    which ride into the plan as broadcast literals — the corpus itself
    never re-shuffles.  The k-round driver loop is inherent to the
    greedy objective (selection i depends on i-1); ties break on the
    smaller id, so the output is deterministic.

    Returns the selected rows ``(rank, id, mmr_score)`` in pick order.
    """
    from pyspark.sql import Row

    vec = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    base = df.select(
        F.col(id_col).alias("id"), vec.alias("v"), norm.alias("nrm")
    ).where(F.col("nrm") > 0)

    # corpus centroid: per-position mean via posexplode (dim-bounded agg).
    # The mean derives from an EXACT integer sum of e9 ticks (order-free;
    # DECIMAL(38,0) so 1e9-row corpora cannot overflow) divided in one
    # fixed expression — bit-reproducible across engines and runs, unlike
    # a plain double avg whose partition accumulation order drifts ulps
    centroid = [
        r["m"]
        for r in base.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            (
                F.sum(
                    F.round(F.col("x") * F.lit(1e9)).cast("decimal(38,0)")
                ).cast("double")
                / F.count("x")
                / F.lit(1e9)
            ).alias("m")
        )
        .orderBy("pos")
        .collect()  # bounded: d rows
    ]
    c_lit = F.array(*[F.lit(float(x)) for x in centroid])
    c_norm = sum(x * x for x in centroid) ** 0.5

    def cos(a, b_lit, b_norm):
        dot = F.aggregate(
            F.zip_with(a, b_lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return dot / (F.col("nrm") * F.lit(float(b_norm)))

    scored = base.withColumn("rel", cos(F.col("v"), c_lit, c_norm))
    scored = scored.localCheckpoint()

    # incremental max-sim (r11, guide §2.4): round r only needs
    # max(sim to the r−1 already-selected) — carrying it as a running
    # ``greatest(prev, cos(v, newest))`` column makes each round compute
    # ONE new cosine instead of re-evaluating all r−1 (O(k) total HOF
    # folds per row instead of O(k²)).  ``max`` over doubles is exact
    # (no rounding), so the running form is bit-identical to the
    # recomputed ``greatest(*sims)``.
    # _msim starts NULL (not 0.0): the legacy per-round greatest ranged
    # over the selected-vector cosines ONLY, which can be negative; a 0.0
    # seed would clamp it.  greatest() skips nulls, coalesce supplies the
    # round-1 "no selected yet" zero.
    selected: list[Row] = []
    remaining = scored.withColumn("_msim", F.lit(None).cast("double"))
    for rank in range(1, k + 1):
        mmr = (
            F.lit(float(lam)) * F.col("rel")
            - F.lit(1.0 - float(lam)) * F.coalesce(F.col("_msim"), F.lit(0.0))
        )
        top = (
            remaining.withColumn("mmr", mmr)
            .orderBy(F.desc("mmr"), F.col("id"))
            .limit(1)
            .collect()  # bounded: limit(1)
        )
        if not top:
            break
        pick = top[0]
        selected.append(pick)
        remaining = remaining.where(F.col("id") != pick["id"]).withColumn(
            "_msim",
            F.greatest(
                F.col("_msim"),
                cos(
                    F.col("v"),
                    F.array(*[F.lit(float(x)) for x in pick["v"]]),
                    pick["nrm"],
                ),
            ),
        )

    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (i + 1, s["id"], round(float(s["mmr"]), 6))
            for i, s in enumerate(selected)
        ],
        f"rank int, {id_col} long, mmr_score double",
    )


def geometric_median(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    n_iter: int = 10,
    eps: float = 1e-9,
) -> DataFrame:
    """Geometric median of an embedding corpus by Weiszfeld iteration —
    the robust centroid (minimizes the SUM of distances, not squared
    distances, so a few wild vectors cannot drag it the way the mean
    lets them).

    The whole fixed-iteration recursion is ONE declarative plan (r7):
    the estimate ``y`` lives as a 1-row array DataFrame that each round
    broadcast-joins onto the checkpointed corpus, accumulates
    ``Σ vᵢ/dᵢ`` and ``Σ 1/dᵢ`` (dᵢ = ‖vᵢ − y‖ clamped by ``eps``) in a
    single grouped pass, and re-derives the next ``y`` — so ``y`` never
    returns to the driver and the 10 rounds execute as one job instead
    of ten collect round-trips (the per-JOB dispatch latency the r7
    bench drift notes measure is paid once, which also matters on a
    busy 1000-executor cluster's scheduler).  Deterministic: init from
    the per-position mean, fixed iteration count.

    Bit-portable BY CONSTRUCTION (r7): each round's contributions are
    pre-rounded to e12 integer ticks and summed as DECIMAL(38,0) — an
    order-free EXACT sum any engine reproduces (the quantized-iteration
    playbook device) — and the update divides the two tick totals once
    in doubles (``CAST(decimal AS DOUBLE)`` is the same round-to-nearest
    conversion as Python ``float(Decimal)``, so the chained form is
    bit-identical to the former driver-loop form — verified at sf0.01
    and sf0.1 before the swap).  The e12 quantization perturbs the
    iterate by ~1e-12 relative per round — far below the e4 output
    scale.  The INIT mean likewise derives from an exact e9-tick sum.

    Returns one row ``(n, n_iter, median array<double>)``.
    """
    spark = df.sparkSession
    vec = F.col(vec_col).cast("array<double>")
    base = df.select(vec.alias("v")).where(F.col("v").isNotNull())
    # lazy: the meta aggregate right below is the materializing job
    # (r12, the graph-loop probe pattern) — one job instead of two
    base = base.localCheckpoint(eager=False)
    meta = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("v")).alias("lo"),
        F.max(F.size("v")).alias("hi"),
    ).first()
    n = meta["n"]
    if n == 0:
        # fail fast with a clear message instead of an opaque
        # executor-side error from the nested iteration plan
        raise ValueError(
            "geometric_median: input has no non-null vectors"
        )
    if meta["lo"] != meta["hi"]:
        raise ValueError(
            "geometric_median: ragged vector lengths "
            f"({meta['lo']}..{meta['hi']}) — embeddings must share one dim"
        )
    # data-proportional partitioning: every round scans `base` once, so
    # partition count should track rows (target ~500k doubles per task),
    # not inherit the scan's layout — at corpus scale this is a no-op,
    # at test scale it stops 10 rounds from dispatching 32 near-empty
    # tasks each (the r7 dispatch-latency drift mode).  Tick sums are
    # order-free, so repartitioning cannot change a single output bit.
    target = max(1, -(-n // 8192))  # ~8k vectors (a few MB) per task
    if target < base.rdd.getNumPartitions():
        # lazy: the init-mean aggregate below materializes the narrowed
        # layout in the same job (r12)
        base = base.coalesce(target).localCheckpoint(eager=False)

    ticks = lambda c: F.sum(  # noqa: E731
        F.round(c * F.lit(1e12)).cast("decimal(38,0)")
    )
    # init: exact e9-tick per-position mean, reassembled into ONE array
    # row (sort_array on (pos, m) structs orders by pos).  NOTE (r8): a
    # wide dim-column aggregate (one ticks column per position, no
    # explode) was measured as a round-8 candidate and REJECTED — 65
    # decimal agg expressions cost ~1.1s/round in plan+codegen overhead
    # vs 0.54s for this posexplode shape, and chaining them multiplies
    # Catalyst analysis superlinearly (32s for the 10-round plan).  The
    # explode manufactures n×(dim+1) rows, but those are codegen'd
    # columnar rows — cheap at any n — while per-round plan width is
    # what the driver (and a busy cluster scheduler) actually pays.
    y = (
        base.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            (
                F.sum(
                    F.round(F.col("x") * F.lit(1e9)).cast("decimal(38,0)")
                ).cast("double")
                / F.count("x")
                / F.lit(1e9)
            ).alias("m")
        )
        # coalesce(1), not an exchange (r10): the per-position frame is
        # always dim+1 rows, so merging its shuffle partitions narrowly
        # satisfies the global agg's SinglePartition requirement and
        # drops one AQE stage job per reassembly — at 11 reassemblies
        # per call this is the dispatch-latency lever the r9 verdict
        # asked for, and a no-op on values (order-free tick sums)
        .coalesce(1)
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(F.expr("transform(pm, x -> x.m)").alias("y"))
    )
    for _round in range(n_iter):
        # cap plan depth (r8): Catalyst analysis of the chained iteration
        # grows superlinearly with rounds, so materialize the 1-row
        # estimate every 5 rounds — one tiny extra job buys back the
        # driver-side plan-compile time; values are bit-identical (the
        # checkpoint stores exactly the doubles the plan computed)
        if _round and _round % 5 == 0:
            y = y.localCheckpoint(eager=True)
        d = F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("v"), F.col("y"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        d = F.greatest(d, F.lit(float(eps)))
        # STAGE d behind a projection boundary before the transform
        # lambda divides by it: an expression inside a HOF lambda gets
        # re-evaluated PER ELEMENT (the ngram_novelty discovery), so the
        # un-staged form recomputed the dim-wide distance fold 64x per
        # row per round — O(dim^2) for an O(dim) job
        staged = base.crossJoin(F.broadcast(y)).select("v", d.alias("_d"))
        # ONE grouped aggregate: position 0 carries 1/d, position i
        # carries v[i]/d — dim+1 integer-tick sums in a single pass,
        # then reassembled into the next y without leaving the plan
        # (slice is 1-based, bracket indexing 0-based: ps[0] is the
        # 1/d total, slice(ps, 2, ...) the per-position totals)
        arr = F.concat(
            F.array(F.lit(1.0) / F.col("_d")),
            F.transform(F.col("v"), lambda x: x / F.col("_d")),
        )
        sums = (
            staged.select(F.posexplode(arr).alias("pos", "x"))
            .groupBy("pos")
            .agg(ticks(F.col("x")).alias("s"))
        )
        y = (
            sums.coalesce(1)  # dim+1 rows; see the init reassembly note
            .groupBy()
            .agg(F.sort_array(F.collect_list(F.struct("pos", "s"))).alias("ps"))
            .select(
                F.expr(
                    "transform(slice(ps, 2, size(ps) - 1),"
                    " x -> CAST(x.s AS DOUBLE) / CAST(ps[0].s AS DOUBLE))"
                ).alias("y")
            )
        )
    return y.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(n_iter).cast("int").alias("n_iter"),
        F.col("y").alias("median"),
    )


def random_projection_signs(k: int, d: int, *, seed: int = 0) -> list[list[int]]:
    """Deterministic ±1 projection matrix (k × d): sign(j, i) from the
    parity of the first md5 hex digit of ``"{seed}:{j}:{i}"`` — the same
    derivation any engine can reproduce, so projections are bit-exact
    cross-engine without shipping a matrix."""
    import hashlib

    def sign(j: int, i: int) -> int:
        h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
        return 1 if int(h[0], 16) % 2 == 0 else -1

    return [[sign(j, i) for i in range(d)] for j in range(k)]


def random_projection(
    df: DataFrame,
    *,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    seed: int = 0,
    scale: int = 1_000_000,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a DETERMINISTIC
    dense ±1 sign matrix (Achlioptas 2003: ±1 entries satisfy the JL
    lemma with the same guarantees as Gaussians) — the cheap first stage
    of an embedding pipeline: d → k floats per row before LSH/clustering.

    The matrix is derived per (j, i) from md5 parity
    (:func:`random_projection_signs`) and inlined as a LITERAL, so the
    plan is a map-only zip_with/fold per output component — no broadcast
    join, no shuffle, whole projection inside codegen.  Each component
    folds ``Σ_i x_i·s_{j,i}`` IN INDEX ORDER (``F.aggregate``), making
    the float result bit-identical to the same in-order fold on any
    engine; components land as integer ``scale`` units.

    Returns ``(id_col, proj)`` with ``proj`` an array of k longs
    (component × scale / √k, rounded).
    """
    import math

    signs = random_projection_signs(k, len_of := _emb_dim(df, emb_col), seed=seed)
    inv = 1.0 / math.sqrt(k)
    comps = []
    for j in range(k):
        srow = F.array(*[F.lit(float(s)) for s in signs[j]])
        folded = F.aggregate(
            F.zip_with(
                F.col(emb_col), srow, lambda x, s: x.cast("double") * s
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        comps.append(F.round(folded * F.lit(inv) * scale).cast("long"))
    return df.select(F.col(id_col), F.array(*comps).alias("proj"))


def _emb_dim(df: DataFrame, emb_col: str) -> int:
    """Embedding width from one row (schema carries no fixed length)."""
    row = df.select(F.size(emb_col).alias("d")).first()
    return int(row["d"])


def kmeans_quantized(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, made bit-portable by
    integer quantization: coordinates round to e6 fixed-point longs, so
    every distance is an EXACT bigint sum of squares and the argmin
    assignment is deterministic on any engine/partitioning (ties break
    to the lowest centroid id).  Init is deterministic too — the ``k``
    vectors with the lowest ids seed the centroids (k-means|| trades
    determinism for balance; a fixed seed set is the reproducible-build
    choice, mirroring the reference's seeded clustering contract).

    Per iteration: centroids (k rows) broadcast against the point set,
    per-pair distance via ``zip_with``/``aggregate`` (JVM codegen — the
    64-wide loop never leaves Tungsten), a map-side-combinable struct-min argmin (no sort window),
    one (cluster, dim)-keyed mean.  New centroids re-round to e6 longs
    (one integer-operand division per dim — portable), so iteration
    ``t+1``'s input is exact again.  At 100 TB the point table is the
    only big side; centroids stay a k×d broadcast and the argmin is a
    map-side window over k rows per point.

    Returns one row per surviving cluster:
    ``(cid, n_points, cent_sum, cent_l1)`` — exact integer centroid
    checksums, ordered by cid.
    """
    pts = vectors.select(
        F.col(id_col).alias("pid"),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * 1e6).cast("long")
        ).alias("v"),
    )
    cents = (
        pts.orderBy("pid")
        .limit(k)
        .select(F.col("pid").alias("cid"), F.col("v").alias("c"))
    )
    for _ in range(iters):
        d2 = (
            pts.crossJoin(F.broadcast(cents))
            .select(
                "pid",
                "v",
                "cid",
                F.aggregate(
                    F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
            )
        )
        # argmin as a lexicographic struct-min: (d2, cid) min == nearest
        # centroid with lowest-cid tiebreak, map-side combinable (no
        # per-point sort window)
        assign = (
            d2.groupBy("pid")
            .agg(
                F.min(F.struct("d2", "cid", "v")).alias("m")
            )
            .select("pid", F.col("m.v").alias("v"), F.col("m.cid").alias("cid"))
        )
        per_dim = (
            assign.select("cid", F.posexplode("v").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(
                F.round(
                    F.sum("x").cast("double") / F.count("*").cast("double")
                )
                .cast("long")
                .alias("cx")
            )
        )
        # k rows: pin each iteration's centroids so iteration t+1 (and
        # the final assignment) doesn't re-derive the whole chain
        cents = per_dim.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cx"))),
                lambda s: s["cx"],
            ).alias("c")
        ).localCheckpoint(eager=True)
    # final assignment against the converged centroids
    d2 = (
        pts.crossJoin(F.broadcast(cents))
        .select(
            "pid",
            "cid",
            F.aggregate(
                F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    assign = (
        d2.groupBy("pid")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("pid", F.col("m.cid").alias("cid"))
    )
    cent_stats = cents.select(
        "cid",
        F.aggregate(
            "c", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("cent_sum"),
        F.aggregate(
            "c", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("cent_l1"),
    )
    return (
        assign.groupBy("cid")
        .agg(F.count("*").cast("long").alias("n_points"))
        .join(cent_stats, "cid")
        .select("cid", "n_points", "cent_sum", "cent_l1")
        .orderBy("cid")
    )


def pq_encode(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 4,
    iters: int = 1,
) -> DataFrame:
    """Product quantization (Jégou et al., PAMI 2011) — the memory side
    of large-scale ANN: split each d-dim vector into ``m`` subvectors,
    k-means each subspace independently, and store only the ``m`` code
    ids (here 4×2 bits instead of 64 floats).  Asymmetric distances
    against the codebooks then approximate full distances at a fraction
    of the I/O — the standard companion to an IVF index at 100 TB.

    Same bit-portability contract as :func:`kmeans_quantized` (e6
    integer coordinates, exact bigint distances, lowest-cid argmin
    tiebreak, lowest-id seed vectors), with the subspace id carried as a
    grouping key so all ``m`` codebooks train in the SAME jobs — the
    fan-out is one bounded ×m explode, not m passes over the data.

    Returns the trained codebook summary, one row per (subspace, code):
    ``(sub, cid, n_points, sum_d2, cent_sum)`` — assignment counts,
    exact total quantization distortion, and integer centroid checksums,
    ordered by (sub, cid).
    """
    dim = _emb_dim(vectors, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    full = vectors.select(
        F.col(id_col).alias("pid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 1e6).cast("long"),
        ).alias("v"),
    )
    subs = full.select(
        "pid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.slice("v", s * dsub + 1, dsub).alias("v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("pid", "e.sub", "e.v")
    seed_ids = full.orderBy("pid").limit(k).select("pid")
    cents = subs.join(F.broadcast(seed_ids), "pid").select(
        "sub", F.col("pid").alias("cid"), F.col("v").alias("c")
    )

    def dist(points: DataFrame, centroids: DataFrame) -> DataFrame:
        return points.join(F.broadcast(centroids), "sub").select(
            "pid",
            "sub",
            "v",
            "cid",
            F.aggregate(
                F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )

    for _ in range(iters):
        assign = (
            dist(subs, cents)
            .groupBy("pid", "sub")
            .agg(F.min(F.struct("d2", "cid", "v")).alias("a"))
            .select("pid", "sub", F.col("a.cid").alias("cid"),
                    F.col("a.v").alias("v"))
        )
        per_dim = (
            assign.select("sub", "cid", F.posexplode("v").alias("i", "x"))
            .groupBy("sub", "cid", "i")
            .agg(
                F.round(
                    F.sum("x").cast("double") / F.count("*").cast("double")
                )
                .cast("long")
                .alias("cx")
            )
        )
        cents = (
            per_dim.groupBy("sub", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "cx"))),
                    lambda s: s["cx"],
                ).alias("c")
            )
            .localCheckpoint(eager=True)
        )
    final = (
        dist(subs, cents)
        .groupBy("pid", "sub")
        .agg(F.min(F.struct("d2", "cid")).alias("a"))
        .select("sub", F.col("a.cid").alias("cid"), F.col("a.d2").alias("d2"))
    )
    cent_stats = cents.select(
        "sub",
        "cid",
        F.aggregate(
            "c", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("cent_sum"),
    )
    return (
        final.groupBy("sub", "cid")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("d2").cast("long").alias("sum_d2"),
        )
        .join(cent_stats, ["sub", "cid"])
        .select("sub", "cid", "n_points", "sum_d2", "cent_sum")
        .orderBy("sub", "cid")
    )


def whiten_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    eps: float = 1e-3,
) -> DataFrame:
    """ZCA whitening of an embedding column — the classical retrieval
    preprocessing step (decorrelate + unit-variance; whitening measurably
    improves cosine ANN recall on anisotropic sentence embeddings).

    Distributed part: the d×d covariance reuses
    :func:`covariance_matrix`'s per-Arrow-batch Gram pass (d² bounded
    numbers to the driver — not a data collect) plus one d-sum mean
    aggregate; numpy eigendecomposes the tiny matrix and the transform
    ``U diag(1/√(λ+ε)) Uᵀ`` applies as a broadcast-free ``mapInPandas``
    batch matmul (numpy ``(X − μ) Wᵀ`` per Arrow batch — the vectorized
    path, not per-component expressions).  Rows-only evidence: the
    eigendecomposition has no SQL form; tests pin that the whitened
    set's covariance is the identity.

    Returns ``(id_col, white)`` with ``white`` an array<double>.
    """
    import numpy as np

    dim = _emb_dim(df, emb_col)
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(emb_col).cast("array<double>").alias("__v"),
    )
    mrow = pts.agg(
        F.count("*").alias("n"),
        *[F.sum(F.col("__v")[i]).alias(f"s{i}") for i in range(dim)],
    ).first()
    n = float(mrow["n"])
    mu = np.array([mrow[f"s{i}"] for i in range(dim)]) / n
    cov = np.zeros((dim, dim))
    # bounded: dim × dim
    for r in covariance_matrix(df, vec_col=emb_col).collect():
        cov[r.i, r.j] = cov[r.j, r.i] = r.cov
    lam, u = np.linalg.eigh(cov)
    wmat = u @ np.diag(1.0 / np.sqrt(lam + eps)) @ u.T

    spark = df.sparkSession
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)

    def apply_w(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            white = (x - mu) @ wmat.T
            yield pd.DataFrame(
                {"__id": pdf["__id"], "white": list(white)}
            )

    id_t = pts.schema["__id"].dataType.simpleString()
    out = pts.mapInPandas(apply_w, f"__id {id_t}, white array<double>")
    return out.select(F.col("__id").alias(id_col), "white")
