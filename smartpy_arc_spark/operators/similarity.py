"""Embedding similarity search.

Two tiers:
  * ``knn_cosine_bruteforce`` — exact top-k, query set broadcast against the
    distributed corpus.  The baseline: correct for any k, cost O(|Q|·|C|·d)
    spread across partitions; right answer whenever |Q| is bounded.
  * ``ann_lsh_topk`` — random-hyperplane (SRP) LSH: bucket by sign bits,
    candidate pairs only within matching buckets (multi-probe via several
    independent tables), exact cosine rerank on candidates.  The 100 TB
    path: the corpus is hashed once (shuffle on bucket key), queries touch
    only their buckets instead of the full corpus.

Routing rule for near-duplicate / threshold-join jobs: a bounded query
side (broadcastable, ≤ 2^16 rows) may use the exact tier (broadcast
threshold join / ``knn_cosine_bruteforce`` / ``knn_classify``) — cost is
linear in the corpus.  An UNBOUNDED-×-unbounded job must go through the
candidate-bounding tiers instead: ``ann_lsh_topk`` (SRP buckets),
``ivf_search``/``ivfpq_search`` (trained coarse quantizer), or
``semdedup.semdedup`` (cluster-then-intra-cluster).  The exact tiers
fail fast on oversized sides (``_ckpt.collect_if_fits``) rather than
OOMing the driver.

All dot products are built-in higher-order functions (``zip_with`` +
``aggregate``) over ``array<double>`` — JVM-side, no Python, no UDF.
Cosine uses ``dot / sqrt(norm_a² · norm_b²)`` — the same association order
DuckDB's ``list_cosine_similarity`` uses, so oracle comparisons match
bit-for-bit before rounding.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from smartpy_arc_spark.operators import _ckpt
from smartpy_arc_spark.sqltext import ident, literal, select_sql


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _dot_sql(a: str, b: str) -> str:
    """:func:`_dot` of the SQL expressions ``a`` and ``b``, as SQL text:
    the same fold, element products summed from 0.0."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _oversized(what: str) -> ValueError:
    """The routing error for a side over the driver-collect cap."""
    return ValueError(
        f"{what} has more than {_ckpt.COLLECT_ROW_CAP} rows; this operator "
        f"collects/broadcasts that side to the driver by contract. Route the "
        f"oversized side through the distributed tier instead "
        f"(ivf_search / ivfpq_search / ann_lsh_topk), or window it."
    )


def cosine(a: Column, b: Column) -> Column:
    """dot(a,b) / sqrt(dot(a,a) * dot(b,b)) on array<double> columns.

    Null (not NaN) unless the norm product is finite and positive: Spark
    sorts NaN above every number, so a 0/0 NaN — or the ``0 · inf`` NaN of
    a zero vector against one whose squared norm overflows — would rank
    as the top neighbor of every query; NULL sorts last under ``desc``
    and drops out of top-k.
    """
    return _cosine_from_norms(a, b, _dot(a, a), _dot(b, b))


def _cosine_from_norms(a: Column, b: Column, a_n2: Column, b_n2: Column) -> Column:
    """:func:`cosine` with the squared norms ``a_n2 = _dot(a, a)`` and
    ``b_n2 = _dot(b, b)`` given, so a caller can fold each once per
    vector instead of once per pair."""
    denom = F.sqrt(a_n2 * b_n2)
    # NaN > 0 holds in Spark's ordering; NaN < inf does not
    return F.when((denom > 0) & (denom < F.lit(float("inf"))), _dot(a, b) / denom)


def cosine_threshold_pairs_bounded(
    corpus: DataFrame,
    query_rows: list,
    *,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """All ``(id_a, id_b, cos)`` pairs with ``id_b > id_a`` and
    ``cos > threshold`` between a BOUNDED collected query side
    (``query_rows``: Rows with ``id_col``/``vec_col``, vectors already
    double) and the distributed corpus — bit-identical to the staged-norm
    HOF broadcast-join form (``corpus ⋈ broadcast(q)`` with
    ``_dot``-folded cosines), pinned by
    tests/test_round11_opt.py.

    The r11 replacement (guide §4.2) for the BNLJ + interpreted-HOF pair
    scoring: one ``mapInPandas`` pass over the corpus computes the whole
    |q|-vector of cosines per corpus row via the per-dimension
    accumulation ``D += C[:, j] ⊗ Q[:, j]`` — the SAME two
    separately-rounded IEEE float64 ops in the SAME j-ascending fold
    order as ``_dot``'s ``acc = acc + (x·y)``, so every dot, norm,
    denominator and cosine is the identical double.  Legacy edge
    semantics preserved exactly:

    - pairs whose vector lengths differ fold over ``zip_with`` null
      padding → null cosine → dropped by the threshold; here each corpus
      row only scores against query vectors of ITS OWN length;
    - zero-norm vectors and overflowing norms: the finite positive
      ``denom`` gate → dropped;
    - null/NaN elements poison the fold → dropped (NaN comparisons are
      false in both engines; Arrow surfaces element nulls as NaN).

    Emits RAW cosines — callers apply their own rounding in Spark so the
    rounding mode stays Spark's HALF_UP, never numpy's HALF_EVEN.
    """
    by_len: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    grouped: dict[int, list] = {}
    for r in query_rows:
        v = r[vec_col]
        if v is None:
            continue  # null vector → null cosine with everything → dropped
        grouped.setdefault(len(v), []).append((r[id_col], v))
    for length, items in grouped.items():
        qids = np.array([i for i, _ in items], dtype=np.int64)
        Q = np.array([v for _, v in items], dtype=np.float64)
        na2 = np.zeros(len(items))
        for j in range(length):
            na2 += Q[:, j] * Q[:, j]
        by_len[length] = (qids, Q, na2)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            vals = pdf[vec_col].to_numpy()
            lens = np.fromiter(
                (len(v) if v is not None else -1 for v in vals),
                dtype=np.int64,
                count=len(vals),
            )
            out_a: list[np.ndarray] = []
            out_b: list[np.ndarray] = []
            out_c: list[np.ndarray] = []
            for length, (qids, Q, na2) in by_len.items():
                sel = lens == length
                if not sel.any():
                    continue
                C = np.stack(vals[sel]).astype(np.float64, copy=False)
                cids = ids[sel].astype(np.int64)
                D = np.zeros((C.shape[0], Q.shape[0]))
                nb2 = np.zeros(C.shape[0])
                for j in range(length):
                    # mul then add: two separately-rounded float64 ops —
                    # exactly _dot's acc = acc + (x*y) fold step
                    D += C[:, j : j + 1] * Q[:, j][None, :]
                    nb2 += C[:, j] * C[:, j]
                with np.errstate(invalid="ignore", divide="ignore"):
                    denom = np.sqrt(na2[None, :] * nb2[:, None])
                    cos = D / denom
                    mask = (
                        (denom > 0)
                        & np.isfinite(denom)
                        & (cos > threshold)
                        & (cids[:, None] > qids[None, :])
                    )
                bi, qi = np.nonzero(mask)
                out_a.append(qids[qi])
                out_b.append(cids[bi])
                out_c.append(cos[bi, qi])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos": np.concatenate(out_c),
                    }
                )

    return corpus.select(
        F.col(id_col), F.col(vec_col)
    ).mapInPandas(score, "id_a long, id_b long, cos double")


def knn_cosine_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the bounded query set, scan the corpus
    once, rank per query with a deterministic tiebreak.

    Each vector's squared norm is folded once, on its own side of the
    join; a pair folds only its dot product.  The cosine is the same
    double as :func:`cosine` gives: the same float ops in the same order.

    The projections are SQL text (``sqltext.select_sql``): the casts, the
    squared norms, the gated cosine, the ``row_number()`` window and the
    rounding, each dot product rendered by :func:`_dot_sql`.  Built
    from ``F.*`` Columns the same plan took about 700 py4j round trips on
    the driver; as text it takes about 40.  Its optimized plan is the
    Column form's (:func:`cosine`, ``_cosine_from_norms``) up to
    expression ids and lambda variable names, which
    ``tests/test_similarity.py`` pins with the rows bit for bit.

    Returns (query_id, neighbor_id, cos_sim rounded to 6, rk).
    """
    vec, qn2, cn2 = ident(vec_col), _dot_sql("_qv", "_qv"), _dot_sql("_cv", "_cv")
    q = select_sql(queries, [
        f"{ident(id_col)} AS query_id", f"CAST({vec} AS ARRAY<DOUBLE>) AS _qv"])
    q = select_sql(q, ["query_id", "_qv", f"{qn2} AS _qn2"])
    c = select_sql(corpus, [
        f"{ident(id_col)} AS neighbor_id", f"CAST({vec} AS ARRAY<DOUBLE>) AS _cv"])
    c = select_sql(c, ["neighbor_id", "_cv", f"{cn2} AS _cn2"])
    pairs = c.join(F.broadcast(q), F.expr("neighbor_id != query_id"))
    denom = "SQRT(_qn2 * _cn2)"
    # NaN > 0 holds in Spark's ordering; NaN < inf does not
    cos = (
        f"CASE WHEN ({denom} > 0) AND ({denom} < {literal(float('inf'))}) "
        f"THEN {_dot_sql('_qv', '_cv')} / {denom} END"
    )
    scored = select_sql(pairs, ["query_id", "neighbor_id", f"{cos} AS _cos"])
    ranked = select_sql(scored, [
        "query_id", "neighbor_id", "_cos",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY _cos DESC, neighbor_id ASC) AS rk",
    ]).where(f"rk <= {int(k)}")
    return select_sql(
        ranked, ["query_id", "neighbor_id", "round(_cos, 6) AS cos_sim", "rk"]
    )


def train_ivf_codebook(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_iters: int = 3,
) -> DataFrame:
    """Distributed Lloyd k-means codebook for the IVF coarse quantizer.

    Deterministic init (lowest-id corpus vectors), then ``n_iters`` rounds
    of assign + re-mean:

      * assignment: broadcast the (n_centroids × dim) codebook, per-row
        cosine argmin — one corpus scan, zero shuffle;
      * new means: explode to (centroid, dim_pos, value), one shuffle keyed
        by (centroid, pos) with map-side partial aggregation, re-assemble
        the mean vector ordered by position.

    The codebook itself is collected to the driver between rounds —
    n_centroids × dim doubles, a few KB — which keeps each round's lineage
    flat and the next broadcast trivial.  Empty clusters keep their
    previous centroid.  Everything is deterministic: same corpus → same
    codebook (ties break on lowest centroid_id).
    """
    c = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    spark = corpus.sparkSession
    cents = [
        (int(r["_id"]), [float(x) for x in r["_cv"]])
        # bounded: limit(n_centroids)
        for r in c.orderBy("_id").limit(n_centroids).collect()
    ]
    for _ in range(n_iters):
        cent_df = spark.createDataFrame(
            cents, "centroid_id long, _cent array<double>"
        )
        scored = c.crossJoin(F.broadcast(cent_df)).select(
            "_id", "_cv", "centroid_id", cosine(F.col("_cv"), F.col("_cent")).alias("_d")
        )
        w = W.partitionBy("_id").orderBy(F.desc("_d"), F.asc("centroid_id"))
        assigned = (
            scored.withColumn("_r", F.row_number().over(w)).where("_r = 1")
        )
        means = (
            assigned.select("centroid_id", F.posexplode("_cv").alias("_p", "_v"))
            .groupBy("centroid_id", "_p")
            .agg(F.avg("_v").alias("_m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cent")
            )
        )
        # bounded: one row per centroid
        new = {int(r["centroid_id"]): [float(x) for x in r["_cent"]] for r in means.collect()}
        cents = [(cid, new.get(cid, vec)) for cid, vec in cents]
    return spark.createDataFrame(cents, "centroid_id long, _cent array<double>")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Coarse quantizer: ``codebook`` when given (train one with
    :func:`train_ivf_codebook`), else ``n_centroids`` deterministic seed
    vectors (the lowest-id corpus vectors — a k-means init without
    iterations).  The corpus is assigned to its nearest centroid once
    (shuffle on centroid id = the inverted lists); each query probes its
    ``n_probe`` nearest lists and reranks exactly.

    At 100 TB the corpus pass is a single scan + one bounded-broadcast
    argmin; per-query cost drops from |C| to ~|C|·n_probe/n_centroids.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    centroids = (
        codebook
        if codebook is not None
        else corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("_cent"),
        )
    )

    def nearest_lists(side: DataFrame, vec: str, n_keep: int) -> DataFrame:
        scored = side.crossJoin(F.broadcast(centroids)).select(
            *side.columns, "centroid_id", cosine(F.col(vec), F.col("_cent")).alias("_d")
        )
        w = W.partitionBy(side.columns[0]).orderBy(F.desc("_d"), F.asc("centroid_id"))
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= n_keep)
            .drop("_d", "_r")
        )

    c_assigned = nearest_lists(c, "_cv", 1)
    q_assigned = nearest_lists(q, "_qv", n_probe)

    cands = c_assigned.join(F.broadcast(q_assigned), on="centroid_id").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("_cos")
    ).distinct()
    w = W.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_cos"), 6).alias("cos_sim"),
            "rk",
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def srp_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Signed-random-projection bucket id: one bit per hyperplane (sign of
    the projection), packed into a long.  Planes ride along as literal
    arrays — a few KB broadcast inside the plan, no driver loop."""
    bucket = F.lit(0).cast("long")
    for p in planes:
        plane_col = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec, plane_col) >= 0, 1).otherwise(0)
        bucket = bucket * 2 + bit
    return bucket


def _srp_buckets_vectorized(planes_all: np.ndarray, n_tables: int, dim: int):
    """All ``n_tables`` SRP bucket ids in ONE vectorized pass (r11, guide
    §4.2): a pandas UDF ``array<double> → array<long>`` whose inner loop
    accumulates ``acc += v[j]·p[j]`` over dimensions — the SAME IEEE ops in
    the SAME left-fold order as the ``_dot`` higher-order function, so
    every projection (and therefore every sign bit and bucket id) is
    bit-identical to the interpreted HOF form, while the work runs as
    ``dim`` NumPy array ops per batch instead of
    ``n_tables·n_planes`` interpreted fold evaluations per row.

    Rows whose vector length differs from ``dim`` keep the legacy
    semantics (``zip_with`` null-padding poisons the fold → every sign
    test fails → bucket 0 in every table).
    """
    n_planes = planes_all.shape[0] // n_tables
    pt = planes_all.T.copy()  # (dim, n_tables*n_planes)

    @F.pandas_udf("array<long>")
    def _buckets(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        zeros = np.zeros(n_tables, dtype=np.int64)
        for s in batches:
            vals = s.to_numpy()
            lens = np.fromiter((len(v) for v in vals), dtype=np.int64,
                               count=len(vals))
            ok = lens == dim
            out = np.empty(len(vals), dtype=object)
            if ok.any():
                V = np.stack(vals[ok]).astype(np.float64, copy=False)
                acc = np.zeros((V.shape[0], pt.shape[1]))
                for j in range(dim):
                    # mul then add as two separately-rounded float64 ops —
                    # exactly _dot's acc = acc + (x*y) fold step
                    acc += V[:, j : j + 1] * pt[j][None, :]
                bits = (acc >= 0).astype(np.int64)
                buckets = np.zeros((V.shape[0], n_tables), dtype=np.int64)
                for t in range(n_tables):
                    b = buckets[:, t]
                    for p in range(n_planes):
                        b *= 2
                        b += bits[:, t * n_planes + p]
                rows = list(buckets)
            else:
                rows = []
            it = iter(rows)
            for i in range(len(vals)):
                out[i] = next(it) if ok[i] else zeros
            yield pd.Series(out)

    return _buckets


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent SRP hash tables; a
    corpus/query pair is a candidate iff it collides in at least one table.
    Exact cosine rerank on the candidate set only.

    Recall rises with ``n_tables``; cost per query falls from |C| to the
    occupancy of its buckets (corpus hashed once per table — shuffle on the
    (table, bucket) key, identical at any scale factor).

    ``dim`` defaults to the corpus's actual vector length (one cheap probe
    of the first row) — a wrong dim would null every plane projection and
    silently collapse all vectors into one bucket.
    """
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            dim = 0
        else:
            dim = int(first["d"])
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    # one vectorized pass computes every table's bucket id (r11, guide
    # §4.1/§4.2): the former per-table ``srp_bucket`` union scanned the
    # corpus n_tables times and evaluated n_tables·n_planes interpreted
    # HOF dot-products per row; this hashes each side ONCE (single scan,
    # single ArrowEvalPython) and posexplodes the n_tables bucket ids —
    # bit-identical bucket values (see _srp_buckets_vectorized).
    planes_all = np.vstack(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )
    buckets_udf = _srp_buckets_vectorized(planes_all, n_tables, dim)
    c_all = c.withColumn("_b", buckets_udf(F.col("_cv"))).select(
        "neighbor_id", "_cv", F.posexplode("_b").alias("tbl", "bucket")
    )
    q_all = q.withColumn("_b", buckets_udf(F.col("_qv"))).select(
        "query_id", "_qv", F.posexplode("_b").alias("tbl", "bucket")
    )

    cands = (
        c_all.join(F.broadcast(q_all), on=["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
        .distinct()
    )
    scored = cands.select(
        "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("_cos")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_cos"), 6).alias("cos_sim"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): compact codes + asymmetric-distance search


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    n_iters: int = 3,
) -> list:
    """Train ``m`` per-subspace k-means codebooks (``k`` centroids each,
    squared-L2) — the PQ compressor that turns a D-float vector into ``m``
    small codes (m·log2(k) bits), the storage tier that makes
    billion-vector search feasible.

    All ``m`` subspace k-means run JOINTLY: vectors explode once into
    (row, subspace, subvector); assignment is a broadcast join on the
    subspace key + argmin; new means are one shuffle keyed by
    (subspace, centroid, position).  Per iteration: one corpus scan, one
    bounded shuffle.  The codebooks (k·D doubles total) collect to the
    driver between rounds — KBs, same as the IVF trainer.

    Returns ``m`` lists of ``k`` centroid subvectors (deterministic:
    lowest-id init, ties break on lowest centroid id).
    """
    spark = corpus.sparkSession
    dim_row = corpus.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"]) if dim_row else 0
    if dim == 0 or dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m

    subs = corpus.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(
                    F.col(vec_col).cast("array<double>"), s * sub_d + 1, sub_d
                ),
            )
        ).alias("sub", "_v"),
    )

    init = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_cv"))
        .orderBy("_id")
        .limit(k)
        .collect()  # bounded: limit(k)
    )
    # codebooks[s][c] = centroid c of subspace s
    books = [
        [[float(x) for x in r["_cv"][s * sub_d : (s + 1) * sub_d]] for r in init]
        for s in range(m)
    ]

    sq = F.aggregate(
        F.zip_with("_v", "_cent", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(n_iters):
        cents = spark.createDataFrame(
            [(s, c, books[s][c]) for s in range(m) for c in range(len(books[s]))],
            "sub int, cid int, _cent array<double>",
        )
        scored = subs.join(F.broadcast(cents), "sub").select(
            "_id", "sub", "_v", "cid", sq.alias("_d")
        )
        w = W.partitionBy("_id", "sub").orderBy(F.asc("_d"), F.asc("cid"))
        assigned = scored.withColumn("_r", F.row_number().over(w)).where("_r = 1")
        means = (
            assigned.select("sub", "cid", F.posexplode("_v").alias("pos", "x"))
            .groupBy("sub", "cid", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("sub", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("ps"))
            .select(
                "sub", "cid",
                F.transform("ps", lambda p: p["mx"]).alias("_cent"),
            )
            .collect()  # bounded: m × k centroids
        )
        for r in means:
            books[r["sub"]][r["cid"]] = [float(x) for x in r["_cent"]]
    return books


def pq_encode(
    corpus: DataFrame,
    books: list,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector as ``m`` codes (argmin-L2 centroid per
    subspace).  Pure expression against literal codebooks — one scan, no
    shuffle; output is (id, codes array<int>), the compact form stored at
    the billion-vector tier."""
    m = len(books)
    k = len(books[0])
    sub_d = len(books[0][0])
    vec = F.col(vec_col).cast("array<double>")

    # Distance ARRAYS + argmin, never a running-min when-chain: a chained
    # `when(d < best_d, ...)` re-nests the previous best expression twice
    # per centroid — a ~3^k expression tree that hangs analysis.  This form
    # is linear: m·k aggregates, materialized once via an intermediate
    # projection, argmin by array_position(first occurrence ⇒ lowest cid).
    def dists_for_sub(s: int) -> Column:
        subv = F.slice(vec, s * sub_d + 1, sub_d)
        return F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        subv,
                        F.array(*[F.lit(x) for x in books[s][c]]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in range(k)
            ]
        )

    staged = corpus.select(
        F.col(id_col),
        *[dists_for_sub(s).alias(f"_d{s}") for s in range(m)],
    )
    codes = F.array(
        *[
            (
                F.array_position(F.col(f"_d{s}"), F.array_min(F.col(f"_d{s}")))
                - 1
            ).cast("int")
            for s in range(m)
        ]
    )
    return staged.select(F.col(id_col), codes.alias("pq_codes"))


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    books: list,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query precomputes its
    (m × n_centroids) distance table — a per-row literal-shaped array —
    then every corpus row's distance is ``sum_s table[s][code_s]``: a pure
    HOF over the broadcast query side and the compact code column.  No
    shuffle on the corpus; TakeOrdered per query yields top-k.

    The query side broadcasts, so it must be bounded: it is collected at
    construction through ``_ckpt.collect_if_fits`` (fail fast, not a
    driver OOM mid-job) and broadcast from those rows."""
    side = queries.select(id_col, vec_col)
    rows = _ckpt.collect_if_fits(side)
    if rows is None:
        raise _oversized("pq_search query side")
    m = len(books)
    sub_d = len(books[0][0])
    qv = F.col(vec_col).cast("array<double>")

    def table_entry(s: int, c: int) -> Column:
        cent = F.array(*[F.lit(x) for x in books[s][c]])
        subq = F.slice(qv, s * sub_d + 1, sub_d)
        return F.aggregate(
            F.zip_with(subq, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    table = F.array(
        *[
            F.array(*[table_entry(s, c) for c in range(len(books[s]))])
            for s in range(m)
        ]
    )
    q = queries.sparkSession.createDataFrame(rows, side.schema).select(
        F.col(id_col).alias("query_id"), table.alias("_tbl")
    )
    joined = codes.crossJoin(F.broadcast(q))
    # adc = sum over subspaces of tbl[s][ code[s] ]
    paired = F.zip_with(
        F.col("_tbl"),
        F.col("pq_codes"),
        lambda row, code: F.element_at(row, code + 1),
    )
    adc = F.aggregate(paired, F.lit(0.0), lambda acc, x: acc + x)
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(adc, 6).alias("adc_dist"),
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def ivfpq_search(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    pq_iters: int = 2,
    books: list | None = None,
) -> DataFrame:
    """IVF-PQ: the production billion-vector topology — an IVF coarse
    quantizer prunes the corpus to ``n_probe`` inverted lists per query,
    then PQ asymmetric distance ranks only those candidates from their
    compact codes.

    The corpus is touched twice, both single scans: once for the coarse
    assignment, once for PQ encoding (at production scale both are
    precomputed and stored next to the codes).  Per query, work is
    ``n_probe/n_centroids`` of the corpus, on codes instead of raw
    vectors — memory traffic shrinks by ~D·4/m bytes per candidate.

    Returns (query_id, neighbor_id, adc_dist, rk) like :func:`pq_search`.
    """
    # coarse lists: deterministic seed centroids (lowest-id vectors)
    c = corpus.select(
        F.col(id_col).alias("_nid"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    seeds = [
        (int(r["_nid"]), [float(x) for x in r["_cv"]])
        # bounded: limit(n_centroids)
        for r in c.orderBy("_nid").limit(n_centroids).collect()
    ]
    spark = corpus.sparkSession
    cents = spark.createDataFrame(seeds, "cid long, _cent array<double>")

    def argmin_cid(vec_expr):
        scored = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            vec_expr,
                            F.array(*[F.lit(x) for x in seeds[i][1]]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(i).alias("i"),
                )
                for i in range(len(seeds))
            ]
        )
        return scored

    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.array_min(argmin_cid(F.col(vec_col).cast("array<double>")))["i"].alias(
            "list_id"
        ),
    )

    books = books or train_pq_codebooks(
        corpus, vec_col=vec_col, id_col=id_col, m=m, k=pq_k, n_iters=pq_iters
    )
    codes = pq_encode(assigned, books, vec_col=vec_col, id_col=id_col).join(
        assigned.select(id_col, "list_id"), id_col
    )

    # each query probes its n_probe nearest lists
    q_sorted = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        F.slice(
            F.transform(
                F.array_sort(argmin_cid(F.col(vec_col).cast("array<double>"))),
                lambda s: s["i"],
            ),
            1,
            n_probe,
        ).alias("_probes"),
    )
    probes = q_sorted.select(
        "query_id", "_qv", F.explode("_probes").alias("list_id")
    )

    # ADC over candidates in the probed lists only
    sub_d = len(books[0][0])
    table = F.array(
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            F.slice(F.col("_qv"), s * sub_d + 1, sub_d),
                            F.array(*[F.lit(x) for x in books[s][c2]]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for c2 in range(len(books[s]))
                ]
            )
            for s in range(m)
        ]
    )
    q_tables = probes.select("query_id", "list_id", table.alias("_tbl"))
    cand = codes.join(F.broadcast(q_tables), "list_id")
    adc = F.aggregate(
        F.zip_with(
            F.col("_tbl"), F.col("pq_codes"),
            lambda row, code: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(adc, 6).alias("adc_dist"),
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) — the standard way hybrid
    search engines merge a lexical (BM25) ranking with a vector (kNN)
    ranking without score calibration:  ``RRF(d) = Σ_lists 1/(k + rank)``.

    Portability/scale design: each list's contribution is pre-rounded to
    an integer ``round(1e9 / (k + rank))`` so the fused score is an
    ORDER-INDEPENDENT integer sum — exact under any partitioning and
    bit-identical across engines (a float Σ would be summation-order
    sensitive).  Plan: union of the input rankings (ids + integer ranks
    only — scores stay in their source queries), one id-keyed aggregate,
    bounded top-k sort.
    """
    parts = [
        r.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(rank_col).cast("long").alias("rank"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("id").agg(
        F.count("*").cast("long").alias("n_lists"),
        F.min("rank").cast("long").alias("best_rank"),
        F.sum(
            F.round(F.lit(1000000000.0) / (F.lit(k) + F.col("rank"))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("rrf_e9"),
    )
    return fused.orderBy(F.desc("rrf_e9"), F.asc("id")).limit(top_k)


def rank_biased_overlap(
    rank_a: DataFrame,
    rank_b: DataFrame,
    *,
    item_col: str = "item",
    rank_col: str = "rnk",
    k: int = 20,
    p: float = 0.9,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al., TOIS 2010) between
    two top-k rankings — the top-weighted list-similarity measure for
    comparing search/recsys result lists across models or time periods:
    ``RBO = (1−p)·Σ_{d≤k} p^{d−1}·|A_{:d} ∩ B_{:d}|/d``.

    The per-depth weights ``(1−p)p^{d−1}/d`` are PRE-ROUNDED e9 integer
    literals (no engine-side pow), overlaps are exact integer counts
    over the bounded top-k join, so the score is one integer sum scaled
    down — bit-portable.  The heavy part (producing the rankings) stays
    in the caller's aggregates; this comparison is bounded work.

    Returns one row ``(k, p_e3, n_common, rbo_e6)``.
    """
    weights = {
        d: round((1 - p) * (p ** (d - 1)) / d * 1e9) for d in range(1, k + 1)
    }
    spark = rank_a.sparkSession
    depth_rows = [(d, w) for d, w in weights.items()]
    depths = F.broadcast(
        spark.createDataFrame(depth_rows, "d int, w long")
    )
    a = rank_a.select(
        F.col(item_col).alias("it"), F.col(rank_col).alias("ra")
    ).where(F.col(rank_col) <= k)
    b = rank_b.select(
        F.col(item_col).alias("it"), F.col(rank_col).alias("rb")
    ).where(F.col(rank_col) <= k)
    common = a.join(b, "it").select(
        "it", F.greatest("ra", "rb").alias("dmin")
    )
    terms = common.crossJoin(depths).where(F.col("dmin") <= F.col("d"))
    agg = terms.agg(
        F.sum("w").cast("long").alias("wsum"),
        F.count_distinct("it").cast("long").alias("n_common"),
    )
    return agg.select(
        F.lit(k).cast("int").alias("k"),
        F.lit(int(round(p * 1000))).cast("long").alias("p_e3"),
        F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
        F.coalesce(
            F.round(F.col("wsum").cast("double") / 1000).cast("long"),
            F.lit(0).cast("long"),
        ).alias("rbo_e6"),
    )


def knn_classify(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    *,
    k: int = 5,
    test_pred=None,
    scale: int = 1_000_000,
) -> DataFrame:
    """k-nearest-neighbor classification by majority vote over exact
    integer squared-L2 distances — the label-propagation baseline every
    embedding pipeline needs before training anything.

    Split: rows satisfying ``test_pred`` (default: odd ids) are scored
    against the rest as the reference set.  Exactness (the ``kmeans``
    e6-integer contract): coordinates quantize to e6 bigints, distances
    are exact int64 ``‖a‖² + ‖b‖² − 2a·b`` matmuls (64 dims × (2e6)²
    ≈ 2.6e14 ≪ 2⁶³), neighbor order is total (distance asc, id asc) —
    the train side pre-sorts by id so a STABLE argsort on distance IS
    that order — and the vote is deterministic (count desc, label asc).

    Plan shape (100 TB): the test matrix broadcasts (bounded by
    contract — at scale you window the scoring set); ONE ``mapInPandas``
    numpy-matmul pass over the reference set emits only each
    partition's local top-k per test point (k·n_test rows per
    partition, never the full pairs matrix), then a global top-k merge
    and the vote.  The big side never shuffles.  The test split is
    collected at construction through ``_ckpt.collect_if_fits``; a split
    over its row cap raises.

    Returns ``(id, true_label, pred_label, correct)`` per test row.
    """
    import numpy as np

    qvec = F.transform(
        F.col(vec_col), lambda v: F.round(v.cast("double") * scale).cast("long")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        qvec.alias("q"),
    )
    pred = (
        test_pred(F.col("id"))
        if test_pred is not None
        else (F.col("id") % 2 == 1)
    )
    test = base.where(pred)
    train = base.where(~pred)

    trows = _ckpt.collect_if_fits(test)
    if trows is None:
        raise _oversized("knn_classify test side")
    t_ids = np.array([r["id"] for r in trows], dtype=np.int64)
    t_labels = np.array([r["label"] for r in trows], dtype=np.int64)
    t_mat = np.array([r["q"] for r in trows], dtype=np.int64)
    t_norm = (t_mat * t_mat).sum(axis=1)
    spark = df.sparkSession
    b_test = spark.sparkContext.broadcast((t_ids, t_labels, t_mat, t_norm))

    def local_topk(batches):
        import pandas as pd

        ids_t, labels_t, mat_t, norm_t = b_test.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            order = pdf["id"].to_numpy(dtype=np.int64).argsort(kind="stable")
            nid = pdf["id"].to_numpy(dtype=np.int64)[order]
            nlabel = pdf["label"].to_numpy(dtype=np.int64)[order]
            bmat = np.array(
                [pdf["q"].iloc[int(i)] for i in order], dtype=np.int64
            )
            bnorm = (bmat * bmat).sum(axis=1)
            # exact int64 distances: ||b||^2 + ||a||^2 - 2 b.a
            d = (
                bnorm[:, None]
                + norm_t[None, :]
                - 2 * (bmat @ mat_t.T)
            )
            # self-pairs (same id on both sides) are excluded
            mask = nid[:, None] == ids_t[None, :]
            if mask.any():
                d = np.where(mask, np.iinfo(np.int64).max, d)
            kk = min(k, d.shape[0])
            # rows pre-sorted by nid -> stable argsort on d == (d, nid)
            idx = np.argsort(d, axis=0, kind="stable")[:kk, :]
            out = {
                "tid": np.repeat(ids_t[None, :], kk, axis=0).ravel(),
                "tlabel": np.repeat(labels_t[None, :], kk, axis=0).ravel(),
                "nid": nid[idx].ravel(),
                "nlabel": nlabel[idx].ravel(),
                "d": np.take_along_axis(d, idx, axis=0).ravel(),
            }
            yield pd.DataFrame(out)

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    cand = train.mapInPandas(
        local_topk,
        "tid long, tlabel long, nid long, nlabel long, d long",
    ).where(F.col("d") < np.iinfo(np.int64).max)
    w_nn = W.partitionBy("tid").orderBy(F.col("d"), F.col("nid"))
    nn = cand.withColumn("rk", F.row_number().over(w_nn)).where(
        F.col("rk") <= k
    )
    votes = nn.groupBy("tid", "tlabel", "nlabel").agg(
        F.count("*").alias("votes")
    )
    w_vote = W.partitionBy("tid").orderBy(
        F.col("votes").desc(), F.col("nlabel")
    )
    best = votes.withColumn("vr", F.row_number().over(w_vote)).where(
        F.col("vr") == 1
    )
    return best.select(
        F.col("tid").alias(id_col),
        F.col("tlabel").cast("int").alias("true_label"),
        F.col("nlabel").cast("int").alias("pred_label"),
        (F.col("tlabel") == F.col("nlabel")).cast("int").alias("correct"),
    )
