"""Frequent-itemset mining: pairwise co-occurrence with support/lift.

The first (and at corpus scale, usually the only affordable) round of
Apriori: frequent 2-itemsets over baskets, with support and lift.  The
classic retail shape (parts co-ordered in one order) and equally the
feature-co-occurrence shape in training-data analysis.

Scale design (100 TB of baskets):
- Item frequency pass prunes below-support items FIRST (Apriori's
  monotonicity: a pair can't be frequent if either item isn't), so the
  pair explosion only happens over surviving items.
- Pairs are generated per basket from the SORTED item array (i < j), so
  each unordered pair appears once — no dedup shuffle, no reversed
  duplicates.  Per-basket fan-out is quadratic in basket width — wide
  baskets are capped (documented knob) exactly like every production
  basket miner.
- Two hash aggregates + one broadcast of the (bounded) frequent-item
  table; lift derives from broadcast item supports, no extra pass.

No counterpart in the reference repo; part of the analytics extension
surface (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from smartpy_arc_spark.operators._ckpt import sized_local_checkpoint


def frequent_pairs(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket: int = 64,
) -> DataFrame:
    """Frequent unordered item pairs across baskets.

    Returns ``(item_a, item_b, n_baskets, lift)`` for pairs co-occurring
    in at least ``min_support`` baskets; ``item_a < item_b``; ``lift`` =
    P(a,b) / (P(a)·P(b)) over the basket universe, rounded to 4.
    Baskets wider than ``max_basket`` distinct frequent items are
    dropped (quadratic fan-out guard — the standard miner knob).
    """
    # deduped baskets feed the universe count, the item-frequency pass
    # and the prune join; item_freq feeds the frequent filter and both
    # lift sides — materialize each once (r11, guide §2.4)
    baskets = sized_local_checkpoint(
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        ).distinct()
    )
    n_baskets = baskets.select("__b").distinct().count()

    item_freq = baskets.groupBy("__i").agg(
        F.count("*").alias("__if")
    ).localCheckpoint(eager=True)
    frequent_items = item_freq.where(F.col("__if") >= min_support)

    pruned = baskets.join(F.broadcast(frequent_items), "__i")
    per_basket = (
        pruned.groupBy("__b")
        .agg(F.sort_array(F.collect_set("__i")).alias("__items"))
        .where(F.size("__items").between(2, max_basket))
    )
    pairs = per_basket.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("__items"),
                        lambda x: F.transform(
                            F.col("__items"), lambda y: F.struct(x.alias("a"), y.alias("b"))
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("__p")
    )
    pair_counts = (
        pairs.groupBy(F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b"))
        .agg(F.count("*").cast("long").alias("n_baskets"))
        .where(F.col("n_baskets") >= min_support)
    )
    fa = item_freq.select(F.col("__i").alias("item_a"), F.col("__if").alias("__fa"))
    fb = item_freq.select(F.col("__i").alias("item_b"), F.col("__if").alias("__fb"))
    return (
        pair_counts.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_baskets",
            (
                F.round(
                    (F.col("n_baskets") * F.lit(float(n_baskets)))
                    / (F.col("__fa") * F.col("__fb")),
                    4,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
    )


def item_similarity(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_cooccur: int = 2,
    top_k_per_item: int = 5,
) -> DataFrame:
    """Item-item collaborative-filtering similarity from basket
    co-occurrence: ``cos(i, j) = n_ij / √(n_i · n_j)`` — the classic
    "customers who bought X also bought Y" score.

    Shuffle shape: distinct (basket, item) pairs self-join ON THE BASKET
    (candidate generation is basket-local, never item × item), one hash
    aggregate to co-occurrence counts, item supports broadcast back.
    Per-item top-k via a window over the item partition.  The similarity
    is ``round`` of one exact-integer ratio (√ on exact counts) —
    deterministic.

    Returns ``(item_a, item_b, n_cooccur, sim_e6, rank)`` with ordered
    pairs (both directions, so each item's top-k is complete).
    """
    from pyspark.sql import Window

    # deduped (basket, item) rows feed the supports aggregate and both
    # co-occurrence self-join sides — materialize once (r11, guide §2.4)
    bi = sized_local_checkpoint(
        df.select(
            F.col(basket_col).alias("b"), F.col(item_col).alias("i")
        ).distinct()
    )
    supports = bi.groupBy("i").agg(F.count("*").alias("n"))
    co = (
        bi.alias("x")
        .join(bi.alias("y"), "b")
        .where(F.col("x.i") != F.col("y.i"))
        .groupBy(
            F.col("x.i").alias("item_a"), F.col("y.i").alias("item_b")
        )
        .agg(F.count("*").alias("n_cooccur"))
        .where(F.col("n_cooccur") >= min_cooccur)
    )
    scored = (
        co.join(
            F.broadcast(supports.select(F.col("i").alias("item_a"),
                                        F.col("n").alias("na"))),
            "item_a",
        )
        .join(
            F.broadcast(supports.select(F.col("i").alias("item_b"),
                                        F.col("n").alias("nb"))),
            "item_b",
        )
        .withColumn(
            "sim_e6",
            F.round(
                F.col("n_cooccur").cast("double")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
                * 1000000
            ).cast("long"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(
        F.desc("sim_e6"), F.col("item_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k_per_item)
        .select(
            "item_a", "item_b",
            F.col("n_cooccur").cast("long").alias("n_cooccur"),
            "sim_e6",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def association_rules(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_confidence_e6: int = 0,
    max_basket: int = 64,
) -> DataFrame:
    """Directed association rules ``a → b`` from basket co-occurrence —
    the Agrawal/Srikant market-basket output that :func:`frequent_pairs`
    stops short of: per ordered pair, SUPPORT (co-occurrence count),
    CONFIDENCE ``P(b|a)``, LIFT, and CONVICTION
    ``(1 − P(b)) / (1 − conf)``.

    Every measure is emitted as an e6 fixed-point integer computed as
    ONE division of exact integer operands, so results are bit-identical
    across engines:

    - ``confidence_e6 = round(1e6·n_ab / n_a)``
    - ``lift_e6       = round(1e6·n_ab·n_tx / (n_a·n_b))``
    - ``conviction_e6 = round(1e6·(n_tx − n_b)·n_a / (n_tx·(n_a − n_ab)))``
      (NULL when confidence = 1 — conviction is +∞ there by definition).

    Plan mirrors :func:`frequent_pairs` (support-pruned pair expansion
    with the quadratic ``max_basket`` fan-out guard), then each unordered
    pair emits both directions and joins broadcast item supports.  The
    basket-universe size is a 1-row scalar reused as a literal.
    """
    # the frequent_pairs materialization discipline (r11, guide §2.4)
    baskets = sized_local_checkpoint(
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        ).distinct()
    )
    n_tx = baskets.select("__b").distinct().count()

    item_freq = baskets.groupBy("__i").agg(
        F.count("*").cast("long").alias("__if")
    ).localCheckpoint(eager=True)
    frequent_items = item_freq.where(F.col("__if") >= min_support)

    pruned = baskets.join(F.broadcast(frequent_items.select("__i")), "__i")
    per_basket = (
        pruned.groupBy("__b")
        .agg(F.sort_array(F.collect_set("__i")).alias("__items"))
        .where(F.size("__items").between(2, max_basket))
    )
    pairs = per_basket.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("__items"),
                        lambda x: F.transform(
                            F.col("__items"),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("__p")
    )
    pair_counts = (
        pairs.groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .agg(F.count("*").cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= min_support)
    )
    directed = pair_counts.unionByName(
        pair_counts.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "n_ab"
        )
    )
    fa = item_freq.select(F.col("__i").alias("a"), F.col("__if").alias("n_a"))
    fb = item_freq.select(F.col("__i").alias("b"), F.col("__if").alias("n_b"))
    ntx = F.lit(int(n_tx)).cast("long")
    scored = (
        directed.join(F.broadcast(fa), "a")
        .join(F.broadcast(fb), "b")
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("n_ab").alias("support"),
            F.col("n_a"),
            F.col("n_b"),
            F.round(
                F.col("n_ab").cast("double") * 1e6 / F.col("n_a").cast("double")
            )
            .cast("long")
            .alias("confidence_e6"),
            F.round(
                (F.col("n_ab") * ntx).cast("double")
                * 1e6
                / (F.col("n_a") * F.col("n_b")).cast("double")
            )
            .cast("long")
            .alias("lift_e6"),
            F.when(
                F.col("n_a") > F.col("n_ab"),
                F.round(
                    ((ntx - F.col("n_b")) * F.col("n_a")).cast("double")
                    * 1e6
                    / (ntx * (F.col("n_a") - F.col("n_ab"))).cast("double")
                ).cast("long"),
            ).alias("conviction_e6"),
        )
    )
    return scored.where(
        F.col("confidence_e6") >= F.lit(min_confidence_e6)
    ).orderBy("antecedent", "consequent")


def ndcg_at_k(
    df: DataFrame,
    group_col: str,
    score_col: str,
    rel_col: str,
    id_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """NDCG@k per group — the graded-relevance ranking metric
    (Järvelin & Kekäläinen, TOIS 2002): DCG sums each of the top-k
    scored items' relevance discounted by 1/log2(rank+1); normalizing
    by the ideal ordering's DCG gives [0, 1].

    Portability: the k discount factors are PRE-ROUNDED integer
    literals (``round(1e6 / log2(i + 1))``) computed once in Python and
    inlined identically into any engine — log2 never runs engine-side,
    so DCG is an exact integer sum and NDCG is one IEEE division.  Two
    rank windows inside the group partition (scored order, ideal
    order), no global sort.

    Returns ``(group, n_items, dcg_e6, idcg_e6, ndcg_e6)``.
    """
    import math

    weights = {i: round(1e6 / math.log2(i + 1)) for i in range(1, k + 1)}
    w_expr = F.create_map(
        *[x for i, w in weights.items() for x in (F.lit(i), F.lit(w))]
    )
    g = F.col(group_col)
    scored_w = W.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    ideal_w = W.partitionBy(group_col).orderBy(
        F.desc(rel_col), F.asc(id_col)
    )
    ranked = df.select(
        g.alias("grp"),
        F.col(rel_col).cast("long").alias("rel"),
        F.row_number().over(scored_w).alias("r_s"),
        F.row_number().over(ideal_w).alias("r_i"),
    )
    terms = ranked.select(
        "grp",
        F.when(
            F.col("r_s") <= k,
            F.col("rel") * F.element_at(w_expr, F.col("r_s")),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("dcg_t"),
        F.when(
            F.col("r_i") <= k,
            F.col("rel") * F.element_at(w_expr, F.col("r_i")),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("idcg_t"),
    )
    out = terms.groupBy(F.col("grp").alias(group_col)).agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("dcg_t").cast("long").alias("dcg_e6"),
        F.sum("idcg_t").cast("long").alias("idcg_e6"),
    )
    return out.select(
        group_col,
        "n_items",
        "dcg_e6",
        "idcg_e6",
        F.when(
            F.col("idcg_e6") > 0,
            F.round(
                F.col("dcg_e6").cast("double")
                / F.col("idcg_e6").cast("double")
                * 1000000
            ).cast("long"),
        ).alias("ndcg_e6"),
    ).orderBy(group_col)


def frequent_triples(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int,
) -> DataFrame:
    """Frequent 3-itemsets with Apriori pruning — the level-3 step of
    market-basket mining: only items and (a, b) pairs that are
    themselves frequent enter the triple join (the downward-closure
    property), so the cubic blow-up never materializes on infrequent
    tails.

    Scale shape: each level is a basket-keyed equi-join + bounded-key
    aggregate; frequent-item and frequent-pair filters broadcast (their
    cardinality is support-bounded).  Baskets are deduped first so
    support counts distinct baskets.

    Returns ``(item_a, item_b, item_c, support)`` with ``item_a <
    item_b < item_c``, ordered by support desc then items.
    """
    # deduped (basket, item) rows feed the level-1 frequency pass and —
    # as the pruned table f — both sides of the pair join, the candidate
    # join and the closing third-item join: materialize each once (r11,
    # guide §2.4; the deduped distinct otherwise re-executed 6×)
    items = sized_local_checkpoint(
        df.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        ).distinct()
    )
    freq1 = (
        items.groupBy("it")
        .agg(F.count("*").alias("n1"))
        .where(F.col("n1") >= min_support)
        .select("it")
    )
    f = sized_local_checkpoint(
        items.join(F.broadcast(freq1), "it").select("bk", "it")
    )
    a, b = f.alias("a"), f.alias("b")
    # the basket-keyed pair expansion feeds BOTH the level-2 support
    # aggregate and (filtered by freq2) the level-3 candidate set — run
    # the expensive join once and materialize it (r11: it ran twice).
    # scale=32: the expansion is super-linear (about half the mean
    # frequent-basket width per surviving item row) — the guard prices
    # that in before pinning it in non-replicated storage
    ab = sized_local_checkpoint(
        a.join(b, F.col("a.bk") == F.col("b.bk"))
        .where(F.col("a.it") < F.col("b.it"))
        .select(
            F.col("a.bk").alias("cbk"),
            F.col("a.it").alias("it_a"),
            F.col("b.it").alias("it_b"),
        ),
        scale=32.0,
    )
    pairs = ab.groupBy(
        F.col("it_a").alias("ia"), F.col("it_b").alias("ib")
    ).agg(F.count("*").alias("n2"))
    freq2 = pairs.where(F.col("n2") >= min_support).select("ia", "ib")
    cand = ab.join(
        F.broadcast(freq2),
        (F.col("it_a") == F.col("ia")) & (F.col("it_b") == F.col("ib")),
    ).select("cbk", "it_a", "it_b")
    c = f.alias("c")
    triples = (
        cand.join(c, F.col("cbk") == F.col("c.bk"))
        .where(F.col("it_b") < F.col("c.it"))
        .groupBy(
            F.col("it_a").alias("item_a"),
            F.col("it_b").alias("item_b"),
            F.col("c.it").alias("item_c"),
        )
        .agg(F.count("*").cast("long").alias("support"))
        .where(F.col("support") >= min_support)
    )
    return triples.orderBy(
        F.desc("support"), "item_a", "item_b", "item_c"
    )


def ir_eval(
    df: DataFrame,
    group_col: str,
    score_col: str,
    rel_col: str,
    id_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Binary-relevance IR evaluation per group: MRR, AP@k, P@k, R@k —
    the un-graded companion to :func:`ndcg_at_k` (binary labels are what
    dedup/retrieval pipelines actually have).

    Portability (the ndcg contract): the k reciprocal-rank values
    ``round(1e6/r)`` are PRE-ROUNDED integer literals inlined into both
    engines; AP@k's per-hit precision terms ``c/r`` pre-round to e6 and
    sum as integers, with ONE final division by ``min(R, k)``.  Ranks
    are deterministic (score desc, id asc).  Groups with no relevant
    items return 0 MRR and null AP/recall.

    Two windows inside the group partition — no global sort.
    Returns ``(group, n_items, n_rel, rr_e6, ap_e6, p_at_k_e6,
    r_at_k_e6)``.
    """
    rr_lit = {r: round(1e6 / r) for r in range(1, k + 1)}
    rr_map = F.create_map(
        *[x for r, w in rr_lit.items() for x in (F.lit(r), F.lit(w))]
    )
    ranked = df.select(
        F.col(group_col).alias("g"),
        F.col(rel_col).cast("int").alias("rel"),
        F.row_number().over(
            W.partitionBy(group_col).orderBy(
                F.col(score_col).desc(), F.col(id_col)
            )
        ).alias("rk"),
    )
    w_cum = (
        W.partitionBy("g").orderBy("rk").rowsBetween(W.unboundedPreceding, 0)
    )
    cumd = ranked.select(
        "g", "rel", "rk", F.sum("rel").over(w_cum).alias("c")
    )
    ap_term = F.when(
        (F.col("rel") == 1) & (F.col("rk") <= k),
        F.round(
            F.col("c").cast("double") / F.col("rk").cast("double") * 1e6
        ).cast("long"),
    )
    agg = cumd.groupBy("g").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("rel").cast("long").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("fr"),
        F.sum(ap_term).cast("long").alias("ap_sum"),
        F.sum(F.when((F.col("rel") == 1) & (F.col("rk") <= k), 1).otherwise(0))
        .cast("long")
        .alias("c_k"),
    )
    r_tot = F.col("n_rel")
    denom = F.least(r_tot, F.lit(k).cast("long"))
    return agg.select(
        F.col("g").alias(group_col),
        "n_items",
        "n_rel",
        F.coalesce(rr_map[F.col("fr")], F.lit(0)).cast("long").alias("rr_e6"),
        F.when(
            r_tot > 0,
            F.round(
                F.col("ap_sum").cast("double") / denom.cast("double")
            ).cast("long"),
        ).alias("ap_e6"),
        F.round(F.col("c_k").cast("double") / k * 1e6)
        .cast("long")
        .alias("p_at_k_e6"),
        F.when(
            r_tot > 0,
            F.round(
                F.col("c_k").cast("double") / r_tot.cast("double") * 1e6
            ).cast("long"),
        ).alias("r_at_k_e6"),
    )
