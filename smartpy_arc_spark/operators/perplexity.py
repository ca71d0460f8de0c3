"""CCNet-style perplexity scoring and bucketing (char-trigram LM).

CCNet (Wenzek et al., LREC 2020, arXiv:1911.00359) ranks crawl documents
by the perplexity of a language model trained on a clean reference
corpus (the paper: KenLM 5-gram on Wikipedia) and splits the corpus into
head/middle/tail tertiles — head feeds training, tail is discarded.

This operator reproduces that shape with an engine-portable model: a
Laplace-smoothed character-trigram LM "trained" (counted) on a reference
subset of the corpus itself, scored as per-character cross-entropy.
Swap the count table for real KenLM scores via a Pandas UDF if the
binary model is available; the bucketing machinery is unchanged.

Scale design (100 TB):
- The LM is a bounded count table (|charset|³ rows max, in practice far
  fewer), built with one aggregate over the reference slice and
  **broadcast** for scoring — the corpus never shuffles to be scored.
- Scoring explodes each doc into its trigrams but aggregates straight
  back to one row per doc (map-side partial agg bounds the shuffle at
  O(#docs)); the trigram extraction is substring/transform built-ins in
  whole-stage codegen, no Python anywhere.
- The tertile split uses exact global percentiles of the per-doc score
  (one scalar aggregate); at the 100 TB tier swap in
  ``approx_percentile`` — the cut points are statistics, not semantics.

No counterpart in the reference repo; part of the LLM-training-data
extension surface (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tri_exploded(
    df: DataFrame, keep_cols: list, text_col: str, hash_grams: bool
) -> DataFrame:
    """(keep_cols…, tri) rows — one row per trigram occurrence.

    The normalized text is STAGED as a real column before the transform
    lambda indexes into it: substring over the raw regexp_replace
    EXPRESSION re-evaluates the whole normalization per element (no CSE
    inside HOF lambdas — the ``ngram_novelty`` discovery), which is
    O(len²) per document.  With ``hash_grams`` each trigram compresses
    to an int64 xxhash64 inside the array pre-explode, so the LM join
    probes 8-byte keys instead of strings."""
    t = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    staged = df.select(*keep_cols, t.alias("_t"))
    tt = F.col("_t")
    tris = F.when(
        F.length(tt) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(tt) - 2),
            lambda i: F.substring(tt, i, 3),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if hash_grams:
        tris = F.transform(tris, lambda g: F.xxhash64(g))
    return staged.select(*keep_cols, F.explode(tris).alias("tri"))


def perplexity_buckets(
    corpus: DataFrame,
    reference: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    head: float = 1.0 / 3.0,
    tail: float = 2.0 / 3.0,
    hash_grams: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """Per-document cross-entropy under a reference char-trigram LM, with
    CCNet head/middle/tail bucketing at the ``head``/``tail`` quantiles.

    Returns ``(id_col, n_trigrams, cross_entropy, bucket)``;
    ``cross_entropy`` is mean negative log-probability per trigram
    (rounded to 4), lower = more reference-like; ``bucket`` is
    'head' | 'middle' | 'tail' (ties at a cut point go to the better
    bucket, matching SQL ``<=`` semantics).

    ``hash_grams=True`` (default) keys the LM and the probe side on
    xxhash64(trigram) int64s (the ``ngram_novelty`` pattern): counts and
    log-probs are identical unless two distinct corpus trigrams collide
    in 64 bits (~m²/2⁶⁵ for m ≤ |charset|³ — immaterial), so the exact
    oracle contract holds while the broadcast table and probe keys drop
    from ~20-byte strings to 8 bytes.
    """
    # materialize the LM count table ONCE (r11, guide §2.4/§5): it is a
    # BOUNDED table (≤ |charset|³ rows) but its lineage re-scans and
    # re-explodes the whole reference slice, and this frame feeds FOUR
    # consumers (vocab_total twice, lm_probs, and through them the
    # scoring join) — the un-checkpointed plan executed the reference
    # trigram pass SIX times (r11 plan audit: 6 identical Generate+
    # HashAggregate subtrees over the reference scan).  One eager
    # localCheckpoint makes every consumer read the materialized rows;
    # the counted values are identical, so the output is bit-unchanged.
    # ``materialize=False`` (tests / plan inspection) skips both
    # checkpoints so the full lineage — including the broadcast LM join —
    # stays visible in one explain; the computed values are identical.
    lm = (
        _tri_exploded(reference, [], text_col, hash_grams)
        .groupBy("tri")
        .agg(F.count("*").alias("n"))
    )
    if materialize:
        # EAGER on purpose (r12 re-measure): the consumers are broadcast
        # builds that run CONCURRENTLY inside one query — with a lazy
        # checkpoint each racing broadcast recomputes the reference pass
        # before any of them manages to persist it (+0.8 s at sf0.1)
        lm = lm.localCheckpoint(eager=True)
    vocab_total = lm.agg(
        F.sum("n").alias("total"), F.count("*").alias("vocab")
    )
    # log P(tri) = ln((n+1)/(total+vocab+1)); unseen trigrams share one
    # floor probability.  +1 in the denominator accounts for the single
    # merged "unseen" event so probabilities stay normalizable.
    lm_probs = lm.crossJoin(F.broadcast(vocab_total)).select(
        "tri",
        F.log(
            (F.col("n") + F.lit(1.0))
            / (F.col("total") + F.col("vocab") + F.lit(1.0))
        ).alias("logp"),
    )

    per_tri = _tri_exploded(corpus, [F.col(id_col)], text_col, hash_grams)
    scored = (
        per_tri.join(F.broadcast(lm_probs), "tri", "left")
        .crossJoin(F.broadcast(vocab_total))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            (
                F.round(
                    -F.sum(
                        F.coalesce(
                            F.col("logp"),
                            F.log(
                                F.lit(1.0)
                                / (F.col("total") + F.col("vocab") + F.lit(1.0))
                            ),
                        )
                    )
                    / F.count("*"),
                    4,
                )
                + F.lit(0.0)
            ).alias("cross_entropy"),
        )
        # materialize the per-doc scores ONCE (r11): `scored` feeds both
        # the tertile-cut aggregate (a broadcast side) and the final
        # bucketed output, and without this the whole corpus explode +
        # LM probe + per-doc aggregate executed TWICE — at 100 TB that
        # is a second full corpus pass for two cut points.  The frame is
        # O(#docs) narrow rows; cuts computed from the materialized
        # values are the same doubles, so buckets are bit-unchanged.
    )
    if materialize:
        # lazy (r12): the cut-point broadcast inside the final query is
        # the materializing job (it completes before the main scan
        # probes it — broadcasts build first), so the eager checkpoint
        # job is free.  NOTE the exact percentile below is NOT the
        # full-column buffer cliff the headline percentiles query had:
        # cross_entropy is rounded to 4 decimals over a bounded range
        # (≤ ln(total+vocab+1)·1e4 ≈ 3·10⁵ grid points), so the
        # builtin's distinct-value counts map is bounded at ANY corpus
        # size; swapping in distributed_exact_percentiles was measured
        # at +1.1 s for no scale risk removed and reverted.
        scored = scored.localCheckpoint(eager=False)
    cuts = scored.agg(
        F.expr(
            f"percentile(cross_entropy, array({head}, {tail}))"
        ).alias("c")
    ).select(
        F.col("c")[0].alias("head_cut"), F.col("c")[1].alias("tail_cut")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            id_col,
            "n_trigrams",
            "cross_entropy",
            F.when(F.col("cross_entropy") <= F.col("head_cut"), "head")
            .when(F.col("cross_entropy") <= F.col("tail_cut"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
