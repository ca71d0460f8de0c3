"""DSIR-style importance weighting: hashed-n-gram likelihood ratios.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023,
arXiv:2302.03169) selects pretraining documents whose hashed-n-gram
feature distribution looks like a small *target* corpus rather than the
*raw* crawl.  The public method:

  1. featurize every document as counts over ``m`` hash buckets of its
     word uni+bigrams;
  2. fit two unigram bag-of-buckets models — ``p`` on the target set,
     ``q`` on the raw set (Laplace-smoothed);
  3. score each raw document ``log p(x) - log q(x)
     = sum_b count_b(x) * (log p_b - log q_b)``;
  4. keep the top-k (the paper resamples with Gumbel noise; the
     deterministic top-k variant is used here so results are exactly
     reproducible and oracle-checkable).

Scale design (100 TB raw corpus, small target set):
- The learned bucket table is ``m`` rows (``m`` ~ 10k), built with one
  hash-aggregate over each corpus and **broadcast** for scoring — the
  raw corpus is never shuffled to score it.
- Feature extraction is row-local built-ins (split/transform/explode is
  confined to the two aggregate passes); scoring re-extracts features
  and sums ``count * weight`` via a broadcast map lookup, all inside
  whole-stage codegen.  No Python in any path.
- Bucketing uses the first 8 hex chars of ``md5`` so any engine
  reproduces the exact same buckets (``xxhash64`` seeds differ across
  engines; md5 does not).

No counterpart in the reference repo (arcpy has no text pipeline); part
of the LLM-training-data extension surface (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+", -1), lambda t: t != F.lit(""))


def _hashed_features_of_tokens(toks: Column, *, m: int) -> Column:
    """Bucket ids over a PRE-STAGED token array column.

    ``toks`` must be a materialized column, not the raw split expression:
    the per-index ``slice`` lambda re-evaluates its input expression on
    every access (no CSE inside higher-order-function lambdas), which
    turns an inline tokenizer into O(len²) work per document — staging
    the array behind a projection boundary measured 12 s → ~2 s on the
    dsir_weights query at sf0.1."""
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, bigrams)
    return F.transform(
        grams,
        lambda g: (F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long") % m),
    )


def _explode_features(df: DataFrame, text_col: str, id_cols: list, *, m: int) -> DataFrame:
    """(ids..., bucket) rows with the tokenizer staged behind a projection
    boundary so feature extraction is O(len) per document."""
    staged = df.select(*id_cols, _tokens(F.col(text_col)).alias("_toks"))
    return staged.select(
        *id_cols,
        F.explode(_hashed_features_of_tokens(F.col("_toks"), m=m)).alias("bucket"),
    )


def _bucket_log_probs(
    df: DataFrame, text_col: str, *, m: int, prefix: str
) -> DataFrame:
    """One hash-aggregate: Laplace-smoothed log P(bucket) of a corpus.

    Output is at most ``m`` rows (absent buckets fall back to the
    smoothing floor at scoring time), small enough to broadcast.
    """
    counts = (
        _explode_features(df, text_col, [], m=m)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bucket",
        F.log((F.col("n") + F.lit(1.0)) / (F.col("total") + F.lit(float(m)))).alias(
            f"{prefix}_logp"
        ),
        F.col("total").alias(f"{prefix}_total"),
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 4096,
    top_k: int | None = None,
) -> DataFrame:
    """Score every ``raw`` document by the DSIR log-likelihood ratio
    against ``target``; optionally keep only the ``top_k`` by weight.

    Returns ``(id_col, n_features, weight)``; ``weight`` is rounded to 4
    decimals (it is a sum of float logs — rounding makes it stable for
    hash comparison across engines).  Ties in top-k break on ``id_col``
    so the cut is deterministic.
    """
    # each bucket model is a ≤ m-row table feeding three consumers (the
    # full-outer join, its own total aggregate and the smoothing floor);
    # without materialization every consumer re-executes the full corpus
    # explode+aggregate behind it (r11, guide §2.4)
    p = _bucket_log_probs(target, text_col, m=m, prefix="p").localCheckpoint(
        eager=True
    )
    q = _bucket_log_probs(raw, text_col, m=m, prefix="q").localCheckpoint(
        eager=True
    )
    # m-row table: bucket -> (log p_b - log q_b), smoothed floor for
    # buckets unseen on either side.  Broadcast for the scoring join.
    weights = (
        p.join(q, "bucket", "full_outer")
        .crossJoin(
            F.broadcast(
                p.agg(F.max("p_total").alias("pt")).crossJoin(
                    q.agg(F.max("q_total").alias("qt"))
                )
            )
        )
        .select(
            "bucket",
            (
                F.coalesce(
                    F.col("p_logp"),
                    F.log(F.lit(1.0) / (F.col("pt") + F.lit(float(m)))),
                )
                - F.coalesce(
                    F.col("q_logp"),
                    F.log(F.lit(1.0) / (F.col("qt") + F.lit(float(m)))),
                )
            ).alias("w"),
        )
    )

    # Score per gram OCCURRENCE (sum of w over occurrences == sum of
    # count*w over buckets): explode -> broadcast weight lookup -> ONE
    # groupBy(doc).  Map-side partial aggregation bounds the only corpus
    # shuffle at O(#docs); there is no intermediate (doc, bucket) shuffle.
    scored = (
        _explode_features(raw, text_col, [F.col(id_col)], m=m)
        .join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_features"),
            # + 0.0 collapses IEEE -0.0 so the rounded value is byte-stable
            (
                F.round(F.sum(F.coalesce(F.col("w"), F.lit(0.0))), 4)
                + F.lit(0.0)
            ).alias("weight"),
        )
    )
    if top_k is not None:
        scored = (
            scored.orderBy(F.desc("weight"), F.col(id_col)).limit(top_k)
        )
    return scored
