"""Benchmark decontamination: word-n-gram overlap against an eval set.

Training-data pipelines must drop (or at least flag) documents that
contain verbatim chunks of held-out benchmark data.  The standard test
is word-level n-gram collision (n≈13 for real corpora): a document is
contaminated when some of its n-grams also appear in the benchmark set.

Scale design (100 TB corpus, MB-sized benchmark):
- The benchmark side is tiny by construction (eval sets are thousands of
  documents).  Its *distinct* n-gram set is built once and **broadcast**,
  so the corpus side never shuffles for the join.
- The corpus side explodes to one row per distinct (doc, n-gram) but
  aggregates straight back to one row per doc — map-side partial
  aggregation keeps the shuffle at O(#docs), not O(#ngrams).
- All expressions are built-in (split/slice/transform/array_join):
  whole-stage codegen end to end, no Python in the hot path.

No counterpart in the reference repo (arcpy has no text pipeline); this
is part of the LLM-training-data extension surface (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams_of_tokens(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams over a PRE-STAGED token array
    column.  ``toks`` must be materialized (a projected column): slice()
    inside the transform lambda re-evaluates its input expression per
    index (no CSE in HOF lambdas), so an inline tokenizer would make
    gram extraction O(len²) per document.  Documents shorter than ``n``
    words yield an empty array — guarded because ``sequence(0, size-n)``
    would otherwise produce a *descending* sequence for short docs."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _space_tokens(text: Column) -> Column:
    return F.filter(F.split(text, " ", -1), lambda t: t != F.lit(""))


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping token windows (``chunk_tokens``
    wide, advancing ``stride`` tokens) — the standard pre-embedding chunker.

    Row-local: tokenize → windows via sequence/transform/slice →
    posexplode.  No shuffle at all; output is one row per chunk with
    ``chunk_idx``, ``chunk_text`` and ``chunk_n_tokens``.  The final
    partial window is kept iff it starts before the text ends (every token
    appears in ≥1 chunk; no empty trailing chunk).
    """
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    # stage the token array behind a projection boundary FIRST: the
    # window lambdas below reference it per element, and an inline
    # tokenizer expression would re-split the document once per chunk
    # (the r7 HOF-CSE audit class — O(n²/stride) per doc)
    staged = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.col(text_col), " ", -1), lambda t: t != F.lit("")
        ).alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    # window starts 1, 1+stride, ... — keep a start unless the PREVIOUS
    # window already covered the end of the document (so every token is in
    # >=1 chunk, the tail is a partial window, and no fully-redundant
    # trailing chunk is emitted)
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride)),
        lambda s: (s == F.lit(1))
        | (s - stride + (chunk_tokens - 1) < n),
    )
    chunks = F.transform(starts, lambda s: F.slice(toks, s, chunk_tokens))
    chunked = staged.select(
        F.col(id_col),
        F.when(n > 0, chunks)
        .otherwise(F.array().cast("array<array<string>>"))
        .alias("_chunks"),
    )
    out = chunked.select(
        id_col,
        F.posexplode_outer("_chunks").alias("chunk_idx", "_chunk"),
    ).where(F.col("_chunk").isNotNull())
    return out.select(
        id_col,
        "chunk_idx",
        F.array_join("_chunk", " ").alias("chunk_text"),
        F.size("_chunk").alias("chunk_n_tokens"),
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    threshold: float = 0.0,
) -> DataFrame:
    """Per-corpus-document contamination report against ``benchmark``.

    Returns one row per corpus document: ``<id_col>``, ``n_ngrams``
    (distinct n-grams in the doc), ``n_hits`` (of those, how many occur
    anywhere in the benchmark), ``contamination`` (= hits/ngrams, 4dp)
    and ``is_contaminated`` (contamination > ``threshold``; docs with
    fewer than ``n`` words have 0 ngrams and are never contaminated).

    The benchmark's distinct n-gram set is broadcast; the corpus is
    exploded and immediately re-aggregated by document id.
    """
    bench_grams = (
        benchmark.select(_space_tokens(F.col(text_col)).alias("_toks"))
        .select(
            F.explode_outer(
                F.array_distinct(word_ngrams_of_tokens(F.col("_toks"), n))
            ).alias("gram")
        )
        .where(F.col("gram").isNotNull())
        .distinct()
    )

    # One pass: explode_outer keeps a null-gram row for gram-less docs (so
    # they still report n_ngrams=0), the broadcast left join marks benchmark
    # hits, and a single groupBy counts both totals and hits — the n-gram
    # expression is evaluated exactly once per document.  (A bare explode
    # would also make Catalyst push an implicit size()>0 filter below
    # Generate and re-evaluate the expression twice.)
    # Small-input guard: a corpus read from a handful of files would run
    # the whole gram pass on that many cores.  At real scale the input has
    # >= cluster-parallelism partitions and this is a no-op.
    parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < max(parallelism // 2, 1):
        corpus = corpus.repartition(parallelism)

    exploded = corpus.select(
        F.col(id_col), _space_tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_ngrams_of_tokens(F.col("_toks"), n))
        ).alias("gram"),
    )
    marked = exploded.join(
        F.broadcast(bench_grams.withColumn("_hit", F.lit(1))), "gram", "left"
    )
    report = marked.groupBy(id_col).agg(
        F.count("gram").cast("int").alias("n_ngrams"),
        F.count("_hit").alias("n_hits"),
    )
    ratio = F.col("n_hits") / F.greatest(F.col("n_ngrams"), F.lit(1))
    return report.select(
        id_col,
        "n_ngrams",
        "n_hits",
        F.round(ratio, 4).alias("contamination"),
        (ratio > F.lit(float(threshold))).alias("is_contaminated"),
    )
