"""End-to-end corpus curation: the composed preprocessing pipeline.

One call chains the four standard corpus-prep stages, in the order a
production pipeline runs them (each stage only sees the previous stage's
survivors, so the expensive later stages run on shrinking data):

1. **quality gates** — Gopher-style row-local heuristics
   (:func:`~smartpy_arc_spark.operators.quality.gopher_flags`);
2. **exact dedup** — keep the lowest-id document per md5(text)
   (md5, not xxhash64, so the whole pipeline stays engine-portable);
3. **benchmark decontamination** — drop documents whose word-n-gram
   overlap with the eval set exceeds a threshold
   (:func:`~smartpy_arc_spark.operators.contamination.ngram_decontaminate`);
4. **stratified sampling** — per-language deterministic hash sample
   (:func:`~smartpy_arc_spark.operators.sample.stratified_hash_sample`).

Every stage is individually oracle-verified; the composition is verified
end-to-end against a single DuckDB CTE chain (`curate_corpus` query).

Scale: stages 1 and 4 are row-local predicates; stage 2 is one shuffle on
the content hash; stage 3 is an explode + broadcast join + one shuffle.
Nothing is driver-bound and every join's small side is the benchmark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartpy_arc_spark.operators._ckpt import sized_local_checkpoint
from smartpy_arc_spark.operators.contamination import ngram_decontaminate
from smartpy_arc_spark.operators.quality import gopher_flags
from smartpy_arc_spark.operators.sample import stratified_hash_sample


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
    ngram_n: int = 5,
    contamination_threshold: float = 0.3,
    sample_fractions: dict | None = None,
    default_fraction: float = 0.25,
    keep_cols: tuple = ("lang", "source"),
) -> DataFrame:
    """Surviving documents (id + ``keep_cols``) after quality gates, exact
    dedup, decontamination against ``benchmark``, and stratified sampling."""
    quality_ids = gopher_flags(docs, text_col=text_col, id_col=id_col).where(
        "keep"
    ).select(id_col)
    # each stage's survivors feed the next stage's keys AND the semi-join
    # applying them; unpinned, the docs scan ran 9x in the r11 plan
    qdocs = sized_local_checkpoint(
        docs.join(quality_ids, id_col, "left_semi")
    )

    keepers = qdocs.groupBy(F.md5(F.col(text_col)).alias("_h")).agg(
        F.min(id_col).alias(id_col)
    ).select(id_col)
    survivors = sized_local_checkpoint(
        qdocs.join(keepers, id_col, "left_semi")
    )

    clean_ids = (
        ngram_decontaminate(
            survivors,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            n=ngram_n,
            threshold=contamination_threshold,
        )
        .where(~F.col("is_contaminated"))
        .select(id_col)
    )
    clean = survivors.join(clean_ids, id_col, "left_semi")

    sampled = stratified_hash_sample(
        clean,
        strata_col,
        sample_fractions or {},
        [id_col],
        default_fraction=default_fraction,
    )
    return sampled.select(id_col, *keep_cols)
