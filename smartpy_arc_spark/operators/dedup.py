"""Deduplication operators for training-data pipelines.

Five tiers, all partition-parallel and free of all-pairs comparisons:

  * exact           — content-hash groupBy (one shuffle on the hash).
  * minhash + LSH   — shingle → minhash signature (shuffle-free, computed
                      with higher-order functions) → band → bucket join
                      (shuffle on band key only; candidate pairs are
                      generated per-bucket, never across the full corpus).
  * simhash         — 64-bit signature + banded Hamming candidates.
  * n-gram Jaccard  — exact Jaccard on shingle sets via explode + self-join
                      on shingle (for verification of candidates; bounded
                      input).
  * embedding       — cosine near-dup via random-hyperplane LSH, see
                      :mod:`smartpy_arc_spark.operators.similarity`.

At 100 TB the only shuffles are hash/band-keyed groupBys; signatures are
computed inside whole-stage codegen with no Python and no extra scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from smartpy_arc_spark.operators._ckpt import sized_local_checkpoint


# ---------------------------------------------------------------------------
# exact


def exact_dedup_groups(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups by exact content hash: (hash, group size, kept id)."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast(T.BinaryType())).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Drop exact duplicates, keeping the smallest id per content hash.
    Window over the hash key — one shuffle, no join."""
    w = W.partitionBy(F.md5(F.col(text_col).cast(T.BinaryType()))).orderBy(
        F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
    )


# ---------------------------------------------------------------------------
# shingling + minhash


def _char_shingle_hashes(text: Column, k: int, portable: bool = False) -> Column:
    """array<long> of hashed character k-shingles — each shingle is hashed
    straight off a substring slice, no intermediate string array."""
    from smartpy_arc_spark.functions.scalar import portable_hash64

    hfn = portable_hash64 if portable else F.xxhash64
    n = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: hfn(F.substring(text, i, k)))


def _token_hashes(text: Column, portable: bool = False) -> Column:
    """array<long> of per-token hashes — MUST be staged behind a
    projection boundary before :func:`_word_shingles_of_hashes` folds it
    (see that function's HOF-CSE warning)."""
    from smartpy_arc_spark.functions.scalar import portable_hash64

    hfn = portable_hash64 if portable else F.xxhash64
    return F.transform(F.split(text, " ", -1), lambda t: hfn(t))


def _word_shingles_of_hashes(
    th: Column, k: int, portable: bool = False
) -> Column:
    """array<long> of hashed k-word shingles over a PRE-STAGED token-hash
    array column — ~word-count many, an order of magnitude fewer than
    char shingles on prose; the standard choice for whole-document
    near-dup at corpus scale.

    Each token is string-hashed exactly once; a shingle's hash is then
    the multi-arg ``xxhash64`` of its k token hashes — pure numeric
    combining, no per-shingle string concatenation.

    HOF-CSE (r7): ``th`` MUST be a projected COLUMN, not an inline
    transform expression — an expression referenced inside the shingle
    lambda is re-evaluated PER SHINGLE (the ngram_novelty discovery), so
    the inline form re-hashed every token once per shingle per k:
    O(n²·k) hashes per document instead of O(n).  At sf0.1 that was the
    difference between ~60 s and ~6 s for the portable-md5 contract
    queries.

    ``portable=True`` (the oracle mode) combines via the md5-derived
    ``portable_hash64`` of the ':'-joined token-hash digits —
    ``concat_ws`` skips NULLs exactly as multi-arg ``xxhash64`` does, so
    short-document overhang produces the same equivalence classes.
    """
    from smartpy_arc_spark.functions.scalar import portable_hash64

    n = F.greatest(F.size(th) - F.lit(k - 1), F.lit(1))

    def combine(i: Column) -> Column:
        # try_element_at: a doc shorter than k tokens still yields one
        # shingle (nulls hash as absent); plain element_at throws under ANSI
        parts = [F.try_element_at(th, i + j) for j in range(1, k + 1)]
        if portable:
            return portable_hash64(
                F.concat_ws(":", *[p.cast("string") for p in parts])
            )
        return F.xxhash64(*parts)

    return F.transform(F.sequence(F.lit(0), n - 1), combine)


def _word_shingle_hashes(text: Column, k: int, portable: bool = False) -> Column:
    """Inline-expression form (token hashing + shingle combine in one
    expression) — ONLY for one-off use on short strings: the combine
    re-evaluates the token-hash array per shingle (no CSE inside HOF
    lambdas).  Hot paths stage ``_token_hashes`` first and call
    :func:`_word_shingles_of_hashes`."""
    return _word_shingles_of_hashes(_token_hashes(text, portable), k, portable)


def _shingle_hashes(
    text: Column, k: int, mode: str, portable: bool = False
) -> Column:
    if mode == "char":
        return _char_shingle_hashes(text, k, portable)
    if mode == "word":
        return _word_shingle_hashes(text, k, portable)
    raise ValueError(f"shingle mode {mode!r} (expected 'char' or 'word')")


# fixed 64-bit constants for the xorshift hash family (seeded once)
import numpy as _np

_FAMILY_SEEDS: list[int] = [
    int(x) for x in _np.random.default_rng(0x5EED).integers(
        -(2**63), 2**63, size=64, dtype=_np.int64
    )
]


def _band_bucket_expr(b: int, rows_per_band: int, portable: bool) -> Column:
    """Bucket id for band ``b`` over the ``minhash_sig`` column: multi-arg
    xxhash64 over the band's signature rows plus the band index (numeric,
    no string building), or — in portable mode — the md5-derived
    ``portable_hash64`` of the ':'-joined digits (same bucket equivalence,
    engine-reproducible)."""
    cols = [
        F.col("minhash_sig")[b * rows_per_band + r]
        for r in range(rows_per_band)
    ]
    if portable:
        from smartpy_arc_spark.functions.scalar import portable_hash64

        return portable_hash64(
            F.concat_ws(":", F.lit(str(b)), *[c.cast("string") for c in cols])
        )
    return F.xxhash64(F.lit(b), *cols)


def _scramble(h: Column, j: int) -> Column:
    """j-th member of a 64-bit hash family from one base hash: XOR a fixed
    random constant then xorshift-mix.  Pure bitwise ops — no multiplies
    (ANSI overflow) and no per-member string re-hashing; each member is a
    distinct bijection of the base hash, which is what min-wise LSH needs."""
    x = h.bitwiseXOR(F.lit(_FAMILY_SEEDS[j]))
    x = x.bitwiseXOR(F.shiftrightunsigned(x, 33))
    x = x.bitwiseXOR(F.shiftleft(x, 21))
    x = x.bitwiseXOR(F.shiftrightunsigned(x, 17))
    return x


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_size: int = 5,
    shingle_mode: str = "char",
    portable_hash: bool = False,
) -> DataFrame:
    """Per-document MinHash signature: for each of ``num_hashes`` seeded hash
    functions, the min hash over the document's character shingles.

    Entirely row-local (sequence → transform → array_min), so signature
    computation costs zero shuffles and scales with scan throughput.  Each
    shingle is hashed exactly once (numerically — see
    :func:`_word_shingle_hashes`); the ``num_hashes`` family members are
    cheap bitwise scrambles of that base hash (16× fewer string hashes than
    a per-seed rehash — measured 62 s → 12 s on 50k docs).

    ``portable_hash=True`` swaps the base hash for the md5-derived
    ``portable_hash64`` (engine-reproducible, the oracle mode); the
    xorshift scramble family is pure bitwise either way.
    """
    if shingle_mode == "word":
        # stage token hashes behind a projection boundary FIRST — the
        # shingle-combine lambda re-evaluates inline expressions per
        # shingle (r7 HOF-CSE fix: O(n²·k) → O(n) hashes per doc)
        staged = df.select(
            F.col(id_col),
            _token_hashes(F.col(text_col), portable_hash).alias("_th"),
        )
        base = F.array_distinct(
            _word_shingles_of_hashes(
                F.col("_th"), shingle_size, portable_hash
            )
        )
        with_hashes = staged.select(id_col, base.alias("_base"))
    else:
        base = F.array_distinct(
            _shingle_hashes(
                F.col(text_col), shingle_size, shingle_mode, portable_hash
            )
        )
        with_hashes = df.select(id_col, base.alias("_base"))

    def min_member(j: int) -> Column:
        # closure factory, NOT a default-arg lambda: pyspark treats a
        # two-parameter callback as (element, index) and would pass the
        # array index instead of the member index
        return F.array_min(F.transform(F.col("_base"), lambda h: _scramble(h, j)))

    sig = F.array(*[min_member(j) for j in range(num_hashes)])
    return with_hashes.select(id_col, sig.alias("minhash_sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_size: int = 5,
    shingle_mode: str = "char",
    bands: int = 4,
    collapse_exact: bool = False,
    max_bucket_size: int | None = None,
    portable_hash: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows; docs
    sharing any band hash land in the same bucket and become a candidate
    pair.  The join is per-(band, bucket) — the classic LSH trick that
    replaces O(n²) all-pairs with bucket-local pairs.  Output includes the
    signature-agreement Jaccard estimate.

    Hot-bucket hardening (the corpus-scale configuration — boilerplate-heavy
    corpora put thousands of docs in one bucket, and a single m-member bucket
    otherwise emits m²/2 pairs):

    - ``collapse_exact=True`` collapses byte-identical texts to their min-id
      representative BEFORE banding; members link to the representative as
      star edges with ``jaccard_est=1.0`` (exact — identical text means an
      identical signature), so cluster connectivity is preserved while the
      bucket join only ever sees one copy per distinct text.
    - ``max_bucket_size=m`` spills every (band, bucket) larger than ``m`` to
      a representative-only pass: members pair with the bucket's min-id
      member (m-1 star edges, real signature-agreement estimates) instead of
      forming C(m,2) pairs.  Connected-components downstream recovers the
      same clusters when bucket members are genuinely similar; the
      approximation is quantified — never silent — via
      :func:`minhash_lsh_bucket_stats` over the same banding.

    Defaults keep both off, making the output bit-identical to classic LSH.
    """
    sigs, star_exact = minhash_prepare(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_size=shingle_size,
        shingle_mode=shingle_mode,
        collapse_exact=collapse_exact,
        portable_hash=portable_hash,
    )
    return minhash_band_candidates(
        sigs,
        star_exact,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket_size=max_bucket_size,
        portable_hash=portable_hash,
    )


def minhash_prepare(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_size: int = 5,
    shingle_mode: str = "char",
    collapse_exact: bool = False,
    portable_hash: bool = False,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """The signature + exact-collapse prefix of
    :func:`minhash_lsh_candidates`, split out (r11, guide §2.4) so
    callers running SEVERAL banding variants over the same corpus (e.g.
    capped and uncapped) compute the dominant shingling/MinHash pass and
    the collapse shuffle ONCE.  Returns ``(sigs, star_exact)`` —
    exactly the frames the banding stage consumes;
    ``materialize=True`` localCheckpoints the collapse output (size-guarded,
    see ``_ckpt``) so each variant reads materialized rows instead of
    re-executing the prefix.
    """
    sigs = minhash_signatures(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_size=shingle_size,
        shingle_mode=shingle_mode,
        portable_hash=portable_hash,
    )
    star_exact = None
    if collapse_exact:
        # min-id representative per byte-identical text.  Signatures are
        # computed FIRST (row-local, scan-speed) so the collapse window
        # shuffles (id, text-hash, signature) — ~136 bytes/row — instead
        # of the raw document text (measured 5.1 s → 1.3 s at sf0.1)
        if portable_hash:
            from smartpy_arc_spark.functions.scalar import portable_hash64

            _text_hash = portable_hash64(F.col(text_col))
        else:
            _text_hash = F.xxhash64(F.col(text_col))
        keyed = df.select(
            F.col(id_col), _text_hash.alias("_th")
        ).join(sigs, id_col)
        keyed = keyed.withColumn("_rep", F.min(id_col).over(W.partitionBy("_th")))
        if materialize:
            keyed = sized_local_checkpoint(keyed)
        star_exact = (
            keyed.where(F.col(id_col) != F.col("_rep"))
            .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        sigs = keyed.where(F.col(id_col) == F.col("_rep")).select(
            id_col, "minhash_sig"
        )
    elif materialize:
        sigs = sized_local_checkpoint(sigs)
    return sigs, star_exact


def minhash_banded(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    portable_hash: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """The band-explode stage — ``(id, band, bucket)`` rows — split out
    (r12, guide §2.4) so callers running SEVERAL banding variants over
    one prepared signature frame (e.g. capped and uncapped) explode and
    hash the bands ONCE; ``materialize=True`` localCheckpoints the
    bands× id-sized frame so each variant reads rows, not lineage."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    _band_bucket_expr(b, rows_per_band, portable_hash)
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    if materialize:
        banded = sized_local_checkpoint(banded)
    return banded


def minhash_band_candidates(
    sigs: DataFrame,
    star_exact: DataFrame | None,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    portable_hash: bool = False,
    banded: DataFrame | None = None,
) -> DataFrame:
    """The banding/bucket-join stage of :func:`minhash_lsh_candidates`,
    over a prepared ``(sigs, star_exact)`` pair from
    :func:`minhash_prepare`.  Identical output to the one-shot
    composition — pinned by unit test.  Pass ``banded`` (from
    :func:`minhash_banded` over the same ``sigs``/``bands``) to share
    one band explode across several cap variants."""
    if banded is None:
        # read twice: banding pass + signature re-attach.  A caller's
        # banded frame leaves sigs read once, so it is not pinned then
        sigs = sigs.cache()
        banded = minhash_banded(
            sigs, id_col=id_col, num_hashes=num_hashes, bands=bands,
            portable_hash=portable_hash,
        )
    # the bucket self-join carries ONLY ids: at corpus scale the shuffle is
    # bands× the id column, not bands× a num_hashes-long signature array.
    # Signatures re-attach afterwards to the (far smaller) candidate set.
    star_capped = None
    if max_bucket_size is not None:
        # one window shuffle on the join key computes bucket size + min-id
        # representative; oversized buckets divert to star edges
        wb = W.partitionBy("band", "bucket")
        sized = banded.withColumn("_m", F.count("*").over(wb)).withColumn(
            "_rep", F.min(id_col).over(wb)
        )
        star_capped = (
            sized.where(
                (F.col("_m") > max_bucket_size) & (F.col(id_col) != F.col("_rep"))
            )
            .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        banded = sized.where(F.col("_m") <= max_bucket_size).select(
            id_col, "band", "bucket"
        )
    left = banded.select("band", "bucket", F.col(id_col).alias("id_a"))
    right = banded.select("band", "bucket", F.col(id_col).alias("id_b"))
    pairs = (
        left.join(right, on=["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if star_capped is not None:
        pairs = pairs.unionAll(star_capped)
    pairs = pairs.distinct()
    pairs = (
        pairs.join(sigs.select(F.col(id_col).alias("id_a"), F.col("minhash_sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col(id_col).alias("id_b"), F.col("minhash_sig").alias("sig_b")), "id_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x
        )
    )
    out = pairs.select(
        "id_a",
        "id_b",
        F.round(agree * F.lit(1.0) / F.lit(num_hashes), 4).alias("jaccard_est"),
    )
    if star_exact is not None:
        out = out.unionAll(
            star_exact.select("id_a", "id_b", F.lit(1.0).alias("jaccard_est"))
        )
    return out


def minhash_lsh_bucket_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_size: int = 5,
    shingle_mode: str = "char",
    bands: int = 4,
    max_bucket_size: int | None = None,
    portable_hash: bool = False,
) -> DataFrame:
    """Per-band LSH bucket diagnostics — the report that makes
    ``max_bucket_size`` capping auditable rather than silent.

    For each band: bucket count, largest bucket, docs in oversized buckets,
    the quadratic pair count classic LSH would emit, and the pair count
    after star-spilling oversized buckets.  Run alongside
    :func:`minhash_lsh_candidates` (same banding, so the numbers describe
    exactly the join being capped); at 100 TB this is one extra
    groupBy-on-the-join-key aggregate over already-computed signatures.
    """
    sigs = minhash_signatures(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        shingle_size=shingle_size, shingle_mode=shingle_mode,
        portable_hash=portable_hash,
    )
    rows_per_band = num_hashes // bands
    banded = sigs.select(
        F.posexplode(
            F.array(
                *[
                    _band_bucket_expr(b, rows_per_band, portable_hash)
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    cap = F.lit(max_bucket_size) if max_bucket_size is not None else F.lit(None)
    per_bucket = banded.groupBy("band", "bucket").agg(F.count("*").alias("m"))
    quad = (F.col("m") * (F.col("m") - 1) / 2).cast("long")
    spilled = F.when(cap.isNotNull() & (F.col("m") > cap), F.col("m") - 1).otherwise(quad)
    return (
        per_bucket.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("m").alias("max_bucket"),
            F.sum(
                F.when(cap.isNotNull() & (F.col("m") > cap), F.col("m")).otherwise(0)
            ).alias("docs_in_capped_buckets"),
            F.sum(quad).alias("pairs_uncapped"),
            F.sum(spilled).alias("pairs_after_cap"),
        )
        .orderBy("band")
    )


def minhash_incremental_candidates(
    corpus: DataFrame,
    new_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_size: int = 5,
    shingle_mode: str = "char",
    bands: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-duplicate candidates for an *incremental batch* against an
    already-deduplicated historical corpus.

    The production shape for a growing 100 TB corpus: re-running full-pairs
    LSH on every ingest is O(corpus) per batch, but the corpus side is
    already internally deduplicated, so only two pair classes matter —
    new-vs-corpus and new-vs-new.  This computes exactly those:

    - both sides get banded MinHash buckets (corpus bucketing is a
      linear scan that in production would be *precomputed and stored*;
      the band join shuffles ids only);
    - the candidate join is ``new × (corpus ∪ new)`` on (band, bucket) —
      corpus-vs-corpus pairs are never formed, so per-batch cost scales
      with the batch's bucket occupancy, not the corpus size.

    Output: ``id_new``, ``id_match``, ``match_is_new`` (true when the
    partner is also from the new batch), ``jaccard_est``.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            F.col(id_col),
            F.posexplode(
                F.array(
                    *[
                        _band_bucket_expr(b, rows_per_band, portable_hash)
                        for b in range(bands)
                    ]
                )
            ).alias("band", "bucket"),
        )

    kw = dict(
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_size=shingle_size,
        shingle_mode=shingle_mode,
        portable_hash=portable_hash,
    )
    # BOTH sides cached: banding + re-attach each index into the signature
    # array, and an uncached signature column re-expands the whole 16-hash
    # MinHash expression per element access (observed 40× slowdown).  In
    # production the corpus side is a *stored* signature table instead.
    new_sigs = minhash_signatures(new_docs, **kw).cache()
    corpus_sigs = minhash_signatures(corpus, **kw).cache()

    new_banded = banded(new_sigs)
    other_banded = banded(corpus_sigs).select(
        "band", "bucket", F.col(id_col).alias("id_match"),
        F.lit(False).alias("match_is_new"),
    ).unionByName(
        banded(new_sigs).select(
            "band", "bucket", F.col(id_col).alias("id_match"),
            F.lit(True).alias("match_is_new"),
        )
    )

    pairs = (
        new_banded.select("band", "bucket", F.col(id_col).alias("id_new"))
        .join(other_banded, on=["band", "bucket"])
        # new-new pairs would otherwise appear twice (a,b) and (b,a)
        .where(
            (~F.col("match_is_new") & (F.col("id_new") != F.col("id_match")))
            | (F.col("id_new") < F.col("id_match"))
        )
        .select("id_new", "id_match", "match_is_new")
        .distinct()
    )

    all_sigs = corpus_sigs.unionByName(new_sigs)
    pairs = pairs.join(
        new_sigs.select(F.col(id_col).alias("id_new"), F.col("minhash_sig").alias("sig_a")),
        "id_new",
    ).join(
        all_sigs.select(F.col(id_col).alias("id_match"), F.col("minhash_sig").alias("sig_b")),
        "id_match",
    )
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x)
    )
    return pairs.select(
        "id_new",
        "id_match",
        "match_is_new",
        F.round(agree * F.lit(1.0) / F.lit(num_hashes), 4).alias("jaccard_est"),
    )


# ---------------------------------------------------------------------------
# simhash


def simhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, computed with higher-order
    functions (no explode, no shuffle): per bit, sum +1/-1 over token-hash
    bits; the signature sets bits with positive sums.

    ``portable_hash=True`` swaps xxhash64 for the md5-derived 60-bit
    ``portable_hash64`` (the oracle mode): bits 60–63 of every token hash
    are then 0, so those signature bits never set — the banding and
    Hamming logic are unchanged."""
    from smartpy_arc_spark.functions.scalar import portable_hash64

    tokens = F.split(F.col(text_col), " ", -1)
    hfn = portable_hash64 if portable_hash else F.xxhash64
    hashes = F.transform(tokens, lambda t: hfn(t))

    # Single pass over the token hashes: the accumulator is a `bits`-long
    # array of per-bit +1/-1 sums — O(n_tokens · bits) work once, instead of
    # the previous `bits` independent aggregate() passes over the same array.
    # Bit b is tested as `h & (1<<b) != 0` against a constant mask array
    # (shiftright needs an int-literal shift, so it can't use a lambda index;
    # bit 63's mask literal is its two's-complement value).
    masks = F.array(
        *[
            F.lit((1 << b) - (1 << 64) if b == 63 else (1 << b)).cast(T.LongType())
            for b in range(bits)
        ]
    )
    bit_sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    # pack: OR together the masks of positive-sum bits (acc*2+bit would
    # long-overflow under ANSI mode once bit 63 is set; OR is wrap-around)
    sig = F.aggregate(
        F.zip_with(
            bit_sums,
            masks,
            lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast(T.LongType())),
        ),
        F.lit(0).cast(T.LongType()),
        lambda acc, v: acc.bitwiseOR(v),
    )
    return df.select(id_col, sig.alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    collapse_exact: bool = False,
    max_bucket_size: int | None = None,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup candidates with Hamming distance ≤ ``max_hamming`` via the
    pigeonhole banding trick: split the 64-bit signature into ``chunks``
    16-bit chunks; any pair within distance < chunks must agree on ≥1 chunk,
    so bucket-join on (chunk index, chunk value), then exact-filter by
    popcount of XOR.

    ``collapse_exact`` / ``max_bucket_size`` mirror
    :func:`minhash_lsh_candidates`: byte-identical texts collapse to a
    min-id representative (star edges, hamming 0) before signing, and
    chunk buckets larger than the cap spill to representative star edges
    (still exact-filtered by real popcount) instead of quadratic pairs."""
    star_exact = None
    if collapse_exact:
        keyed = df.select(id_col, text_col).withColumn(
            "_th", F.xxhash64(F.col(text_col))
        )
        keyed = keyed.withColumn("_rep", F.min(id_col).over(W.partitionBy("_th")))
        star_exact = (
            keyed.where(F.col(id_col) != F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).cast("integer").alias("hamming"),
            )
        )
        df = keyed.where(F.col(id_col) == F.col("_rep")).select(id_col, text_col)
    sigs = simhash(
        df, text_col=text_col, id_col=id_col, portable_hash=portable_hash
    )
    width = 64 // chunks
    chunk_cols = F.array(
        *[
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(chunks)
        ]
    )
    banded = sigs.select(
        id_col, "simhash", F.posexplode(chunk_cols).alias("chunk_idx", "chunk_val")
    )
    star_capped = None
    if max_bucket_size is not None:
        wb = W.partitionBy("chunk_idx", "chunk_val")
        # min-by-id representative: carry (id, sig) as a struct so the
        # star edge keeps the representative's signature for the popcount
        rep = F.min(F.struct(F.col(id_col), F.col("simhash"))).over(wb)
        sized = banded.withColumn("_m", F.count("*").over(wb)).withColumn("_rep", rep)
        star_capped = (
            sized.where(
                (F.col("_m") > max_bucket_size)
                & (F.col(id_col) != F.col("_rep")[id_col])
            )
            .select(
                F.col("_rep")[id_col].alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.col("_rep")["simhash"].alias("sig_a"),
                F.col("simhash").alias("sig_b"),
            )
        )
        banded = sized.where(F.col("_m") <= max_bucket_size).select(
            id_col, "simhash", "chunk_idx", "chunk_val"
        )
    left = banded.select(
        "chunk_idx", "chunk_val",
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
    )
    right = banded.select(
        "chunk_idx", "chunk_val",
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
    )
    pairs = (
        left.join(right, on=["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    if star_capped is not None:
        pairs = pairs.unionAll(star_capped)
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    out = (
        pairs.distinct()
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if star_exact is not None:
        out = out.unionAll(star_exact)
    return out


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification path)


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard similarity over character n-gram sets for all pairs that
    share at least one shingle.  Explode + self-join on the shingle — the
    shuffle key is the shingle, so disjoint documents never meet.  Use on
    bounded/candidate subsets; for full-corpus near-dup use MinHash-LSH."""
    # shingles travel as 64-bit hashes: the intersect/union counts are
    # identical (xxhash64 collisions are negligible at corpus scale) and the
    # explode+shuffle moves longs instead of n-char strings
    # explode_outer + null-filter, not explode: the non-outer Generate adds
    # a size()>0 pre-filter that re-evaluates the whole shingle-hash
    # expression a second time per row (see geometry/split.py for the same
    # pattern on a pandas UDF).
    shingled = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(_char_shingle_hashes(F.col(text_col), n))
        ).alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    set_sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = set_sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = set_sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                * F.lit(1.0)
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )
    if min_jaccard > 0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def edit_distance_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 200,
    length_band: int = 40,
) -> DataFrame:
    """Levenshtein near-duplicate pairs with length-band blocking.

    The |len(a)−len(b)| <= band pre-filter is a correct lower bound on edit
    distance, so it prunes pairs BEFORE the O(n·m) levenshtein runs — the
    classic blocking step that keeps the quadratic verify tier affordable.
    Feed this a bounded candidate set (e.g. an LSH bucket), not a whole
    corpus: the join is intentionally all-pairs within the input."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
        F.length(text_col).alias("_la"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
        F.length(text_col).alias("_lb"),
    )
    pairs = a.join(
        b,
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("_la") - F.col("_lb")) <= length_band),
    )
    # bounded levenshtein (Spark >= 3.5): rejects early-terminate at
    # max_distance (returning -1) instead of filling the full O(n*m)
    # matrix; retained pairs carry the identical exact distance
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb", max_distance).alias("edit_dist"),
        )
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_distance))
    )


def set_similarity_join(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
) -> DataFrame:
    """Exact set-similarity self-join (Jaccard >= ``threshold``) with
    PPJoin-style prefix filtering — the LOSSLESS scale tier between
    hash-exact dedup and probabilistic MinHash.

    Each document becomes its distinct-token set, globally ordered
    rarest-token-first (document frequency asc, token asc).  For Jaccard
    >= t, two sets MUST share a token within their first
    ``|s| - ceil(t*|s|) + 1`` tokens under any consistent global order
    (the classic prefix-filtering bound), so only those prefix tokens are
    exploded into the candidate join — rare tokens bucket few documents,
    which is what kills the quadratic blowup that joining on ALL tokens
    (or all-pairs) would cost.  Candidates then verify EXACT Jaccard via
    set intersection, so the result is identical to brute force — the
    oracle query literally runs the quadratic form and must match.

    One aggregation for df ranks, one for per-doc sets, a candidate
    equi-join on prefix tokens keyed by (rare) token, and a verify join
    carrying the two token arrays.  No LSH false negatives, no Python.

    Returns ``(id_a, id_b, n_a, n_b, n_common, jaccard)`` with
    ``id_a < id_b``; jaccard is one exact-integer division.
    """
    from smartpy_arc_spark.operators.text import alpha_tokens

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(alpha_tokens(F.col(text_col)))).alias("t"),
    )
    dfreq = toks.groupBy("t").agg(F.count("*").alias("df"))
    ranked = (
        toks.join(dfreq, "t")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("df"), F.col("t")))
                ),
                lambda s: s["t"],
            ).alias("toks")
        )
        .withColumn("n", F.size("toks"))
        # prefix length |s| - ceil(t*|s|) + 1
        .withColumn(
            "plen", F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
    )
    prefix = ranked.select(
        "id", "n", "toks",
        F.explode(F.slice("toks", 1, F.col("plen"))).alias("pt"),
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.pt") == F.col("b.pt")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.col("a.toks").alias("ta"),
            F.col("b.toks").alias("tb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter.cast("double") / (
        (F.col("n_a") + F.col("n_b") - inter).cast("double")
    )
    return (
        cand.withColumn("n_common", inter.cast("long"))
        .where(jac >= F.lit(threshold))
        .select(
            "id_a", "id_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "n_common",
            jac.alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    *,
    n: int = 3,
    min_containment: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric near-duplicate detection by shingle CONTAINMENT
    ``|A∩B| / |A|`` — catches a document wholly embedded in a larger one
    (quoted articles, boilerplate-wrapped reposts), which symmetric
    Jaccard misses because the union is dominated by the larger doc.

    Same shuffle shape as ``ngram_jaccard_pairs``: explode distinct
    char n-gram shingles, self-join on the shingle (candidate
    generation is shingle-keyed, never doc×doc), aggregate intersection
    sizes, then one broadcast-able size attach per side.  Emits ordered
    pairs (contained → container): containment is directional.

    Returns ``(id_contained, id_container, n_inter, size_contained,
    containment_e4)`` for pairs at or above the threshold (self-pairs
    excluded).
    """
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(
                    F.when(
                        F.length(text_col) >= n,
                        F.transform(
                            F.sequence(
                                F.lit(1), F.length(text_col) - (n - 1)
                            ),
                            lambda i: F.substring(F.col(text_col), i, n),
                        ),
                    ).otherwise(F.array(F.col(text_col)))
                )
            ).alias("g"),
        )
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "g")
        .where(F.col("a.id") != F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_contained"),
            F.col("b.id").alias("id_container"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    scored = inter.join(
        F.broadcast(sizes.select(F.col("id").alias("id_contained"),
                                 F.col("sz").alias("size_contained"))),
        "id_contained",
    ).withColumn(
        "containment_e4",
        F.round(
            F.col("n_inter").cast("double")
            / F.col("size_contained").cast("double")
            * 10000
        ).cast("long"),
    )
    return scored.where(
        F.col("containment_e4") >= int(round(min_containment * 10000))
    ).select(
        "id_contained",
        "id_container",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("size_contained").cast("long").alias("size_contained"),
        "containment_e4",
    )


# ---------------------------------------------------------------------------
# line-level boilerplate dedup (CCNet-style)


def line_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_df: int = 2,
    trim: bool = True,
) -> DataFrame:
    """CCNet-style line-level deduplication (Wenzek et al. 2020, §4.1):
    drop every line that occurs in at least ``min_df`` documents across
    the corpus — headers, navigation, cookie banners and other
    boilerplate repeat verbatim across pages, while real content lines
    don't.  This is the standard pre-LLM web-corpus cleaning step that
    document-level dedup (MinHash et al.) cannot do: the duplicated
    material is INSIDE otherwise-distinct documents.

    Plan: posexplode lines (position kept for order-preserving
    reassembly), one distinct per (line-hash, doc) then a hash aggregate
    on the line hash for document frequency, broadcast-or-shuffle join
    back, groupBy(doc) reassembly via sort_array — line-keyed shuffles
    only, never doc×doc.  Lines compare after optional trim; empty lines
    are never counted as boilerplate.

    Returns ``(id, n_lines, n_kept, text_clean)``.
    """
    line_raw = F.col("_line")
    line_key = F.trim(line_raw) if trim else line_raw
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("_pos", "_line"),
    ).withColumn("_h", F.xxhash64(line_key)).withColumn(
        "_empty", F.length(F.trim(line_raw)) == 0
    )
    docfreq = (
        lines.where(~F.col("_empty"))
        .select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= min_df)
    )
    marked = lines.join(docfreq, "_h", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("_df").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_df").isNull(),
                                F.struct(F.col("_pos"), F.col("_line")),
                            )
                        )
                    ),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias("text_clean"),
        )
    )
