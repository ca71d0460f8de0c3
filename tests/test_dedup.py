"""MinHash staging in ``operators/dedup.py``: what the staged entry points
leave pinned in the caller's session."""

from pyspark.storagelevel import StorageLevel


def test_band_candidates_leave_callers_sigs_unpinned_with_banded(spark):
    """With ``banded=`` supplied, sigs is read once (the signature
    re-attach), so minhash_band_candidates must not cache the caller's
    frame; the rows still match the unshared composition."""
    from smartpy_arc_spark.operators.dedup import (
        minhash_band_candidates,
        minhash_banded,
        minhash_prepare,
    )

    docs = spark.createDataFrame(
        [(i, f"a lazy red cat {i % 5} naps under tree {i % 4}")
         for i in range(40)],
        "doc_id long, text string",
    )
    sigs, star = minhash_prepare(docs, shingle_mode="word", shingle_size=3)
    banded = minhash_banded(sigs)
    got = sorted(map(tuple, minhash_band_candidates(
        sigs, star, banded=banded).collect()))
    assert sigs.storageLevel == StorageLevel.NONE

    want = sorted(map(tuple, minhash_band_candidates(sigs, star).collect()))
    sigs.unpersist()
    assert got == want
