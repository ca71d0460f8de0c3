"""Round-3 additions: rank/CDF statistics, regression, concentration,
coverage, equi-depth histograms, point-in-time joins, hopping windows,
the distributed cumulative-sum primitive, and the stateful streaming
type profile."""

import math

import pytest


# ------------------------------------------------- partitioned_cumsum

def test_partitioned_cumsum_matches_global(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    rows = [(i * 7 % 101, 1) for i in range(101)]
    df = spark.createDataFrame(rows, "k int, one int").repartition(5)
    out = partitioned_cumsum(df, ["k"], ["one"]).collect()
    got = {r["k"]: r["cum_one"] for r in out}
    # keys are a permutation of 0..100 → inclusive running count == rank
    for rank, k in enumerate(sorted(got), start=1):
        assert got[k] == rank, (k, got[k], rank)


def test_partitioned_cumsum_exclusive(spark):
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    df = spark.createDataFrame([(i, 10) for i in range(20)], "k int, v int")
    out = partitioned_cumsum(df, ["k"], ["v"], inclusive=False).collect()
    got = {r["k"]: r["cum_v"] for r in out}
    for k in range(20):
        assert got[k] == 10 * k


# ------------------------------------------------- rank statistics

def test_mann_whitney_hand_computed(spark):
    from smartpy_arc_spark.operators.stats import mann_whitney_u

    a, b = [1.0, 2.0, 3.0], [2.0, 3.0, 4.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    # ranks: 1, (2.5, 2.5), (4.5, 4.5), 6 → Ra = 8, U_a = 8 - 6 = 2
    assert r["n_a"] == 3 and r["n_b"] == 3
    assert r["u2_a"] == 4  # 2 * U_a
    n, na, nb, tie = 6, 3, 3, 2 * (8 - 2)
    var = na * nb / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (2 - na * nb / 2) / math.sqrt(var)
    assert r["z_e6"] == round(z * 1e6)


def test_mann_whitney_symmetry(spark):
    """Swapping the cohorts flips the sign of z and mirrors U."""
    from smartpy_arc_spark.operators.stats import mann_whitney_u

    rows = [("a", float(v)) for v in (1, 4, 2, 8)] + [
        ("b", float(v)) for v in (3, 3, 5)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    ab = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    ba = mann_whitney_u(df, "g", "v", "b", "a").collect()[0]
    # U_a + U_b = n_a * n_b
    assert ab["u2_a"] + ba["u2_a"] == 2 * ab["n_a"] * ab["n_b"]
    assert abs(ab["z_e6"] + ba["z_e6"]) <= 1  # scaled-rounding off-by-one


def test_ks_hand_computed(spark):
    from smartpy_arc_spark.operators.stats import ks_test_2samp

    a, b = [1.0, 2.0, 3.0], [2.0, 3.0, 4.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test_2samp(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["d_num"] == 3  # sup at v=1: |1*3 - 0*3|
    assert r["d"] == pytest.approx(1 / 3, abs=1e-12)


def test_ks_identical_samples_zero(spark):
    from smartpy_arc_spark.operators.stats import ks_test_2samp

    rows = [(g, float(v)) for g in "ab" for v in (1, 2, 2, 5)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test_2samp(df, "g", "v", "a", "b").collect()[0]
    assert r["d_num"] == 0 and r["d"] == 0.0


# ------------------------------------------------- regression / series

def test_ols_exact_line(spark):
    from smartpy_arc_spark.operators.stats import ols_fit

    rows = [(float(x), 2.0 * x + 1.0) for x in range(1, 51)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = ols_fit(df, "x", "y").collect()[0]
    assert r["n"] == 50
    assert r["slope"] == pytest.approx(2.0, abs=1e-9)
    assert r["intercept"] == pytest.approx(1.0, abs=1e-6)
    assert r["r2"] == pytest.approx(1.0, abs=1e-9)


def test_autocorrelation_alternating_is_minus_one(spark):
    from smartpy_arc_spark.operators.stats import autocorrelation

    rows = [
        (1, f"2024-01-01 00:0{i}:00", float(1 + i % 2), i) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "k long, ts string, v double, i long"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v", "i")
    r = autocorrelation(df, "k", "ts", "v", tiebreak_col="i").collect()
    assert len(r) == 1
    assert r[0]["n_pairs"] == 5
    assert r[0]["r"] == pytest.approx(-1.0, abs=1e-9)


def test_autocorrelation_drops_constant_series(spark):
    from smartpy_arc_spark.operators.stats import autocorrelation

    rows = [(1, f"2024-01-01 00:0{i}:00", 5.0, i) for i in range(6)]
    df = spark.createDataFrame(
        rows, "k long, ts string, v double, i long"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v", "i")
    assert autocorrelation(df, "k", "ts", "v", tiebreak_col="i").count() == 0


# ------------------------------------------------- concentration / coverage

def test_concentration_uniform_and_point_mass(spark):
    from smartpy_arc_spark.operators.stats import concentration

    rows = [("u", c) for c in "abcd" for _ in range(5)] + [
        ("p", "a") for _ in range(8)
    ]
    df = spark.createDataFrame(rows, "g string, c string")
    out = {r["g"]: r for r in concentration(df, "g", "c").collect()}
    assert out["u"]["entropy"] == pytest.approx(math.log(4), abs=1e-6)
    assert out["u"]["hhi"] == pytest.approx(0.25, abs=1e-9)
    assert out["u"]["top_share"] == pytest.approx(0.25, abs=1e-9)
    assert out["p"]["entropy"] == 0.0
    assert out["p"]["hhi"] == 1.0 and out["p"]["top_share"] == 1.0
    assert out["p"]["k_cats"] == 1


def test_vocabulary_coverage(spark):
    from smartpy_arc_spark.operators.text import vocabulary_coverage

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c d")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in vocabulary_coverage(df, vocab_size=2).collect()
    }
    # vocab = {a (2), b (1; ties broken term-asc over c, d)}
    assert out[1]["n_tokens"] == 3 and out[1]["n_oov"] == 0
    assert out[1]["oov_rate"] == 0.0
    assert out[2]["n_tokens"] == 2 and out[2]["n_oov"] == 2
    assert out[2]["oov_rate"] == 1.0


# ------------------------------------------------- equi-depth histogram

def test_equi_depth_uniform(spark):
    from smartpy_arc_spark.operators.quality import equi_depth_histogram

    df = spark.createDataFrame(
        [(float(v),) for v in range(1, 101)], "v double"
    )
    out = sorted(
        equi_depth_histogram(df, "v", n_buckets=10).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in out] == list(range(1, 11))
    assert all(r["n"] == 10 for r in out)
    assert out[0]["lo"] == 1.0 and out[-1]["hi"] == 100.0
    assert sum(r["share"] for r in out) == pytest.approx(1.0, abs=1e-12)
    # depth ordering: every bucket's range is disjoint and increasing
    for a, b in zip(out, out[1:]):
        assert a["hi"] < b["lo"]


def test_equi_depth_skew_never_one_bucket(spark):
    """Zipf-ish mass: equal-width would collapse; equal-depth must not."""
    from smartpy_arc_spark.operators.quality import equi_depth_histogram

    vals = [0.001 * i for i in range(1, 91)] + [1000.0 + i for i in range(10)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = equi_depth_histogram(df, "v", n_buckets=4).collect()
    counts = sorted(r["n"] for r in out)
    assert counts[-1] <= 26  # ~25 per bucket, never one giant bucket


# ------------------------------------------------- point-in-time join

def _pit_fixture(spark):
    from pyspark.sql import functions as F  # noqa: F401

    facts = spark.createDataFrame(
        [
            (1, "2020-02-01"),
            (1, "2020-04-15"),
            (1, "2020-09-01"),  # gap: no covering version
            (2, "2020-02-01"),
        ],
        "k long, d string",
    ).selectExpr("k", "CAST(d AS DATE) AS ts")
    versions = spark.createDataFrame(
        [
            (1, 1, "2020-01-01", "2020-03-01", 10.0),
            (1, 2, "2020-03-01", "2020-06-01", 20.0),
            (2, 1, "2020-01-01", "2021-01-01", 30.0),
        ],
        "k long, version int, f string, t string, rate double",
    ).selectExpr(
        "k", "version",
        "CAST(f AS DATE) AS valid_from", "CAST(t AS DATE) AS valid_to",
        "rate",
    )
    return facts, versions


def test_point_in_time_inner(spark):
    from smartpy_arc_spark.operators.asof import point_in_time_join

    facts, versions = _pit_fixture(spark)
    out = point_in_time_join(facts, versions, key="k", ts_col="ts").collect()
    got = {(r["k"], str(r["ts"])): (r["version"], r["rate"]) for r in out}
    assert got[(1, "2020-02-01")] == (1, 10.0)
    assert got[(1, "2020-04-15")] == (2, 20.0)
    assert got[(2, "2020-02-01")] == (1, 30.0)
    assert len(out) == 3  # the gap row drops on inner


def test_point_in_time_left_keeps_gap_rows(spark):
    from smartpy_arc_spark.operators.asof import point_in_time_join

    facts, versions = _pit_fixture(spark)
    out = point_in_time_join(
        facts, versions, key="k", ts_col="ts", how="left"
    ).collect()
    assert len(out) == 4
    gap = [r for r in out if str(r["ts"]) == "2020-09-01"][0]
    assert gap["version"] is None


def test_point_in_time_overlap_fans_out(spark):
    from smartpy_arc_spark.operators.asof import point_in_time_join

    facts = spark.createDataFrame([(1, "2020-02-01")], "k long, d string") \
        .selectExpr("k", "CAST(d AS DATE) AS ts")
    versions = spark.createDataFrame(
        [
            (1, 1, "2020-01-01", "2020-03-01", 1.0),
            (1, 2, "2020-01-15", "2020-04-01", 2.0),  # overlapping
        ],
        "k long, version int, f string, t string, rate double",
    ).selectExpr(
        "k", "version", "CAST(f AS DATE) AS valid_from",
        "CAST(t AS DATE) AS valid_to", "rate",
    )
    out = point_in_time_join(facts, versions, key="k", ts_col="ts").collect()
    assert len(out) == 2  # broken dims surface as fan-out, not silence


# ------------------------------------------------- hopping windows

def test_hopping_each_event_in_four_windows(spark):
    from smartpy_arc_spark.operators.sessionize import hopping_window_counts

    df = spark.createDataFrame(
        [(1, "1970-01-01 02:46:40", 2.5)], "id long, ts string, value double"
    ).selectExpr("id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    out = sorted(
        hopping_window_counts(df).collect(), key=lambda r: r["hop_start_s"]
    )
    # epoch 10000s, slide-aligned covers start at 7200, 8100, 9000, 9900
    assert [r["hop_start_s"] for r in out] == [7200, 8100, 9000, 9900]
    assert all(r["n_events"] == 1 and r["sum_ticks"] == 250 for r in out)


# ------------------------------------------------- streaming type profile

def test_streaming_type_profile_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.sources.scan import scan
    from smartpy_arc_spark.streaming.stream import (
        read_events_stream,
        run_stream_to_memory,
        streaming_type_profile,
    )

    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_memory(
        streaming_type_profile(stream), output_mode="update"
    )
    got = {r["user_id"]: r for r in out.collect()}

    ev = scan(spark, sf_dir, "events", nanos_ts_cols=["ts"])
    exp = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .collect()
    )
    assert len(got) == len(exp)
    for r in exp:
        g = got[r["user_id"]]
        assert g["n_events"] == r["n_events"]
        assert g["n_distinct_types"] == r["n_types"]
        assert g["top_type"] is not None


# ------------------------------------------------- ewma

def test_ewma_hand_computed(spark):
    from smartpy_arc_spark.operators.resample import ewma

    rows = [
        (1, f"2024-01-01 00:0{i}:00", v, i)
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0])
    ]
    df = spark.createDataFrame(
        rows, "k long, ts string, v double, i long"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v", "i")
    r = ewma(df, "k", "ts", "v", alpha=0.5, tiebreak_col="i").collect()[0]
    # s = 1 -> 1.5 -> 2.25 -> 3.125
    assert r["n_obs"] == 4 and r["last_value"] == 4.0
    assert r["ewma_value"] == pytest.approx(3.125, abs=1e-9)


def test_ewma_constant_series_is_identity(spark):
    from smartpy_arc_spark.operators.resample import ewma

    rows = [(1, f"2024-01-01 00:0{i}:00", 7.25, i) for i in range(5)]
    df = spark.createDataFrame(
        rows, "k long, ts string, v double, i long"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v", "i")
    r = ewma(df, "k", "ts", "v", tiebreak_col="i").collect()[0]
    assert r["ewma_value"] == 7.25


def test_ewma_order_matters(spark):
    """EWMA weights recency — the same multiset in reversed order gives a
    different answer (guards against accidentally using an unordered agg)."""
    from smartpy_arc_spark.operators.resample import ewma

    fwd = [(1, f"2024-01-01 00:0{i}:00", float(i + 1), i) for i in range(4)]
    rev = [(1, f"2024-01-01 00:0{i}:00", float(4 - i), i) for i in range(4)]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, ts string, v double, i long"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v", "i")
    a = ewma(mk(fwd), "k", "ts", "v", tiebreak_col="i").collect()[0]
    b = ewma(mk(rev), "k", "ts", "v", tiebreak_col="i").collect()[0]
    assert a["ewma_value"] != b["ewma_value"]
    # exact folds: rising [1,2,3,4] → 2.265625; falling [4,3,2,1] → 2.734375
    # (at alpha=0.25 the seed dominates, so the falling series ends higher)
    assert a["ewma_value"] == pytest.approx(2.265625, abs=1e-12)
    assert b["ewma_value"] == pytest.approx(2.734375, abs=1e-12)


# ------------------------------------------------- BFS

def test_bfs_path_graph(spark):
    from smartpy_arc_spark.operators.components import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [1], max_hops=10).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_multi_source_and_cycle(spark):
    from smartpy_arc_spark.operators.components import bfs_distances

    # 1-2-3-4-5-6-1 ring: sources {1, 4} → every node within 1 hop... no:
    # dist(2)=1 (from 1), dist(3)=1 (from 4), dist(5)=1, dist(6)=1
    ring = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)]
    edges = spark.createDataFrame(ring, "src long, dst long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [1, 4], max_hops=10).collect()
    }
    assert got == {1: 0, 4: 0, 2: 1, 6: 1, 3: 1, 5: 1}


def test_bfs_respects_max_hops_and_direction(spark):
    from smartpy_arc_spark.operators.components import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [1], max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}  # node 4 beyond the hop budget
    directed = {
        r["node"]: r["dist"]
        for r in bfs_distances(
            edges, [3], max_hops=5, directed=True
        ).collect()
    }
    assert directed == {3: 0, 4: 1}  # no backward traversal


# ------------------------------------------------- quantile normalization

def test_quantile_normalize_shifts_group_onto_global(spark):
    from smartpy_arc_spark.operators.quality import quantile_normalize

    # group a: 1..10, group b: 101..110 — after normalization both groups
    # span the same global value set
    rows = [("a", float(v), v) for v in range(1, 11)] + [
        ("b", float(100 + v), 100 + v) for v in range(1, 11)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    out = quantile_normalize(df, "g", "v", id_col="id", grid=1000)
    rows_out = out.collect()
    a = sorted(r["normalized"] for r in rows_out if r["g"] == "a")
    b = sorted(r["normalized"] for r in rows_out if r["g"] == "b")
    assert a == b  # identical positions → identical normalized values
    # min maps to global min, max to global max
    assert a[0] == 1.0 and a[-1] == 110.0
    # monotone within group
    by_v = sorted(
        ((r["v"], r["normalized"]) for r in rows_out if r["g"] == "a")
    )
    assert all(x[1] <= y[1] for x, y in zip(by_v, by_v[1:]))


def test_quantile_normalize_values_come_from_data(spark):
    """Rank-rule grid: every normalized value is an actual data value."""
    from smartpy_arc_spark.operators.quality import quantile_normalize

    rows = [("a", float(v % 7), v) for v in range(40)] + [
        ("b", float(v % 13) * 3, v + 100) for v in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    out = quantile_normalize(df, "g", "v", id_col="id").collect()
    universe = {r[1] for r in rows}
    assert all(r["normalized"] in universe for r in out)


# ------------------------------------------------- set-similarity join

def test_set_similarity_finds_near_identical(spark):
    from smartpy_arc_spark.operators.dedup import set_similarity_join

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox leaps"),   # 4/6 = 0.667 vs doc 1
            (3, "entirely different words here"),
            (4, "the quick brown fox jumps"),   # identical to doc 1
        ],
        "doc_id long, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in set_similarity_join(df, threshold=0.6).collect()
    }
    assert (1, 4) in out and out[(1, 4)]["jaccard"] == 1.0
    assert (1, 2) in out and out[(1, 2)]["jaccard"] == pytest.approx(4 / 6)
    assert (2, 4) in out
    assert not any(3 in k for k in out)


def test_set_similarity_matches_brute_force(spark):
    """Prefix filtering must be lossless: same pairs as quadratic Jaccard."""
    from itertools import combinations

    from smartpy_arc_spark.operators.dedup import set_similarity_join

    # letter-only tokens: alpha_tokens splits on non-letters, so "w0"
    # would collapse to "w" and merge every document
    corpus = [
        (i, " ".join("w" + chr(97 + (i * 3 + j) % 11) for j in range(6)))
        for i in range(12)
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in set_similarity_join(df, threshold=0.45).collect()
    }
    sets = {i: set(t.split()) for i, t in corpus}
    exp = {
        (a, b)
        for a, b in combinations(sorted(sets), 2)
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.45
    }
    assert got == exp


def test_source_similarity_identical_and_disjoint(spark):
    from smartpy_arc_spark.operators.text import source_similarity

    df = spark.createDataFrame(
        [
            ("s1", "alpha beta gamma"),
            ("s2", "alpha beta gamma"),     # identical distribution → cos 1
            ("s3", "delta epsilon zeta"),   # disjoint → no dot row at all
        ],
        "source string, text string",
    )
    out = {
        (r["group_a"], r["group_b"]): r["cos_e6"]
        for r in source_similarity(df, "source").collect()
    }
    assert out[("s1", "s2")] == 1_000_000
    # disjoint vocabularies never meet in the term-keyed join
    assert ("s1", "s3") not in out and ("s2", "s3") not in out


# ------------------------------------------------- embedding covariance / PCA

def test_covariance_matches_numpy(spark):
    import numpy as np

    from smartpy_arc_spark.operators.embedding import covariance_matrix

    rng = [[float((i * 7 + j * 3) % 5), float((i * 2) % 3), float(i % 4)]
           for i in range(30) for j in [i]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<double>"
    ).repartition(4)
    got = {(r["i"], r["j"]): r["cov"] for r in covariance_matrix(df).collect()}
    ref = np.cov(np.array(rng), rowvar=False)
    for (i, j), v in got.items():
        assert v == pytest.approx(ref[i, j], abs=1e-12), (i, j)
    assert len(got) == 6  # upper triangle of 3x3


def test_pca_recovers_dominant_direction(spark):
    import numpy as np

    from smartpy_arc_spark.operators.embedding import pca_components

    # points on the line y = 2x (plus a tiny orthogonal wiggle):
    # first component must align with (1, 2)/sqrt(5), sign-normalized
    pts = [
        (i, [float(t), float(2 * t + (0.001 if t % 2 else -0.001))])
        for i, t in enumerate(range(-10, 11))
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    comps, vals, mean = pca_components(df, k=2)
    d0 = np.array([1.0, 2.0]) / np.sqrt(5.0)
    assert np.allclose(np.abs(comps[0]), d0, atol=1e-3)
    assert comps[0][np.argmax(np.abs(comps[0]))] > 0  # sign convention
    assert vals[0] > 100 * vals[1]  # dominant direction dominates


def test_pca_fit_apply_split(spark):
    """Fitting on one frame and projecting another must reuse the fitted
    basis (train/apply contract), and projection preserves pairwise
    distances in the full-rank case."""
    import numpy as np

    from smartpy_arc_spark.operators.embedding import (
        pca_components,
        pca_project,
    )

    pts = [(i, [float(i % 5), float((i * 3) % 7), float(i % 2)])
           for i in range(40)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    comps, _, mean = pca_components(df, k=3)
    out = pca_project(
        df, k=3, components=comps, mean=mean
    ).orderBy("vec_id").collect()
    X = np.array([p[1] for p in pts])
    P = np.array([r["pc"] for r in out])
    # full-rank rotation: pairwise distances preserved
    for a, b in [(0, 1), (3, 17), (20, 39)]:
        da = np.linalg.norm(X[a] - X[b])
        db = np.linalg.norm(P[a] - P[b])
        assert db == pytest.approx(da, abs=1e-9)


# ------------------------------------------------- count-min sketch

def test_cms_overestimates_and_bounds(spark):
    from collections import Counter

    from smartpy_arc_spark.operators.sketch import cms_build, cms_estimate

    words = [f"w{chr(97 + i % 17)}" for i in range(400)] + ["hot"] * 100
    df = spark.createDataFrame([(w,) for w in words], "t string")
    true = Counter(words)
    sk = cms_build(df, "t", width=64, depth=4)
    est = {
        r["term"]: r["est"]
        for r in cms_estimate(
            sk, list(true) + ["absent"], width=64, depth=4
        ).collect()
    }
    n = len(words)
    for t, c in true.items():
        assert est[t] >= c, t                    # never underestimates
        assert est[t] <= c + 2 * n / 64 * 4      # loose CMS bound
    assert est["absent"] >= 0


def test_cms_exact_when_wide(spark):
    """With width >> distinct terms and no collisions, estimates are exact."""
    from smartpy_arc_spark.operators.sketch import cms_build, cms_estimate

    words = ["a"] * 5 + ["b"] * 3 + ["c"] * 2
    df = spark.createDataFrame([(w,) for w in words], "t string")
    sk = cms_build(df, "t", width=4096, depth=4)
    est = {
        r["term"]: r["est"]
        for r in cms_estimate(sk, ["a", "b", "c", "d"], width=4096, depth=4).collect()
    }
    assert est == {"a": 5, "b": 3, "c": 2, "d": 0}


def test_cms_merge_by_union(spark):
    """Two sketch tables over disjoint halves, merged by UNION ALL +
    re-aggregate, estimate like a sketch built over the whole."""
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.sketch import cms_build, cms_estimate

    h1 = spark.createDataFrame([("x",)] * 4 + [("y",)] * 2, "t string")
    h2 = spark.createDataFrame([("x",)] * 3 + [("z",)] * 5, "t string")
    s1 = cms_build(h1, "t", width=1024, depth=4)
    s2 = cms_build(h2, "t", width=1024, depth=4)
    merged = (
        s1.unionAll(s2).groupBy("seed", "bucket").agg(F.sum("c").alias("c"))
    )
    est = {
        r["term"]: r["est"]
        for r in cms_estimate(merged, ["x", "y", "z"], width=1024, depth=4).collect()
    }
    assert est == {"x": 7, "y": 2, "z": 5}


# ------------------------------------------------- poisson bootstrap

def test_poisson_bootstrap_replicates_center_on_mean(spark):
    from smartpy_arc_spark.operators.stats import poisson_bootstrap

    rows = [(i, float(10 + i % 5)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = poisson_bootstrap(df, "id", "v", n_replicates=30).collect()
    assert len(out) == 30
    true_mean = sum(v for _, v in rows) / len(rows)
    means = [r["mean_e4"] / 10000 for r in out]
    # replicate means scatter tightly around the true mean (sd ~ sd/sqrt(n))
    avg = sum(means) / len(means)
    assert avg == pytest.approx(true_mean, abs=0.15)
    assert all(abs(m - true_mean) < 1.0 for m in means)
    # Poisson(1) weights: effective n stays near n
    for r in out:
        assert 0.85 * len(rows) < r["n_eff"] < 1.15 * len(rows)


def test_poisson_bootstrap_deterministic(spark):
    from smartpy_arc_spark.operators.stats import poisson_bootstrap

    rows = [(i, float(i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(7)
    a = sorted(map(tuple, poisson_bootstrap(df, "id", "v", n_replicates=5).collect()))
    b = sorted(map(tuple, poisson_bootstrap(df, "id", "v", n_replicates=5).collect()))
    assert a == b  # hash-derived weights: same input → same replicates


# ------------------------------------------------- bounded streaming source

def test_seqgen_bounded_drain_matches_closed_form(spark):
    from collections import defaultdict

    from pyspark.sql import functions as F

    from smartpy_arc_spark.sources.seqgen import register_seqgen
    from smartpy_arc_spark.streaming.stream import run_stream_until_idle

    register_seqgen(spark)
    st = (
        spark.readStream.format("seqgen")
        .option("n_total", 600)
        .option("rows_per_batch", 200)
        .option("n_users", 25)
        .load()
    )
    agg = st.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("amount").cast("long").alias("total"),
    )
    out = run_stream_until_idle(agg, output_mode="complete")
    got = {r["user_id"]: (r["n"], r["total"]) for r in out.collect()}
    exp = defaultdict(lambda: [0, 0])
    for seq in range(600):
        u = seq % 25
        exp[u][0] += 1
        exp[u][1] += (seq * 2654435761) % 10000
    assert len(got) == 25
    assert all(tuple(exp[u]) == got[u] for u in exp)


# ------------------------------------------------- fuzzy linkage / intervals

def test_fuzzy_link_finds_near_keys_within_blocks(spark):
    from smartpy_arc_spark.operators.linkage import fuzzy_link

    left = spark.createDataFrame(
        [(1, "jonathan smith"), (2, "mary jones"), (3, "zzz")],
        "id long, name string",
    )
    right = spark.createDataFrame(
        [(10, "jonathan smyth"),   # 1 edit from id 1
         (11, "mary joness"),      # 1 edit from id 2
         (12, "completely other")],
        "id long, name string",
    )
    out = {
        (r["left_id"], r["right_id"]): r["edit_distance"]
        for r in fuzzy_link(
            left, right,
            left_id="id", right_id="id", left_key="name", right_key="name",
        ).collect()
    }
    assert out[(1, 10)] == 1 and out[(2, 11)] == 1
    assert all(l != 3 and r != 12 for l, r in out)


def test_fuzzy_link_blocking_is_recall_bounded(spark):
    """A match whose edit hits the block prefix escapes — documented
    trade; a same-prefix same-band 2-edit match never does."""
    from smartpy_arc_spark.operators.linkage import fuzzy_link

    left = spark.createDataFrame([(1, "abcdef")], "id long, name string")
    right = spark.createDataFrame(
        [(10, "abcdxy"),   # 2 edits, prefix intact → found
         (11, "xbcdef")],  # 1 edit IN the prefix → blocked away
        "id long, name string",
    )
    got = {
        r["right_id"]
        for r in fuzzy_link(
            left, right,
            left_id="id", right_id="id", left_key="name", right_key="name",
        ).collect()
    }
    assert got == {10}


def test_interval_overlap_half_open(spark):
    from smartpy_arc_spark.operators.asof import interval_overlap_join

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, s long, e long"
    )
    a = mk([(1, 0, 10), (1, 20, 30)])
    b = mk([(1, 5, 15),    # overlaps [0,10)
            (1, 10, 20),   # touches 10 — half-open, NOT an overlap of [0,10)
            (2, 0, 100)])  # different key
    out = interval_overlap_join(
        a.selectExpr("k", "s as sa", "e as ea"),
        b.selectExpr("k", "s as sb", "e as eb"),
        key="k",
        left_start="sa", left_end="ea",
        right_start="sb", right_end="eb",
    ).collect()
    pairs = {(r["sa"], r["sb"]) for r in out}
    # [0,10) x [5,15) overlap; [0,10) x [10,20) and [20,30) x [10,20)
    # only TOUCH (half-open => no overlap); [20,30) x [5,15) disjoint;
    # key 2 never joins.  Exactly one pair survives.
    assert pairs == {(0, 5)}


# ------------------------------------------------- target encoding / hashing

def test_target_encode_smoothed_shrinks_to_prior(spark):
    from smartpy_arc_spark.operators.features import target_encode_smoothed

    rows = [("big", 10.0)] * 100 + [("tiny", 100.0)]
    df = spark.createDataFrame(rows, "c string, y double")
    out = {
        r["category"]: r["enc"]
        for r in target_encode_smoothed(df, "c", "y", smoothing=20, scale=1).collect()
    }
    mu = (100 * 10 + 100) / 101
    # big: lots of evidence → near its own mean
    assert out["big"] == pytest.approx((100 * 10 + 20 * mu) / 120, abs=1e-9)
    # tiny: one observation → pulled almost to the prior
    assert out["tiny"] == pytest.approx((100 + 20 * mu) / 21, abs=1e-9)
    assert abs(out["tiny"] - mu) < abs(100.0 - mu)  # strictly shrunk


def test_target_encode_loo_excludes_own_label(spark):
    from smartpy_arc_spark.operators.features import target_encode_loo

    rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0), (4, "b", 7.0)]
    df = spark.createDataFrame(rows, "id long, c string, y double")
    out = {
        r["id"]: r["loo_enc"]
        for r in target_encode_loo(df, "c", "y", id_col="id").collect()
    }
    assert out[1] == pytest.approx(25.0)  # (20+30)/2
    assert out[2] == pytest.approx(20.0)  # (10+30)/2
    assert out[3] == pytest.approx(15.0)  # (10+20)/2
    assert out[4] is None                 # singleton category → undefined


def test_feature_hash_stable_and_bounded(spark):
    from smartpy_arc_spark.operators.features import feature_hash

    df = spark.createDataFrame(
        [(1, "en", "src1"), (2, "de", "src2"), (3, "en", "src1")],
        "doc_id long, lang string, source string",
    )
    a = sorted(map(tuple, feature_hash(df, ["lang", "source"], n_features=64).collect()))
    b = sorted(map(tuple, feature_hash(df, ["lang", "source"], n_features=64).collect()))
    assert a == b                              # deterministic
    assert all(0 <= r[1] < 64 for r in a)      # buckets bounded
    assert all(r[2] in (-1, 1) for r in a)     # signed
    # identical (col, value) pairs always land identically: docs 1 and 3
    d1 = {r[1:] for r in a if r[0] == 1}
    d3 = {r[1:] for r in a if r[0] == 3}
    assert d1 == d3


# ------------------------------------------------- governance / drift

def test_k_anonymity_flags_small_classes(spark):
    from smartpy_arc_spark.operators.checks import k_anonymity

    rows = [("us", "a")] * 6 + [("de", "b")] * 2 + [("fr", "c")]
    df = spark.createDataFrame(rows, "region string, plan string")
    out = {
        (r["region"], r["plan"]): (r["n"], r["anonymous"])
        for r in k_anonymity(df, ["region", "plan"], k=3).collect()
    }
    assert out[("us", "a")] == (6, True)
    assert out[("de", "b")] == (2, False)
    assert out[("fr", "c")] == (1, False)


def test_psi_zero_for_identical_distributions(spark):
    from smartpy_arc_spark.operators.checks import population_stability_index

    rows = [(float(v % 10),) for v in range(1000)]
    df = spark.createDataFrame(rows, "v double")
    out = population_stability_index(
        df, df, "v", lo=0.0, hi=10.0, n_buckets=5
    ).collect()
    assert all(r["term_e6"] == 0 for r in out)
    assert out[0]["psi_e6"] == 0


def test_psi_detects_shift(spark):
    from smartpy_arc_spark.operators.checks import population_stability_index

    a = spark.createDataFrame([(float(v % 10),) for v in range(1000)], "v double")
    b = spark.createDataFrame(
        [(float(v % 10) / 2,) for v in range(1000)], "v double"  # squashed low
    )
    out = population_stability_index(
        a, b, "v", lo=0.0, hi=10.0, n_buckets=5
    ).collect()
    assert out[0]["psi_e6"] > 250_000  # > 0.25: "distribution shifted"


# ------------------------------------------------- incremental agg / skew

def test_incremental_agg_matches_recompute(spark):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.merge import incremental_agg_update

    base = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5), (3, 7)], "k long, v long"
    )
    agg = base.groupBy("k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sum_ticks"),
    )
    changes = spark.createDataFrame(
        [
            (1, "U", 25, 20),     # 1: 20 -> 25
            (2, "D", None, 5),    # 2: drops to zero rows → key disappears
            (4, "I", 9, None),    # new key
            (3, "I", 3, None),    # extra row on existing key
        ],
        "k long, op string, value_ticks long, old_value_ticks long",
    )
    out = {
        r["k"]: (r["n"], r["sum_ticks"])
        for r in incremental_agg_update(agg, changes, key_col="k").collect()
    }
    assert out == {1: (2, 35), 3: (2, 10), 4: (1, 9)}


def test_incremental_agg_noop_batch_is_identity(spark):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.merge import incremental_agg_update

    base = spark.createDataFrame([(1, 10), (2, 5)], "k long, v long")
    agg = base.groupBy("k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sum_ticks"),
    )
    empty = spark.createDataFrame(
        [], "k long, op string, value_ticks long, old_value_ticks long"
    )
    out = sorted(
        map(tuple, incremental_agg_update(agg, empty, key_col="k").collect())
    )
    assert out == [(1, 1, 10), (2, 1, 5)]


def test_skew_report_flags_hot_key(spark):
    from smartpy_arc_spark.operators.scale import skew_report

    rows = [(99,)] * 90 + [(k,) for k in range(10)]
    df = spark.createDataFrame(rows, "k long")
    out = skew_report(df, "k", top_k=3).collect()
    top = out[0]
    assert top["key"] == 99 and top["n_rows"] == 90
    assert top["share_e6"] == 900000
    # mean rows/key = 100/11; factor = 90 / (100/11) = 9.9
    assert top["skew_factor_e2"] == 990


# ------------------------------------------------- referential integrity

def test_referential_report_counts_orphans_and_nulls(spark):
    from smartpy_arc_spark.operators.checks import referential_report

    fact = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    dim = spark.createDataFrame([(10,), (20,)], "pk long")
    r = referential_report(fact, [("fk", dim, "pk")], fact_name="f").collect()[0]
    assert r["constraint"] == "f.fk -> pk"
    assert r["n_rows"] == 4
    assert r["n_null_fk"] == 1
    assert r["n_orphans"] == 1      # fk=99
    assert r["ok"] is False


# ------------------------------------------------- neyman allocation

def test_neyman_favors_big_varied_strata(spark):
    from smartpy_arc_spark.operators.sample import neyman_allocation

    rows = (
        [("flat", 100.0)] * 50                       # big but zero variance
        + [("varied", float(v))
           for v in (0, 200) * 25]                   # big and high variance
        + [("smallv", float(v)) for v in (0, 200)]   # varied but tiny
    )
    df = spark.createDataFrame(rows, "s string, v double")
    out = {
        r["stratum"]: r
        for r in neyman_allocation(df, "s", "v", budget=100, scale=1).collect()
    }
    assert out["flat"]["alloc"] == 0          # S_h = 0 → no budget
    assert out["varied"]["alloc"] > out["smallv"]["alloc"]  # N_h scales it
    assert out["varied"]["share_e6"] + out["smallv"]["share_e6"] == 1_000_000


# ------------------------------------------------- weighted SSSP

def test_sssp_prefers_light_path_over_fewer_hops(spark):
    from smartpy_arc_spark.operators.components import shortest_paths

    # 1 -(10)- 4  vs  1 -(1)- 2 -(1)- 3 -(1)- 4 : more hops, lighter
    edges = spark.createDataFrame(
        [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)], "src long, dst long, w long"
    )
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, [1], max_dist=100).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_sssp_parallel_edges_and_max_dist(spark):
    from smartpy_arc_spark.operators.components import shortest_paths

    edges = spark.createDataFrame(
        [(1, 2, 5), (1, 2, 2), (2, 3, 50)], "src long, dst long, w long"
    )
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, [1], max_dist=10).collect()
    }
    assert got == {1: 0, 2: 2}  # lightest parallel edge; 3 beyond budget


def test_sssp_directed_respects_direction(spark):
    from smartpy_arc_spark.operators.components import shortest_paths

    edges = spark.createDataFrame(
        [(1, 2, 3), (3, 2, 1)], "src long, dst long, w long"
    )
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(
            edges, [1], max_dist=100, directed=True
        ).collect()
    }
    assert got == {1: 0, 2: 3}  # 3 unreachable going forward


# ------------------------------------------------- benford / gini

def test_benford_uniform_digits_deviate(spark):
    import math

    from smartpy_arc_spark.operators.stats import benford_deviation

    # perfectly uniform first digits 1..9 — maximally un-Benford
    rows = [(float(d) * 10 ** (i % 3),) for d in range(1, 10) for i in range(30)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_deviation(df, "v").collect()}
    assert set(out) == set(range(1, 10))
    assert all(r["share_e6"] == round(1 / 9 * 1e6) for r in out.values())
    for d in (1, 9):
        assert out[d]["expected_e6"] == round(math.log10(1 + 1 / d) * 1e6)
    # digit 1 under-represented vs Benford, digit 9 over-represented
    assert out[1]["share_e6"] < out[1]["expected_e6"]
    assert out[9]["share_e6"] > out[9]["expected_e6"]


def test_gini_extremes(spark):
    from smartpy_arc_spark.operators.stats import gini_coefficient

    equal = spark.createDataFrame([(5.0,)] * 40, "v double")
    assert gini_coefficient(equal, "v").collect()[0]["gini_e6"] == 0

    # one owner of everything: G -> (n-1)/n = 0.975 for n=40
    concentrated = spark.createDataFrame(
        [(0.0,)] * 39 + [(100.0,)], "v double"
    )
    r = gini_coefficient(concentrated, "v").collect()[0]
    assert r["n"] == 40
    assert r["gini_e6"] == round((40 - 1) / 40 * 1e6)
