"""Round-4 additions: Spearman rank correlation, one-way ANOVA,
two-proportion z, and per-key CUSUM changepoint detection."""

import math


# ------------------------------------------------- spearman

def test_spearman_perfect_monotone(spark):
    from smartpy_arc_spark.operators.stats import spearman_corr

    rows = [(float(i), float(i * i)) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r["n"] == 7
    assert r["rho_e6"] == 1000000

    anti = spark.createDataFrame(
        [(float(i), float(-i * i * i)) for i in range(1, 8)],
        "x double, y double",
    )
    assert spearman_corr(anti, "x", "y").collect()[0]["rho_e6"] == -1000000


def test_spearman_hand_computed_permutation(spark):
    """x = 1..4, y = (2,1,4,3): rank-Pearson = 0.6 exactly."""
    from smartpy_arc_spark.operators.stats import spearman_corr

    rows = [(1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (4.0, 3.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    assert spearman_corr(df, "x", "y").collect()[0]["rho_e6"] == 600000


def test_spearman_ties_average_ranks(spark):
    """Tied values share an average rank: perfectly aligned tie groups
    still give rho = 1 (the no-ties shortcut formula would not)."""
    from smartpy_arc_spark.operators.stats import spearman_corr

    rows = [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    assert spearman_corr(df, "x", "y").collect()[0]["rho_e6"] == 1000000


def test_spearman_constant_column_null(spark):
    from smartpy_arc_spark.operators.stats import spearman_corr

    rows = [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    assert spearman_corr(df, "x", "y").collect()[0]["rho_e6"] is None


# ------------------------------------------------- anova

def test_anova_hand_computed(spark):
    """Groups (1,2,3) and (4,5,6): SSB = 13.5, SSW = 4, F = 13.5."""
    from smartpy_arc_spark.operators.stats import anova_oneway

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_oneway(df, "g", "v").collect()[0]
    assert r["k"] == 2 and r["n"] == 6
    assert r["f_e6"] == 13500000


def test_anova_identical_groups_zero_f(spark):
    from smartpy_arc_spark.operators.stats import anova_oneway

    rows = [(g, v) for g in ("a", "b", "c") for v in (1.0, 2.0, 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    assert anova_oneway(df, "g", "v").collect()[0]["f_e6"] == 0


def test_anova_zero_within_variance_null(spark):
    """All within-group variance zero → F undefined (NULL), not a crash."""
    from smartpy_arc_spark.operators.stats import anova_oneway

    rows = [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    assert anova_oneway(df, "g", "v").collect()[0]["f_e6"] is None


# ------------------------------------------------- two-proportion z

def test_proportion_ztest_hand_computed(spark):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.stats import proportion_ztest

    rows = [("a", i < 8) for i in range(10)] + [("b", i < 4) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, ok boolean")
    r = proportion_ztest(df, "g", F.col("ok"), "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (10, 10)
    assert (r["successes_a"], r["successes_b"]) == (8, 4)
    pool = 12 / 20
    se = math.sqrt(pool * (1 - pool) * (1 / 10 + 1 / 10))
    assert r["z_e6"] == round((0.8 - 0.4) / se * 1e6)


def test_proportion_ztest_symmetric_sign_flip(spark):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.stats import proportion_ztest

    rows = [("a", i % 3 == 0) for i in range(30)] + [
        ("b", i % 5 == 0) for i in range(25)
    ]
    df = spark.createDataFrame(rows, "g string, ok boolean")
    ab = proportion_ztest(df, "g", F.col("ok"), "a", "b").collect()[0]
    ba = proportion_ztest(df, "g", F.col("ok"), "b", "a").collect()[0]
    assert abs(ab["z_e6"] + ba["z_e6"]) <= 1


def test_proportion_ztest_equal_rates_zero(spark):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.stats import proportion_ztest

    rows = [("a", i % 2 == 0) for i in range(10)] + [
        ("b", i % 2 == 0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, ok boolean")
    assert proportion_ztest(df, "g", F.col("ok"), "a", "b").collect()[0][
        "z_e6"
    ] == 0


# ------------------------------------------------- cusum

def test_cusum_hand_computed_shift(spark):
    """Values (1,1,1,11,11,11), mean 6: deviation cumsum bottoms at -15;
    threshold 12 → exactly one crossing, peak deviation 15."""
    from smartpy_arc_spark.operators.stats import cusum_changepoints

    rows = [(1, i, v) for i, v in enumerate([1.0, 1.0, 1.0, 11.0, 11.0, 11.0])]
    df = spark.createDataFrame(rows, "k int, i int, v double")
    r = cusum_changepoints(df, "k", ["i"], "v", threshold=12.0).collect()[0]
    assert r["n_obs"] == 6
    assert r["n_crossings"] == 1
    assert r["max_dev_e4"] == 150000


def test_cusum_stable_series_no_crossings(spark):
    from smartpy_arc_spark.operators.stats import cusum_changepoints

    rows = [(1, i, 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "k int, i int, v double")
    r = cusum_changepoints(df, "k", ["i"], "v", threshold=0.5).collect()[0]
    assert r["n_crossings"] == 0 and r["max_dev_e4"] == 0


def test_cusum_keys_isolated(spark):
    """A shift in one key never flags a neighbouring stable key."""
    from smartpy_arc_spark.operators.stats import cusum_changepoints

    rows = [(1, i, (0.0 if i < 5 else 100.0)) for i in range(10)]
    rows += [(2, i, 7.0) for i in range(10)]
    df = spark.createDataFrame(rows, "k int, i int, v double")
    got = {
        r["k"]: r
        for r in cusum_changepoints(df, "k", ["i"], "v", threshold=10.0).collect()
    }
    assert got[1]["n_crossings"] > 0
    assert got[2]["n_crossings"] == 0


# ------------------------------------------------- distributed ntile

def test_distributed_ntile_matches_sql_ntile(spark):
    """Exact NTILE semantics incl. the uneven-bucket rule (first n%k
    buckets take one extra row), checked against Spark's own NTILE."""
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.scale import distributed_ntile

    rows = [(i, (i * 37) % 101) for i in range(23)]
    df = spark.createDataFrame(rows, "id int, v int").repartition(4)
    got = {
        r["id"]: r["b"]
        for r in distributed_ntile(df, ["v", "id"], 5, out_col="b").collect()
    }
    df.createOrReplaceTempView("ntile_in")
    want = {
        r["id"]: r["b"]
        for r in spark.sql(
            "SELECT id, ntile(5) OVER (ORDER BY v, id) AS b FROM ntile_in"
        ).collect()
    }
    assert got == want


def test_distributed_ntile_fewer_rows_than_buckets(spark):
    from smartpy_arc_spark.operators.scale import distributed_ntile

    df = spark.createDataFrame([(1,), (2,), (3,)], "v int")
    got = sorted(
        r["b"] for r in distributed_ntile(df, ["v"], 5, out_col="b").collect()
    )
    assert got == [1, 2, 3]


# ------------------------------------------------- rfm

def test_rfm_hand_computed(spark):
    """10 customers, strictly increasing frequency/monetary and strictly
    decreasing recency: each ntile has 2 customers, aligned across
    metrics by construction."""
    import datetime

    from smartpy_arc_spark.operators.features import rfm_segments

    rows = []
    for c in range(1, 11):
        for j in range(c):  # customer c has c orders
            rows.append(
                (c, datetime.datetime(2020, 1, c * 2 + (1 if j else 0)), 10.0 * c)
            )
    df = spark.createDataFrame(rows, "cust int, ts timestamp, amt double")
    out = {
        r["cust"]: r
        for r in rfm_segments(df, "cust", "ts", "amt").collect()
    }
    # customer 10 is newest / most frequent / biggest spender; every
    # bucket ntiles its metric ASCENDING, so smallest recency → bucket 1
    assert out[10]["r_bucket"] == 1 and out[10]["f_bucket"] == 5
    assert out[10]["m_bucket"] == 5
    assert out[1]["f_bucket"] == 1 and out[1]["m_bucket"] == 1
    assert out[1]["r_bucket"] == 5  # oldest activity → largest recency
    assert out[10]["recency_days"] == 0
    assert out[1]["frequency"] == 1 and out[1]["monetary_c"] == 1000


# ------------------------------------------------- attribution

def test_attribution_hand_computed(spark):
    """u1: view, click, BUY, click, BUY → window1 (view,click),
    window2 (click); trailing touches after the last BUY are dropped."""
    from smartpy_arc_spark.operators.funnel import touch_attribution

    rows = [
        (1, 1, "view"),
        (1, 2, "click"),
        (1, 3, "buy"),
        (1, 4, "click"),
        (1, 5, "buy"),
        (1, 6, "view"),  # after last conversion → no credit
    ]
    df = spark.createDataFrame(rows, "u int, i int, ch string")
    got = {
        r["channel"]: r
        for r in touch_attribution(df, "u", ["i"], "ch", "buy").collect()
    }
    assert got["view"]["n_first"] == 1 and got["view"]["n_last"] == 0
    assert got["view"]["n_touch"] == 1
    assert got["click"]["n_first"] == 1  # window 2's only touch
    assert got["click"]["n_last"] == 2   # last in both windows
    assert got["click"]["n_touch"] == 2
    assert got["click"]["n_conversions"] == 2


def test_attribution_user_isolation_and_no_touch_conversions(spark):
    """A conversion with no preceding touches yields no credit rows; other
    users' touches never leak into the window."""
    from smartpy_arc_spark.operators.funnel import touch_attribution

    rows = [
        (1, 1, "buy"),          # zero-touch conversion
        (2, 1, "view"),
        (2, 2, "buy"),
    ]
    df = spark.createDataFrame(rows, "u int, i int, ch string")
    got = {
        r["channel"]: r
        for r in touch_attribution(df, "u", ["i"], "ch", "buy").collect()
    }
    assert set(got) == {"view"}
    assert got["view"]["n_first"] == 1 and got["view"]["n_conversions"] == 1


# ------------------------------------------------- point-in-polygon join

def _ring(*pts):
    """Closed ring rows as [{'x':..,'y':..}] structs."""
    return [{"x": float(x), "y": float(y)} for x, y in pts]


def test_pip_unit_square_hand_cases(spark):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.geometry.spatial_join import points_in_polygons

    square = _ring((0, 0), (4, 0), (4, 4), (0, 4), (0, 0))
    polys = spark.createDataFrame(
        [(1, square)],
        "poly_id int, ring array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 5.0, 2.0), (3, -1.0, 2.0), (4, 2.0, 7.0)],
        "id int, x double, y double",
    )
    got = {
        r["id"]
        for r in points_in_polygons(pts, polys, cell_size=5.0).collect()
    }
    assert got == {1}


def test_pip_concave_polygon(spark):
    """A C-shaped (concave) ring: the notch is OUTSIDE even though it is
    inside the bbox — the even-odd rule must see it."""
    from smartpy_arc_spark.geometry.spatial_join import points_in_polygons

    c_shape = _ring(
        (0, 0), (6, 0), (6, 2), (2, 2), (2, 4), (6, 4), (6, 6), (0, 6), (0, 0)
    )
    polys = spark.createDataFrame(
        [(1, c_shape)], "poly_id int, ring array<struct<x:double,y:double>>"
    )
    pts = spark.createDataFrame(
        [(1, 1.0, 3.0), (2, 4.0, 3.0), (3, 4.0, 1.0)],
        "id int, x double, y double",
    )
    got = {
        r["id"]
        for r in points_in_polygons(pts, polys, cell_size=7.0).collect()
    }
    assert got == {1, 3}  # 2 sits in the notch → outside


def test_pip_blocking_never_misses(spark):
    """Grid-blocked result == brute-force ray cast over all pairs, at a
    cell size much smaller than the polygons (max replication)."""
    from pyspark.sql import functions as F

    from smartpy_arc_spark.geometry.spatial_join import (
        points_in_polygons,
        ray_cast_contains,
    )

    polys_rows = []
    for k in range(6):
        cx, cy = (k * 13) % 20, (k * 7) % 20
        polys_rows.append(
            (
                k,
                _ring(
                    (cx - 2, cy - 2),
                    (cx + 2, cy - 2),
                    (cx, cy + 3),
                    (cx - 2, cy - 2),
                ),
            )
        )
    polys = spark.createDataFrame(
        polys_rows, "poly_id int, ring array<struct<x:double,y:double>>"
    )
    pts = spark.createDataFrame(
        [(i, float((i * 3) % 23), float((i * 5) % 23)) for i in range(200)],
        "id int, x double, y double",
    )
    blocked = {
        (r["id"], r["poly_id"])
        for r in points_in_polygons(pts, polys, cell_size=1.5).collect()
    }
    brute = {
        (r["id"], r["poly_id"])
        for r in pts.crossJoin(polys)
        .where(ray_cast_contains(F.col("x"), F.col("y"), F.col("ring")))
        .collect()
    }
    assert blocked == brute and len(brute) > 0


# ------------------------------------------------- bpe encode

def _py_bpe_encode(word, merges):
    """Pure-Python reference: greedy leftmost fold per merge, in order."""
    syms = list(word)
    for left, right in merges:
        out = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def test_bpe_encode_hand_case(spark):
    from smartpy_arc_spark.operators.bpe import bpe_encode

    df = spark.createDataFrame(
        [(1, "low lower slow")], "doc_id long, text string"
    )
    r = bpe_encode(df, [("l", "o"), ("lo", "w")]).collect()[0]
    # low→[low], lower→[low,e,r], slow→[s,low]
    assert r["n_words"] == 3
    assert r["n_tokens"] == 1 + 3 + 2
    assert r["n_chars_alpha"] == 12


def test_bpe_encode_matches_python_reference(spark):
    """Spark HOF fold == the reference greedy-leftmost encoder, incl. the
    overlap case 'aaa' under ('a','a') → [aa, a]."""
    from smartpy_arc_spark.operators.bpe import bpe_encode

    words = ["aaa", "aaaa", "banana", "abcabc", "aabb"]
    merges = [("a", "a"), ("b", "b"), ("aa", "bb"), ("a", "n")]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(df, merges).collect()}
    for i, w in enumerate(words):
        assert got[i] == len(_py_bpe_encode(w, merges)), w


def test_bpe_encode_roundtrip_with_learner(spark):
    """Encoding with the corpus's own learned merges strictly reduces
    token count vs characters, and empty merges == character count."""
    from smartpy_arc_spark.operators.bpe import bpe_encode, learn_bpe_merges

    df = spark.createDataFrame(
        [(i, "low lower lowest newer newest") for i in range(4)],
        "doc_id long, text string",
    )
    merges = [(l, r) for _, l, r, _ in learn_bpe_merges(df, n_merges=4)]
    assert len(merges) == 4
    base = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(df, []).collect()}
    enc = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(df, merges).collect()}
    chars = {
        r["doc_id"]: r["n_chars_alpha"] for r in bpe_encode(df, []).collect()
    }
    for i in base:
        assert base[i] == chars[i]
        assert enc[i] < base[i]


# ------------------------------------------------- holt linear

def test_holt_hand_fold(spark):
    """Hand-rolled fold: x = (10, 12, 14), α=0.5, β=0.25, seed
    l=10, b=2 → fold x2, x3."""
    import datetime

    from smartpy_arc_spark.operators.resample import holt_linear

    base = datetime.datetime(2020, 1, 1)
    rows = [
        (1, base + datetime.timedelta(minutes=i), float(v))
        for i, v in enumerate([10, 12, 14])
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    l, b = 1000.0, 200.0  # ticks
    for x in (1200.0, 1400.0):
        lt = 0.5 * x + 0.5 * (l + b)
        b = 0.25 * (lt - l) + 0.75 * b
        l = lt
    r = holt_linear(df, "k", "ts", "v").collect()[0]
    assert r["n_obs"] == 3
    assert r["level_e4"] == round(l / 100 * 10000)
    assert r["trend_e4"] == round(b / 100 * 10000)
    assert r["forecast_e4"] == round((l + 3.0 * b) / 100 * 10000)


def test_holt_singleton_and_linear_series(spark):
    """One observation → trend 0, forecast == level; an exactly linear
    series is tracked with the forecast continuing the line."""
    import datetime

    from smartpy_arc_spark.operators.resample import holt_linear

    base = datetime.datetime(2020, 1, 1)
    rows = [(1, base, 7.0)]
    rows += [
        (2, base + datetime.timedelta(minutes=i), 10.0 + 5.0 * i)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    got = {r["k"]: r for r in holt_linear(df, "k", "ts", "v").collect()}
    assert got[1]["trend_e4"] == 0
    assert got[1]["forecast_e4"] == got[1]["level_e4"] == 70000
    # exact line: level converges to the last point, trend to the slope
    assert got[2]["level_e4"] == round((10 + 5 * 11) * 10000)
    assert got[2]["trend_e4"] == 50000
    assert got[2]["forecast_e4"] == round((10 + 5 * 14) * 10000)


# ------------------------------------------------- label propagation

def test_lpa_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: each clique collapses to
    one community, and the two communities stay distinct."""
    from smartpy_arc_spark.operators.components import label_propagation

    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a < b]

    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    left = {got[n] for n in (1, 2, 3)}
    right = {got[n] for n in (11, 12, 13)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_lpa_pair_converges_to_min(spark):
    """The self-vote keeps a symmetric pair from oscillating: both nodes
    settle on the smaller id."""
    from smartpy_arc_spark.operators.components import label_propagation

    df = spark.createDataFrame([(7, 3)], "src int, dst int")
    got = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert got == {3: 3, 7: 3}


def test_lpa_deterministic_across_runs(spark):
    from smartpy_arc_spark.operators.components import label_propagation

    edges = [(i, (i * 7) % 23) for i in range(40) if i != (i * 7) % 23]
    df = spark.createDataFrame(edges, "src int, dst int").repartition(7)
    a = sorted(map(tuple, label_propagation(df).collect()))
    b = sorted(map(tuple, label_propagation(df).collect()))
    assert a == b and len(a) > 0


# ------------------------------------------------- kendall tau-b

def _py_kendall_counts(pairs):
    """Brute-force concordant/discordant over all point pairs."""
    c = d = 0
    for i in range(len(pairs)):
        for j in range(i + 1, len(pairs)):
            dx = pairs[i][0] - pairs[j][0]
            dy = pairs[i][1] - pairs[j][1]
            if dx * dy > 0:
                c += 1
            elif dx * dy < 0:
                d += 1
    return c, d


def test_kendall_matches_bruteforce_with_ties(spark):
    from smartpy_arc_spark.operators.stats import kendall_tau_b

    pts = [((i * 3) % 7, (i * 5) % 4) for i in range(40)]
    df = spark.createDataFrame(pts, "x int, y int")
    r = kendall_tau_b(df, "x", "y").collect()[0]
    c, d = _py_kendall_counts(pts)
    assert (r["conc_pairs"], r["disc_pairs"]) == (c, d)
    n = len(pts)
    n0 = n * (n - 1) // 2
    from collections import Counter

    n1 = sum(t * (t - 1) // 2 for t in Counter(p[0] for p in pts).values())
    n2 = sum(t * (t - 1) // 2 for t in Counter(p[1] for p in pts).values())
    tau = (c - d) / math.sqrt(n0 - n1) / math.sqrt(n0 - n2)
    assert abs(r["tau_e6"] - round(tau * 1e6)) <= 1


def test_kendall_perfect_orders(spark):
    from smartpy_arc_spark.operators.stats import kendall_tau_b

    inc = spark.createDataFrame(
        [(i, i * 2) for i in range(10)], "x int, y int"
    )
    assert kendall_tau_b(inc, "x", "y").collect()[0]["tau_e6"] == 1000000
    dec = spark.createDataFrame(
        [(i, -i) for i in range(10)], "x int, y int"
    )
    assert kendall_tau_b(dec, "x", "y").collect()[0]["tau_e6"] == -1000000


# ------------------------------------------------- table profile

def test_profile_counts_nulls_and_means(spark):
    from smartpy_arc_spark.operators.checks import profile_table

    rows = [(1, "a", 10.0), (2, "a", None), (3, None, 30.5), (3, "b", 20.0)]
    df = spark.createDataFrame(rows, "id int, s string, v double")
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert got["id"]["n_rows"] == 4 and got["id"]["n_null"] == 0
    assert got["id"]["n_distinct"] == 3
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 2
    assert got["s"]["mean_e4"] is None
    assert got["v"]["n_null"] == 1
    assert got["v"]["min_value"] == "10.0" and got["v"]["max_value"] == "30.5"
    # mean over non-null v = (10 + 30.5 + 20) / 3 = 20.1666…
    assert got["v"]["mean_e4"] == round(6050 / 300 * 10000)


def test_profile_column_subset(spark):
    from smartpy_arc_spark.operators.checks import profile_table

    df = spark.createDataFrame([(1, "x")], "id int, s string")
    out = profile_table(df, columns=["s"]).collect()
    assert [r["column"] for r in out] == ["s"]


# ------------------------------------------------- l-diversity

def test_l_diversity_homogeneous_class_flagged(spark):
    from smartpy_arc_spark.operators.checks import l_diversity

    rows = [("a", "flu"), ("a", "flu"), ("a", "flu"),
            ("b", "flu"), ("b", "hiv"), ("b", "cold")]
    df = spark.createDataFrame(rows, "zip string, dx string")
    got = {r["zip"]: r for r in l_diversity(df, ["zip"], "dx", l=2).collect()}
    assert got["a"]["n_sensitive"] == 1 and not got["a"]["diverse"]
    assert got["a"]["top_sensitive_n"] == 3
    assert got["b"]["n_sensitive"] == 3 and got["b"]["diverse"]


# ------------------------------------------------- linkage clusters

def test_linkage_clusters_transitive(spark):
    """A chain a~b, b~c resolves into ONE entity cluster with the min id
    as keeper, even though a and c were never directly linked."""
    from smartpy_arc_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "left_id int, right_id int"
    )
    comp = connected_components(pairs, src_col="left_id", dst_col="right_id")
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10


# ------------------------------------------------- ngram novelty

def test_ngram_novelty_unique_vs_copied(spark):
    """A doc duplicated verbatim has novelty 0 (every gram shared); a doc
    with wholly distinct text has novelty 1."""
    from smartpy_arc_spark.operators.text import ngram_novelty

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brown fox jumps"),
        (3, "completely different words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in ngram_novelty(df, n=3).collect()}
    assert got[1]["novelty_e6"] == 0 and got[2]["novelty_e6"] == 0
    assert got[3]["novelty_e6"] == 1000000
    assert got[3]["n_grams"] == 3  # 5 tokens → 3 trigrams


def test_ngram_novelty_partial_overlap(spark):
    """Half-shared suffix: doc grams overlapping the other doc count as
    non-unique, the rest as unique."""
    from smartpy_arc_spark.operators.text import ngram_novelty

    rows = [
        (1, "alpha beta gamma delta"),     # grams: abg, bgd
        (2, "zzz yyy alpha beta gamma"),   # grams: zya? no: zzz yyy alpha, yyy alpha beta, alpha beta gamma
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in ngram_novelty(df, n=3).collect()}
    # shared gram: "alpha beta gamma"
    assert got[1]["n_grams"] == 2 and got[1]["n_unique"] == 1
    assert got[1]["novelty_e6"] == 500000
    assert got[2]["n_grams"] == 3 and got[2]["n_unique"] == 2


# ------------------------------------------------- streaming hopping

def test_stream_hopping_two_windows_per_event(spark, sf_dir):
    """Hopping 2h/1h: summing n_events across windows double-counts every
    event exactly once per overlap (2×), and each tumbling hour appears
    as the start of one window and the interior of another."""
    from smartpy_arc_spark.streaming.stream import (
        hopping_event_counts,
        read_events_stream,
        run_stream_to_memory,
    )

    out = run_stream_to_memory(
        hopping_event_counts(read_events_stream(spark, sf_dir))
    )
    total_windowed = sum(r["n_events"] for r in out.collect())
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total_windowed == 2 * n_events


# ------------------------------------------------- mmr selection

def test_mmr_matches_numpy_greedy(spark):
    import numpy as np

    from smartpy_arc_spark.operators.embedding import mmr_select

    rng = [(i, [float(((i * p + 3) % 17) - 8) for p in range(1, 6)])
           for i in range(30)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    got = [
        (r["rank"], r["vec_id"])
        for r in mmr_select(df, k=5, lam=0.7).orderBy("rank").collect()
    ]

    vecs = {i: np.array(v) for i, v in rng}
    cent = np.mean(list(vecs.values()), axis=0)

    def cosv(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    rel = {i: cosv(v, cent) for i, v in vecs.items()}
    sel = []
    for _ in range(5):
        best = None
        for i, v in vecs.items():
            if i in [s for s in sel]:
                continue
            ms = max((cosv(v, vecs[j]) for j in sel), default=0.0)
            score = 0.7 * rel[i] - 0.3 * ms
            cand = (score, -i)
            if best is None or cand > best[0]:
                best = (cand, i)
        sel.append(best[1])
    assert [i for _, i in got] == sel


def test_mmr_prefers_diversity_over_redundancy(spark):
    """Three near-identical vectors + one orthogonal: with diversity on,
    the orthogonal vector is picked second despite lower relevance."""
    from smartpy_arc_spark.operators.embedding import mmr_select

    rows = [
        (1, [1.0, 0.0, 0.01]),
        (2, [1.0, 0.001, 0.0]),
        (3, [0.99, 0.01, 0.0]),
        (4, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    picks = [
        r["vec_id"]
        for r in mmr_select(df, k=2, lam=0.5).orderBy("rank").collect()
    ]
    assert picks[1] == 4


# ------------------------------------------------- cdc generation

def test_cdc_generate_roundtrip_reproduces_new(spark):
    """cdc_apply(old, generate_cdc(old, new)) == new — the change-data-
    feed contract, including NULL transitions both ways."""
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.merge import cdc_apply, generate_cdc

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 22.0), (3, None, 30.0), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    cdc = generate_cdc(old, new, key_col="k")
    ops = {r["k"]: r["op"] for r in cdc.collect()}
    assert ops == {2: "U", 3: "U", 4: "D", 5: "I"}  # key 1 unchanged
    applied = cdc_apply(
        old, cdc.withColumn("seq", F.lit(1)), key_col="k", seq_col="seq"
    )
    got = sorted(map(tuple, applied.select("k", "s", "v").collect()))
    want = sorted(map(tuple, new.collect()))
    assert got == want


# ------------------------------------------------- rake keywords

def test_rake_hand_computed(spark):
    """'deep learning' run appears twice; 'deep' also co-occurs with
    'networks' once: degree/freq hand-checked."""
    from smartpy_arc_spark.operators.text import rake_keywords

    docs = [
        (1, "deep learning is the deep networks"),
        (2, "deep learning of value"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["phrase"]: r for r in rake_keywords(df, top_k=10).collect()}
    # phrases: 'deep learning' x2, 'deep networks' x1, 'value' x1
    assert got["deep learning"]["n_occurrences"] == 2
    # deep: freq 3, degree 6 → 2.0; learning: freq 2, degree 4 → 2.0
    assert got["deep learning"]["score_e6"] == 4000000
    # networks: freq 1, degree 2 → 2.0; deep 2.0 → phrase 4.0
    assert got["deep networks"]["score_e6"] == 4000000
    # value: freq 1, degree 1 → 1.0
    assert got["value"]["score_e6"] == 1000000


def test_rake_multiword_phrases_outrank_common_words(spark):
    from smartpy_arc_spark.operators.text import rake_keywords

    docs = [(i, "red apple pie with sugar and red apple pie") for i in range(3)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    top = rake_keywords(df, top_k=3).collect()[0]
    assert top["phrase"] == "red apple pie"


# ------------------------------------------------- theil-sen

def test_theil_sen_robust_to_outliers(spark):
    """y = 3x + 5 with two wild outliers: the pair-median slope ignores
    them where OLS would not."""
    from smartpy_arc_spark.operators.stats import theil_sen

    rows = [(i, float(i), float(3 * i + 5)) for i in range(20)]
    rows[4] = (4, 4.0, 500.0)
    rows[11] = (11, 11.0, -300.0)
    df = spark.createDataFrame(rows, "i int, x double, y double")
    r = theil_sen(df, "x", "y", "i").collect()[0]
    assert r["n"] == 20 and r["n_pairs"] == 10
    assert r["slope_e6"] == 3000000
    assert r["intercept_e4"] == 50000


def test_theil_sen_vertical_pairs_excluded(spark):
    """Duplicated x values produce dx=0 pairs, which must be dropped,
    not divide by zero."""
    from smartpy_arc_spark.operators.stats import theil_sen

    rows = [(i, float(i // 2), float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "i int, x double, y double")
    r = theil_sen(df, "x", "y", "i").collect()[0]
    assert r["n"] == 10
    assert r["n_pairs"] <= 5 and r["slope_e6"] is not None


# ------------------------------------------------- pareto / abc

def test_pareto_frontier_hand_case(spark):
    """Points (1,5),(2,3),(3,4),(4,1): (2,3) is dominated by (3,4); the
    frontier is the strictly-descending staircase."""
    from smartpy_arc_spark.operators.stats import pareto_frontier_2d

    rows = [(1.0, 5.0), (2.0, 3.0), (3.0, 4.0), (4.0, 1.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = sorted(
        (r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect()
    )
    assert got == [(100, 500), (300, 400), (400, 100)]


def test_pareto_frontier_matches_bruteforce(spark):
    from smartpy_arc_spark.operators.stats import pareto_frontier_2d

    pts = [(float((i * 7) % 23), float((i * 13) % 29)) for i in range(60)]
    df = spark.createDataFrame(pts, "x double, y double").repartition(6)
    got = sorted(
        (r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect()
    )
    ticks = {(round(x * 100), round(y * 100)) for x, y in pts}
    brute = sorted(
        p
        for p in ticks
        if not any(
            q != p and q[0] >= p[0] and q[1] >= p[1] for q in ticks
        )
    )
    assert got == brute


def test_abc_classification_shares(spark, sf_dir):
    """Classes partition all parts; cumulative shares respect the cuts
    (every A-row is <= 80% cumulative, every C-row > 95%)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    rows = entry.queries()["abc_classification"](spark, sf_dir).collect()
    total = sum(r["rev_c"] for r in rows)
    for r in rows:
        if r["abc_class"] == "A":
            assert r["cum_rev_c"] * 100 <= total * 80
        elif r["abc_class"] == "C":
            assert r["cum_rev_c"] * 100 > total * 95
    assert {r["abc_class"] for r in rows} == {"A", "B", "C"}


# ------------------------------------------------- luhn

def test_luhn_known_numbers(spark):
    """Classic test vectors: the Visa test number passes, off-by-one
    fails, non-digits and wrong lengths fail."""
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.quality import luhn_valid

    cases = [
        ("4111111111111111", True),   # canonical Visa test number
        ("4111111111111112", False),
        ("79927398713", False),       # valid Luhn but 11 digits < 12
        ("4111-1111-1111-1111", True),  # separators stripped
        ("notanumber", False),
    ]
    df = spark.createDataFrame(cases, "s string, want boolean")
    rows = df.select("s", "want", luhn_valid(F.col("s")).alias("got")).collect()
    for r in rows:
        assert r["got"] == r["want"], r["s"]


def test_luhn_python_reference_sweep(spark):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.quality import luhn_valid

    def py_luhn(s):
        ds = [int(c) for c in s][::-1]
        tot = sum(
            d if i % 2 == 0 else (d * 2 - 9 if d * 2 > 9 else d * 2)
            for i, d in enumerate(ds)
        )
        return 12 <= len(ds) <= 19 and tot % 10 == 0
    nums = [str(10**15 + i * 7919) for i in range(50)]
    df = spark.createDataFrame([(s,) for s in nums], "s string")
    got = {r["s"]: r["v"] for r in df.select("s", luhn_valid(F.col("s")).alias("v")).collect()}
    for s in nums:
        assert got[s] == py_luhn(s), s


# ------------------------------------------------- seasonal naive

def test_seasonal_naive_perfect_seasonality_zero_mae(spark):
    """Test values exactly equal to the train profile → MAE 0; a
    constant offset of 3 units → MAE 3."""
    import datetime

    from smartpy_arc_spark.operators.resample import seasonal_naive_eval

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for day in range(6):
        for hour in (9, 15):
            v = 10.0 + hour
            if day >= 4 and hour == 15:
                v += 3.0  # test-window shift for hour 15
            rows.append(("a", base + datetime.timedelta(days=day, hours=hour), v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        (r["k"], r["hour"]): r
        for r in seasonal_naive_eval(
            df, "k", "ts", "v", "2024-01-05 00:00:00"
        ).collect()
    }
    assert out[("a", 9)]["mae_e4"] == 0
    assert out[("a", 15)]["mae_e4"] == 30000
    assert out[("a", 9)]["n_train"] == 4 and out[("a", 9)]["n_test"] == 2


# ------------------------------------------------- kaplan-meier

def test_kaplan_meier_textbook_case(spark):
    """Durations (1e,2e,3c,4e,5c,5e): S = 5/6, 4/6, (censor holds),
    4/9* — hand-walked product-limit with the censored subject leaving
    the risk set silently."""
    from smartpy_arc_spark.operators.stats import kaplan_meier

    rows = [(1.0, 1), (2.0, 1), (3.0, 0), (4.0, 1), (5.0, 0), (5.0, 1)]
    df = spark.createDataFrame(rows, "dur double, ev int")
    got = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert got[1.0]["n_at_risk"] == 6 and got[1.0]["s_e6"] == 833333
    assert got[2.0]["s_e6"] == 666667
    assert got[3.0]["n_events"] == 0 and got[3.0]["s_e6"] == 666667
    assert got[4.0]["n_at_risk"] == 3 and got[4.0]["s_e6"] == 444444
    assert got[5.0]["n_at_risk"] == 2 and got[5.0]["n_censored"] == 1
    assert got[5.0]["s_e6"] == 222222


def test_kaplan_meier_no_censoring_is_empirical_survival(spark):
    from smartpy_arc_spark.operators.stats import kaplan_meier

    rows = [(float(t), 1) for t in range(1, 11)]
    df = spark.createDataFrame(rows, "dur double, ev int")
    got = {r["t"]: r["s_e6"] for r in kaplan_meier(df, "dur", "ev").collect()}
    for t in range(1, 11):
        assert got[float(t)] == round((10 - t) / 10 * 1e6)


# ------------------------------------------------- twap

def test_twap_hand_computed(spark):
    """Value 10 held 30s then 20 held 10s (last point closes the span):
    TWAP = (10*30 + 20*10)/40 = 12.5."""
    import datetime

    from smartpy_arc_spark.operators.resample import time_weighted_avg

    b = datetime.datetime(2024, 1, 1)
    rows = [
        (1, b, 10.0),
        (1, b + datetime.timedelta(seconds=30), 20.0),
        (1, b + datetime.timedelta(seconds=40), 99.0),  # closing obs
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    r = time_weighted_avg(df, "k", "ts", "v").collect()[0]
    assert r["span_sec"] == 40
    assert r["twap_e4"] == 125000


def test_twap_single_observation_falls_back_to_value(spark):
    import datetime

    from smartpy_arc_spark.operators.resample import time_weighted_avg

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 7.5)], "k int, ts timestamp, v double"
    )
    r = time_weighted_avg(df, "k", "ts", "v").collect()[0]
    assert r["span_sec"] == 0 and r["twap_e4"] == 75000


# ------------------------------------------------- geometric median

def test_geometric_median_matches_numpy_weiszfeld(spark):
    import numpy as np

    from smartpy_arc_spark.operators.embedding import geometric_median

    pts = [[float((i * 3) % 7), float((i * 5) % 11)] for i in range(25)]
    pts.append([1000.0, -1000.0])  # wild outlier
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    got = geometric_median(df, n_iter=10).collect()[0]

    arr = np.array(pts)
    y = arr.mean(axis=0)
    for _ in range(10):
        d = np.maximum(np.linalg.norm(arr - y, axis=1), 1e-9)
        y = (arr / d[:, None]).sum(axis=0) / (1.0 / d).sum()
    assert got["n"] == 26
    assert np.allclose(got["median"], y, atol=1e-6)
    # robustness: the outlier cannot drag the median anywhere near it
    mean = arr.mean(axis=0)
    assert np.linalg.norm(np.array(got["median"])) < np.linalg.norm(mean)


# ------------------------------------------------- mutual information

def test_mutual_information_independent_zero_dependent_positive(spark):
    import math as _m

    from smartpy_arc_spark.operators.stats import mutual_information

    # perfectly dependent: b == a → I = H(A) = ln(2) for a fair binary
    dep = spark.createDataFrame(
        [(i % 2, i % 2) for i in range(40)], "a int, b int"
    )
    r = mutual_information(dep, "a", "b").collect()[0]
    assert abs(r["mi_e9"] - round(_m.log(2) * 1e9)) <= 2
    # independent uniform: I = 0 exactly (every cell term ln(1))
    ind = spark.createDataFrame(
        [(i % 2, (i // 2) % 2) for i in range(40)], "a int, b int"
    )
    assert mutual_information(ind, "a", "b").collect()[0]["mi_e9"] == 0


# ------------------------------------------------- conformal

def test_conformal_coverage_guarantee_holds(spark, sf_dir):
    """Finite-sample guarantee: held-out coverage must be at least about
    1 - alpha (exchangeability gives >= 1-alpha in expectation; allow a
    small sampling slack below)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    r = entry.queries()["conformal"](spark, sf_dir).collect()[0]
    assert r["n_train"] > 0 and r["n_cal"] > 0 and r["n_test"] > 0
    coverage = r["n_covered"] / r["n_test"]
    assert coverage >= 0.85  # alpha = 0.1, slack for test-split noise
    assert r["qhat_e4"] > 0


def test_conformal_alpha_monotonicity(spark):
    """Smaller alpha (higher confidence) must widen the interval."""
    from smartpy_arc_spark.operators.stats import conformal_interval

    rows = [(chr(65 + i % 3), float((i * 37) % 100), i) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    q10 = conformal_interval(
        df, "g", "v", ["id"], alpha_num=1, alpha_den=10
    ).collect()[0]["qhat_e4"]
    q50 = conformal_interval(
        df, "g", "v", ["id"], alpha_num=5, alpha_den=10
    ).collect()[0]["qhat_e4"]
    assert q10 >= q50


# ------------------------------------------------- table fingerprint

def test_fingerprint_order_and_partition_invariant(spark):
    from smartpy_arc_spark.operators.checks import table_fingerprint

    rows = [(i, f"name{i}") for i in range(100)]
    a = spark.createDataFrame(rows, "id int, s string")
    b = spark.createDataFrame(list(reversed(rows)), "id int, s string").repartition(7)
    fa = table_fingerprint(a).collect()[0]
    fb = table_fingerprint(b).collect()[0]
    assert (fa["n_rows"], fa["fingerprint"]) == (fb["n_rows"], fb["fingerprint"])


def test_fingerprint_detects_single_cell_change_and_null_position(spark):
    from smartpy_arc_spark.operators.checks import table_fingerprint

    base = [(1, "a", "b"), (2, "c", "d")]
    a = spark.createDataFrame(base, "id int, x string, y string")
    changed = spark.createDataFrame(
        [(1, "a", "b"), (2, "c", "e")], "id int, x string, y string"
    )
    nulls1 = spark.createDataFrame(
        [(1, None, "b")], "id int, x string, y string"
    )
    nulls2 = spark.createDataFrame(
        [(1, "b", None)], "id int, x string, y string"
    )
    f = lambda d: table_fingerprint(d).collect()[0]["fingerprint"]  # noqa: E731
    assert f(a) != f(changed)
    assert f(nulls1) != f(nulls2)


# ------------------------------------------------- fixed width

def test_fixed_width_roundtrip_and_alignment(spark, tmp_path):
    from smartpy_arc_spark.sources.fixedwidth import (
        read_fixed_width,
        write_fixed_width,
    )

    spec = [("id", 6, "bigint"), ("name", 8, "string"), ("amt", 10, "double")]
    rows = [(1, "ann", 12.5), (42, "bob", -3.25), (999999, "carolina", 0.0)]
    df = spark.createDataFrame(rows, "id long, name string, amt double")
    path = str(tmp_path / "fw")
    write_fixed_width(df, path, spec)
    # raw layout: numbers right-aligned, strings left-aligned
    line = spark.read.text(path).where("value like '%ann%'").collect()[0][0]
    assert line[:6] == "     1" and line[6:14] == "ann     "
    back = sorted(map(tuple, read_fixed_width(spark, path, spec).collect()))
    assert back == sorted(rows)


def test_fixed_width_overflow_raises(spark, tmp_path):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from smartpy_arc_spark.sources.fixedwidth import write_fixed_width

    df = spark.createDataFrame([(1, "toolongvalue")], "id long, s string")
    with _pytest.raises(Exception) as exc:
        write_fixed_width(df, str(tmp_path / "x"), [("id", 4, "bigint"), ("s", 5, "string")])
    assert "overflow" in str(exc.value)


# ------------------------------------------------- personalized pagerank

def test_ppr_mass_concentrates_near_seeds(spark):
    """Two disjoint chains; seeding one chain leaves the other at rank 0
    and ranks the seed's neighbor above distant nodes."""
    from smartpy_arc_spark.operators.components import personalized_pagerank

    chain_a = [(f"a{i}", f"a{i+1}") for i in range(4)]
    chain_b = [(f"b{i}", f"b{i+1}") for i in range(4)]
    pairs = chain_a + chain_b
    edges = pairs + [(d, s) for s, d in pairs]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, ["a0"], iterations=4).collect()
    }
    assert all(got[f"b{i}"] == 0.0 for i in range(5))
    # a path graph is bipartite, so walk mass alternates between parity
    # classes per iteration — proximity decays within the SAME parity
    assert got["a0"] > got["a2"] > got["a4"] >= 0
    assert got["a1"] > got["a3"] > 0
    assert sum(got[f"a{i}"] for i in range(5)) > 0.99


def test_ppr_requires_seeds(spark):
    import pytest as _pytest

    from smartpy_arc_spark.operators.components import personalized_pagerank

    df = spark.createDataFrame([(1, 2)], "src int, dst int")
    with _pytest.raises(ValueError):
        personalized_pagerank(df, [])


# ------------------------------------------------- char entropy

def test_char_entropy_bounds_and_hand_case(spark):
    import math as _m

    from smartpy_arc_spark.operators.text import char_entropy

    rows = [
        (1, "aaaa"),            # zero entropy
        (2, "abab"),            # ln 2
        (3, "abcd"),            # ln 4 (uniform over 4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert got[1]["entropy_e9"] == 0
    assert abs(got[2]["entropy_e9"] - round(_m.log(2) * 1e9)) <= 2
    assert abs(got[3]["entropy_e9"] - round(_m.log(4) * 1e9)) <= 4
    assert got[3]["n_distinct_chars"] == 4 and got[3]["n_chars"] == 4


# ------------------------------------------------- hits

def test_hits_star_graph_hub_vs_authority(spark):
    """Star: h0 points at a1..a3; h0 is the only hub, a1..a3 are the only
    authorities, split evenly."""
    from smartpy_arc_spark.operators.components import hits

    edges = [("h0", f"a{i}") for i in (1, 2, 3)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r for r in hits(df, iterations=3).collect()}
    assert got["h0"]["hub"] == 1.0 and got["h0"]["authority"] == 0.0
    for i in (1, 2, 3):
        assert got[f"a{i}"]["hub"] == 0.0
        assert abs(got[f"a{i}"]["authority"] - 1 / 3) < 1e-6


def test_hits_popular_authority_outranks(spark):
    """Two hubs both point at 'pop', one also at 'niche': pop's authority
    strictly exceeds niche's."""
    from smartpy_arc_spark.operators.components import hits

    edges = [("u", "pop"), ("v", "pop"), ("v", "niche")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r for r in hits(df, iterations=3).collect()}
    assert got["pop"]["authority"] > got["niche"]["authority"] > 0


# ------------------------------------------------- weighted median

def test_weighted_median_hand_case(spark):
    """Values (1 w=1, 2 w=1, 10 w=5): half of W=7 is reached at 10 only
    if cumw(2)=2 < 3.5 — weighted median is 10, unweighted would be 2."""
    from smartpy_arc_spark.operators.quality import weighted_median

    rows = [("g", 1, 1), ("g", 2, 1), ("g", 10, 5)]
    df = spark.createDataFrame(rows, "g string, v int, w int")
    r = weighted_median(df, "g", "v", "w").collect()[0]
    assert r["total_weight"] == 7 and r["weighted_median"] == 10


def test_weighted_median_uniform_weights_is_lower_median(spark):
    from smartpy_arc_spark.operators.quality import weighted_median

    rows = [("g", v, 1) for v in (5, 1, 3, 2, 4)]
    df = spark.createDataFrame(rows, "g string, v int, w int")
    assert weighted_median(df, "g", "v", "w").collect()[0][
        "weighted_median"
    ] == 3
    even = spark.createDataFrame(
        [("h", v, 1) for v in (1, 2, 3, 4)], "g string, v int, w int"
    )
    # lower median on even counts
    assert weighted_median(even, "g", "v", "w").collect()[0][
        "weighted_median"
    ] == 2


# ------------------------------------------------- containment

def test_containment_detects_embedded_doc(spark):
    """Doc 1 is wholly contained in doc 2: containment(1→2) = 1.0, but
    containment(2→1) is well below — and symmetric Jaccard would be low
    both ways."""
    from smartpy_arc_spark.operators.dedup import containment_pairs

    inner = "the quick brown fox jumps over the lazy dog"
    # varied filler: repeated padding would collapse to few DISTINCT
    # shingles and inflate the reverse containment
    filler = " ".join(str(i * 7919 % 100003) for i in range(60))
    outer = filler + " " + inner + " " + filler[::-1]
    df = spark.createDataFrame(
        [(1, inner), (2, outer)], "doc_id long, text string"
    )
    got = {
        (r["id_contained"], r["id_container"]): r["containment_e4"]
        for r in containment_pairs(df, min_containment=0.0).collect()
    }
    assert got[(1, 2)] == 10000
    assert got[(2, 1)] < 5000


def test_compression_ratio_bands(spark):
    """Repetitive text compresses far better than varied text; ratios
    match direct zlib calls."""
    import zlib

    from smartpy_arc_spark.operators.quality import compression_ratio

    rep = "abc " * 500
    varied = " ".join(str(i * 7919 % 100003) for i in range(500))
    df = spark.createDataFrame(
        [(1, rep), (2, varied)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert got[1]["ratio_e4"] < got[2]["ratio_e4"]
    for i, t in ((1, rep), (2, varied)):
        raw = t.encode()
        assert got[i]["n_compressed"] == len(zlib.compress(raw, 6))
        assert got[i]["ratio_e4"] == round(len(zlib.compress(raw, 6)) / len(raw) * 10000)


# ------------------------------------------------- negative sampling

def test_negative_samples_exclude_positives_and_are_stable(spark):
    from smartpy_arc_spark.operators.sample import negative_samples

    pos = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "a int, i int"
    )
    pool = spark.createDataFrame([(i,) for i in range(10, 20)], "i int")
    out1 = sorted(map(tuple, negative_samples(
        pos, pool, anchor_col="a", item_col="i", k=2
    ).collect()))
    out2 = sorted(map(tuple, negative_samples(
        pos.repartition(5), pool, anchor_col="a", item_col="i", k=2
    ).collect()))
    assert out1 == out2  # partitioning-invariant
    picked = {(a, i) for a, i, _ in out1}
    assert (1, 10) not in picked and (1, 11) not in picked
    assert (2, 10) not in picked
    assert len([1 for a, _, _ in out1 if a == 1]) == 2


def test_negative_samples_growth_stable(spark):
    """Adding a NEW anchor must not change an existing anchor's
    negatives (hash-keyed, not positional)."""
    from smartpy_arc_spark.operators.sample import negative_samples

    pool = spark.createDataFrame([(i,) for i in range(50)], "i int")
    pos1 = spark.createDataFrame([(1, 5)], "a int, i int")
    pos2 = spark.createDataFrame([(1, 5), (2, 7)], "a int, i int")
    n1 = {
        (r["a"], r["i"], r["neg_rank"])
        for r in negative_samples(pos1, pool, anchor_col="a", item_col="i").collect()
    }
    n2 = {
        (r["a"], r["i"], r["neg_rank"])
        for r in negative_samples(pos2, pool, anchor_col="a", item_col="i").collect()
        if r["a"] == 1
    }
    assert n1 == n2


# ------------------------------------------------- log-rank

def test_log_rank_identical_cohorts_zero(spark):
    from smartpy_arc_spark.operators.stats import log_rank_test

    rows = []
    for g in ("a", "b"):
        rows += [(g, float(t), 1) for t in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(rows, "g string, dur double, ev int")
    r = log_rank_test(df, "g", "dur", "ev", "a", "b").collect()[0]
    assert r["n_a"] == 5 and r["n_b"] == 5
    assert r["observed_a"] == 5
    assert abs(r["z_e6"]) <= 1  # symmetric cohorts → z == 0 (rounding slack)


def test_log_rank_shifted_cohort_detected(spark):
    """Cohort b survives uniformly longer: z is strongly negative for a
    (more early events than expected under the null)."""
    from smartpy_arc_spark.operators.stats import log_rank_test

    rows = [("a", float(t), 1) for t in range(1, 21)]
    rows += [("b", float(t + 20), 1) for t in range(1, 21)]
    df = spark.createDataFrame(rows, "g string, dur double, ev int")
    r = log_rank_test(df, "g", "dur", "ev", "a", "b").collect()[0]
    assert r["z_e6"] > 3000000 or r["z_e6"] < -3000000


# ------------------------------------------------- item similarity

def test_item_similarity_hand_case(spark):
    """Items 1,2 co-occur in both baskets (cos=1); item 3 appears once
    with them (cos = 1/sqrt(2))."""
    from smartpy_arc_spark.operators.itemsets import item_similarity

    rows = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2)]
    df = spark.createDataFrame(rows, "b int, i int")
    got = {
        (r["item_a"], r["item_b"]): r["sim_e6"]
        for r in item_similarity(
            df, basket_col="b", item_col="i", min_cooccur=1, top_k_per_item=5
        ).collect()
    }
    assert got[(1, 2)] == 1000000 and got[(2, 1)] == 1000000
    assert got[(1, 3)] == round(1 / math.sqrt(2) * 1e6)


# ------------------------------------------------- zipf slope

def test_zipf_slope_recovers_synthetic_power_law(spark):
    """A corpus with freq(rank) ∝ rank^-1 fits slope ≈ -1."""
    from smartpy_arc_spark.operators.text import zipf_slope

    words = []
    for rank in range(1, 40):
        freq = max(1, round(2000 / rank))
        # alphabetic-only tokens: alpha_tokens splits digits away
        name = "w" + chr(97 + rank // 26) + chr(97 + rank % 26)
        words += [name] * freq
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_slope(df, top_n=40).collect()[0]
    assert r["n_words"] == 39
    assert -1100000 < r["slope_e6"] < -900000


# ------------------------------------------------- golden record

def test_golden_record_latest_non_null_wins(spark):
    """Newest record missing a field must not erase an older value; the
    newest record WITH a value wins per field independently."""
    from smartpy_arc_spark.operators.linkage import golden_record

    rows = [
        (1, 1, "old-name", 100),
        (1, 2, None, 200),
        (1, 3, "new-name", None),
    ]
    df = spark.createDataFrame(rows, "cl int, o int, name string, bal int")
    r = golden_record(df, "cl", "o", ["name", "bal"]).collect()[0]
    assert r["n_records"] == 3
    assert r["name"] == "new-name"  # newest non-null name (record 3)
    assert r["bal"] == 200          # newest non-null bal (record 2)


def test_golden_record_all_null_field_stays_null(spark):
    from smartpy_arc_spark.operators.linkage import golden_record

    rows = [(1, 1, None), (1, 2, None)]
    df = spark.createDataFrame(rows, "cl int, o int, x string")
    assert golden_record(df, "cl", "o", ["x"]).collect()[0]["x"] is None


# ------------------------------------------------- schema compat

def test_schema_compat_classification(spark):
    from smartpy_arc_spark.sources.inspect import (
        is_breaking_change,
        schema_compat_report,
    )

    old = spark.createDataFrame([], "a int, b string, c int, d float")
    new = spark.createDataFrame([], "a bigint, b int, d double, e string")
    rep = schema_compat_report(old, new)
    by_col = {r["column"]: r["change"] for r in rep}
    assert by_col == {
        "a": "widened",            # int → bigint
        "b": "narrowed_or_changed",  # string → int
        "c": "removed",
        "d": "widened",            # float → double
        "e": "added",
    }
    # breaking changes sort first
    assert rep[0]["change"] in ("removed", "narrowed_or_changed")
    assert is_breaking_change(rep)
    assert not is_breaking_change(
        schema_compat_report(old, old)
    )


# ------------------------------------------------- recs eval

def test_recs_eval_bounds(spark, sf_dir):
    """Structural sanity: every train customer is evaluated exactly once
    and hits never exceed users (hit COUNTS depend on scale — sf0.001 is
    too sparse for co-occurrence recs to land, which is itself correct)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    rows = entry.queries()["recs_eval"](spark, sf_dir).collect()
    n_users = sum(r["n_users"] for r in rows)
    assert n_users > 0
    for r in rows:
        assert 0 <= r["n_hits"] <= r["n_users"]


# ------------------------------------------------- streaming ewma anomaly

def test_stream_ewma_anomaly_hand_fold(spark, tmp_path):
    """Values (10, 10, 500, 10): the 500 jump and the drop back both
    deviate > threshold from the running level; final level matches the
    python fold."""
    import math

    from smartpy_arc_spark.streaming.stream import (
        run_stream_to_memory,
        streaming_ewma_anomaly,
    )

    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base + datetime.timedelta(seconds=i), float(v), i)
        for i, v in enumerate([10, 10, 500, 10])
    ]
    src_dir = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double, event_id long"
    ).parquet(src_dir)
    out = run_stream_to_memory(
        streaming_ewma_anomaly(stream, threshold=200.0), output_mode="update"
    ).collect()[0]
    level, n_anom = 1000.0, 0
    for x in (1000.0, 50000.0, 1000.0):
        if abs(x - level) > 20000.0:
            n_anom += 1
        level = 0.25 * x + 0.75 * level
    assert out["n_events"] == 4
    # only the 500-jump exceeds the threshold; the drop back deviates
    # 122.5 from the pulled-up level (< 200) — the fold decides, not
    # the raw step size
    assert out["n_anomalies"] == n_anom == 1
    assert out["ewma_e4"] == int(math.floor(level * 100 + 0.5))


# ------------------------------------------------- calibration

def test_calibration_perfectly_calibrated_and_overconfident(spark):
    """Labels drawn exactly by the prediction rule → avg_pred ≈ pos_rate
    per bin; a constant-0.9 overconfident predictor shows the gap."""
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.checks import calibration_bins

    # exact construction: for every pct, 100 rows with p=(pct+0.5)/100 of
    # which exactly pct are positive → per-bin |avg_pred − pos_rate| = 0.005
    rows = [
        ((pct + 0.5) / 100.0, j < pct)
        for pct in range(100)
        for j in range(100)
    ]
    df = spark.createDataFrame(rows, "p double, y boolean")
    bins = calibration_bins(df, "p", F.col("y"), n_bins=10).collect()
    assert len(bins) == 10
    for r in bins:
        assert abs(r["avg_pred_e6"] - r["pos_rate_e6"]) == 5000
    over = spark.createDataFrame(
        [(0.9, i % 2 == 0) for i in range(100)], "p double, y boolean"
    )
    r = calibration_bins(over, "p", F.col("y"), n_bins=10).collect()[0]
    assert r["bin"] == 9 and r["avg_pred_e6"] == 900000
    assert r["pos_rate_e6"] == 500000


# ------------------------------------------------- langid confusion

def test_langid_confusion_counts_total(spark, sf_dir):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    rows = entry.queries()["langid_confusion"](spark, sf_dir).collect()
    total = sum(r["n"] for r in rows)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total == n_docs  # every doc lands in exactly one cell
    langs = {r["true_lang"] for r in rows}
    assert len(langs) >= 2


# ------------------------------------------------- ece

def test_ece_zero_for_perfect_and_large_for_overconfident(spark, sf_dir):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    r = entry.queries()["ece"](spark, sf_dir).collect()[0]
    assert r["n_total"] > 0
    # synthetic uniform p vs ~1/3 base rate: substantial miscalibration
    assert r["ece_e6"] > 100000


# ------------------------------------------------- auc

def test_auc_separable_and_random(spark):
    """Perfectly separable scores → AUC 1; identical score distributions
    → AUC 0.5 (tie-corrected)."""
    from pyspark.sql import functions as F
    import sys

    sys.path.insert(0, "/root/repo")
    from smartpy_arc_spark.operators.stats import mann_whitney_u

    def auc_of(rows):
        df = spark.createDataFrame(rows, "y string, p double")
        mw = mann_whitney_u(df, "y", "p", "pos", "neg").collect()[0]
        return mw["u2_a"] / (2.0 * mw["n_a"] * mw["n_b"])

    sep = [("pos", 0.9), ("pos", 0.8), ("neg", 0.2), ("neg", 0.1)]
    assert auc_of(sep) == 1.0
    rnd = [("pos", 0.5), ("neg", 0.5), ("pos", 0.3), ("neg", 0.3)]
    assert auc_of(rnd) == 0.5


# ------------------------------------------------- classification metrics

def test_classification_metrics_hand_confusion(spark):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.operators.checks import classification_metrics

    rows = [(0.9, True), (0.8, False), (0.4, True), (0.1, False)]
    df = spark.createDataFrame(rows, "p double, y boolean")
    r = classification_metrics(df, "p", F.col("y"), threshold=0.5).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (1, 1, 1, 1)
    assert r["precision_e6"] == 500000 and r["recall_e6"] == 500000
    assert r["f1_e6"] == 500000 and r["accuracy_e6"] == 500000
    brier = ((0.9 - 1) ** 2 + 0.8**2 + (0.4 - 1) ** 2 + 0.1**2) / 4
    assert abs(r["brier_e6"] - round(brier * 1e6)) <= 1


def test_lift_table_top_decile_concentrates(spark, sf_dir):
    """Deciles partition all rows ~evenly and predictions decrease with
    the decile (descending-score ranking)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    rows = sorted(
        entry.queries()["lift_table"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert len(rows) == 10
    sizes = [r["n"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    avg_pred = [r["sum_pred_e6"] / r["n"] for r in rows]
    assert all(a >= b for a, b in zip(avg_pred, avg_pred[1:]))


# ------------------------------------------------- growth accounting

def test_growth_accounting_lifecycle(spark):
    """User A: weeks 1,2,4 → new, retained, (churn at 3), resurrected at
    4, churn at 5.  User B: week 1 only → new, churn at 2."""
    import datetime

    from smartpy_arc_spark.operators.sessionize import growth_accounting

    def ts(week, day=0):
        # Mondays: 2024-01-01 is a Monday
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(
            days=(week - 1) * 7 + day
        )

    rows = [(1, ts(1)), (1, ts(2, 3)), (1, ts(4)), (2, ts(1, 2))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {str(r["week"]): r for r in growth_accounting(df).collect()}
    w = lambda k: ts(k).date().isoformat()  # noqa: E731
    assert got[w(1)]["n_new"] == 2
    assert got[w(2)]["n_retained"] == 1 and got[w(2)]["n_churned"] == 1
    assert got[w(3)]["n_churned"] == 1  # user A inactive after week 2
    assert got[w(4)]["n_resurrected"] == 1
    assert got[w(5)]["n_churned"] == 1


def test_growth_accounting_identity(spark, sf_dir):
    """actives(w) − retained(w+1) == churned(w+1) for interior weeks."""
    from smartpy_arc_spark.operators.sessionize import growth_accounting

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = sorted(
        growth_accounting(ev).collect(), key=lambda r: str(r["week"])
    )
    for prev, cur in zip(rows, rows[1:]):
        actives_prev = (
            prev["n_new"] + prev["n_retained"] + prev["n_resurrected"]
        )
        assert actives_prev - cur["n_retained"] == cur["n_churned"]


# ------------------------------------------------- cohen's kappa

def test_cohens_kappa_perfect_and_chance(spark):
    from smartpy_arc_spark.operators.stats import cohens_kappa

    perfect = spark.createDataFrame(
        [(i % 3, i % 3) for i in range(30)], "a int, b int"
    )
    r = cohens_kappa(perfect, "a", "b").collect()[0]
    assert r["kappa_e6"] == 1000000 and r["po_e6"] == 1000000
    # independent raters with uniform marginals → kappa ≈ 0
    chance = spark.createDataFrame(
        [(i % 2, (i // 2) % 2) for i in range(40)], "a int, b int"
    )
    r2 = cohens_kappa(chance, "a", "b").collect()[0]
    assert abs(r2["kappa_e6"]) <= 1
