"""Round-5 operators: isotonic regression, Cox one-step, bucket stats."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from smartpy_arc_spark.operators.stats import cox_one_step, isotonic_fit


def test_isotonic_matches_pav_small(spark):
    """Classic PAV example: y = [1, 3, 2, 4] → fit [1, 2.5, 2.5, 4]."""
    rows = [(0, 1.0), (1, 3.0), (2, 2.0), (3, 4.0)]
    df = spark.createDataFrame(rows, "bin long, y double")
    got = {r.bin: r.y_iso_e6 for r in isotonic_fit(df, "bin", "y").collect()}
    assert got == {0: 1_000_000, 1: 2_500_000, 2: 2_500_000, 3: 4_000_000}


def test_isotonic_weighted_and_monotone(spark):
    """Weighted pooling (repeated rows = weights) and monotone output on a
    noisy decreasing-then-increasing series."""
    rows = [(0, 2.0)] * 3 + [(1, 0.0)] * 1 + [(2, 1.0)] * 2 + [(3, 5.0)]
    df = spark.createDataFrame(rows, "bin long, y double")
    out = sorted(isotonic_fit(df, "bin", "y").collect(), key=lambda r: r.bin)
    vals = [r.y_iso_e6 for r in out]
    assert vals == sorted(vals)  # nondecreasing
    # pool of bins 0..2: (3*2 + 0 + 2*1)/6 = 8/6
    assert vals[0] == vals[1] == vals[2] == round(8 / 6 * 1e6)
    assert vals[3] == 5_000_000
    assert [r.n_obs for r in out] == [3, 1, 2, 1]


def _cox_reference(times, events, xs):
    """Direct numpy evaluation of U(0), I(0) with Breslow ties."""
    times, events, xs = map(np.asarray, (times, events, xs))
    U = I = 0.0
    for t in np.unique(times[events == 1]):
        risk = times >= t
        at = (times == t) & (events == 1)
        xbar = xs[risk].mean()
        x2bar = (xs[risk] ** 2).mean()
        U += xs[at].sum() - at.sum() * xbar
        I += at.sum() * (x2bar - xbar**2)
    return U, I


def test_cox_one_step_matches_direct_computation(spark):
    rng = np.random.default_rng(11)
    n = 400
    xs = rng.integers(0, 50, n)
    # hazard increases with x: earlier event times for larger x
    times = np.ceil(rng.exponential(100 / (1 + xs * 0.1))).astype(int) + 1
    events = (rng.random(n) < 0.8).astype(int)
    df = spark.createDataFrame(
        [(int(t), int(e), float(x)) for t, e, x in zip(times, events, xs)],
        "t long, e int, x double",
    )
    row = cox_one_step(df, "t", "e", "x", x_scale=1).collect()[0]
    U, I = _cox_reference(times, events, xs)
    assert row.n == n and row.n_events == int(events.sum())
    assert abs(row.u_e2 / 100 - U) < 0.5
    assert abs(row.i_e0 - I) < len(np.unique(times[events == 1]))  # ±1/term
    beta = row.beta_e6 / 1e6
    assert abs(beta - U / I) < 1e-3
    assert beta > 0  # higher x → higher hazard, as constructed
    assert row.chi2_e6 / 1e6 > 3.84  # significant at 5% by construction


def test_cox_no_signal_is_insignificant(spark):
    rng = np.random.default_rng(5)
    n = 300
    xs = rng.integers(0, 50, n)
    times = np.ceil(rng.exponential(50, n)).astype(int) + 1  # x-independent
    events = np.ones(n, dtype=int)
    df = spark.createDataFrame(
        [(int(t), int(e), float(x)) for t, e, x in zip(times, events, xs)],
        "t long, e int, x double",
    )
    row = cox_one_step(df, "t", "e", "x", x_scale=1).collect()[0]
    assert row.chi2_e6 / 1e6 < 3.84


def test_hll_rollup_exact_small_and_union_bound(spark):
    from smartpy_arc_spark.operators.sketch import hll_rollup

    rows = [("a", d, u) for d in range(3) for u in range(d * 10, d * 10 + 20)]
    # users overlap across days (d*10..d*10+19): distinct total = 40
    df = spark.createDataFrame(rows, "g string, day int, user int")
    out = hll_rollup(df, ["g"], "user", "day").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_fine == 3
    assert r.distinct_est == 40      # HLL exact at tiny cardinality
    assert r.sum_fine_est == 60      # 3 days x 20, naive double-count
    assert r.distinct_est <= r.sum_fine_est


def test_random_projection_preserves_distances(spark):
    """JL sanity: projected pairwise distance ratios concentrate near 1,
    and the projection is deterministic across runs."""
    from smartpy_arc_spark.operators.embedding import random_projection

    rng = np.random.default_rng(2)
    d, n, k = 64, 40, 16
    X = rng.normal(size=(n, d))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: np.array(r.proj) / 1e6
           for r in random_projection(df, k=k).collect()}
    again = {r.vec_id: np.array(r.proj) / 1e6
             for r in random_projection(df, k=k).collect()}
    assert all((out[i] == again[i]).all() for i in range(n))
    ratios = []
    for i in range(0, n, 3):
        for j in range(i + 1, n, 7):
            orig = np.linalg.norm(X[i] - X[j])
            proj = np.linalg.norm(out[i] - out[j])
            ratios.append(proj / orig)
    ratios = np.array(ratios)
    # JL with k=16: most ratios within ~40% of 1, mean near 1
    assert 0.75 < ratios.mean() < 1.25
    assert (np.abs(ratios - 1) < 0.6).mean() > 0.9


def test_seasonal_decompose_recovers_components(spark):
    """Pure y = 10·m + seasonal[moc] series: trend ≈ the linear part and
    seasonal indexes recover the injected pattern up to its mean (the
    classical identifiability convention)."""
    import datetime as dt

    from smartpy_arc_spark.operators.resample import seasonal_decompose

    pattern = [5, -3, 0, 7, -9, 2, 4, -6, 1, -2, 3, -2]
    rows = []
    for m in range(48):
        ts = dt.datetime(2020 + m // 12, m % 12 + 1, 15)
        rows.append((ts, float(10 * m + pattern[m % 12])))
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = sorted(
        seasonal_decompose(df, "ts", "v").collect(), key=lambda r: r.month
    )
    assert len(out) == 48
    # edges: first/last 6 months have null trend
    assert all(r.trend_e2 is None for r in out[:6] + out[-6:])
    mean_p = sum(pattern) / 12
    for r in out[6:-6]:
        m = (r.month.year - 2020) * 12 + r.month.month - 1
        # centered MA of a linear+periodic series = the linear part
        assert abs(r.trend_e2 / 100 - 10 * m) < 0.02
        assert abs(r.remainder_e2) < 2  # exact up to e2 rounding
    seas = {}
    for r in out:
        if r.seasonal_e2 is not None:
            seas[(r.month.month - 1)] = r.seasonal_e6 if False else r.seasonal_e2
    for j in range(12):
        assert abs(seas[j] / 100 - (pattern[j] - mean_p)) < 0.02


def test_gif_codec_lossless_roundtrip():
    import numpy as np

    from smartpy_arc_spark.multimodal.gif import make_gif, parse_gif

    rng = np.random.default_rng(4)
    # 200 distinct colors, real LZW dictionary growth
    img = np.zeros((15, 20, 3), np.uint8)
    for y in range(15):
        for x in range(20):
            c = (y * 20 + x) % 200
            img[y, x] = (c, (c * 9) % 256, (c * 13) % 256)
    assert (parse_gif(make_gif(img))[0] == img).all()
    frames = [np.full((7, 9, 3), (i * 50, 255 - i * 60, 7 + i), np.uint8)
              for i in range(4)]
    dec = parse_gif(make_gif(frames))
    assert len(dec) == 4 and all((a == b).all() for a, b in zip(dec, frames))


def test_line_dedup_removes_boilerplate_preserves_order(spark):
    from smartpy_arc_spark.operators.dedup import line_dedup

    rows = [
        (1, "BANNER\nalpha unique one\nbeta unique two\nFOOTER"),
        (2, "BANNER\ngamma unique three\nFOOTER"),
        (3, "BANNER\n  BANNER \ndelta unique four\nFOOTER"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, min_df=2).collect()}
    assert out[1].text_clean == "alpha unique one\nbeta unique two"
    assert out[2].text_clean == "gamma unique three"
    # trimmed match: "  BANNER " dies with BANNER; order preserved
    assert out[3].text_clean == "delta unique four"
    assert (out[1].n_lines, out[1].n_kept) == (4, 2)
    assert (out[3].n_lines, out[3].n_kept) == (4, 1)


def test_cuped_reduces_variance_preserves_lift(spark):
    """y = 2x + arm lift + noise: CUPED removes the x component, so the
    adjusted arm difference equals the raw difference (unbiased) while
    var_reduction reports a large rho^2."""
    rng = np.random.default_rng(9)
    rows = []
    for arm, lift in (("a", 0.0), ("b", 5.0)):
        for _ in range(2000):
            x = float(rng.normal(50, 10))
            y = 2 * x + lift + float(rng.normal(0, 1))
            rows.append((arm, y, x))
    df = spark.createDataFrame(rows, "arm string, y double, x double")
    from smartpy_arc_spark.operators.stats import cuped_adjust

    out = {r.arm: r for r in cuped_adjust(df, "y", "x", "arm").collect()}
    raw_diff = (out["b"].mean_y_e4 - out["a"].mean_y_e4) / 1e4
    adj_diff = (out["b"].mean_cuped_e4 - out["a"].mean_cuped_e4) / 1e4
    assert abs(adj_diff - 5.0) < 0.2           # lift preserved
    assert abs(adj_diff - raw_diff) < 1.0      # unbiased vs raw
    assert abs(out["a"].theta_e6 / 1e6 - 2.0) < 0.05
    assert out["a"].var_reduction_e6 / 1e6 > 0.95  # x explains ~99.8%


def test_textrank_ranks_hub_words(spark):
    """'spark' co-occurs with everything → highest rank; deterministic."""
    from smartpy_arc_spark.operators.text import textrank_keywords

    rows = [  # star graph: every leaf co-occurs only with 'spark'
        (1, "spark shuffle"),
        (2, "spark join"),
        (3, "spark window"),
        (4, "spark codegen"),
        (5, "lonely pairing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textrank_keywords(df, top_k=7).collect()
    assert out[0].word == "spark"
    ranks = {r.word: r.rank_e9 for r in out}
    assert ranks["spark"] > ranks["lonely"] == ranks["pairing"]
    assert out == textrank_keywords(df, top_k=7).collect()  # deterministic


def test_compact_small_files_rewrites(spark, sf_dir, tmp_path):
    from smartpy_arc_spark.operators.scale import compact_small_files

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.repartition(10).write.parquet(src)
    r = compact_small_files(spark, src, dst, target_bytes=1 << 30).collect()[0]
    assert (r.n_files_before, r.n_files_after, r.n_rows) == (10, 1, 25)
    back = spark.read.parquet(dst)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_compact_small_files_coalesces_not_shuffles(spark, sf_dir, tmp_path):
    """r11: the compaction rewrite must be a narrow coalesce (zero bytes
    shuffled), falling back to repartition only when asked for MORE
    output files than the scan has splits (a split, not a compaction).
    Exact (before, after, rows) stays pinned on both paths."""
    from smartpy_arc_spark.operators.scale import compact_small_files

    src = str(tmp_path / "src")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.repartition(6).write.parquet(src)

    # compaction path: 6 splits -> 1 file must plan as Coalesce, no Exchange
    df = spark.read.parquet(src)
    plan = df.coalesce(1)._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" in plan and "Exchange" not in plan

    dst1 = str(tmp_path / "dst1")
    r = compact_small_files(spark, src, dst1, target_bytes=1 << 30).collect()[0]
    assert (r.n_files_before, r.n_files_after, r.n_rows) == (6, 1, 25)

    # split path: target so small every row-group outgrows it -> n_out
    # exceeds the scan's split count and only a shuffle can widen
    dst2 = str(tmp_path / "dst2")
    r2 = compact_small_files(spark, src, dst2, target_bytes=1).collect()[0]
    assert r2.n_files_before == 6 and r2.n_rows == 25
    assert r2.n_files_after > 6  # genuinely widened past the split count
    back = spark.read.parquet(dst2)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_dbscan_core_border_noise(spark):
    """Hand-built set: a 5-point dense blob (cores), one border point
    within eps of a single core, one isolated noise point."""
    from smartpy_arc_spark.operators.semdedup import dbscan_2d

    blob = [(i, 0.0 + i * 0.05, 0.0) for i in range(5)]        # 0..4 dense line
    border = [(10, 0.2 + 0.28, 0.0)]                           # near core 4 only
    noise = [(99, 50.0, 50.0)]
    df = spark.createDataFrame(blob + border + noise, "id long, x double, y double")
    out = {r.id: r for r in
           dbscan_2d(df, "x", "y", id_col="id", eps=0.3, min_pts=4).collect()}
    assert all(out[i].is_core for i in range(5))
    assert len({out[i].cluster for i in range(5)}) == 1  # one cluster
    assert not out[10].is_core and out[10].cluster == out[0].cluster  # border
    assert out[99].cluster == -1  # noise
    # two separated blobs → two clusters
    far = [(100 + i, 30.0 + i * 0.05, 0.0) for i in range(5)]
    df2 = spark.createDataFrame(blob + far, "id long, x double, y double")
    out2 = dbscan_2d(df2, "x", "y", id_col="id", eps=0.3, min_pts=4).collect()
    assert len({r.cluster for r in out2}) == 2


def test_ipf_raking_hits_margins(spark):
    from smartpy_arc_spark.operators.sample import ipf_raking

    rows = [("a", 0)] * 30 + [("a", 1)] * 10 + [("b", 0)] * 5 + [("b", 1)] * 55
    df = spark.createDataFrame(rows, "r string, c int")
    out = ipf_raking(
        df, "r", "c", {"a": 100, "b": 100}, {0: 120, 1: 80}, iterations=20
    ).collect()
    rm, cm = {}, {}
    for x in out:
        rm[x.r] = rm.get(x.r, 0) + x.weight_scaled
        cm[x.c] = cm.get(x.c, 0) + x.weight_scaled
    # last phase scales columns: column margins exact, rows converging
    assert abs(cm[0] / 1e6 - 120) < 0.01 and abs(cm[1] / 1e6 - 80) < 0.01
    assert all(abs(v / 1e6 - 100) < 0.05 for v in rm.values())
    # weights stay proportional within structure: zero cells stay zero
    assert all(x.weight_scaled > 0 for x in out)


def test_naive_bayes_train_score(spark):
    """NB learns the vocabulary split and classifies held-out docs;
    margins positive, predictions deterministic, matches a direct numpy
    computation of the smoothed log-likelihoods."""
    import math

    from smartpy_arc_spark.operators.text import nb_score, nb_train

    train_rows = [
        (1, "spark shuffle codegen executor", "tech"),
        (2, "executor shuffle partition spark", "tech"),
        (3, "codegen partition spark executor", "tech"),
        (4, "recipe butter flour sugar", "food"),
        (5, "sugar flour oven recipe", "food"),
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string, lang string")
    model = nb_train(train, label_col="lang")
    test = spark.createDataFrame(
        [(10, "spark executor shuffle"), (11, "flour sugar recipe"),
         (12, "totally unseen tokens")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in nb_score(test, model).collect()}
    assert out[10].predicted_label == "tech" and out[10].margin_e6 > 0
    assert out[11].predicted_label == "food" and out[11].margin_e6 > 0
    # all-unseen doc: prior favors tech (3/5) but food's smaller corpus
    # gives unseen tokens a higher Laplace floor (1/18 vs 1/22) — with 3
    # unseen tokens the floor term wins: proper multinomial NB behavior
    assert out[12].predicted_label == "food"

    # direct check for doc 10: smoothed multinomial log-likelihoods
    counts = {"tech": {"spark": 3, "shuffle": 2, "codegen": 2,
                       "executor": 3, "partition": 2},
              "food": {"recipe": 2, "butter": 1, "flour": 2,
                       "sugar": 2, "oven": 1}}
    vocab = 10
    tot = {"tech": 12, "food": 8}
    prior = {"tech": math.log(3 / 5), "food": math.log(2 / 5)}

    def ll(label, toks):
        return prior[label] + sum(
            math.log((counts[label].get(t, 0) + 1) / (tot[label] + vocab))
            for t in toks
        )

    toks10 = ["spark", "executor", "shuffle"]
    expect_margin = ll("tech", toks10) - ll("food", toks10)
    assert abs(out[10].margin_e6 / 1e6 - expect_margin) < 1e-4


def test_logistic_fit_recovers_coefficients(spark):
    """Generated from a known logistic model: Newton recovers beta to
    ~2 decimal places at n=4000, matches a numpy IRLS of the same spec,
    and the fit is deterministic."""
    rng = np.random.default_rng(21)
    n = 4000
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 2, n)
    z = 0.5 + 1.5 * x1 - 0.8 * x2
    y = (rng.random(n) < 1 / (1 + np.exp(-z))).astype(int)
    df = spark.createDataFrame(
        [(int(yy), float(a), float(b)) for yy, a, b in zip(y, x1, x2)],
        "y int, x1 double, x2 double",
    )
    from smartpy_arc_spark.operators.stats import logistic_fit

    out = {r.term: r for r in logistic_fit(df, "y", ["x1", "x2"]).collect()}
    assert abs(out["x1"].coef - 1.5) < 0.15
    assert abs(out["x2"].coef - (-0.8)) < 0.1
    assert abs(out["__intercept__"].coef - 0.5) < 0.15
    assert out["x1"].log_loss < 0.45  # far below ln2 chance level

    # numpy IRLS reference (same standardization + ridge)
    X = np.column_stack([np.ones(n), (x1 - x1.mean()) / x1.std(),
                         (x2 - x2.mean()) / x2.std()])
    beta = np.zeros(3)
    for _ in range(8):
        p = 1 / (1 + np.exp(-X @ beta))
        g = X.T @ (p - y) / n
        H = (X * (p * (1 - p))[:, None]).T @ X / n + 1e-8 * np.eye(3)
        beta -= np.linalg.solve(H, g)
    assert abs(out["x1"].std_coef - beta[1]) < 1e-6
    assert abs(out["x2"].std_coef - beta[2]) < 1e-6


def test_dtw_identity_shift_and_reference(spark):
    """DTW: identical series → 0; a time-shifted copy costs far less than
    euclidean; matches a plain-python DP reference exactly."""
    from smartpy_arc_spark.operators.resample import dtw_pairwise

    a = [0, 0, 1, 5, 9, 5, 1, 0, 0, 0]
    b = [0, 0, 0, 0, 1, 5, 9, 5, 1, 0]   # same pulse, shifted by 2
    c = a                                  # identical
    rows = [(k, i, float(v)) for k, s in (("a", a), ("b", b), ("c", c))
            for i, v in enumerate(s)]
    df = spark.createDataFrame(rows, "k string, i int, v double")
    out = {(r.key_a, r.key_b): r.dtw_e2
           for r in dtw_pairwise(df, key_col="k", order_col="i",
                                 value_col="v").collect()}
    assert out[("a", "c")] == 0

    def dtw_ref(x, y):
        import math
        n, m = len(x), len(y)
        D = [[math.inf] * (m + 1) for _ in range(n + 1)]
        D[0][0] = 0
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                D[i][j] = abs(x[i - 1] - y[j - 1]) + min(
                    D[i - 1][j], D[i][j - 1], D[i - 1][j - 1])
        return D[n][m]

    assert out[("a", "b")] == round(dtw_ref(a, b) * 100)
    euclid = sum(abs(x - y) for x, y in zip(a, b))
    assert out[("a", "b")] / 100 < euclid  # elastic alignment helps


def test_peak_concurrency_sweep(spark):
    """Hand-built intervals: [0,10) [5,15) [9,12) overlap 3-deep at t=9;
    half-open semantics — an interval ending exactly when another starts
    does not overlap it."""
    import datetime as dt

    from smartpy_arc_spark.operators.sessionize import peak_concurrency

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [("g", ts(0), ts(10)), ("g", ts(5), ts(15)), ("g", ts(9), ts(12)),
            ("h", ts(0), ts(5)), ("h", ts(5), ts(9))]  # touch, no overlap
    df = spark.createDataFrame(rows, "grp string, s timestamp, e timestamp")
    out = {r.grp: r for r in
           peak_concurrency(df, "s", "e", group_col="grp").collect()}
    assert out["g"].peak_concurrency == 3 and out["g"].peak_at == ts(9)
    assert out["h"].peak_concurrency == 1
    assert out["g"].n_intervals == 3 and out["h"].n_intervals == 2


def test_holt_winters_matches_python_reference(spark):
    import datetime as dt

    from smartpy_arc_spark.operators.resample import holt_winters

    p, alpha, beta, gamma = 4, 0.5, 0.25, 0.5
    pattern = [10, -5, 3, -8]
    ys = [100 + 2 * t + pattern[t % p] for t in range(16)]
    rows = [("k", dt.datetime(2024, 1, 1) + dt.timedelta(days=t), float(v))
            for t, v in enumerate(ys)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = holt_winters(df, "k", "ts", "v", period=p, alpha=alpha,
                       beta=beta, gamma=gamma).collect()[0]

    # plain-python reference of the documented spec (ticks = v*100)
    xs = [v * 100 for v in ys]
    l = sum(xs[:p]) / p
    b = (sum(xs[p:2 * p]) / p - l) / p
    s = [x - l for x in xs[:p]]
    for y in xs[p:]:
        s_old = s.pop(0)
        l_new = alpha * (y - s_old) + (1 - alpha) * (l + b)
        b = beta * (l_new - l) + (1 - beta) * b
        s.append(gamma * (y - l_new) + (1 - gamma) * s_old)
        l = l_new
    assert out.level_e4 == round(l / 100 * 10000)
    assert out.trend_e4 == round(b / 100 * 10000)
    assert out.f1_e4 == round((l + b + s[0]) / 100 * 10000)
    # trend ~ 2/day and forecasts track the seasonal pattern direction
    assert abs(out.trend_e4 / 1e4 - 2.0) < 1.0

    # short series -> nulls
    short = spark.createDataFrame(rows[:6], "k string, ts timestamp, v double")
    r = holt_winters(short, "k", "ts", "v", period=p).collect()[0]
    assert r.level_e4 is None and r.f1_e4 is None


def test_rolling_corr_perfect_and_anti(spark):
    import datetime as dt

    from smartpy_arc_spark.operators.stats import rolling_corr

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):
        # first 10 days: y = 2x (corr +1); afterwards y = -x + 100 (corr -1)
        x = float(i + 1)
        y = 2 * x if i < 10 else 100 - x
        rows.append((t0 + dt.timedelta(days=i), x, y))
    df = spark.createDataFrame(rows, "t timestamp, x double, y double")
    out = sorted(rolling_corr(df, "t", "x", "y", window=5, min_periods=5)
                 .collect(), key=lambda r: r.t)
    assert out[0].corr_e6 is None           # below min_periods
    assert out[6].corr_e6 == 1_000_000      # pure linear window
    assert out[-1].corr_e6 == -1_000_000    # pure anti-linear window
    assert all(r.n_window <= 5 for r in out)


def test_diff_in_diff_recovers_effect(spark):
    """Known generative model: control grows +5 post, treated grows
    +5 (common trend) + 3 (effect).  DiD recovers 3 and is significant."""
    from smartpy_arc_spark.operators.stats import diff_in_diff

    rng = np.random.default_rng(17)
    rows = []
    for t in (0, 1):
        for p in (0, 1):
            base_mean = 20 + 5 * p + 2 * t + 3 * t * p  # effect = 3
            for _ in range(1500):
                rows.append((float(base_mean + rng.normal(0, 2)), t, p))
    df = spark.createDataFrame(rows, "y double, treat int, post int")
    r = diff_in_diff(df, "y", "treat", "post").collect()[0]
    assert abs(r.did_e4 / 1e4 - 3.0) < 0.3
    assert r.t_e4 / 1e4 > 10  # overwhelmingly significant at n=6000
    assert r.n_treat_post == 1500
    # no-effect placebo: shuffle treat labels -> did ~ 0, |t| small
    rows0 = [(y, int(rng.random() < 0.5), p) for y, t, p in rows]
    df0 = spark.createDataFrame(rows0, "y double, treat int, post int")
    r0 = diff_in_diff(df0, "y", "treat", "post").collect()[0]
    assert abs(r0.t_e4 / 1e4) < 3


def test_explain_summary_metrics(spark, sf_dir):
    from smartpy_arc_spark.operators.checks import explain_summary

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where("l_quantity < 10")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    q = li.join(o, li["l_orderkey"] == o["o_orderkey"]).groupBy(
        "o_orderstatus").count()
    m = {r.metric: r.value for r in explain_summary(q).collect()}
    assert m["cartesian_products"] == 0
    assert m["broadcast_hash_joins"] + m["sort_merge_joins"] >= 1
    assert m["pushed_filters"] >= 1          # l_quantity < 10 reaches the scan
    assert m["file_scans"] == 2
    assert m["exchanges_total"] >= 1


def test_link_predict_square_graph(spark):
    from smartpy_arc_spark.operators.components import link_predict

    # 4-cycle 1-2-3-4-1: diagonals (1,3) and (2,4) are the only
    # non-adjacent pairs; each shares 2 neighbors of degree 2.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    rows = {(r.u, r.v): r for r in link_predict(edges).collect()}
    assert set(rows) == {(1, 3), (2, 4)}
    r = rows[(1, 3)]
    assert r.cn == 2
    assert r.ra_e6 == 1000000  # 2 * round(1e6/2)
    assert r.jaccard_e6 == 1000000  # 2 / (2+2-2)


def test_link_predict_hub_cap(spark):
    from smartpy_arc_spark.operators.components import link_predict

    # star: hub 0 connects 1..30 -> every leaf pair is a candidate via
    # the hub; capping max_neighbor_degree below 30 drops them all.
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 31)], "src long, dst long"
    )
    assert link_predict(edges, top_k=1000).count() == (30 * 29) // 2
    assert link_predict(edges, top_k=1000, max_neighbor_degree=10).count() == 0


def test_clustering_coefficient_triangle_plus_tail(spark):
    from smartpy_arc_spark.operators.components import clustering_coefficient

    # triangle 1-2-3 plus pendant 3-4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    cc = {r.node: (r.deg, r.n_tri, r.cc_e6)
          for r in clustering_coefficient(edges).collect()}
    assert cc[1] == (2, 1, 1000000)
    assert cc[2] == (2, 1, 1000000)
    assert cc[3] == (3, 1, 333333)  # 2*1/(3*2)
    assert cc[4] == (1, 0, 0)


def test_decision_stump_perfect_split(spark):
    from smartpy_arc_spark.operators.stats import decision_stump

    df = spark.createDataFrame(
        [(float(i), 1 if i >= 500 else 0) for i in range(1000)],
        "x double, y int",
    )
    r = decision_stump(df, feature_col="x", label_col="y",
                       bin_width=100.0).collect()[0]
    assert r.split_bin == 4
    assert r.split_upper == 500.0
    assert (r.n_left, r.pos_left, r.n_right, r.pos_right) == (500, 0, 500, 500)
    assert r.score_e6 == 1000 * 1000000  # pure partition: score = n


def test_fd_check_holds_and_violations(spark):
    from smartpy_arc_spark.operators.checks import fd_check

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", "z"), (3, "b", "z")],
        "k long, g string, v string",
    )
    out = {(r.determinant, r.dependent): r
           for r in fd_check(df, [("k", "g"), ("g", "v")]).collect()}
    assert out[("k", "g")].holds == 1
    assert out[("k", "g")].n_groups == 3
    g = out[("g", "v")]
    assert g.holds == 0 and g.n_violating == 1 and g.max_dep_per_det == 2


def test_rrf_fuse_agreement_wins(spark):
    from smartpy_arc_spark.operators.similarity import rrf_fuse

    # doc 7 is rank-2 in both lists; doc 1 / doc 2 are rank-1 in one
    # list only.  RRF(7) = 2*round(1e9/62) > round(1e9/61) = RRF(1).
    a = spark.createDataFrame([(1, 1), (7, 2), (3, 3)], "id long, rank long")
    b = spark.createDataFrame([(2, 1), (7, 2), (4, 3)], "id long, rank long")
    out = rrf_fuse([a, b], top_k=10).collect()
    assert out[0].id == 7 and out[0].n_lists == 2
    assert out[0].rrf_e9 == 2 * round(1e9 / 62)
    assert out[0].best_rank == 2
    ids = [r.id for r in out]
    assert ids[1:3] == [1, 2]  # tie on round(1e9/61) broken by id


def test_kmeans_two_blobs(spark):
    from smartpy_arc_spark.operators.embedding import kmeans_quantized

    # two tight 2-D blobs; k=2 seeded by ids 0 (blob A) and 1 (blob B)
    rows = [(0, [0.0, 0.0]), (2, [0.01, 0.0]), (4, [0.0, 0.01]),
            (1, [1.0, 1.0]), (3, [0.99, 1.0]), (5, [1.0, 0.99])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.cid: r for r in kmeans_quantized(df, k=2, iters=2).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_points == 3 and out[1].n_points == 3
    # centroid of blob B: mean of (1e6,1e6),(99e4,1e6),(1e6,99e4)
    assert out[1].cent_sum == 2 * round((1000000 + 990000 + 1000000) / 3)


def test_association_rules_measures(spark):
    from smartpy_arc_spark.operators.itemsets import association_rules

    # 4 baskets: {a,b} x3, {a,c} x1 -> rule a->b: conf 3/4, lift (3*4)/(4*3)=1
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b"),
            (4, "a"), (4, "c")]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = {(r.antecedent, r.consequent): r
           for r in association_rules(
               df, basket_col="bk", item_col="it", min_support=1).collect()}
    ab = out[("a", "b")]
    assert ab.support == 3 and ab.n_a == 4 and ab.n_b == 3
    assert ab.confidence_e6 == 750000
    assert ab.lift_e6 == 1000000
    # conviction a->b = (1 - 3/4)/(1 - 3/4) = 1
    assert ab.conviction_e6 == 1000000
    ba = out[("b", "a")]
    assert ba.confidence_e6 == 1000000 and ba.conviction_e6 is None


def test_decision_tree_depth2_xor(spark):
    from smartpy_arc_spark.operators.stats import decision_tree_depth2

    # XOR-ish: label = (x >= 10) != (z >= 10); root must split x at 10,
    # children split z at 10 (perfect leaves).
    rows = []
    for i in range(20):
        for j in range(20):
            rows.append((float(i), float(j),
                         1 if (i >= 10) != (j >= 10) else 0))
    df = spark.createDataFrame(rows, "x double, z double, y int")
    out = {r.node: r for r in decision_tree_depth2(
        df, feature_a="x", feature_b="z", label_col="y",
        bin_width_a=10.0, bin_width_b=10.0).collect()}
    assert out["root"].split_upper == 10.0
    for side in ("L", "R"):
        r = out[side]
        assert r.split_upper == 10.0 and r.n_left == 100
        assert r.score_e6 == 200 * 1000000  # pure leaves: score = n
        assert {r.pos_left, r.pos_right} == {0, 100}


def test_ar_model_matches_numpy(spark):
    import numpy as np
    from smartpy_arc_spark.operators.stats import ar_model

    counts = [20 + ((t * 7) % 13) - 6 for t in range(40)]
    rows = []
    for t, cnt in enumerate(counts):
        rows.extend([(t,)] * cnt)
    df = spark.createDataFrame(rows, "day long")
    r = ar_model(df, ts_col="day").collect()[0]
    assert r.n_obs == 38
    y = np.array(counts, dtype=np.int64)
    ybar = round(y.sum() / len(y))
    assert r.mean_y == ybar
    z = y - ybar
    zt, z1, z2 = z[2:], z[1:-1], z[:-2]
    a, b, c = (z1 * z1).sum(), (z1 * z2).sum(), (z2 * z2).sum()
    e, f = (z1 * zt).sum(), (z2 * zt).sum()
    det = a * c - b * b
    assert r.phi1_e6 == round((c * e - b * f) * 1e6 / det)
    assert r.phi2_e6 == round((a * f - b * e) * 1e6 / det)


def test_ar_model_singular_is_null(spark):
    from smartpy_arc_spark.operators.stats import ar_model

    # perfect alternation makes the lag matrix collinear -> NULL phis
    rows = []
    for t in range(40):
        rows.extend([(t,)] * (30 if t % 2 == 0 else 10))
    df = spark.createDataFrame(rows, "day long")
    r = ar_model(df, ts_col="day").collect()[0]
    assert r.n_obs == 38 and r.mean_y == 20
    assert r.phi1_e6 is None and r.phi2_e6 is None


def test_burst_detect_flags_spike(spark):
    from smartpy_arc_spark.operators.stats import burst_detect

    rows = []
    for t in range(10):
        rows.extend([("k", t)] * 10)   # steady 10/day
    rows.extend([("k", 10)] * 40)      # spike day 10
    df = spark.createDataFrame(rows, "key string, t long")
    out = burst_detect(df, key_col="key", ts_col="t",
                       window_rows=7, num=3, den=2).collect()
    assert [(r.t, r.cnt) for r in out] == [(10, 40)]
    assert out[0].trail_sum == 70
    assert out[0].intensity_e6 == 4000000


def test_nelson_aalen_small(spark):
    from smartpy_arc_spark.operators.stats import nelson_aalen

    # durations: events at t=1 (n=4), t=2 (n=2, one censored at t=1... )
    df = spark.createDataFrame(
        [(1, 1), (1, 0), (2, 1), (3, 1)], "dur long, ev int"
    )
    out = {r.t: r for r in nelson_aalen(df, "dur", "ev").collect()}
    assert out[1].n_at_risk == 4 and out[1].n_events == 1
    assert out[1].h_e9 == round(1e9 / 4)
    assert out[2].n_at_risk == 2
    assert out[2].h_e9 == round(1e9 / 4) + round(1e9 / 2)
    assert out[3].n_at_risk == 1
    assert out[3].h_e9 == round(1e9 / 4) + round(1e9 / 2) + 1000000000
    assert out[1].var_e12 == round(1e12 / 16)


def test_avi_codec_lossless_roundtrip():
    """RIFF/AVI codec: random frames survive encode→decode bit-exactly,
    including odd widths that exercise the 4-byte row-stride padding."""
    from smartpy_arc_spark.multimodal.avi import avi_info, make_avi, parse_avi

    rng = np.random.default_rng(11)
    for h, w, n in [(6, 10, 1), (5, 7, 3), (4, 6, 5)]:
        frames = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                  for _ in range(n)]
        payload = make_avi(frames, fps=9)
        info = avi_info(payload)
        assert (info["width"], info["height"], info["n_frames"],
                info["fps"]) == (w, h, n, 9)
        decoded, _ = parse_avi(payload)
        assert len(decoded) == n
        for a, b in zip(frames, decoded):
            assert np.array_equal(a, b)


def test_avi_rejects_non_dib():
    from smartpy_arc_spark.multimodal.avi import avi_info, make_avi

    with pytest.raises(ValueError):
        avi_info(b"RIFX" + b"\x00" * 20)
    payload = bytearray(make_avi(np.zeros((2, 2, 3), dtype=np.uint8)))
    # corrupt bit depth to 8 → decoder must refuse, not fake pixels
    idx = payload.find(b"strf")
    payload[idx + 8 + 14] = 8
    from smartpy_arc_spark.multimodal.avi import parse_avi

    with pytest.raises(NotImplementedError):
        parse_avi(bytes(payload))


def test_lsa_learned_embeddings(spark):
    """LSA trainer: matches the numpy SVD reference exactly, duplicate
    docs embed identically, basis is orthonormal, reruns bit-identical."""
    import pandas as pd

    from smartpy_arc_spark.operators.lsa import (
        dense_doc_vectors, hashed_tfidf_counts, lsa_embed, lsa_fit,
    )

    texts = ["the quick brown fox jumps", "pack my box with five dozen jugs",
             "the lazy dog sleeps all day", "quick brown dogs and lazy foxes",
             "five quick jugs of brown liquor"] * 3
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    emb, vals = lsa_embed(docs, dim=16, k=4)
    got = {r["doc_id"]: np.array(r["embedding"]) for r in emb.collect()}

    X = np.zeros((len(texts), 16), dtype=np.int64)
    for r in hashed_tfidf_counts(docs, dim=16).collect():
        X[r["doc_id"], r["bucket"]] = r["x"]
    w, v = np.linalg.eigh((X.T @ X).astype(float))
    order = np.argsort(w)[::-1][:4]
    C = v[:, order].T.copy()
    for c in C:
        j = int(np.argmax(np.abs(c)))
        if c[j] < 0:
            c *= -1
    ref = X.astype(float) @ C.T
    for i in range(len(texts)):
        assert np.allclose(got[i], ref[i], atol=1e-9)
    assert np.array_equal(got[0], got[5])          # dup docs identical
    assert np.allclose(w[order], vals)
    comps, _ = lsa_fit(dense_doc_vectors(hashed_tfidf_counts(docs, dim=16),
                                         dim=16), dim=16, k=4)
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-9)  # orthonormal
    emb2, _ = lsa_embed(docs, dim=16, k=4)
    got2 = {r["doc_id"]: np.array(r["embedding"]) for r in emb2.collect()}
    assert all(np.array_equal(got[i], got2[i]) for i in got)   # rerun exact
