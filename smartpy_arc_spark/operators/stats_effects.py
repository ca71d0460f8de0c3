"""Effect sizes and experimentation: CUPED, diff-in-diff, uplift,
covariate balance, mediation, empirical-Bayes shrinkage, bootstrap CIs.

Split out of ``stats.py`` in round 9 (VERDICT r8 item 8): the module had
grown to ~6,000 lines.  Public API is unchanged — ``stats.py`` re-exports
everything, so ``from smartpy_arc_spark.operators.stats import X`` keeps
working for every operator.  Design notes live on each function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from smartpy_arc_spark.operators import _ckpt
from smartpy_arc_spark.operators.stats_tests import mann_whitney_u
from smartpy_arc_spark.sqltext import lit_map

# cumulative Poisson(1) thresholds; LITERALS shared with the SQL oracle so
# both engines parse the identical doubles
_POIS1_CDF = (
    0.36787944117144233,  # P(X <= 0)
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)

# (z_{0.025} + z_{0.8})² for 95% confidence / 80% power, pre-rounded in
# Python so no engine ever evaluates a normal quantile
_POWER_K_E6 = 7_848_886

def poisson_bootstrap(
    df: DataFrame,
    id_col: str,
    value_col: str,
    *,
    n_replicates: int = 50,
    scale: int = 100,
) -> DataFrame:
    """Poisson bootstrap: ``n_replicates`` resampled means of
    ``value_col`` in ONE pass over the data.

    The classical bootstrap resamples n rows with replacement — which
    requires global coordination.  The Poisson approximation gives each
    row an independent Poisson(1) weight per replicate (correct to
    O(1/n)), so the whole thing becomes a row-local explode(B) +
    weighted aggregate: one shuffle of B bounded keys, no sampling
    coordination, the standard bootstrap at terabyte scale.

    Determinism/portability: the per-(row, replicate) uniform draw is a
    Knuth multiplicative hash in EXACT integer arithmetic
    (``(id * 2654435761 + b * 40503) mod 2^32 / 2^32`` — the division is
    by a power of two, so u is an exact dyadic rational in any engine),
    and the Poisson inverse-CDF thresholds are shared literals.  Weighted
    sums accumulate as exact fixed-point integers.  Everything after the
    scan is engine-reproducible bit-for-bit.

    Returns one row per replicate:
    ``(replicate, n_eff, sum_ticks, mean_e4)`` — feed the B means into a
    percentile for the confidence interval.
    """
    b = F.explode(
        F.array(*[F.lit(i) for i in range(n_replicates)])
    ).alias("replicate")
    rows = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.round(F.col(value_col) * scale).cast("long").alias("__ticks"),
        b,
    )
    u = (
        F.pmod(
            F.col("__id") * F.lit(2654435761) + F.col("replicate") * F.lit(40503),
            F.lit(4294967296),
        ).cast("double")
        / F.lit(4294967296.0)
    )
    k = F.size(
        F.filter(
            F.array(*[F.lit(c) for c in _POIS1_CDF]),
            lambda c: c < u,
        )
    ).cast("long")
    weighted = rows.select("replicate", "__ticks", k.alias("__k"))
    agg = weighted.groupBy("replicate").agg(
        F.sum("__k").alias("n_eff"),
        F.sum(F.col("__k") * F.col("__ticks")).alias("sum_ticks"),
    )
    mean_e4 = F.round(
        F.col("sum_ticks").cast("double")
        / F.col("n_eff").cast("double")
        / scale
        * 10000
    ).cast("long")
    return agg.select(
        F.col("replicate").cast("int").alias("replicate"),
        "n_eff",
        "sum_ticks",
        mean_e4.alias("mean_e4"),
    )


def conformal_interval(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_cols: list,
    *,
    alpha_num: int = 1,
    alpha_den: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Split-conformal prediction interval around a per-group mean
    predictor, with the finite-sample coverage guarantee
    ``P(|y − ŷ| ≤ q̂) ≥ 1 − α``: rows hash-split (md5, engine-portable,
    growth-stable) into train/calibration/test 60/20/20; q̂ is the
    ``⌈(n_cal+1)(1−α)⌉``-th smallest calibration residual — an EXACT
    order statistic selected via ``partitioned_cumsum`` (no percentile
    interpolation, no single-partition sort) — and coverage is then
    measured on the held-out test split.

    Residuals are ratios of exact fixed-point integers (``|v·c − s|/c``
    with the train sums), so both the ordering and the final comparisons
    are deterministic in any IEEE engine.

    Returns one row ``(n_train, n_cal, n_test, qhat_e4, n_covered)``.
    Raises ``ValueError`` when ``group_col`` has more groups than the
    driver may collect (``_ckpt.COLLECT_ROW_CAP``).
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    key = F.concat_ws("-", *[F.col(c) for c in key_cols])
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 100
    )
    ticks = F.round(F.col(value_col) * scale).cast("long")
    base = df.select(
        F.col(group_col).alias("g"),
        ticks.alias("v"),
        key.alias("k"),
        bucket.alias("b"),
    ).where(F.col("v").isNotNull())
    base = base.localCheckpoint()
    # the per-group train stats were already broadcast-scale by contract
    # (two F.broadcast(train) joins); collecting them once (r11, guide
    # §2.1/§5.3) turns both joins into map-literal lookups and derives
    # n_train from the same rows — dropping the separate full-base count
    # job and both broadcast-exchange materializations
    train_rows = _ckpt.collect_if_fits(
        base.where("b < 60")
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("v").cast("long").alias("s"),
        )
    )
    if train_rows is None:
        raise ValueError(
            f"conformal_interval: group column {group_col!r} has more than "
            f"{_ckpt.COLLECT_ROW_CAP} groups; the per-group train stats are "
            f"collected to the driver"
        )
    n_train = sum(r["c"] for r in train_rows)
    keyed = [r for r in train_rows if r["g"] is not None]
    if keyed:
        cc = lit_map([(r["g"], int(r["c"])) for r in keyed], T.LongType())[F.col("g")]
        ss = lit_map([(r["g"], int(r["s"])) for r in keyed], T.LongType())[F.col("g")]
    else:
        cc = F.lit(None).cast("long")
        ss = F.lit(None).cast("long")
    resid = F.abs(
        F.col("v").cast("decimal(38,0)") * cc - ss
    ).cast("double") / cc.cast("double")
    cal = (
        base.where("b >= 60 AND b < 80")
        .where(cc.isNotNull())
        .select(resid.alias("r"), "k")
    )
    gt: dict = {}
    ranked = partitioned_cumsum(
        cal.withColumn("__one", F.lit(1)), ["r", "k"], ["__one"],
        grand_totals=gt,
    )
    # selection rank as a literal: the cumsum's totals collect already
    # counted the calibration rows
    n_cal = int(gt["__one"])
    a_n, a_d = alpha_num, alpha_den
    target = min(((n_cal + 1) * (a_d - a_n) + a_d - 1) // a_d, n_cal)
    qhat = (
        ranked.where(F.col("cum___one").cast("long") == F.lit(target))
        .select(
            F.col("r").alias("qhat"),
            F.lit(n_cal).cast("long").alias("n_cal"),
        )
    )
    test = (
        base.where("b >= 80")
        .where(cc.isNotNull())
        .select(resid.alias("r"))
    )
    return (
        test.crossJoin(F.broadcast(qhat))
        .agg(
            F.lit(n_train).cast("long").alias("n_train"),
            F.max("n_cal").alias("n_cal"),
            F.count("*").cast("long").alias("n_test"),
            F.round(F.max("qhat") / scale * 10000).cast("long").alias(
                "qhat_e4"
            ),
            F.sum(F.when(F.col("r") <= F.col("qhat"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
    )


def cuped_adjust(
    df: DataFrame,
    y_col: str,
    x_col: str,
    group_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi, Walker — WSDM 2013):
    adjust an experiment metric with a pre-experiment covariate,

        ŷ = y − θ·(x − x̄),   θ = cov(x, y) / var(x)   (pooled),

    which shrinks metric variance by ρ² while leaving group-mean
    DIFFERENCES unbiased — the standard trick that cuts A/B-test sample
    sizes by the covariate's explanatory power.

    Exactness: y and x pre-round to integer ``scale`` units; all moments
    are integer sums widened to DECIMAL(38,0) (HUGEINT on DuckDB) so
    θ's numerator/denominator are exact integers, and every reported
    number is one double division of exact integers — bit-identical on
    any engine.  Plan: ONE grouped aggregate pass + a 1-row pooled
    broadcast; group count is bounded (experiment arms).

    Returns one row per group: ``(group, n, mean_y_e4, mean_cuped_e4)``
    plus the pooled ``theta_e6`` and ``var_reduction_e6`` (= ρ²×10⁶)
    repeated on each row for context.
    """
    ys = F.round(F.col(y_col).cast("double") * scale).cast("long")
    xs = F.round(F.col(x_col).cast("double") * scale).cast("long")
    base = df.select(F.col(group_col).alias("g"), ys.alias("y"), xs.alias("x"))
    dec = "decimal(38,0)"
    per_g = base.groupBy("g").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("y").cast(dec).alias("sy_g"),
        F.sum("x").cast(dec).alias("sx_g"),
    )
    pooled = base.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    cov_num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx_num = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary_num = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    theta = cov_num / varx_num
    rho2 = cov_num * cov_num / (varx_num * vary_num)
    mean_y = F.col("sy_g").cast("double") / (
        F.col("n_g").cast("double") * F.lit(float(scale))
    )
    mean_x_g = F.col("sx_g").cast("double") / (
        F.col("n_g").cast("double") * F.lit(float(scale))
    )
    mean_x = F.col("sx").cast("double") / (
        F.col("n").cast("double") * F.lit(float(scale))
    )
    return (
        per_g.crossJoin(F.broadcast(pooled))
        .select(
            F.col("g").alias(group_col),
            F.col("n_g").alias("n"),
            F.round(mean_y * 1e4).cast("long").alias("mean_y_e4"),
            F.round((mean_y - theta * (mean_x_g - mean_x)) * 1e4)
            .cast("long")
            .alias("mean_cuped_e4"),
            F.round(theta * 1e6).cast("long").alias("theta_e6"),
            F.round(rho2 * 1e6).cast("long").alias("var_reduction_e6"),
        )
    )


def diff_in_diff(
    df: DataFrame,
    y_col: str,
    treat_col: str,
    post_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Difference-in-differences estimator — the workhorse quasi-
    experimental effect measure:

        DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)

    with the classical large-sample standard error
    ``SE² = Σ_cells s²_c/n_c`` over the four (treat × post) cells.

    ONE conditional aggregate produces all four cells' integer moment
    sums (y pre-rounds to ``scale`` units), so every reported number is
    a fixed arithmetic expression over exact integers — one division per
    mean/variance, explicit four-term adds (no engine-ordered float
    accumulation), IEEE sqrt for the SE.  Returns one row: per-cell
    means (e4), ``did_e4``, ``se_e4`` and ``t_e4 = DiD/SE``.
    """
    ys = F.round(F.col(y_col).cast("double") * scale).cast("long")
    t = F.col(treat_col).cast("int")
    p = F.col(post_col).cast("int")
    base = df.select(ys.alias("y"), t.alias("t"), p.alias("p"))
    aggs = []
    for ti in (0, 1):
        for pi in (0, 1):
            cell = (F.col("t") == ti) & (F.col("p") == pi)
            tag = f"{ti}{pi}"
            aggs += [
                F.count(F.when(cell, 1)).alias(f"n{tag}"),
                F.sum(F.when(cell, F.col("y"))).alias(f"s{tag}"),
                # y² sums overflow int64 at corpus scale: exact DECIMAL
                F.sum(
                    F.when(cell, (F.col("y") * F.lit(1)).cast("decimal(38,0)")
                           * F.col("y"))
                ).alias(f"q{tag}"),
            ]
    wide = df.sparkSession.createDataFrame([(1,)], "one int").crossJoin(
        F.broadcast(base.agg(*aggs))
    ).drop("one")

    def mean(tag):
        return F.col(f"s{tag}").cast("double") / (
            F.col(f"n{tag}").cast("double") * F.lit(float(scale))
        )

    def var_over_n(tag):
        n = F.col(f"n{tag}").cast("double")
        s = F.col(f"s{tag}").cast("double")
        q = F.col(f"q{tag}").cast("double")
        # s²/n = (Σy² − (Σy)²/n)/(n−1)/n in value units (÷ scale²)
        return (q - s * s / n) / (n - F.lit(1.0)) / n / F.lit(float(scale * scale))

    did = (mean("11") - mean("10")) - (mean("01") - mean("00"))
    se = F.sqrt(
        var_over_n("00") + var_over_n("01") + var_over_n("10") + var_over_n("11")
    )
    e4 = lambda c: F.round(c * 1e4).cast("long")  # noqa: E731
    return wide.select(
        F.col("n00").cast("long").alias("n_ctrl_pre"),
        F.col("n01").cast("long").alias("n_ctrl_post"),
        F.col("n10").cast("long").alias("n_treat_pre"),
        F.col("n11").cast("long").alias("n_treat_post"),
        e4(mean("00")).alias("mean_ctrl_pre_e4"),
        e4(mean("01")).alias("mean_ctrl_post_e4"),
        e4(mean("10")).alias("mean_treat_pre_e4"),
        e4(mean("11")).alias("mean_treat_post_e4"),
        e4(did).alias("did_e4"),
        e4(se).alias("se_e4"),
        e4(did / se).alias("t_e4"),
    )


def covariate_balance(
    df: DataFrame,
    treat_col: str,
    covariates: list[str],
    *,
    smd_flag_e6: int = 100000,
) -> DataFrame:
    """Covariate balance table for an experiment or observational
    comparison: per covariate, group means and the standardized mean
    difference ``(mean_t − mean_c) / sqrt((var_t + var_c) / 2)`` —
    the pre-test every CUPED/diff-in-diff readout should publish
    (|SMD| > 0.1 is the conventional imbalance flag).

    One grouped aggregate collects exact DECIMAL moments for every
    covariate in a single scan (no per-covariate job); the 2-row combine
    uses IEEE sqrt and a fixed division order so the floats are
    engine-portable.  Covariates must be integer-valued (pre-scale
    currency to cents upstream).

    Returns ``(covariate, n_t, n_c, mean_t_e6, mean_c_e6, smd_e6,
    imbalanced)`` ordered by covariate name.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = [F.count("*").cast("long").alias("n")]
    for c in covariates:
        aggs += [
            F.sum(dec(F.col(c))).alias(f"s_{c}"),
            F.sum(dec(F.col(c)) * dec(F.col(c))).alias(f"ss_{c}"),
        ]
    two = df.groupBy(F.col(treat_col).cast("int").alias("t")).agg(*aggs)
    t = two.where("t = 1").alias("t")
    c_ = two.where("t = 0").alias("c")
    pair = t.crossJoin(c_)
    rows = []
    for c in covariates:
        nt = F.col("t.n").cast("decimal(38,0)")
        nc = F.col("c.n").cast("decimal(38,0)")
        st, sst = F.col(f"t.s_{c}"), F.col(f"t.ss_{c}")
        sc, ssc = F.col(f"c.s_{c}"), F.col(f"c.ss_{c}")
        mean_t = st.cast("double") / nt.cast("double")
        mean_c = sc.cast("double") / nc.cast("double")
        var_t = (nt * sst - st * st).cast("double") / (
            nt * (nt - F.lit(1).cast("decimal(38,0)"))
        ).cast("double")
        var_c = (nc * ssc - sc * sc).cast("double") / (
            nc * (nc - F.lit(1).cast("decimal(38,0)"))
        ).cast("double")
        pooled = (var_t + var_c) / F.lit(2.0)
        # CASE short-circuits: the division only runs when pooled > 0, so
        # a constant covariate yields NULL SMD instead of an ANSI error.
        smd_e6 = F.when(
            pooled > 0,
            F.round((mean_t - mean_c) / F.sqrt(pooled) * 1000000).cast(
                "long"
            ),
        )
        rows.append(
            F.struct(
                F.lit(c).alias("covariate"),
                F.col("t.n").alias("n_t"),
                F.col("c.n").alias("n_c"),
                F.round(mean_t * 1000000).cast("long").alias("mean_t_e6"),
                F.round(mean_c * 1000000).cast("long").alias("mean_c_e6"),
                smd_e6.alias("smd_e6"),
                (F.abs(smd_e6) > smd_flag_e6).cast("int").alias(
                    "imbalanced"
                ),
            )
        )
    return (
        pair.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy("covariate")
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score — reliability (calibration
    gap), resolution (how much the forecast separates outcomes) and
    outcome uncertainty: ``Brier ≈ REL − RES + UNC``.  The companion
    number set to the ``ece``/``calibration`` queries.

    Exactness: probabilities quantize to e6 ints, so the Brier sum and
    every per-bin squared term are exact DECIMAL integers; each reported
    number is its integer sum through ONE final division (per-bin terms
    pre-rounded to integers first — the order-free-sum contract).

    Returns one row ``(n, n_bins_used, brier_e6, rel_e6, res_e6,
    unc_e6)``.
    """
    q = F.round(F.col(prob_col) * 1000000).cast("long")
    y = F.col(label_col).cast("long")
    binned = df.select(
        q.alias("q"),
        y.alias("y"),
        F.least(
            F.floor(q / F.lit(1000000.0 / n_bins)).cast("int"),
            F.lit(n_bins - 1),
        ).alias("b"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_b = binned.groupBy("b").agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum(dec(F.col("q"))).alias("sp"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(
            dec(F.col("q") - F.col("y") * 1000000)
            * dec(F.col("q") - F.col("y") * 1000000)
        ).alias("sq_err"),
    )
    tot = per_b.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_bins_used"),
        F.sum("sy").cast("decimal(38,0)").alias("sy_t"),
        F.sum("sq_err").cast("decimal(38,0)").alias("sq_err_t"),
    )
    # the reliability/resolution terms need a fixed evaluation order —
    # compute them as exact decimal numerators with one rounded division
    per = per_b.crossJoin(F.broadcast(tot))
    rel_t = F.round(
        (
            (dec(F.col("sp")) - dec(F.col("sy")) * 1000000)
            * (dec(F.col("sp")) - dec(F.col("sy")) * 1000000)
        ).cast("double")
        / (dec(F.col("n_b")) * 1000000).cast("double")
    ).cast("long")
    res_num = (
        dec(F.col("sy")) * dec(F.col("n"))
        - dec(F.col("sy_t")) * dec(F.col("n_b"))
    )
    res_t = F.round(
        (res_num * res_num * 1000000).cast("double")
        / (dec(F.col("n_b")) * dec(F.col("n")) * dec(F.col("n"))).cast(
            "double"
        )
    ).cast("long")
    summed = per.select(
        "n", "n_bins_used", "sy_t", "sq_err_t", rel_t.alias("rt"),
        res_t.alias("st"),
    ).groupBy("n", "n_bins_used", "sy_t", "sq_err_t").agg(
        F.sum("rt").cast("long").alias("rel_num"),
        F.sum("st").cast("long").alias("res_num"),
    )
    n = F.col("n").cast("decimal(38,0)")
    return summed.select(
        F.col("n"),
        "n_bins_used",
        F.round(
            F.col("sq_err_t").cast("double")
            / (n * 1000000).cast("double")
        )
        .cast("long")
        .alias("brier_e6"),
        F.round(
            F.col("rel_num").cast("double") / F.col("n").cast("double")
        )
        .cast("long")
        .alias("rel_e6"),
        F.round(
            F.col("res_num").cast("double") / F.col("n").cast("double")
        )
        .cast("long")
        .alias("res_e6"),
        F.round(
            (dec(F.col("sy_t")) * (n - dec(F.col("sy_t"))) * 1000000)
            .cast("double")
            / (n * n).cast("double")
        )
        .cast("long")
        .alias("unc_e6"),
    )


def effect_sizes(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    scale: int = 100,
) -> DataFrame:
    """Effect sizes for a two-cohort comparison — the numbers a test
    statistic doesn't give: Cohen's d (standardized mean difference,
    pooled SD) and Cliff's delta (the ordinal dominance probability
    ``P(a > b) − P(a < b)``, derived exactly from the same doubled-rank
    U statistic as :func:`mann_whitney_u`).

    d follows the exact-integer-moments + fixed-order IEEE contract
    (values in ``scale`` ticks); delta is the single integer division
    ``(2U − n_a·n_b) / (n_a·n_b)``.  Two scans (one for moments, the
    rank pass inside mann_whitney_u) and two 1-row combines.

    Returns one row ``(n_a, n_b, u2_a, cohens_d_e6, cliffs_delta_e6)``.
    """
    ticks = F.round(F.col(value_col) * scale).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    two = df.where(F.col(group_col).isin(group_a, group_b)).select(
        (F.col(group_col) == group_a).cast("int").alias("is_a"),
        ticks.alias("v"),
    )
    m = two.groupBy("is_a").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(F.col("v"))).alias("s"),
        F.sum(dec(F.col("v")) * dec(F.col("v"))).alias("ss"),
    )
    a = m.where("is_a = 1").alias("a")
    b = m.where("is_a = 0").alias("b")
    pair = a.crossJoin(b)
    na, nb = dec(F.col("a.n")), dec(F.col("b.n"))
    mean_a = F.col("a.s").cast("double") / na.cast("double")
    mean_b = F.col("b.s").cast("double") / nb.cast("double")
    var_a = (na * F.col("a.ss") - F.col("a.s") * F.col("a.s")).cast(
        "double"
    ) / (na * (na - 1)).cast("double")
    var_b = (nb * F.col("b.ss") - F.col("b.s") * F.col("b.s")).cast(
        "double"
    ) / (nb * (nb - 1)).cast("double")
    pooled = (
        (na - 1).cast("double") * var_a + (nb - 1).cast("double") * var_b
    ) / (na + nb - 2).cast("double")
    d_e6 = F.when(
        pooled > 0,
        F.round((mean_a - mean_b) / F.sqrt(pooled) * 1000000).cast("long"),
    )
    moments = pair.select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        d_e6.alias("cohens_d_e6"),
    )
    mw = mann_whitney_u(df, group_col, value_col, group_a, group_b).select(
        F.col("u2_a")
    )
    nn = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return moments.crossJoin(F.broadcast(mw)).select(
        "n_a",
        "n_b",
        "u2_a",
        "cohens_d_e6",
        F.round(
            (F.col("u2_a") - nn("n_a") * nn("n_b")).cast("double")
            / (nn("n_a") * nn("n_b")).cast("double")
            * 1000000
        )
        .cast("long")
        .alias("cliffs_delta_e6"),
    )


def pairwise_mean_diffs(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Tukey-style pairwise group comparison table — the post-hoc step
    after :func:`anova_oneway` rejects: every (group i < group j) pair
    with mean difference and its pooled-MSE standard error (the q-dist
    p-value belongs to the caller's stats library; the distributed part
    is the moments).

    One grouped moment scan (exact integer ticks), a bounded k-row
    self-join for the pairs (k = number of groups), pooled MSE from the
    same pass; every reported float is integer moments through a fixed
    division order + IEEE sqrt.

    Returns ``(group_a, group_b, n_a, n_b, diff_e6, se_e6)`` ordered by
    (group_a, group_b).
    """
    ticks = F.round(F.col(value_col) * scale).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = df.select(F.col(group_col).alias("g"), ticks.alias("v")).groupBy(
        "g"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(F.col("v"))).alias("s"),
        F.sum(dec(F.col("v")) * dec(F.col("v"))).alias("ss"),
    )
    tot = m.agg(
        F.sum("n").cast("long").alias("nt"),
        F.count("*").cast("long").alias("k"),
        # within-group sum of squares: Σ_g (ss_g − s_g²/n_g); each term
        # one division, pre-summed in fixed double order is NOT safe —
        # keep each term and sum the rounded units instead.  Terms are
        # ~n·ticks² (≈3e18 per group at sf0.1/scale=100), so the SUM
        # runs in DECIMAL(38,0) — a long sum overflows 2⁶³ with a
        # handful of groups (caught by the r6 sf0.1 scale smoke)
        F.sum(
            F.round(
                (dec(F.col("n")) * F.col("ss") - F.col("s") * F.col("s"))
                .cast("double")
                / F.col("n").cast("double")
            ).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("ssw_x"),
    )
    a = m.alias("a")
    b = m.alias("b")
    pairs = a.crossJoin(b).where(F.col("a.g") < F.col("b.g"))
    out = pairs.crossJoin(F.broadcast(tot))
    mse = F.col("ssw_x").cast("double") / (
        F.col("nt") - F.col("k")
    ).cast("double")
    mean_a = F.col("a.s").cast("double") / F.col("a.n").cast("double")
    mean_b = F.col("b.s").cast("double") / F.col("b.n").cast("double")
    se = F.sqrt(
        mse
        * (
            F.lit(1.0) / F.col("a.n").cast("double")
            + F.lit(1.0) / F.col("b.n").cast("double")
        )
    )
    to_e6 = lambda c: F.round(c / scale * 1000000).cast("long")  # noqa: E731
    return out.select(
        F.col("a.g").alias("group_a"),
        F.col("b.g").alias("group_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        to_e6(mean_a - mean_b).alias("diff_e6"),
        to_e6(se).alias("se_e6"),
    ).orderBy("group_a", "group_b")


def uplift_by_decile(
    df: DataFrame,
    treat_col: str,
    score_col: str,
    outcome_col: str,
    id_col: str,
    *,
    n_buckets: int = 10,
) -> DataFrame:
    """Uplift (qini-style) table: units ranked by a targeting score into
    deciles, each decile's treatment-vs-control response-rate lift — the
    readout that says WHERE a treatment works, not just whether.

    Deterministic ntile over (score desc, id), exact integer response
    counts, two divisions per row in fixed order (rate_t, rate_c) and
    their difference — portable.

    Returns ``(bucket, n_t, n_c, resp_t, resp_c, uplift_e6)`` (NULL
    uplift when a cell is empty).
    """
    ranked = df.select(
        F.col(treat_col).cast("int").alias("t"),
        F.col(outcome_col).cast("long").alias("y"),
        F.ntile(n_buckets)
        .over(W.orderBy(F.desc(score_col), F.asc(id_col)))
        .alias("bucket"),
    )
    per = ranked.groupBy("bucket").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_t"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("resp_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("resp_c"),
    )
    rate_t = F.col("resp_t").cast("double") / F.col("n_t").cast("double")
    rate_c = F.col("resp_c").cast("double") / F.col("n_c").cast("double")
    return per.select(
        "bucket",
        "n_t",
        "n_c",
        "resp_t",
        "resp_c",
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            F.round((rate_t - rate_c) * 1000000).cast("long"),
        ).alias("uplift_e6"),
    ).orderBy("bucket")


def group_ablation(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    scale: int = 1000,
) -> DataFrame:
    """Leave-one-group-out ablation — the cheapest data-valuation
    signal: for each group (source, domain, shard), how much does the
    corpus-level mean of a metric move if the group is removed?
    ``delta = mean_without − mean_with`` > 0 means the group was
    DRAGGING the metric down.  One grouped moment pass + a 1-row total
    broadcast: the jackknife-by-groups identity ``mean_without =
    (S − s_g) / (N − n_g)`` needs no second scan.

    Returns ``(group, n, group_mean_e6, loo_mean_e6, delta_e6)`` ordered
    by delta desc (most-harmful group first), NULL loo for a group that
    is the whole corpus.
    """
    ticks = F.round(F.col(value_col) * scale).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per = df.select(F.col(group_col).alias("g"), ticks.alias("v")).groupBy(
        "g"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(F.col("v"))).alias("s"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("decimal(38,0)").alias("st"),
    )
    out = per.crossJoin(F.broadcast(tot))
    e6 = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / den.cast("double") / scale * 1000000
    ).cast("long")
    gmean = e6(F.col("s"), dec(F.col("n")))
    loo = F.when(
        F.col("nt") > F.col("n"),
        e6(
            dec(F.col("st")) - dec(F.col("s")),
            dec(F.col("nt")) - dec(F.col("n")),
        ),
    )
    full = e6(F.col("st"), dec(F.col("nt")))
    return out.select(
        F.col("g").alias(group_col),
        "n",
        gmean.alias("group_mean_e6"),
        loo.alias("loo_mean_e6"),
        (loo - full).alias("delta_e6"),
    ).orderBy(F.desc_nulls_last("delta_e6"), group_col)


def power_analysis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    rel_mde_e4: int = 200,
    scale: int = 100,
) -> DataFrame:
    """Two-sample test power analysis per segment: the units needed PER
    ARM to detect a ``rel_mde_e4``/1e4 relative lift of the segment mean
    at 95% confidence / 80% power — ``n = 2(z_{α/2}+z_β)²σ²/δ²`` with
    the z-constant pre-rounded into ``_POWER_K_E6`` (no engine-side
    normal quantile).

    Variance comes from exact integer-tick moments; the final expression
    is a fixed chain of IEEE ops, ceil'd to an integer sample size.

    Returns ``(group, n, mean_e6, var_e6, mde_e6, n_per_arm)``.
    """
    ticks = F.round(F.col(value_col) * scale).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = df.select(F.col(group_col).alias("g"), ticks.alias("v")).groupBy(
        "g"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(F.col("v"))).alias("s"),
        F.sum(dec(F.col("v")) * dec(F.col("v"))).alias("ss"),
    )
    nn = dec(F.col("n"))
    mean_t = F.col("s").cast("double") / nn.cast("double")
    var_t = (nn * F.col("ss") - F.col("s") * F.col("s")).cast("double") / (
        nn * (nn - 1)
    ).cast("double")
    mde_t = mean_t * F.lit(float(rel_mde_e4)) / F.lit(10000.0)
    k = F.lit(_POWER_K_E6 / 1e6)
    n_req = F.ceil(
        F.lit(2.0) * k * var_t / (mde_t * mde_t)
    ).cast("long")
    e6 = lambda c: F.round(c / scale * 1000000).cast("long")  # noqa: E731
    return m.select(
        F.col("g").alias(group_col),
        "n",
        e6(mean_t).alias("mean_e6"),
        F.when(
            F.col("n") > 1,
            F.round(var_t / (scale * scale) * 1000000).cast("long"),
        ).alias("var_e6"),
        e6(mde_t).alias("mde_e6"),
        F.when((F.col("n") > 1) & (mde_t != 0), n_req).alias("n_per_arm"),
    ).orderBy(group_col)


def eb_shrinkage(
    df: DataFrame, item_col: str, hits_col: str, trials_col: str
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) rate shrinkage: fit a beta prior
    to the observed per-item rates by method of moments, then shrink
    each item's rate toward it —

        α + β = m(1−m)/v − 1,   shrunk = (x + α)/(n + α + β)

    — the small-sample fix for ranking items by conversion/defect rate
    (an item at 1/1 must not beat one at 97/100).

    Exactness: per-item rates pre-round to integer e6 (one division of
    exact counts each) so the prior's mean/variance come from order-free
    integer sums; α/β and every shrunk rate are then fixed double
    expressions.  Degenerate priors (v ≥ m(1−m) or v = 0) return the
    raw rates with null α/β.

    Returns ``(item, hits, trials, rate_e6, alpha_e6, beta_e6,
    shrunk_e6)``.
    """
    x = F.col(hits_col).cast("long")
    n = F.col(trials_col).cast("long")
    base = df.select(
        F.col(item_col).alias("i"), x.alias("x"), n.alias("n")
    ).where(F.col("n") > 0)
    r6 = F.round(
        F.col("x").cast("double") / F.col("n").cast("double") * 1e6
    ).cast("long")
    rated = base.select("i", "x", "n", r6.alias("r6"))
    mom = rated.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("r6").cast("long").alias("s"),
        F.sum(
            F.col("r6").cast("decimal(19,0)") * F.col("r6").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("q"),
    )
    k = F.col("k")
    m = F.col("s").cast("double") / k.cast("double") / 1e6
    v = (
        (
            k.cast("decimal(19,0)") * F.col("q")
            - F.col("s").cast("decimal(19,0)") * F.col("s").cast("decimal(19,0)")
        ).cast("double")
        / (k * (k - 1)).cast("double")
        / 1e12
    )
    ab = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    prior_ok = (k >= 2) & (v > 0) & (ab > 0)
    alpha = m * ab
    beta = (F.lit(1.0) - m) * ab
    pri = mom.select(
        prior_ok.alias("ok"),
        F.when(prior_ok, alpha).alias("a"),
        F.when(prior_ok, beta).alias("b"),
    )
    j = rated.crossJoin(F.broadcast(pri))
    shrunk = F.when(
        F.col("ok"),
        (F.col("x").cast("double") + F.col("a"))
        / (F.col("n").cast("double") + F.col("a") + F.col("b"))
        * 1e6,
    ).otherwise(F.col("r6").cast("double"))
    return j.select(
        F.col("i").alias(item_col),
        F.col("x").alias("hits"),
        F.col("n").alias("trials"),
        F.col("r6").alias("rate_e6"),
        F.round(F.col("a") * 1e6).cast("long").alias("alpha_e6"),
        F.round(F.col("b") * 1e6).cast("long").alias("beta_e6"),
        F.round(shrunk).cast("long").alias("shrunk_e6"),
    )


def mediation_analysis(
    df: DataFrame,
    x_col: str,
    m_col: str,
    y_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Baron–Kenny mediation with the Sobel test: does X affect Y
    through M?

        a  = slope of M ~ X          (path a)
        b, c' = slopes of Y ~ X + M  (path b, direct effect)
        c  = slope of Y ~ X          (total effect)
        indirect = a·b,  Sobel z = a·b / √(b²·se_a² + a²·se_b²)

    Exactness: all variables pre-round to integer ticks and center by
    their ROUNDED integer means (the ``jarque_bera`` shift — keeps the
    DECIMAL cross-moments small and exact); every path coefficient and
    standard error is then a fixed double expression (Cramer 2×2 for
    the multiple regression, classical OLS variance formulas).

    Returns one row ``(n, a_e6, c_e6, c_prime_e6, b_e6, indirect_e6,
    sobel_z_e6, prop_mediated_e6)``.
    """
    xv = F.round(F.col(x_col).cast("double") * scale).cast("long")
    mv = F.round(F.col(m_col).cast("double") * scale).cast("long")
    yv = F.round(F.col(y_col).cast("double") * scale).cast("long")
    base = df.select(xv.alias("x"), mv.alias("m"), yv.alias("y")).where(
        F.col("x").isNotNull() & F.col("m").isNotNull() & F.col("y").isNotNull()
    )
    shift = base.agg(
        *[
            F.round(F.sum(c).cast("double") / F.count("*").cast("double"))
            .cast("long")
            .alias(f"c_{c}")
            for c in ("x", "m", "y")
        ]
    )
    cen = base.crossJoin(F.broadcast(shift)).select(
        (F.col("x") - F.col("c_x")).alias("x"),
        (F.col("m") - F.col("c_m")).alias("m"),
        (F.col("y") - F.col("c_y")).alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mom = cen.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("tx"),
        F.sum("m").cast("long").alias("tm"),
        F.sum("y").cast("long").alias("ty"),
        F.sum(d("x") * d("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d("x") * d("m")).cast("decimal(38,0)").alias("sxm"),
        F.sum(d("m") * d("m")).cast("decimal(38,0)").alias("smm"),
        F.sum(d("x") * d("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(d("m") * d("y")).cast("decimal(38,0)").alias("smy"),
        F.sum(d("y") * d("y")).cast("decimal(38,0)").alias("syy"),
    )
    n = F.col("n")
    nd = n.cast("double")
    # centered (about the rounded mean) corrected moments: subtract the
    # residual mean contribution t·t/n exactly in double (t is tiny)
    def cm(s, ta, tb):
        return F.col(s).cast("double") - F.col(ta).cast(
            "double"
        ) * F.col(tb).cast("double") / nd

    Sxx = cm("sxx", "tx", "tx")
    Sxm = cm("sxm", "tx", "tm")
    Smm = cm("smm", "tm", "tm")
    Sxy = cm("sxy", "tx", "ty")
    Smy = cm("smy", "tm", "ty")
    Syy = cm("syy", "ty", "ty")
    a = Sxm / Sxx
    c = Sxy / Sxx
    det = Sxx * Smm - Sxm * Sxm
    c_p = (Sxy * Smm - Smy * Sxm) / det
    b = (Sxx * Smy - Sxm * Sxy) / det
    # residual variances
    s2_a = (Smm - a * Sxm) / (n - 2).cast("double")
    se_a2 = s2_a / Sxx
    s2_y = (Syy - c_p * Sxy - b * Smy) / (n - 3).cast("double")
    se_b2 = s2_y * Sxx / det
    sobel = (a * b) / F.sqrt(b * b * se_a2 + a * a * se_b2)
    ok = (n >= 4) & (det > 0) & (Sxx > 0)
    e6 = lambda cexpr: F.when(ok, F.round(cexpr * 1e6).cast("long"))  # noqa: E731
    return mom.select(
        "n",
        e6(a).alias("a_e6"),
        e6(c).alias("c_e6"),
        e6(c_p).alias("c_prime_e6"),
        e6(b).alias("b_e6"),
        e6(a * b).alias("indirect_e6"),
        e6(sobel).alias("sobel_z_e6"),
        e6(a * b / c).alias("prop_mediated_e6"),
    )


def woe_iv(
    df: DataFrame,
    score_col: str,
    target_col: str,
    id_col: str,
    *,
    n_bins: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Weight of Evidence and Information Value per score bin — the
    credit-scoring feature screen:

        WOE_b = ln( (good_b/G) / (bad_b/B) ),
        IV = Σ_b (good_b/G − bad_b/B) · WOE_b

    Bins are DETERMINISTIC equal-count buckets
    ``bin = ((rank−1)·n_bins) div n`` over the TOTAL order (score tick,
    id) — the explicit-ntile rule of ``lorenz_curve``, with the id
    tiebreak so tied scores land identically on any engine.  WOE nats
    and IV terms pre-round to integer e9 per bin (the
    ``mutual_information`` contract) so the aggregate IV is an
    order-free integer sum.  Bins with zero goods or zero bads return
    null WOE (standard practice is merging; kept explicit here).

    Returns per bin ``(bin, n, n_good, n_bad, woe_e9, iv_term_e9)``.
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    x = F.round(F.col(score_col).cast("double") * scale).cast("long")
    t = F.col(target_col).cast("int")
    base = df.select(
        x.alias("x"), t.alias("y"), F.col(id_col).alias("rid")
    ).where(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    # r11 (guide §2.2/§2.1): the global rank came from
    # ``row_number() OVER (ORDER BY x, rid)`` — a single-task sort of
    # the whole detail table — plus a separate count job for n.  The
    # distributed-CDF rank (partitioned_cumsum over the SAME unique
    # (x, rid) order) is the identical integer, n and the good total
    # ride the cumsum's own totals collect, and the bad total is their
    # difference — same bins, same G/B, no one-task stage.
    gt: dict = {}
    ranked = partitioned_cumsum(
        base.withColumn("__one", F.lit(1)), ["x", "rid"], ["__one", "y"],
        grand_totals=gt,
    )
    n_tot = int(gt["__one"])
    g_tot = int(gt["y"])
    b_tot = n_tot - g_tot
    binned = ranked.select(
        "x",
        "y",
        F.expr(
            f"((cast(cum___one as bigint) - 1) * {n_bins}) div {n_tot}"
        ).alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_good"),
        (F.count("*") - F.sum("y")).cast("long").alias("n_bad"),
    )
    j = per_bin.withColumns(
        {
            "g": F.lit(g_tot).cast("long"),
            "b": F.lit(b_tot).cast("long"),
        }
    )
    pg = F.col("n_good").cast("double") / F.col("g").cast("double")
    pb = F.col("n_bad").cast("double") / F.col("b").cast("double")
    ok = (F.col("n_good") > 0) & (F.col("n_bad") > 0)
    woe = F.log(pg / pb)
    return j.select(
        "bin",
        "n",
        "n_good",
        "n_bad",
        F.when(ok, F.round(woe * 1e9).cast("long")).alias("woe_e9"),
        F.when(ok, F.round((pg - pb) * woe * 1e9).cast("long")).alias(
            "iv_term_e9"
        ),
    ).orderBy("bin")

