"""Distributional and model-fitting statistics as aggregates (plus the
facade for the full stats surface).

Round 9 split (VERDICT r8 item 8): the original ~6,000-line module now
lives in five files along its natural seams —

* :mod:`.stats_tests` — hypothesis tests, contingency tables, agreement,
  divergences;
* :mod:`.stats_timeseries` — autocorrelation, changepoints, rolling and
  financial series statistics;
* :mod:`.stats_survival` — Kaplan-Meier, Nelson-Aalen, RMST, Cox,
  log-rank, cumulative incidence;
* :mod:`.stats_effects` — effect sizes, experimentation (CUPED,
  diff-in-diff, uplift, balance, mediation), bootstrap CIs;
* this module — concentration/inequality measures, robust location,
  regression and small-model fits, scoring/ranking utilities.

Every name is re-exported here, so
``from smartpy_arc_spark.operators.stats import X`` remains the stable
import path for ALL statistics operators (the pre-split public API).

Outputs are statistics (and degrees of freedom), not p-values — p-values
need incomplete-gamma/Student CDFs, which belong to the caller's stats
library; the distributed part is the counting, which is what costs
anything at 100 TB.

No counterpart in the reference repo; analytics extension surface
(SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from smartpy_arc_spark.operators._stats_common import _check_e4_scale

from smartpy_arc_spark.operators.stats_tests import (  # noqa: F401
    chi_square_independence,
    welch_t_test,
    mann_whitney_u,
    ks_test_2samp,
    spearman_corr,
    anova_oneway,
    proportion_ztest,
    kendall_tau_b,
    mutual_information,
    cohens_kappa,
    srm_check,
    kruskal_wallis,
    levene_bf,
    runs_test,
    jarque_bera,
    wilcoxon_signed_rank,
    wasserstein_1d,
    js_divergence,
    friedman_test,
    grubbs_statistic,
    mcnemar_test,
    fleiss_kappa,
    chi_square_residuals,
    simpson_check,
    wilson_ci,
    mantel_haenszel,
    contingency_effects,
    cluster_agreement,
)
from smartpy_arc_spark.operators.stats_timeseries import (  # noqa: F401
    autocorrelation,
    cusum_changepoints,
    rolling_corr,
    ar_model,
    burst_detect,
    cross_correlation,
    max_drawdown,
    market_beta,
    sharpe_ratio,
    durbin_watson,
    changepoint_binseg,
    var_cvar,
    price_index,
    trend_test,
    burstiness,
    ljung_box,
)
from smartpy_arc_spark.operators.stats_survival import (  # noqa: F401
    kaplan_meier,
    log_rank_test,
    cox_one_step,
    nelson_aalen,
    rmst,
    cumulative_incidence,
)
from smartpy_arc_spark.operators.stats_effects import (  # noqa: F401
    poisson_bootstrap,
    conformal_interval,
    cuped_adjust,
    diff_in_diff,
    covariate_balance,
    brier_decomposition,
    effect_sizes,
    pairwise_mean_diffs,
    uplift_by_decile,
    group_ablation,
    power_analysis,
    eb_shrinkage,
    mediation_analysis,
    woe_iv,
)


def ols_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Closed-form simple linear regression y = a + b*x via the normal
    equations, computed from EXACT integer sums.

    Inputs are fixed-point (``scale`` decimal ticks, default cents);
    Σx, Σy, Σx², Σy², Σxy accumulate as DECIMAL(38,0) — exact at any
    scale and in any engine, unlike double sums whose value depends on
    aggregation order.  The slope/intercept/r² divisions happen once,
    on scalars, so every engine sees identical operands.

    Returns one row ``(n, slope, intercept, r2)`` (rounded to 6).
    """
    xi = F.round(F.col(x_col) * scale).cast("decimal(38,0)")
    yi = F.round(F.col(y_col) * scale).cast("decimal(38,0)")
    agg = df.select(xi.alias("x"), yi.alias("y")).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # exact decimal covariance/variance numerators, cast once to double
    cov_n = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov_n / var_x
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / F.lit(float(scale))
    )
    r2 = cov_n * cov_n / (var_x * var_y)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round(intercept, 6) + F.lit(0.0)).alias("intercept"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
    )


def concentration(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Per-group categorical concentration profile: Shannon entropy (nats),
    Herfindahl-Hirschman index, and the top category's share.

    Two hash aggregates over bounded key spaces (group x category cells,
    then groups); entropy/HHI derive from exact integer cell counts, with
    one ln() per cell — the only transcendental, absorbed by 6-decimal
    rounding.

    Returns ``(group, n, k_cats, entropy, hhi, top_share)``.
    """
    # "__c" not "c": a user category column named `c` must not collide
    cells = df.groupBy(group_col, cat_col).agg(F.count("*").alias("__c"))
    return (
        cells.groupBy(group_col)
        .agg(
            F.sum("__c").cast("long").alias("n"),
            F.count("*").cast("long").alias("k_cats"),
            F.sum(F.col("__c") * F.col("__c")).cast("long").alias("ss"),
            F.max("__c").cast("long").alias("cmax"),
            F.sum(
                F.col("__c").cast("double")
                * F.log(F.col("__c").cast("double"))
            ).alias("clnc"),
        )
        .select(
            F.col(group_col),
            "n",
            "k_cats",
            # H = ln(n) - (1/n) * sum(c * ln c)   (exact-int operands)
            (
                F.round(
                    F.log(F.col("n").cast("double"))
                    - F.col("clnc") / F.col("n").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("entropy"),
            (
                F.round(
                    F.col("ss").cast("double")
                    / (F.col("n") * F.col("n")).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("hhi"),
            (
                F.round(F.col("cmax").cast("double") / F.col("n").cast("double"), 6)
                + F.lit(0.0)
            ).alias("top_share"),
        )
    )


def benford_deviation(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Benford's-law digit forensics: observed first-significant-digit
    distribution vs the log10(1 + 1/d) expectation, with the chi-square
    deviation — the classic fabricated-numbers screen for financial /
    metric columns.

    First digits extract in codegen (string of abs value, strip
    non-digits, first char; zero values drop — they have no significant
    digit); one 9-key aggregate.  Expected shares are literal constants
    so both engines parse identical doubles.

    Returns 9 rows ``(digit, n, share_e6, expected_e6, chi2_term_e6)``.
    """
    first = F.substring(
        F.regexp_replace(F.abs(F.col(value_col)).cast("string"), "[^1-9]", ""),
        1,
        1,
    )
    counts = (
        df.where(F.col(value_col).isNotNull() & (F.col(value_col) != 0))
        .select(first.cast("int").alias("digit"))
        .where(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("__t"))
    import math

    expected = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    exp_col = F.create_map(
        *[F.lit(v) for d in expected for v in (d, expected[d])]
    )[F.col("digit")]
    share = F.col("n").cast("double") / F.col("__t").cast("double")
    chi2_term = (
        (share - exp_col) * (share - exp_col) / exp_col
        * F.col("__t").cast("double")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(share * 1000000).cast("long").alias("share_e6"),
            F.round(exp_col * 1000000).cast("long").alias("expected_e6"),
            F.round(chi2_term * 1000000).cast("long").alias("chi2_term_e6"),
        )
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Exact Gini inequality coefficient of a non-negative quantity:

        G = (2 · Σ_i i·x_(i)) / (n · Σx) − (n + 1) / n

    over the ascending-sorted values — the rank weighting computed with
    ``partitioned_cumsum`` over per-distinct-value counts, so nothing
    sorts in one task: for a run of ``c`` equal values ending at
    cumulative position ``k``, Σ of their ranks is ``c·k − c(c−1)/2``,
    all in exact integer space.  One double division pair at the end.

    Returns one row ``(n, gini_e6)``.
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    ticks = F.round(F.col(value_col) * scale).cast("long")
    vals = (
        df.select(ticks.alias("v"))
        .where(F.col("v") >= 0)
        .groupBy("v")
        .agg(F.count("*").alias("c"))
    )
    cum = partitioned_cumsum(vals, ["v"], ["c"])
    # Σ ranks of this value's run: c*k - c(c-1)/2  (k = inclusive cum count;
    # c(c-1) is even, so the halving stays integral).  The rank-weighted
    # value sum can exceed 2^53, so it accumulates as DECIMAL(38,0) —
    # exact in any engine, unlike a double sum.
    k = F.col("cum_c").cast("long")
    rank_sum = (
        F.col("c").cast("long") * k
        - F.expr("c * (c - 1) div 2").cast("long")
    )
    agg = cum.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("decimal(38,0)").alias("sx"),
        F.sum(
            (F.col("v") * rank_sum).cast("decimal(38,0)")
        ).alias("sxr"),
    )
    g = (
        F.lit(2.0) * F.col("sxr").cast("double")
        / (F.col("n").cast("double") * F.col("sx").cast("double"))
        - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
    )
    return agg.select(
        "n", F.round(g * 1000000).cast("long").alias("gini_e6")
    )


def theil_sen(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Theil–Sen robust regression, disjoint-pairs variant: rank points
    by x (globally, via ``partitioned_cumsum`` — no single-partition
    window), pair rank ``r`` with rank ``r + n/2``, and take the MEDIAN
    pair slope; the intercept is the median residual ``y − m·x``.  The
    O(n²) all-pairs estimator collapses to n/2 disjoint pairs (Siegel's
    pairing), keeping the 29% breakdown robustness against outliers
    that OLS (``ols_fit``) lacks.

    Medians are deterministic SELECTIONS, not interpolations: the
    element at rank ``(k+1) div 2`` under ``(value, rank)`` ordering —
    both engine-portable (identical doubles, identical order) and free
    of the percentile-interpolation divergence documented in
    ``quantile_normalize``.  Vertical pairs (dx = 0) are excluded.

    Returns one row ``(n, n_pairs, slope_e6, intercept_e4)`` —
    intercept in value units (ten-thousandths).
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    xt = F.round(F.col(x_col).cast("double") * scale).cast("long")
    yt = F.round(F.col(y_col).cast("double") * scale).cast("long")
    base = df.select(
        xt.alias("x"), yt.alias("y"), F.col(id_col).alias("i")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    # checkpoint between the three ranking passes: each median_select's
    # offset/count jobs would otherwise re-execute every upstream pass
    # (the same lineage blowup fixed in rfm_segments)
    gt: dict = {}
    ranked = (
        partitioned_cumsum(
            base.withColumn("__one", F.lit(1)),
            ["x", "y", "i"],
            ["__one"],
            grand_totals=gt,
        )
        .select("x", "y", F.col("cum___one").cast("long").alias("r"))
        .localCheckpoint()
    )
    # the cumsum's per-partition-totals collect already told the driver
    # the row count — n/h become plan literals instead of a count job +
    # broadcast exchange (r11, guide §2.1/§5.3)
    n = int(gt["__one"])
    h = n // 2
    # pair rank r with rank r+h in ONE grouped pass (r11, guide §2.4):
    # both pair members come from the same checkpointed frame, so the
    # former lo⋈hi self-join (two exchanges + SMJ) collapses to a single
    # groupBy(pr) with conditional aggregates — each pr group holds
    # exactly one lo (r = pr) and one hi (r = pr + h) row.
    tagged = ranked.select(
        F.when(F.col("r") <= h, F.col("r"))
        .otherwise(F.col("r") - h)
        .alias("pr"),
        (F.col("r") <= h).alias("is_lo"),
        "x",
        "y",
    ).where((F.col("pr") >= 1) & (F.col("pr") <= h))
    pairs = (
        tagged.groupBy("pr")
        .agg(
            F.max(F.when(F.col("is_lo"), F.struct("x", "y"))).alias("_lo"),
            F.max(F.when(~F.col("is_lo"), F.struct("x", "y"))).alias("_hi"),
        )
        .where(F.col("_hi.x") != F.col("_lo.x"))
        .select(
            "pr",
            (
                (F.col("_hi.y") - F.col("_lo.y")).cast("double")
                / (F.col("_hi.x") - F.col("_lo.x")).cast("double")
            ).alias("m"),
        )
        .localCheckpoint()
    )

    def median_select(sdf, val_col, order_extra):
        """Row at rank (k+1) div 2 under (val, tiebreak) order — the
        deterministic lower-median selection.  The selection rank is a
        literal: the cumsum's totals collect already counted the rows."""
        mgt: dict = {}
        r = partitioned_cumsum(
            sdf.withColumn("__one", F.lit(1)),
            [val_col, order_extra],
            ["__one"],
            grand_totals=mgt,
        )
        k = int(mgt["__one"])
        return r.where(
            F.col("cum___one").cast("long") == F.lit((k + 1) // 2)
        ).select(
            F.col(val_col).alias("med"), F.lit(k).cast("long").alias("k")
        )

    m_med = median_select(pairs, "m", "pr")
    slope = m_med.select(F.col("med").alias("m"), F.col("k").alias("n_pairs"))
    resid = (
        ranked.crossJoin(F.broadcast(slope))
        .select(
            "n_pairs",
            "m",
            (F.col("y").cast("double") - F.col("m") * F.col("x").cast("double"))
            .alias("res"),
            "r",
        )
        .localCheckpoint()
    )
    b_med = median_select(resid, "res", "r")
    out = (
        slope.crossJoin(
            F.broadcast(b_med.select(F.col("med").alias("b")))
        )
        .select(
            F.lit(n).cast("long").alias("n"),
            "n_pairs",
            F.round(F.col("m") * 1000000).cast("long").alias("slope_e6"),
            F.round(F.col("b") / scale * 10000).cast("long").alias(
                "intercept_e4"
            ),
        )
    )
    return out


def pareto_frontier_2d(
    df: DataFrame, x_col: str, y_col: str, *, scale: int = 100
) -> DataFrame:
    """2-D Pareto frontier (skyline): the points no other point weakly
    dominates (≥ in both maximized dimensions, > in at least one).

    Scalable shape: collapse to the per-distinct-x maximum y (one hash
    aggregate — only frontier-candidate rows survive), then a suffix
    maximum over the DISTINCT x values via ``partitioned_cumsum`` on the
    negated key; a candidate is on the frontier iff its y strictly
    exceeds the best y among all strictly larger x.  The detail table is
    scanned once; nothing ever compares point-to-point.

    Returns the frontier as ``(x, y)`` in fixed-point ticks.
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    xt = F.round(F.col(x_col).cast("double") * scale).cast("long")
    yt = F.round(F.col(y_col).cast("double") * scale).cast("long")
    cand = (
        df.select(xt.alias("x"), yt.alias("y"))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x")
        .agg(F.max("y").alias("y"))
    )
    # suffix max over x: cumulative max of y in decreasing-x order.
    # partitioned_cumsum sums, so feed it a monotone transform: running
    # max == value where the EXCLUSIVE running max (over larger x) is
    # smaller.  Compute exclusive running max via the same range-
    # partition machinery on (-x) with a max-fold per partition + driver
    # offsets — expressed here with a per-partition window over the
    # range-partitioned layout.
    from pyspark.sql import Window

    part = (
        cand.withColumn("nx", -F.col("x"))
        .repartitionByRange("nx")
        .sortWithinPartitions("nx")
        .withColumn("__pid", F.spark_partition_id())
        # materialize the sorted layout ONCE (r11, guide §5 — the same
        # single-sort discipline partitioned_cumsum got): the totals
        # collect and the windowed pass below both read these rows, and
        # the two passes must agree on the partition layout anyway
        .localCheckpoint(eager=True)
    )
    # bounded: one row per partition
    totals = part.groupBy("__pid").agg(F.max("y").alias("pmax")).collect()
    offsets: dict[int, int] = {}
    best = None
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offsets[r["__pid"]] = best if best is not None else -(1 << 62)
        best = max(best, r["pmax"]) if best is not None else r["pmax"]
    off_map = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv]
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("nx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_max = F.max("y").over(w)
    prior_best = F.greatest(
        F.coalesce(local_max, F.lit(-(1 << 62))), off_map[F.col("__pid")]
    )
    return (
        part.withColumn("__prior", prior_best)
        .where(F.col("y") > F.col("__prior"))
        .select("x", "y")
    )


def isotonic_fit(
    df: DataFrame,
    bin_col: str,
    y_col: str,
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact isotonic (monotone nondecreasing) regression over pre-binned
    data, via the minimax closed form.

    The isotonic solution at bin k is ``ŷ_k = max_{i≤k} min_{j≥k}
    avg(y over bins i..j)`` — PAV's pool-adjacent-violators result
    without PAV's sequential sweep, which has no distributed form.  The
    per-(i, j) interval averages come from prefix sums of the bin table,
    so the whole fit is exact rational arithmetic: y pre-rounds to
    integer ``scale`` units, interval averages are one integer division
    each, and min/max never accumulate float error — the result is
    bit-identical on any engine.

    Scale shape: the ONLY per-row pass is the groupBy(bin) aggregate;
    everything after runs on the k-row bin table (k = #bins, bounded by
    contract — calibration uses 10-100), where the O(k²) interval pairs
    and O(k³)-ish join are driver-free but trivially small.  The classic
    use: isotonic calibration of classifier scores (score-bin → observed
    rate), the monotone counterpart of `calibration_bins`.

    Returns ``(bin, n_obs, y_mean_e6, y_iso_e6)`` ordered by bin;
    ``y_iso_e6`` is nondecreasing.
    """
    from pyspark.sql import Window

    ys = F.round(F.col(y_col).cast("double") * scale).cast("long")
    bins = (
        df.select(F.col(bin_col).alias("bin"), ys.alias("ys"))
        .groupBy("bin")
        .agg(F.count("*").alias("w"), F.sum("ys").alias("s"))
    )
    # prefix sums over the bounded bin table (single tiny partition)
    wseq = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "bin", "w", "s",
        F.sum("w").over(wseq).alias("cw"),
        F.sum("s").over(wseq).alias("cs"),
    )
    lo = pre.select(
        F.col("bin").alias("i"),
        (F.col("cw") - F.col("w")).alias("lw"),
        (F.col("cs") - F.col("s")).alias("ls"),
    )
    hi = pre.select(
        F.col("bin").alias("j"), F.col("cw").alias("hw"), F.col("cs").alias("hs")
    )
    # avg over bins i..j, exact single division of integer sums
    pairs = (
        lo.join(hi, F.col("i") <= F.col("j"))
        .select(
            "i", "j",
            (
                (F.col("hs") - F.col("ls")).cast("double")
                / (F.col("hw") - F.col("lw")).cast("double")
            ).alias("avg"),
        )
    )
    ks = bins.select(F.col("bin").alias("k"))
    inner = (
        pairs.join(ks, F.col("j") >= F.col("k"))
        .where(F.col("i") <= F.col("k"))
        .groupBy("i", "k")
        .agg(F.min("avg").alias("mn"))
    )
    iso = (
        inner.groupBy("k")
        .agg(F.max("mn").alias("iso"))
        .select(F.col("k").alias("bin"), F.round("iso").cast("long").alias("y_iso_e6"))
    )
    return (
        bins.join(iso, "bin")
        .select(
            "bin",
            F.col("w").cast("long").alias("n_obs"),
            F.round(F.col("s").cast("double") / F.col("w").cast("double"))
            .cast("long")
            .alias("y_mean_e6"),
            "y_iso_e6",
        )
        .orderBy("bin")
    )


def logistic_fit(
    df: DataFrame,
    y_col: str,
    feature_cols: list[str],
    *,
    iterations: int = 8,
    ridge: float = 1e-8,
    materialize: bool = True,
) -> DataFrame:
    """Binary logistic regression by distributed Newton-Raphson (IRLS) —
    the standard classifier/propensity/quality-filter fit:

        β ← β − H⁻¹ g,   g = Xᵀ(σ(Xβ) − y)/n,
        H = Xᵀ diag(σ(1−σ)) X / n  (+ ridge·I for conditioning)

    Each iteration is ONE distributed aggregate producing the (d+1)
    gradient and (d+1)² Hessian moments (d = #features, bounded by
    contract — the collect is O(d²), never O(rows)); the tiny solve runs
    on the driver, exactly the bounded-state pattern of the IVF/PCA
    trainers.  Features standardize internally for conditioning;
    reported coefficients are rescaled to the ORIGINAL units.  Newton
    converges quadratically — 8 iterations reach float precision on
    anything separable-ish.

    Returns one row per term (``__intercept__`` + each feature):
    ``(term, coef, std_coef)`` plus the final train ``log_loss`` and
    ``n`` repeated per row.
    """
    import numpy as np

    d = len(feature_cols)
    # materialize the (projected, double-cast) input ONCE, BEFORE the
    # standardization stats pass (r11, guide §5): the former order —
    # stats over the raw lineage, then a checkpoint of the standardized
    # projection — executed every upstream join/filter twice.  With
    # ``materialize=False`` the caller guarantees ``df`` is already
    # materialized (e.g. an entry-level localCheckpoint shared with its
    # fence passes) and no extra copy is written.
    raw = df.select(
        F.col(y_col).cast("double").alias("y"),
        *[F.col(c).cast("double").alias(f"f{j}")
          for j, c in enumerate(feature_cols)],
    )
    if materialize:
        raw = raw.localCheckpoint(eager=True)
    stats = raw.agg(
        F.count("*").alias("n"),
        *[F.avg(F.col(f"f{j}")).alias(f"m{j}") for j in range(d)],
        *[F.stddev_pop(F.col(f"f{j}")).alias(f"s{j}") for j in range(d)],
    ).first()
    n = stats["n"]
    mu = np.array([stats[f"m{j}"] for j in range(d)])
    sd = np.array([stats[f"s{j}"] or 1.0 for j in range(d)])
    sd[sd == 0] = 1.0

    # standardization stays a lazy projection over the materialized rows:
    # the per-iteration aggregates re-evaluate only this arithmetic, never
    # the upstream lineage
    xs = [
        ((F.col(f"f{j}") - float(mu[j])) / float(sd[j])).alias(f"x{j}")
        for j in range(d)
    ]
    base = raw.select(F.col("y"), *xs)

    beta = np.zeros(d + 1)  # [intercept, std-features...]
    for _ in range(iterations):
        z = F.lit(float(beta[0]))
        for j in range(d):
            z = z + F.lit(float(beta[j + 1])) * F.col(f"x{j}")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        w = (p * (F.lit(1.0) - p)).alias("w")
        cols = [F.lit(1.0).alias("x_0")] + [
            F.col(f"x{j}").alias(f"x_{j + 1}") for j in range(d)
        ]
        aggs = []
        for a in range(d + 1):
            aggs.append(F.sum((p - F.col("y")) * cols[a]).alias(f"g{a}"))
            for b in range(a, d + 1):
                aggs.append(F.sum(w * cols[a] * cols[b]).alias(f"h{a}_{b}"))
        row = base.agg(*aggs).first()
        g = np.array([row[f"g{a}"] for a in range(d + 1)]) / n
        H = np.zeros((d + 1, d + 1))
        for a in range(d + 1):
            for b in range(a, d + 1):
                H[a, b] = H[b, a] = row[f"h{a}_{b}"] / n
        H += ridge * np.eye(d + 1)
        beta = beta - np.linalg.solve(H, g)

    z = F.lit(float(beta[0]))
    for j in range(d):
        z = z + F.lit(float(beta[j + 1])) * F.col(f"x{j}")
    eps = 1e-12
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    loss_row = base.agg(
        F.avg(
            -(
                F.col("y") * F.log(F.greatest(p, F.lit(eps)))
                + (F.lit(1.0) - F.col("y"))
                * F.log(F.greatest(F.lit(1.0) - p, F.lit(eps)))
            )
        ).alias("ll")
    ).first()
    # rescale standardized coefficients to original units
    coefs = beta[1:] / sd
    intercept = float(beta[0] - np.sum(beta[1:] * mu / sd))
    spark = df.sparkSession
    rows = [("__intercept__", intercept, float(beta[0]))] + [
        (c, float(coefs[j]), float(beta[j + 1]))
        for j, c in enumerate(feature_cols)
    ]
    out = spark.createDataFrame(rows, "term string, coef double, std_coef double")
    return out.select(
        "term",
        F.round("coef", 8).alias("coef"),
        F.round("std_coef", 8).alias("std_coef"),
        F.lit(round(float(loss_row["ll"]), 8)).alias("log_loss"),
        F.lit(int(n)).alias("n"),
    )


def decision_stump(
    df: DataFrame,
    *,
    feature_col: str,
    label_col: str,
    bin_width: float,
) -> DataFrame:
    """Exact one-split decision tree (CART stump) by Gini impurity over a
    histogram of the feature — the distributed tree-learning primitive:
    bin, histogram, prefix-scan, argmin.  This is exactly how XGBoost /
    LightGBM / Spark MLlib pick splits at scale (histogram-based split
    finding), expressed relationally.

    One pass bins ``feature_col`` into ``floor(x / bin_width)`` buckets
    (integer-keyed — no min/max pre-pass needed, unlike equal-width
    binning), one aggregate produces per-bin (n, n_pos), a window
    prefix-sum turns the histogram into left/right class counts for every
    candidate split, and the best split maximizes

        score = (posL² + negL²)/nL + (posR² + negR²)/nR

    (algebraically equivalent to minimizing weighted Gini impurity:
    n·(1−gini) = that sum).  Each term is one division of exact integer
    operands, so the score is bit-portable across engines.

    Plan: one shuffle to the bin histogram (map-side combined), then a
    single-partition window over ≤ n_bins rows (bounded — the histogram,
    not the data) and a 1-row argmin.  Returns 1 row:
    ``(split_bin, split_upper, n_left, pos_left, n_right, pos_right,
    score_e6)`` where ``split_upper`` = exclusive upper feature bound of
    the left side and rows with ``x < split_upper`` go left.
    """
    from pyspark.sql import Window

    binned = df.select(
        F.floor(F.col(feature_col) / F.lit(bin_width)).cast("long").alias("bin"),
        F.col(label_col).cast("long").alias("y"),
    )
    hist = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bin",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("posl"),
        F.sum("n").over(tot).alias("nt"),
        F.sum("pos").over(tot).alias("post"),
        F.max("bin").over(tot).alias("max_bin"),
    ).where(F.col("bin") < F.col("max_bin"))
    negl = F.col("nl") - F.col("posl")
    nr = F.col("nt") - F.col("nl")
    posr = F.col("post") - F.col("posl")
    negr = nr - posr
    scored = cum.select(
        "bin",
        F.col("nl").alias("n_left"),
        F.col("posl").alias("pos_left"),
        nr.alias("n_right"),
        posr.alias("pos_right"),
        (
            (F.col("posl") * F.col("posl") + negl * negl).cast("double")
            / F.col("nl").cast("double")
            + (posr * posr + negr * negr).cast("double") / nr.cast("double")
        ).alias("score"),
    )
    best = Window.orderBy(F.desc("score"), F.asc("bin"))
    return (
        scored.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .select(
            F.col("bin").alias("split_bin"),
            ((F.col("bin") + 1) * F.lit(bin_width)).alias("split_upper"),
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            F.round(F.col("score") * 1000000.0).cast("long").alias("score_e6"),
        )
    )


def decision_tree_depth2(
    df: DataFrame,
    *,
    feature_a: str,
    feature_b: str,
    label_col: str,
    bin_width_a: float,
    bin_width_b: float,
) -> DataFrame:
    """Exact depth-2 decision tree by histogram split-finding — the
    recursive step :func:`decision_stump` stops short of: the root
    splits on ``feature_a``, then EACH side independently finds its best
    ``feature_b`` split, exactly how distributed GBDT libraries grow
    level-wise trees from one 2-D histogram.

    One shuffle builds the (bin_a, bin_b) → (n, n_pos) histogram; the
    root's candidates come from marginalizing over bin_b, the children's
    from conditioning on the chosen side — all on the bounded histogram
    table (single-partition windows over ≤ n_bins rows, never the data).
    The split score is the same integer-exact Gini form as the stump
    (``(pos²+neg²)/n`` summed over the two halves, one IEEE division per
    term), so the whole tree is bit-portable.

    Returns 3 rows ordered L, R, root:
    ``(node, split_col, split_bin, split_upper, n_left, pos_left,
    n_right, pos_right, score_e6)``.
    """
    from pyspark.sql import Window

    binned = df.select(
        F.floor(F.col(feature_a) / F.lit(bin_width_a)).cast("long").alias("ba"),
        F.floor(F.col(feature_b) / F.lit(bin_width_b)).cast("long").alias("bb"),
        F.col(label_col).cast("long").alias("y"),
    )
    # the 2-D histogram is the only pass over the data; pin it so the
    # root/children stages (which each reference it) don't re-scan
    hist2 = binned.groupBy("ba", "bb").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).localCheckpoint(eager=True)

    def _best_split(hist, bin_col, part_cols):
        """Argmin split over a (part, bin) histogram: per-partition
        prefix window + score + rank-1 pick.  `part_cols` empty = root."""
        part = [F.col(c) for c in part_cols]
        w = (
            Window.partitionBy(*part)
            .orderBy(bin_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        tot = (
            Window.partitionBy(*part)
            .orderBy(bin_col)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        cum = hist.select(
            *part_cols,
            F.col(bin_col).alias("bin"),
            F.sum("n").over(w).alias("nl"),
            F.sum("pos").over(w).alias("posl"),
            F.sum("n").over(tot).alias("nt"),
            F.sum("pos").over(tot).alias("post"),
            F.max(bin_col).over(tot).alias("max_bin"),
        ).where(F.col("bin") < F.col("max_bin"))
        negl = F.col("nl") - F.col("posl")
        nr = F.col("nt") - F.col("nl")
        posr = F.col("post") - F.col("posl")
        negr = nr - posr
        scored = cum.select(
            *part_cols,
            "bin",
            F.col("nl").alias("n_left"),
            F.col("posl").alias("pos_left"),
            nr.alias("n_right"),
            posr.alias("pos_right"),
            (
                (F.col("posl") * F.col("posl") + negl * negl).cast("double")
                / F.col("nl").cast("double")
                + (posr * posr + negr * negr).cast("double")
                / nr.cast("double")
            ).alias("score"),
        )
        best = Window.partitionBy(*part).orderBy(
            F.desc("score"), F.asc("bin")
        )
        return (
            scored.withColumn("rk", F.row_number().over(best))
            .where(F.col("rk") == 1)
            .drop("rk")
        )

    hist_a = hist2.groupBy("ba").agg(
        F.sum("n").cast("long").alias("n"), F.sum("pos").cast("long").alias("pos")
    )
    root = _best_split(hist_a, "ba", []).select(
        F.lit("root").alias("node"),
        F.lit(feature_a).alias("split_col"),
        F.col("bin").alias("split_bin"),
        ((F.col("bin") + 1) * F.lit(bin_width_a)).alias("split_upper"),
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        F.round(F.col("score") * 1e6).cast("long").alias("score_e6"),
    )
    sided = (
        hist2.crossJoin(
            F.broadcast(root.select(F.col("split_bin").alias("root_bin")))
        )
        .select(
            F.when(F.col("ba") <= F.col("root_bin"), F.lit("L"))
            .otherwise(F.lit("R"))
            .alias("node"),
            "bb",
            "n",
            "pos",
        )
        .groupBy("node", "bb")
        .agg(F.sum("n").cast("long").alias("n"), F.sum("pos").cast("long").alias("pos"))
    )
    children = _best_split(sided, "bb", ["node"]).select(
        "node",
        F.lit(feature_b).alias("split_col"),
        F.col("bin").alias("split_bin"),
        ((F.col("bin") + 1) * F.lit(bin_width_b)).alias("split_upper"),
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        F.round(F.col("score") * 1e6).cast("long").alias("score_e6"),
    )
    return root.unionByName(children).orderBy("node")


def lorenz_curve(
    df: DataFrame,
    value_col: str,
    id_col: str,
    *,
    n_buckets: int = 10,
) -> DataFrame:
    """Lorenz curve in deciles: units ranked ascending by value, the
    cumulative share of total value held by each decile — the curve the
    Gini coefficient summarizes, kept as assertable points.

    ``ntile`` over (value, id) is deterministic (the id tiebreak makes
    the order total); shares are exact integer cumulative sums with one
    final division per row.  The global ntile is a single-partition sort
    of the PRE-AGGREGATED unit table — exactness choice; when the unit
    table itself is huge, bin by broadcast percentile cutpoints instead
    (``quality.equi_depth_histogram``) and accept approximate decile
    edges.

    Returns ``(bucket, n_units, bucket_value, cum_share_e6)``.
    """
    v = F.col(value_col).cast("long")
    ranked = df.select(
        v.alias("v"),
        F.ntile(n_buckets)
        .over(W.orderBy(F.col(value_col), F.col(id_col)))
        .alias("bucket"),
    )
    per_b = ranked.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("bv"),
    )
    wb = W.orderBy("bucket")
    total = F.sum("bv").over(
        wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    cum = F.sum("bv").over(wb.rowsBetween(W.unboundedPreceding, W.currentRow))
    return per_b.select(
        "bucket",
        "n_units",
        F.col("bv").cast("long").alias("bucket_value"),
        F.round(cum.cast("double") / total.cast("double") * 1000000)
        .cast("long")
        .alias("cum_share_e6"),
    ).orderBy("bucket")


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    *,
    trim_pct: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Trimmed mean per group — the robust location estimate between
    median and mean: drop the lowest and highest ``trim_pct`` percent of
    rows (``floor(n·pct/100)`` each side, deterministic (value, id)
    order) and average the rest.

    Exact: values land as integer ``scale`` ticks, the kept-range sum is
    an exact integer, and the mean is ONE division.  One group-keyed
    window pass (rank + count), no global sort.

    Returns ``(group, n, n_trimmed_each_side, trimmed_mean_e6)`` in
    value units ×1e6.
    """
    ticks = F.round(F.col(value_col) * scale).cast("long")
    w = W.partitionBy(group_col).orderBy(F.col(value_col), F.col(id_col))
    full = W.partitionBy(group_col)
    ranked = df.select(
        F.col(group_col).alias("g"),
        ticks.alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(full).alias("n"),
    ).withColumn(
        "k", F.floor(F.col("n") * trim_pct / 100).cast("long")
    )
    kept = ranked.where(
        (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k"))
    )
    return (
        kept.groupBy(F.col("g").alias(group_col), "n", "k")
        .agg(
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
            F.count("*").cast("long").alias("n_kept"),
        )
        .select(
            group_col,
            F.col("n").cast("long").alias("n"),
            F.col("k").alias("n_trimmed_each_side"),
            F.round(
                F.col("s").cast("double")
                / F.col("n_kept").cast("double")
                / F.lit(float(scale))
                * 1000000
            )
            .cast("long")
            .alias("trimmed_mean_e6"),
        )
        .orderBy(group_col)
    )


def arc_elasticity(
    df: DataFrame,
    key_col: str,
    period_col: str,
    price_col: str,
    qty_col: str,
    period_a,
    period_b,
    *,
    scale: int = 100,
) -> DataFrame:
    """Arc price elasticity of demand per key between two periods — the
    midpoint formula ``((q₂−q₁)/(q₂+q₁)) / ((p₂−p₁)/(p₂+p₁))``, the
    log-free form (no ln — portable) every pricing team starts with.
    Price per period is the quantity-weighted average unit price.

    One grouped aggregate builds the two-period cells from exact integer
    ticks; the elasticity is a fixed chain of IEEE divisions over exact
    integers, NULL where a denominator degenerates (equal prices, zero
    quantity).

    Returns ``(key, q1, q2, p1_c, p2_c, elasticity_e6)``.
    """
    ticks = F.round(F.col(price_col) * scale).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per = (
        df.where(F.col(period_col).isin(period_a, period_b))
        .select(
            F.col(key_col).alias("k"),
            (F.col(period_col) == period_b).cast("int").alias("is2"),
            F.col(qty_col).cast("long").alias("q"),
            ticks.alias("pc"),
        )
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("is2") == 0, F.col("q")).otherwise(0))
            .cast("long")
            .alias("q1"),
            F.sum(F.when(F.col("is2") == 1, F.col("q")).otherwise(0))
            .cast("long")
            .alias("q2"),
            F.sum(
                F.when(F.col("is2") == 0, dec(F.col("pc")) * dec(F.col("q")))
                .otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("pq1"),
            F.sum(
                F.when(F.col("is2") == 1, dec(F.col("pc")) * dec(F.col("q")))
                .otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("pq2"),
        )
        .where((F.col("q1") > 0) & (F.col("q2") > 0))
    )
    p1 = F.col("pq1").cast("double") / F.col("q1").cast("double")
    p2 = F.col("pq2").cast("double") / F.col("q2").cast("double")
    qrel = (F.col("q2") - F.col("q1")).cast("double") / (
        F.col("q2") + F.col("q1")
    ).cast("double")
    prel = (p2 - p1) / (p2 + p1)
    return per.select(
        F.col("k").alias(key_col),
        "q1",
        "q2",
        F.round(p1).cast("long").alias("p1_c"),
        F.round(p2).cast("long").alias("p2_c"),
        F.when(
            (p2 - p1) != 0, F.round(qrel / prel * 1000000).cast("long")
        ).alias("elasticity_e6"),
    ).orderBy(key_col)


def ridge_2f(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    y_col: str,
    *,
    lam: int = 0,
    scale: int = 100,
) -> DataFrame:
    """Two-feature ridge regression (no intercept), closed form by
    Cramer's rule on the regularized normal equations

        (XᵀX + λI) β = Xᵀy

    — the L2-shrunk companion to ``ols_fit`` (λ=0 recovers unpenalized
    least squares; λ in squared-tick units).

    Exactness: all five moment sums are exact DECIMAL(38,0) integers
    (mirrored by DuckDB HUGEINT); determinant and solutions are fixed
    double expressions over them, one division per coefficient.  One
    map-side-combined aggregate — no shuffle beyond the 1-row combine.

    Returns one row ``(n, det_ok, beta1_e6, beta2_e6)`` — coefficients
    in original (y-unit per x-unit) scale.
    """
    x1 = F.round(F.col(x1_col).cast("double") * scale).cast("long")
    x2 = F.round(F.col(x2_col).cast("double") * scale).cast("long")
    yv = F.round(F.col(y_col).cast("double") * scale).cast("long")
    base = df.select(x1.alias("x1"), x2.alias("x2"), yv.alias("y")).where(
        F.col("x1").isNotNull()
        & F.col("x2").isNotNull()
        & F.col("y").isNotNull()
    )
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mom = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d("x1") * d("x1")).cast("decimal(38,0)").alias("s11"),
        F.sum(d("x1") * d("x2")).cast("decimal(38,0)").alias("s12"),
        F.sum(d("x2") * d("x2")).cast("decimal(38,0)").alias("s22"),
        F.sum(d("x1") * d("y")).cast("decimal(38,0)").alias("s1y"),
        F.sum(d("x2") * d("y")).cast("decimal(38,0)").alias("s2y"),
    )
    a11 = F.col("s11").cast("double") + F.lit(float(lam))
    a22 = F.col("s22").cast("double") + F.lit(float(lam))
    a12 = F.col("s12").cast("double")
    b1 = F.col("s1y").cast("double")
    b2 = F.col("s2y").cast("double")
    det = a11 * a22 - a12 * a12
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (a11 * b2 - a12 * b1) / det
    return mom.select(
        "n",
        (det != 0).cast("int").alias("det_ok"),
        F.when(det != 0, F.round(beta1 * 1e6).cast("long")).alias("beta1_e6"),
        F.when(det != 0, F.round(beta2 * 1e6).cast("long")).alias("beta2_e6"),
    )


def corr_matrix(
    df: DataFrame, cols: list, *, scale: int = 100
) -> DataFrame:
    """All pairwise Pearson correlations of k numeric columns in ONE
    moment aggregate — the feature-screening matrix (k(k-1)/2 pairs
    from a single scan, never k² passes).

    Exactness: columns pre-round to integer ``scale`` ticks; all k
    first moments, k second moments, and k(k-1)/2 cross moments are
    exact DECIMAL(38,0) sums; each correlation is one fixed double
    expression (the ``market_beta`` DECIMAL/HUGEINT contract — n·Σxy
    passes 2⁶³ on ~10⁵ rows of 10⁷-tick values).  Rows with a null in
    ANY column drop (listwise deletion), so every pair shares one n.

    Returns one row per (col_a, col_b) pair, ``(col_a, col_b, n,
    corr_e6)``, pairs in input-list order.
    """
    ticks = [
        F.round(F.col(c).cast("double") * scale).cast("long").alias(f"x{i}")
        for i, c in enumerate(cols)
    ]
    d = lambda i: F.col(f"x{i}").cast("decimal(19,0)")  # noqa: E731
    aggs = [F.count("*").cast("long").alias("n")]
    for i in range(len(cols)):
        aggs.append(F.sum(f"x{i}").cast("long").alias(f"s{i}"))
        aggs.append(
            F.sum(d(i) * d(i)).cast("decimal(38,0)").alias(f"q{i}")
        )
    for i in range(len(cols)):
        for jj in range(i + 1, len(cols)):
            aggs.append(
                F.sum(d(i) * d(jj))
                .cast("decimal(38,0)")
                .alias(f"p{i}_{jj}")
            )
    mom = df.select(*ticks)
    for i in range(len(cols)):
        mom = mom.where(F.col(f"x{i}").isNotNull())
    mom = mom.agg(*aggs)
    nd = F.col("n").cast("decimal(19,0)")

    def corr(i, jj):
        si = F.col(f"s{i}").cast("decimal(19,0)")
        sj = F.col(f"s{jj}").cast("decimal(19,0)")
        num = (nd * F.col(f"p{i}_{jj}") - si * sj).cast("double")
        vi = (nd * F.col(f"q{i}") - si * si).cast("double")
        vj = (nd * F.col(f"q{jj}") - sj * sj).cast("double")
        return F.when(
            (vi > 0) & (vj > 0),
            F.round(num / (F.sqrt(vi) * F.sqrt(vj)) * 1e6).cast("long"),
        )

    stack_args = []
    for i in range(len(cols)):
        for jj in range(i + 1, len(cols)):
            stack_args += [
                F.lit(cols[i]),
                F.lit(cols[jj]),
                corr(i, jj),
            ]
    n_pairs = len(cols) * (len(cols) - 1) // 2
    pairs = mom.select(
        "n",
        F.stack(
            F.lit(n_pairs), *stack_args
        ).alias("col_a", "col_b", "corr_e6"),
    )
    return pairs.select("col_a", "col_b", "n", "corr_e6")


def overdispersion_fit(
    df: DataFrame, group_col: str, count_col: str
) -> DataFrame:
    """Per-group count-model diagnostics: mean, sample variance, the
    dispersion ratio var/mean (≈1 ⇒ Poisson; >1 ⇒ overdispersed), and
    the method-of-moments negative-binomial fit

        r = mean² / (var − mean),   p = mean / var

    — the decision table for modeling count columns (orders per
    customer, events per session) before reaching for a GLM.

    Exactness: counts are integers, so (n, Σc, Σc²) are exact bigint
    moments and every statistic is a fixed double expression; NB
    parameters are null when var ≤ mean (Poisson or under-dispersed —
    MoM undefined).

    Returns ``(group, n, mean_e6, var_e6, dispersion_e6, nb_r_e6,
    nb_p_e6)``.
    """
    c = F.col(count_col).cast("long")
    base = df.select(F.col(group_col).alias("g"), c.alias("c")).where(
        F.col("c").isNotNull() & F.col("g").isNotNull()
    )
    mom = base.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    n = F.col("n")
    mean = F.col("s").cast("double") / n.cast("double")
    var = (
        (n * F.col("q") - F.col("s") * F.col("s")).cast("double")
        / (n * (n - 1)).cast("double")
    )
    disp = var / mean
    nb_ok = (n >= 2) & (var > mean) & (mean > 0)
    r = mean * mean / (var - mean)
    p = mean / var
    return mom.select(
        F.col("g").alias(group_col),
        "n",
        F.round(mean * 1e6).cast("long").alias("mean_e6"),
        F.when(n >= 2, F.round(var * 1e6).cast("long")).alias("var_e6"),
        F.when((n >= 2) & (mean > 0), F.round(disp * 1e6).cast("long")).alias(
            "dispersion_e6"
        ),
        F.when(nb_ok, F.round(r * 1e6).cast("long")).alias("nb_r_e6"),
        F.when(nb_ok, F.round(p * 1e6).cast("long")).alias("nb_p_e6"),
    )


def kfold_regression(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    *,
    k: int = 5,
    scale: int = 100,
) -> DataFrame:
    """K-fold OLS coefficient stability: for each fold, fit the simple
    regression on the OTHER k−1 folds (leave-fold-out) — the
    cross-validation primitive, relationally:  per-fold exact DECIMAL
    moment sums, train-split moments by SUBTRACTION from the 1-row
    totals (never k passes over the data), one Cramer solve per fold.

    Fold assignment is ``id mod k`` — deterministic on any engine (a
    hash-based split would pin the fold map to one engine's hash).

    Returns ``(fold, n_train, slope_e6, intercept_e4)`` — the spread
    across folds is the stability diagnostic.
    """
    x = F.round(F.col(x_col).cast("double") * scale).cast("long")
    y = F.round(F.col(y_col).cast("double") * scale).cast("long")
    base = df.select(
        (F.col(id_col) % k).cast("int").alias("fold"),
        x.alias("x"),
        y.alias("y"),
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    per_fold = base.groupBy("fold").agg(
        F.count("*").cast("long").alias("n_f"),
        F.sum("x").cast("long").alias("sx_f"),
        F.sum("y").cast("long").alias("sy_f"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy_f"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx_f"),
    )
    totals = per_fold.agg(
        F.sum("n_f").cast("long").alias("n_t"),
        F.sum("sx_f").cast("long").alias("sx_t"),
        F.sum("sy_f").cast("long").alias("sy_t"),
        F.sum("sxy_f").cast("decimal(38,0)").alias("sxy_t"),
        F.sum("sxx_f").cast("decimal(38,0)").alias("sxx_t"),
    )
    j = per_fold.crossJoin(F.broadcast(totals))
    n = (F.col("n_t") - F.col("n_f")).cast("long")
    sx = (F.col("sx_t") - F.col("sx_f")).cast("long")
    sy = (F.col("sy_t") - F.col("sy_f")).cast("long")
    sxy = F.col("sxy_t") - F.col("sxy_f")
    sxx = F.col("sxx_t") - F.col("sxx_f")
    nd = n.cast("decimal(19,0)")
    num = (nd * sxy - sx.cast("decimal(19,0)") * sy.cast("decimal(19,0)")).cast(
        "double"
    )
    den = (nd * sxx - sx.cast("decimal(19,0)") * sx.cast("decimal(19,0)")).cast(
        "double"
    )
    slope = num / den
    intercept = (
        sy.cast("double") - num / den * sx.cast("double")
    ) / n.cast("double") / scale
    return j.select(
        "fold",
        n.alias("n_train"),
        F.when(den > 0, F.round(slope * 1e6).cast("long")).alias("slope_e6"),
        F.when(den > 0, F.round(intercept * 1e4).cast("long")).alias(
            "intercept_e4"
        ),
    )


def group_mode(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Most frequent value per group with a deterministic tie rule
    (count desc, value asc) — the categorical central tendency
    aggregate SQL engines leave out (or define with engine-specific
    ties: Spark's ``mode()`` picks arbitrarily; this one never does).

    One hash aggregate to (group, value) counts, then a 1-row-per-group
    window argmax inside the group partition.  Returns
    ``(group, mode_value, mode_count, n, share_e6)``.
    """
    cells = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .where(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = W.partitionBy("g").orderBy(F.col("c").desc(), F.col("v"))
    tot = W.partitionBy("g")
    top = (
        cells.select(
            "g",
            "v",
            "c",
            F.sum("c").over(tot).cast("long").alias("n"),
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") == 1)
    )
    return top.select(
        F.col("g").alias(group_col),
        F.col("v").alias("mode_value"),
        F.col("c").alias("mode_count"),
        "n",
        F.round(
            F.col("c").cast("double") / F.col("n").cast("double") * 1e6
        )
        .cast("long")
        .alias("share_e6"),
    )


def percentile_bands(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    qs: tuple = (10, 50, 90),
    scale: int = 100,
) -> DataFrame:
    """Per-group percentile bands by EXPLICIT selection rank — the
    ``ceil(q·n/100)``-th smallest actual value (the ``time_to_convert``
    /
    ``quantile_normalize`` contract: engine interpolation conventions
    never enter, the reported number is always a real data value).

    One ordered rank window per group partition + a per-group size
    window over the same exchange; each requested q becomes a
    conditional aggregate column.  Returns ``(group, n, p{q}_e4...)``.
    """
    _check_e4_scale(scale)
    x = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.select(F.col(group_col).alias("g"), x.alias("x")).where(
        F.col("x").isNotNull() & F.col("g").isNotNull()
    )
    w = W.partitionBy("g").orderBy("x")
    ranked = base.select(
        "g",
        "x",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(W.partitionBy("g")).cast("long").alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for q in qs:
        k = F.expr(f"(n * {q} + 99) div 100")
        aggs.append(
            (
                F.max(F.when(F.col("rk") == k, F.col("x")))
                * (10000 // scale)
            )
            .cast("long")
            .alias(f"p{q}_e4")
        )
    return ranked.groupBy("g").agg(*aggs).select(
        F.col("g").alias(group_col), "n", *[f"p{q}_e4" for q in qs]
    )


def abc_xyz(
    df: DataFrame,
    item_col: str,
    period_col: str,
    value_col: str,
    *,
    scale: int = 100,
    a_cut_e6: int = 800000,
    b_cut_e6: int = 950000,
    x_cut_e6: int = 500000,
    y_cut_e6: int = 1000000,
) -> DataFrame:
    """ABC–XYZ inventory classification: ABC by cumulative revenue share
    (A ≤ 80%, B ≤ 95%, C above) and XYZ by demand variability
    (coefficient of variation across periods: X < 0.5, Y < 1.0, Z
    above) — the 9-cell planning matrix.

    Scale shape: the revenue ranking never sorts in one task — the
    cumulative share comes from ``partitioned_cumsum`` over
    ``(−revenue, item)`` (range partition + offsets).  CV uses exact
    DECIMAL per-period moments; all class cuts are INTEGER e6
    comparisons (no float thresholds).

    Returns ``(item, revenue, cum_share_e6, abc, cv_e6, xyz, klass)``.
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    v = F.round(F.col(value_col).cast("double") * scale).cast("long")
    cells = (
        df.select(
            F.col(item_col).alias("i"),
            F.col(period_col).alias("t"),
            v.alias("v"),
        )
        .where(F.col("v").isNotNull())
        .groupBy("i", "t")
        .agg(F.sum("v").alias("v"))
    )
    vd = F.col("v").cast("decimal(19,0)")
    per_item = cells.groupBy("i").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("v").cast("long").alias("rev"),
        F.sum(vd * vd).cast("decimal(38,0)").alias("q"),
    )
    keyed = per_item.select(
        "i", "m", "rev", "q", (-F.col("rev")).alias("neg_rev")
    )
    # revenue total from the cumsum's own per-partition-totals collect
    # (r11, guide §2.1/§5.3) — no second aggregate pass + broadcast
    gt: dict = {}
    cum = partitioned_cumsum(keyed, ["neg_rev", "i"], ["rev"], grand_totals=gt)
    scored = cum
    share = F.round(
        F.col("cum_rev").cast("double") / float(int(gt["rev"])) * 1e6
    ).cast("long")
    m = F.col("m")
    mean = F.col("rev").cast("double") / m.cast("double")
    md = m.cast("decimal(19,0)")
    revd = F.col("rev").cast("decimal(19,0)")
    sd = F.sqrt(
        (md * F.col("q") - revd * revd).cast("double")
        / (m * (m - 1)).cast("double")
    )
    cv = F.when((m >= 2) & (mean > 0), F.round(sd / mean * 1e6).cast("long"))
    out = scored.select(
        F.col("i").alias(item_col),
        F.col("rev").alias("revenue"),
        share.alias("cum_share_e6"),
        F.when(share <= a_cut_e6, "A")
        .when(share <= b_cut_e6, "B")
        .otherwise("C")
        .alias("abc"),
        cv.alias("cv_e6"),
        F.when(cv.isNull(), "Z")
        .when(cv < x_cut_e6, "X")
        .when(cv < y_cut_e6, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return out.select(
        "*", F.concat("abc", "xyz").alias("klass")
    )


def kish_ess(
    df: DataFrame, group_col: str, weight_col: str, *, scale: int = 100
) -> DataFrame:
    """Kish effective sample size of a weighted set per group:

        ESS = (Σw)² / Σw²,   deff = n / ESS

    — the one-number answer to "how much did weighting cost me?"
    (importance weights, survey weights, propensity weights).

    Weights pre-round to integer ``scale`` units; both sums are exact
    (DECIMAL second moment); ESS and the design effect are fixed double
    expressions.  Returns ``(group, n, ess_e2, deff_e6)``.
    """
    w = F.round(F.col(weight_col).cast("double") * scale).cast("long")
    base = df.select(F.col(group_col).alias("g"), w.alias("w")).where(
        F.col("w").isNotNull() & (F.col("w") > 0)
    )
    wd = F.col("w").cast("decimal(19,0)")
    agg = base.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("w").cast("long").alias("s"),
        F.sum(wd * wd).cast("decimal(38,0)").alias("q"),
    )
    ess = (
        F.col("s").cast("double") * F.col("s").cast("double")
    ) / F.col("q").cast("double")
    return agg.select(
        F.col("g").alias(group_col),
        "n",
        F.round(ess * 100).cast("long").alias("ess_e2"),
        F.round(F.col("n").cast("double") / ess * 1e6)
        .cast("long")
        .alias("deff_e6"),
    )


def theil_index(
    df: DataFrame, group_col: str, value_col: str, *, scale: int = 100
) -> DataFrame:
    """Theil T inequality index with its exact between/within-group
    decomposition (the property Gini lacks):

        T = Σᵢ (xᵢ/X)·ln(n·xᵢ/X) = T_between + Σ_g (X_g/X)·T_g

    — how much inequality lives BETWEEN segments vs INSIDE them.

    Exactness: values pre-round to integer ticks; every ln argument is
    a ratio of exact integers and every term pre-rounds to integer
    nanonats (the ``mutual_information`` contract), so all three
    reported indices are order-free integer sums (one division each at
    the end).  Non-positive values drop (Theil is defined on x > 0).

    Returns one row ``(n, n_groups, t_total_e9, t_between_e9,
    t_within_e9)`` — total = between + within to the rounding unit.
    """
    x = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.select(F.col(group_col).alias("g"), x.alias("x")).where(
        F.col("x").isNotNull() & (F.col("x") > 0) & F.col("g").isNotNull()
    )
    # r11 (guide §2.4/§5): base feeds THREE term passes and gtot/tot feed
    # every one of them — unmaterialized, the upstream (a join in the
    # contract query) executed 8× (16 scans, 28 Exchanges, 6 BNLJ in
    # the before-plan).  Materialize the 2-column projection once (the
    # logistic/recs_eval pattern), the group table once (bounded by the
    # group cardinality), and fold the 1-row totals into plan literals
    # (the conformal pattern) — same longs through the same arithmetic,
    # bit-identical terms.
    base = base.localCheckpoint(eager=True)
    gtot = base.groupBy("g").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("x_g"),
    ).localCheckpoint(eager=True)
    trow = gtot.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("x_g").cast("long").alias("x_tot"),
        F.count("*").cast("long").alias("n_groups"),
    ).first()
    tot_lit = {
        "n": F.lit(trow["n"]).cast("long"),
        "x_tot": F.lit(trow["x_tot"]).cast("long"),
        "n_groups": F.lit(trow["n_groups"]).cast("long"),
    }

    def tot(name):  # literal stand-in for the former crossJoin(broadcast)
        return tot_lit[name]

    # total: per-row terms against the global mean
    rows_t = base.select(
        F.round(
            F.col("x").cast("double")
            / tot("x_tot").cast("double")
            * F.log(
                tot("n").cast("double")
                * F.col("x").cast("double")
                / tot("x_tot").cast("double")
            )
            * 1e9
        )
        .cast("long")
        .alias("t")
    )
    t_total = rows_t.agg(F.sum("t").cast("long").alias("t_total_e9"))
    # between: group shares vs group population shares
    between_t = gtot.select(
        F.round(
            F.col("x_g").cast("double")
            / tot("x_tot").cast("double")
            * F.log(
                (
                    F.col("x_g").cast("double")
                    / tot("x_tot").cast("double")
                )
                / (
                    F.col("n_g").cast("double")
                    / tot("n").cast("double")
                )
            )
            * 1e9
        )
        .cast("long")
        .alias("t")
    )
    t_between = between_t.agg(F.sum("t").cast("long").alias("t_between_e9"))
    # within: per-row terms against the OWN group mean, share-weighted
    within_rows = base.join(F.broadcast(gtot), "g").select(
        F.round(
            (
                F.col("x_g").cast("double")
                / tot("x_tot").cast("double")
            )
            * (
                F.col("x").cast("double")
                / F.col("x_g").cast("double")
                * F.log(
                    F.col("n_g").cast("double")
                    * F.col("x").cast("double")
                    / F.col("x_g").cast("double")
                )
            )
            * 1e9
        )
        .cast("long")
        .alias("t")
    )
    t_within = within_rows.agg(F.sum("t").cast("long").alias("t_within_e9"))
    return (
        t_total.crossJoin(F.broadcast(t_between))
        .crossJoin(F.broadcast(t_within))
        .select(
            tot("n").alias("n"),
            tot("n_groups").alias("n_groups"),
            "t_total_e9",
            "t_between_e9",
            "t_within_e9",
        )
    )

