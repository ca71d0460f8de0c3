"""Hypothesis tests and contingency-table statistics as aggregates.

Chi-square / Welch t / rank tests / agreement measures / divergences —
each computed as pure grouped-aggregate arithmetic (no SciPy, no
sampling); outputs are statistics (+ df), p-values belong to the
caller's stats library.  The distributed part is the counting.

Split out of ``stats.py`` in round 9 (VERDICT r8 item 8): the module had
grown to ~6,000 lines.  Public API is unchanged — ``stats.py`` re-exports
everything, so ``from smartpy_arc_spark.operators.stats import X`` keeps
working for every operator.  Design notes live on each function.

EAGER-CONSTRUCTION CONTRACT (ADVICE r11): operators in this module that
materialize bounded intermediates via ``localCheckpoint(eager=True)``
(chi-square cells, kendall grids, agreement tables, …) run Spark jobs
AT CONSTRUCTION TIME — calling the function executes the counting
passes, input errors surface immediately rather than at the caller's
action, and filters composed on the returned frame no longer push past
the materialized aggregate.  Do not construct these speculatively; the
returned frame is small (bounded cells), so the lost pushdown is the
already-aggregated table, never the input scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from smartpy_arc_spark.operators._ckpt import sized_local_checkpoint
from smartpy_arc_spark.operators._stats_common import _check_e4_scale


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square statistic for independence of two categorical
    columns.  Returns one row ``(chi2 rounded to 4, dof, n)``.

    Cells and margins are hash aggregates over the (bounded) category
    key spaces; expected counts come from broadcast margins, so the
    detail table is read exactly once.

    The cell table is materialized once (bounded by |A|·|B|): it feeds
    both margins, the total, the scored join AND the two driver-side
    dof counts — without the checkpoint each consumer re-executes the
    full detail aggregate (r11, guide §2.4).
    """
    cells = df.groupBy(col_a, col_b).agg(
        F.count("*").alias("o")
    ).localCheckpoint(eager=True)
    ra = cells.groupBy(col_a).agg(F.sum("o").alias("ra"))
    rb = cells.groupBy(col_b).agg(F.sum("o").alias("rb"))
    n = cells.agg(F.sum("o").alias("n"))
    scored = (
        cells.join(F.broadcast(ra), col_a)
        .join(F.broadcast(rb), col_b)
        .crossJoin(F.broadcast(n))
        .withColumn("e", F.col("ra") * F.col("rb") / F.col("n"))
        .withColumn(
            "cell_chi2",
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"),
        )
    )
    ka = ra.count()
    kb = rb.count()
    return scored.agg(
        (F.round(F.sum("cell_chi2"), 4) + F.lit(0.0)).alias("chi2"),
        F.lit((ka - 1) * (kb - 1)).cast("long").alias("dof"),
        F.max("n").cast("long").alias("n"),
    )


def welch_t_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance t statistic between two cohorts.

    Returns one row ``(mean_a, mean_b, t_stat, dof)`` — means rounded to
    4, t to 4, Welch–Satterthwaite dof to 2.  One grouped aggregate
    (count / mean / sample variance per cohort), then a 2-row combine.
    """
    stats = (
        df.where(F.col(group_col).isin(group_a, group_b))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("double").alias("n"),
            F.avg(value_col).alias("m"),
            F.var_samp(value_col).alias("v"),
        )
    )
    a = stats.where(F.col(group_col) == group_a).select(
        F.col("n").alias("na"), F.col("m").alias("ma"), F.col("v").alias("va")
    )
    b = stats.where(F.col(group_col) == group_b).select(
        F.col("n").alias("nb"), F.col("m").alias("mb"), F.col("v").alias("vb")
    )
    j = a.crossJoin(b)
    se2a = F.col("va") / F.col("na")
    se2b = F.col("vb") / F.col("nb")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(se2a + se2b)
    dof = (
        (se2a + se2b) * (se2a + se2b)
        / (
            se2a * se2a / (F.col("na") - 1)
            + se2b * se2b / (F.col("nb") - 1)
        )
    )
    return j.select(
        (F.round(F.col("ma"), 4) + F.lit(0.0)).alias("mean_a"),
        (F.round(F.col("mb"), 4) + F.lit(0.0)).alias("mean_b"),
        (F.round(t, 4) + F.lit(0.0)).alias("t_stat"),
        (F.round(dof, 2) + F.lit(0.0)).alias("dof"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between two cohorts, with the
    normal approximation's z including the tie correction.

    Ranking never sorts in one task: values are first collapsed to the
    per-distinct-value contingency (value -> count_a, count_b), then the
    global cumulative counts come from ``partitioned_cumsum`` (range
    partition + per-partition window + broadcast offsets).  Rank sums are
    kept in INTEGER space (doubled ranks, so tied .5 averages stay exact):
    ``u2 = 2*U_a`` is exact at any scale; only the final z touches floats.

    Returns one row ``(n_a, n_b, u2_a, z_e6)`` — ``z_e6`` is z scaled to
    integer millionths (bit-stable across engines; ln/sqrt ulp drift never
    survives integer scaling).
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    vals = (
        df.where(F.col(group_col).isin(group_a, group_b))
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.count(F.when(F.col(group_col) == group_a, 1)).alias("na_v"),
            F.count(F.when(F.col(group_col) == group_b, 1)).alias("nb_v"),
        )
        .withColumn("n_v", F.col("na_v") + F.col("nb_v"))
    )
    cum = partitioned_cumsum(vals, ["v"], ["n_v"], inclusive=False)
    # doubled average rank of value v: 2*cum_before + n_v + 1 (integer)
    agg = cum.agg(
        F.sum("na_v").cast("long").alias("n_a"),
        F.sum("nb_v").cast("long").alias("n_b"),
        F.sum(F.col("na_v") * (2 * F.col("cum_n_v").cast("long") + F.col("n_v") + 1))
        .cast("long")
        .alias("r2_a"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("long")
        .alias("tie_term"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    u2 = F.col("r2_a") - na * (na + 1)  # 2 * U_a, exact integer
    # z = (U - na*nb/2) / sqrt(na*nb/12 * (n+1 - T/(n*(n-1))))
    tie_frac = F.when(
        n > 1,
        F.col("tie_term").cast("double") / (n * (n - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    var = (na * nb).cast("double") / 12.0 * ((n + 1).cast("double") - tie_frac)
    # all-tied degenerate sample: variance 0 → z undefined (NULL), not a
    # DIVIDE_BY_ZERO under ANSI mode
    z = F.when(
        var > 0,
        (u2.cast("double") - (na * nb).cast("double"))
        / (F.lit(2.0) * F.sqrt(var)),
    )
    return agg.select(
        "n_a",
        "n_b",
        u2.alias("u2_a"),
        F.round(z * 1000000).cast("long").alias("z_e6"),
    )


def ks_test_2samp(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic ``D = sup |F_a - F_b|``.

    Same distributed-CDF shape as ``mann_whitney_u``: collapse to
    distinct values, global cumulative counts via ``partitioned_cumsum``.
    D is kept exact as the integer numerator over the common denominator
    ``n_a * n_b``:  ``d_num = max |cum_a*n_b - cum_b*n_a|`` — the only
    float emitted is the final exact-integer division.

    Returns one row ``(n_a, n_b, d_num, d)``.
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    vals = (
        df.where(F.col(group_col).isin(group_a, group_b))
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.count(F.when(F.col(group_col) == group_a, 1)).alias("na_v"),
            F.count(F.when(F.col(group_col) == group_b, 1)).alias("nb_v"),
        )
    )
    # group totals come from the cumsum's per-partition-totals collect —
    # no separate agg job + broadcast (r11, guide §2.1/§5.3)
    gt: dict = {}
    cum = partitioned_cumsum(
        vals, ["v"], ["na_v", "nb_v"], grand_totals=gt
    )
    scored = cum.withColumns(
        {
            "n_a": F.lit(int(gt["na_v"])).cast("long"),
            "n_b": F.lit(int(gt["nb_v"])).cast("long"),
        }
    ).select(
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_na_v").cast("long") * F.col("n_b")
            - F.col("cum_nb_v").cast("long") * F.col("n_a")
        ).alias("num"),
    )
    return scored.groupBy("n_a", "n_b").agg(
        F.max("num").alias("d_num")
    ).select(
        "n_a",
        "n_b",
        "d_num",
        (F.col("d_num").cast("double") / (F.col("n_a") * F.col("n_b")).cast("double"))
        .alias("d"),
    )


def spearman_corr(
    df: DataFrame, col_x: str, col_y: str
) -> DataFrame:
    """Spearman rank correlation between two numeric columns, with
    average (fractional) ranks for ties — the textbook definition, not
    the no-ties shortcut.

    Distributed shape: the detail table is scanned ONCE into the joint
    (x, y) contingency; each marginal is ranked WITHOUT a global sort via
    ``partitioned_cumsum`` (range partition + broadcast offsets), exactly
    like ``mann_whitney_u``.  Doubled ranks (``2*cum_before + n_v + 1``)
    keep tied ``.5`` averages in integer space; Pearson's moments are
    then cell-weighted sums over the contingency (``Σ n·r2x·r2y`` etc.)
    — every shuffled row after the first aggregate is a DISTINCT VALUE,
    never a detail row.  Only the final 1-row combine touches doubles.

    Returns one row ``(n, rho_e6)`` — rho scaled to integer millionths
    (bit-stable across engines).
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    cells = (
        df.select(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )

    def doubled_ranks(col: str) -> DataFrame:
        vals = cells.groupBy(F.col(col).alias("v")).agg(
            F.sum("n").alias("n_v")
        )
        cum = partitioned_cumsum(vals, ["v"], ["n_v"], inclusive=False)
        return cum.select(
            F.col("v").alias(col),
            (2 * F.col("cum_n_v").cast("long") + F.col("n_v") + 1).alias(
                f"r2_{col}"
            ),
        )

    ranked = cells.join(doubled_ranks("x"), "x").join(doubled_ranks("y"), "y")
    nd = F.col("n").cast("decimal(38,0)")
    # cast ranks to DECIMAL BEFORE multiplying: doubled ranks reach 2N,
    # so a long×long rank product overflows past ~2e9 detail rows
    rx = F.col("r2_x").cast("decimal(38,0)")
    ry = F.col("r2_y").cast("decimal(38,0)")
    agg = ranked.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum(nd * rx).cast("decimal(38,0)").alias("sx"),
        F.sum(nd * ry).cast("decimal(38,0)").alias("sy"),
        F.sum(nd * rx * ry).cast("decimal(38,0)").alias("sxy"),
        F.sum(nd * rx * rx).cast("decimal(38,0)").alias("sxx"),
        F.sum(nd * ry * ry).cast("decimal(38,0)").alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    rho = F.when(
        (vx > 0) & (vy > 0), cov / F.sqrt(vx) / F.sqrt(vy)
    )
    return agg.select(
        "n", F.round(rho * 1000000).cast("long").alias("rho_e6")
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str, scale: int = 100
) -> DataFrame:
    """One-way ANOVA F statistic across the groups of ``group_col``.

    Values are fixed-point-scaled to integers (``scale`` ticks per unit,
    default cents) so the grouped sums and sums-of-squares are EXACT
    DECIMAL(38,0) aggregates — the classic
    ``F = (SSB/(k-1)) / (SSW/(n-k))`` decomposition then runs in one
    deterministic 1-row combine over the (bounded, sorted) per-group sum
    array, so the float expression shape is identical on any engine.

    One scan, one hash aggregate on a bounded key space.  Returns one row
    ``(k, n, f_e6)``.
    """
    ticks = F.round(F.col(value_col) * scale).cast("long")
    per_group = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count("*").cast("long").alias("ng"),
            F.sum(ticks.cast("decimal(38,0)")).alias("sg"),
            F.sum((ticks * ticks).cast("decimal(38,0)")).alias("sqg"),
        )
    )
    # Σ sg²/ng folded over the group array in sorted-key order: the
    # divide-then-add sequence is identical in any engine (no FMA shape).
    combined = per_group.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("sqg").alias("sq"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("g", "sg", "ng"))
            ),
            F.lit(0.0),
            lambda acc, t: acc
            + (t["sg"].cast("double") * t["sg"].cast("double"))
            / t["ng"].cast("double"),
        ).alias("sum_sg2_over_ng"),
    )
    n = F.col("n").cast("double")
    ssb = F.col("sum_sg2_over_ng") - (
        F.col("s").cast("double") * F.col("s").cast("double")
    ) / n
    ssw = F.col("sq").cast("double") - F.col("sum_sg2_over_ng")
    k = F.col("k")
    f_stat = F.when(
        (k > 1) & (F.col("n") > k) & (ssw > 0),
        (ssb / (k - 1).cast("double"))
        / (ssw / (F.col("n") - k).cast("double")),
    )
    return combined.select(
        "k",
        F.col("n").cast("long").alias("n"),
        F.round(f_stat * 1000000).cast("long").alias("f_e6"),
    )


def proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col,
    group_a,
    group_b,
) -> DataFrame:
    """Two-proportion z test (pooled standard error) between two cohorts.

    ``success_col`` is a boolean Column (or column name) marking a
    success.  One grouped aggregate produces the four exact counts; the z
    combine is a single deterministic 1-row float expression.  The
    workhorse of A/B conversion readouts and sample-ratio-mismatch
    checks.  Returns one row
    ``(n_a, n_b, successes_a, successes_b, z_e6)``.
    """
    success = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    )
    stats = (
        df.where(F.col(group_col).isin(group_a, group_b))
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(success, 1).otherwise(0)).cast("long").alias("s"),
        )
    )
    a = stats.where(F.col("g") == group_a).select(
        F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    b = stats.where(F.col("g") == group_b).select(
        F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    j = a.crossJoin(b)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    p1 = F.col("s_a").cast("double") / na
    p2 = F.col("s_b").cast("double") / nb
    pool = (F.col("s_a") + F.col("s_b")).cast("double") / (na + nb)
    se = F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = F.when(se > 0, (p1 - p2) / se)
    return j.select(
        "n_a",
        "n_b",
        F.col("s_a").alias("successes_a"),
        F.col("s_b").alias("successes_b"),
        F.round(z * 1000000).cast("long").alias("z_e6"),
    )


def kendall_tau_b(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Kendall rank correlation τ-b (tie-corrected) WITHOUT touching
    pairs: the classic O(n²) concordant/discordant count collapses onto
    the (x, y) contingency grid, where 2D prefix sums answer "how many
    points are strictly above-left / above-right of this cell" — so the
    whole statistic is one grid densification plus per-axis window
    cumsums.

    Bounded-cardinality tier (documented, like ``chi_square``): the
    dense grid is |X|·|Y| cells — meant for discrete/bucketed columns;
    pre-bucket continuous data first.  Detail rows are scanned once
    (one hash aggregate); every window partitions by one grid axis, and
    the only global 1D cumsum (per-x totals) runs through
    ``partitioned_cumsum``.  Pair counts stay in DECIMAL(38,0)
    (concordant ≤ N²/2 overflows a long past ~4.3e9 rows).

    Returns one row ``(n, conc_pairs, disc_pairs, tau_e6)``.
    """
    from pyspark.sql import Window

    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    # the detail aggregate feeds both axis-domain distincts and the
    # densification join — materialize once (bounded |X|·|Y|; r11 §2.4),
    # SERIALIZED (ADVICE r11): high-cardinality inputs that ignore the
    # pre-bucket guidance should pin Tungsten bytes, not object graphs
    cells = sized_local_checkpoint(
        df.select(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
    )
    gx = cells.select("x").distinct()
    gy = cells.select("y").distinct()
    dense = (
        gx.crossJoin(F.broadcast(gy))
        .join(cells, ["x", "y"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)).cast("long"))
    )
    wy = Window.partitionBy("x").orderBy("y")
    wx = Window.partitionBy("y").orderBy("x")
    # the windowed grid feeds the per-x totals, the scored join and the
    # per-y tie totals — materialize once (bounded |X|·|Y|; r11 §2.4),
    # serialized like `cells` above (this is the larger of the two)
    dense = sized_local_checkpoint(
        dense.withColumn("rowcum", F.sum("n").over(wy))
        .withColumn("colcum", F.sum("n").over(wx))
        .withColumn("p_incl", F.sum("rowcum").over(wx))
    )
    xtot = dense.groupBy("x").agg(F.max("rowcum").alias("t"))
    xcum = partitioned_cumsum(xtot, ["x"], ["t"]).select(
        "x", (F.col("cum_t") - F.col("t")).alias("x_lt")
    )
    scored = dense.join(xcum, "x").select(
        "n",
        # strictly above-left: x' < x and y' < y
        (F.col("p_incl") - F.col("rowcum") - F.col("colcum") + F.col("n"))
        .alias("p_excl"),
        # strictly above-right: x' < x and y' > y
        (F.col("x_lt") - (F.col("p_incl") - F.col("rowcum"))).alias("q"),
    )
    ties_x = xtot.agg(
        F.sum(
            (F.col("t").cast("decimal(38,0)") * (F.col("t") - 1)) / 2
        ).cast("decimal(38,0)").alias("n1")
    )
    ytot = dense.groupBy("y").agg(F.sum("n").alias("t"))
    ties_y = ytot.agg(
        F.sum(
            (F.col("t").cast("decimal(38,0)") * (F.col("t") - 1)) / 2
        ).cast("decimal(38,0)").alias("n2")
    )
    agg = scored.agg(
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("p_excl")).alias("c"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("q")).alias("d"),
    )
    j = agg.crossJoin(F.broadcast(ties_x)).crossJoin(F.broadcast(ties_y))
    n0 = (F.col("nn") * (F.col("nn") - 1) / 2).cast("decimal(38,0)")
    tau = (
        (F.col("c") - F.col("d")).cast("double")
        / F.sqrt((n0 - F.col("n1")).cast("double"))
        / F.sqrt((n0 - F.col("n2")).cast("double"))
    )
    return j.select(
        F.col("nn").cast("long").alias("n"),
        F.col("c").cast("long").alias("conc_pairs"),
        F.col("d").cast("long").alias("disc_pairs"),
        F.round(tau * 1000000).cast("long").alias("tau_e6"),
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information I(A;B) between two categorical columns in nats
    — the feature-selection/dependence score chi-square doesn't give
    (MI is 0 iff independent AND scales with the strength of the
    association).

    Same contingency shape as ``chi_square_independence``: one hash
    aggregate to cells, broadcast margins back, then
    ``Σ (n_ab/N)·ln(N·n_ab/(n_a·n_b))`` summed per-cell with each term
    pre-rounded to integer nanonats so the final sum is an order-free
    integer aggregate (the engine-portability pattern of
    ``rake_keywords``).

    Returns one row ``(n, n_cells, mi_e9)``.

    The cell table is materialized once (bounded by |A|·|B|, the
    cohens_kappa discipline): it feeds both margins, the total and the
    scored join — without the checkpoint each of the four consumers
    re-executes the full detail aggregate (r11, guide §2.4).
    """
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").alias("nab"))
        .localCheckpoint(eager=True)
    )
    ma = cells.groupBy("a").agg(F.sum("nab").alias("na"))
    mb = cells.groupBy("b").agg(F.sum("nab").alias("nb"))
    tot = cells.agg(F.sum("nab").cast("long").alias("n"))
    term = (
        F.col("nab").cast("double")
        / F.col("n").cast("double")
        * F.log(
            F.col("n").cast("double")
            * F.col("nab").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
        )
    )
    scored = (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            F.round(term * 1e9).cast("long").alias("term_e9"),
        )
    )
    return scored.groupBy("n").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("term_e9").cast("long").alias("mi_e9"),
    )


def cohens_kappa(
    df: DataFrame, rater_a_col: str, rater_b_col: str
) -> DataFrame:
    """Cohen's kappa — agreement between two labelers corrected for
    chance: ``κ = (p_o − p_e)/(1 − p_e)`` with observed agreement
    ``p_o`` and the chance agreement ``p_e`` from the raters' marginal
    distributions.  The standard QA statistic for double-annotated
    training data (raw percent-agreement flatters skewed label sets).

    One contingency aggregate + broadcast marginals — chi-square's
    shape; all counts exact, one float combine.  Returns one row
    ``(n, n_agree, po_e6, pe_e6, kappa_e6)``.

    The contingency table is materialized once (bounded by the label
    vocabulary squared): it feeds THREE consumers (both marginals and
    the agreement aggregate), and without the checkpoint each one
    re-executes the full upstream (r11: the contract query's
    lang-id + join subtree appeared 3× in the plan).
    """
    cells = (
        df.select(F.col(rater_a_col).alias("a"), F.col(rater_b_col).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    ma = cells.groupBy("a").agg(F.sum("c").alias("na"))
    mb = cells.groupBy("b").agg(F.sum("c").alias("nb"))
    agg = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    pe_num = (
        ma.join(mb, ma["a"] == mb["b"])
        .agg(
            F.sum(F.col("na").cast("decimal(38,0)") * F.col("nb")).alias(
                "pe_num"
            )
        )
    )
    j = agg.crossJoin(F.broadcast(pe_num))
    n = F.col("n").cast("double")
    po = F.col("n_agree").cast("double") / n
    pe = F.col("pe_num").cast("double") / (n * n)
    kappa = F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
    e6 = lambda c: F.round(c * 1000000).cast("long")  # noqa: E731
    return j.select(
        "n",
        "n_agree",
        e6(po).alias("po_e6"),
        e6(pe).alias("pe_e6"),
        e6(kappa).alias("kappa_e6"),
    )


def srm_check(
    df: DataFrame,
    unit_col: str,
    treat_col: str,
    *,
    chi2_crit_e6: int = 3_841_459,
) -> DataFrame:
    """Sample-ratio-mismatch guard for a 50/50 experiment — the first
    thing to check before reading ANY result: with an even split
    expected, the 1-df chi-square reduces to the exact rational
    ``(n_t − n_c)² / n``, so the statistic is one integer division and
    the flag compares against the 0.05 critical value (3.841…, inlined
    as an e6 literal).

    Returns one row ``(n_t, n_c, chi2_e6, srm_detected)``.
    """
    units = df.select(
        F.col(unit_col).alias("u"), F.col(treat_col).cast("int").alias("t")
    ).distinct()
    agg = units.agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_t"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_c"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    diff = dec(F.col("n_t")) - dec(F.col("n_c"))
    n = dec(F.col("n_t")) + dec(F.col("n_c"))
    chi2 = F.round(
        (diff * diff * 1000000).cast("double") / n.cast("double")
    ).cast("long")
    return agg.select(
        "n_t",
        "n_c",
        chi2.alias("chi2_e6"),
        (chi2 > chi2_crit_e6).cast("int").alias("srm_detected"),
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Kruskal–Wallis H (one-way ANOVA on ranks, k ≥ 2 groups) with the
    tie correction — the distribution-free companion to
    :func:`anova_oneway`, generalizing :func:`mann_whitney_u`.

    Ranking never sorts in one task (the mann_whitney contract): values
    collapse to the distinct-value table, global exclusive cumulative
    counts come from ``partitioned_cumsum``, and each group's DOUBLED
    rank sum ``R2_g = Σ_v n_gv·(2·cum_v + n_v + 1)`` stays in exact
    integer space.  Per-group terms ``R2_g²/(4·n_g)`` pre-round to
    integer e6 (DECIMAL square → one division) so the cross-group sum
    is order-free; H and the tie-corrected H' are then fixed double
    expressions over exact integers.

    Returns one row ``(n, k_groups, h_e6, h_adj_e6)``.
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    base = df.select(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).where(F.col("v").isNotNull() & F.col("g").isNotNull())
    # ONE detail pass (r11, guide §2.1): the former shape aggregated the
    # detail table twice (per-v for ranks, per-(g,v) for cells) and a
    # third time for the tie term; the per-v counts now roll up from the
    # materialized per-(g,v) cells (count per v ≡ Σ_g count per (g,v))
    # and the tie term reads the cumsum's materialized output
    cells0 = (
        base.groupBy("g", "v")
        .agg(F.count("*").alias("n_gv"))
        .localCheckpoint(eager=True)
    )
    vals = cells0.groupBy("v").agg(F.sum("n_gv").alias("n_v"))
    cum = partitioned_cumsum(vals, ["v"], ["n_v"], inclusive=False)
    d2 = 2 * F.col("cum_n_v").cast("long") + F.col("n_v") + 1
    cells = cells0.join(cum.select("v", d2.alias("d2"), "n_v"), "v")
    per_g = cells.groupBy("g").agg(
        F.sum("n_gv").cast("long").alias("n_g"),
        F.sum(F.col("n_gv") * F.col("d2")).cast("long").alias("r2"),
    )
    r2d = F.col("r2").cast("decimal(19,0)")
    # term values reach ~1e17 rank-units² at 10⁵ rows — pre-round to the
    # nearest INTEGER (relative error ~1e-17, far below the e6 output
    # precision) and carry them in DECIMAL(38,0), not int64
    term = F.round(
        (r2d * r2d).cast("double")
        / F.col("n_g").cast("double")
        / 4
    ).cast("decimal(38,0)")
    ties = cum.agg(
        F.sum(
            F.col("n_v").cast("long") * F.col("n_v") * F.col("n_v")
            - F.col("n_v")
        )
        .cast("long")
        .alias("tie_term")
    )
    combined = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum(term).cast("decimal(38,0)").alias("t_sum"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n")
    h = (
        F.lit(12.0)
        * F.col("t_sum").cast("double")
        / (n * (n + 1)).cast("double")
        - F.lit(3.0) * (n + 1).cast("double")
    )
    c = F.lit(1.0) - F.col("tie_term").cast("double") / (
        n * n * n - n
    ).cast("double")
    return combined.select(
        "n",
        "k_groups",
        F.round(h * 1e6).cast("long").alias("h_e6"),
        F.when(c > 0, F.round(h / c * 1e6).cast("long")).alias("h_adj_e6"),
    )


def levene_bf(
    df: DataFrame, group_col: str, value_col: str, *, scale: int = 100
) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test of equal variances
    across k groups — the robust gate before trusting a pooled-variance
    ANOVA/t-test:

        W = ((N−k)/(k−1)) · SSB_z / SSW_z,   z_ij = |y_ij − med_j|

    Exactness: y pre-rounds to integer ``scale`` units; each group's
    median is an EXPLICIT order statistic (the lower median, rank
    ``(n+1) div 2`` — engine-selection conventions differ, an explicit
    integer rank rule does not, the ``quantile_normalize`` contract);
    z is then an exact integer, per-group ``Z1_g²/n_g`` terms pre-round
    to e6 (order-free integer sum), and W is one fixed double
    expression.  Second moments run in DECIMAL(38,0) (Σz² passes 2⁶³
    at ~10⁵ rows of 10⁷-unit deviations).

    Returns one row ``(n, k_groups, w_e6)``.
    """
    y = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.select(F.col(group_col).alias("g"), y.alias("y")).where(
        F.col("y").isNotNull() & F.col("g").isNotNull()
    )
    w_rank = W.partitionBy("g").orderBy("y")
    ranked = base.select(
        "g", "y", F.row_number().over(w_rank).alias("rk")
    )
    sizes = base.groupBy("g").agg(F.count("*").alias("n_g"))
    med = (
        ranked.join(F.broadcast(sizes), "g")
        .where(F.col("rk") == F.expr("(n_g + 1) div 2"))
        .select("g", F.col("y").alias("med"))
    )
    zed = base.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("y") - F.col("med")).alias("z")
    )
    zd = F.col("z").cast("decimal(19,0)")
    per_g = zed.groupBy("g").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("z").cast("long").alias("z1"),
        F.sum(zd * zd).cast("decimal(38,0)").alias("z2"),
    )
    z1d = F.col("z1").cast("decimal(19,0)")
    # Z1²/n reaches ~1e16 scaled-units² — integer pre-round in
    # DECIMAL(38,0) (see kruskal_wallis)
    term = F.round(
        (z1d * z1d).cast("double") / F.col("n_g").cast("double")
    ).cast("decimal(38,0)")
    combined = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum("z1").cast("long").alias("z1t"),
        F.sum("z2").cast("decimal(38,0)").alias("z2t"),
        F.sum(term).cast("decimal(38,0)").alias("t_sum"),
    )
    n, k = F.col("n"), F.col("k_groups")
    t = F.col("t_sum").cast("double")
    # the per-group integer pre-round leaves ±k/2 absolute slack in SSB
    # (negligible against real ~1e16 magnitudes, but it can push a true
    # zero slightly negative) — clamp at 0 on both engines
    ssb = F.greatest(
        t
        - (F.col("z1t").cast("double") * F.col("z1t").cast("double"))
        / n.cast("double"),
        F.lit(0.0),
    )
    ssw = F.col("z2t").cast("double") - t
    w_stat = (
        (n - k).cast("double") * ssb / ((k - 1).cast("double") * ssw)
    )
    return combined.select(
        "n",
        "k_groups",
        F.when((k > 1) & (ssw > 0), F.round(w_stat * 1e6).cast("long")).alias(
            "w_e6"
        ),
    )


def runs_test(
    df: DataFrame, ts_col: str, value_col: str, *, scale: int = 100
) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of a series around its
    median — detects trend/oscillation a mean-based monitor misses.

    The series dichotomizes against its EXPLICIT lower median (integer
    rank ``(n+1) div 2`` over pre-rounded ticks; ties count as "below",
    documented), runs are counted with one ordered lag pass, and z is a
    fixed double expression over the exact integer counts
    ``(R, n_above, n_below)``.

    One ordered window over calendar-bounded input (1-row output).
    Returns ``(n, n_above, n_below, runs, z_e6)``.
    """
    x = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.select(F.col(ts_col).alias("t"), x.alias("x"))
    n_tot = base.count()
    med = (
        base.select("x", F.row_number().over(W.orderBy("x")).alias("rk"))
        .where(F.col("rk") == (n_tot + 1) // 2)
        .select(F.col("x").alias("med"))
    )
    signed = base.crossJoin(F.broadcast(med)).select(
        "t", (F.col("x") > F.col("med")).cast("int").alias("s")
    )
    w = W.orderBy("t")
    runs = signed.select(
        "s",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("s").cast("long").alias("n_above"),
        (F.count("*") - F.sum("s")).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("runs"),
    )
    n1, n2 = F.col("n_above"), F.col("n_below")
    n = F.col("n")
    two_n1n2 = (2 * n1 * n2).cast("double")
    mu = two_n1n2 / n.cast("double") + 1
    var = (
        two_n1n2
        * (two_n1n2 - n.cast("double"))
        / (n * n).cast("double")
        / (n - 1).cast("double")
    )
    z = F.when(var > 0, (F.col("runs").cast("double") - mu) / F.sqrt(var))
    return agg.select(
        "n",
        "n_above",
        "n_below",
        "runs",
        F.round(z * 1e6).cast("long").alias("z_e6"),
    )


def jarque_bera(
    df: DataFrame, group_col: str, value_col: str, *, scale: int = 100
) -> DataFrame:
    """Per-group skewness, excess kurtosis, and the Jarque–Bera
    normality statistic ``JB = n/6·(S² + K²/4)``.

    Exactness: a first pass shifts each group by its ROUNDED integer
    mean (an integer shift leaves central moments unchanged but keeps
    the power sums small and exactly representable); the four shifted
    power sums are exact integers — squares in bigint, cubes and
    fourth powers in DECIMAL(38,0) (mirrored by DuckDB HUGEINT) — and
    skew/kurtosis/JB are fixed double expressions over them.

    Returns ``(group, n, skew_e6, kurt_e6, jb_e6)``.
    """
    y = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.select(F.col(group_col).alias("g"), y.alias("y")).where(
        F.col("y").isNotNull() & F.col("g").isNotNull()
    )
    shift = base.groupBy("g").agg(
        F.round(
            F.sum("y").cast("double") / F.count("*").cast("double")
        )
        .cast("long")
        .alias("c")
    )
    sh = base.join(F.broadcast(shift), "g").select(
        "g", (F.col("y") - F.col("c")).alias("u")
    )
    u = F.col("u")
    u2 = (u * u).alias("u2")
    sh2 = sh.select("g", u, u2)
    u2d = F.col("u2").cast("decimal(19,0)")
    ud = F.col("u").cast("decimal(19,0)")
    mom = sh2.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("u").cast("long").alias("s1"),
        F.sum("u2").cast("long").alias("s2"),
        F.sum(u2d * ud).cast("decimal(38,0)").alias("s3"),
        F.sum(u2d * u2d).cast("decimal(38,0)").alias("s4"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - m1 * m1
    m3 = r3 - F.lit(3.0) * m1 * r2 + F.lit(2.0) * m1 * m1 * m1
    m4 = (
        r4
        - F.lit(4.0) * m1 * r3
        + F.lit(6.0) * m1 * m1 * r2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0))
    ok = (F.col("n") >= 3) & (m2 > 0)
    return mom.select(
        F.col("g").alias(group_col),
        F.col("n"),
        F.when(ok, F.round(skew * 1e6).cast("long")).alias("skew_e6"),
        F.when(ok, F.round(kurt * 1e6).cast("long")).alias("kurt_e6"),
        F.when(ok, F.round(jb * 1e6).cast("long")).alias("jb_e6"),
    )


def wilcoxon_signed_rank(
    df: DataFrame, a_col: str, b_col: str, *, scale: int = 100
) -> DataFrame:
    """Wilcoxon signed-rank test for paired samples (one row per pair)
    — the nonparametric paired-t: did the population shift between the
    two measurements?

    Zero differences drop (the standard convention); |d| ranks use the
    DOUBLED-rank integer construction over the distinct-|d| table with
    ``partitioned_cumsum`` (never a global sort task — the
    ``mann_whitney_u`` contract), W⁺ keeps doubled units, and z with
    the tie correction is one fixed double expression over exact
    integers.

    Returns one row ``(n_pairs, n_nonzero, w2_plus, z_e6)``.
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    da = F.round(F.col(a_col).cast("double") * scale).cast("long")
    db = F.round(F.col(b_col).cast("double") * scale).cast("long")
    diffs = df.select((da - db).alias("d")).where(F.col("d").isNotNull())
    # ONE detail pass (r11, guide §2.1): the former separate
    # diffs.count() job re-read the full detail input just for n_pairs;
    # the zero-diff group now rides the same per-|d| aggregate (pos of a
    # zero diff never counts — d > 0 is false), and n_pairs = zeros +
    # the cumsum's grand total of nonzero counts
    vals_all = (
        diffs.select(
            F.abs(F.col("d")).alias("ad"),
            (F.col("d") > 0).cast("int").alias("pos"),
        )
        .groupBy("ad")
        .agg(F.count("*").alias("n_v"), F.sum("pos").alias("n_pos_v"))
        .localCheckpoint(eager=True)
    )
    # bounded: one row, the ad == 0 group
    zero_rows = vals_all.where(F.col("ad") == 0).select("n_v").collect()
    n_zero = int(zero_rows[0]["n_v"]) if zero_rows else 0
    gt: dict = {}
    cum = partitioned_cumsum(
        vals_all.where(F.col("ad") != 0), ["ad"], ["n_v"],
        inclusive=False, grand_totals=gt,
    )
    n_pairs = int(gt["n_v"]) + n_zero
    d2 = 2 * F.col("cum_n_v").cast("long") + F.col("n_v") + 1
    agg = cum.agg(
        F.sum("n_v").cast("long").alias("n"),
        F.sum(F.col("n_pos_v") * d2).cast("long").alias("w2_plus"),
        F.sum(
            F.col("n_v").cast("long") * F.col("n_v") * F.col("n_v")
            - F.col("n_v")
        )
        .cast("long")
        .alias("tie_term"),
    )
    n = F.col("n")
    mu2 = (n * (n + 1)).cast("double") / 2  # doubled-units mean: n(n+1)/2
    var2 = (
        (n * (n + 1) * (2 * n + 1)).cast("double") / 6
        - F.col("tie_term").cast("double") / 12
    )  # doubled-units variance: 4·(n(n+1)(2n+1)/24 − T/48)
    z = F.when(
        var2 > 0,
        (F.col("w2_plus").cast("double") - mu2) / F.sqrt(var2),
    )
    return agg.select(
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        F.col("n").alias("n_nonzero"),
        "w2_plus",
        F.round(z * 1e6).cast("long").alias("z_e6"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    scale: int = 100,
) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between two cohorts'
    empirical distributions — the magnitude-aware companion to
    :func:`ks_test_2samp` (KS reports the worst CDF gap; W₁ integrates
    ALL of it):

        W₁ = Σ_segments |F_a − F_b| · (v_{i+1} − v_i)

    Same distributed-CDF shape as ks_test: distinct-value collapse,
    ``partitioned_cumsum``, CDF differences as the exact integer
    numerator ``|cum_a·n_b − cum_b·n_a|``.  Each segment's term
    ``|d|·gap/(n_a·n_b)`` pre-rounds to e6 (DECIMAL product — the
    numerator passes 2⁶³ at ~10⁶ rows × 10⁷-tick gaps) so the sum is
    order-free.  The segment walk is one ordered pass over the
    distinct-value table (the ks_test distinct-value contract).

    Returns one row ``(n_a, n_b, w1_e6)`` — distance in original value
    units.
    """
    from smartpy_arc_spark.operators.scale import partitioned_cumsum

    x = F.round(F.col(value_col).cast("double") * scale).cast("long")
    vals = (
        df.where(F.col(group_col).isin(group_a, group_b))
        .select(F.col(group_col).alias("g"), x.alias("v"))
        .groupBy("v")
        .agg(
            F.count(F.when(F.col("g") == group_a, 1)).alias("na_v"),
            F.count(F.when(F.col("g") == group_b, 1)).alias("nb_v"),
        )
    )
    # cohort totals from the cumsum's own per-partition-totals collect
    # (r11, guide §2.1/§5.3) — no second aggregate pass + broadcast
    gt: dict = {}
    cum = partitioned_cumsum(
        vals, ["v"], ["na_v", "nb_v"], grand_totals=gt
    )
    gap = F.lead("v").over(W.orderBy("v")) - F.col("v")
    seg = cum.select(
        F.col("cum_na_v").cast("long").alias("ca"),
        F.col("cum_nb_v").cast("long").alias("cb"),
        "v",
        gap.alias("gap"),
    ).where(F.col("gap").isNotNull())
    scored = seg.withColumns(
        {
            "n_a": F.lit(int(gt["na_v"])).cast("long"),
            "n_b": F.lit(int(gt["nb_v"])).cast("long"),
        }
    )
    d = F.abs(
        F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
    ).cast("decimal(19,0)")
    term = F.round(
        (d * F.col("gap").cast("decimal(19,0)")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
        / scale
        * 1e6
    ).cast("long")
    return scored.groupBy("n_a", "n_b").agg(
        F.sum(term).cast("long").alias("w1_e6")
    )


def js_divergence(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Per-group KL and Jensen–Shannon divergence of each group's
    category distribution against the corpus distribution — the drift /
    source-skew monitor (JS is symmetric, bounded by ln 2, defined even
    when a group misses categories).

    The (group × category) grid is materialized explicitly (both
    dimensions bounded: they're the table's categorical domains) so
    zero cells contribute their exact ``½·q·ln 2``-shaped JS mass.
    Each cell's nats pre-round to integer e9 (the ``mutual_information``
    per-term contract) so group sums are order-free.

    Returns ``(group, n, kl_e9, js_e9)``.
    """
    base = df.select(
        F.col(group_col).alias("g"), F.col(cat_col).alias("c")
    ).where(F.col("g").isNotNull() & F.col("c").isNotNull())
    # materialized once (bounded by groups × categories): feeds both
    # margins, the total and the densification join (r11, guide §2.4)
    cells = base.groupBy("g", "c").agg(
        F.count("*").alias("n_gc")
    ).localCheckpoint(eager=True)
    gtot = cells.groupBy("g").agg(F.sum("n_gc").cast("long").alias("n_g"))
    ctot = cells.groupBy("c").agg(F.sum("n_gc").cast("long").alias("n_c"))
    tot = cells.agg(F.sum("n_gc").cast("long").alias("n_tot"))
    grid = (
        gtot.crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["g", "c"], "left")
        .select(
            "g",
            "n_g",
            "n_c",
            "n_tot",
            F.coalesce(F.col("n_gc"), F.lit(0)).cast("long").alias("n_gc"),
        )
    )
    p = F.col("n_gc").cast("double") / F.col("n_g").cast("double")
    q = F.col("n_c").cast("double") / F.col("n_tot").cast("double")
    m = (p + q) / 2
    kl_term = F.when(
        F.col("n_gc") > 0, F.round(p * F.log(p / q) * 1e9).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    js_val = (
        F.when(F.col("n_gc") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
            F.lit(0.0)
        )
        + F.lit(0.5) * q * F.log(q / m)
    )
    js_term = F.round(js_val * 1e9).cast("long")
    return grid.groupBy("g").agg(
        F.max("n_g").alias("n"),
        F.sum(kl_term).cast("long").alias("kl_e9"),
        F.sum(js_term).cast("long").alias("js_e9"),
    ).select(F.col("g").alias(group_col), "n", "kl_e9", "js_e9")


def friedman_test(
    df: DataFrame,
    block_col: str,
    treat_col: str,
    value_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Friedman test for k treatments over n matched blocks (the
    repeated-measures companion to :func:`kruskal_wallis`):

        Q = 12/(n·k·(k+1)) · Σ_j R_j² − 3·n·(k+1)

    Within-block ranking is a tiny k-row window PARTITIONED BY BLOCK —
    scale-free — with ties as doubled average ranks (``2·cnt_less +
    cnt_eq + 1``, exact integers).  Only complete blocks (all k
    treatments present exactly once) participate.  Q is one fixed
    double expression over the exact integer rank sums.

    Returns one row ``(n_blocks, k_treatments, q_e6)``.
    """
    y = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.select(
        F.col(block_col).alias("b"),
        F.col(treat_col).alias("tr"),
        y.alias("y"),
    ).where(
        F.col("b").isNotNull() & F.col("tr").isNotNull() & F.col("y").isNotNull()
    )
    k_total = base.select("tr").distinct().count()
    sizes = base.groupBy("b").agg(
        F.count("*").alias("n_b"),
        F.count_distinct("tr").alias("k_b"),
    )
    complete = sizes.where(
        (F.col("n_b") == k_total) & (F.col("k_b") == k_total)
    ).select("b")
    inb = base.join(complete, "b")
    # doubled average rank within block: 2*(# smaller) + (# equal) + 1,
    # via two range-frame window counts over the k-row block
    ranked = inb.select(
        "b",
        "tr",
        "y",
        (
            2 * F.count(F.when(F.col("y").isNotNull(), 1)).over(
                W.partitionBy("b").orderBy("y").rangeBetween(
                    W.unboundedPreceding, -1
                )
            )
            + F.count(F.when(F.col("y").isNotNull(), 1)).over(
                W.partitionBy("b").orderBy("y").rangeBetween(0, 0)
            )
            + 1
        ).alias("r2"),
    )
    per_t = ranked.groupBy("tr").agg(
        F.sum("r2").cast("long").alias("r2_sum"),
        F.count("*").cast("long").alias("n_blocks"),
    )
    r2d = F.col("r2_sum").cast("decimal(19,0)")
    agg = per_t.agg(
        F.max("n_blocks").cast("long").alias("n_blocks"),
        F.count("*").cast("long").alias("k_treatments"),
        F.sum((r2d * r2d).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sum_r2sq"),
    )
    n = F.col("n_blocks")
    kk = F.col("k_treatments")
    q = (
        F.lit(3.0)
        * F.col("sum_r2sq").cast("double")
        / (n * kk * (kk + 1)).cast("double")
        - F.lit(3.0) * (n * (kk + 1)).cast("double")
    )
    return agg.select(
        "n_blocks",
        "k_treatments",
        F.when(
            (n > 0) & (kk > 1), F.round(q * 1e6).cast("long")
        ).alias("q_e6"),
    )


def grubbs_statistic(
    df: DataFrame, ts_col: str, value_col: str, *, scale: int = 100
) -> DataFrame:
    """Grubbs outlier statistic ``G = max|x − x̄|/s`` with the offending
    observation — the single-most-extreme-point screen for a series
    (compare G against the t-based critical value for your α off-line).

    Exactness: the per-row deviation keeps the exact integer numerator
    ``|n·x − S|`` (no float mean subtraction), the argmax is
    deterministic (deviation desc, earliest ts), and G is one fixed
    double expression over exact DECIMAL moments.

    Returns one row ``(n, mean_e4, sd_e4, g_e6, outlier_ts,
    outlier_e4)``.
    """
    _check_e4_scale(scale)
    x = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.select(F.col(ts_col).alias("t"), x.alias("x"))
    xd = F.col("x").cast("decimal(19,0)")
    mom = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("q"),
    )
    dev = F.abs(F.col("n") * F.col("x") - F.col("s"))
    flagged = base.crossJoin(F.broadcast(mom)).select(
        "t", "x", "n", "s", "q", dev.alias("dev")
    )
    top = (
        flagged.withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.col("dev").desc(), F.col("t"))),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    n = F.col("n")
    nd = n.cast("decimal(19,0)")
    sd = F.sqrt(
        (
            nd * F.col("q")
            - F.col("s").cast("decimal(19,0)")
            * F.col("s").cast("decimal(19,0)")
        ).cast("double")
        / (n * (n - 1)).cast("double")
    )
    g = F.col("dev").cast("double") / n.cast("double") / sd
    return top.select(
        "n",
        F.round(
            F.col("s").cast("double") / n.cast("double") / scale * 10000
        )
        .cast("long")
        .alias("mean_e4"),
        F.when(n >= 2, F.round(sd / scale * 10000).cast("long")).alias(
            "sd_e4"
        ),
        F.when((n >= 2) & (sd > 0), F.round(g * 1e6).cast("long")).alias(
            "g_e6"
        ),
        F.col("t").alias("outlier_ts"),
        (F.col("x") * (10000 // scale)).cast("long").alias("outlier_e4"),
    )


def mcnemar_test(
    df: DataFrame, before_col: str, after_col: str
) -> DataFrame:
    """McNemar test for paired binary outcomes (did the flip rate
    change direction?): only the discordant cells matter,

        χ² = (b − c)² / (b + c)

    with ``b`` = 1→0 flips, ``c`` = 0→1 flips — exact integers, one
    division.  Includes the continuity-corrected variant
    ``(|b−c|−1)²/(b+c)``.

    Returns one row ``(n_pairs, b, c, chi2_e6, chi2_cc_e6)``.
    """
    bv = F.col(before_col).cast("int")
    av = F.col(after_col).cast("int")
    base = df.select(bv.alias("p"), av.alias("q")).where(
        F.col("p").isNotNull() & F.col("q").isNotNull()
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(((F.col("p") == 1) & (F.col("q") == 0)).cast("int"))
        .cast("long")
        .alias("b"),
        F.sum(((F.col("p") == 0) & (F.col("q") == 1)).cast("int"))
        .cast("long")
        .alias("c"),
    )
    b, c = F.col("b"), F.col("c")
    disc = b + c
    chi2 = ((b - c) * (b - c)).cast("double") / disc.cast("double")
    cc = (F.abs(b - c) - 1) * (F.abs(b - c) - 1)
    chi2_cc = cc.cast("double") / disc.cast("double")
    return agg.select(
        "n_pairs",
        "b",
        "c",
        F.when(disc > 0, F.round(chi2 * 1e6).cast("long")).alias("chi2_e6"),
        F.when(
            disc > 0, F.round(chi2_cc * 1e6).cast("long")
        ).alias("chi2_cc_e6"),
    )


def fleiss_kappa(
    df: DataFrame, item_col: str, rating_col: str
) -> DataFrame:
    """Fleiss' κ: chance-corrected agreement when EVERY item is rated by
    the same number of raters n (items with a different rater count are
    excluded and reported) — the n-rater generalization of Cohen's κ.

        P̄ = mean_i [ (Σ_j n_ij² − n) / (n(n−1)) ],   P_e = Σ_j p_j²,
        κ = (P̄ − P_e) / (1 − P_e)

    Exactness: per-item agreement numerators are exact integers summed
    order-free; p_j are exact rationals; κ is one fixed double
    expression.  Returns one row ``(n_items, n_raters, n_excluded,
    pbar_e6, pe_e6, kappa_e6)``.
    """
    base = df.select(
        F.col(item_col).alias("i"), F.col(rating_col).alias("r")
    ).where(F.col("i").isNotNull() & F.col("r").isNotNull())
    # per-item sizes feed the modal-count aggregate, the kept join AND
    # the driver-side n_excluded count — materialize once (r11, §2.4)
    sizes = sized_local_checkpoint(
        base.groupBy("i").agg(F.count("*").cast("long").alias("n_i"))
    )
    # modal rater count = the design's n (count desc, n asc tiebreak)
    n_mode = (
        sizes.groupBy("n_i")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("n_i"))
        .limit(1)
        .select(F.col("n_i").alias("n_raters"))
    )
    kept = sizes.join(F.broadcast(n_mode), sizes["n_i"] == F.col("n_raters"))
    n_excluded = sizes.count()
    # per-(item, rating) cells feed the per-item and per-category
    # aggregates — materialize once so the base join runs once (r11)
    cells = sized_local_checkpoint(
        base.join(kept.select("i", "n_raters"), "i")
        .groupBy("i", "r", "n_raters")
        .agg(F.count("*").cast("long").alias("n_ij"))
    )
    per_item = cells.groupBy("i", "n_raters").agg(
        F.sum(F.col("n_ij") * F.col("n_ij")).cast("long").alias("ssq")
    )
    cat_tot = cells.groupBy("r").agg(
        F.sum("n_ij").cast("long").alias("n_j")
    )
    tot = per_item.agg(
        F.count("*").cast("long").alias("n_items"),
        F.max("n_raters").cast("long").alias("n_raters"),
        F.sum("ssq").cast("long").alias("ssq_tot"),
    )
    pe_row = cat_tot.agg(
        F.sum("n_j").cast("long").alias("n_all"),
        F.sum(
            F.col("n_j").cast("decimal(19,0)")
            * F.col("n_j").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("sq_all"),
    )
    j = tot.crossJoin(F.broadcast(pe_row))
    ni = F.col("n_items")
    nr = F.col("n_raters")
    pbar = (
        (F.col("ssq_tot") - ni * nr).cast("double")
        / (ni * nr * (nr - 1)).cast("double")
    )
    pe = F.col("sq_all").cast("double") / (
        F.col("n_all").cast("double") * F.col("n_all").cast("double")
    )
    kappa = F.when(pe < 1, (pbar - pe) / (F.lit(1.0) - pe))
    return j.select(
        "n_items",
        "n_raters",
        (F.lit(n_excluded) - ni).cast("long").alias("n_excluded"),
        F.round(pbar * 1e6).cast("long").alias("pbar_e6"),
        F.round(pe * 1e6).cast("long").alias("pe_e6"),
        F.round(kappa * 1e6).cast("long").alias("kappa_e6"),
    )


def chi_square_residuals(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Per-cell adjusted standardized residuals of a contingency table —
    the post-hoc that tells you WHICH cells drive a significant
    chi-square:

        r_ij = (O − E) / √(E·(1 − p_i)·(1 − p_j)),   E = n_i·n_j/N

    |r| > 2 flags a cell.  Exactness: O·N − n_i·n_j is an exact integer
    numerator; the denominator is one fixed double expression over
    exact counts.

    Returns per cell ``(a, b, n_obs, resid_e6, flagged)``.
    """
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("o"))
        # materialized once (bounded by |A|·|B|): feeds both margins,
        # the total and the residual join (r11, guide §2.4)
        .localCheckpoint(eager=True)
    )
    ma = cells.groupBy("a").agg(F.sum("o").cast("long").alias("n_a"))
    mb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("n_b"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    j = (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n").cast("double")
    e = F.col("n_a").cast("double") * F.col("n_b").cast("double") / n
    pa = F.col("n_a").cast("double") / n
    pb = F.col("n_b").cast("double") / n
    num = (F.col("o") * F.col("n") - F.col("n_a") * F.col("n_b")).cast(
        "double"
    ) / n
    resid = num / F.sqrt(e * (F.lit(1.0) - pa) * (F.lit(1.0) - pb))
    return j.select(
        "a",
        "b",
        F.col("o").alias("n_obs"),
        F.round(resid * 1e6).cast("long").alias("resid_e6"),
        (F.abs(resid) > 2).cast("int").alias("flagged"),
    )


def simpson_check(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Simpson's-paradox detector for two binaries across strata: does
    the overall association between x and y point the OPPOSITE way from
    (almost) every within-stratum association?

    Association per table = the exact integer cross-product sign
    ``n11·n00 − n10·n01`` (the odds-ratio numerator − denominator; no
    division, no float).  Returns the overall sign, per-stratum signs,
    and the reversal verdict.

    One conditional aggregate per stratum + a 1-row combine.  Returns
    one row ``(n, n_strata, overall_sign, n_pos, n_neg, n_zero,
    reversed)`` — ``reversed = 1`` when the overall sign is nonzero and
    no stratum shares it.
    """
    x = F.col(x_col).cast("int")
    y = F.col(y_col).cast("int")
    base = df.select(
        F.col(group_col).alias("g"), x.alias("x"), y.alias("y")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    cells = base.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(((F.col("x") == 1) & (F.col("y") == 1)).cast("int"))
        .cast("long")
        .alias("n11"),
        F.sum(((F.col("x") == 1) & (F.col("y") == 0)).cast("int"))
        .cast("long")
        .alias("n10"),
        F.sum(((F.col("x") == 0) & (F.col("y") == 1)).cast("int"))
        .cast("long")
        .alias("n01"),
        F.sum(((F.col("x") == 0) & (F.col("y") == 0)).cast("int"))
        .cast("long")
        .alias("n00"),
    )
    assoc = (
        F.col("n11").cast("decimal(19,0)") * F.col("n00").cast("decimal(19,0)")
        - F.col("n10").cast("decimal(19,0)")
        * F.col("n01").cast("decimal(19,0)")
    )
    sgn = F.when(assoc > 0, 1).when(assoc < 0, -1).otherwise(0)
    per_g = cells.select("g", "n", "n11", "n10", "n01", "n00", sgn.alias("s"))
    comb = per_g.agg(
        F.sum("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_strata"),
        F.sum("n11").cast("long").alias("t11"),
        F.sum("n10").cast("long").alias("t10"),
        F.sum("n01").cast("long").alias("t01"),
        F.sum("n00").cast("long").alias("t00"),
        F.sum((F.col("s") == 1).cast("int")).cast("long").alias("n_pos"),
        F.sum((F.col("s") == -1).cast("int")).cast("long").alias("n_neg"),
        F.sum((F.col("s") == 0).cast("int")).cast("long").alias("n_zero"),
    )
    o_assoc = (
        F.col("t11").cast("decimal(19,0)") * F.col("t00").cast("decimal(19,0)")
        - F.col("t10").cast("decimal(19,0)")
        * F.col("t01").cast("decimal(19,0)")
    )
    o_sgn = F.when(o_assoc > 0, 1).when(o_assoc < 0, -1).otherwise(0)
    rev = F.when(
        ((o_sgn == 1) & (F.col("n_pos") == 0))
        | ((o_sgn == -1) & (F.col("n_neg") == 0)),
        1,
    ).otherwise(0)
    return comb.select(
        "n",
        "n_strata",
        o_sgn.cast("int").alias("overall_sign"),
        "n_pos",
        "n_neg",
        "n_zero",
        rev.cast("int").alias("reversed"),
    )


def wilson_ci(
    df: DataFrame, group_col: str, hit_col: str, *, z_e3: int = 1960
) -> DataFrame:
    """Wilson score confidence interval for a proportion per group —
    the small-n-safe CI (never escapes [0,1], unlike the Wald
    interval):

        center = (p̂ + z²/2n) / (1 + z²/n),
        hw = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    ``z`` enters as a pre-rounded e3 integer literal (1.96 by default)
    so both engines inline the identical constant; everything else is a
    fixed double expression over exact counts.

    Returns ``(group, n, hits, p_e6, lo_e6, hi_e6)``.
    """
    hit = F.col(hit_col).cast("int")
    base = df.select(F.col(group_col).alias("g"), hit.alias("y")).where(
        F.col("y").isNotNull() & F.col("g").isNotNull()
    )
    agg = base.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("x"),
    )
    n = F.col("n").cast("double")
    p = F.col("x").cast("double") / n
    z = F.lit(z_e3 / 1000.0)
    z2 = z * z
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    hw = (
        z
        * F.sqrt(
            p * (F.lit(1.0) - p) / n
            + z2 / (F.lit(4.0) * n * n)
        )
        / denom
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").alias("n"),
        F.col("x").alias("hits"),
        F.round(p * 1e6).cast("long").alias("p_e6"),
        F.round((center - hw) * 1e6).cast("long").alias("lo_e6"),
        F.round((center + hw) * 1e6).cast("long").alias("hi_e6"),
    )


def mantel_haenszel(
    df: DataFrame, stratum_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio and the CMH chi-square across
    stratified 2×2 tables — the confounder-adjusted association test
    (the formal companion to :func:`simpson_check`'s sign screen):

        OR_MH = Σ_k (n11·n00/n_k) / Σ_k (n10·n01/n_k)
        CMH   = (Σ(n11 − E_k))² / Σ V_k,
        E_k = r1·c1/n,  V_k = r1·r0·c1·c0 / (n²(n−1))

    Per-stratum terms are single divisions of exact integers pre-rounded
    to e6 (order-free sums — playbook rule 7); OR, ln OR (reported in
    ln units — no engine-side exp), and the CMH statistic are fixed
    double expressions.  Single-row strata (n < 2) are excluded (their
    CMH variance is undefined).

    Returns one row ``(n, n_strata, or_mh_e6, ln_or_e6, cmh_e6)``.
    """
    x = F.col(x_col).cast("int")
    y = F.col(y_col).cast("int")
    base = df.select(
        F.col(stratum_col).alias("g"), x.alias("x"), y.alias("y")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    cells = base.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(((F.col("x") == 1) & (F.col("y") == 1)).cast("int"))
        .cast("long")
        .alias("n11"),
        F.sum(((F.col("x") == 1) & (F.col("y") == 0)).cast("int"))
        .cast("long")
        .alias("n10"),
        F.sum(((F.col("x") == 0) & (F.col("y") == 1)).cast("int"))
        .cast("long")
        .alias("n01"),
        F.sum(((F.col("x") == 0) & (F.col("y") == 0)).cast("int"))
        .cast("long")
        .alias("n00"),
    )
    nd = F.col("n").cast("double")
    a_term = F.round(
        (F.col("n11") * F.col("n00")).cast("double") / nd * 1e6
    ).cast("long")
    b_term = F.round(
        (F.col("n10") * F.col("n01")).cast("double") / nd * 1e6
    ).cast("long")
    r1 = F.col("n11") + F.col("n10")
    r0 = F.col("n01") + F.col("n00")
    c1 = F.col("n11") + F.col("n01")
    c0 = F.col("n10") + F.col("n00")
    e_term = F.round((r1 * c1).cast("double") / nd * 1e6).cast("long")
    v_term = F.round(
        (r1.cast("decimal(19,0)") * r0.cast("decimal(19,0)")).cast("double")
        * (c1.cast("decimal(19,0)") * c0.cast("decimal(19,0)")).cast("double")
        / (nd * nd * (nd - F.lit(1.0)))
        * 1e6
    ).cast("long")
    agg = cells.where(F.col("n") >= 2).agg(
        F.sum("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_strata"),
        F.sum("n11").cast("long").alias("t11"),
        F.sum(a_term).cast("long").alias("sa"),
        F.sum(b_term).cast("long").alias("sb"),
        F.sum(e_term).cast("long").alias("se_sum"),
        F.sum(v_term).cast("long").alias("sv"),
    )
    or_mh = F.col("sa").cast("double") / F.col("sb").cast("double")
    dev = (
        F.col("t11").cast("double")
        - F.col("se_sum").cast("double") / 1e6
    )
    cmh = dev * dev / (F.col("sv").cast("double") / 1e6)
    ok_or = (F.col("sa") > 0) & (F.col("sb") > 0)
    return agg.select(
        "n",
        "n_strata",
        F.when(ok_or, F.round(or_mh * 1e6).cast("long")).alias("or_mh_e6"),
        F.when(ok_or, F.round(F.log(or_mh) * 1e6).cast("long")).alias(
            "ln_or_e6"
        ),
        F.when(
            F.col("sv") > 0, F.round(cmh * 1e6).cast("long")
        ).alias("cmh_e6"),
    )


def contingency_effects(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Contingency-table association summary in one pass: Pearson χ²,
    the likelihood-ratio G statistic, and Cramér's V effect size —
    the "is it associated, and HOW MUCH" companion to
    :func:`chi_square_independence` (which reports χ² alone):

        χ² = Σ (O·N − nᵢ·nⱼ)² / (N·nᵢ·nⱼ),
        G  = 2·Σ O·ln(O·N/(nᵢ·nⱼ)),
        V  = √(χ²/(N·min(r−1, c−1)))

    Per-cell χ² terms are exact rationals and G terms single ln calls,
    each pre-rounded to integer e6 (order-free sums — playbook rule 7);
    the three statistics are fixed double expressions.

    Returns one row ``(n, n_rows, n_cols, dof, chi2_e6, g_e6,
    cramers_v_e6)``.

    The cell table is materialized once (bounded by |A|·|B|): it feeds
    both margins, the totals row and the scored join (r11, guide §2.4).
    """
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("o"))
        .localCheckpoint(eager=True)
    )
    ma = cells.groupBy("a").agg(F.sum("o").cast("long").alias("n_a"))
    mb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("n_b"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("a").cast("long").alias("r"),
        F.count_distinct("b").cast("long").alias("c"),
    )
    j = (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("o").cast("decimal(19,0)")
    nd = F.col("n").cast("decimal(19,0)")
    nab = F.col("n_a").cast("decimal(19,0)") * F.col("n_b").cast(
        "decimal(19,0)"
    )
    diff = (od * nd - nab).cast("double")
    chi_term = F.round(
        diff
        * diff
        / (
            F.col("n").cast("double")
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
        )
        * 1e6
    ).cast("long")
    g_term = F.round(
        F.lit(2.0)
        * F.col("o").cast("double")
        * F.log(
            F.col("o").cast("double")
            * F.col("n").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        )
        * 1e6
    ).cast("long")
    agg = j.groupBy("n", "r", "c").agg(
        F.sum(chi_term).cast("long").alias("chi2_sum"),
        F.sum(g_term).cast("long").alias("g_sum"),
    )
    chi2 = F.col("chi2_sum").cast("double") / 1e6
    mind = F.least(F.col("r") - 1, F.col("c") - 1)
    v = F.when(
        mind > 0,
        F.sqrt(chi2 / (F.col("n") * mind).cast("double")),
    )
    return agg.select(
        "n",
        F.col("r").alias("n_rows"),
        F.col("c").alias("n_cols"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.col("chi2_sum").alias("chi2_e6"),
        F.col("g_sum").alias("g_e6"),
        F.round(v * 1e6).cast("long").alias("cramers_v_e6"),
    )


def cluster_agreement(
    df: DataFrame, cluster_col: str, label_col: str
) -> DataFrame:
    """External cluster-evaluation metrics between a cluster assignment
    and ground-truth labels: purity and normalized mutual information

        purity = Σ_c max_l n_cl / N,
        NMI = I(C;L) / √(H(C)·H(L))

    — the standard "did the clustering recover the classes" scorecard.

    Exactness: purity's numerator is an exact integer (per-cluster max
    via a deterministic window); MI and both entropies use per-cell /
    per-margin nanonat pre-rounds (the ``mutual_information``
    contract); NMI is one fixed double expression over the three
    integer sums.

    Returns one row ``(n, n_clusters, n_labels, purity_e6, mi_e9,
    h_c_e9, h_l_e9, nmi_e6)``.
    """
    base = df.select(
        F.col(cluster_col).alias("c"), F.col(label_col).alias("l")
    ).where(F.col("c").isNotNull() & F.col("l").isNotNull())
    # materialized once (bounded by clusters × labels): feeds both
    # margins, the total, the purity window and the MI join — five
    # consumers that otherwise re-execute the detail aggregate (r11)
    cells = base.groupBy("c", "l").agg(
        F.count("*").cast("long").alias("n_cl")
    ).localCheckpoint(eager=True)
    mc = cells.groupBy("c").agg(F.sum("n_cl").cast("long").alias("n_c"))
    ml = cells.groupBy("l").agg(F.sum("n_cl").cast("long").alias("n_l"))
    tot = cells.agg(F.sum("n_cl").cast("long").alias("n"))
    # purity: per-cluster max cell
    w = W.partitionBy("c").orderBy(F.col("n_cl").desc(), F.col("l"))
    best = (
        cells.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .agg(F.sum("n_cl").cast("long").alias("pure_sum"))
    )
    # MI terms
    j = (
        cells.join(F.broadcast(mc), "c")
        .join(F.broadcast(ml), "l")
        .crossJoin(F.broadcast(tot))
    )
    mi_term = F.round(
        F.col("n_cl").cast("double")
        / F.col("n").cast("double")
        * F.log(
            F.col("n").cast("double")
            * F.col("n_cl").cast("double")
            / (F.col("n_c").cast("double") * F.col("n_l").cast("double"))
        )
        * 1e9
    ).cast("long")
    mi_sum = j.agg(F.sum(mi_term).cast("long").alias("mi_e9"))

    def entropy(margins, cnt_col):
        t = F.round(
            -(F.col(cnt_col).cast("double") / F.col("n").cast("double"))
            * F.log(
                F.col(cnt_col).cast("double") / F.col("n").cast("double")
            )
            * 1e9
        ).cast("long")
        return margins.crossJoin(F.broadcast(tot)).agg(
            F.sum(t).cast("long").alias("h"),
            F.count("*").cast("long").alias("k"),
        )

    hc = entropy(mc, "n_c").select(
        F.col("h").alias("h_c_e9"), F.col("k").alias("n_clusters")
    )
    hl = entropy(ml, "n_l").select(
        F.col("h").alias("h_l_e9"), F.col("k").alias("n_labels")
    )
    out = (
        tot.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(mi_sum))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
    )
    nmi = F.when(
        (F.col("h_c_e9") > 0) & (F.col("h_l_e9") > 0),
        (F.col("mi_e9").cast("double") / 1e9)
        / F.sqrt(
            (F.col("h_c_e9").cast("double") / 1e9)
            * (F.col("h_l_e9").cast("double") / 1e9)
        ),
    )
    return out.select(
        "n",
        "n_clusters",
        "n_labels",
        F.round(
            F.col("pure_sum").cast("double") / F.col("n").cast("double")
            * 1e6
        )
        .cast("long")
        .alias("purity_e6"),
        "mi_e9",
        "h_c_e9",
        "h_l_e9",
        F.round(nmi * 1e6).cast("long").alias("nmi_e6"),
    )

