"""Welch's t-test A/B statistics as one algebraic aggregate.

The reference's error analysis compares metric means across slices
(``src/error_analysis.py``) but never tests significance; the
standard production companion is Welch's unequal-variance t —
assignment-checksum A/B comparisons, drift triage, holdout vs
treatment. Everything reduces to (n, mean, sample-variance) per
group — ONE partial+final hash aggregate at any scale — followed by
scalar algebra on the two-row result (t statistic,
Welch–Satterthwaite degrees of freedom, Cohen's d). No sort, no
window, no Python.

Group assignment for the driver gate is the engine's deterministic
hash parity (``stable_hash48`` even/odd — the same cross-engine
device the calibration fixtures use), so both engines derive
identical cohorts without RNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def welch_t_stats(
    df: DataFrame, metric: Column, group: Column, group_a: str = "a", group_b: str = "b"
) -> DataFrame:
    """Single-row Welch comparison of ``metric`` between the two
    values of ``group``. Emits per-group n/mean/var plus t,
    Welch–Satterthwaite df, and Cohen's d (pooled-SD flavor).
    Degenerate variance (either group constant or singleton) yields
    t = 0.0 / df = 0.0 rather than a NaN surprise."""
    per_group = df.select(metric.alias("m"), group.alias("g")).groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("m").alias("mean"),
        F.var_samp("m").alias("var"),
    )
    a = F.when(F.col("g") == group_a, F.col("n"))
    b = F.when(F.col("g") == group_b, F.col("n"))
    one = per_group.agg(
        F.sum(a).cast("long").alias("n_a"),
        F.sum(b).cast("long").alias("n_b"),
        F.sum(F.when(F.col("g") == group_a, F.col("mean"))).alias("mean_a"),
        F.sum(F.when(F.col("g") == group_b, F.col("mean"))).alias("mean_b"),
        F.sum(F.when(F.col("g") == group_a, F.col("var"))).alias("var_a"),
        F.sum(F.when(F.col("g") == group_b, F.col("var"))).alias("var_b"),
    )
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    se2 = se_a + se_b
    t = F.when(se2 > 0, (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2))
    dfree = F.when(
        (se2 > 0) & (F.col("n_a") > 1) & (F.col("n_b") > 1),
        (se2 * se2)
        / (
            se_a * se_a / (F.col("n_a") - 1)
            + se_b * se_b / (F.col("n_b") - 1)
        ),
    )
    pooled = (
        (F.col("n_a") - 1) * F.col("var_a") + (F.col("n_b") - 1) * F.col("var_b")
    ) / (F.col("n_a") + F.col("n_b") - 2)
    d = F.when(pooled > 0, (F.col("mean_a") - F.col("mean_b")) / F.sqrt(pooled))
    return one.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        F.coalesce(t, F.lit(0.0)).alias("t_stat"),
        F.coalesce(dfree, F.lit(0.0)).alias("welch_df"),
        F.coalesce(d, F.lit(0.0)).alias("cohens_d"),
    )


def cuped_adjusted(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    x_col: str = "x",
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — public): per
    experiment arm, the pre-period covariate ``x`` absorbs between-
    unit variance from the post-period metric ``y`` via
    ``y_adj = y − θ·(x − x̄_pool)`` with the pooled OLS slope
    ``θ = Cov(x,y)/Var(x)``. Emits per-arm ``n / mean_y / mean_y_adj /
    var_y / var_y_adj / var_reduction`` plus the shared ``theta`` —
    the standard pre-experiment-data trick that cuts A/B test
    durations by the covariate's R².

    Input is ONE ROW PER UNIT (pre-aggregate turns → units first);
    ``x``/``y`` are integer counts, so every moment below is exact.

    Determinism: the five sufficient statistics per arm (n, Σx, Σy,
    Σxy, Σx², Σy²) are EXACT decimal sums of integer products —
    order-free — and all downstream algebra (θ, means, variances) is
    fixed-shape double expressions over those exact scalars, so both
    engines compute bit-identical output. No float summation over
    rows anywhere.

    Distributed shape: ONE partial+final hash agg keyed by arm (6
    algebraic sums), then scalar algebra on the |arms|-row result with
    the pooled row broadcast back. Nothing else touches the unit
    table.

    Degenerate guard: Var(x) = 0 (constant covariate) → θ = 0 and
    CUPED is a no-op (adjusted == raw), matching the production
    convention.
    """
    dec = "decimal(38,0)"
    x = F.col(x_col).cast(dec)
    y = F.col(y_col).cast(dec)
    per_arm = units.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    pooled = per_arm.agg(
        F.sum("n").cast("double").alias("_N"),
        F.sum("sx").cast("double").alias("_SX"),
        F.sum("sy").cast("double").alias("_SY"),
        F.sum("sxy").cast("double").alias("_SXY"),
        F.sum("sxx").cast("double").alias("_SXX"),
    )
    j = per_arm.crossJoin(F.broadcast(pooled))
    # pooled slope: θ = (N·Σxy − Σx·Σy) / (N·Σx² − (Σx)²) — both sides
    # exact-integer-valued doubles, one division
    th_den = F.col("_N") * F.col("_SXX") - F.col("_SX") * F.col("_SX")
    theta = F.when(
        th_den > 0,
        (F.col("_N") * F.col("_SXY") - F.col("_SX") * F.col("_SY")) / th_den,
    ).otherwise(F.lit(0.0))
    xbar_pool = F.col("_SX") / F.col("_N")
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    mean_y = sy / n
    mean_y_adj = mean_y - theta * (sx / n - xbar_pool)
    var_y = F.when(
        F.col("n") > 1,
        (F.col("syy").cast("double") - sy * sy / n) / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    var_x = F.when(
        F.col("n") > 1,
        (F.col("sxx").cast("double") - sx * sx / n) / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    cov = F.when(
        F.col("n") > 1,
        (F.col("sxy").cast("double") - sx * sy / n) / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    var_y_adj = var_y - F.lit(2.0) * theta * cov + theta * theta * var_x
    return j.select(
        "arm",
        "n",
        F.round(mean_y, 6).alias("mean_y"),
        F.round(mean_y_adj, 6).alias("mean_y_adj"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_y_adj, 6).alias("var_y_adj"),
        F.round(
            F.when(var_y > 0, F.lit(1.0) - var_y_adj / var_y).otherwise(F.lit(0.0)),
            6,
        ).alias("var_reduction"),
        F.round(theta, 6).alias("theta"),
    )


def two_proportion_z(
    units: DataFrame,
    arm_col: str = "arm",
    success_col: str = "success",
    arm_a: str = "a",
    arm_b: str = "b",
) -> DataFrame:
    """Two-proportion z-test (pooled standard error) between arms
    ``arm_a`` and ``arm_b`` over a boolean/0-1 ``success`` column —
    the conversion-rate companion to :func:`welch_t_stats` (means).
    One row: per-arm n / successes / rate, the rate difference, and
    the z statistic (0.0 when the pooled variance is degenerate —
    all-success or all-failure).

    Determinism: all four counts are exact longs; the z expression is
    one fixed shape over their double casts — bit-identical cross-
    engine. Shape: ONE conditional-count hash agg, scalar algebra on
    a single row.
    """
    s = F.col(success_col).cast("int")
    g = F.col(arm_col)
    one = units.agg(
        F.sum(F.when(g == arm_a, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_a"),
        F.sum(F.when(g == arm_b, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_b"),
        F.sum(F.when(g == arm_a, s).otherwise(F.lit(0))).cast("long").alias("s_a"),
        F.sum(F.when(g == arm_b, s).otherwise(F.lit(0))).cast("long").alias("s_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # every division is try_divide, mirroring the oracle's raw double
    # division, which DuckDB evaluates to NULL on a zero divisor: an
    # empty arm has an UNDEFINED rate (NULL), and with exactly one arm
    # empty the 1/n term is NULL too, so se2 is NULL and the z guard
    # below collapses it to 0.0 instead of raising DIVIDE_BY_ZERO
    p_a = F.try_divide(F.col("s_a").cast("double"), na)
    p_b = F.try_divide(F.col("s_b").cast("double"), nb)
    pool = F.try_divide((F.col("s_a") + F.col("s_b")).cast("double"), na + nb)
    se2 = pool * (F.lit(1.0) - pool) * (
        F.try_divide(F.lit(1.0), na) + F.try_divide(F.lit(1.0), nb)
    )
    z = F.when(se2 > 0, (p_a - p_b) / F.sqrt(se2)).otherwise(F.lit(0.0))
    return one.select(
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(p_a - p_b, 6).alias("rate_diff"),
        F.round(z, 6).alias("z_stat"),
    )


def srm_check(
    units: DataFrame,
    arm_col: str = "arm",
    expected: tuple[tuple[str, float], ...] = (("a", 0.5), ("b", 0.5)),
    threshold: float = 3.841,
) -> DataFrame:
    """Sample-ratio-mismatch check: per-arm observed vs expected
    allocation and the chi-square goodness-of-fit statistic — the
    first gate every experimentation platform runs (a biased split
    invalidates the test before any metric is read). ``threshold``
    defaults to the χ²(1df, α=0.05) critical value.

    Output: one row per EXPECTED arm (observed, expected, share) each
    carrying the total ``chi2`` and the ``srm`` verdict flag, so the
    per-arm allocation and the decision read off one table.

    Determinism: observed counts are exact longs joined onto the
    broadcast expected-ratio table; the chi-square total sums ≤|arms|
    fixed-shape double terms ordered by arm via a window over the
    domain-bounded result — no row-order dependence. Shape: ONE hash
    agg keyed by arm + tiny broadcast join; everything after runs on
    |arms| rows.
    """
    from pyspark.sql import Window

    spark = units.sparkSession
    exp_df = spark.createDataFrame(
        [(a, float(r)) for a, r in expected], "arm string, ratio double"
    )
    obs = units.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    j = (
        exp_df.join(obs, "arm", "left")
        .select(
            "arm",
            "ratio",
            F.coalesce(F.col("observed"), F.lit(0)).cast("long").alias("observed"),
        )
    )
    w_all = Window.partitionBy()
    total = F.sum("observed").over(w_all).cast("double")
    e = total * F.col("ratio")
    term = F.when(
        e > 0,
        (F.col("observed").cast("double") - e) * (F.col("observed").cast("double") - e) / e,
    ).otherwise(F.lit(0.0))
    # order the ≤|arms| chi² terms by arm before summing: a sorted
    # window frame fixes the float-add order on both engines
    w_ord = w_all.orderBy("arm").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    chi2 = F.sum(term).over(w_ord)
    return j.select(
        "arm",
        "observed",
        F.round(e, 6).alias("expected"),
        # try_divide: zero total units (empty slice) -> share NULL,
        # the oracle's 0/0 answer (ANSI ERRORed; r5 empty-sweep)
        F.round(F.try_divide(F.col("observed").cast("double"), total), 6).alias("share"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(float(threshold))).alias("srm"),
    )


def power_mde(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    arm_a: str = "a",
    arm_b: str = "b",
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> DataFrame:
    """Minimum detectable effect at the CURRENT sample sizes — the
    design-side companion to :func:`welch_t_stats` (analysis) and
    :func:`cuped_adjusted` (variance reduction): before reading a
    metric, an experimenter asks "what lift could this test even
    see?". ``MDE = (z_α/2 + z_β)·sqrt(var_a/n_a + var_b/n_b)`` with
    the defaults at two-sided α=0.05, power 0.80. One row: per-arm
    n/mean/var, absolute MDE, and MDE relative to the control (arm a)
    mean.

    Determinism: integer metrics reduce to exact decimal Σy/Σy² per
    arm (one hash agg); variances and the MDE are fixed-shape double
    algebra over those exact scalars — no float row sums.
    """
    dec = "decimal(38,0)"
    y = F.col(y_col).cast(dec)
    g = F.col(arm_col)
    one = units.agg(
        F.sum(F.when(g == arm_a, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_a"),
        F.sum(F.when(g == arm_b, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_b"),
        F.sum(F.when(g == arm_a, y).otherwise(F.lit(0).cast(dec))).alias("sy_a"),
        F.sum(F.when(g == arm_b, y).otherwise(F.lit(0).cast(dec))).alias("sy_b"),
        F.sum(F.when(g == arm_a, y * y).otherwise(F.lit(0).cast(dec))).alias("syy_a"),
        F.sum(F.when(g == arm_b, y * y).otherwise(F.lit(0).cast(dec))).alias("syy_b"),
    )

    def var(sy: str, syy: str, n: str) -> Column:
        nd = F.col(n).cast("double")
        s = F.col(sy).cast("double")
        return F.when(
            F.col(n) > 1,
            (F.col(syy).cast("double") - s * s / nd) / (nd - F.lit(1.0)),
        ).otherwise(F.lit(0.0))

    var_a = var("sy_a", "syy_a", "n_a")
    var_b = var("sy_b", "syy_b", "n_b")
    # try_divide mirrors the oracle's RAW divisions: an empty or
    # missing arm has UNDEFINED mean/se/MDE (NULL, DuckDB's 0/0) —
    # the old otherwise-0.0 guards diverged on empty input (r5
    # empty-sweep); mde_rel's own guard still collapses to 0.0.
    mean_a = F.try_divide(
        F.col("sy_a").cast("double"), F.col("n_a").cast("double")
    )
    mean_b = F.try_divide(
        F.col("sy_b").cast("double"), F.col("n_b").cast("double")
    )
    se = F.sqrt(
        F.try_divide(var_a, F.col("n_a").cast("double"))
        + F.try_divide(var_b, F.col("n_b").cast("double"))
    )
    mde = F.lit(float(z_alpha) + float(z_power)) * se
    return one.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(var_a, 6).alias("var_a"),
        F.round(var_b, 6).alias("var_b"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(
            F.when(mean_a != 0, mde / mean_a).otherwise(F.lit(0.0)), 6
        ).alias("mde_rel"),
    )


def covariate_balance(
    units: DataFrame,
    covariates: tuple[str, ...],
    arm_col: str = "arm",
    arm_a: str = "a",
    arm_b: str = "b",
    threshold: float = 0.1,
) -> DataFrame:
    """Pre-experiment covariate balance: per covariate, the
    standardized mean difference between arms
    ``SMD = (mean_a − mean_b) / sqrt((var_a + var_b) / 2)`` and the
    |SMD| > threshold imbalance flag (0.1 is the standard epidemiology
    cut). Completes the experiment-hygiene chain: :func:`srm_check`
    validates the allocation COUNTS, this validates the allocation's
    covariate PROFILE, :func:`cuped_adjusted` then exploits the same
    covariates for variance reduction.

    Input is one row per unit with integer covariate columns; they are
    melted engine-side (``stack``) so the whole check is ONE hash agg
    keyed by covariate name — six exact decimal sums per (covariate,
    arm), no per-covariate scans.

    Determinism: exact decimal Σv/Σv² per arm; SMD is fixed-shape
    double algebra over those exact scalars. Degenerate spread (both
    arms constant) → SMD 0.0.
    """
    dec = "decimal(38,0)"
    n_cov = len(covariates)
    stack_expr = "stack({}, {}) as (covariate, v)".format(
        n_cov, ", ".join(f"'{c}', {c}" for c in covariates)
    )
    long_df = units.selectExpr(arm_col, stack_expr)
    g = F.col(arm_col)
    v = F.col("v").cast(dec)
    per = long_df.groupBy("covariate").agg(
        F.sum(F.when(g == arm_a, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_a"),
        F.sum(F.when(g == arm_b, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_b"),
        F.sum(F.when(g == arm_a, v).otherwise(F.lit(0).cast(dec))).alias("s_a"),
        F.sum(F.when(g == arm_b, v).otherwise(F.lit(0).cast(dec))).alias("s_b"),
        F.sum(F.when(g == arm_a, v * v).otherwise(F.lit(0).cast(dec))).alias("ss_a"),
        F.sum(F.when(g == arm_b, v * v).otherwise(F.lit(0).cast(dec))).alias("ss_b"),
    )

    def mean(s: str, n: str) -> Column:
        return F.col(s).cast("double") / F.col(n).cast("double")

    def var(s: str, ss: str, n: str) -> Column:
        nd = F.col(n).cast("double")
        sd = F.col(s).cast("double")
        return F.when(
            F.col(n) > 1,
            (F.col(ss).cast("double") - sd * sd / nd) / (nd - F.lit(1.0)),
        ).otherwise(F.lit(0.0))

    mean_a, mean_b = mean("s_a", "n_a"), mean("s_b", "n_b")
    pooled = (var("s_a", "ss_a", "n_a") + var("s_b", "ss_b", "n_b")) / F.lit(2.0)
    smd = F.when(pooled > 0, (mean_a - mean_b) / F.sqrt(pooled)).otherwise(F.lit(0.0))
    return per.select(
        "covariate",
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(smd, 6).alias("smd"),
        (F.abs(smd) > F.lit(float(threshold))).alias("imbalanced"),
    )


def diff_in_diff(
    units: DataFrame,
    arm_col: str = "arm",
    pre_col: str = "x",
    post_col: str = "y",
    arm_a: str = "a",
    arm_b: str = "b",
) -> DataFrame:
    """Difference-in-differences over one-row-per-unit panel data:
    the 2×2 (arm × period) means plus the DiD estimate
    ``(ȳ_b − x̄_b) − (ȳ_a − x̄_a)`` and its t statistic. Because pre
    and post are PAIRED per unit, inference runs on the per-unit delta
    ``d = post − pre`` (Welch on d) — the correct SE, not the
    four-independent-cells approximation. The panel-causal member of
    the experiment family: CUPED uses the pre-period to shrink
    variance of a randomized test; DiD uses it to difference away
    fixed unit effects when assignment was NOT randomized.

    Determinism: integer metrics → exact decimal Σd/Σd² and exact
    pre/post sums per arm in ONE hash agg; all algebra is fixed-shape
    doubles over those scalars.
    """
    dec = "decimal(38,0)"
    g = F.col(arm_col)
    x = F.col(pre_col).cast(dec)
    y = F.col(post_col).cast(dec)
    d = y - x
    zero = F.lit(0).cast(dec)

    def arm_sum(expr, arm, name):
        return F.sum(F.when(g == arm, expr).otherwise(zero)).alias(name)

    one = units.agg(
        F.sum(F.when(g == arm_a, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_a"),
        F.sum(F.when(g == arm_b, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_b"),
        arm_sum(x, arm_a, "sx_a"),
        arm_sum(x, arm_b, "sx_b"),
        arm_sum(y, arm_a, "sy_a"),
        arm_sum(y, arm_b, "sy_b"),
        arm_sum(d * d, arm_a, "sdd_a"),
        arm_sum(d * d, arm_b, "sdd_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pre_a = F.col("sx_a").cast("double") / na
    pre_b = F.col("sx_b").cast("double") / nb
    post_a = F.col("sy_a").cast("double") / na
    post_b = F.col("sy_b").cast("double") / nb
    sd_a = (F.col("sy_a") - F.col("sx_a")).cast("double")
    sd_b = (F.col("sy_b") - F.col("sx_b")).cast("double")
    mean_d_a = sd_a / na
    mean_d_b = sd_b / nb
    var_d_a = F.when(
        F.col("n_a") > 1,
        (F.col("sdd_a").cast("double") - sd_a * sd_a / na) / (na - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    var_d_b = F.when(
        F.col("n_b") > 1,
        (F.col("sdd_b").cast("double") - sd_b * sd_b / nb) / (nb - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    se2 = var_d_a / na + var_d_b / nb
    did = mean_d_b - mean_d_a
    t = F.when(se2 > 0, did / F.sqrt(se2)).otherwise(F.lit(0.0))
    return one.select(
        "n_a",
        "n_b",
        F.round(pre_a, 6).alias("pre_a"),
        F.round(post_a, 6).alias("post_a"),
        F.round(pre_b, 6).alias("pre_b"),
        F.round(post_b, 6).alias("post_b"),
        F.round(did, 6).alias("did"),
        F.round(t, 6).alias("t_stat"),
    )


def mann_whitney_u(
    df: DataFrame,
    metric: Column,
    group: Column,
    group_a: str = "a",
    group_b: str = "b",
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between two cohorts —
    the nonparametric companion to :func:`welch_t_stats` for skewed
    metrics (text lengths, latencies) where the t-test's mean is the
    wrong summary. Emits ``(n_a, n_b, u_a, auc, z_stat)`` where
    ``auc = U_a / (n_a·n_b)`` is the common-language effect size
    (P(random a-draw > random b-draw), ties counted half) and ``z``
    is the tie-corrected normal approximation.

    Distributed shape: ranks are NEVER materialized per row. The
    metric is reduced to a value histogram first — groupBy(value) →
    (count_a, count_b), ONE hash agg — and midranks come from a
    cumulative window over that bounded table (distinct metric
    values, e.g. ≤ a few thousand text lengths), the same
    value-histogram rank machine the Spearman/Gini family uses. At
    10^12 rows the shuffle carries only the histogram.

    Determinism: everything up to the final z expression is EXACT
    integer arithmetic — ``2·midrank = 2·cum_before + t + 1`` is an
    integer, so ``2·R_a`` accumulates as decimal(38,0); the tie
    correction Σ(t³−t) likewise. U, AUC, z are then single
    fixed-shape double expressions over those exact scalars.
    """
    dec = "decimal(38,0)"
    hist = (
        df.select(metric.alias("v"), group.alias("g"))
        .where(F.col("v").isNotNull() & F.col("g").isin(group_a, group_b))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == group_a, 1).otherwise(0))
            .cast("long")
            .alias("t_a"),
            F.sum(F.when(F.col("g") == group_b, 1).otherwise(0))
            .cast("long")
            .alias("t_b"),
        )
    )
    from pyspark.sql.window import Window

    # bounded-table global window (value histogram), per the engine's
    # global-window discipline — never over raw rows
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    t_tot = (F.col("t_a") + F.col("t_b")).cast("long")
    ranked = hist.select(
        "t_a",
        "t_b",
        t_tot.alias("t"),
        F.coalesce(F.sum(t_tot).over(w), F.lit(0)).cast("long").alias("cum_before"),
    )
    two_mid = (F.lit(2) * F.col("cum_before") + F.col("t") + F.lit(1)).cast(dec)
    sums = ranked.agg(
        F.sum("t_a").cast("long").alias("n_a"),
        F.sum("t_b").cast("long").alias("n_b"),
        F.sum(F.col("t_a").cast(dec) * two_mid).alias("two_r_a"),
        F.sum(
            F.col("t").cast(dec) * F.col("t").cast(dec) * F.col("t").cast(dec)
            - F.col("t").cast(dec)
        ).alias("tie_term"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    u_a = F.col("two_r_a").cast("double") / F.lit(2.0) - na * (na + 1.0) / 2.0
    mean_u = na * nb / 2.0
    var_u = (
        na
        * nb
        / 12.0
        * ((nn + 1.0) - F.col("tie_term").cast("double") / (nn * (nn - 1.0)))
    )
    z = F.when(var_u > 0, (u_a - mean_u) / F.sqrt(var_u)).otherwise(F.lit(0.0))
    auc = F.when((na > 0) & (nb > 0), u_a / (na * nb)).otherwise(F.lit(0.0))
    return sums.select(
        "n_a",
        "n_b",
        F.round(u_a, 6).alias("u_a"),
        F.round(auc, 6).alias("auc"),
        F.round(z, 6).alias("z_stat"),
    )


def quantile_treatment_effect(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    *,
    exact: bool = False,
    accuracy: int = 10000,
    group_a: str = "a",
    group_b: str = "b",
) -> DataFrame:
    """Quantile treatment effects: per requested quantile, the
    difference of the two arms' metric quantiles — what an A/B test
    reports when the treatment moves the TAILS rather than the mean
    (e.g. a latency fix that only helps p90). Output one row per
    quantile: ``(q, n_a, n_b, q_a, q_b, qte)`` with ``qte = q_b −
    q_a``.

    Scale default is ``exact=False`` → ``approx_percentile`` (GK
    sketch, mergeable partials, bounded memory at 10^12 rows); the
    driver gate requests ``exact=True`` for hash parity with
    DuckDB's ``quantile_cont`` (both linear-interpolating) — the
    same two-path discipline as ``session_length_percentiles``.

    Shape: ONE hash agg keyed by arm computes ALL quantiles in a
    single pass (array form), then the |quantiles|-row melt and the
    two-arm pivot run on a 2-row table.
    """
    qs = [float(q) for q in quantiles]
    qlit = "array(" + ",".join(repr(q) for q in qs) + ")"
    y = F.col(y_col).cast("double")
    if exact:
        agg = F.expr(f"percentile({y_col}, {qlit})").alias("qv")
    else:
        agg = F.percentile_approx(y, qs, F.lit(int(accuracy))).alias("qv")
    per_arm = units.groupBy(F.col(arm_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"), agg
    )
    melted = per_arm.select(
        "g",
        "n",
        F.posexplode(F.col("qv")).alias("qi", "qval"),
    )
    one = melted.groupBy("qi").agg(
        F.sum(F.when(F.col("g") == group_a, F.col("n"))).cast("long").alias("n_a"),
        F.sum(F.when(F.col("g") == group_b, F.col("n"))).cast("long").alias("n_b"),
        F.sum(F.when(F.col("g") == group_a, F.col("qval"))).alias("q_a"),
        F.sum(F.when(F.col("g") == group_b, F.col("qval"))).alias("q_b"),
    )
    qmap = F.array(*[F.lit(q) for q in qs])
    return one.select(
        F.round(F.element_at(qmap, F.col("qi") + 1), 6).alias("q"),
        "n_a",
        "n_b",
        F.round("q_a", 6).alias("q_a"),
        F.round("q_b", 6).alias("q_b"),
        F.round(F.col("q_b") - F.col("q_a"), 6).alias("qte"),
    ).orderBy("q")


def ipw_ate(
    units: DataFrame,
    t_col: str = "t",
    y_col: str = "y",
    x_col: str = "x",
    *,
    max_bin: int = 40,
    n_iter: int = 12,
    eps: float = 0.01,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect for
    OBSERVATIONAL (confounded) assignment — the causal sibling of
    :func:`cuped_adjusted`: when treatment probability depends on a
    covariate ``x``, the naive arm-mean difference is biased; IPW
    reweights each unit by 1/P(t|x) to recover the ATE (Horvitz–
    Thompson 1952 / Rosenbaum–Rubin 1983, Hájek-normalized).

    The propensity model is a logistic fit of ``t`` on the integer
    covariate, fitted the same way :func:`~..operators.calibration.
    platt_calibration` fits its sigmoid: the unit table collapses to
    a ≤ ``max_bin+1``-row binned profile (ONE hash agg of exact
    integer stats: n, Σt, Σy·t, Σy·(1−t) per bin), then a FIXED
    ``n_iter``-step Newton solve runs on that tiny profile inside a
    single ``applyInPandas`` group — never per-row Python, nothing
    driver-side grows with data. Weighted means are combinations of
    the per-bin integer sums with per-bin weights 1/e(x) — no float
    accumulation over raw rows anywhere.

    Output (one row): ``(n_treat, n_ctrl, a, b, mu_treat, mu_ctrl,
    ate_ipw, ate_naive)`` — ``a/b`` the logistic slope/intercept,
    ``ate_naive`` the unadjusted difference for contrast.

    Determinism (cross-engine): exact integer profile → glibc
    exp/ln in driver Python vs DuckDB, fixed iteration count with a
    det-guard (no convergence break), ascending-bin accumulation,
    6dp output rounding — the certified platt recipe.
    """
    import math

    import pandas as pd

    t = F.col(t_col).cast("long")
    y = F.col(y_col).cast("long")
    b_ = F.least(F.greatest(F.col(x_col).cast("long"), F.lit(0)), F.lit(int(max_bin)))
    profile = (
        units.select(b_.alias("bin"), t.alias("t"), y.alias("y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("t").cast("long").alias("n_t"),
            F.sum(F.col("y") * F.col("t")).cast("long").alias("sy_t"),
            F.sum(F.col("y") * (F.lit(1) - F.col("t"))).cast("long").alias("sy_c"),
        )
        .withColumn("_g", F.lit(1))
    )
    iters, clip = int(n_iter), float(eps)
    schema = (
        "n_treat bigint, n_ctrl bigint, a double, b double, "
        "mu_treat double, mu_ctrl double, ate_ipw double, ate_naive double"
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin").reset_index(drop=True)
        rows = [
            (float(bn), float(n), float(nt), float(syt), float(syc))
            for bn, n, nt, syt, syc in zip(
                pdf["bin"], pdf["n"], pdf["n_t"], pdf["sy_t"], pdf["sy_c"]
            )
        ]
        a, b = 0.0, 0.0
        for _ in range(iters):
            g_a = g_b = h_aa = h_ab = h_bb = 0.0
            for x, n, nt, _syt, _syc in rows:
                q = 1.0 / (1.0 + math.exp(-(a * x + b)))
                r = n * q - nt
                w = n * q * (1.0 - q)
                g_a += r * x
                g_b += r
                h_aa += w * x * x
                h_ab += w * x
                h_bb += w
            det = h_aa * h_bb - h_ab * h_ab
            if abs(det) >= 1e-12:  # det-guard, NOT a convergence break
                a = a - (h_bb * g_a - h_ab * g_b) / det
                b = b - (h_aa * g_b - h_ab * g_a) / det
        s1n = s1d = s0n = s0d = 0.0
        nv1n = nv1d = nv0n = nv0d = 0.0
        for x, n, nt, syt, syc in rows:
            e = 1.0 / (1.0 + math.exp(-(a * x + b)))
            e = min(max(e, clip), 1.0 - clip)
            s1n += syt / e
            s1d += nt / e
            s0n += syc / (1.0 - e)
            s0d += (n - nt) / (1.0 - e)
            nv1n += syt
            nv1d += nt
            nv0n += syc
            nv0d += n - nt
        mu1 = s1n / s1d if s1d > 0 else 0.0
        mu0 = s0n / s0d if s0d > 0 else 0.0
        m1n = nv1n / nv1d if nv1d > 0 else 0.0
        m0n = nv0n / nv0d if nv0d > 0 else 0.0
        return pd.DataFrame(
            {
                "n_treat": [int(nv1d)],
                "n_ctrl": [int(nv0d)],
                "a": [a],
                "b": [b],
                "mu_treat": [mu1],
                "mu_ctrl": [mu0],
                "ate_ipw": [mu1 - mu0],
                "ate_naive": [m1n - m0n],
            }
        )

    # EMPTY panel: no propensity profile exists — mirror the oracle's
    # one degenerate row (NULL counts/fit, 0.0 means from its guarded
    # ratios; r5 empty-sweep), appended from a global count of the
    # profile with no eager action
    empty = profile.agg(F.count(F.lit(1)).alias("_n")).where(F.col("_n") == 0)
    degenerate = empty.select(
        F.lit(None).cast("bigint").alias("n_treat"),
        F.lit(None).cast("bigint").alias("n_ctrl"),
        F.lit(None).cast("double").alias("a"),
        F.lit(None).cast("double").alias("b"),
        *[F.lit(0.0).alias(c) for c in ("mu_treat", "mu_ctrl", "ate_ipw", "ate_naive")],
    )
    fitted = profile.groupBy("_g").applyInPandas(_fit, schema=schema)
    return fitted.select(
        "n_treat",
        "n_ctrl",
        F.round("a", 6).alias("a"),
        F.round("b", 6).alias("b"),
        F.round("mu_treat", 6).alias("mu_treat"),
        F.round("mu_ctrl", 6).alias("mu_ctrl"),
        F.round("ate_ipw", 6).alias("ate_ipw"),
        F.round("ate_naive", 6).alias("ate_naive"),
    ).unionByName(degenerate)


def normal_p_two_sided(z: Column) -> Column:
    """Two-sided normal tail ``2·(1 − Φ(|z|))`` as one fixed-shape
    double expression, via the Abramowitz–Stegun 7.1.26 erf
    polynomial (max abs error 1.5e-7):

        2·(1 − Φ(|z|)) = 1 − erf(|z|/√2) = P(t)·e^(−x²),
        x = |z|/√2,  t = 1/(1 + 0.3275911·x)

    Spark has no ``erf`` builtin, so the polynomial is spelled out —
    and the DuckDB oracles spell out the IDENTICAL Horner form with
    the SAME parsed double constants (√2 as the literal
    1.4142135623730951, never ``sqrt(2)``), so both engines produce
    bit-identical p-values from identical z. Per-row ``exp`` at
    round(6) is the engine's established cross-engine-safe pattern
    (dsir/platt_apply precedent).
    """
    x = F.abs(z) / F.lit(1.4142135623730951)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t
            * (
                F.lit(1.421413741)
                + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
            )
        )
    )
    return poly * F.exp(-(x * x))


def effect_sizes(
    df: DataFrame,
    metric: Column,
    group: Column,
    group_a: str = "a",
    group_b: str = "b",
) -> DataFrame:
    """Standardized effect sizes between two cohorts in ONE pass:
    Cohen's d (pooled-SD mean difference), Hedges' g (small-sample
    bias correction ``d·(1 − 3/(4N−9))``), and Cliff's delta (the
    ordinal dominance statistic ``2·AUC − 1``). The reference reports
    raw mean gaps per slice (``src/error_analysis.py:116-170``);
    effect sizes are the scale-free companion every experiment
    readout needs next to the p-value.

    Distributed shape: the metric is reduced to a value histogram
    (ONE hash agg, same machine as :func:`mann_whitney_u`), from
    which BOTH the moment statistics (Σy, Σy² as exact decimals via
    ``Σ v·t``, ``Σ v²·t``) and the rank statistic (U from midranks
    over the bounded histogram) derive — moments and dominance in
    the same plan, no second scan. At 10^12 rows the shuffle carries
    only distinct metric values.

    Determinism: every accumulation is exact integer/decimal; d, g,
    delta are single fixed-shape double expressions at the end
    (mirrored verbatim in the DuckDB oracle).
    """
    dec = "decimal(38,0)"
    hist = (
        df.select(metric.alias("v"), group.alias("g"))
        .where(F.col("v").isNotNull() & F.col("g").isin(group_a, group_b))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == group_a, 1).otherwise(0))
            .cast("long")
            .alias("t_a"),
            F.sum(F.when(F.col("g") == group_b, 1).otherwise(0))
            .cast("long")
            .alias("t_b"),
        )
    )
    from pyspark.sql.window import Window

    # bounded-table global window (value histogram) — engine discipline
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    t_tot = (F.col("t_a") + F.col("t_b")).cast("long")
    ranked = hist.select(
        "v",
        "t_a",
        "t_b",
        t_tot.alias("t"),
        F.coalesce(F.sum(t_tot).over(w), F.lit(0)).cast("long").alias("cum_before"),
    )
    vd = F.col("v").cast(dec)
    two_mid = (F.lit(2) * F.col("cum_before") + F.col("t") + F.lit(1)).cast(dec)
    sums = ranked.agg(
        F.sum("t_a").cast("long").alias("n_a"),
        F.sum("t_b").cast("long").alias("n_b"),
        F.sum(vd * F.col("t_a").cast(dec)).alias("s_a"),
        F.sum(vd * F.col("t_b").cast(dec)).alias("s_b"),
        F.sum(vd * vd * F.col("t_a").cast(dec)).alias("ss_a"),
        F.sum(vd * vd * F.col("t_b").cast(dec)).alias("ss_b"),
        F.sum(F.col("t_a").cast(dec) * two_mid).alias("two_r_a"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    sa = F.col("s_a").cast("double")
    sb = F.col("s_b").cast("double")
    mean_a = sa / na
    mean_b = sb / nb
    var_a = (F.col("ss_a").cast("double") - sa * sa / na) / (na - F.lit(1.0))
    var_b = (F.col("ss_b").cast("double") - sb * sb / nb) / (nb - F.lit(1.0))
    sp2 = ((na - 1.0) * var_a + (nb - 1.0) * var_b) / (na + nb - 2.0)
    d = F.when(sp2 > 0, (mean_a - mean_b) / F.sqrt(sp2)).otherwise(F.lit(0.0))
    g = d * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (na + nb) - F.lit(9.0)))
    u_a = F.col("two_r_a").cast("double") / F.lit(2.0) - na * (na + 1.0) / 2.0
    delta = F.when(
        (na > 0) & (nb > 0), F.lit(2.0) * u_a / (na * nb) - F.lit(1.0)
    ).otherwise(F.lit(0.0))
    return sums.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(mean_a - mean_b, 6).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(g, 6).alias("hedges_g"),
        F.round(delta, 6).alias("cliffs_delta"),
    )


def benjamini_hochberg(
    df: DataFrame,
    key: str,
    p_col: str,
    alpha: float = 0.05,
    *,
    method: str = "bh",
) -> DataFrame:
    """Benjamini–Hochberg FDR adjustment over a BOUNDED table of
    per-hypothesis p-values (one row per slice/tool/metric — the
    multiple-comparison companion the reference's per-slice error
    readouts lack). ``p_adj(i) = min_{j≥i} p(j)·m/j`` (step-up),
    capped at 1; reject where ``p_adj ≤ alpha``.

    ``method="by"`` applies the Benjamini–Yekutieli correction —
    the same step-up scaled by ``c(m) = Σ_{i≤m} 1/i`` — valid under
    ARBITRARY dependence between the hypotheses (per-slice tests on
    overlapping cohorts are positively-and-negatively correlated in
    unknowable ways; BH's PRDS assumption is exactly what such
    slices violate). More conservative by ~ln(m); the honest default
    when the hypothesis slices share rows.

    Distributed shape: the input is an aggregate result (tens to
    thousands of hypotheses), so the rank + suffix-min global windows
    run over a bounded table — the engine's global-window discipline.
    Ranks tie-break on the key for cross-engine determinism; c(m) is
    an exact finite sum computed once on the driver.
    """
    from pyspark.sql.window import Window

    m = df.count()  # bounded aggregate table — count is cheap and exact
    if method not in ("bh", "by"):
        raise ValueError(f"method must be 'bh' or 'by', got {method!r}")
    cm = sum(1.0 / i for i in range(1, m + 1)) if method == "by" else 1.0
    w_rank = Window.orderBy(p_col, key)
    ranked = df.withColumn("rank", F.row_number().over(w_rank))
    w_suffix = Window.orderBy("rank").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    raw = (
        F.col(p_col)
        * F.lit(float(m))
        * F.lit(float(cm))
        / F.col("rank").cast("double")
    )
    adj = F.least(F.lit(1.0), F.min(raw).over(w_suffix))
    return ranked.select(
        key,
        F.col("rank").cast("int").alias("rank"),
        F.round(p_col, 6).alias("p_value"),
        F.round(adj, 6).alias("p_adj"),
        F.when(adj <= F.lit(alpha), 1).otherwise(0).cast("int").alias("reject"),
    )


def permutation_test(
    df: DataFrame,
    unit: Column,
    metric: Column,
    n_perms: int = 200,
    salt: str = "perm",
) -> DataFrame:
    """Unit-level permutation test of a mean difference between two
    hash-assigned arms, with DETERMINISTIC pseudo-permutations:
    permutation ``k`` reassigns each unit by
    ``stable_hash48(salt ∥ unit ∥ '#' ∥ k) % 2`` — no RNG, so both
    engines replay the identical null ensemble. p-value is the
    add-one estimator ``(1 + #{|Δ_k| ≥ |Δ_obs|}) / (K + 1)``.

    Distributed shape: the metric is first reduced to ONE row per
    unit (hash agg), then exploded ×K with ``sequence`` — the
    shuffle after the explode is map-side combined down to K×2
    partial sums per partition, so the exchange carries O(K) rows
    regardless of input size. CPU is K× the unit table, NOT K× the
    raw stream; at extreme unit counts the documented scale path is
    hash-sampling units first (consistent sampling, same device as
    ``capped_per_source``).

    Determinism: per-(unit, k) arms are exact integer hashes; each
    Δ_k is one fixed-shape double from exact integer sums; the
    ``|Δ_k| ≥ |Δ_obs|`` comparison therefore agrees bit-for-bit
    across engines.
    """
    units = (
        df.select(unit.alias("u"), metric.alias("y"))
        .where(F.col("u").isNotNull() & F.col("y").isNotNull())
        .groupBy("u")
        .agg(F.sum("y").cast("long").alias("y"))
    )
    from kkbox_churn_prediction_spark.functions.text import stable_hash48

    def arm(tag: Column) -> Column:
        return F.pmod(stable_hash48(tag), F.lit(2))

    def diff(arm_col: Column):
        s1 = F.sum(F.when(arm_col == 1, F.col("y")).otherwise(0)).cast("long")
        s0 = F.sum(F.when(arm_col == 0, F.col("y")).otherwise(0)).cast("long")
        n1 = F.sum(F.when(arm_col == 1, 1).otherwise(0)).cast("long")
        n0 = F.sum(F.when(arm_col == 0, 1).otherwise(0)).cast("long")
        return s1, s0, n1, n0

    def mean_diff(s1, s0, n1, n0) -> Column:
        return F.when(
            (n1 > 0) & (n0 > 0),
            s1.cast("double") / n1.cast("double")
            - s0.cast("double") / n0.cast("double"),
        ).otherwise(F.lit(0.0))

    obs_arm = arm(F.concat(F.lit(salt + "obs"), F.col("u")))
    s1, s0, n1, n0 = diff(obs_arm)
    obs = units.agg(
        F.count("*").cast("long").alias("n_units"),
        mean_diff(s1, s0, n1, n0).alias("obs_diff"),
    )

    perm = units.select(
        "u",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(n_perms - 1))).alias("k"),
    )
    perm_arm = arm(
        F.concat(F.lit(salt), F.col("u"), F.lit("#"), F.col("k").cast("string"))
    )
    s1, s0, n1, n0 = diff(perm_arm)
    diffs = perm.groupBy("k").agg(mean_diff(s1, s0, n1, n0).alias("d_k"))

    # one-row broadcast cross join (engine's tiny-aggregate pattern)
    joined = diffs.crossJoin(F.broadcast(obs))
    out = joined.agg(
        F.first("n_units").alias("n_units"),
        F.first("obs_diff").alias("_obs"),
        F.sum(
            F.when(F.abs(F.col("d_k")) >= F.abs(F.col("obs_diff")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_ge"),
    )
    k = float(n_perms)
    return out.select(
        "n_units",
        F.lit(n_perms).cast("int").alias("n_perms"),
        F.round("_obs", 6).alias("obs_diff"),
        "n_ge",
        F.round(
            (F.lit(1.0) + F.col("n_ge").cast("double")) / F.lit(k + 1.0), 6
        ).alias("p_value"),
        # the empty-input global agg fabricates one all-NULL row the
        # oracle's (row-producing) CTEs never emit — drop it
        # (r5 empty-sweep)
    ).where(F.col("n_units").isNotNull())


def msprt_always_valid(
    daily: DataFrame,
    order_col: str,
    x_col: str,
    sigma2: float,
    tau2: float | None = None,
) -> DataFrame:
    """Mixture-SPRT always-valid p-value over an ordered (bounded)
    effect series — the sequential-testing companion to the one-shot
    z/t gates: a monitor may peek at EVERY step and the p-value
    stays valid (Robbins mixture martingale; Johari et al.,
    "Peeking at A/B tests", KDD'17 — public method).

    With a N(0, τ²) mixture over the effect and known per-step noise
    σ²:  log Λ_n = ½·ln(σ²/(σ²+nτ²)) + τ²·S_n²/(2σ²(σ²+nτ²)),
    p_n = min(1, exp(−max_{s≤n} log Λ_s)), computed in log space so
    large S_n never overflows.

    Distributed shape: the input is a per-period aggregate (daily
    effect series — calendar-bounded), so the running-sum and
    running-max global windows ride the engine's bounded-table
    discipline; float sums appear only inside ordered window frames
    (EWMA precedent). σ², τ² are caller-supplied constants so both
    engines share the exact parsed doubles.
    """
    if tau2 is None:
        tau2 = sigma2
    from pyspark.sql.window import Window

    w_cum = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    n = F.count("*").over(w_cum).cast("double")
    s = F.sum(x_col).over(w_cum)
    denom = F.lit(sigma2) + n * F.lit(tau2)
    log_lam = F.lit(0.5) * F.log(F.lit(sigma2) / denom) + F.lit(tau2) * s * s / (
        F.lit(2.0) * F.lit(sigma2) * denom
    )
    stepped = daily.select(
        order_col,
        F.col(x_col).alias("x"),
        n.cast("long").alias("n"),
        s.alias("s_n"),
        log_lam.alias("log_lambda"),
    )
    w_max = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    p = F.least(F.lit(1.0), F.exp(-F.max("log_lambda").over(w_max)))
    return stepped.select(
        order_col,
        F.round("x", 6).alias("x"),
        "n",
        F.round("s_n", 6).alias("s_n"),
        F.round("log_lambda", 6).alias("log_lambda"),
        F.round(p, 6).alias("p_always_valid"),
    )


def regression_discontinuity(
    rows: DataFrame,
    running_col: str,
    outcome_col: str,
    cutoff: float,
    bandwidth: float,
) -> DataFrame:
    """Sharp regression-discontinuity estimate: fit a separate local
    linear regression of ``outcome_col`` on the centered running
    variable within ``bandwidth`` on each side of ``cutoff`` and
    report the jump between the two fitted intercepts at the cutoff —
    the standard quasi-experimental design when treatment switches on
    deterministically at a threshold (reference backtest framing
    ``src/backtest.py:309-313`` gives the temporal analog; RDD is its
    cross-sectional sibling for threshold-assigned treatments such as
    "long conversations get escalated").

    Side convention: rows with ``running >= cutoff`` are the treated
    (right) side, ``running < cutoff`` the control (left); rows
    outside ``|running - cutoff| <= bandwidth`` are discarded.

    Determinism/scale shape: the whole estimate is ONE conditional
    hash aggregate producing the per-side OLS sufficient statistics
    (N, Σx, Σy, Σxy, Σx²) and closed-form intercept/slope algebra on
    the single result row — no iteration, no window, no second pass.
    When running and outcome are integers the sums are exact
    (BIGINT), so both engines derive the floats through an identical
    expression tree and round(6) is safe.
    """
    x = (F.col(running_col).cast("double") - F.lit(float(cutoff))).alias("x")
    y = F.col(outcome_col).cast("double")
    side = rows.where(
        F.abs(F.col(running_col).cast("double") - F.lit(float(cutoff)))
        <= F.lit(float(bandwidth))
    ).select(x, y.alias("y"), (F.col(running_col) >= F.lit(cutoff)).alias("_r"))

    def _stats(flag: Column, tag: str) -> list[Column]:
        z = lambda c: F.sum(F.when(flag, c).otherwise(F.lit(0.0)))
        return [
            F.sum(F.when(flag, F.lit(1)).otherwise(F.lit(0))).cast("long").alias(f"n_{tag}"),
            z(F.col("x")).alias(f"sx_{tag}"),
            z(F.col("y")).alias(f"sy_{tag}"),
            z(F.col("x") * F.col("y")).alias(f"sxy_{tag}"),
            z(F.col("x") * F.col("x")).alias(f"sxx_{tag}"),
        ]

    one = side.agg(*_stats(F.col("_r"), "r"), *_stats(~F.col("_r"), "l"))

    def _fit(tag: str) -> tuple[Column, Column]:
        n = F.col(f"n_{tag}").cast("double")
        sx, sy = F.col(f"sx_{tag}"), F.col(f"sy_{tag}")
        sxy, sxx = F.col(f"sxy_{tag}"), F.col(f"sxx_{tag}")
        det = n * sxx - sx * sx
        slope = F.when(det != 0, (n * sxy - sx * sy) / det).otherwise(F.lit(0.0))
        intercept = F.when(
            F.col(f"n_{tag}") > 0, (sy - slope * sx) / n
        ).otherwise(F.lit(0.0))
        return intercept, slope

    b0r, b1r = _fit("r")
    b0l, b1l = _fit("l")
    return one.select(
        F.col("n_l"),
        F.col("n_r"),
        F.round(b0l, 6).alias("intercept_left"),
        F.round(b1l, 6).alias("slope_left"),
        F.round(b0r, 6).alias("intercept_right"),
        F.round(b1r, 6).alias("slope_right"),
        F.round(b0r - b0l, 6).alias("rd_effect"),
    )


def kruskal_wallis(
    df: DataFrame,
    metric: Column,
    group: Column,
) -> DataFrame:
    """Kruskal–Wallis H test across k groups — the k-sample
    generalization of :func:`mann_whitney_u` (and the nonparametric
    ANOVA): are the k cohorts' metric distributions stochastically
    identical? ``H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)`` over
    pooled midranks, divided by the tie correction
    ``C = 1 − Σ(t³−t)/(N³−N)``; H ~ χ²(k−1) under the null.

    Distributed shape (the mann_whitney value-histogram rank
    machine, long-format for dynamic k): ranks are NEVER
    materialized per row — ONE hash agg builds the (value, group)
    count table, the value-marginal histogram gives midranks via a
    cumulative window over the bounded distinct-value table, and one
    join + one agg per group collapses to k rows. At 10^12 rows the
    shuffles carry only histograms.

    Determinism: ``2·midrank = 2·cum_before + t + 1`` and
    ``2·R_g = Σ t_gv·two_mid`` are exact integers (decimal(38,0));
    the tie term Σ(t³−t) likewise. H, C and the per-group mean ranks
    are then single fixed-shape double expressions over those exact
    scalars, rounded to 6dp.

    Output: one row per group ``(grp, n, mean_rank, n_total,
    k_groups, h_stat, tie_correction, h_corrected, dof)`` — the
    shared statistics are repeated on every row so the frame is
    self-contained (and trivially reducible to the one-row summary).
    """
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    gv = (
        df.select(metric.alias("v"), group.alias("grp"))
        .where(F.col("v").isNotNull() & F.col("grp").isNotNull())
        .groupBy("v", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("t_gv"))
        .persist()  # kept: the per-group join and the rank histogram both read it
    )
    hist = gv.groupBy("v").agg(F.sum("t_gv").cast("long").alias("t"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    # bounded-table global window (distinct metric values), per the
    # engine's global-window discipline — never over raw rows
    ranked = hist.select(
        "v",
        "t",
        F.coalesce(F.sum("t").over(w), F.lit(0))
        .cast("long")
        .alias("cum_before"),
    )
    two_mid = (
        F.lit(2) * F.col("cum_before") + F.col("t") + F.lit(1)
    ).cast(dec)
    per_group = (
        gv.join(ranked.select("v", two_mid.alias("two_mid")), "v")
        .groupBy("grp")
        .agg(
            F.sum("t_gv").cast("long").alias("n"),
            F.sum(F.col("t_gv").cast(dec) * F.col("two_mid")).alias(
                "two_r"
            ),
        )
    )
    totals = ranked.agg(
        F.sum("t").cast("long").alias("n_total"),
        F.sum(
            F.col("t").cast(dec) * F.col("t").cast(dec) * F.col("t").cast(dec)
            - F.col("t").cast(dec)
        ).alias("tie_term"),
    )
    k_cnt = per_group.agg(F.count(F.lit(1)).cast("long").alias("k_groups"))
    joined = per_group.crossJoin(F.broadcast(totals)).crossJoin(
        F.broadcast(k_cnt)
    )
    nn = F.col("n_total").cast("double")
    r_g = F.col("two_r").cast("double") / F.lit(2.0)
    # Σ_g R_g²/n_g needs the sum over groups — one more bounded agg
    h_sum = joined.agg(
        F.max("n_total").alias("n_total"),
        F.max("tie_term").alias("tie_term"),
        F.max("k_groups").alias("k_groups"),
        F.sum(r_g * r_g / F.col("n").cast("double")).alias("s_rr"),
    )
    h_raw = (
        F.lit(12.0) / (nn * (nn + 1.0)) * F.col("s_rr")
        - 3.0 * (nn + 1.0)
    )
    corr = F.lit(1.0) - F.col("tie_term").cast("double") / (
        nn * nn * nn - nn
    )
    stats = h_sum.select(
        "n_total",
        "k_groups",
        F.round(h_raw, 6).alias("h_stat"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(
            F.when(corr > 0, h_raw / corr).otherwise(F.lit(0.0)), 6
        ).alias("h_corrected"),
        (F.col("k_groups") - F.lit(1)).cast("long").alias("dof"),
    )
    return (
        joined.select(
            "grp",
            "n",
            F.round(r_g / F.col("n").cast("double"), 6).alias("mean_rank"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "grp",
            "n",
            "mean_rank",
            "n_total",
            "k_groups",
            "h_stat",
            "tie_correction",
            "h_corrected",
            "dof",
        )
    )


def bayes_ab_binary(
    units: DataFrame,
    arm_col,
    success_col,
    *,
    arm_a: str = "a",
    arm_b: str = "b",
    alpha0: int = 1,
    beta0: int = 1,
) -> DataFrame:
    """Bayesian two-arm binary test: exact posterior probability that
    arm B's rate beats arm A's under independent Beta(alpha0, beta0)
    priors — the decision quantity Bayesian experiment platforms
    report instead of a p-value. Uses the closed-form finite sum

        P(p_B > p_A) = sum_{i=0}^{aB-1} B(aA+i, bA+bB)
                       / ((bB+i) * B(1+i, bB) * B(aA, bA))

    (Cook 2005, "Exact calculation of beta inequalities") with all
    beta functions via lgamma of INTEGER arguments.

    Shape: ONE conditional agg to the 4-count profile row (s_a, n_a,
    s_b, n_b — the two_proportion_z scan), then the sum runs on the
    driver over that bounded row (the Bradley-Terry replay pattern):
    the term count is aB = s_B + alpha0, data-sized, so the exact sum
    is the small-to-mid-count path; at web scale the normal
    approximation (:func:`two_proportion_z`) is the cheap screen and
    this is the confirmatory rerun on the aggregated counts (which
    are TINY — the sum never touches row data).
    """
    import math

    g = F.col("_arm")
    s = F.col("_succ")
    one = (
        units.select(
            F.col(arm_col).alias("_arm") if isinstance(arm_col, str) else arm_col.alias("_arm"),
            F.col(success_col).alias("_succ") if isinstance(success_col, str) else success_col.alias("_succ"),
        )
        .agg(
            F.count(F.when(g == arm_a, 1)).cast("long").alias("n_a"),
            F.count(F.when(g == arm_b, 1)).cast("long").alias("n_b"),
            F.sum(F.when(g == arm_a, s).otherwise(F.lit(0))).cast("long").alias("s_a"),
            F.sum(F.when(g == arm_b, s).otherwise(F.lit(0))).cast("long").alias("s_b"),
        )
        .collect()[0]
    )
    n_a, n_b = one["n_a"], one["n_b"]
    if one["s_a"] is None and one["s_b"] is None and n_a == 0 and n_b == 0:
        # EMPTY experiment: the oracle's SUM aggregates surface NULL
        # and every posterior readout is NULL — mirror the exact row
        # (r5 empty-sweep; previously crashed on None + int)
        return units.sparkSession.createDataFrame(
            [(0, None, 0, None, None, None, None)],
            "n_a bigint, s_a bigint, n_b bigint, s_b bigint, "
            "post_mean_a double, post_mean_b double, prob_b_beats_a double",
        )
    s_a, s_b = one["s_a"] or 0, one["s_b"] or 0
    aA = s_a + alpha0
    bA = n_a - s_a + beta0
    aB = s_b + alpha0
    bB = n_b - s_b + beta0

    def _lbeta(x: int, y: int) -> float:
        return math.lgamma(x) + math.lgamma(y) - math.lgamma(x + y)

    lb_a = _lbeta(aA, bA)
    prob = 0.0
    for i in range(aB):
        prob += math.exp(
            _lbeta(aA + i, bA + bB) - math.log(bB + i) - _lbeta(1 + i, bB) - lb_a
        )
    spark = units.sparkSession

    def _q6(num: int, den: int) -> float:
        # half-away-from-zero on the 1e-6 grid via integer math —
        # bit-identical to SQL ROUND(num/den, 6) for exact ratios
        return ((2 * num * 1_000_000 + den) // (2 * den)) / 1e6

    row = (
        n_a,
        s_a,
        n_b,
        s_b,
        _q6(aA, aA + bA),
        _q6(aB, aB + bB),
        round(prob, 6),
    )
    return spark.createDataFrame(
        [row],
        "n_a bigint, s_a bigint, n_b bigint, s_b bigint, "
        "post_mean_a double, post_mean_b double, prob_b_beats_a double",
    )


def brown_forsythe(
    df: DataFrame,
    value_col,
    group_col,
    *,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Brown–Forsythe homogeneity-of-variance test (Levene with the
    robust MEDIAN center): do the groups share a spread? The
    assumption check that belongs next to the location tests
    (Welch/Kruskal–Wallis) — equal-variance conclusions from either
    are fragile when this rejects.

    Statistic: one-way ANOVA F on the absolute deviations
    ``z_ij = |x_ij - median_j|``. Per-group rows carry (n, mean |dev|);
    the shared F/df ride every row (the kruskal_wallis output shape).

    Shape: per-group exact ``percentile(x, 0.5)`` agg (the A10
    discipline; ``exact=False`` flips to the GK approx_percentile
    sketch for 10^12-row groups) → k-row median table joined back on
    the group key (AQE reuses the partitioning) → ONE algebraic
    moment agg (n, Σz, Σz²) per group → scalar algebra on the k-row
    table. No second sort, no window.
    """
    v = F.col("_v")
    g = F.col("_g")
    base = df.select(
        (F.col(value_col) if isinstance(value_col, str) else value_col)
        .cast("double")
        .alias("_v"),
        (F.col(group_col) if isinstance(group_col, str) else group_col).alias("_g"),
    ).where(v.isNotNull() & g.isNotNull())
    med_expr = (
        "percentile(_v, 0.5)"
        if exact
        else f"approx_percentile(_v, 0.5, {int(accuracy)})"
    )
    meds = base.groupBy("_g").agg(F.expr(med_expr).alias("_med"))
    moments = (
        base.join(meds, "_g")
        .withColumn("_z", F.abs(v - F.col("_med")))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_z").alias("s1"),
            F.sum(F.col("_z") * F.col("_z")).alias("s2"),
        )
    )
    tot = moments.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("s1").alias("t1"),
        # within-group SS: Σ_j (s2_j − s1_j²/n_j)
        F.sum(F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")).alias("ssw"),
        # Σ_j n_j·z̄_j² = Σ_j s1_j²/n_j  (between-SS needs it)
        F.sum(F.col("s1") * F.col("s1") / F.col("n")).alias("szb"),
    )
    nt = F.col("n_total").cast("double")
    ssb = F.col("szb") - F.col("t1") * F.col("t1") / nt
    df1 = F.col("k_groups") - F.lit(1)
    df2 = F.col("n_total") - F.col("k_groups")
    f_stat = F.when(
        (F.col("ssw") > 0) & (df1 > 0) & (df2 > 0),
        (ssb / df1.cast("double")) / (F.col("ssw") / df2.cast("double")),
    )
    stats = tot.select(
        "n_total",
        "k_groups",
        df1.cast("long").alias("df1"),
        df2.cast("long").alias("df2"),
        F.round(f_stat, 6).alias("f_stat"),
    )
    per_group = moments.select(
        F.col("_g").alias("grp"),
        "n",
        F.round(F.col("s1") / F.col("n").cast("double"), 6).alias("mean_abs_dev"),
    )
    return per_group.crossJoin(F.broadcast(stats)).orderBy("grp")


def cochran_armitage(
    df: DataFrame,
    score_col,
    success_col,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Cochran–Armitage trend test: is a binary rate monotonically
    drifting across ORDERED groups (weeks, doses, cohorts)? The
    inferential companion to a weekly-rate chart — chi-square asks
    "any difference", this asks "a trend in score order", with far
    more power against monotone alternatives.

    z = Σ_i s_i(w_i - w̄·) centered form:
    T = Σ_i (s_i - n_i·p̄)·w_i,  Var(T) = p̄(1-p̄)·(Σ n_i w_i² - (Σ n_i w_i)²/N)

    Shape: ONE conditional agg to per-score (n_i, s_i) — bounded by
    the score domain — then scalar algebra on that tiny table.
    Output: per-score rows (score, n, successes, rate) plus the
    shared z/T/variance riding each row.
    """
    w = F.col("_w")
    s = F.col("_s")
    base = df.select(
        (F.col(score_col) if isinstance(score_col, str) else score_col)
        .cast("double")
        .alias("_w"),
        (F.col(success_col) if isinstance(success_col, str) else success_col)
        .cast("long")
        .alias("_s"),
    ).where(w.isNotNull() & s.isNotNull())
    per = base.groupBy("_w").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(s).cast("long").alias("succ"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum("succ").cast("long").alias("s_total"),
        F.sum(F.col("n").cast("double") * w).alias("nw"),
        F.sum(F.col("n").cast("double") * w * w).alias("nww"),
        F.sum(F.col("succ").cast("double") * w).alias("sw"),
    )
    nt = F.col("n_total").cast("double")
    pbar = F.col("s_total").cast("double") / nt
    t_stat = F.col("sw") - pbar * F.col("nw")
    var_t = pbar * (F.lit(1.0) - pbar) * (
        F.col("nww") - F.col("nw") * F.col("nw") / nt
    )
    z = F.when(var_t > 0, t_stat / F.sqrt(var_t)).otherwise(F.lit(0.0))
    stats = tot.select(
        "n_total",
        "s_total",
        F.round(t_stat, round_to).alias("t_stat"),
        F.round(var_t, round_to).alias("var_t"),
        F.round(z, round_to).alias("z_trend"),
    )
    per_rows = per.select(
        F.col("_w").alias("score"),
        "n",
        "succ",
        F.round(F.col("succ").cast("double") / F.col("n").cast("double"), round_to).alias(
            "rate"
        ),
    )
    return per_rows.crossJoin(F.broadcast(stats)).orderBy("score")


def yuen_trimmed_test(
    units: DataFrame,
    value_col,
    arm_col,
    *,
    arm_a: str = "a",
    arm_b: str = "b",
    trim: float = 0.2,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Yuen's trimmed-mean two-sample test (Yuen 1974), the robust
    replacement for Welch when tails/outliers poison the means:
    compare γ-trimmed means with winsorized variances.

    Semantics note: this is the QUANTILE-winsorized variant (the
    ``winsorize_value`` convention) — the trim boundaries are the
    per-arm γ/1−γ quantiles, the trimmed mean averages values inside
    [q_lo, q_hi], and the winsorized variance is the variance of
    values clamped to that range; with heavy ties the kept count h
    can differ from the order-statistic ⌊γn⌋ formulation (documented,
    deterministic, SQL-expressible — exact order-statistic trimming
    would need a global rank). t = (m̄₁−m̄₂)/√(d₁+d₂) with
    dᵢ = s²_wᵢ (nᵢ−1) / (hᵢ(hᵢ−1)); Welch–Satterthwaite df; p via
    the portable normal CDF (functions/stats.py).

    Shape: per-arm exact ``percentile`` agg (A10 discipline,
    ``exact=False`` → GK sketch) → broadcast the 2-row quantile table
    → ONE conditional moment agg → scalar algebra. One corpus scan
    after the quantile pass.
    """
    from ..functions.stats import two_sided_p

    v = F.col("_v")
    g = F.col("_g")
    base = units.select(
        (F.col(value_col) if isinstance(value_col, str) else value_col)
        .cast("double")
        .alias("_v"),
        (F.col(arm_col) if isinstance(arm_col, str) else arm_col).alias("_g"),
    ).where(v.isNotNull() & g.isin(arm_a, arm_b))
    lo_e = (
        f"percentile(_v, {trim})" if exact else f"approx_percentile(_v, {trim}, {accuracy})"
    )
    hi_e = (
        f"percentile(_v, {1.0 - trim})"
        if exact
        else f"approx_percentile(_v, {1.0 - trim}, {accuracy})"
    )
    qs = base.groupBy("_g").agg(
        F.expr(lo_e).alias("_qlo"), F.expr(hi_e).alias("_qhi")
    )
    j = base.join(F.broadcast(qs), "_g")
    w = F.greatest(F.least(v, F.col("_qhi")), F.col("_qlo"))
    kept = (v >= F.col("_qlo")) & (v <= F.col("_qhi"))
    mom = j.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(kept.cast("long")).cast("long").alias("h"),
        F.sum(F.when(kept, v).otherwise(F.lit(0.0))).alias("st"),
        F.sum(w).alias("sw"),
        F.sum(w * w).alias("sww"),
    )
    # assemble the two arm rows driver-side (mom is <= 2 rows): a
    # missing/empty arm contributes NULL moments instead of silently
    # collapsing the cross join to ZERO rows (r5 empty-sweep — the
    # oracle's scalar subqueries emit one all-NULL row); collected
    # doubles round-trip exactly, so non-degenerate results are
    # unchanged
    _rows = {r["_g"]: r for r in mom.collect()}

    def _side(arm, field):
        r = _rows.get(arm)
        return None if r is None else r[field]

    one = units.sparkSession.createDataFrame(
        [(
            _side(arm_a, "n"), _side(arm_a, "h"), _side(arm_a, "st"),
            _side(arm_a, "sw"), _side(arm_a, "sww"),
            _side(arm_b, "n"), _side(arm_b, "h"), _side(arm_b, "st"),
            _side(arm_b, "sw"), _side(arm_b, "sww"),
        )],
        "n_a bigint, h_a bigint, st_a double, sw_a double, sww_a double, "
        "n_b bigint, h_b bigint, st_b double, sw_b double, sww_b double",
    )

    def _d(nc, hc, swc, swwc):
        n = F.col(nc).cast("double")
        h = F.col(hc).cast("double")
        var_w = F.when(
            F.col(nc) > 1,
            (F.col(swwc) - F.col(swc) * F.col(swc) / n) / (n - F.lit(1.0)),
        )
        return F.when(
            (F.col(hc) > 1), var_w * (n - F.lit(1.0)) / (h * (h - F.lit(1.0)))
        )

    m_a = F.col("st_a") / F.col("h_a").cast("double")
    m_b = F.col("st_b") / F.col("h_b").cast("double")
    d_a = _d("n_a", "h_a", "sw_a", "sww_a")
    d_b = _d("n_b", "h_b", "sw_b", "sww_b")
    t = F.when((d_a + d_b) > 0, (m_a - m_b) / F.sqrt(d_a + d_b))
    dof = F.when(
        (d_a > 0) | (d_b > 0),
        (d_a + d_b) * (d_a + d_b)
        / (
            d_a * d_a / F.greatest(F.col("h_a").cast("double") - 1.0, F.lit(1.0))
            + d_b * d_b / F.greatest(F.col("h_b").cast("double") - 1.0, F.lit(1.0))
        ),
    )
    return one.select(
        "n_a", "h_a", "n_b", "h_b",
        F.round(m_a, 6).alias("mean_trim_a"),
        F.round(m_b, 6).alias("mean_trim_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("dof"),
        F.round(two_sided_p(F.round(t, 6)), 6).alias("p_normal"),
    )


def standardized_rates(
    df: DataFrame,
    arm_col,
    outcome_col,
    stratum_col,
    *,
    arm_a: str = "a",
    arm_b: str = "b",
) -> DataFrame:
    """Direct standardization — the FIX for the Simpson trap
    :func:`simpsons_paradox_screen` detects: re-weight arm B's
    per-stratum rates to arm A's stratum mix, so the comparison is
    apples-to-apples on the stratifier. Output one row: raw per-arm
    rates, the standardized B rate Σ_s w_s^A·rate_B(s), and both the
    raw and adjusted differences (sign disagreement between them IS
    the paradox, now with the corrected magnitude).

    Strata where B has no units contribute B's POOLED rate (the
    standard small-cell fallback, deterministic and documented).
    Shape: ONE conditional agg to the (stratum × 4-count) bounded
    table + a 1-row reduce — the bayes/two-proportion profile-row
    discipline.
    """
    g = F.col("_g")
    y = F.col("_y")
    base = df.select(
        (F.col(arm_col) if isinstance(arm_col, str) else arm_col).alias("_g"),
        (F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col)
        .cast("long")
        .alias("_y"),
        (F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col)
        .cast("string")
        .alias("_s"),
    ).where(g.isNotNull() & y.isNotNull() & F.col("_s").isNotNull())
    per = base.groupBy("_s").agg(
        F.count(F.when(g == arm_a, 1)).cast("long").alias("n_a"),
        F.sum(F.when(g == arm_a, y).otherwise(F.lit(0))).cast("long").alias("s_a"),
        F.count(F.when(g == arm_b, 1)).cast("long").alias("n_b"),
        F.sum(F.when(g == arm_b, y).otherwise(F.lit(0))).cast("long").alias("s_b"),
    )
    tot = per.agg(
        F.sum("n_a").cast("long").alias("t_na"),
        F.sum("s_a").cast("long").alias("t_sa"),
        F.sum("n_b").cast("long").alias("t_nb"),
        F.sum("s_b").cast("long").alias("t_sb"),
    )
    j = per.crossJoin(F.broadcast(tot))
    pooled_b = F.when(
        F.col("t_nb") > 0, F.col("t_sb") / F.col("t_nb").cast("double")
    ).otherwise(F.lit(0.0))
    rate_b_s = F.when(
        F.col("n_b") > 0, F.col("s_b") / F.col("n_b").cast("double")
    ).otherwise(pooled_b)
    w_a = F.col("n_a").cast("double") / F.col("t_na").cast("double")
    std = j.agg(
        F.sum(w_a * rate_b_s).alias("rate_b_std"),
        F.max("t_na").alias("n_a"),
        F.max("t_sa").alias("s_a"),
        F.max("t_nb").alias("n_b"),
        F.max("t_sb").alias("s_b"),
    )
    rate_a = F.when(
        F.col("n_a") > 0, F.col("s_a") / F.col("n_a").cast("double")
    ).otherwise(F.lit(0.0))
    rate_b = F.when(
        F.col("n_b") > 0, F.col("s_b") / F.col("n_b").cast("double")
    ).otherwise(F.lit(0.0))
    return std.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(F.col("rate_b_std"), 6).alias("rate_b_std"),
        F.round(rate_b - rate_a, 6).alias("diff_raw"),
        F.round(F.col("rate_b_std") - rate_a, 6).alias("diff_std"),
    )


def welch_anova(
    df: DataFrame,
    value_col,
    group_col,
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (Welch 1951) — the
    k-sample location test that does NOT assume equal variances,
    completing the trio: Kruskal–Wallis (rank-based),
    :func:`brown_forsythe` (is the spread equal?), and this (are the
    means equal, given it often isn't?).

    F* = [Σ wᵢ(x̄ᵢ − x̄_w)² / (k−1)] / [1 + 2(k−2)/(k²−1)·Λ],
    wᵢ = nᵢ/s²ᵢ, x̄_w = Σwᵢx̄ᵢ/Σwᵢ,
    Λ = Σ (1−wᵢ/Σw)²/(nᵢ−1), df₂ = (k²−1)/(3Λ).

    Shape: ONE algebraic moment agg per group (n, Σx, Σx²) → all the
    algebra on the k-row table (two tiny reduces). Per-group rows
    (n, mean, var) ride with the shared F*/df₁/df₂ (the
    kruskal_wallis output shape).
    """
    v = F.col("_v")
    g = F.col("_g")
    base = df.select(
        (F.col(value_col) if isinstance(value_col, str) else value_col)
        .cast("double")
        .alias("_v"),
        (F.col(group_col) if isinstance(group_col, str) else group_col).alias("_g"),
    ).where(v.isNotNull() & g.isNotNull())
    mom = base.groupBy(g.alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    var = F.when(
        F.col("n") > 1,
        (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - F.lit(1.0)),
    )
    w = F.when(var > 0, n / var)
    per = mom.select(
        "grp", "n", mean.alias("_m"), var.alias("_var"), w.alias("_w")
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("_w").alias("_sw"),
        F.sum(F.col("_w") * F.col("_m")).alias("_swm"),
    )
    j = per.crossJoin(F.broadcast(tot))
    xw = F.col("_swm") / F.col("_sw")
    num_terms = j.agg(
        F.sum(F.col("_w") * (F.col("_m") - xw) * (F.col("_m") - xw)).alias("_num"),
        F.sum(
            (F.lit(1.0) - F.col("_w") / F.col("_sw"))
            * (F.lit(1.0) - F.col("_w") / F.col("_sw"))
            / (F.col("n").cast("double") - F.lit(1.0))
        ).alias("_lam"),
        F.max("k_groups").alias("k_groups"),
    )
    k = F.col("k_groups").cast("double")
    f_star = (F.col("_num") / (k - F.lit(1.0))) / (
        F.lit(1.0)
        + F.lit(2.0) * (k - F.lit(2.0)) / (k * k - F.lit(1.0)) * F.col("_lam")
    )
    df2 = (k * k - F.lit(1.0)) / (F.lit(3.0) * F.col("_lam"))
    stats = num_terms.select(
        F.col("k_groups").cast("long").alias("k_groups"),
        (F.col("k_groups") - F.lit(1)).cast("long").alias("df1"),
        F.round(F.when(F.col("_lam") > 0, df2), 6).alias("df2"),
        F.round(F.when((F.col("_lam") >= 0) & (F.col("k_groups") > 1), f_star), 6).alias(
            "f_stat"
        ),
    )
    rows = per.select(
        "grp",
        "n",
        F.round(F.col("_m"), 6).alias("mean"),
        F.round(F.col("_var"), 6).alias("variance"),
    )
    return rows.crossJoin(F.broadcast(stats)).orderBy("grp")


def mcnemar_paired(
    units: DataFrame,
    pre_col: str,
    post_col: str,
    *,
    continuity: bool = True,
) -> DataFrame:
    """McNemar's test for paired binary outcomes — did a within-unit
    binary property CHANGE between two conditions (pre/post a rollout,
    first-half vs second-half of a conversation)? The paired
    complement to :func:`two_proportion_z`, which assumes independent
    arms and is anticonservative on paired data. Only the DISCORDANT
    pairs carry information: with ``b01`` = (pre=0, post=1) and
    ``b10`` = (pre=1, post=0),

        chi2 = (|b01 - b10| - c)^2 / (b01 + b10),   c = 1 if continuity

    on 1 df; the two-sided p comes from the engine's shared normal
    polynomial via z = sqrt(chi2) (chi2_1 upper tail = two-sided
    normal tail). Reference analog: the error-analysis slice
    comparisons (``src/error_analysis.py``) made pair-aware.

    Distributed shape: ONE conditional hash aggregate over the unit
    table to the 4-count concordance profile (b00, b01, b10, b11) —
    map-side combined, no window, no sort — then fixed-shape scalar
    algebra on the single row. Exact integer counts; the only doubles
    are the final chi2/p expressions, identical in both engines.

    Degenerate guard: zero discordant pairs → chi2 = 0.0, p = 1.0
    (defined output, not NULL — the empty-arm-guard discipline).
    """
    from kkbox_churn_prediction_spark.functions.stats import two_sided_p

    a = F.col(pre_col).cast("int")
    b = F.col(post_col).cast("int")
    one = units.agg(
        F.sum(F.when((a == 0) & (b == 0), 1).otherwise(0)).cast("long").alias("b00"),
        F.sum(F.when((a == 0) & (b == 1), 1).otherwise(0)).cast("long").alias("b01"),
        F.sum(F.when((a == 1) & (b == 0), 1).otherwise(0)).cast("long").alias("b10"),
        F.sum(F.when((a == 1) & (b == 1), 1).otherwise(0)).cast("long").alias("b11"),
    )
    disc = (F.col("b01") + F.col("b10")).cast("double")
    gap = F.abs(F.col("b01") - F.col("b10")).cast("double")
    adj = F.greatest(gap - F.lit(1.0 if continuity else 0.0), F.lit(0.0))
    chi2 = F.when(disc > 0, adj * adj / disc).otherwise(F.lit(0.0))
    return one.select(
        "b00",
        "b01",
        "b10",
        "b11",
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.when(disc > 0, two_sided_p(F.sqrt(chi2))).otherwise(F.lit(1.0)),
            6,
        ).alias("p_value"),
    )


def fisher_exact_greater(
    units: DataFrame,
    arm_col,
    success_col,
    *,
    arm_a: str = "a",
    arm_b: str = "b",
) -> DataFrame:
    """Fisher's exact test (one-sided, ``greater``: is arm A's success
    rate higher than chance given the margins?) on the 2x2 table of
    (arm x success) — the SMALL-COUNT companion to
    :func:`two_proportion_z`, whose normal approximation breaks below
    ~5 expected successes per cell (rare safety events, early
    experiment peeks). P = sum of hypergeometric probabilities for
    tables at least as extreme as observed in the ``greater``
    direction.

    One-sided by DESIGN: the ``greater`` tail is an index range
    (k = s_a .. min(r1, c1)), so which terms enter the sum is pure
    integer arithmetic — fully deterministic cross-engine. (The
    two-sided variant includes terms by a float probability-threshold
    comparison whose inclusion set can flip on the last bit between
    lgamma implementations; doubling or the one-sided read is the
    robust production form.)

    Shape: the :func:`bayes_ab_binary` discipline — ONE conditional
    hash aggregate to the 4-count profile row, then the finite lgamma
    sum runs on the driver over that bounded row (term count
    <= min(r1, c1), data-sized but never touching row data; the 10^12
    path aggregates first, and at large counts the z-test is the
    screen with this as the confirmatory rerun on tiny counts).
    """
    import math

    g = F.col("_arm")
    s = F.col("_succ")
    one = (
        units.select(
            F.col(arm_col).alias("_arm") if isinstance(arm_col, str) else arm_col.alias("_arm"),
            F.col(success_col).alias("_succ")
            if isinstance(success_col, str)
            else success_col.alias("_succ"),
        )
        .agg(
            F.count(F.when(g == arm_a, 1)).cast("long").alias("n_a"),
            F.count(F.when(g == arm_b, 1)).cast("long").alias("n_b"),
            F.sum(F.when(g == arm_a, s).otherwise(F.lit(0))).cast("long").alias("s_a"),
            F.sum(F.when(g == arm_b, s).otherwise(F.lit(0))).cast("long").alias("s_b"),
        )
        .collect()[0]
    )
    n_a, n_b = one["n_a"], one["n_b"]
    if one["s_a"] is None and one["s_b"] is None and n_a == 0 and n_b == 0:
        # EMPTY experiment: mirror the oracle's exact degenerate row
        # (NULL sums/odds, p_greater 0.0 from its empty term sum)
        return units.sparkSession.createDataFrame(
            [(0, None, 0, None, None, 0.0)],
            "n_a bigint, s_a bigint, n_b bigint, s_b bigint, "
            "odds_ratio double, p_greater double",
        )
    s_a, s_b = one["s_a"] or 0, one["s_b"] or 0
    n = n_a + n_b
    c1 = s_a + s_b  # total successes
    k_hi = min(n_a, c1)

    def _lchoose(nn: int, kk: int) -> float:
        return (
            math.lgamma(nn + 1) - math.lgamma(kk + 1) - math.lgamma(nn - kk + 1)
        )

    denom = _lchoose(n, c1) if n >= c1 else 0.0
    p = 0.0
    for k in range(s_a, k_hi + 1):
        if k > n_a or c1 - k > n_b or c1 - k < 0:
            continue
        p += math.exp(_lchoose(n_a, k) + _lchoose(n_b, c1 - k) - denom)
    p = min(p, 1.0)
    # sample odds ratio on the 1e-6 grid (integer cross products; 0-cell -> NULL)
    num = s_a * (n_b - s_b)
    den = s_b * (n_a - s_a)
    odds = (
        ((2 * num * 1_000_000 + den) // (2 * den)) / 1e6 if den > 0 else None
    )
    spark = units.sparkSession
    return spark.createDataFrame(
        [(n_a, s_a, n_b, s_b, odds, round(p, 6))],
        "n_a bigint, s_a bigint, n_b bigint, s_b bigint, "
        "odds_ratio double, p_greater double",
    )


def stratified_ate(
    units: DataFrame,
    t_col: str,
    y_col: str,
    x_col: str,
) -> DataFrame:
    """Stratified (subclassification) average treatment effect on a
    DISCRETE confounder: within each stratum of ``x`` the treatment
    is as-good-as-random, so the population-weighted within-stratum
    arm differences identify the ATE the naive pooled difference
    gets wrong — the classic Cochran estimator, the
    stratify-don't-model sibling of :func:`ipw_ate` (IPW extrapolates
    a propensity model; this conditions exactly and HONESTLY reports
    the mass it must drop — strata with only one arm, where no
    within-stratum contrast exists).

    Output: ONE row — ``(n_units, n_strata, n_strata_used,
    excluded_share, naive_diff, ate_stratified)``.

    Shape: ONE conditional hash agg per stratum (exact long counts
    and Σy per arm; strata table bounded by |x| support), then
    fixed-shape algebra on the bounded table with the per-stratum
    rational terms on the 1e-9 floor grid summed as decimals
    (order-free — the average_precision discipline).
    """
    t = F.col(t_col).cast("int")
    y = F.col(y_col).cast("long")
    per = units.groupBy(F.col(x_col).alias("_x")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(t).cast("long").alias("nt"),
        F.sum(F.when(t == 1, y).otherwise(F.lit(0))).cast("long").alias("syt"),
        F.sum(F.when(t == 0, y).otherwise(F.lit(0))).cast("long").alias("syc"),
    )
    nc = F.col("n") - F.col("nt")
    usable = (F.col("nt") > 0) & (nc > 0)
    # per-stratum term: n_s * (mean_t - mean_c) on the 1e-9 grid
    diff = (
        F.col("syt").cast("double") / F.col("nt").cast("double")
        - F.col("syc").cast("double") / nc.cast("double")
    )
    term = F.floor(F.col("n").cast("double") * diff * F.lit(1.0e9)).cast(
        "decimal(38,0)"
    )
    red = per.agg(
        F.sum("n").cast("long").alias("n_units"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(usable.cast("int")).cast("long").alias("n_strata_used"),
        F.sum(F.when(usable, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_n_used"),
        F.sum(F.when(usable, term)).alias("_num"),
        F.sum("nt").cast("long").alias("_nt_all"),
        F.sum("syt").cast("long").alias("_syt_all"),
        F.sum("syc").cast("long").alias("_syc_all"),
    )
    naive = F.col("_syt_all").cast("double") / F.col("_nt_all").cast(
        "double"
    ) - F.col("_syc_all").cast("double") / (
        F.col("n_units") - F.col("_nt_all")
    ).cast("double")
    return red.select(
        "n_units",
        "n_strata",
        "n_strata_used",
        F.round(
            F.lit(1.0) - F.col("_n_used").cast("double") / F.col("n_units"), 6
        ).alias("excluded_share"),
        F.round(naive, 6).alias("naive_diff"),
        F.round(
            F.col("_num").cast("double")
            / (F.col("_n_used").cast("double") * F.lit(1.0e9)),
            6,
        ).alias("ate_stratified"),
    )


def risk_ratio_ci(
    units: DataFrame,
    arm_col,
    success_col,
    *,
    arm_a: str = "a",
    arm_b: str = "b",
    z: float = 1.959964,
) -> DataFrame:
    """Binary-outcome EFFECT SIZES with confidence intervals — the
    reporting layer the test family (z, Fisher, Bayes) stops short
    of: relative risk with the log-scale (Katz) CI, odds ratio with
    the Woolf CI, and Cohen's h (the arcsine-stabilized difference
    whose power analysis :func:`power_mde` assumes). A p-value says
    "real"; these say "how big, with what precision" — the pair a
    decision needs. Zero cells emit defined NULL intervals (the
    empty-arm discipline), never ±inf.

    Shape: ONE conditional hash agg to the 4-count profile row,
    fixed-shape scalar algebra after.
    """
    g = F.col("_arm")
    s = F.col("_succ")
    one = units.select(
        F.col(arm_col).alias("_arm") if isinstance(arm_col, str) else arm_col.alias("_arm"),
        F.col(success_col).alias("_succ")
        if isinstance(success_col, str)
        else success_col.alias("_succ"),
    ).agg(
        F.count(F.when(g == arm_a, 1)).cast("long").alias("n_a"),
        F.count(F.when(g == arm_b, 1)).cast("long").alias("n_b"),
        F.sum(F.when(g == arm_a, s).otherwise(F.lit(0))).cast("long").alias("s_a"),
        F.sum(F.when(g == arm_b, s).otherwise(F.lit(0))).cast("long").alias("s_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    fa, fb = na - sa, nb - sb
    p1 = F.when(F.col("n_a") > 0, sa / na)
    p2 = F.when(F.col("n_b") > 0, sb / nb)
    rr = F.when((sb > 0) & (F.col("n_a") > 0) & (F.col("n_b") > 0), (sa / na) / (sb / nb))
    se_lnrr = F.when(
        (sa > 0) & (sb > 0),
        F.sqrt(F.lit(1.0) / sa - F.lit(1.0) / na + F.lit(1.0) / sb - F.lit(1.0) / nb),
    )
    orr = F.when((sb > 0) & (fa > 0), (sa * fb) / (sb * fa))
    se_lnor = F.when(
        (sa > 0) & (sb > 0) & (fa > 0) & (fb > 0),
        F.sqrt(F.lit(1.0) / sa + F.lit(1.0) / fa + F.lit(1.0) / sb + F.lit(1.0) / fb),
    )
    h = F.lit(2.0) * F.asin(F.sqrt(p1)) - F.lit(2.0) * F.asin(F.sqrt(p2))
    zz = F.lit(float(z))
    return one.select(
        "n_a",
        "s_a",
        "n_b",
        "s_b",
        F.round(p1, 6).alias("rate_a"),
        F.round(p2, 6).alias("rate_b"),
        F.round(rr, 6).alias("risk_ratio"),
        F.round(F.when(se_lnrr.isNotNull(), rr * F.exp(-zz * se_lnrr)), 6).alias(
            "rr_ci_lo"
        ),
        F.round(F.when(se_lnrr.isNotNull(), rr * F.exp(zz * se_lnrr)), 6).alias(
            "rr_ci_hi"
        ),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.when(se_lnor.isNotNull(), orr * F.exp(-zz * se_lnor)), 6).alias(
            "or_ci_lo"
        ),
        F.round(F.when(se_lnor.isNotNull(), orr * F.exp(zz * se_lnor)), 6).alias(
            "or_ci_hi"
        ),
        F.round(h, 6).alias("cohens_h"),
    )


def mantel_haenszel(
    units: DataFrame,
    stratum_col: str,
    arm_col,
    success_col,
    *,
    arm_a: str = "a",
    arm_b: str = "b",
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio + continuity-corrected
    chi-square across strata — the BINARY-outcome sibling of
    :func:`stratified_ate` (that pools mean differences; this pools
    2×2 odds ratios, the epidemiology/experimentation standard for
    "is the effect real after conditioning, and how big"):

        OR_MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i)
        chi2  = (|Σa_i − ΣE_i| − 0.5)² / ΣV_i

    with the hypergeometric E/V per stratum. Output: ONE row —
    counts, OR_MH, chi2, p (portable CDF). Single-arm strata
    contribute nothing to either sum (standard MH behavior —
    their a·d/n and b·c/n terms are 0 when a margin is empty).

    Shape: one per-stratum conditional agg (bounded table), per-
    stratum rational terms on the 1e-9 floor grid summed as decimals
    (order-free), fixed-shape final algebra.
    """
    from kkbox_churn_prediction_spark.functions.stats import two_sided_p

    g = F.col("_arm")
    s = F.col("_succ")
    per = (
        units.select(
            F.col(stratum_col).alias("_st"),
            F.col(arm_col).alias("_arm") if isinstance(arm_col, str) else arm_col.alias("_arm"),
            F.col(success_col).alias("_succ")
            if isinstance(success_col, str)
            else success_col.alias("_succ"),
        )
        .groupBy("_st")
        .agg(
            F.sum(F.when((g == arm_a) & (s == 1), 1).otherwise(0)).cast("long").alias("a"),
            F.sum(F.when((g == arm_a) & (s == 0), 1).otherwise(0)).cast("long").alias("b"),
            F.sum(F.when((g == arm_b) & (s == 1), 1).otherwise(0)).cast("long").alias("c"),
            F.sum(F.when((g == arm_b) & (s == 0), 1).otherwise(0)).cast("long").alias("d"),
        )
    )
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    c = F.col("c").cast("double")
    d = F.col("d").cast("double")
    grid = F.lit(1.0e9)
    dec = "decimal(38,0)"

    def t9(expr):
        return F.floor(expr * grid).cast(dec)

    r1, r0 = a + b, c + d
    c1, c0 = a + c, b + d
    e = F.when(n > 0, r1 * c1 / n).otherwise(F.lit(0.0))
    v = F.when(n > 1, r1 * r0 * c1 * c0 / (n * n * (n - F.lit(1.0)))).otherwise(
        F.lit(0.0)
    )
    red = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("sum_a"),
        (F.sum("a") + F.sum("b") + F.sum("c") + F.sum("d"))
        .cast("long")
        .alias("n_units"),
        F.sum(t9(F.when(n > 0, a * d / n).otherwise(F.lit(0.0)))).alias("_num"),
        F.sum(t9(F.when(n > 0, b * c / n).otherwise(F.lit(0.0)))).alias("_den"),
        F.sum(t9(e)).alias("_e"),
        F.sum(t9(v)).alias("_v"),
    )
    num = F.col("_num").cast("double") / 1.0e9
    den = F.col("_den").cast("double") / 1.0e9
    ee = F.col("_e").cast("double") / 1.0e9
    vv = F.col("_v").cast("double") / 1.0e9
    gap = F.greatest(
        F.abs(F.col("sum_a").cast("double") - ee) - F.lit(0.5), F.lit(0.0)
    )
    chi2 = F.when(vv > 0, gap * gap / vv).otherwise(F.lit(0.0))
    return red.select(
        "n_strata",
        "n_units",
        F.round(F.when(den > 0, num / den), 6).alias("or_mh"),
        F.round(chi2, 6).alias("chi2_mh"),
        F.round(
            F.when(vv > 0, two_sided_p(F.sqrt(chi2))).otherwise(F.lit(1.0)), 6
        ).alias("p_value"),
    )


def event_study(
    units: DataFrame,
    arm_col: str,
    period_col: str,
    value_col: str,
    *,
    treatment: str = "t",
    anchor_period: int = -1,
    max_abs_period: int = 4,
) -> DataFrame:
    """Event-study (leads-and-lags) table around an intervention:
    per RELATIVE period r, the treated-minus-control outcome gap,
    re-anchored to the last pre-period — ``coef(r) = gap(r) −
    gap(anchor)`` — so the pre-period coefficients read as the
    PARALLEL-TRENDS check (flat ≈ 0 before r = 0) and the
    post-period ones as the dynamic effect path. The multi-period
    generalization of :func:`did_paired` (DiD compresses the path to
    one number and HIDES pre-trend violations; this is the picture
    referees ask for). Input: one row per (unit, period) with the
    arm, relative period index, and outcome.

    Output per r in [−max_abs_period, max_abs_period]:
    ``(rel_period, n_treated, n_control, mean_treated, mean_control,
    gap, coef)``.

    Shape: ONE conditional hash agg per (period) — exact long counts
    and Σy per arm — then fixed-shape algebra on the bounded period
    table with the anchor row broadcast back (1-row join). No
    windows over raw data.
    """
    t = (F.col(arm_col) == treatment).cast("int")
    y = F.col(value_col).cast("long")
    r = F.col(period_col).cast("int")
    per = (
        units.where(
            (r >= -int(max_abs_period)) & (r <= int(max_abs_period))
        )
        .groupBy(r.alias("rel_period"))
        .agg(
            F.sum(t).cast("long").alias("n_t"),
            F.sum(1 - t).cast("long").alias("n_c"),
            F.sum(F.when(t == 1, y).otherwise(F.lit(0))).cast("long").alias("sy_t"),
            F.sum(F.when(t == 0, y).otherwise(F.lit(0))).cast("long").alias("sy_c"),
        )
    )
    mt = F.col("sy_t").cast("double") / F.col("n_t").cast("double")
    mc = F.col("sy_c").cast("double") / F.col("n_c").cast("double")
    gap = F.when((F.col("n_t") > 0) & (F.col("n_c") > 0), mt - mc)
    with_gap = per.select(
        "rel_period", "n_t", "n_c", mt.alias("_mt"), mc.alias("_mc"), gap.alias("_gap")
    )
    anchor = with_gap.where(F.col("rel_period") == int(anchor_period)).select(
        F.col("_gap").alias("_anchor_gap")
    )
    return (
        with_gap.crossJoin(F.broadcast(anchor))
        .select(
            "rel_period",
            F.col("n_t").alias("n_treated"),
            F.col("n_c").alias("n_control"),
            F.round(F.col("_mt"), 6).alias("mean_treated"),
            F.round(F.col("_mc"), 6).alias("mean_control"),
            F.round(F.col("_gap"), 6).alias("gap"),
            F.round(F.col("_gap") - F.col("_anchor_gap"), 6).alias("coef"),
        )
        .orderBy("rel_period")
    )
