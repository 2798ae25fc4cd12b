"""Categorical association statistics: mutual information, chi-square.

Feature-relevance screening for the encoded categoricals the engine
produces (``operators/encoders.py``): MI(feature; label) ranks
features before a training run, chi-square/Cramér's V flags
degenerate or near-duplicate columns. The reference does its
association eyeballing in pandas on the driver
(``src/error_analysis.py`` groupbys); at 10^12 rows the counts must
reduce in the engine — and only the O(|X|·|Y|) contingency table ever
leaves the executors.

Distributed shape: ONE groupBy (x, y) over the stream (the only
full-data exchange, map-side combined). Marginals and totals are
window sums over the contingency table itself — tiny by construction
— and the statistics are closed-form column expressions over it.
No second pass, no collect, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def contingency(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """(x, y, n_xy, n_x, n_y, n) contingency rows with marginals
    attached via windows over the counted table (NULL is a category —
    filter upstream if not wanted)."""
    joint = df.groupBy(x_col, y_col).agg(F.count(F.lit(1)).alias("n_xy"))
    wx = Window.partitionBy(x_col)
    wy = Window.partitionBy(y_col)
    # grand total as a broadcast 1-row agg, NOT a global window — even
    # on a tiny table an empty-partition Window ships everything to one
    # task and trips the single-partition lint this repo plan-guards
    total = joint.agg(F.sum("n_xy").alias("n"))
    return (
        joint.select(
            x_col,
            y_col,
            "n_xy",
            F.sum("n_xy").over(wx).alias("n_x"),
            F.sum("n_xy").over(wy).alias("n_y"),
        )
        .crossJoin(F.broadcast(total))
    )


def mutual_information(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One row: ``mi`` (bits), ``h_x``, ``h_y``, ``nmi``
    (MI / min(H(x), H(y)); 0.0 when either variable is constant) and
    ``n``. MI = Σ p(x,y)·log2(p(x,y)·n² / (n_x·n_y·n)) — computed on
    the contingency table, exact, no sampling."""
    c = contingency(df, x_col, y_col)
    n = F.col("n").cast("double")
    p_xy = F.col("n_xy") / n
    # marginal entropies from the SAME cell pass: weighting each x's
    # entropy term by its cells' shares (Σ_y n_xy/n_x = 1) turns the
    # per-marginal sum into a per-cell sum — one aggregate, not three
    # re-derivations of the contingency (plan: 3× fewer stream aggs)
    hx_term = (F.col("n_xy") / F.col("n_x")) * (
        -(F.col("n_x") / n) * F.log2(F.col("n_x") / n)
    )
    hy_term = (F.col("n_xy") / F.col("n_y")) * (
        -(F.col("n_y") / n) * F.log2(F.col("n_y") / n)
    )
    out = c.agg(
        F.sum(
            p_xy * F.log2(F.col("n_xy") * n / (F.col("n_x") * F.col("n_y")))
        ).alias("mi"),
        F.sum(hx_term).alias("h_x"),
        F.sum(hy_term).alias("h_y"),
        F.max("n").alias("n"),
    )
    return out.select(
        F.col("mi").cast("double").alias("mi"),
        F.col("h_x").cast("double").alias("h_x"),
        F.col("h_y").cast("double").alias("h_y"),
        F.when(
            F.least("h_x", "h_y") > 0, F.col("mi") / F.least("h_x", "h_y")
        ).otherwise(F.lit(0.0)).alias("nmi"),
        F.col("n").cast("bigint").alias("n"),
    )


def chi_square(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One row: ``chi2`` statistic, ``dof``, ``cramers_v`` over the
    OBSERVED contingency table (cells with zero observed count
    contribute their expected mass via the closed form
    χ² = n·(Σ n_xy²/(n_x·n_y) − 1), which needs no dense grid —
    missing cells are handled algebraically, so sparse high-
    cardinality pairs never materialize |X|×|Y| rows)."""
    c = contingency(df, x_col, y_col)
    n = F.col("n").cast("double")
    # marginal cardinalities via the share trick (Σ_cells n_xy/n_x =
    # |X|): no COUNT(DISTINCT) pair → no Expand in the plan; the float
    # sum is an exact small integer up to rounding, made exact again
    stat = c.agg(
        (
            F.max(n)
            * (F.sum(F.col("n_xy") * F.col("n_xy") / (F.col("n_x") * F.col("n_y"))) - 1)
        ).alias("chi2"),
        # coalesce 0: on an EMPTY table the support-count sums are
        # NULL while the oracle's COUNT(DISTINCT) is 0 — dof then
        # agrees at (0-1)*(0-1) = 1 (r5 empty-sweep)
        F.coalesce(F.round(F.sum(F.col("n_xy") / F.col("n_x"))), F.lit(0.0))
        .cast("bigint")
        .alias("_kx"),
        F.coalesce(F.round(F.sum(F.col("n_xy") / F.col("n_y"))), F.lit(0.0))
        .cast("bigint")
        .alias("_ky"),
        F.max("n").alias("n"),
    )
    k_min = F.least(F.col("_kx"), F.col("_ky")).cast("double")
    return stat.select(
        F.col("chi2").cast("double").alias("chi2"),
        ((F.col("_kx") - 1) * (F.col("_ky") - 1)).cast("bigint").alias("dof"),
        F.when(
            (k_min > 1) & (F.col("n") > 0),
            F.sqrt(F.col("chi2") / (F.col("n") * (k_min - 1))),
        ).otherwise(F.lit(0.0)).alias("cramers_v"),
        F.col("n").cast("bigint").alias("n"),
    )


def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Inter-rater agreement between two categorical labelers →
    one row ``(n, po, pe, kappa)``.

    κ = (p_o − p_e) / (1 − p_e), where p_o is the observed agreement
    share and p_e the chance agreement Σ_k p_A(k)·p_B(k). The
    annotation-QA companion to MI/chi² above: before training on a
    labeled corpus you quantify how much two labeling passes (two
    heuristics, two annotator pools, model-vs-human) agree beyond
    chance. The reference's label sanity checks are driver-side
    pandas crosstabs; here only the |K|² contingency leaves the
    executors.

    Distributed shape: ONE groupBy (a, b) over the stream; marginals,
    totals, and κ are aggregates over that tiny cell table. All three
    derived branches (total, A-marginal, B-marginal) hang off the
    BYTE-IDENTICAL cell subtree — not ``contingency``'s windowed
    variant — so AQE's exchange reuse executes the base scan + cell
    shuffle once and the branches re-read the shuffle output
    (verified ReusedExchange/ReusedShuffle in the adaptive plan).
    Degenerate edge: perfect chance agreement (p_e = 1 — both raters
    constant and equal) yields κ = 0.0 by convention, not NULL.
    """
    cells = df.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("n_xy"))
    n = F.col("n").cast("double")
    # p_e pairs A's marginal with B's marginal of the SAME label
    # value; a diagonal-cell-sum shortcut misses labels whose (k, k)
    # cell is absent (they contribute 0 to p_o but NOT to p_e), so
    # p_e needs the marginal×marginal join.
    marg_a = cells.groupBy(F.col(a_col).alias("label")).agg(
        F.sum("n_xy").alias("n_a")
    )
    marg_b = cells.groupBy(F.col(b_col).alias("label")).agg(
        F.sum("n_xy").alias("n_b")
    )
    total = cells.agg(
        F.sum("n_xy").alias("n"),
        F.sum(F.when(F.col(a_col) == F.col(b_col), F.col("n_xy"))).alias(
            "_agree"
        ),
    )
    # inner join: a label missing from either rater's marginal has
    # p_A(k)·p_B(k) = 0 and contributes nothing to p_e
    chance = (
        marg_a.join(F.broadcast(marg_b), "label")
        .agg(F.sum(F.col("n_a").cast("double") * F.col("n_b")).alias("_ab"))
    )
    stat = total.crossJoin(F.broadcast(chance))
    po = F.coalesce(F.col("_agree").cast("double"), F.lit(0.0)) / n
    pe = F.coalesce(F.col("_ab").cast("double"), F.lit(0.0)) / (n * n)
    return stat.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(
            F.when(pe < 1.0, (po - pe) / (1.0 - pe)).otherwise(F.lit(0.0)), 6
        ).alias("kappa"),
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """All-pairs Pearson correlation over ``cols`` →
    ``(feature_a, feature_b, pearson_r)`` long form — the numeric
    companion to the categorical MI screen (feature-redundancy
    pruning before a training run).

    Distributed shape: every pair's ``corr`` is an algebraic
    co-moment aggregate, so ALL k·(k-1)/2 pairs reduce in ONE
    single-row aggregation pass (partial+final, map-side combined —
    the input is scanned once no matter how many pairs). The
    wide→long melt of that one row is a zero-exchange Expand
    (``unpivot``). No pair loop touches the data twice.

    Feature names must not contain the ``"__"`` pair separator
    (validated — a silent mis-split would mislabel correlations).
    """
    bad = [c for c in cols if "__" in c]
    if bad:
        raise ValueError(f"feature names may not contain '__': {bad}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    # explicit raw co-moment algebra instead of F.corr: Spark 4's
    # ANSI corr ERRORS on a zero-variance column where DuckDB's
    # returns NULL (r5 degenerate-fuzz catch — a constant feature is
    # exactly what a redundancy screen must survive). try_divide
    # makes r NULL there, and the oracle mirrors this IDENTICAL
    # expression shape, the engine's usual cross-engine discipline.
    aggs = [F.count(F.lit(1)).cast("double").alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).alias(f"__s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"__ss_{c}"))
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"__sp_{a}__{b}"))
    wide = df.agg(*aggs)
    n = F.col("__n")

    def _r(a: str, b: str):
        cov = n * F.col(f"__sp_{a}__{b}") - F.col(f"__s_{a}") * F.col(f"__s_{b}")
        va = n * F.col(f"__ss_{a}") - F.col(f"__s_{a}") * F.col(f"__s_{a}")
        vb = n * F.col(f"__ss_{b}") - F.col(f"__s_{b}") * F.col(f"__s_{b}")
        return F.try_divide(cov, F.sqrt(va) * F.sqrt(vb))

    wide = wide.select(
        *[_r(a, b).alias(f"{a}__{b}") for a, b in pairs]
    )
    long = wide.unpivot([], [f"{a}__{b}" for a, b in pairs], "pair", "pearson_r")
    return long.select(
        F.substring_index("pair", "__", 1).alias("feature_a"),
        F.substring_index("pair", "__", -1).alias("feature_b"),
        F.round("pearson_r", 6).alias("pearson_r"),
    )


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    min_support: int = 2,
) -> DataFrame:
    """The pair core shared by :func:`cooccurrence_lift` and graph
    consumers (e.g. the triangle census): distinct (group, item) →
    group-keyed self-join → supported unordered pairs
    ``(item_a, item_b, n_both)``. Consumers that only need the EDGE
    LIST call this directly and skip the lift's marginal/total
    aggregations (each of which re-derives the corpus-sized distinct
    otherwise)."""
    gi = df.select(group_col, item_col).where(F.col(item_col).isNotNull()).distinct()
    a = gi.select(F.col(group_col).alias("_g"), F.col(item_col).alias("item_a"))
    b = gi.select(F.col(group_col).alias("_g"), F.col(item_col).alias("item_b"))
    return (
        a.join(b, "_g")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= int(min_support))
    )


def cooccurrence_lift(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    min_support: int = 2,
) -> DataFrame:
    """Market-basket co-occurrence: for every unordered item pair,
    the number of groups containing BOTH (support) plus the lift
    ``n_both·N / (n_a·n_b)`` →
    ``(item_a, item_b, n_both, n_a, n_b, lift)``.

    The categorical-pair companion to bigram PMI (adjacency-based)
    and MI (label-based): which tools/features co-occur in the same
    conversation more than independence predicts.

    Shape: distinct (group, item) first (one shuffle, map-side
    dedup), then the pair join is a SELF-join keyed on the GROUP —
    bounded quadratically by items-per-group (tools per conversation,
    small by nature — NOT corpus size). Item marginals are a tiny
    table broadcast onto the pair counts; N rides a one-row
    broadcast. ``min_support`` prunes the long tail before the
    marginal join.
    """
    gi = df.select(group_col, item_col).where(F.col(item_col).isNotNull()).distinct()
    pairs = cooccurrence_pairs(df, group_col, item_col, min_support=min_support)
    singles = gi.groupBy(item_col).agg(F.count(F.lit(1)).alias("_n"))
    n_groups = gi.select(group_col).distinct().agg(F.count(F.lit(1)).alias("_N"))
    return (
        pairs.join(
            F.broadcast(singles.select(F.col(item_col).alias("item_a"), F.col("_n").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(singles.select(F.col(item_col).alias("item_b"), F.col("_n").alias("n_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n_groups))
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                # doubles BEFORE multiplying: BIGINT×BIGINT silently
                # wraps (non-ANSI) once n_both·N exceeds 2^63 at the
                # corpus scales this operator targets
                (F.col("n_both").cast("double") * F.col("_N"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def spearman_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    robust, monotonic companion to the Pearson machinery
    (:func:`correlation_matrix` answers "linear?"; this answers
    "monotone?", immune to the heavy tails transcript measures have).
    Ties get average ranks (the standard convention).

    Determinism: the DOUBLED average rank ``2r = 2·n_before + cnt + 1``
    is an exact INTEGER for every value (ties included), so all five
    sufficient statistics are exact decimal sums and ρ is one
    fixed-shape double expression — no float row sums. Exact up to
    ~10^11 rows per call (4N³ < 10^38); beyond that, rank-bucket
    pre-aggregation applies.

    Shape: two runs of the shared distributed prefix-sum rank
    machinery (``encoders.value_rank_components`` — never a
    single-partition sort), two equi joins keyed on the value (rank
    tables are distinct-value-bounded), ONE hash agg to a single row.
    """
    from kkbox_churn_prediction_spark.operators.encoders import (
        value_rank_components,
    )

    from pyspark import StorageLevel

    dec = "decimal(38,0)"
    # kept: both rank machines and the final join of the returned plan
    # read the (x, y) pairs (3 corpus reads measured without it)
    base = df.select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y")).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def rank_table(col: str, out: str) -> DataFrame:
        r = value_rank_components(base, col)
        return r.select(
            col,
            (F.lit(2) * F.col("_before") + F.col("_cnt") + F.lit(1))
            .cast(dec)
            .alias(out),
        )

    rx = rank_table("_x", "_rx")
    ry = rank_table("_y", "_ry")
    j = base.join(rx, "_x").join(ry, "_y")
    one = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_rx").alias("sx"),
        F.sum("_ry").alias("sy"),
        F.sum(F.col("_rx") * F.col("_rx")).alias("sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).alias("syy"),
        F.sum(F.col("_rx") * F.col("_ry")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sx * sy
    den_x = nd * F.col("sxx").cast("double") - sx * sx
    den_y = nd * F.col("syy").cast("double") - sy * sy
    rho = F.when(
        (den_x > 0) & (den_y > 0), num / (F.sqrt(den_x) * F.sqrt(den_y))
    ).otherwise(F.lit(0.0))
    return one.select("n", F.round(rho, 6).alias("spearman"))


def dispersion_test(
    df: DataFrame,
    count_col,
    group_col,
) -> DataFrame:
    """Overdispersion check for count data: per-group variance-to-mean
    ratio (index of dispersion) plus the chi-square-shaped statistic
    ``(n-1)·VMR`` — the screen that tells you whether per-entity
    counts are Poisson-like (VMR ≈ 1) or clumped/bursty (VMR ≫ 1),
    i.e. whether Poisson rates, CIs, and anomaly thresholds built on
    them can be trusted. Counts over conversations are almost always
    overdispersed; quantifying it per segment is the QA step.

    Shape: ONE algebraic agg per group (n, Σx, Σx²) → scalar algebra.
    Sample variance via the co-moment identity with the same zero
    guards as the Welch machinery.
    """
    v = F.col("_v")
    g = F.col("_g")
    base = df.select(
        (F.col(count_col) if isinstance(count_col, str) else count_col)
        .cast("double")
        .alias("_v"),
        (F.col(group_col) if isinstance(group_col, str) else group_col).alias("_g"),
    ).where(v.isNotNull() & g.isNotNull())
    agg = base.groupBy(g.alias("grp")).agg(
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
    vmr = F.when(mean > 0, var / mean)
    return agg.select(
        "grp",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(vmr, 6).alias("vmr"),
        F.round((n - F.lit(1.0)) * vmr, 6).alias("chi2_stat"),
        F.when(vmr > F.lit(1.5), F.lit(1)).otherwise(F.lit(0)).alias(
            "overdispersed_flag"
        ),
    ).orderBy("grp")


def simpsons_paradox_screen(
    df: DataFrame,
    group_col,
    outcome_col,
    stratum_col,
    *,
    arm_a: str = "a",
    arm_b: str = "b",
) -> DataFrame:
    """Simpson's-paradox screen: does the pooled A-vs-B rate
    difference DISAGREE in sign with the stratum-level differences?
    The classic aggregation trap in observational comparisons — a
    pooled "B is better" can reverse inside every stratum when the
    strata are imbalanced. Output: per-stratum rows (rates, diff,
    stratum share) plus the pooled diff, the count of strata whose
    sign contradicts the pooled sign, and the paradox flag (pooled
    sign nonzero AND every nonzero stratum diff opposes it).

    Shape: ONE conditional agg to the (stratum × 4-count) table —
    bounded by the stratum domain — then scalar algebra + one tiny
    rollup; the same bounded-profile discipline as the A/B family.
    """
    g = F.col("_g")
    y = F.col("_y")
    base = df.select(
        (F.col(group_col) if isinstance(group_col, str) else group_col).alias("_g"),
        (F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col)
        .cast("long")
        .alias("_y"),
        (F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col)
        .cast("string")
        .alias("_s"),
    ).where(g.isNotNull() & y.isNotNull() & F.col("_s").isNotNull())
    per = base.groupBy(F.col("_s").alias("stratum")).agg(
        F.count(F.when(g == arm_a, 1)).cast("long").alias("n_a"),
        F.sum(F.when(g == arm_a, y).otherwise(F.lit(0))).cast("long").alias("s_a"),
        F.count(F.when(g == arm_b, 1)).cast("long").alias("n_b"),
        F.sum(F.when(g == arm_b, y).otherwise(F.lit(0))).cast("long").alias("s_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    rate_a = F.when(F.col("n_a") > 0, F.col("s_a") / na).otherwise(F.lit(0.0))
    rate_b = F.when(F.col("n_b") > 0, F.col("s_b") / nb).otherwise(F.lit(0.0))
    diff = rate_b - rate_a
    per = per.select(
        "stratum", "n_a", "s_a", "n_b", "s_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(diff, 6).alias("diff"),
        F.signum(F.round(diff, 6)).alias("_sign"),
    )
    pooled = per.agg(
        F.sum("n_a").cast("long").alias("_pna"),
        F.sum("s_a").cast("long").alias("_psa"),
        F.sum("n_b").cast("long").alias("_pnb"),
        F.sum("s_b").cast("long").alias("_psb"),
    )
    p_rate_a = F.when(
        F.col("_pna") > 0, F.col("_psa") / F.col("_pna").cast("double")
    ).otherwise(F.lit(0.0))
    p_rate_b = F.when(
        F.col("_pnb") > 0, F.col("_psb") / F.col("_pnb").cast("double")
    ).otherwise(F.lit(0.0))
    pooled = pooled.select(
        F.round(p_rate_b - p_rate_a, 6).alias("pooled_diff"),
        F.signum(F.round(p_rate_b - p_rate_a, 6)).alias("_psign"),
    )
    joined = per.crossJoin(F.broadcast(pooled))
    flags = joined.agg(
        F.sum(
            F.when(
                (F.col("_sign") * F.col("_psign") < 0), F.lit(1)
            ).otherwise(F.lit(0))
        ).cast("long").alias("n_opposing_strata"),
        F.sum(F.when(F.col("_sign") != 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_signed_strata"),
    )
    flags = flags.select(
        "n_opposing_strata",
        "n_signed_strata",
    )
    out = joined.crossJoin(F.broadcast(flags))
    paradox = (
        (F.col("_psign") != 0)
        & (F.col("n_signed_strata") > 0)
        & (F.col("n_opposing_strata") == F.col("n_signed_strata"))
    )
    return out.select(
        "stratum", "n_a", "s_a", "n_b", "s_b",
        "rate_a", "rate_b", "diff",
        "pooled_diff",
        "n_opposing_strata",
        paradox.cast("int").alias("paradox_flag"),
    ).orderBy("stratum")


def icc_oneway(df: DataFrame, group_col: str, value_col) -> DataFrame:
    """ICC(1): one-way random-effects intraclass correlation — what
    fraction of a turn-level metric's variance lives BETWEEN
    conversations vs within them. The design statistic behind
    :func:`~kkbox_churn_prediction_spark.operators.sampling.cluster_safe_split`:
    a high ICC means turns within a conversation are near-duplicates
    of each other, so row-level random splits leak (the design-effect
    1 + (n̄−1)·ICC inflates effective duplication) and fold
    assignment MUST be by conversation. From the one-way ANOVA
    decomposition: ``ICC = (MSB − MSW) / (MSB + (n0 − 1)·MSW)`` with
    ``n0 = (N − Σn_i²/N) / (k − 1)`` the unbalanced-design group
    size.

    Output: ONE row — ``k_groups, n_total, n0, msb, msw, icc`` (icc
    clamped to the defined NULL when MSW and MSB both vanish).

    Distributed shape: two chained hash aggs, no window, no sort —
    per-group (n, Σv, Σv²) first (map-side combined; the group table
    is #groups-sized but never collected), then a second agg over it.
    Determinism: Σv/Σv² accumulate EXACTLY (long sums of integer
    metrics); the cross-group reductions quantize each per-group
    rational term onto the 1e-6 floor grid as ONE fixed-shape double
    expression (identical IEEE sequence in both engines) and sum
    decimals order-free — the average_precision discipline — so the
    10^9-group sum never depends on partition order.
    """
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    per = (
        df.select(F.col(group_col).alias("_g"), v.cast("long").alias("_v"))
        .where(F.col("_v").isNotNull())
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_v").cast("long").alias("s1"),
            F.sum(F.col("_v") * F.col("_v")).cast("long").alias("s2"),
        )
    )
    dec = "decimal(38,0)"
    # per-group rational terms on the 1e-6 floor grid (fixed-shape
    # double expr -> floor -> exact decimal sum; order-free)
    grid = F.lit(1.0e6)
    sq_over_n = F.floor(
        F.col("s1").cast("double") * F.col("s1").cast("double") * grid
        / F.col("n").cast("double")
    ).cast(dec)
    nsq = (F.col("n").cast(dec) * F.col("n").cast(dec))
    red = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s1").cast(dec).alias("t1"),
        F.sum("s2").cast(dec).alias("t2"),
        F.sum(sq_over_n).alias("tsq"),  # Σ s1_i²/n_i on the 1e-6 grid
        F.sum(nsq).alias("tn2"),  # Σ n_i²
    )
    k = F.col("k").cast("double")
    n = F.col("n_tot").cast("double")
    t1 = F.col("t1").cast("double")
    t2 = F.col("t2").cast("double")
    tsq = F.col("tsq").cast("double") / 1.0e6
    tn2 = F.col("tn2").cast("double")
    ssb = tsq - t1 * t1 / n
    ssw = t2 - tsq
    msb = ssb / (k - F.lit(1.0))
    msw = ssw / (n - k)
    n0 = (n - tn2 / n) / (k - F.lit(1.0))
    icc = F.when(
        (k > 1) & (n > k) & ((msb + (n0 - F.lit(1.0)) * msw) > 0),
        (msb - msw) / (msb + (n0 - F.lit(1.0)) * msw),
    )
    return red.select(
        F.col("k").alias("k_groups"),
        F.col("n_tot").alias("n_total"),
        F.round(n0, 6).alias("n0"),
        F.round(F.when(k > 1, msb), 6).alias("msb"),
        F.round(F.when(n > k, msw), 6).alias("msw"),
        F.round(icc, 6).alias("icc"),
    )


def nb_fit_daily(
    df: DataFrame,
    group_col: str,
    value_col,
) -> DataFrame:
    """Negative-binomial fit (method of moments) + zero-inflation
    screen per group — the MODEL step after :func:`dispersion_test`
    flags VMR > 1: with mean m and variance v, the NB(r, p) moments
    give ``r = m²/(v − m)``, ``p = m/v``; the zero-inflation column
    compares the OBSERVED zero fraction with the NB-predicted
    ``p^r`` — observed ≫ predicted means even the overdispersed
    model misses a structural zero mass (dual-process behavior:
    distinct "inactive" vs "active-but-variable" populations, which
    changes how an anomaly threshold should be set). Equidispersed
    or underdispersed groups (v ≤ m) emit NULL fits with the
    defined-degenerate columns (the empty-arm discipline).

    Output per group: ``(group, n, mean, variance, nb_r, nb_p,
    zero_frac_obs, zero_frac_nb, zero_inflation)``.

    Shape: ONE conditional moment agg per group (exact long Σ, Σx²,
    zero counts), fixed-shape scalar algebra on the bounded group
    table. No window, no sort.
    """
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    per = (
        df.select(F.col(group_col).alias("_g"), v.cast("long").alias("_v"))
        .where(F.col("_v").isNotNull())
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_v").cast("long").alias("_s1"),
            F.sum(F.col("_v") * F.col("_v")).cast("long").alias("_s2"),
            F.sum((F.col("_v") == 0).cast("int")).cast("long").alias("_z"),
        )
    )
    nn = F.col("n").cast("double")
    m = F.col("_s1").cast("double") / nn
    var = F.col("_s2").cast("double") / nn - m * m  # population moments
    r = F.when(var > m, m * m / (var - m))
    p = F.when(var > m, m / var)
    zero_nb = F.when(var > m, F.pow(m / var, m * m / (var - m)))
    zf = F.col("_z").cast("double") / nn
    return per.select(
        F.col("_g").alias(group_col if isinstance(group_col, str) else "group"),
        "n",
        F.round(m, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(r, 6).alias("nb_r"),
        F.round(p, 6).alias("nb_p"),
        F.round(zf, 6).alias("zero_frac_obs"),
        F.round(zero_nb, 6).alias("zero_frac_nb"),
        F.round(F.when(zero_nb.isNotNull(), zf - zero_nb), 6).alias(
            "zero_inflation"
        ),
    ).orderBy(group_col if isinstance(group_col, str) else "group")
