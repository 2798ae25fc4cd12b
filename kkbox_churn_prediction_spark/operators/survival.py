"""Survival-analysis labels and the Kaplan-Meier product-limit curve.

The reference's churn label is the degenerate survival case — a
binary "no qualifying event within horizon" flag
(``src/labels.py:111-146``). Time-to-event models (Cox, discrete
hazard, KM retention curves — the standard churn-analysis toolkit)
need the full ``(duration, observed)`` pair instead: how LONG until
the entity came back, and whether the observation was censored at the
horizon. This module generalizes ``operators/labels.py`` to that.

Spark-first shape:

- :func:`survival_labels` takes ``entity_labels``' forward window
  (``labels.first_qualifying_after``: one shuffle, replication capped
  by #cutoffs × horizon) and left-joins ``asof.cutoff_grid`` so
  censored entities appear with ``observed = 0``.
- :func:`km_curve` is a two-level aggregate: the raw labels collapse
  to ≤``horizon_days`` rows (one per distinct duration) in a single
  partial+final hash agg, and the product-limit recursion
  ``S(t) = Π (1 - d_i/n_i)`` runs as ``EXP(SUM(LN(...)))`` window
  algebra over that TINY post-agg frame — the same
  "aggregate-then-window-on-the-profile" discipline as the
  calibration operators. No step touches more than #distinct-duration
  rows after the first shuffle, so the curve costs the same at 10^12
  turns as at 10^4.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import collect_literal, cutoff_grid
from kkbox_churn_prediction_spark.operators.labels import first_qualifying_after

_US_PER_DAY = 86_400_000_000.0


def survival_labels(
    turns: DataFrame,
    cutoffs: DataFrame,
    horizon_days: int = 14,
    qualifying: Column | str = "role = 'user'",
) -> DataFrame:
    """Per (conv_id, cutoff_ts): ``duration_days`` = ceiling-days to
    the first qualifying turn strictly after the cutoff, capped at the
    horizon; ``observed`` = 1 iff the event happened inside the
    horizon (0 = right-censored at ``horizon_days``)."""
    future = first_qualifying_after(turns, cutoffs, horizon_days, qualifying)
    grid = cutoff_grid(turns, cutoffs)
    delta_days = F.ceil(
        (F.col("_next_us") - F.unix_micros(F.col("cutoff_ts"))) / F.lit(_US_PER_DAY)
    )
    return grid.join(future, ["conv_id", "cutoff_ts"], "left").select(
        "conv_id",
        "cutoff_ts",
        F.coalesce(delta_days, F.lit(horizon_days)).cast("int").alias("duration_days"),
        F.when(F.col("_next_us").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("observed"),
    )


def km_curve(labels: DataFrame) -> DataFrame:
    """Kaplan-Meier product-limit estimate over ``(duration_days,
    observed)`` labels.

    Per distinct duration t (ascending): ``n_risk`` = subjects with
    duration ≥ t, ``n_event`` = observed events at t, ``survival`` =
    Π_{i≤t} (1 - d_i/n_i). The product is computed as
    ``EXP(SUM(LN(factor)))`` — with an explicit zero-factor escape
    (MIN over the same running window) because LN(0) would poison the
    sum where the last at-risk subject dies.
    """
    per_t = labels.groupBy(F.col("duration_days").alias("t")).agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum("observed").alias("n_event"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.partitionBy()
    n_risk = (
        F.sum("n_leaving").over(total) - F.coalesce(F.sum("n_leaving").over(w_prev), F.lit(0))
    ).alias("n_risk")
    curve = per_t.select("t", "n_event", n_risk)
    factor = F.lit(1.0) - F.col("n_event") / F.col("n_risk")
    # LN never sees a non-positive factor (Spark would NULL the term
    # and silently drop it from the sum; DuckDB would hard-error):
    # zero factors contribute LN(1)=0 and the MIN-guard pins the row
    # (and everything after it) to survival = 0.
    safe_factor = F.when(factor > F.lit(0.0), factor).otherwise(F.lit(1.0))
    return curve.select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_event").cast("long").alias("n_event"),
        F.when(F.min(factor).over(w_run) <= F.lit(0.0), F.lit(0.0))
        .otherwise(F.exp(F.sum(F.log(safe_factor)).over(w_run)))
        .alias("survival"),
    )


def nelson_aalen(labels: DataFrame) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimate over ``(duration_days,
    observed)`` survival labels — the additive companion to
    :func:`km_curve` (reference churn horizon logic
    ``src/labels.py:111-146``; NA is the standard hazard-scale view
    of the same retention process, and the input to Cox-style
    diagnostics).

    Per distinct duration t (ascending): ``H(t) = Σ_{i≤t} d_i/n_i``
    with the Poisson-approximation variance ``Σ d_i/n_i²``, plus the
    Fleming-Harrington survival ``exp(-H(t))`` (the small-sample
    alternative to the KM product limit).

    Scale/determinism shape is km_curve's exactly: one partial+final
    hash agg collapses the labels to ≤horizon distinct durations;
    every running sum is a window over that TINY time-ORDERED frame,
    so float summation order is pinned and the curve costs the same
    at 10^12 turns as at 10^4.
    """
    per_t = labels.groupBy(F.col("duration_days").alias("t")).agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum("observed").alias("n_event"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.partitionBy()
    n_risk = (
        F.sum("n_leaving").over(total)
        - F.coalesce(F.sum("n_leaving").over(w_prev), F.lit(0))
    ).alias("n_risk")
    curve = per_t.select("t", "n_event", n_risk)
    d = F.col("n_event").cast("double")
    n = F.col("n_risk").cast("double")
    h = F.sum(d / n).over(w_run)
    return curve.select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_event").cast("long").alias("n_event"),
        F.round(h, 6).alias("cum_hazard"),
        F.round(F.sum(d / (n * n)).over(w_run), 6).alias("hazard_var"),
        F.round(F.exp(-h), 6).alias("fh_survival"),
    )


def logrank_test(
    labels: DataFrame,
    group_col: str = "cohort",
    group_a: str = "a",
    group_b: str = "b",
) -> DataFrame:
    """Two-cohort log-rank test over ``(duration_days, observed)``
    survival labels — the significance companion to :func:`km_curve`
    (the curve shows the gap; log-rank says whether it's noise). At
    each distinct event time t: observed events per cohort vs the
    hypergeometric expectation ``d_t·n_a(t)/n(t)``; the statistic is
    ``z = (O_a − E_a)/sqrt(V)``, ``chi2 = z²`` (1 df).

    Determinism: leaving/event counts are exact longs; at-risk counts
    derive from exact prefix sums; the E and V float terms are summed
    over the time-ORDERED window frame (the km_curve device), so both
    engines add identical doubles in the same order.

    Shape: ONE hash agg of the label stream to the ≤horizon-row
    (t, cohort-conditional counts) table; every window and the final
    reduce run on that bounded frame.
    """
    g = F.col(group_col)
    obs = F.col("observed")
    per_t = labels.groupBy(F.col("duration_days").alias("t")).agg(
        F.sum(F.when(g == group_a, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("l_a"),
        F.sum(F.when(g == group_b, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("l_b"),
        F.sum(F.when(g == group_a, obs).otherwise(F.lit(0))).cast("long").alias("d_a"),
        F.sum(F.when(g == group_b, obs).otherwise(F.lit(0))).cast("long").alias("d_b"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_full = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    total = Window.partitionBy()
    n_a = (
        F.sum("l_a").over(total) - F.coalesce(F.sum("l_a").over(w_prev), F.lit(0))
    ).cast("long")
    n_b = (
        F.sum("l_b").over(total) - F.coalesce(F.sum("l_b").over(w_prev), F.lit(0))
    ).cast("long")
    at_risk = per_t.select("t", "d_a", "d_b", n_a.alias("n_a"), n_b.alias("n_b"))
    d = (F.col("d_a") + F.col("d_b")).cast("double")
    nad = F.col("n_a").cast("double")
    nd = (F.col("n_a") + F.col("n_b")).cast("double")
    e_term = d * nad / nd
    v_term = F.when(
        (F.col("n_a") + F.col("n_b")) > 1,
        d * (nad / nd) * (F.lit(1.0) - nad / nd) * ((nd - d) / (nd - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    sums = at_risk.select(
        F.sum("d_a").over(w_full).cast("long").alias("o_a"),
        F.sum("d_b").over(w_full).cast("long").alias("o_b"),
        F.sum(e_term).over(w_full).alias("e_a"),
        F.sum(v_term).over(w_full).alias("v"),
    ).groupBy().agg(
        F.max("o_a").alias("o_a"),
        F.max("o_b").alias("o_b"),
        F.max("e_a").alias("e_a"),
        F.max("v").alias("v"),
    )
    diff = F.col("o_a").cast("double") - F.col("e_a")
    z = F.when(F.col("v") > 0, diff / F.sqrt(F.col("v"))).otherwise(F.lit(0.0))
    return sums.select(
        "o_a",
        "o_b",
        F.round(F.col("e_a"), 6).alias("e_a"),
        F.round(
            (F.col("o_a") + F.col("o_b")).cast("double") - F.col("e_a"), 6
        ).alias("e_b"),
        F.round(F.col("v"), 6).alias("variance"),
        F.round(z, 6).alias("z_stat"),
        F.round(z * z, 6).alias("chi2"),
    )


def label_rate_by_horizon(
    labels: DataFrame,
    horizons: tuple[int, ...] = (1, 3, 7, 14),
) -> DataFrame:
    """Label-definition sensitivity curve: for each candidate horizon
    h, the positive rate of "re-engaged within h days" over the
    entity×cutoff grid — the audit behind choosing a churn window (the
    reference hard-codes 30 days; this shows what every other choice
    would have labeled). Run it BEFORE committing a label definition:
    a rate cliff between adjacent horizons means the label is
    sensitive to an arbitrary constant.

    Input: :func:`survival_labels` output (``duration_days``,
    ``observed``) computed at the LARGEST candidate horizon; an event
    at day d counts as positive for every h ≥ d. Output per horizon:
    ``n`` / ``n_positive`` exact longs, ``positive_rate``.

    Shape: ONE conditional-count hash agg over the label grid (the
    horizon list compiles to |horizons| count-if columns — no explode,
    no per-horizon scan), unpivoted to rows post-agg.
    """
    hs = sorted(int(h) for h in horizons)
    pos = [
        F.sum(
            F.when(
                (F.col("observed") == 1) & (F.col("duration_days") <= h), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias(f"_p{h}")
        for h in hs
    ]
    one = labels.agg(F.count(F.lit(1)).cast("long").alias("_n"), *pos)
    stack = "stack({}, {}) as (horizon_days, n_positive)".format(
        len(hs), ", ".join(f"{h}, _p{h}" for h in hs)
    )
    return one.selectExpr("_n", stack).select(
        F.col("horizon_days").cast("int").alias("horizon_days"),
        F.col("_n").alias("n"),
        F.col("n_positive").cast("long").alias("n_positive"),
        F.round(
            F.col("n_positive").cast("double") / F.col("_n").cast("double"), 6
        ).alias("positive_rate"),
    )


def rmst(labels: DataFrame, tau: int) -> DataFrame:
    """Restricted mean survival time: E[min(T, τ)] = ∫₀^τ S(t)dt over
    the Kaplan–Meier step function — the clinically-standard single
    number for "average retained days within the horizon", robust
    where median survival is undefined (curves that never cross 0.5)
    and the natural effect-size companion to the log-rank test.

    Step integral over the BOUNDED km_curve table: the initial
    [0, t₁) segment at S=1 plus Σ S(tᵢ)·(min(tᵢ₊₁,τ)−min(tᵢ,τ)),
    with the last level carried to τ. One lead() window over the
    ≤horizon-row curve + a 1-row reduce; same cost at any corpus
    size.
    """
    km = km_curve(labels)
    w = Window.orderBy("t")
    seg = km.select(
        "t",
        "n_risk",
        "survival",
        F.lead("t").over(w).alias("t_next"),
    )
    tau_l = F.lit(float(tau))
    contrib = F.col("survival") * (
        F.least(F.coalesce(F.col("t_next").cast("double"), tau_l), tau_l)
        - F.least(F.col("t").cast("double"), tau_l)
    )
    return seg.agg(
        F.lit(int(tau)).cast("int").alias("tau"),
        F.max("n_risk").cast("long").alias("n_subjects"),
        F.round(
            F.least(F.min("t").cast("double"), tau_l)
            + F.coalesce(F.sum(contrib), F.lit(0.0)),
            6,
        ).alias("rmst"),
    )


def competing_risks_labels(
    turns: DataFrame,
    cutoffs: DataFrame,
    horizon_days: int = 14,
    qualifying_a: Column | str = "role = 'user'",
    qualifying_b: Column | str = "tool = 'error'",
) -> DataFrame:
    """Per (conv_id, cutoff_ts): time to the FIRST of two COMPETING
    events inside the horizon — ``cause`` 1 if the ``qualifying_a``
    event wins, 2 if ``qualifying_b`` wins (ties to cause 1 —
    deterministic, documented), 0 if neither occurs
    (right-censored at ``horizon_days``). The input
    :func:`cumulative_incidence` needs: when a conversation can
    either RE-ENGAGE or FAIL first, treating the other outcome as
    plain censoring (one KM per event) overstates both risks —
    competing-risks bookkeeping is the fix.

    Shape: :func:`survival_labels` doubled — each qualifying stream
    reduces to a per-(conv, cutoff) MIN through
    ``labels.first_qualifying_after``, one left join each onto the
    entity grid; no windows.
    """
    fa = first_qualifying_after(turns, cutoffs, horizon_days, qualifying_a)
    fb = first_qualifying_after(turns, cutoffs, horizon_days, qualifying_b)
    j = (
        cutoff_grid(turns, cutoffs)
        .join(fa.withColumnRenamed("_next_us", "_a_us"), ["conv_id", "cutoff_ts"], "left")
        .join(fb.withColumnRenamed("_next_us", "_b_us"), ["conv_id", "cutoff_ts"], "left")
    )
    a_wins = F.col("_a_us").isNotNull() & (
        F.col("_b_us").isNull() | (F.col("_a_us") <= F.col("_b_us"))
    )
    win_us = F.when(a_wins, F.col("_a_us")).otherwise(F.col("_b_us"))
    cause = (
        F.when(a_wins, F.lit(1))
        .when(F.col("_b_us").isNotNull(), F.lit(2))
        .otherwise(F.lit(0))
    )
    delta_days = F.ceil(
        (win_us - F.unix_micros(F.col("cutoff_ts"))) / F.lit(_US_PER_DAY)
    )
    return j.select(
        "conv_id",
        "cutoff_ts",
        F.coalesce(delta_days, F.lit(horizon_days)).cast("int").alias(
            "duration_days"
        ),
        cause.cast("int").alias("cause"),
    )


def cumulative_incidence(labels: DataFrame) -> DataFrame:
    """Aalen–Johansen cumulative incidence functions over competing
    risks ``(duration_days, cause ∈ {0,1,2})``:

        CIF_k(t) = Σ_{s ≤ t} S(s−) · d_k(s) / n(s)

    with ``S`` the OVERALL (all-cause) Kaplan–Meier survival and
    ``S(s−)`` its left limit. The sum of both CIFs plus overall
    survival is 1 at every t (pytest-asserted) — the accounting
    one-KM-per-event double-counts. Output per distinct event time:
    ``(t, n_risk, d_a, d_b, surv_overall, cif_a, cif_b)``.

    Shape: the :func:`km_curve` machine — one groupBy(duration) to
    the bounded event-time table, then ordered-window algebra over
    ≤horizon rows: S via EXP(SUM(LN)) with the zero-factor escape,
    S(s−) as its lag (default 1), CIFs as running sums.
    """
    per_t = labels.groupBy(F.col("duration_days").alias("t")).agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum((F.col("cause") == 1).cast("int")).alias("d_a"),
        F.sum((F.col("cause") == 2).cast("int")).alias("d_b"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = per_t.select(
        "t",
        "d_a",
        "d_b",
        (
            F.sum("n_leaving").over(w_all)
            - F.coalesce(F.sum("n_leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    d_all = (F.col("d_a") + F.col("d_b")).cast("double")
    factor = F.lit(1.0) - d_all / F.col("n_risk")
    surv = F.when(
        F.min(factor).over(w_cum) <= 0.0, F.lit(0.0)
    ).otherwise(
        F.exp(
            F.sum(F.log(F.when(factor > 0.0, factor).otherwise(F.lit(1.0)))).over(
                w_cum
            )
        )
    )
    stepped = at_risk.select(
        "t",
        "n_risk",
        "d_a",
        "d_b",
        surv.alias("_s"),
    )
    s_prev = F.coalesce(F.lag("_s").over(Window.orderBy("t")), F.lit(1.0))
    terms = stepped.select(
        "t",
        "n_risk",
        "d_a",
        "d_b",
        "_s",
        (s_prev * F.col("d_a").cast("double") / F.col("n_risk")).alias("_ta"),
        (s_prev * F.col("d_b").cast("double") / F.col("n_risk")).alias("_tb"),
    )
    return terms.select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_a").cast("long").alias("d_a"),
        F.col("d_b").cast("long").alias("d_b"),
        F.round(F.col("_s"), 6).alias("surv_overall"),
        F.round(F.sum("_ta").over(w_cum), 6).alias("cif_a"),
        F.round(F.sum("_tb").over(w_cum), 6).alias("cif_b"),
    ).orderBy("t")


def km_greenwood(labels: DataFrame, *, z: float = 1.959964) -> DataFrame:
    """Kaplan–Meier curve with Greenwood standard errors and the
    log-log 95% confidence band — the uncertainty :func:`km_curve`
    omits and every survival readout should carry:

        Var[S(t)] = S(t)² · Σ_{s≤t} d_s / (n_s (n_s − d_s))

    with the band computed on the log(−log S) scale (the transform
    that keeps the interval inside [0, 1] and is the lifelines /
    survival-package default): ``S^exp(±z·σ)`` where ``σ =
    sqrt(ΣG) / |log S|``. Boundary semantics: S = 1 (no events yet)
    or S = 0 emit NULL bands (the transform is undefined there —
    defined-degenerate, not poisoned).

    Shape: the :func:`km_curve` machine unchanged — one groupBy to
    the bounded event-time table, ordered-window products and the
    Greenwood running sum over ≤horizon rows.
    """
    per_t = labels.groupBy(F.col("duration_days").alias("t")).agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum("observed").alias("n_event"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = per_t.select(
        "t",
        "n_event",
        (
            F.sum("n_leaving").over(w_all)
            - F.coalesce(F.sum("n_leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    d = F.col("n_event").cast("double")
    n = F.col("n_risk").cast("double")
    factor = F.lit(1.0) - d / n
    surv = F.when(F.min(factor).over(w_cum) <= 0.0, F.lit(0.0)).otherwise(
        F.exp(
            F.sum(F.log(F.when(factor > 0.0, factor).otherwise(F.lit(1.0)))).over(
                w_cum
            )
        )
    )
    gterm = F.when(n - d > 0, d / (n * (n - d))).otherwise(F.lit(0.0))
    gsum = F.sum(gterm).over(w_cum)
    stepped = at_risk.select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_event").cast("long").alias("n_event"),
        surv.alias("_s"),
        gsum.alias("_g"),
    )
    s = F.col("_s")
    se = s * F.sqrt(F.col("_g"))
    sigma = F.sqrt(F.col("_g")) / F.abs(F.log(s))
    in_open = (s > 0.0) & (s < 1.0)
    lo = F.pow(s, F.exp(F.lit(float(z)) * sigma))
    hi = F.pow(s, F.exp(F.lit(-float(z)) * sigma))
    return stepped.select(
        "t",
        "n_risk",
        "n_event",
        F.round(s, 6).alias("survival"),
        F.round(F.when(s > 0.0, se), 6).alias("se_greenwood"),
        F.round(F.when(in_open, lo), 6).alias("ci_lo"),
        F.round(F.when(in_open, hi), 6).alias("ci_hi"),
    ).orderBy("t")


def survival_c_index(
    labels: DataFrame,
    score_col: str = "score",
    *,
    max_score_bins: int | None = None,
) -> DataFrame:
    """Harrell's concordance index of a RISK score against survival
    labels ``(duration_days, observed, score)`` — the rank metric of
    the survival family (AUC's censored-data generalization): among
    comparable pairs (i saw the event strictly before j's time),
    the fraction where the earlier-event unit carried the HIGHER
    risk score (ties count half). C = 0.5 is uninformative, 1.0 a
    perfect risk ranking. Output: ONE row — ``(n_units,
    n_comparable_pairs, n_concordant, n_tied_score, c_index)``.

    Distributed shape: the pair sum is NEVER materialized. Units
    collapse to the bounded (duration × score) grid; suffix-in-time
    and prefix-in-score cumulative windows over that grid give, for
    every event cell, the count of later-surviving units with lower
    / equal / any score — three exact-long multiplications per cell,
    one reduce. Cost is O(|durations| × |scores|), independent of
    row count; ``max_score_bins`` quantizes continuous scores onto
    an equal-width integer grid first (C error ≤ 1/bins, the AUC
    ``bin_scores`` contract).
    """
    s: Column = F.col(score_col)
    if max_score_bins is not None:
        s = F.floor(s.cast("double") * F.lit(int(max_score_bins))).cast("long")
    # the grid, the windows and the unit count all read the cell table:
    # a literal, so the label build runs once
    base = labels.select(
        F.col("duration_days").cast("int").alias("t"),
        F.col("observed").cast("int").alias("e"),
        s.cast("long").alias("s"),
    )
    cells = collect_literal(
        base.groupBy("t", "s").agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("e").cast("long").alias("ev"),
        )
    )
    ts = cells.select("t").distinct()
    ss = cells.select("s").distinct()
    grid = ts.crossJoin(ss)
    full = grid.join(cells, ["t", "s"], "left").select(
        "t",
        "s",
        F.coalesce(F.col("m"), F.lit(0)).alias("m"),
        F.coalesce(F.col("ev"), F.lit(0)).alias("ev"),
    )
    # n_after(t, s) = units with duration > t at this score
    w_suffix = (
        Window.partitionBy("s")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    aft = full.select(
        "t",
        "s",
        "ev",
        F.coalesce(F.sum("m").over(w_suffix), F.lit(0)).cast("long").alias("_aft"),
    )
    # prefix over score within each t: later-survivors with LOWER score
    w_lower = (
        Window.partitionBy("t").orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all_s = Window.partitionBy("t")
    terms = aft.select(
        "ev",
        (F.col("ev") * F.coalesce(F.sum("_aft").over(w_lower), F.lit(0))).alias(
            "_conc"
        ),
        (F.col("ev") * F.col("_aft")).alias("_tie"),
        (F.col("ev") * F.sum("_aft").over(w_all_s)).alias("_comp"),
    )
    red = terms.agg(
        F.sum("_conc").cast("long").alias("n_concordant"),
        F.sum("_tie").cast("long").alias("n_tied_score"),
        F.sum("_comp").cast("long").alias("n_comparable_pairs"),
    )
    n_units = cells.agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_units"))
    c = F.when(
        F.col("n_comparable_pairs") > 0,
        (
            F.col("n_concordant").cast("double")
            + F.lit(0.5) * F.col("n_tied_score").cast("double")
        )
        / F.col("n_comparable_pairs").cast("double"),
    )
    return red.crossJoin(n_units).select(
        "n_units",
        "n_comparable_pairs",
        "n_concordant",
        "n_tied_score",
        F.round(c, 6).alias("c_index"),
    )
