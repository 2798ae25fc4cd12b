"""Calibration / evaluation math in-engine (SURVEY §2.10 F3).

The reference computes ECE, Brier, log-loss, and bootstrap CIs
driver-side in numpy over in-memory prediction arrays
(``src/backtest.py:50-61`` digitize-binned ECE;
``src/calibration.py:101-128`` right-closed-bin ECE + Brier;
``src/models.py:435-460`` BootstrapMetrics with 500 resamples). That
works at 10^5 predictions and dies at 10^12 — a prediction table at
transcript scale never fits one driver.

Re-expressed distributed, all JVM column expressions:

- ECE is a two-level binned agg: bin each probability, groupBy(bin)
  for per-bin confidence/accuracy, then one weighted reduce — the
  same shape as PSI (``operators/psi.py``), one shuffle on a ≤n_bins
  key space with map-side partials.
- Brier / log-loss are plain algebraic aggregates (map-side partial
  sums; no buffering).
- Bootstrap CI uses the POISSON bootstrap (each row draws an
  independent Poisson(1) replication weight per replicate) — the
  scalable reformulation of sample-with-replacement: no global
  resample pass, no driver materialization; rows replicate to
  B lightweight (replicate, y, p, w) tuples and reduce per
  replicate. Weights derive from the cross-engine ``stable_hash48``
  so both engines draw identical "randomness" (deterministic,
  oracle-checkable — seeds-as-hashes, not RNG state).
- Isotonic calibration (``src/calibration.py`` CalibratedClassifierCV
  analog) runs PAV over BINNED aggregates: groupBy(fold, bin) first
  (one shuffle, n_bins rows per fold), then pool-adjacent-violators
  on the tiny per-fold profile — numpy inside ``applyInPandas``,
  never per-row Python. Binned-first is also the 10^12-row design:
  PAV is inherently sequential, so the engine reduces to a bounded
  profile (n_bins rows) and fits exactly on that.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import collect_literal

# sklearn's log_loss eps clip (reference uses sklearn defaults,
# src/models.py metrics)
LOGLOSS_EPS = 1e-15

# largest prime < 2^48: modulus for the per-replicate uniform — the
# ≤2^56 universal-hash product wraps it ~2^8 times, mixing all bits;
# 2^48/P ≈ 1 + 1.7e-13 so the uniformity bias is negligible
UNIFORM_PRIME_48 = 281474976710597

# Poisson(1) inverse-CDF thresholds: cumsum of e^-1 / k! for k=0..7;
# a uniform u in [0,1) maps to the first k whose threshold exceeds it
# (w capped at 8; P(w>8) < 1e-8 — the truncation is shared with the
# oracle so both engines draw the identical capped distribution).
_POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
]


def prob_bin(prob: Column, n_bins: int, *, closed: str = "right") -> Column:
    """Probability-bin index in [0, n_bins-1], or NULL for rows no bin
    accepts (the reference silently drops those while keeping them in
    the ECE denominator).

    ``closed="right"`` — (lo, hi] bins, p == 0 unbinned — matches
    ``src/calibration.py:115-117`` ``(p > lower) & (p <= upper)``.
    ``closed="left"`` — [lo, hi) bins, p == 1 unbinned — matches
    ``src/backtest.py:51-52`` ``np.digitize(p, bins) - 1``.

    Uses ceil/floor of ``p * n_bins`` — exact in doubles for the
    gate's dyadic-rational probabilities, no edge-list needed.
    """
    n = F.lit(int(n_bins))
    if closed == "right":
        b = F.ceil(prob * n) - F.lit(1)
    elif closed == "left":
        b = F.floor(prob * n)
    else:  # pragma: no cover - caller bug
        raise ValueError(f"closed must be 'right' or 'left', got {closed!r}")
    return F.when((b >= 0) & (b < n), b.cast("int"))


def reliability_table(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
    *,
    closed: str = "right",
) -> DataFrame:
    """Per-bin reliability profile: (bin, n, avg_conf, frac_pos,
    weight) — the distributed form of
    ``src/calibration.py:130-156`` reliability_diagram_data.

    ``weight`` is n / N_total with N_total counting ALL rows
    (including unbinned ones) — the reference's ``in_bin.mean()``
    denominator. One groupBy on a ≤n_bins key; the total arrives via
    a single-row cross join (broadcast, no second scan shuffle).
    """
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    binned = df.select(
        prob_bin(p, n_bins, closed=closed).alias("bin"), y.alias("y"), p.alias("p")
    )
    per_bin = (
        binned.where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p"), 6).alias("avg_conf"),
            F.round(F.avg("y"), 6).alias("frac_pos"),
        )
    )
    total = df.select(F.count(F.lit(1)).alias("_N"))
    return (
        per_bin.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n",
            "avg_conf",
            "frac_pos",
            F.round(F.col("n").cast("double") / F.col("_N"), 6).alias("weight"),
        )
    )


def ece(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
    *,
    closed: str = "right",
) -> DataFrame:
    """Expected Calibration Error as ONE row: Σ_bins weight·|acc-conf|
    (``src/calibration.py:101-128``; ``closed="left"`` gives the
    ``src/backtest.py:50-61`` digitize variant).

    Unrounded per-bin averages feed the reduce; only the final scalar
    rounds — mirroring the reference's single final float.
    """
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    binned = df.select(
        prob_bin(p, n_bins, closed=closed).alias("bin"), y.alias("y"), p.alias("p")
    )
    per_bin = (
        binned.where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("p").alias("conf"), F.avg("y").alias("acc"))
    )
    total = df.select(F.count(F.lit(1)).alias("_N"))
    return (
        per_bin.crossJoin(F.broadcast(total))
        .agg(
            F.round(
                F.sum(
                    F.col("n").cast("double")
                    / F.col("_N")
                    * F.abs(F.col("acc") - F.col("conf"))
                ),
                6,
            ).alias("ece")
        )
    )


def brier_logloss_by_fold(
    df: DataFrame, fold_col: str, label_col: str, prob_col: str
) -> DataFrame:
    """(fold, n, brier, log_loss): purely algebraic aggregates —
    map-side partial sums, one shuffle on the fold key
    (``src/models.py`` sklearn brier_score_loss / log_loss with the
    standard 1e-15 probability clip)."""
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    pc = F.least(F.greatest(p, F.lit(LOGLOSS_EPS)), F.lit(1.0 - LOGLOSS_EPS))
    return df.groupBy(fold_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg((p - y) * (p - y)), 6).alias("brier"),
        F.round(F.avg(-(y * F.log(pc) + (1.0 - y) * F.log(1.0 - pc))), 6).alias(
            "log_loss"
        ),
    )


def auc_ks_by_fold(
    df: DataFrame,
    fold_col: str,
    label_col: str,
    prob_col: str,
    *,
    bin_scores: int | None = None,
) -> DataFrame:
    """(fold, n_pos, n_neg, auc, ks): exact tie-aware ROC-AUC
    (Mann-Whitney with average ranks — sklearn ``roc_auc_score``
    semantics, the reference's headline metric in
    ``src/models.py:118-158``) and the Kolmogorov-Smirnov statistic,
    per fold.

    Distributed shape: groupBy(fold, score) FIRST — 10^12 rows
    collapse to one row per distinct score per fold with map-side
    partial counts; the cumulative window then orders DISTINCT scores
    within each fold, so the sort is bounded by score cardinality,
    never row count. AUC = Σ_s pos_s·(cumneg_below_s + neg_s/2)/(P·N)
    (ties contribute half, exactly average-rank); KS = max_s
    |F1(s) - F0(s)| over the pooled support.

    For continuous scores whose distinct cardinality approaches the
    row count, pass ``bin_scores=K`` to quantize scores onto a
    K-point dyadic grid first (AUC/KS error ≤ 1/K, cardinality
    bounded by K) — the 10^12-row switch, same discipline as the
    approx-percentile modes elsewhere.
    """
    from pyspark.sql import Window

    y = F.col(label_col).cast("int")
    s: Column = F.col(prob_col).cast("double")
    if bin_scores is not None:
        # dyadic midpoint grid: exact in doubles, order-preserving
        s = (F.floor(s * F.lit(int(bin_scores))) + F.lit(0.5)) / F.lit(
            float(bin_scores)
        )
    per_score = (
        df.select(F.col(fold_col), s.alias("score"), y.alias("y"))
        .groupBy(fold_col, "score")
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.sum(1 - F.col("y")).cast("long").alias("neg"),
        )
    )
    w = Window.partitionBy(fold_col).orderBy("score")
    cum = per_score.select(
        F.col(fold_col),
        "pos",
        "neg",
        (F.sum("neg").over(w) - F.col("neg")).alias("cumneg_below"),
        F.sum("pos").over(w).alias("cumpos"),
        F.sum("neg").over(w).alias("cumneg"),
    )
    totals = Window.partitionBy(fold_col)
    scored = cum.select(
        F.col(fold_col),
        "pos",
        "neg",
        "cumneg_below",
        "cumpos",
        "cumneg",
        F.sum("pos").over(totals).alias("P"),
        F.sum("neg").over(totals).alias("N"),
    )
    return (
        scored.groupBy(fold_col)
        .agg(
            F.max("P").alias("n_pos"),
            F.max("N").alias("n_neg"),
            F.round(
                F.when(
                    (F.max("P") > 0) & (F.max("N") > 0),
                    F.sum(
                        F.col("pos")
                        * (F.col("cumneg_below").cast("double") + F.col("neg") / 2.0)
                    )
                    / (F.max("P").cast("double") * F.max("N").cast("double")),
                ),
                6,
            ).alias("auc"),
            F.round(
                F.when(
                    (F.max("P") > 0) & (F.max("N") > 0),
                    F.max(
                        F.abs(
                            F.col("cumpos").cast("double")
                            / F.greatest(F.col("P"), F.lit(1)).cast("double")
                            - F.col("cumneg").cast("double")
                            / F.greatest(F.col("N"), F.lit(1)).cast("double")
                        )
                    ),
                ),
                6,
            ).alias("ks"),
        )
    )


def poisson_weight(u: Column) -> Column:
    """Poisson(1) replication weight from a uniform in [0,1) via the
    inverse CDF (when-chain over the shared threshold table)."""
    w = F.lit(len(_POISSON1_CDF))
    for k in reversed(range(len(_POISSON1_CDF))):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    return w.cast("int")


def bootstrap_metric_ci(
    df: DataFrame,
    id_col: str,
    label_col: str,
    prob_col: str,
    *,
    n_replicates: int = 64,
    alpha: float = 0.05,
) -> DataFrame:
    """Poisson-bootstrap CI for Brier and log-loss: one row per metric
    (metric, mean, ci_lower, ci_upper) — the distributed counterpart
    of ``src/models.py:435-460`` BootstrapMetrics (mean + 2.5/97.5
    percentile band).

    Each (row, replicate) pair draws w ~ Poisson(1) from a
    deterministic uniform: ONE ``stable_hash48`` (md5) per source
    row, then the universal hash ``((2b+3)·h + 5b+7) mod P48`` per
    replicate, P48 the largest prime below 2^48 — the ≤2^56 product
    wraps P48 hundreds of times, so the residue mixes high and low
    bits (reducing mod M61 ≈ 2^61 would NEVER wrap: u would sit in
    [0, 1/32) and every weight would be 0 — both engines agreed on
    that degenerate math, so only the mean-weight test catches it).
    Integer-only per pair: the B× expansion never re-hashes strings
    (measured 8× on the gate; md5-per-pair cost dominates
    otherwise). Identical in the DuckDB oracle. The explode
    emits only (b, y, p) plus one int, not the source row;
    per-replicate metrics reduce with map-side partials keyed by b
    (≤ n_replicates keys), and the final percentile runs over
    n_replicates tiny rows. No global resample, no driver collect.
    At 10^12 rows the B× tuple stream is the bandwidth cost — B
    stays double-digit by design.
    """
    from kkbox_churn_prediction_spark.functions.text import stable_hash48

    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    pc = F.least(F.greatest(p, F.lit(LOGLOSS_EPS)), F.lit(1.0 - LOGLOSS_EPS))
    b = F.explode(F.sequence(F.lit(0), F.lit(int(n_replicates) - 1))).alias("b")
    bb = F.col("b").cast("bigint")
    u = F.pmod(
        (bb * 2 + 3) * F.col("h") + (bb * 5 + 7), F.lit(UNIFORM_PRIME_48)
    ).cast("double") / F.lit(float(UNIFORM_PRIME_48))
    # h in its OWN projection, below the explode: a select that mixes
    # scalar exprs with a generator gets split by Catalyst into
    # Generate + Project-ABOVE, re-evaluating the md5 once per
    # (row × replicate) instead of once per row (measured 8× on the
    # sf0.1 gate). Keeping the hash in a prior select pins it under
    # the Generate; only the integer universal-hash runs per pair.
    prepped = df.select(
        stable_hash48(F.col(id_col).cast("string")).alias("h"),
        y.alias("y"),
        pc.alias("pc"),
        p.alias("p"),
    )
    exploded = prepped.select("h", "y", "pc", "p", b).withColumn(
        "w", poisson_weight(u)
    )
    per_rep = exploded.groupBy("b").agg(
        (
            F.sum(F.col("w") * (F.col("p") - F.col("y")) * (F.col("p") - F.col("y")))
            / F.nullif(F.sum("w"), F.lit(0))
        ).alias("brier"),
        (
            F.sum(
                F.col("w")
                * -(
                    F.col("y") * F.log("pc")
                    + (1.0 - F.col("y")) * F.log(1.0 - F.col("pc"))
                )
            )
            / F.nullif(F.sum("w"), F.lit(0))
        ).alias("log_loss"),
    )
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    melted = per_rep.select(
        F.explode(
            F.array(
                F.struct(F.lit("brier").alias("metric"), F.col("brier").alias("v")),
                F.struct(F.lit("log_loss").alias("metric"), F.col("log_loss").alias("v")),
            )
        ).alias("mv")
    ).select(F.col("mv.metric").alias("metric"), F.col("mv.v").alias("v"))
    return (
        melted.where(F.col("v").isNotNull())
        .groupBy("metric")
        .agg(
            F.round(F.avg("v"), 6).alias("mean"),
            F.round(F.expr(f"percentile(v, {lo})"), 6).alias("ci_lower"),
            F.round(F.expr(f"percentile(v, {hi})"), 6).alias("ci_upper"),
        )
    )


def platt_scaling(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    *,
    n_iter: int = 8,
    prior_smoothing: bool = True,
) -> tuple[float, float]:
    """Fit the sigmoid recalibration map p' = σ(a·logit(p) + b) —
    the reference's CalibratedClassifierCV ``method='sigmoid'``
    (Platt 1999) — by Newton's method with DISTRIBUTED sufficient
    statistics: each iteration is ONE aggregate pass (gradient and
    Hessian entries are plain sums with map-side partials, five
    doubles total), and the 2×2 Newton solve runs driver-side on
    those five numbers. No data leaves the cluster, no per-row
    Python; iterations are deterministic from a fixed init, so the
    fit is reproducible to float round-off.

    ``prior_smoothing`` uses Platt's target smoothing
    (t+ = (N+ + 1)/(N+ + 2), t− = 1/(N− + 2)) like sklearn's
    ``_SigmoidCalibration``. Returns (a, b).
    """
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    pc = F.least(F.greatest(p, F.lit(LOGLOSS_EPS)), F.lit(1.0 - LOGLOSS_EPS))
    base = df.select(F.log(pc / (1.0 - pc)).alias("x"), y.alias("y"))
    base = base.localCheckpoint(eager=True)  # logit once, reused per iter
    n_pos, n_neg = (
        base.agg(
            F.sum("y").cast("double"), F.sum(1.0 - F.col("y")).cast("double")
        ).first()
    )
    if prior_smoothing:
        t_pos = (n_pos + 1.0) / (n_pos + 2.0)
        t_neg = 1.0 / (n_neg + 2.0)
        t = F.when(F.col("y") > 0.5, F.lit(t_pos)).otherwise(F.lit(t_neg))
    else:
        t = F.col("y")
    a, b = 1.0, 0.0
    for _ in range(int(n_iter)):
        z = F.lit(float(a)) * F.col("x") + F.lit(float(b))
        q = 1.0 / (1.0 + F.exp(-z))
        r = q - t  # d(loss)/dz per row
        w = q * (1.0 - q)  # Hessian weight per row
        g_a, g_b, h_aa, h_ab, h_bb = base.agg(
            F.sum(r * F.col("x")),
            F.sum(r),
            F.sum(w * F.col("x") * F.col("x")),
            F.sum(w * F.col("x")),
            F.sum(w),
        ).first()
        det = h_aa * h_bb - h_ab * h_ab
        if abs(det) < 1e-12:
            break
        da = (h_bb * g_a - h_ab * g_b) / det
        db = (h_aa * g_b - h_ab * g_a) / det
        a, b = a - da, b - db
        if abs(da) < 1e-10 and abs(db) < 1e-10:
            break
    return float(a), float(b)


def apply_platt(
    df: DataFrame, prob_col: str, a: float, b: float, out_col: str = "p_calibrated"
) -> DataFrame:
    """Apply a fitted sigmoid map as a pure column expression."""
    p = F.col(prob_col).cast("double")
    pc = F.least(F.greatest(p, F.lit(LOGLOSS_EPS)), F.lit(1.0 - LOGLOSS_EPS))
    z = F.lit(float(a)) * F.log(pc / (1.0 - pc)) + F.lit(float(b))
    return df.withColumn(out_col, 1.0 / (1.0 + F.exp(-z)))


def isotonic_calibration(
    df: DataFrame,
    fold_col: str,
    label_col: str,
    prob_col: str,
    n_bins: int = 20,
    *,
    closed: str = "right",
) -> DataFrame:
    """Per-fold isotonic (monotone non-decreasing) calibration map
    fitted on binned aggregates: (fold, bin, n, avg_conf, frac_pos,
    iso_prob).

    The reference calibrates via sklearn's isotonic
    CalibratedClassifierCV on in-memory arrays (``src/calibration.py``
    method="isotonic"). Exact PAV is sequential, so the scalable
    reformulation bins first: groupBy(fold, bin) reduces 10^12 rows
    to ≤ n_bins rows per fold (one shuffle, map-side partials), then
    pool-adjacent-violators runs on that tiny profile inside
    ``applyInPandas`` — numpy per fold-group, never per-row Python.
    Pools track integer (Σy, n) so ``iso_prob`` is a ratio of exact
    integers — bit-identical to the oracle's max-min formulation
    (iso(i) = max_{j≤i} min_{k≥i} wavg(y, j..k))."""
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    binned = df.select(
        F.col(fold_col),
        prob_bin(p, n_bins, closed=closed).alias("bin"),
        y.alias("y"),
        p.alias("p"),
    ).where(F.col("bin").isNotNull())
    profile = binned.groupBy(fold_col, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("avg_conf"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    out_schema = (
        f"{fold_col} string, bin int, n bigint, avg_conf double, "
        "frac_pos double, iso_prob double"
    )

    def _pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin").reset_index(drop=True)
        # pools as (sum_y, n) integer pairs; merge while decreasing
        pools: list[list[int]] = []  # [sum_y, n, count_of_bins]
        for sy, n in zip(pdf["sum_y"], pdf["n"]):
            pools.append([int(sy), int(n), 1])
            while len(pools) > 1 and (
                pools[-2][0] * pools[-1][1] >= pools[-1][0] * pools[-2][1]
            ):
                b2 = pools.pop()
                pools[-1][0] += b2[0]
                pools[-1][1] += b2[1]
                pools[-1][2] += b2[2]
        iso: list[float] = []
        for sy, n, cnt in pools:
            iso.extend([sy / n] * cnt)
        # raw ratios out; rounding happens JVM-side below (F.round is
        # HALF_UP like the oracle — pandas .round is banker's and
        # diverges on exact ties like 146/256)
        return pd.DataFrame(
            {
                fold_col: pdf[fold_col],
                "bin": pdf["bin"],
                "n": pdf["n"],
                "avg_conf": pdf["avg_conf"],
                "frac_pos": pdf["sum_y"] / pdf["n"],
                "iso_prob": iso,
            }
        )

    fitted = profile.groupBy(fold_col).applyInPandas(_pav, schema=out_schema)
    return fitted.select(
        fold_col,
        "bin",
        "n",
        "avg_conf",
        F.round("frac_pos", 6).alias("frac_pos"),
        F.round("iso_prob", 6).alias("iso_prob"),
    )


def platt_calibration(
    df: DataFrame,
    fold_col: str,
    label_col: str,
    prob_col: str,
    n_bins: int = 20,
    *,
    n_iter: int = 12,
    closed: str = "right",
) -> DataFrame:
    """Per-fold sigmoid (Platt 1999) calibration map fitted on binned
    aggregates — the reference's ``CalibratedClassifierCV(
    method="sigmoid")`` (``src/calibration.py:101-128``) next to
    :func:`isotonic_calibration` (method="isotonic"), in the same
    scalable reformulation: groupBy(fold, bin) reduces 10^12 rows to
    ≤ n_bins rows per fold (ONE shuffle, map-side partials), then the
    weighted Newton logistic fit runs per fold-group inside
    ``applyInPandas`` on that tiny profile — never per-row Python.

    Fit: p' = σ(a·logit(conf) + b) by a FIXED ``n_iter`` Newton
    iterations from (a=1, b=0) with Platt's prior-smoothed targets
    (t+ = (N+ + 1)/(N+ + 2), t− = 1/(N− + 2), sklearn
    ``_SigmoidCalibration``), each bin contributing its integer
    (n, Σy) weights. Determinism: the profile's integer stats and
    6dp-rounded avg_conf are cross-engine exact; the per-bin Newton
    terms use ONE fixed expression shape evaluated with C-library
    transcendentals on both engines (Python ``math`` here, DuckDB
    there), bins accumulated in ascending order; the fixed iteration
    count has the fit converged (quadratically) long before iter 12,
    so last-ulp summation wobble is damped to ~1e-13 — far inside
    the 6dp output rounding.

    Output per (fold, bin): ``(fold, bin, n, avg_conf, platt_prob,
    a, b)`` — the map table :func:`apply_platt` consumes as column
    literals (or join it back like ``isotonic_apply``).
    """
    import math

    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    binned = df.select(
        F.col(fold_col),
        prob_bin(p, n_bins, closed=closed).alias("bin"),
        y.alias("y"),
        p.alias("p"),
    ).where(F.col("bin").isNotNull())
    profile = binned.groupBy(fold_col, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("avg_conf"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    out_schema = (
        f"{fold_col} string, bin int, n bigint, avg_conf double, "
        "platt_prob double, a double, b double"
    )
    iters = int(n_iter)

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin").reset_index(drop=True)
        # plain Python floats + math.* (glibc — the same C library the
        # oracle's DuckDB links), ascending-bin accumulation order
        rows = []
        for bn, n, sy, ac in zip(pdf["bin"], pdf["n"], pdf["sum_y"], pdf["avg_conf"]):
            acc = min(max(float(ac), 1e-6), 1.0 - 1e-6)
            rows.append((float(n), float(sy), math.log(acc / (1.0 - acc))))
        n_pos = float(sum(int(s) for s in pdf["sum_y"]))
        n_neg = float(sum(int(v) for v in pdf["n"])) - n_pos
        t_pos = (n_pos + 1.0) / (n_pos + 2.0)
        t_neg = 1.0 / (n_neg + 2.0)
        a, b = 1.0, 0.0
        for _ in range(iters):
            g_a = g_b = h_aa = h_ab = h_bb = 0.0
            for nd, syd, x in rows:
                q = 1.0 / (1.0 + math.exp(-(a * x + b)))
                r = nd * q - (syd * t_pos + (nd - syd) * t_neg)
                w = nd * q * (1.0 - q)
                g_a += r * x
                g_b += r
                h_aa += w * x * x
                h_ab += w * x
                h_bb += w
            det = h_aa * h_bb - h_ab * h_ab
            if abs(det) >= 1e-12:  # det-guard, NOT a convergence break
                a = a - (h_bb * g_a - h_ab * g_b) / det
                b = b - (h_aa * g_b - h_ab * g_a) / det
        platt = [1.0 / (1.0 + math.exp(-(a * x + b))) for _, _, x in rows]
        return pd.DataFrame(
            {
                fold_col: pdf[fold_col],
                "bin": pdf["bin"],
                "n": pdf["n"],
                "avg_conf": pdf["avg_conf"],
                "platt_prob": platt,
                "a": [a] * len(rows),
                "b": [b] * len(rows),
            }
        )

    fitted = profile.groupBy(fold_col).applyInPandas(_fit, schema=out_schema)
    # rounding JVM-side: F.round is HALF_UP like the oracle's ROUND
    # (pandas .round is banker's and diverges on exact 6dp ties)
    return fitted.select(
        fold_col,
        "bin",
        "n",
        "avg_conf",
        F.round("platt_prob", 6).alias("platt_prob"),
        F.round("a", 6).alias("a"),
        F.round("b", 6).alias("b"),
    )


def platt_apply(
    preds: DataFrame,
    fit: DataFrame,
    fold_col: str,
    prob_col: str = "p",
    out_col: str = "p_platt",
) -> DataFrame:
    """Apply a per-fold :func:`platt_calibration` fit back to every
    prediction — the fit→apply loop completion, the sigmoid twin of
    :func:`isotonic_apply`. The fit table collapses to one (fold, a,
    b) row per fold and BROADCASTS; the prediction stream never
    shuffles, and the map itself is one pure column expression
    ``σ(a·logit(clip(p)) + b)``.
    """
    ab = fit.select(fold_col, "a", "b").distinct()
    p = F.col(prob_col).cast("double")
    pc = F.least(F.greatest(p, F.lit(LOGLOSS_EPS)), F.lit(1.0 - LOGLOSS_EPS))
    z = F.col("a") * F.log(pc / (1.0 - pc)) + F.col("b")
    return (
        preds.join(F.broadcast(ab), fold_col, "left")
        .withColumn(out_col, F.round(1.0 / (1.0 + F.exp(-z)), 6))
        .drop("a", "b")
    )


def error_by_segment(
    preds: DataFrame,
    segment: Column,
    label_col: str,
    prob_col: str,
    *,
    threshold: float = 0.5,
    segment_name: str = "segment",
) -> DataFrame:
    """Per-segment error profile — the reference's segment analysis
    (``src/error_analysis.py:210-243``: per feature-segment accuracy,
    mean prediction, actual rate, error rate, worst segments first).
    ``segment`` is any grouping expression (a score band, a feature
    quartile, a fold…). Output per segment: ``(segment, n_samples,
    accuracy, mean_pred, actual_rate, error_rate)``.

    Determinism: counts exact longs; mean_pred is the only float mean
    (the ratio of an exact dyadic sum in the gate's construction);
    accuracy/rates are integer ratios. Shape: ONE hash agg on the
    segment key.
    """
    y = F.col(label_col).cast("int")
    p = F.col(prob_col).cast("double")
    correct = ((p >= F.lit(float(threshold))).cast("int") == y).cast("int")
    g = preds.groupBy(segment.alias(segment_name)).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(correct).cast("long").alias("_n_correct"),
        F.sum(p).alias("_sum_p"),
        F.sum(y).cast("long").alias("_n_pos"),
    )
    n = F.col("n_samples").cast("double")
    acc = F.col("_n_correct").cast("double") / n
    return g.select(
        segment_name,
        "n_samples",
        F.round(acc, 6).alias("accuracy"),
        F.round(F.col("_sum_p") / n, 6).alias("mean_pred"),
        F.round(F.col("_n_pos").cast("double") / n, 6).alias("actual_rate"),
        F.round(F.lit(1.0) - acc, 6).alias("error_rate"),
    )


def gains_table(
    preds: DataFrame,
    score_col: str = "p",
    label_col: str = "y",
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table — the campaign-targeting view of
    a churn model (reference domain: "call the top decile, capture
    X% of churners"): per probability band (top first), the row
    count, positives, cumulative capture rate, and lift vs the base
    rate. Output: ``(band, n, n_pos, cum_capture, lift)`` with band
    ``n_bins−1`` = the highest-score band.

    Bands are FIXED-WIDTH on the score (``floor(p·n_bins)``), not
    ``ntile`` — the classic formulation's global sort is exactly the
    single-partition scale-killer this engine rewrote out of
    quintile_stats; for calibrated probabilities fixed bands carry
    the same business meaning at any scale, scan-stage. All
    cumulative math runs on the ≤ ``n_bins``-row band table.
    """
    band = F.least(
        F.floor(F.col(score_col) * n_bins), F.lit(n_bins - 1)
    ).cast("int")
    counts = (
        preds.select(band.alias("band"), F.col(label_col).cast("long").alias("_y"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_y").cast("long").alias("n_pos"),
        )
    )
    w_cum = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_n = F.sum("n").over(w_cum)
    cum_pos = F.sum("n_pos").over(w_cum)
    tot_n = F.sum("n").over(w_all)
    tot_pos = F.sum("n_pos").over(w_all)
    return counts.select(
        "band",
        "n",
        "n_pos",
        F.round(
            F.when(tot_pos > 0, cum_pos * 1.0 / tot_pos), 6
        ).alias("cum_capture"),
        F.round(
            F.when(
                (tot_pos > 0) & (cum_n > 0),
                (cum_pos * 1.0 / cum_n) / (tot_pos * 1.0 / tot_n),
            ),
            6,
        ).alias("lift"),
    )


def isotonic_apply(
    preds: DataFrame,
    fit: DataFrame,
    *,
    fold_col: str = "fold",
    prob_col: str = "p",
    n_bins: int = 20,
    closed: str = "right",
    out_col: str = "p_cal",
) -> DataFrame:
    """Apply a fitted per-fold isotonic map (the output of
    :func:`isotonic_calibration`) back to the prediction stream: each
    row picks up its (fold, bin)'s ``iso_prob`` as the calibrated
    probability — completing the fit→apply loop the reference runs
    through sklearn's CalibratedClassifierCV. The bin derivation is
    the SAME ``prob_bin`` as the fit (``closed``/``n_bins`` must
    match); rows whose bin had no training mass (or whose score falls
    outside [0, 1]) keep a NULL calibrated score — surfaced, never
    fabricated.

    Shape: the fit table is ≤ folds×n_bins rows → broadcast onto the
    stream; the prediction stream itself never shuffles to get
    calibrated.
    """
    binned = preds.withColumn(
        "_bin", prob_bin(F.col(prob_col).cast("double"), n_bins, closed=closed)
    )
    table = fit.select(
        fold_col,
        F.col("bin").alias("_bin"),
        F.col("iso_prob").alias(out_col),
    )
    return binned.join(
        F.broadcast(table), [fold_col, "_bin"], "left"
    ).drop("_bin")


def brier_decomposition(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
    *,
    closed: str = "right",
) -> DataFrame:
    """Murphy decomposition of the binned Brier score — ONE row:
    ``reliability − resolution + uncertainty``:

    - ``uncertainty`` = ȳ(1−ȳ): the irreducible base-rate variance,
    - ``resolution``  = Σ w_b·(ȳ_b − ȳ)²: how much the bins separate
      outcomes (bigger is better),
    - ``reliability`` = Σ w_b·(p̄_b − ȳ_b)²: calibration error proper
      (smaller is better).

    The diagnosis ECE alone can't give: a model can have tiny ECE yet
    zero resolution (it learned the base rate and nothing else).
    ``brier_binned`` = rel − res + unc is emitted for the identity
    check against :func:`brier_logloss_by_fold` (equal up to within-
    bin probability variance, exactly equal when each bin's
    probabilities are constant).

    Shape: same two-level binned agg as :func:`ece` — one shuffle on
    a ≤ n_bins key space, one-row totals broadcast; only unbinned-row
    handling differs (they count in ȳ and the weights' denominator,
    the reference's ECE convention).
    """
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    binned = df.select(
        prob_bin(p, n_bins, closed=closed).alias("bin"), y.alias("y"), p.alias("p")
    )
    per_bin = (
        binned.where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("p").alias("conf"),
            F.avg("y").alias("acc"),
        )
    )
    totals = binned.agg(
        F.count(F.lit(1)).alias("_N"), F.avg("y").alias("_ybar")
    )
    w = F.col("n").cast("double") / F.col("_N")
    terms = per_bin.crossJoin(F.broadcast(totals)).agg(
        F.round(F.sum(w * F.pow(F.col("conf") - F.col("acc"), 2)), 6).alias(
            "reliability"
        ),
        F.round(F.sum(w * F.pow(F.col("acc") - F.col("_ybar"), 2)), 6).alias(
            "resolution"
        ),
        F.round(
            F.max(F.col("_ybar") * (1.0 - F.col("_ybar"))), 6
        ).alias("uncertainty"),
    )
    return terms.select(
        "reliability",
        "resolution",
        "uncertainty",
        F.round(
            F.col("reliability") - F.col("resolution") + F.col("uncertainty"), 6
        ).alias("brier_binned"),
    )


def label_noise_screen(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    *,
    hi: float = 0.9,
    lo: float = 0.1,
) -> DataFrame:
    """Confident-learning label-noise screen (Cleanlab-style, reduced
    to its distributed core): rows where a well-calibrated model is
    CONFIDENT and the label disagrees are flip candidates —
    ``p ≥ hi`` with ``y = 0``, or ``p ≤ lo`` with ``y = 1``. One row:
    confident-region sizes, disagreement counts, and estimated flip
    rates per direction. Run it after calibration (isotonic_apply);
    uncalibrated confidence inflates the estimate.

    Shape: one conditional-aggregate pass — six counters in a single
    partial+final reduce, no shuffle beyond the one-row final.
    """
    y = F.col(label_col).cast("int")
    p = F.col(prob_col).cast("double")
    conf_pos = (p >= float(hi)).cast("long")
    conf_neg = (p <= float(lo)).cast("long")
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(conf_pos).cast("long").alias("n_conf_pos"),
        F.sum(conf_neg).cast("long").alias("n_conf_neg"),
        F.sum(conf_pos * (1 - y)).cast("long").alias("n_pos_disagree"),
        F.sum(conf_neg * y).cast("long").alias("n_neg_disagree"),
    )
    rate = lambda num, den: F.round(  # noqa: E731 — tiny local shaper
        F.when(F.col(den) > 0, F.col(num) * 1.0 / F.col(den)), 6
    )
    return agg.select(
        "n_rows",
        "n_conf_pos",
        "n_conf_neg",
        "n_pos_disagree",
        "n_neg_disagree",
        rate("n_pos_disagree", "n_conf_pos").alias("flip_rate_pos"),
        rate("n_neg_disagree", "n_conf_neg").alias("flip_rate_neg"),
    )


def temperature_scaling(
    df: DataFrame,
    fold_col: str,
    label_col: str,
    prob_col: str,
    n_bins: int = 20,
    *,
    n_iter: int = 12,
    closed: str = "right",
) -> DataFrame:
    """Per-fold single-parameter temperature scaling (Guo et al.,
    ICML'17) — the third calibration map next to
    :func:`isotonic_calibration` and :func:`platt_calibration`:
    ``p' = σ(logit(p) / T)`` rescales confidence without changing the
    ranking, the standard post-hoc fix for modern over-confident
    models. Fitted as ``p' = σ(a·x)`` (``T = 1/a``) by a FIXED
    ``n_iter``-step 1-D Newton on the same ≤ n_bins binned profile
    the platt fit uses: groupBy(fold, bin) reduces any row count to
    bin-sized data (ONE shuffle), the scalar solve runs per fold
    inside ``applyInPandas`` on that tiny profile.

    Determinism: integer bin stats + 6dp avg_conf, glibc exp/ln both
    engines, ascending-bin accumulation, det-guarded fixed-count
    Newton — the certified platt recipe, one parameter instead of
    two.

    Output per (fold, bin): ``(fold, bin, n, avg_conf, temp_prob, a,
    temperature)``.
    """
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    binned = df.select(
        F.col(fold_col),
        prob_bin(p, n_bins, closed=closed).alias("bin"),
        y.alias("y"),
        p.alias("p"),
    ).where(F.col("bin").isNotNull())
    profile = binned.groupBy(fold_col, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("avg_conf"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    out_schema = (
        f"{fold_col} string, bin int, n bigint, avg_conf double, "
        "temp_prob double, a double, temperature double"
    )
    iters = int(n_iter)

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin").reset_index(drop=True)
        rows = []
        for n, sy, ac in zip(pdf["n"], pdf["sum_y"], pdf["avg_conf"]):
            acc = min(max(float(ac), 1e-6), 1.0 - 1e-6)
            rows.append((float(n), float(sy), math.log(acc / (1.0 - acc))))
        a = 1.0
        for _ in range(iters):
            g = h = 0.0
            for nd, syd, x in rows:
                q = 1.0 / (1.0 + math.exp(-(a * x)))
                g += (nd * q - syd) * x
                h += nd * q * (1.0 - q) * x * x
            if abs(h) >= 1e-12:  # det-guard, NOT a convergence break
                a = a - g / h
        probs = [1.0 / (1.0 + math.exp(-(a * x))) for _, _, x in rows]
        temp = 1.0 / a if abs(a) >= 1e-12 else 0.0
        return pd.DataFrame(
            {
                fold_col: pdf[fold_col],
                "bin": pdf["bin"],
                "n": pdf["n"],
                "avg_conf": pdf["avg_conf"],
                "temp_prob": probs,
                "a": [a] * len(rows),
                "temperature": [temp] * len(rows),
            }
        )

    fitted = profile.groupBy(fold_col).applyInPandas(_fit, schema=out_schema)
    return fitted.select(
        fold_col,
        "bin",
        "n",
        "avg_conf",
        F.round("temp_prob", 6).alias("temp_prob"),
        F.round("a", 6).alias("a"),
        F.round("temperature", 6).alias("temperature"),
    )


def conformal_interval(
    df: DataFrame,
    group_col: str,
    y_col: str,
    split_col: str,
    *,
    alpha: float = 0.1,
    cal_value: str = "cal",
    test_value: str = "test",
) -> DataFrame:
    """Split conformal prediction interval (Vovk et al. 2005 / Lei
    et al. 2018): a per-group mean predictor is fitted on the
    calibration split, the nonconformity score ``s = |y − ŷ|`` is
    ranked there, and ``q̂`` = the ``⌈(n_cal+1)(1−α)⌉``-th smallest
    calibration score gives the finite-sample-valid interval
    ``ŷ ± q̂``; the test split then reports the achieved coverage —
    the distribution-free uncertainty wrapper a production feature
    pipeline puts around ANY point predictor.

    Distributed shape: scores are never ranked per row. ONE pass
    over the scored stream builds a (score → cal_count, test_count)
    value histogram (the Mann-Whitney/rank-machine discipline); the
    order statistic comes from a cumulative window over that bounded
    table, and the test coverage is a filtered sum over the SAME
    histogram — so both the quantile and the coverage are
    histogram-sized work. Two corpus scans total (the per-group mean
    probe, then the scoring pass — PSI edge-probe discipline).

    Determinism: ŷ is 6dp-rounded per group, y is integer, so every
    score is an exact 6dp rational; counts are integers; the rank
    threshold ``⌈(n_cal+1)(1−α)⌉`` and the coverage ratio are single
    fixed-shape double expressions.

    Output (one row): ``(n_cal, n_test, k, qhat, coverage,
    mean_width)``.
    """
    y = F.col(y_col).cast("double")
    means = (
        df.where(F.col(split_col) == cal_value)
        .groupBy(group_col)
        .agg(F.round(F.avg(y), 6).alias("_yhat"))
    )
    scored = df.join(F.broadcast(means), group_col).select(
        F.abs(y - F.col("_yhat")).alias("s"), F.col(split_col).alias("_sp")
    )
    # kept: the quantile, totals and coverage branches of the returned
    # plan read the score histogram (one row per distinct score)
    hist = scored.groupBy("s").agg(
        F.sum(F.when(F.col("_sp") == cal_value, 1).otherwise(0))
        .cast("long")
        .alias("n_cal"),
        F.sum(F.when(F.col("_sp") == test_value, 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    ).persist()
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        "s",
        "n_cal",
        "n_test",
        F.sum("n_cal").over(w).cast("long").alias("cum_cal"),
        F.sum("n_cal").over(tot).cast("long").alias("tot_cal"),
        F.sum("n_test").over(tot).cast("long").alias("tot_test"),
        F.max("s").over(tot).alias("max_s"),
    )
    k = F.ceil((F.col("tot_cal") + F.lit(1)) * F.lit(1.0 - float(alpha))).cast("long")
    qualifying = cum.withColumn("_k", k).where(F.col("cum_cal") >= F.col("_k"))
    qhat_row = qualifying.agg(
        F.min("s").alias("_qhat"),
    )
    base = cum.agg(
        F.max("tot_cal").alias("n_cal"),
        F.max("tot_test").alias("n_test"),
        F.max("max_s").alias("_max_s"),
        F.ceil((F.max("tot_cal") + F.lit(1)) * F.lit(1.0 - float(alpha)))
        .cast("long")
        .alias("k"),
    )
    joined = base.crossJoin(F.broadcast(qhat_row)).withColumn(
        "qhat", F.coalesce(F.col("_qhat"), F.col("_max_s"))
    )
    cov = hist.crossJoin(F.broadcast(joined.select("qhat"))).agg(
        F.sum(F.when(F.col("s") <= F.col("qhat"), F.col("n_test")).otherwise(0))
        .cast("long")
        .alias("n_cov")
    )
    out = joined.crossJoin(F.broadcast(cov))
    coverage = F.when(
        F.col("n_test") > 0, F.col("n_cov").cast("double") / F.col("n_test")
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_cal",
        "n_test",
        "k",
        F.round("qhat", 6).alias("qhat"),
        F.round(coverage, 6).alias("coverage"),
        F.round(F.lit(2.0) * F.col("qhat"), 6).alias("mean_width"),
    )


def pinball_loss(
    df: DataFrame,
    group_col: str,
    y_col: str,
    split_col: str,
    taus: tuple[float, ...] = (0.1, 0.5, 0.9),
    *,
    exact: bool = False,
    accuracy: int = 10000,
    cal_value: str = "cal",
    test_value: str = "test",
) -> DataFrame:
    """Quantile-forecast evaluation: per-group quantile predictors at
    each ``tau`` are fitted on the calibration split and scored on
    the test split with the pinball (quantile) loss — the proper
    scoring rule for quantile predictions, completing the engine's
    forecast-eval family (point forecasts → seasonal_naive_eval,
    distributions → this).

    Scale default ``exact=False`` → ``approx_percentile`` fit (the
    two-path discipline); the gate requests ``exact=True``.

    Shape: the fit is ONE hash agg per group computing all taus in a
    single pass; the fitted quantiles broadcast back and the eval is
    ONE agg per group of 4·|taus| conditional integer sums. The loss
    decomposes as ``τ·Σ_{y>q}(y−q) + (1−τ)·Σ_{y≤q}(q−y)`` with
    ``Σ(y−q) = Σy − n·q`` — exact bigint sums + fixed-shape double
    algebra; no per-row float accumulation.

    Output per (group, tau): ``(group, tau, q_pred, n_eval,
    pinball)``.
    """
    ts = [float(t) for t in taus]
    y = F.col(y_col).cast("long")
    qlit = "array(" + ",".join(repr(t) for t in ts) + ")"
    cal = df.where(F.col(split_col) == cal_value)
    if exact:
        agg = F.expr(f"percentile({y_col}, {qlit})").alias("_qv")
    else:
        agg = F.percentile_approx(
            y.cast("double"), ts, F.lit(int(accuracy))
        ).alias("_qv")
    fit = cal.groupBy(group_col).agg(agg)
    fit = fit.select(
        group_col,
        *[
            F.round(F.element_at(F.col("_qv"), i + 1), 6).alias(f"_q{i}")
            for i in range(len(ts))
        ],
    )
    test = df.where(F.col(split_col) == test_value).join(
        F.broadcast(fit), group_col
    )
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).cast("long").alias("n_eval")]
    for i in range(len(ts)):
        q = F.col(f"_q{i}")
        over = y.cast("double") > q
        aggs += [
            F.sum(F.when(over, 1).otherwise(0)).cast("long").alias(f"_no{i}"),
            F.sum(F.when(over, y.cast(dec))).alias(f"_so{i}"),
            F.sum(F.when(~over, y.cast(dec))).alias(f"_su{i}"),
            F.max(q).alias(f"_q{i}"),  # constant per group post-join
        ]
    # the group-sized sufficient-statistic table feeds one branch per
    # tau — a literal, so the test split aggregates ONCE
    per = collect_literal(test.groupBy(group_col).agg(*aggs))
    rows = []
    for i, t in enumerate(ts):
        q = F.col(f"_q{i}")
        n = F.col("n_eval").cast("double")
        no = F.col(f"_no{i}").cast("double")
        nu = n - no
        so = F.coalesce(F.col(f"_so{i}").cast("double"), F.lit(0.0))
        su = F.coalesce(F.col(f"_su{i}").cast("double"), F.lit(0.0))
        loss = F.when(
            F.col("n_eval") > 0,
            (F.lit(t) * (so - no * q) + F.lit(1.0 - t) * (nu * q - su)) / n,
        ).otherwise(F.lit(0.0))
        rows.append(
            per.select(
                group_col,
                F.lit(t).alias("tau"),
                F.round(q, 6).alias("q_pred"),
                F.col("n_eval"),
                F.round(loss, 6).alias("pinball"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def spiegelhalter_z(
    preds: DataFrame, label_col: str = "y", prob_col: str = "p"
) -> DataFrame:
    """Spiegelhalter's calibration Z test (Spiegelhalter 1986) — the
    SIGNIFICANCE companion to ECE: under perfect calibration,
    Z = Σ(yᵢ−pᵢ)(1−2pᵢ) / √(Σ(1−2pᵢ)²pᵢ(1−pᵢ)) is standard normal,
    so a dashboard can say "miscalibrated at p<0.01" instead of
    eyeballing an ECE magnitude. Positive Z = observed outcomes beat
    the probabilities where p<0.5 and undershoot where p>0.5
    (under-confident in the tails); the sign pattern ECE throws away.

    Shape: ONE algebraic aggregate over (numerator, variance) — no
    bins, no windows, map-side combinable. p-value via the portable
    normal CDF (functions/stats.py).
    """
    from ..functions.stats import two_sided_p

    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    agg = preds.where(y.isNotNull() & p.isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((y - p) * (F.lit(1.0) - F.lit(2.0) * p)).alias("num"),
        F.sum(
            (F.lit(1.0) - F.lit(2.0) * p)
            * (F.lit(1.0) - F.lit(2.0) * p)
            * p
            * (F.lit(1.0) - p)
        ).alias("var"),
    )
    z = F.when(F.col("var") > 0, F.col("num") / F.sqrt(F.col("var")))
    return agg.select(
        "n",
        F.round(F.col("num"), 6).alias("sum_resid"),
        F.round(z, 6).alias("z_stat"),
        F.round(two_sided_p(F.round(z, 6)), 6).alias("p_two"),
    )


def average_precision_by_fold(
    df: DataFrame,
    fold_col: str,
    label_col: str,
    prob_col: str,
    *,
    bin_scores: int | None = None,
) -> DataFrame:
    """(fold, n_pos, n_neg, prevalence, ap): average precision
    (area under the precision–recall curve, sklearn
    ``average_precision_score`` step semantics) per fold — the
    class-imbalance companion to :func:`auc_ks_by_fold`: ROC-AUC is
    blind to base rate (0.99 on a 1:10^4 problem can be useless),
    while AP weighs precision exactly where the positive class lives.
    Reference analog: the churn models are evaluated on heavily
    imbalanced labels (``src/models.py``); AP is the metric a ranking
    consumer of those scores reads.

    AP = Σ_s (pos_s / P) · precision_s over DISTINCT scores s in
    descending order, with tp_s/fp_s the cumulative counts at-or-above
    s (ties grouped at one threshold — exactly sklearn's step
    interpolation).

    Distributed shape: the :func:`auc_ks_by_fold` machine —
    groupBy(fold, score) FIRST (10^12 rows collapse to per-distinct-
    score partial counts, map-side combined), cumulative window over
    DISTINCT scores per fold, one final agg. ``bin_scores=K`` is the
    continuous-score cardinality switch (same contract as the AUC
    sibling).

    Determinism: precision terms are non-dyadic rationals, so a naive
    double Σ would be partition-order-dependent. Each term is instead
    evaluated as ONE fixed-shape double expression
    ``floor(pos·tp·10^9 / (tp+fp))`` — identical IEEE sequence in
    both engines — then summed EXACTLY as decimal(38,0) (order-free)
    and divided once by ``P·10^9``. The 1e-9 floor grid biases AP by
    < #scores·1e-9/P, far under the 6dp output rounding.
    """
    from pyspark.sql import Window

    y = F.col(label_col).cast("int")
    s: Column = F.col(prob_col).cast("double")
    if bin_scores is not None:
        s = (F.floor(s * F.lit(int(bin_scores))) + F.lit(0.5)) / F.lit(
            float(bin_scores)
        )
    per_score = (
        df.select(F.col(fold_col), s.alias("score"), y.alias("y"))
        .groupBy(fold_col, "score")
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.sum(1 - F.col("y")).cast("long").alias("neg"),
        )
    )
    w = Window.partitionBy(fold_col).orderBy(F.desc("score"))
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    cum = per_score.select(
        F.col(fold_col),
        "pos",
        F.sum("pos").over(w_cum).cast("long").alias("tp"),
        F.sum("neg").over(w_cum).cast("long").alias("fp"),
    )
    term = F.floor(
        F.col("pos").cast("double")
        * F.col("tp").cast("double")
        * F.lit(1.0e9)
        / (F.col("tp") + F.col("fp")).cast("double")
    ).cast("decimal(38,0)")
    out = cum.groupBy(fold_col).agg(
        F.max("tp").alias("_p"),
        F.max("fp").alias("_n"),
        F.sum(term).alias("_num"),
    )
    p = F.col("_p").cast("double")
    n = F.col("_n").cast("double")
    return out.select(
        F.col(fold_col),
        F.col("_p").cast("long").alias("n_pos"),
        F.col("_n").cast("long").alias("n_neg"),
        F.round(p / (p + n), 6).alias("prevalence"),
        F.round(F.col("_num").cast("double") / (p * F.lit(1.0e9)), 6).alias("ap"),
    ).orderBy(fold_col)


def ece_adaptive(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
    *,
    bin_scores: int | None = None,
) -> DataFrame:
    """Adaptive (equal-MASS) Expected Calibration Error — the
    fixed-width :func:`ece` spreads most of a confident model's rows
    across two or three crowded bins and leaves the rest nearly
    empty, so its gap estimate is noise-dominated exactly where data
    is thin; equal-mass binning gives every bin the same statistical
    weight (Nixon et al. 2019's ACE argument). Output: ONE row —
    ``(n_bins, n_bins_used, n_rows, ece_adaptive)``.

    Bins are assigned by RANK, not by interpolated quantile EDGES:
    per distinct score, ``bin = floor(cum_before · n_bins / N)`` from
    the cumulative count window — pure integer arithmetic (no
    percentile interpolation to disagree on), with ties sharing a
    bin by construction. This is the value-histogram machine of
    :func:`auc_ks_by_fold`: 10^12 rows collapse to per-distinct-score
    counts first, the window orders DISTINCT scores only, and
    ``bin_scores=K`` is the same continuous-cardinality switch.

    Determinism: counts and Σy are exact longs; Σp per distinct
    score is count·score (one product), so per-bin conf/acc are
    single divisions of exact quantities; the final ≤n_bins-row
    reduce rounds at 6dp.
    """
    from pyspark.sql import Window

    y = F.col(label_col).cast("int")
    s: Column = F.col(prob_col).cast("double")
    if bin_scores is not None:
        s = (F.floor(s * F.lit(int(bin_scores))) + F.lit(0.5)) / F.lit(
            float(bin_scores)
        )
    hist = (
        df.select(s.alias("score"), y.alias("y"))
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("sy"),
        )
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    ranked = hist.select(
        "score",
        "cnt",
        "sy",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long").alias("_cb"),
        F.sum("cnt").over(w_tot).cast("long").alias("_n"),
    )
    binned = ranked.select(
        F.floor(F.col("_cb") * F.lit(int(n_bins)) / F.col("_n"))
        .cast("int")
        .alias("bin"),
        "score",
        "cnt",
        "sy",
        "_n",
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("score") * F.col("cnt")).alias("sp"),
        F.sum("sy").cast("long").alias("ty"),
        F.max("_n").alias("_nn"),
    )
    gap = F.abs(
        F.col("ty").cast("double") / F.col("n") - F.col("sp") / F.col("n")
    )
    return per_bin.agg(
        F.lit(int(n_bins)).alias("n_bins"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.max("_nn").cast("long").alias("n_rows"),
        F.round(
            F.sum(F.col("n").cast("double") / F.col("_nn") * gap), 6
        ).alias("ece_adaptive"),
    )


def qini_curve(
    df: DataFrame,
    arm_col: str,
    label_col: str,
    score_col: str,
    n_bins: int = 10,
    *,
    treatment: str = "t",
) -> DataFrame:
    """Qini/uplift curve: rank units by a TARGETING score
    (descending), and per cumulative decile compare treated vs
    control response — ``qini(k) = cumResp_T(k) − cumResp_C(k) ·
    cumN_T(k)/cumN_C(k)`` (incremental conversions vs the
    randomized-control expectation at equal depth). The
    treatment-effect sibling of :func:`gains_table`: gains ranks a
    PREDICTION against outcomes, Qini ranks a TARGETING policy
    against its control — the read every uplift-model consumer
    needs before acting on scores. Output per decile: cumulative
    sizes/responses in both arms, ``uplift_rate_gap`` and ``qini``.

    Shape: the rank-bin assignment is the :func:`ece_adaptive`
    integer machine (distinct-score histogram + cumulative-count
    window, DESC scores — never per-row ranks); everything after is
    one ≤n_bins-row cumulative window over exact long counts with
    fixed-shape final divisions.
    """
    from pyspark.sql import Window

    t = (F.col(arm_col) == treatment).cast("int")
    y = F.col(label_col).cast("int")
    hist = (
        df.select(
            F.col(score_col).cast("double").alias("score"),
            t.alias("t"),
            y.alias("y"),
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("t").cast("long").alias("nt"),
            F.sum(F.col("t") * F.col("y")).cast("long").alias("rt"),
            F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("rc"),
        )
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    ranked = hist.select(
        "score",
        "cnt",
        "nt",
        "rt",
        "rc",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long").alias("_cb"),
        F.sum("cnt").over(w_tot).cast("long").alias("_n"),
    )
    binned = ranked.select(
        F.floor(F.col("_cb") * F.lit(int(n_bins)) / F.col("_n"))
        .cast("int")
        .alias("decile"),
        "cnt",
        "nt",
        "rt",
        "rc",
    )
    per = binned.groupBy("decile").agg(
        F.sum("cnt").cast("long").alias("_c"),
        F.sum("nt").cast("long").alias("_t"),
        F.sum("rt").cast("long").alias("_rt"),
        F.sum("rc").cast("long").alias("_rc"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "decile",
        F.sum("_c").over(wc).cast("long").alias("cum_n"),
        F.sum("_t").over(wc).cast("long").alias("cum_n_t"),
        (F.sum("_c").over(wc) - F.sum("_t").over(wc)).cast("long").alias("cum_n_c"),
        F.sum("_rt").over(wc).cast("long").alias("cum_resp_t"),
        F.sum("_rc").over(wc).cast("long").alias("cum_resp_c"),
    )
    rt = F.col("cum_resp_t").cast("double")
    rc = F.col("cum_resp_c").cast("double")
    nt = F.col("cum_n_t").cast("double")
    nc = F.col("cum_n_c").cast("double")
    return cum.select(
        "decile",
        "cum_n",
        "cum_n_t",
        "cum_n_c",
        "cum_resp_t",
        "cum_resp_c",
        F.round(
            F.when(nt > 0, rt / nt).otherwise(F.lit(0.0))
            - F.when(nc > 0, rc / nc).otherwise(F.lit(0.0)),
            6,
        ).alias("uplift_rate_gap"),
        F.round(
            rt - F.when(nc > 0, rc * nt / nc).otherwise(F.lit(0.0)), 6
        ).alias("qini"),
    ).orderBy("decile")


def hosmer_lemeshow(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
    *,
    bin_scores: int | None = None,
) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit chi-square over equal-mass
    score deciles — the SIGNIFICANCE companion to :func:`ece_adaptive`
    on the same rank-assigned bins (ECE says how big the
    calibration gap is; HL says whether it exceeds chance):

        HL = Σ_g (O_g − E_g)² / (E_g · (1 − E_g/n_g)),  df = G − 2

    with O_g = Σy, E_g = Σp per bin. The p-value uses the
    Wilson–Hilferty cube-root normal approximation of the chi-square
    tail through the engine's portable CDF polynomial (|err| < 1e-3
    in p for df ≥ 8 — documented approximation, exact df reported
    alongside so a consumer can recompute exactly).

    Shape: identical to :func:`ece_adaptive` — distinct-score
    histogram, integer rank-bin assignment, one ≤n_bins reduce.
    Σp per distinct score is count·score (exact for the dyadic
    fixture); O_g is an exact long.
    """
    from pyspark.sql import Window

    from kkbox_churn_prediction_spark.functions.stats import normal_cdf

    y = F.col(label_col).cast("int")
    s: Column = F.col(prob_col).cast("double")
    if bin_scores is not None:
        s = (F.floor(s * F.lit(int(bin_scores))) + F.lit(0.5)) / F.lit(
            float(bin_scores)
        )
    hist = (
        df.select(s.alias("score"), y.alias("y"))
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("sy"),
        )
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    ranked = hist.select(
        "score",
        "cnt",
        "sy",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long").alias("_cb"),
        F.sum("cnt").over(w_tot).cast("long").alias("_n"),
    )
    per_bin = (
        ranked.select(
            F.floor(F.col("_cb") * F.lit(int(n_bins)) / F.col("_n"))
            .cast("int")
            .alias("bin"),
            "score",
            "cnt",
            "sy",
        )
        .groupBy("bin")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.col("score") * F.col("cnt")).alias("e"),
            F.sum("sy").cast("long").alias("o"),
        )
    )
    term = F.when(
        (F.col("e") > 0) & (F.col("e") < F.col("n")),
        (F.col("o") - F.col("e"))
        * (F.col("o") - F.col("e"))
        / (F.col("e") * (F.lit(1.0) - F.col("e") / F.col("n"))),
    ).otherwise(F.lit(0.0))
    red = per_bin.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum(term).alias("_hl"),
        F.sum("n").cast("long").alias("n_rows"),
    )
    dfree = (F.col("g") - F.lit(2)).cast("double")
    # Wilson–Hilferty: chi2 tail ≈ 1 − Φ(((x/k)^(1/3) − 1 + 2/(9k)) / sqrt(2/(9k)))
    wh_z = (
        F.pow(F.col("_hl") / dfree, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dfree))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dfree))
    return red.select(
        F.col("g").alias("n_bins_used"),
        "n_rows",
        F.round(F.col("_hl"), 6).alias("hl_stat"),
        (F.col("g") - F.lit(2)).cast("long").alias("df"),
        F.round(
            F.when(dfree > 0, F.lit(1.0) - normal_cdf(wh_z)).otherwise(
                F.lit(None).cast("double")
            ),
            6,
        ).alias("p_wh"),
    )


def univariate_auc_screen(
    units: DataFrame,
    label_col: str,
    feature_cols: list[str],
) -> DataFrame:
    """Filter-method feature screen: per feature, the exact tie-aware
    ROC-AUC (and KS) of the RAW feature value against the binary
    label — the model-free ranking power of each candidate before
    any training (|AUC − 0.5| is the screen; the signed direction
    tells which way it discriminates). Complements
    ``feature_label_corr`` (linear) with a rank-based, monotone-
    transform-invariant measure — the reference screens features by
    correlation only (``src/error_analysis.py``); AUC is the screen
    its imbalanced labels actually need.

    Shape: ``stack()`` melts the unit table to (feature, value,
    label) long format — rows × |features|, one pass, no join — then
    the whole family rides ONE :func:`auc_ks_by_fold` call with the
    feature name as the fold key (distinct-value histogram machine:
    the sort is bounded by per-feature value cardinality, never row
    count).
    """
    n = len(feature_cols)
    pairs = ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in feature_cols)
    stacked = units.selectExpr(
        f"CAST({label_col} AS INT) AS _y", f"stack({n}, {pairs}) AS (feature, _v)"
    ).where(F.col("_v").isNotNull())
    return auc_ks_by_fold(stacked, "feature", "_y", "_v").orderBy("feature")


def label_shift_estimate(
    df: DataFrame,
    fold_col: str,
    label_col: str,
    prob_col: str,
    *,
    source_fold: str = "a",
    target_fold: str = "b",
    threshold: float = 0.5,
) -> DataFrame:
    """Black-box label-shift estimation (BBSE, Lipton et al. 2018,
    binary): estimate the TARGET fold's class prior WITHOUT target
    labels, from (a) the classifier's source-fold confusion rates
    ``C[i,j] = P(ŷ=i | y=j)`` and (b) its target-fold prediction
    rate ``μ̂`` — solving ``C·q = μ̂`` in closed form. The
    drift-triage companion to the FEATURE-drift family: PSI/KS say
    "inputs moved"; this says "the LABEL MIX moved, by this much" —
    which decides between reweighting (label shift) and retraining
    (concept drift). Output: ONE row — source prior, target
    predicted-positive rate, estimated target prior (clamped to
    [0,1], raw value alongside), the confusion determinant (the
    identifiability diagnostic: det → 0 = classifier too weak to
    invert), and the implied importance weight q/p for the positive
    class.

    Shape: one conditional hash agg to an 8-count profile row,
    closed-form 2×2 algebra after. Exact integer counts; fixed-shape
    doubles.
    """
    y = F.col(label_col).cast("int")
    yhat = (F.col(prob_col).cast("double") >= F.lit(float(threshold))).cast("int")
    fold = F.col(fold_col)
    one = df.select(fold.alias("_f"), y.alias("_y"), yhat.alias("_p")).agg(
        F.sum(F.when((F.col("_f") == source_fold) & (F.col("_y") == 1) & (F.col("_p") == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("_f") == source_fold) & (F.col("_y") == 1) & (F.col("_p") == 0), 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((F.col("_f") == source_fold) & (F.col("_y") == 0) & (F.col("_p") == 1), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("_f") == source_fold) & (F.col("_y") == 0) & (F.col("_p") == 0), 1).otherwise(0)).cast("long").alias("tn"),
        F.sum(F.when((F.col("_f") == target_fold) & (F.col("_p") == 1), 1).otherwise(0)).cast("long").alias("t1"),
        F.sum(F.when((F.col("_f") == target_fold) & (F.col("_p") == 0), 1).otherwise(0)).cast("long").alias("t0"),
    )
    n1 = (F.col("tp") + F.col("fn")).cast("double")  # source positives
    n0 = (F.col("fp") + F.col("tn")).cast("double")
    tpr = F.when(n1 > 0, F.col("tp") / n1)
    fpr = F.when(n0 > 0, F.col("fp") / n0)
    mu = F.col("t1").cast("double") / (F.col("t1") + F.col("t0")).cast("double")
    det = tpr - fpr
    q_raw = F.when(F.abs(det) > 1e-9, (mu - fpr) / det)
    q = F.least(F.greatest(q_raw, F.lit(0.0)), F.lit(1.0))
    p_src = n1 / (n1 + n0)
    return one.select(
        (F.col("tp") + F.col("fn") + F.col("fp") + F.col("tn"))
        .cast("long")
        .alias("n_source"),
        (F.col("t1") + F.col("t0")).cast("long").alias("n_target"),
        F.round(p_src, 6).alias("source_prior"),
        F.round(tpr, 6).alias("tpr"),
        F.round(fpr, 6).alias("fpr"),
        F.round(mu, 6).alias("target_pred_rate"),
        F.round(q_raw, 6).alias("target_prior_raw"),
        F.round(q, 6).alias("target_prior_est"),
        F.round(det, 6).alias("confusion_det"),
        F.round(F.when(p_src > 0, q / p_src), 6).alias("pos_weight"),
    )


def threshold_sweep(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    thresholds: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Operating-point table: confusion counts + precision / recall /
    F1 / accuracy at each candidate decision threshold — the
    deployment artifact between the threshold-free metrics (AUC, AP)
    and a shipped cutoff: the on-call engineer picks the row whose
    precision-recall trade matches the product constraint. Exact
    long counts per row; every rate is one fixed-shape division.
    Degenerate cells emit defined NULLs.

    Shape: ONE pass with a |thresholds|-wide conditional aggregate
    (no per-threshold scan, no explode — each threshold is two
    ``sum(when(...))`` columns over the same stream), then the tiny
    wide row unpivots to the output table via ``stack``.
    """
    y = F.col(label_col).cast("int")
    p = F.col(prob_col).cast("double")
    aggs = [F.sum(y).cast("long").alias("_P"), F.count(F.lit(1)).cast("long").alias("_N")]
    for i, t in enumerate(thresholds):
        pred = (p >= F.lit(float(t))).cast("int")
        aggs.append(F.sum(pred * y).cast("long").alias(f"_tp{i}"))
        aggs.append(F.sum(pred).cast("long").alias(f"_pp{i}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), _tp{i}, _pp{i}" for i, t in enumerate(thresholds)
    )
    long = one.selectExpr(
        "_P",
        "_N",
        f"stack({len(thresholds)}, {stack_args}) AS (threshold, tp, pp)",
    )
    tp = F.col("tp").cast("double")
    fp = (F.col("pp") - F.col("tp")).cast("double")
    fn = (F.col("_P") - F.col("tp")).cast("double")
    tn = (F.col("_N") - F.col("_P") - fp).cast("double")
    prec = F.when(F.col("pp") > 0, tp / F.col("pp").cast("double"))
    rec = F.when(F.col("_P") > 0, tp / F.col("_P").cast("double"))
    f1 = F.when(
        (prec + rec) > 0, F.lit(2.0) * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return long.select(
        F.round("threshold", 6).alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round((tp + tn) / F.col("_N").cast("double"), 6).alias("accuracy"),
    ).orderBy("threshold")
