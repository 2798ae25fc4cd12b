"""Robust location estimation: Huber M-estimator via IRLS on the
value histogram.

The mean is shattered by one corrupted row in 10^12; the median wastes
efficiency on clean data. The Huber estimator interpolates: quadratic
loss inside ``k = k_mult · MAD``, linear outside, fit by iteratively
reweighted least squares (k_mult = 1.345 ⇒ 95% Gaussian efficiency,
Huber 1964). The curation use is the same as ``winsorize``/
``mad_outliers`` (heavy-tailed engagement and length measures) but
yields a single defensible center with a tuning constant.

Determinism recipe (the binned-Newton discipline, see
``calibration.platt_fit``): everything derives from the exact integer
VALUE HISTOGRAM ``(value, count)`` — ONE partial+final hash agg over
the corpus, bounded by the value domain. The median and MAD are
interpolated weighted medians computed by integer cumsums on that
histogram (convention-identical to ``percentile(x, 0.5)`` /
DuckDB ``median``: index ``0.5·(n−1)``, linear interpolation). The
IRLS then runs a FIXED iteration count (no convergence break), the
estimate re-quantized to 1e-9 between steps so both engines enter
every step with the identical float, IRLS's contraction damping the
remaining summation-order wobble below the final 6dp rounding. The
DuckDB oracle unrolls the identical steps as chained CTEs.

Scale shape: the corpus is touched by exactly ONE hash agg; all later
work (cumsum windows, 15 IRLS steps of broadcast-1-row + agg with
``localCheckpoint`` keeping the plan flat) runs on the bounded
histogram. No exact-percentile buffer ever sees raw rows — the
scale-unsafe default the round-2 review flagged on the percentile
family is structurally absent here.

Reference parity anchor: the reference clips outliers with hard
percentile caps (``features/features_comprehensive.sql`` one-sided
clamps); this is the principled robust-center upgrade of that P5
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_Q = 1_000_000_000  # 1e-9 re-quantization grid between IRLS steps


def _weighted_median(hist: DataFrame, v_col: str = "v", c_col: str = "c"):
    """Interpolated median of the expanded multiset described by a
    ``(value, count)`` histogram, as a 1-row DataFrame ``(med)``.

    Exact-integer machinery: cumulative counts by value order via the
    BUCKETED prefix-sum rank engine (``encoders.value_rank_components``
    — bucket-local cumsums in parallel, the cross-bucket carry a
    window over the ≤256-row offsets table), then ``vlo``/``vhi`` =
    values at ranks ``floor/ceil(0.5·(n−1))`` and linear interpolation
    — the percentile(0.5) convention on both engines.

    This is the DISTRIBUTED path — it is only entered when the value
    domain exceeded ``max_driver_bins``, so it must never funnel the
    histogram through an unpartitioned cumulative window (the round-3
    review's one latent scale-killer, since fixed: the prefix sums are
    exact integers, so routing through the rank engine is
    hash-identical to the old single-partition window; plan-guarded in
    ``test_plan_guards.py``).
    """
    from kkbox_churn_prediction_spark.operators.encoders import (
        value_rank_components,
    )

    comps = value_rank_components(
        hist, v_col, weight_col=c_col, mode="distributed"
    )
    cum = comps.select(
        F.col(v_col).alias("v"),
        (F.col("_before") + F.col("_cnt")).alias("cum"),
    )
    n = hist.agg(F.sum(c_col).cast("long").alias("n"))
    ranked = cum.crossJoin(F.broadcast(n)).select(
        "v",
        "cum",
        F.floor((F.col("n") - 1) / 2).alias("lo"),
        (F.col("n") - 1 - F.floor((F.col("n") - 1) / 2)).alias("hi"),
        ((F.col("n") - 1).cast("double") / 2).alias("idx"),
    )
    vlo = ranked.where(F.col("cum") > F.col("lo")).agg(
        F.min("v").alias("vlo"), F.min("idx").alias("idx"), F.min("lo").alias("lo")
    )
    vhi = ranked.where(F.col("cum") > F.col("hi")).agg(F.min("v").alias("vhi"))
    return vlo.crossJoin(F.broadcast(vhi)).select(
        (
            F.col("vlo").cast("double")
            + (F.col("vhi") - F.col("vlo")).cast("double")
            * (F.col("idx") - F.col("lo").cast("double"))
        ).alias("med")
    )


def huber_location(
    df: DataFrame,
    value_col: str,
    *,
    k_mult: float = 1.345,
    n_iter: int = 15,
    mode: str = "auto",
    max_driver_bins: int = 65536,
) -> DataFrame:
    """One-row Huber location report for an integer-valued column:
    ``(n, mean, median, mad, k, huber_mu, n_iter)``.

    Start point = median; scale = MAD (median absolute deviation).
    Each IRLS step reweights every histogram bin with
    ``w = min(1, k / |v − mu|)`` (w = 1 at v = mu) and recenters at
    the weighted mean, rounded to the 1e-9 grid.

    Execution modes (the sessionize-auto-switch pattern — equal
    outputs, pytest-asserted): the corpus is reduced to the exact
    integer value histogram by ONE hash agg either way.
    ``mode="driver"`` collects that bounded histogram once and
    replays the identical quantized median/MAD/IRLS in Python doubles
    — one Spark job instead of ~``n_iter + 5``. ``mode="distributed"``
    keeps every step on the cluster. ``mode="auto"`` (default)
    collects up to ``max_driver_bins + 1`` bins and replays
    driver-side when the value domain fits (text lengths, counts and
    latencies live in ≤ tens of thousands of distinct values no
    matter the row count), falling back to distributed otherwise.
    """
    if mode not in ("auto", "driver", "distributed"):  # pragma: no cover
        raise ValueError(f"unknown mode {mode!r}")
    v = F.col(value_col).cast("long")
    hist_plan = (
        df.select(v.alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if mode != "distributed":
        from kkbox_churn_prediction_spark.operators.replay import (
            driver_replay_max_rows,
        )

        # the session replay budget overrides the module default, so
        # spark.kkbox_churn.driverReplayMaxRows=0 forces the
        # distributed path fleet-wide here too (PARITY_REPLAY sweep)
        max_bins = driver_replay_max_rows(
            df.sparkSession, int(max_driver_bins)
        )
        rows = (
            hist_plan.limit(max_bins + 1).collect()
            if mode == "auto"
            else hist_plan.collect()
        )
        if mode == "driver" or len(rows) <= max_bins:
            return _huber_location_driver(
                df.sparkSession,
                [(int(r["v"]), int(r["c"])) for r in rows],
                float(k_mult),
                int(n_iter),
            )
    hist = hist_plan.persist()
    try:
        med = _weighted_median(hist).localCheckpoint()
        # deviation histogram |v − med|: med is interpolated (may be .5);
        # work on the 2x integer grid so the deviations stay exact
        dev_hist = (
            hist.crossJoin(F.broadcast(med))
            .select(
                F.abs(
                    F.col("v") * 2 - F.round(F.col("med") * 2).cast("long")
                ).alias("v"),
                F.col("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        mad = _weighted_median(dev_hist).select(
            (F.col("med") / 2).alias("mad")
        )
        # k on the 1e-9 grid so both engines carry the identical constant
        mu = (
            med.crossJoin(F.broadcast(mad))
            .select(
                F.round(F.col("med") * F.lit(float(_Q))).cast("long").alias("muq"),
                F.round(F.col("mad") * F.lit(float(k_mult)) * F.lit(float(_Q)))
                .cast("long")
                .alias("kq"),
                F.round(F.col("mad"), 6).alias("mad"),
                F.round(F.col("med"), 6).alias("median"),
            )
            .localCheckpoint()
        )
        for _ in range(int(n_iter)):
            joined = hist.crossJoin(F.broadcast(mu))
            muf = F.col("muq").cast("double") / F.lit(float(_Q))
            kf = F.col("kq").cast("double") / F.lit(float(_Q))
            r = F.abs(F.col("v").cast("double") - muf)
            w = F.when(r <= kf, F.lit(1.0)).otherwise(kf / r)
            mu = joined.agg(
                F.round(
                    F.sum(w * F.col("v") * F.col("c"))
                    / F.sum(w * F.col("c"))
                    * F.lit(float(_Q))
                )
                .cast("long")
                .alias("muq"),
                F.min("kq").alias("kq"),
                F.min("mad").alias("mad"),
                F.min("median").alias("median"),
            ).localCheckpoint()

        # n and mean from the histogram — Σv·c and Σc are exact integers,
        # so the mean is one IEEE division (cross-engine identical)
        stats = hist.agg(
            F.sum("c").cast("long").alias("n"),
            F.round(
                F.sum(F.col("v") * F.col("c")).cast("double")
                / F.sum("c").cast("double"),
                6,
            ).alias("mean"),
        )
        return stats.crossJoin(F.broadcast(mu)).select(
            "n",
            "mean",
            "median",
            "mad",
            F.round(F.col("kq").cast("double") / F.lit(float(_Q)), 6).alias("k"),
            F.round(F.col("muq").cast("double") / F.lit(float(_Q)), 6).alias(
                "huber_mu"
            ),
            F.lit(int(n_iter)).cast("int").alias("n_iter"),
        )
    finally:
        hist.unpersist()


def _rhu(x: float) -> float:
    """``F.round`` / DuckDB ``ROUND`` semantics (HALF_UP, away from
    zero) — Python's built-in ``round`` is banker's."""
    import math

    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _huber_location_driver(
    spark, bins: list, k_mult: float, n_iter: int
) -> DataFrame:
    """Driver-side replay of :func:`huber_location` over the collected
    integer value histogram — the identical interpolated weighted
    medians (same floor/ceil rank convention), the identical HALF_UP
    1e-9 re-quantization between IRLS steps, sums in sorted-value
    order; term-for-term the expression tree the symbolic column
    iteration evaluates, through the quantization grid that carries
    the cross-engine contract vs the DuckDB oracle."""
    q_ = float(_Q)
    schema = (
        "n long, mean double, median double, mad double, k double, "
        "huber_mu double, n_iter int"
    )
    if not bins:  # empty column: the distributed agg's null row
        return spark.createDataFrame(
            [(None, None, None, None, None, None, int(n_iter))], schema
        )
    bins = sorted(bins)

    def wmed(h: list) -> float:
        n = sum(c for _, c in h)
        lo = (n - 1) // 2
        hi = (n - 1) - lo
        idx = (n - 1) / 2.0
        cum = 0
        vlo = vhi = None
        for v, c in h:
            cum += c
            if vlo is None and cum > lo:
                vlo = v
            if vhi is None and cum > hi:
                vhi = v
                break
        return float(vlo) + float(vhi - vlo) * (idx - float(lo))

    med = wmed(bins)
    med2 = int(_rhu(med * 2))
    dev: dict = {}
    for v, c in bins:
        k = abs(v * 2 - med2)
        dev[k] = dev.get(k, 0) + c
    mad = wmed(sorted(dev.items())) / 2
    muq = int(_rhu(med * q_))
    kq = int(_rhu(mad * k_mult * q_))
    for _ in range(int(n_iter)):
        muf = float(muq) / q_
        kf = float(kq) / q_
        num = den = 0.0
        for v, c in bins:
            r = abs(float(v) - muf)
            w = 1.0 if r <= kf else kf / r
            num += w * float(v) * float(c)
            den += w * float(c)
        muq = int(_rhu(num / den * q_))

    n = sum(c for _, c in bins)
    sv = sum(v * c for v, c in bins)  # exact integer Σv·c
    row = (
        n,
        _rhu(float(sv) / float(n) * 1e6) / 1e6,
        _rhu(med * 1e6) / 1e6,
        _rhu(mad * 1e6) / 1e6,
        _rhu(float(kq) / q_ * 1e6) / 1e6,
        _rhu(float(muq) / q_ * 1e6) / 1e6,
        int(n_iter),
    )
    return spark.createDataFrame([row], schema)


def esd_topk_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    *,
    n_rounds: int = 5,
) -> DataFrame:
    """Generalized-ESD-style iterative outlier extraction (Rosner
    1983, the multi-outlier fix for the masking problem single-pass
    z-scores have): ``n_rounds`` times, studentize the REMAINING
    series and remove the most extreme point. Unlike a one-shot
    ``|z| > 3`` screen (``mad_outliers``/``daily_anomalies``), a
    gross outlier cannot inflate the std enough to hide a second one
    — each removal re-estimates the scale.

    Emitted per round: ``(round, key, value, zscore)`` — the critical-
    value comparison (a t-quantile) is left to the caller so the
    output stays cross-engine exact; callers threshold ``zscore``.

    Determinism: the mean/std of each round derive from exact integer
    sums (n, Σv, Σv²) — sample variance ``(n·Σv² − (Σv)²)/(n(n−1))``
    has an exact-integer numerator, so both engines studentize with
    bit-identical doubles; the argmax tiebreak is (|z| desc, key asc).

    Scale shape: intended for BOUNDED series (daily rollups, per-group
    profiles) — each round is one agg + one broadcast + one filter on
    that table, ``localCheckpoint`` keeping the plan flat.
    """
    remaining = df.select(
        F.col(key_col).alias("k"), F.col(value_col).cast("long").alias("v")
    ).localCheckpoint()
    picks = []
    for rnd in range(1, int(n_rounds) + 1):
        stats = remaining.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s1"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("s2"),
        )
        # try_divide: n <= 1 (no sample variance) and var = 0
        # (constant series) both make the z-score undefined -> NULL,
        # matching the oracle's NULL-on-zero-divide; the round then
        # picks nothing (r5 degenerate-fuzz catch: single-day /
        # constant daily series ERRORed under ANSI division)
        mean = F.try_divide(F.col("s1").cast("double"), F.col("n").cast("double"))
        var = F.try_divide(
            (
                F.col("n").cast("double") * F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            ),
            F.col("n").cast("double") * (F.col("n") - 1).cast("double"),
        )
        z = F.try_divide(F.abs(F.col("v").cast("double") - mean), F.sqrt(var))
        scored = remaining.crossJoin(F.broadcast(stats)).select(
            "k", "v", z.alias("z")
        )
        # argmax with a cross-engine tiebreak: exact-double max z,
        # then smallest key (both reproducible on any engine — no
        # engine-specific hash in the ordering)
        maxz = scored.agg(F.max("z").alias("_mz"))
        pick = (
            scored.crossJoin(F.broadcast(maxz))
            .where(F.col("z") == F.col("_mz"))
            .agg(
                F.min_by(
                    F.struct(
                        F.col("k").alias("key"),
                        F.col("v").alias("value"),
                        F.col("z").alias("z"),
                    ),
                    F.col("k"),
                ).alias("p")
            )
            .select(
                F.lit(rnd).cast("int").alias("round"),
                F.col("p.key").alias("key"),
                F.col("p.value").cast("long").alias("value"),
                F.round("p.z", 6).alias("zscore"),
            )
            # a round with no defined z picks NOTHING (the oracle's
            # WHERE z = mz LIMIT 1 yields zero rows); the global agg
            # above still emits one all-NULL row on empty input —
            # drop it so both engines agree
            .where(F.col("key").isNotNull())
            .localCheckpoint()
        )
        picks.append(pick)
        pk = pick.select(F.col("key").alias("_pk"))
        remaining = (
            remaining.join(
                F.broadcast(pk), remaining["k"] == F.col("_pk"), "left_anti"
            )
        ).localCheckpoint()
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out
