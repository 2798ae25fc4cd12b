"""Tumbling / rolling event-time window aggregates (north-star axis-A).

The reference's only calendar windowing is tumbling-month GROUP BY
(``sql/04_kpi_metrics.sql:13,55``; ``sql/monthly_user_engagement.sql:11-24``,
A9 in SURVEY §2.4); its "rolling" windows are all cutoff-anchored
lookbacks (A2). These two operators generalize both to arbitrary
event-time grain:

- :func:`tumbling_window_counts` — wall-clock-aligned tumbling bucket
  of any width that divides a day (TZ-safe; ``F.window`` was rejected
  because its UTC-epoch alignment silently breaks cross-engine parity
  under non-UTC session timezones — see the function docstring).
- :func:`rolling_interval_stats` — per-TURN trailing window via a
  RANGE frame over microsecond event time: for every turn, aggregates
  over all turns of the same conversation within the preceding
  interval (peer rows at the exact same timestamp included, matching
  ANSI RANGE semantics in DuckDB/Postgres).

Both are pure JVM window/agg compositions: one shuffle each, no
Python. At 10^12 turns the RANGE frame rides the same
``repartitionByRange(conv_id) + sortWithinPartitions(conv_id, ts)``
layout as every other per-entity window operator (see
``operators.sessionize`` scale note); the tumbling agg is a plain
partial+final hash aggregate keyed by (bucket, group) — fully
parallel, no per-entity ordering needed.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import collect_literal


def _round_half_up(x: float) -> float:
    """``F.round`` / DuckDB ``ROUND`` semantics (HALF_UP, away from
    zero) — Python's built-in ``round`` is banker's and would diverge
    on exact .5 grid points."""
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

DAY_US = 86_400_000_000  # one UTC day in microseconds


def _daily(turns: DataFrame, *aggs: Column) -> DataFrame:
    """``(d, *aggs)`` per calendar day of ``ts``, collected into a
    literal relation: the series is bounded by the calendar and its
    callers read it from several branches, so one Spark job aggregates
    the stream and no cache entry outlives the call."""
    return collect_literal(
        turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(*aggs)
    )


def rolling_interval_stats(
    turns: DataFrame, window_seconds: int = 1800
) -> DataFrame:
    """Per-turn trailing-interval aggregates.

    For each turn: how many turns (and how much text) this
    conversation produced in the trailing ``window_seconds`` up to and
    including now — the event-time generalization of the reference's
    cutoff-anchored lookbacks (``features/features_comprehensive.sql:45``
    ``days_ago`` carving), computed for EVERY turn instead of a fixed
    cutoff grid.

    RANGE frame over ``unix_micros(ts)`` so ties (equal timestamps)
    are peer-inclusive — identical to ``RANGE BETWEEN ... PRECEDING
    AND CURRENT ROW`` in the SQL oracle.
    """
    window_us = int(window_seconds) * 1_000_000
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-window_us, 0)
    )
    return turns.select(
        "conv_id",
        "turn_idx",
        F.count(F.lit(1)).over(w).alias("n_turns_trailing"),
        F.sum(F.expr("CAST(length(text) AS BIGINT)")).over(w).alias(
            "text_len_trailing"
        ),
        F.count(F.expr("CASE WHEN role = 'user' THEN 1 END")).over(w).alias(
            "n_user_turns_trailing"
        ),
    )


def tumbling_window_counts(
    turns: DataFrame, width_seconds: int = 21600
) -> DataFrame:
    """Global tumbling-window activity by role (generalizes the
    reference's ``DATE_TRUNC('month')`` tumbling agg,
    ``sql/04_kpi_metrics.sql:13``). One hash aggregate; the bucket is
    a pure projection so partial aggregation happens map-side.

    The bucket is computed from WALL-CLOCK components
    (``date_trunc('second') - seconds_of_day % width``), not
    ``F.window``: Spark's window() aligns buckets to the UTC epoch
    while a SQL oracle over naive timestamps aligns to wall-clock
    midnight, so F.window silently breaks cross-engine parity under
    any non-UTC session timezone. Component arithmetic renders
    identically in both engines regardless of session TZ (same
    reason ``date_trunc('day')`` in daily_engagement is safe).
    ``width_seconds`` must divide 86400 so buckets tile each day.
    """
    width = int(width_seconds)
    if 86400 % width != 0:
        raise ValueError(f"width_seconds must divide 86400, got {width}")
    sod = (
        F.hour("ts") * F.lit(3600)
        + F.minute("ts") * F.lit(60)
        + F.second("ts")
    ).cast("bigint")
    start = F.date_trunc("second", F.col("ts")) - (sod % F.lit(width)).cast(
        "int"
    ) * F.expr("INTERVAL 1 SECOND")
    bucketed = turns.groupBy(start.alias("window_start"), "role").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.coalesce(
            F.sum(F.expr("CAST(length(text) AS BIGINT)")), F.lit(0)
        ).alias("text_len_sum"),
    )
    return bucketed.select("window_start", "role", "n_turns", "text_len_sum")


def hopping_window_counts(
    turns: DataFrame, width_seconds: int = 7200, slide_seconds: int = 3600
) -> DataFrame:
    """Overlapping (hopping) event-time windows: every turn lands in
    ``width/slide`` consecutive windows. Completes the window family
    (tumbling = hopping with slide == width; trailing RANGE frames
    are the per-row variant).

    Spark-first: the window-start replication is a tiny ``sequence``
    + ``explode`` projection (ratio is a small constant — 2-4 in any
    sane config), then ONE partial+final hash agg — NOT ``F.window``
    (whose UTC-epoch alignment breaks oracle parity under non-UTC
    session TZ, same trap as tumbling_window_counts) and NOT a
    self-join. Window keys are epoch-microsecond BIGINTs: TZ-free in
    both engines by construction.

    Per-window distinct conversations are counted Expand-free with
    the same two-level (pre-distinct, then agg) restructure the
    daily_engagement operator uses.
    """
    width_us = int(width_seconds) * 1_000_000
    slide_us = int(slide_seconds) * 1_000_000
    if width_us % slide_us != 0:
        raise ValueError("width must be a multiple of slide")
    ratio = width_us // slide_us
    bucket = F.floor(F.unix_micros(F.col("ts")) / F.lit(slide_us))
    starts = F.explode(
        F.sequence(bucket - F.lit(ratio - 1), bucket)
    ).alias("win_bucket")
    exploded = turns.select("conv_id", starts)
    per_conv = exploded.groupBy("win_bucket", "conv_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_conv.groupBy("win_bucket").agg(
        F.sum("c").alias("n_turns"),
        F.count(F.lit(1)).alias("n_convs"),
    ).select(
        (F.col("win_bucket") * F.lit(slide_us)).cast("bigint").alias("window_start_us"),
        F.col("n_turns").cast("bigint").alias("n_turns"),
        F.col("n_convs").cast("bigint").alias("n_convs"),
    )


def daily_anomalies(
    turns: DataFrame, trailing_days: int = 7, z_threshold: float = 3.0
) -> DataFrame:
    """Ops-monitoring anomaly flags: per calendar day, the global turn
    count vs the trailing ``trailing_days``-day mean/std (current day
    excluded), with a z-score and a |z| > threshold flag.

    Two-level shape: the raw stream collapses to ONE row per day in a
    single partial+final hash agg; the trailing window then runs over
    that tiny daily series (≤ a few thousand rows for a decade), so
    the single-partition window sort is on provably bounded data —
    the same tiny-profile discipline as km_curve. Days with fewer
    than 2 trailing observations emit z = 0 (no basis for a flag).
    """
    # day key kept as midnight TIMESTAMP, not DATE — the cross-engine
    # compare normalizes timestamps but not python date objects
    daily = turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).alias("n_turns")
    )
    w = Window.orderBy("d").rowsBetween(-int(trailing_days), -1)
    mu = F.avg("n_turns").over(w)
    sd = F.stddev_samp("n_turns").over(w)
    n_prior = F.count("n_turns").over(w)
    z = F.when((n_prior >= 2) & (sd > 0), (F.col("n_turns") - mu) / sd)
    return daily.select(
        "d",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.coalesce(F.round(mu, 6), F.lit(-1.0)).alias("trailing_mean"),
        F.coalesce(z, F.lit(0.0)).alias("z_score"),
        (F.abs(F.coalesce(z, F.lit(0.0))) > F.lit(float(z_threshold))).alias("is_anomaly"),
    )


def peak_concurrency(
    sessions: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
    tiebreak_cols: tuple[str, str] = ("conv_id", "session_id"),
) -> DataFrame:
    """Max simultaneously-open sessions per UTC day →
    ``(day_us, peak_concurrency)`` — the sweep-line counter
    (capacity planning / rate-limit sizing over session intervals).

    Intervals are CLOSED: at an equal timestamp the +1 boundary sorts
    before the -1 (delta desc), so a zero-duration session still
    counts as concurrency 1. ``tiebreak_cols`` are the interval's
    identity columns (any columns of the input frame), making the
    within-day ordering a total order for ANY interval table — not
    just session_aggregates output.

    Scale shape — the naive sweep line is a running sum over ONE
    global ordering (single-partition sort, the exact killer VERDICT
    r1 flagged in ntile). This is the DISTRIBUTED two-phase prefix
    sum instead: (1) ±1 boundary points get within-DAY running sums
    (day-partitioned window — parallel across days); (2) the
    cross-day carry is a cumulative sum over the per-day totals
    table, which is calendar-bounded (one row per day — the same
    tiny-series exemption as daily_anomalies), broadcast back onto
    the day partitions. concurrency(point) = carry(day) +
    local_cum(point); per-day max reuses the day partitioning.
    """
    us_start = F.unix_micros(F.col(start_col))
    us_end = F.unix_micros(F.col(end_col))
    tb = [F.col(c) for c in tiebreak_cols]
    pts = sessions.select(
        us_start.alias("ts_us"), F.lit(1).alias("delta"), *tb
    ).unionAll(sessions.select(us_end.alias("ts_us"), F.lit(-1), *tb))
    day_us = (F.floor(F.col("ts_us") / DAY_US) * DAY_US).cast("bigint")
    pts = pts.withColumn("day_us", day_us)
    w_in = (
        Window.partitionBy("day_us")
        .orderBy(
            F.col("ts_us").asc(),
            F.col("delta").desc(),
            *[F.col(c).asc() for c in tiebreak_cols],
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = pts.withColumn("local_cum", F.sum("delta").over(w_in))
    day_totals = pts.groupBy("day_us").agg(F.sum("delta").alias("day_tot"))
    w_days = (
        Window.orderBy("day_us").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = day_totals.withColumn(
        "carry", F.coalesce(F.sum("day_tot").over(w_days), F.lit(0))
    ).select("day_us", "carry")
    return (
        local.join(F.broadcast(carry), "day_us")
        .groupBy("day_us")
        .agg(
            F.max(F.col("carry") + F.col("local_cum"))
            .cast("bigint")
            .alias("peak_concurrency")
        )
    )


def cusum_changepoints(
    turns: DataFrame, *, threshold: float = 5.0
) -> DataFrame:
    """Standardized CUSUM drift detection over the daily turn-count
    series: ``S_t = Σ_{i≤t} (x_i − x̄)/s`` (global mean/sample-std),
    with a ``|S_t| > threshold`` level-shift flag per day →
    ``(d, n_turns, cusum, is_shift)``.

    The structural-drift companion to ``daily_anomalies`` (which
    flags single-day spikes against a trailing window): CUSUM
    accumulates small persistent deviations, so a regime change that
    never trips a daily z-score still drives |S_t| past the
    threshold — the page-one monitoring chart for "did the corpus
    mix shift mid-backfill".

    Shape: one partial+final hash agg collapses the stream to the
    daily series; mean/std ride a one-row broadcast join; the prefix
    sum is a window over the calendar-bounded series (≤ a few
    thousand rows per decade — the same bounded-single-partition
    exemption as ``daily_anomalies``/``km_curve``). A constant
    series (std = 0) emits all-zero CUSUM, never a division blowup.
    """
    daily = turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).alias("n_turns")
    )
    # global mean/std as an UNPARTITIONED window over the already-tiny
    # daily series — not a separate .agg + crossJoin, which would run
    # the heavy daily rollup (and the corpus scan under it) twice
    wall = Window.partitionBy()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dev = F.when(
        F.col("_sd") > 0, (F.col("n_turns") - F.col("_mu")) / F.col("_sd")
    ).otherwise(F.lit(0.0))
    return (
        daily.withColumn("_mu", F.avg("n_turns").over(wall))
        .withColumn("_sd", F.stddev_samp("n_turns").over(wall))
        .withColumn("cusum", F.sum(dev).over(w))
        .select(
            "d",
            F.col("n_turns").cast("long").alias("n_turns"),
            # threshold compares the ROUNDED value so the flag can't
            # flip on sub-1e-6 cross-engine float drift
            F.round("cusum", 6).alias("cusum"),
            (F.abs(F.round("cusum", 6)) > F.lit(float(threshold))).alias("is_shift"),
        )
    )


def daily_acf(
    turns: DataFrame, max_lag: int = 7, *, eps: float = 1e-12
) -> DataFrame:
    """Sample autocorrelation of the daily activity series at lags
    1..``max_lag`` — the weekly-rhythm detector (strong lag-7 ACF =
    weekday seasonality; decide whether drift monitors need
    seasonal adjustment before CUSUM/PSI alarms fire on Mondays).
    Output: ``(lag, n_pairs, acf)`` with the standard estimator
    ``Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)²``; a constant series emits
    NULL (epsilon-guarded denominator).

    Lags are OBSERVATION lags over the ordered day series (a gap day
    is absent, not zero — :mod:`operators.resample` densifies first
    when calendar-lag semantics are wanted; documented contract, and
    the oracle mirrors it).

    Shape: the stream collapses to one row per day in a partial+final
    agg; every window/self-product after that runs on the tiny daily
    series (daily_anomalies exemption), with the mean and denominator
    riding one-row broadcasts.
    """
    daily = turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    mu = daily.agg(F.avg("x").alias("_mu"))
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "d", (F.col("x") - F.col("_mu")).alias("dv")
    )
    den = dev.agg(F.sum(F.col("dv") * F.col("dv")).alias("_den"))
    w = Window.orderBy("d")
    ks = list(range(1, int(max_lag) + 1))
    wide = dev.select(
        "dv", *[F.lag("dv", k).over(w).alias(f"_l{k}") for k in ks]
    )
    arms = [
        F.struct(
            F.lit(k).alias("lag"),
            (F.col("dv") * F.col(f"_l{k}")).alias("prod"),
        )
        for k in ks
    ]
    stacked = (
        wide.select(F.explode(F.array(*arms)).alias("s"))
        .select(F.col("s.lag").alias("lag"), F.col("s.prod").alias("prod"))
        .where(F.col("prod").isNotNull())
    )
    out = stacked.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("prod").alias("_num"),
    )
    return out.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        F.round(
            F.when(F.col("_den") > eps, F.col("_num") / F.col("_den")), 6
        ).alias("acf"),
    )


def ewma_daily(
    turns: DataFrame,
    halving_days: int = 3,
    deviation_threshold: float = 0.5,
) -> DataFrame:
    """Exponentially-weighted level of the daily turn count — the
    forecasting baseline beside :func:`daily_anomalies` (trailing-mean
    z) and :func:`cusum_changepoints` (level shifts): ``level_t =
    Σ_{i≤t} w(d_t−d_i)·x_i / Σ w(d_t−d_i)`` (the ``ewm(adjust=True)``
    convention over OBSERVED days, weighting by CALENDAR distance so
    gaps decay naturally). Emits each day's level, the one-step-ahead
    forecast (the previous day's level — what you'd have predicted),
    and the relative forecast error with a |err| > threshold flag.

    Determinism: the decay is a STAIRCASE half-life — ``w = 1 /
    2^floor(Δdays/halving_days)`` — because ``1 << k`` then one
    division is EXACT IEEE on both engines, where a general
    ``pow(1−α, k)`` is implementation-rounded (a 1-ulp libm
    disagreement is exactly the flake class this engine eliminates);
    both weighted sums run over the day-ORDERED window frame of the
    pair table, so the float order is pinned (km_curve discipline).

    Shape: the raw stream collapses to one row per day in a single
    hash agg; the pair self-join and every window run on the bounded
    daily series (≤ thousands of rows for a decade) — the same
    tiny-profile exemption as daily_anomalies/daily_acf.
    """
    h = int(halving_days)
    days = _daily(turns, F.count(F.lit(1)).cast("long").alias("n_turns")).select(
        "d",
        F.floor(F.unix_micros(F.col("d")) / F.lit(86400 * 1_000_000)).alias("_dn"),
        "n_turns",
    )
    past = days.select(
        F.col("_dn").alias("_dni"), F.col("n_turns").alias("_xi")
    )
    pairs = days.join(past, F.col("_dni") <= F.col("_dn")).withColumn(
        "_k", F.floor((F.col("_dn") - F.col("_dni")) / F.lit(h)).cast("int")
    )
    # 1/(1<<k): bit shift + one division — exact IEEE on both engines
    # (a libm pow() here is implementation-rounded, the flake class
    # this engine eliminates)
    wgt = F.when(
        F.col("_k") <= 62,
        F.lit(1.0) / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), _k) AS DOUBLE)"),
    ).otherwise(F.lit(0.0))
    w_ord = (
        Window.partitionBy("_dn")
        .orderBy("_dni")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    summed = pairs.select(
        "d",
        "_dn",
        "n_turns",
        F.sum(wgt * F.col("_xi").cast("double")).over(w_ord).alias("_num"),
        F.sum(wgt).over(w_ord).alias("_den"),
    ).groupBy("d", "_dn", "n_turns").agg(
        F.max("_num").alias("_num"), F.max("_den").alias("_den")
    )
    level = (F.col("_num") / F.col("_den")).alias("ewma")
    w_prev = Window.orderBy("_dn")
    out = summed.select("d", "_dn", "n_turns", level)
    prev = F.lag("ewma").over(w_prev)
    err = F.when(
        prev.isNotNull() & (prev != 0),
        (F.col("n_turns").cast("double") - prev) / prev,
    )
    return out.select(
        "d",
        "n_turns",
        F.round(F.col("ewma"), 6).alias("ewma"),
        F.round(F.coalesce(prev, F.lit(-1.0)), 6).alias("forecast"),
        F.round(F.coalesce(err, F.lit(0.0)), 6).alias("forecast_err"),
        (F.abs(F.coalesce(err, F.lit(0.0))) > F.lit(float(deviation_threshold))).alias(
            "is_surprise"
        ),
    )


def dow_seasonality(turns: DataFrame) -> DataFrame:
    """Day-of-week seasonality decomposition of the daily turn count:
    per ISO weekday, the mean daily count and its share of the weekly
    total, plus the classic seasonality STRENGTH ``max(0, 1 −
    Var(residual)/Var(series))`` (Hyndman's STL measure with the
    weekday means as the seasonal component) repeated on every row —
    strength ≈ 0 means drift monitors need no weekday adjustment;
    near 1 means every alarm should be deseasonalized first (the
    decision :func:`daily_acf` flags, quantified).

    Determinism: day counts and per-dow totals are exact longs; both
    variances are computed from exact integer sufficient statistics
    (Σx, Σx² per dow as decimals) through one fixed-shape double
    expression — no float row sums. Residual variance uses the
    identity ``Σ(x−m_d)² = Σx² − Σ_d n_d·m_d²`` so nothing ever joins
    back to the daily rows.

    Shape: stream → daily agg (one corpus shuffle) → 7-row dow agg;
    the strength is scalar algebra over the 7-row table summed in
    dow order (bounded-frame discipline).
    """
    dec = "decimal(38,0)"
    daily = turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # Spark weekday(): 0=Monday..6=Sunday → +1 == DuckDB isodow
    per_dow = daily.groupBy(
        (F.weekday(F.col("d")) + F.lit(1)).cast("int").alias("iso_dow")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("n").cast(dec)).alias("_s"),
        F.sum(F.col("n").cast(dec) * F.col("n").cast(dec)).alias("_ss"),
    )
    w_ord = Window.orderBy("iso_dow").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nd = F.col("n_days").cast("double")
    sd = F.col("_s").cast("double")
    mean_dow = sd / nd
    # ordered 7-term sums: total N/Σx/Σx² and the seasonal reduction
    n_tot = F.sum("n_days").over(w_ord).cast("double")
    s_tot = F.sum("_s").over(w_ord).cast("double")
    ss_tot = F.sum("_ss").over(w_ord).cast("double")
    seas = F.sum(sd * sd / nd).over(w_ord)
    var_series = (ss_tot - s_tot * s_tot / n_tot) / (n_tot - F.lit(1.0))
    var_resid = (ss_tot - seas) / (n_tot - F.lit(1.0))
    strength = F.when(
        (n_tot > 1) & (var_series > 0),
        F.greatest(F.lit(0.0), F.lit(1.0) - var_resid / var_series),
    ).otherwise(F.lit(0.0))
    return per_dow.select(
        "iso_dow",
        "n_days",
        F.round(mean_dow, 6).alias("mean_daily_turns"),
        F.round(sd / s_tot, 6).alias("share"),
        F.round(strength, 6).alias("seasonal_strength"),
    )


def daily_anomalies_deseasonalized(
    turns: DataFrame, trailing_days: int = 7, z_threshold: float = 3.0
) -> DataFrame:
    """Weekday-adjusted anomaly flags: the :func:`daily_anomalies`
    trailing-z, computed on RESIDUALS after removing each ISO
    weekday's mean level — the composition :func:`daily_acf` and
    :func:`dow_seasonality` exist to justify (a strongly weekly series
    alarms every Monday under the raw z; deseasonalize first and only
    genuine departures from the weekday's own norm fire).

    RETROSPECTIVE semantics: the weekday mean levels are computed over
    the ENTIRE series, so each day's residual is demeaned using future
    data — an offline backfill-audit view, not an online alarm (the
    trailing z-score itself uses only prior days). For online
    semantics, swap ``dow_means`` for an expanding per-weekday frame;
    kept full-series here because the gate/oracle and the reference's
    drift audits are offline.

    Determinism: weekday means are exact-integer ratios (Σ, n per dow
    as longs); residuals and the trailing mean/std run over
    day-ORDERED bounded frames (the daily_anomalies device).

    Shape: stream → daily agg (one corpus shuffle) → 7-row dow table
    broadcast back → trailing window over the bounded daily series.
    """
    daily = _daily(turns, F.count(F.lit(1)).cast("long").alias("n_turns"))
    with_dow = daily.withColumn(
        "_dow", (F.weekday(F.col("d")) + F.lit(1)).cast("int")
    )
    dow_means = with_dow.groupBy("_dow").agg(
        F.sum("n_turns").cast("long").alias("_s"),
        F.count(F.lit(1)).cast("long").alias("_nd"),
    )
    j = with_dow.join(F.broadcast(dow_means), "_dow")
    resid = F.col("n_turns").cast("double") - F.col("_s").cast("double") / F.col(
        "_nd"
    ).cast("double")
    base = j.select("d", "n_turns", resid.alias("_resid"))
    w = Window.orderBy("d").rowsBetween(-int(trailing_days), -1)
    mu = F.avg("_resid").over(w)
    sd = F.stddev_samp("_resid").over(w)
    n_prior = F.count("_resid").over(w)
    z = F.when((n_prior >= 2) & (sd > 0), (F.col("_resid") - mu) / sd)
    return base.select(
        "d",
        "n_turns",
        F.round(F.col("_resid"), 6).alias("residual"),
        F.round(F.coalesce(z, F.lit(0.0)), 6).alias("z_resid"),
        (F.abs(F.coalesce(z, F.lit(0.0))) > F.lit(float(z_threshold))).alias(
            "is_anomaly"
        ),
    )


def daily_anomalies_online(
    turns: DataFrame, trailing_days: int = 7, z_threshold: float = 3.0
) -> DataFrame:
    """ONLINE weekday-adjusted anomaly flags — the causal sibling of
    :func:`daily_anomalies_deseasonalized`: each day's weekday level
    is the EXPANDING mean of that weekday's PRIOR occurrences only
    (no future data anywhere), so the alarm is deployable as-is.
    Days whose weekday has no prior occurrence emit residual 0 / no
    alarm (nothing to compare against — honest cold start).

    Determinism: the expanding weekday mean is an exact-integer ratio
    per row (cumulative Σ and count of longs over the day-ordered
    bounded frame); the trailing z reuses the daily_anomalies device.

    Shape: stream → daily agg (one corpus shuffle) → TWO windows over
    the bounded daily series (per-weekday expanding frame, then the
    global-day trailing frame) — both single-partition sorts are on
    the calendar-bounded table (the daily_anomalies exemption).
    """
    daily = turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns")
    )
    dow = (F.weekday(F.col("d")) + F.lit(1)).cast("int")
    wd = Window.partitionBy("_dow").orderBy("d").rowsBetween(
        Window.unboundedPreceding, -1
    )
    with_dow = daily.withColumn("_dow", dow)
    prior_sum = F.sum("n_turns").over(wd)
    prior_cnt = F.count("n_turns").over(wd)
    resid = F.when(
        prior_cnt > 0,
        F.col("n_turns").cast("double")
        - prior_sum.cast("double") / prior_cnt.cast("double"),
    ).otherwise(F.lit(0.0))
    base = with_dow.select("d", "n_turns", resid.alias("_resid"))
    w = Window.orderBy("d").rowsBetween(-int(trailing_days), -1)
    mu = F.avg("_resid").over(w)
    sd = F.stddev_samp("_resid").over(w)
    n_prior = F.count("_resid").over(w)
    z = F.when((n_prior >= 2) & (sd > 0), (F.col("_resid") - mu) / sd)
    return base.select(
        "d",
        "n_turns",
        F.round(F.col("_resid"), 6).alias("residual"),
        F.round(F.coalesce(z, F.lit(0.0)), 6).alias("z_resid"),
        (F.abs(F.coalesce(z, F.lit(0.0))) > F.lit(float(z_threshold))).alias(
            "is_anomaly"
        ),
    )


def seasonal_naive_eval(
    turns: DataFrame, season_days: int = 7
) -> DataFrame:
    """Forecast-baseline evaluation on the daily activity series: the
    seasonal-naive predictor ``ŷ(d) = y(d − season_days)`` scored with
    MAE / RMSE / sMAPE / MASE — the sanity floor every demand or
    capacity forecast must beat (MASE = MAE relative to the naive-1
    forecast, Hyndman & Koehler 2006), and the missing eval companion
    to the engine's EWMA / anomaly / seasonality series family.

    Shape: the raw stream collapses to ONE row per day (single hash
    agg); forecasts come from DATE-key self-joins on that bounded
    daily table (calendar-gap-safe — a missing day yields no forecast
    rather than a silently shifted one), so nothing downstream of the
    first agg scales with data.

    Determinism: y is an integer count, so every |error| and squared
    error is exact; sums accumulate as decimal(38,0) and each metric
    is one fixed-shape double expression. Only sMAPE averages per-day
    double ratios over the bounded daily table (6dp-rounded output).
    """
    dec = "decimal(38,0)"
    daily = _daily(turns, F.count(F.lit(1)).cast("long").alias("y"))
    season = daily.select(
        (F.col("d") + F.expr(f"INTERVAL {int(season_days)} DAYS")).alias("d"),
        F.col("y").alias("y_hat"),
    )
    prev = daily.select(
        (F.col("d") + F.expr("INTERVAL 1 DAYS")).alias("d"),
        F.col("y").alias("y_prev"),
    )
    joined = daily.join(season, "d", "left").join(prev, "d", "left")
    e = (F.col("y") - F.col("y_hat")).cast(dec)
    e1 = (F.col("y") - F.col("y_prev")).cast(dec)
    sm_den = (F.col("y") + F.col("y_hat")).cast("double")
    stats = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.count("y_hat").cast("long").alias("n_eval"),
        F.sum(F.abs(e)).alias("sae"),
        F.sum(e * e).alias("sse"),
        F.avg(
            F.when(
                F.col("y_hat").isNotNull() & (sm_den > 0),
                F.lit(2.0) * F.abs(e.cast("double")) / sm_den,
            )
        ).alias("smape"),
        F.count("y_prev").cast("long").alias("n1"),
        F.sum(F.abs(e1)).alias("sae1"),
    )
    n = F.col("n_eval").cast("double")
    mae = F.when(F.col("n_eval") > 0, F.col("sae").cast("double") / n).otherwise(
        F.lit(0.0)
    )
    rmse = F.when(
        F.col("n_eval") > 0, F.sqrt(F.col("sse").cast("double") / n)
    ).otherwise(F.lit(0.0))
    mae1 = F.when(
        F.col("n1") > 0, F.col("sae1").cast("double") / F.col("n1").cast("double")
    )
    mase = F.when(mae1 > 0, mae / mae1).otherwise(F.lit(0.0))
    return stats.select(
        "n_days",
        "n_eval",
        F.round(mae, 6).alias("mae"),
        F.round(rmse, 6).alias("rmse"),
        F.round(F.coalesce(F.col("smape"), F.lit(0.0)), 6).alias("smape"),
        F.round(mase, 6).alias("mase"),
    )


def binseg_changepoint(turns: DataFrame) -> DataFrame:
    """Single least-squares changepoint on the daily activity series
    (the first split of binary segmentation, Scott & Knott 1974 /
    ruptures' ``l2`` cost): the day boundary that minimizes
    ``SSE_left + SSE_right``, reported with both segment means and
    the variance explained — the offline structural-break detector
    next to the sequential :func:`cusum_changepoints`.

    Shape: ONE hash agg to the bounded daily series, then prefix
    sums over that tiny table (global window on provably bounded
    data, the daily_anomalies discipline) score every candidate
    split in one pass — O(days), never O(days²) — and a
    TakeOrderedAndProject picks the argmin.

    Determinism: prefix sums of y and y² stay exact decimal(38,0);
    each candidate's cost is one fixed-shape double expression over
    those exact scalars, identical in both engines, with the
    earliest-date tiebreak on equal costs.
    """
    dec = "decimal(38,0)"
    daily = turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    y = F.col("y").cast(dec)
    pre = daily.select(
        F.col("d"),
        F.row_number().over(Window.orderBy("d")).alias("k"),
        F.sum(y).over(w).alias("s1"),
        F.sum(y * y).over(w).alias("s2"),
        F.count(F.lit(1)).over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n"),
        F.sum(y).over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("t1"),
        F.sum(y * y).over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("t2"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    t1 = F.col("t1").cast("double")
    t2 = F.col("t2").cast("double")
    r1 = t1 - s1
    r2 = t2 - s2
    rk = nd - kd
    sse_l = s2 - s1 * s1 / kd
    sse_r = r2 - r1 * r1 / rk
    sse_tot = t2 - t1 * t1 / nd
    scored = pre.where(F.col("k") < F.col("n")).select(
        F.col("d").alias("split_d"),
        F.col("n").alias("n_days"),
        F.col("k").cast("long").alias("n_left"),
        (F.col("n") - F.col("k")).cast("long").alias("n_right"),
        (s1 / kd).alias("_mean_l"),
        (r1 / rk).alias("_mean_r"),
        (sse_l + sse_r).alias("_cost"),
        sse_tot.alias("_sse_tot"),
    )
    best = scored.orderBy("_cost", "split_d").limit(1)
    return best.select(
        "n_days",
        "split_d",
        "n_left",
        "n_right",
        F.round("_mean_l", 6).alias("mean_left"),
        F.round("_mean_r", 6).alias("mean_right"),
        F.round("_sse_tot", 6).alias("sse_total"),
        F.round("_cost", 6).alias("sse_split"),
        F.round(F.col("_sse_tot") - F.col("_cost"), 6).alias("sse_reduction"),
    )


def pot_tail_fit(
    df: DataFrame,
    value_col: str,
    *,
    threshold_q: float = 0.9,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Peaks-over-threshold tail fit: exceedances over the
    ``threshold_q`` quantile fitted to a Generalized Pareto by the
    method of moments (Hosking & Wallis 1987) — ``ξ = ½(1 − m²/s²)``,
    ``σ = ½m(1 + m²/s²)`` from the mean/variance of excesses. The
    latency/gap tail-heaviness audit: ξ > 0 flags a heavy
    (power-law-like) tail that p99 sampling understates.

    Scale default is ``exact=False`` → ``approx_percentile`` for the
    threshold (GK sketch, mergeable); the gate requests ``exact=True``
    for quantile_cont parity — the session_percentiles two-path
    discipline. Excess moments are NEVER accumulated as per-row
    floats: with the threshold ``u`` fixed, ``Σ(x−u) = Σx − n·u`` and
    ``Σ(x−u)² = Σx² − 2uΣx + nu²`` ride exact decimal(38,0) integer
    sums, so the whole fit is fixed-shape double algebra on five
    exact scalars. ONE aggregation pass over the values after the
    threshold probe.
    """
    dec = "decimal(38,0)"
    x = F.col(value_col).cast("long")
    vals = df.select(x.alias("x")).where(F.col("x").isNotNull())
    if exact:
        thr = vals.agg(
            F.expr(f"percentile(x, {float(threshold_q)!r})").alias("u")
        )
    else:
        thr = vals.agg(
            F.percentile_approx(
                F.col("x").cast("double"), float(threshold_q), F.lit(int(accuracy))
            ).alias("u")
        )
    joined = vals.crossJoin(F.broadcast(thr))
    exc = F.col("x") > F.col("u")
    stats = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.max("u").alias("u"),
        F.sum(F.when(exc, 1).otherwise(0)).cast("long").alias("n_exceed"),
        F.sum(F.when(exc, F.col("x").cast(dec))).alias("sx"),
        F.sum(F.when(exc, F.col("x").cast(dec) * F.col("x").cast(dec))).alias("sxx"),
    )
    n = F.col("n_exceed").cast("double")
    u = F.col("u").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    m = sx / n - u
    sxx_c = sxx - F.lit(2.0) * u * sx + n * u * u
    var = F.when(F.col("n_exceed") > 1, (sxx_c - n * m * m) / (n - F.lit(1.0)))
    ratio = m * m / var
    xi = F.when(var > 0, F.lit(0.5) * (F.lit(1.0) - ratio)).otherwise(F.lit(0.0))
    sigma = F.when(var > 0, F.lit(0.5) * m * (ratio + F.lit(1.0))).otherwise(
        F.coalesce(m, F.lit(0.0))
    )
    return stats.select(
        F.round(u, 6).alias("threshold"),
        "n_total",
        "n_exceed",
        F.round(F.coalesce(m, F.lit(0.0)), 6).alias("mean_excess"),
        F.round(F.coalesce(var, F.lit(0.0)), 6).alias("var_excess"),
        F.round(xi, 6).alias("xi"),
        F.round(sigma, 6).alias("sigma"),
    )


def theil_sen_daily(turns: DataFrame, exact: bool = True) -> DataFrame:
    """Theil–Sen robust trend of the daily activity series: the
    MEDIAN of all pairwise slopes ``(x_j − x_i)/(d_j − d_i)`` plus
    the median-residual intercept — the outlier-proof companion to
    ``activity_trend``'s OLS slope (one corrupted day moves OLS
    arbitrarily; Theil–Sen tolerates ~29% corruption).

    Shape: the stream collapses to one row per day (partial+final
    hash agg); the O(n²) pairwise self-join runs ONLY on the
    calendar-bounded daily table (90 days → ~4k pairs — the
    daily_anomalies exemption), so input scale never touches the
    quadratic term. Slopes are exact-integer ratios (count and
    day-number deltas) evaluated as ONE double division each; the
    median is ``percentile`` (exact, DuckDB ``quantile_cont``
    parity) over the bounded pair table, or ``approx_percentile``
    when ``exact=False`` for extreme series lengths.

    Reference analog: the trend features the reference derives over
    member activity windows (``features/features_comprehensive.sql``
    trend ratios), made robust.
    """
    day_us = 86400 * 1_000_000
    days = _daily(turns, F.count(F.lit(1)).cast("long").alias("x")).select(
        F.floor(F.unix_micros(F.col("d")) / F.lit(day_us)).cast("long").alias("dn"),
        "x",
    )
    a = days.alias("a")
    b = days.alias("b")
    pairs = a.join(b, F.col("b.dn") < F.col("a.dn")).select(
        (
            (F.col("a.x") - F.col("b.x")).cast("double")
            / (F.col("a.dn") - F.col("b.dn")).cast("double")
        ).alias("slope")
    )
    if exact:
        med = F.expr("percentile(slope, 0.5)").alias("m_slope")
    else:
        med = F.percentile_approx("slope", 0.5, 10_000).alias("m_slope")
    sl = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"), med)
    resid = days.crossJoin(F.broadcast(sl)).select(
        "n_pairs",
        "m_slope",
        (F.col("x").cast("double") - F.col("m_slope") * F.col("dn").cast("double")).alias(
            "r"
        ),
    )
    if exact:
        med_r = F.expr("percentile(r, 0.5)").alias("m_int")
    else:
        med_r = F.percentile_approx("r", 0.5, 10_000).alias("m_int")
    return resid.groupBy("n_pairs", "m_slope").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"), med_r
    ).select(
        "n_days",
        "n_pairs",
        F.round("m_slope", 6).alias("slope_per_day"),
        F.round("m_int", 6).alias("intercept"),
    )


def pacf_daily(turns: DataFrame, eps: float = 1e-9) -> DataFrame:
    """Partial autocorrelation of the daily activity series at lags
    1..4 via the Durbin–Levinson recursion UNROLLED as explicit
    fixed-shape column expressions — PACF(k) isolates the direct
    lag-k dependence the raw ACF smears (an AR(1) series shows
    exponentially-decaying ACF at every lag but PACF cuts off after
    lag 1 — the AR-order diagnostic for the forecasting gates).

    Determinism (the binned-Newton recipe): the recursion runs on
    the 6dp-ROUNDED ACF profile emitted by :func:`daily_acf` — both
    engines feed identical rounded inputs into the identical
    unrolled expression DAG (φ11 = r1; φ22 = (r2 − r1²)/(1 − r1²);
    …), so there is no float-iteration divergence to damp. Degenerate
    denominators (|1 − φ²| ≤ eps: unit-root / constant series) yield
    NULL from that order upward rather than exploding.

    Shape: everything after the daily collapse runs on the ≤4-row
    ACF profile pivoted to ONE row — broadcast-sized by construction.
    """
    acf = daily_acf(turns, max_lag=4)
    prof = acf.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"r{k}")
            for k in (1, 2, 3, 4)
        ]
    )
    r1, r2, r3, r4 = (F.col(f"r{k}") for k in (1, 2, 3, 4))
    p11 = r1
    d1 = F.lit(1.0) - p11 * r1
    step1 = prof.select(
        "r1", "r2", "r3", "r4", p11.alias("p11"), d1.alias("d1")
    )
    p22 = F.when(F.abs(F.col("d1")) > eps, (r2 - F.col("p11") * r1) / F.col("d1"))
    step2 = step1.select(
        "*",
        p22.alias("p22"),
    )
    step2 = step2.select(
        "*",
        (F.col("p11") - F.col("p22") * F.col("p11")).alias("p21"),
        (F.col("d1") * (F.lit(1.0) - F.col("p22") * F.col("p22"))).alias("d2"),
    )
    p33 = F.when(
        F.abs(F.col("d2")) > eps,
        (r3 - (F.col("p21") * r2 + F.col("p22") * r1)) / F.col("d2"),
    )
    step3 = step2.select("*", p33.alias("p33"))
    step3 = step3.select(
        "*",
        (F.col("p21") - F.col("p33") * F.col("p22")).alias("p31"),
        (F.col("p22") - F.col("p33") * F.col("p21")).alias("p32"),
        (F.col("d2") * (F.lit(1.0) - F.col("p33") * F.col("p33"))).alias("d3"),
    )
    p44 = F.when(
        F.abs(F.col("d3")) > eps,
        (r4 - (F.col("p31") * r3 + F.col("p32") * r2 + F.col("p33") * r1))
        / F.col("d3"),
    )
    step4 = step3.select("*", p44.alias("p44"))
    arms = [
        F.struct(
            F.lit(k).alias("lag"),
            F.col(f"r{k}").alias("acf"),
            F.round(F.col(f"p{k}{k}"), 6).alias("pacf"),
        )
        for k in (1, 2, 3, 4)
    ]
    return step4.select(F.explode(F.array(*arms)).alias("s")).select(
        F.col("s.lag").alias("lag"), F.col("s.acf").alias("acf"), F.col("s.pacf").alias("pacf")
    )


def periodogram_daily(
    turns: DataFrame, periods: tuple = (2, 3, 4, 5, 6, 7, 10, 14)
) -> DataFrame:
    """Discrete periodogram of the daily activity series at candidate
    periods (days): spectral power ``I(p) = (C_p² + S_p²) / n`` with
    ``C_p = Σ (x_t − x̄)·cos(2π·t/p)``, ``S_p`` the sine twin, plus
    the scale-free share ``power_norm = (C²+S²)/Σ(x−x̄)²`` and a rank
    — the frequency-domain sibling of ``daily_acf`` (a clean lag-7
    rhythm shows up as the top-ranked period 7 regardless of
    amplitude).

    Determinism: phases use the exact integer CALENDAR-day offset
    from the first day; cos/sin run on identical fixed-shape double
    arguments on both engines (same libm, the ln/exp precedent), and
    the float term sums accumulate over the DAY-ORDERED full-frame
    window of the bounded daily table — the EWMA device, never an
    unordered float agg.

    Shape: one corpus day-agg; the per-period term table is
    |periods|×|days| (calendar-bounded), summed in one ordered
    window + collapse.
    """
    two_pi = 6.283185307179586
    day_us = 86400 * 1_000_000
    days = _daily(turns, F.count(F.lit(1)).cast("long").alias("x")).select(
        F.floor(F.unix_micros(F.col("d")) / F.lit(day_us)).cast("long").alias("dn"),
        "x",
    )
    stats = days.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.min("dn").cast("long").alias("dn0"),
    )
    base = days.crossJoin(F.broadcast(stats)).select(
        "dn",
        "n_days",
        (
            F.col("x").cast("double")
            - F.col("sx").cast("double") / F.col("n_days").cast("double")
        ).alias("dev"),
        (F.col("dn") - F.col("dn0")).cast("long").alias("t"),
    )
    terms = base.select(
        "dn",
        "n_days",
        "dev",
        F.explode(
            F.array(*[F.lit(int(p)) for p in periods])
        ).alias("period"),
        "t",
    ).select(
        "dn",
        "n_days",
        "period",
        (
            F.col("dev")
            * F.cos(
                F.lit(two_pi)
                * (F.col("t").cast("double") / F.col("period").cast("double"))
            )
        ).alias("ct"),
        (
            F.col("dev")
            * F.sin(
                F.lit(two_pi)
                * (F.col("t").cast("double") / F.col("period").cast("double"))
            )
        ).alias("st"),
        (F.col("dev") * F.col("dev")).alias("d2"),
    )
    w_full = (
        Window.partitionBy("period")
        .orderBy("dn")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    summed = terms.select(
        "period",
        "n_days",
        F.sum("ct").over(w_full).alias("c"),
        F.sum("st").over(w_full).alias("s"),
        F.sum("d2").over(w_full).alias("ss"),
    ).groupBy("period").agg(
        F.max("n_days").alias("n_days"),
        F.max("c").alias("c"),
        F.max("s").alias("s"),
        F.max("ss").alias("ss"),
    )
    power = (F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col(
        "n_days"
    ).cast("double")
    norm = F.when(
        F.col("ss") > 0,
        (F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("ss"),
    ).otherwise(F.lit(0.0))
    w_rank = Window.orderBy(F.col("_power").desc(), F.col("period"))
    return (
        summed.select(
            "period",
            power.alias("_power"),
            norm.alias("_norm"),
        )
        .select(
            "period",
            F.round("_power", 6).alias("power"),
            F.round("_norm", 6).alias("power_norm"),
            F.row_number().over(w_rank).cast("int").alias("rank"),
        )
    )


def _staircase_smooth(
    days: DataFrame, dn_col: str, val_col: str, halving: int, out_col: str
) -> DataFrame:
    """Apply the exact staircase-EWMA (the ``ewma_daily`` device:
    ``w = 1/2^floor(Δ/h)`` bit-shift weights, day-ordered full-frame
    window sums) to ANY bounded ``(dn, value)`` series — value may be
    double (the second smoothing pass runs on the first pass's
    levels). Preserves every input column and appends ``out_col``."""
    past = days.select(
        F.col(dn_col).alias("_dni"), F.col(val_col).alias("_xi")
    )
    pairs = days.join(past, F.col("_dni") <= F.col(dn_col)).withColumn(
        "_k", F.floor((F.col(dn_col) - F.col("_dni")) / F.lit(int(halving))).cast("int")
    )
    wgt = F.when(
        F.col("_k") <= 62,
        F.lit(1.0) / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), _k) AS DOUBLE)"),
    ).otherwise(F.lit(0.0))
    w_ord = (
        Window.partitionBy(dn_col)
        .orderBy("_dni")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    keep = [c for c in days.columns]
    summed = pairs.select(
        *keep,
        F.sum(wgt * F.col("_xi").cast("double")).over(w_ord).alias("_num"),
        F.sum(wgt).over(w_ord).alias("_den"),
    ).groupBy(*keep).agg(F.max("_num").alias("_num"), F.max("_den").alias("_den"))
    return summed.select(*keep, (F.col("_num") / F.col("_den")).alias(out_col))


def brown_double_daily(
    turns: DataFrame, halving_days: int = 3
) -> DataFrame:
    """Brown's double exponential smoothing of the daily turn count —
    the TREND-aware forecaster completing the family (ewma_daily
    tracks level only, so it lags any ramp; seasonal_naive handles
    weekly shape): smooth the series (s1), smooth the smoothed
    series (s2), and forecast ``ŷ_{t} = 2·s1_{t−1} − s2_{t−1}`` —
    the double-smoothing estimate of level+slope one step out.

    Determinism: BOTH passes are the exact staircase-EWMA device
    (bit-shift weights, day-ordered full-frame window sums); the
    second pass consumes the first pass's fixed-shape double levels,
    so the float trajectory is pinned end to end (no libm pow
    anywhere). The whole computation after the one corpus day-agg
    runs on the calendar-bounded daily series.
    """
    days = _daily(turns, F.count(F.lit(1)).cast("long").alias("n_turns")).select(
        "d",
        F.floor(F.unix_micros(F.col("d")) / F.lit(86400 * 1_000_000)).alias("_dn"),
        "n_turns",
    )
    s1 = _staircase_smooth(days, "_dn", "n_turns", halving_days, "s1")
    s2 = _staircase_smooth(s1, "_dn", "s1", halving_days, "s2")
    w_prev = Window.orderBy("_dn")
    fc = (
        F.lit(2.0) * F.lag("s1").over(w_prev) - F.lag("s2").over(w_prev)
    )
    err = F.when(
        fc.isNotNull() & (fc != 0),
        (F.col("n_turns").cast("double") - fc) / fc,
    )
    return s2.select(
        "d",
        "n_turns",
        F.round("s1", 6).alias("s1"),
        F.round("s2", 6).alias("s2"),
        F.round(F.coalesce(fc, F.lit(-1.0)), 6).alias("forecast"),
        F.round(F.coalesce(err, F.lit(0.0)), 6).alias("forecast_err"),
    )


def quantile_trend_daily(
    turns: DataFrame,
    *,
    tau: float = 0.9,
    n_iter: int = 12,
    eps: float = 1e-6,
    mode: str = "auto",
    max_driver_days: int = 65536,
) -> DataFrame:
    """Quantile (pinball) regression of the daily activity series:
    the line ``a + b·t`` minimizing the τ-pinball loss — the
    "capacity trend" readout (τ = 0.9 tracks how the BUSY days grow,
    which mean/OLS and even Theil–Sen can't answer) fitted by
    iteratively reweighted least squares: ``w = τ/max(r, ε)`` above
    the line, ``(1−τ)/max(−r, ε)`` below (the classic IRLS
    approximation of the quantile-loss subgradient).

    Determinism (the huber_location recipe): the stream collapses to
    the calendar-bounded daily table once (exact integer counts, day
    numbers re-based at the min day); each of the fixed ``n_iter``
    steps solves the 2×2 weighted normal equations from five
    bounded-table sums and re-quantizes (a, b) to the 1e-9 grid, so
    both engines enter every step with identical floats; the DuckDB
    oracle unrolls identical CTEs. Start point: OLS (w ≡ 1, exact
    integer moments).

    Execution modes (the sessionize-auto-switch pattern — equal
    outputs, pytest-asserted): every mode collects the
    calendar-bounded daily table ONCE into a literal (a DECADE of
    days is ~3.7k rows). ``mode="driver"`` replays the identical
    quantized IRLS in Python doubles — no further Spark job, where
    the per-step sums take ``n_iter + 1``. ``mode="distributed"``
    keeps the per-step normal-equation sums as Spark jobs over the
    literal (the prior shape). ``mode="auto"`` (default) replays
    driver-side when the table has at most ``max_driver_days`` rows
    (≈179 years of days at the default), distributed otherwise.

    Output (one row): ``(n_days, tau, slope, intercept,
    pinball_loss)`` — slope in turns/day at the τ-quantile.
    """
    if mode not in ("auto", "driver", "distributed"):  # pragma: no cover
        raise ValueError(f"unknown mode {mode!r}")
    day_us = 86400 * 1_000_000
    q = 1_000_000_000
    daily = _daily(turns, F.count(F.lit(1)).cast("long").alias("x"))
    mind = daily.agg(
        F.min(F.floor(F.unix_micros(F.col("d")) / F.lit(day_us)).cast("long")).alias(
            "m"
        )
    )
    dn_plan = daily.select(
        F.floor(F.unix_micros(F.col("d")) / F.lit(day_us)).cast("long").alias("dn"),
        "x",
    )
    if mode != "distributed":
        # read the un-rebased (day, x) literal (limit(max+1) is the
        # size probe) and rebase driver-side — the exact integer
        # subtraction the mind crossJoin performs
        from kkbox_churn_prediction_spark.operators.replay import (
            driver_replay_max_rows,
        )

        # session replay budget overrides the module default (the
        # fleet-wide driverReplayMaxRows contract; PARITY_REPLAY=0
        # forces the distributed normal-equation rounds here too)
        max_days = driver_replay_max_rows(
            turns.sparkSession, int(max_driver_days)
        )
        rows = (
            dn_plan.limit(max_days + 1).collect()
            if mode == "auto"
            else dn_plan.collect()
        )
        if mode == "driver" or len(rows) <= max_days:
            base = min((int(r["dn"]) for r in rows), default=0)
            return _quantile_trend_driver(
                turns.sparkSession,
                [(int(r["dn"]) - base, int(r["x"])) for r in rows],
                float(tau),
                float(eps),
                int(n_iter),
                q,
            )
    pts = dn_plan.crossJoin(F.broadcast(mind)).select(
        (F.col("dn") - F.col("m")).alias("t"), "x"
    )

    def _solve(weighted) -> "DataFrame":
        """(aq, bq) from the weighted normal equations, 1e-9 grid."""
        s = weighted.agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("t")).alias("swt"),
            F.sum(F.col("w") * F.col("t") * F.col("t")).alias("swtt"),
            F.sum(F.col("w") * F.col("x")).alias("swy"),
            F.sum(F.col("w") * F.col("t") * F.col("x")).alias("swty"),
        )
        # try_divide: a single-distinct-day series makes the normal
        # equations singular (den = 0) -> (a, b) NULL, the oracle's
        # NULL-on-zero-divide answer; subsequent steps keep NULL
        # stable because GREATEST ignores the NULL residual in both
        # engines (r5 degenerate-fuzz catch: ANSI division ERRORed)
        den = F.col("sw") * F.col("swtt") - F.col("swt") * F.col("swt")
        b = F.try_divide(
            F.col("sw") * F.col("swty") - F.col("swt") * F.col("swy"), den
        )
        a = F.try_divide(F.col("swy") - b * F.col("swt"), F.col("sw"))
        return s.select(
            F.round(a * F.lit(float(q))).cast("long").alias("aq"),
            F.round(b * F.lit(float(q))).cast("long").alias("bq"),
        )

    fit = _solve(
        pts.select("t", "x", F.lit(1.0).alias("w"))
    ).localCheckpoint()
    tau_f, eps_f = float(tau), float(eps)
    for _ in range(int(n_iter)):
        joined = pts.crossJoin(F.broadcast(fit))
        r = (
            F.col("x").cast("double")
            - F.col("aq").cast("double") / F.lit(float(q))
            - F.col("bq").cast("double") / F.lit(float(q)) * F.col("t").cast("double")
        )
        w = F.when(
            r > 0, F.lit(tau_f) / F.greatest(r, F.lit(eps_f))
        ).otherwise(F.lit(1.0 - tau_f) / F.greatest(-r, F.lit(eps_f)))
        fit = _solve(joined.select("t", "x", w.alias("w"))).localCheckpoint()

    final = pts.crossJoin(F.broadcast(fit))
    r = (
        F.col("x").cast("double")
        - F.col("aq").cast("double") / F.lit(float(q))
        - F.col("bq").cast("double") / F.lit(float(q)) * F.col("t").cast("double")
    )
    pinball = F.when(r > 0, F.lit(tau_f) * r).otherwise(
        F.lit(tau_f - 1.0) * r
    )
    return final.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.lit(tau_f), 6).alias("tau"),
        F.round(F.min(F.col("bq")).cast("double") / F.lit(float(q)), 6).alias(
            "slope"
        ),
        F.round(F.min(F.col("aq")).cast("double") / F.lit(float(q)), 6).alias(
            "intercept"
        ),
        F.round(F.avg(pinball), 6).alias("pinball_loss"),
    )


def _quantile_trend_driver(
    spark,
    pts: list,
    tau_f: float,
    eps_f: float,
    n_iter: int,
    q: int,
) -> DataFrame:
    """Driver-side replay of :func:`quantile_trend_daily`'s quantized
    IRLS over the collected calendar-bounded daily table — the same
    weighted-normal-equation expression tree term-for-term (sums in
    sorted-day order, HALF_UP 1e-9 re-quantization between steps), so
    the (aq, bq) trajectory matches the symbolic column iteration
    through the quantization grid that already carries the
    cross-engine contract vs the DuckDB oracle."""
    schema = (
        "n_days long, tau double, slope double, intercept double, "
        "pinball_loss double"
    )
    if not pts:  # empty series: the distributed agg's null row
        return spark.createDataFrame(
            [(0, _round_half_up(tau_f * 1e6) / 1e6, None, None, None)], schema
        )
    pts = sorted(pts)

    def solve(ws: list) -> tuple:
        sw = swt = swtt = swy = swty = 0.0
        for (t, x), w in zip(pts, ws):
            sw += w
            swt += w * t
            swtt += w * t * t
            swy += w * x
            swty += w * t * x
        den = sw * swtt - swt * swt
        if den == 0.0:
            # singular normal equations (single distinct day): the
            # distributed/oracle try_divide answer is NULL — mirror it
            return (None, None)
        b = (sw * swty - swt * swy) / den
        a = (swy - b * swt) / sw
        return (
            int(_round_half_up(a * float(q))),
            int(_round_half_up(b * float(q))),
        )

    aq, bq = solve([1.0] * len(pts))
    for _ in range(int(n_iter)):
        if aq is None:
            # NULL residual: CASE WHEN NULL > 0 falls to ELSE and
            # GREATEST ignores the NULL in both engines, so every
            # weight is (1-τ)/ε — keep the replay lock-step
            ws = [(1.0 - tau_f) / eps_f] * len(pts)
        else:
            ws = []
            for t, x in pts:
                r = float(x) - aq / float(q) - bq / float(q) * float(t)
                ws.append(
                    tau_f / max(r, eps_f)
                    if r > 0
                    else (1.0 - tau_f) / max(-r, eps_f)
                )
        aq, bq = solve(ws)

    if aq is None:
        row = (
            len(pts),
            _round_half_up(tau_f * 1e6) / 1e6,
            None,
            None,
            None,
        )
        return spark.createDataFrame([row], schema)
    loss = 0.0
    for t, x in pts:
        r = float(x) - aq / float(q) - bq / float(q) * float(t)
        loss += tau_f * r if r > 0 else (tau_f - 1.0) * r
    row = (
        len(pts),
        _round_half_up(tau_f * 1e6) / 1e6,
        _round_half_up(bq / float(q) * 1e6) / 1e6,
        _round_half_up(aq / float(q) * 1e6) / 1e6,
        _round_half_up(loss / len(pts) * 1e6) / 1e6,
    )
    return spark.createDataFrame([row], schema)


def rolling_active_entities(
    turns: DataFrame, window_days: int = 7
) -> DataFrame:
    """Per calendar day, the count of DISTINCT conversations active in
    the trailing ``window_days``-day window ending that day (WAU-style
    rolling actives), alongside the same-day distinct count and the
    stickiness ratio ``active_day / active_window`` — the engagement
    denominator every retention / churn dashboard needs next to
    ``daily_engagement`` (which counts turns, not entities).

    Semantics: a conversation is active-in-window on day D iff it has
    at least one turn on some day in ``(D − window_days, D]`` (calendar
    days from ``date_trunc('day', ts)``); reported days run through the
    corpus's last active day, so warm-up days at the head carry
    partial windows (the standard dashboard convention) and gap days
    INSIDE a window still get a row (``active_day = 0``).

    Shape — the interval-cover rewrite, NOT a range join: the naive
    formulation (day grid ⋈ turns ON d−w < ts ≤ d, COUNT DISTINCT) is
    a theta-join that replicates the full turn stream per covered day
    and then pays an Expand for the distinct. Instead: (1) dedup to
    distinct (conv_id, day) pairs — one partial+final hash agg that
    collapses 10^12 turns to entity-days; (2) explode each active day
    into the ≤``window_days`` window-END days it covers (bounded
    fan-out, a generator not a shuffle); (3) dedup (conv_id, end_day)
    — a second hash agg — and count per end day. Every stage is a
    map-side-combinable agg on keys far smaller than the stream; no
    window function, no Expand, no per-day replication of raw turns.
    The one-row max-day bound rides a broadcast.
    """
    from pyspark import StorageLevel

    # kept: the max-day bound, cover explode and same-day counts of the
    # returned plan read the entity-day table (entity-days ≪ turns)
    pairs = (
        turns.select(
            "conv_id",
            F.floor(
                F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(DAY_US)
            ).alias("_dn"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mx = pairs.agg(F.max("_dn").alias("_mx"))
    cover = (
        pairs.select(
            "conv_id",
            F.explode(
                F.sequence(
                    F.col("_dn"), F.col("_dn") + F.lit(int(window_days) - 1)
                )
            ).alias("_cd"),
        )
        .crossJoin(F.broadcast(mx))
        .where(F.col("_cd") <= F.col("_mx"))
        .select("conv_id", "_cd")
        .distinct()
    )
    win = cover.groupBy("_cd").agg(
        F.count(F.lit(1)).cast("long").alias("active_window")
    )
    day = pairs.groupBy(F.col("_dn").alias("_cd")).agg(
        F.count(F.lit(1)).cast("long").alias("active_day")
    )
    a1 = F.coalesce(F.col("active_day"), F.lit(0)).cast("long")
    return win.join(day, "_cd", "left").select(
        F.timestamp_seconds(F.col("_cd") * F.lit(86_400)).alias("d"),
        a1.alias("active_day"),
        "active_window",
        F.round(
            a1.cast("double") / F.col("active_window"), 6
        ).alias("stickiness"),
    )


def ccf_daily(
    turns: DataFrame,
    role_a: str = "user",
    role_b: str = "assistant",
    max_lag: int = 7,
    *,
    eps: float = 1e-12,
) -> DataFrame:
    """Sample CROSS-correlation between two roles' daily turn-count
    series at lags −``max_lag``..+``max_lag`` — does assistant volume
    track user volume same-day, or echo it a day late? (daily_acf is
    the self-correlation special case; the CCF pair is the standard
    lead/lag diagnostic before reading any causal story into two
    co-trending series.)

    Estimator: ``ccf(k) = Σ(a_t−ā)(b_{t−k}−b̄) / √(Σ(a−ā)²·Σ(b−b̄)²)``
    with full-series means and denominators (the textbook plug-in);
    positive k = b leads by k observations, negative k = a leads.
    Lags are OBSERVATION lags over the ordered day series (gap days
    absent, not zero — the daily_acf contract; densify via
    :mod:`operators.resample` first for calendar-lag semantics).

    Shape: one partial+final day agg collapses the stream (both role
    series in a single conditional-agg pass, A6 device); everything
    after runs on the calendar-bounded daily series (daily_anomalies
    exemption for the day-ordered window), means/denominators ride
    one-row broadcasts, and the per-lag products stack through ONE
    explode so all 2·max_lag+1 lags share a single window sort.
    """
    daily = _daily(
        turns,
        F.sum(F.when(F.col("role") == role_a, 1).otherwise(0)).cast("double").alias("a"),
        F.sum(F.when(F.col("role") == role_b, 1).otherwise(0)).cast("double").alias("b"),
    )
    mu = daily.agg(F.avg("a").alias("_ma"), F.avg("b").alias("_mb"))
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "d",
        (F.col("a") - F.col("_ma")).alias("da"),
        (F.col("b") - F.col("_mb")).alias("db"),
    )
    den = dev.agg(
        F.sum(F.col("da") * F.col("da")).alias("_dena"),
        F.sum(F.col("db") * F.col("db")).alias("_denb"),
    )
    w = Window.orderBy("d")
    ks = list(range(0, int(max_lag) + 1))
    wide = dev.select(
        "da",
        "db",
        *[F.lag("db", k).over(w).alias(f"_lb{k}") for k in ks if k > 0],
        *[F.lag("da", k).over(w).alias(f"_la{k}") for k in ks if k > 0],
    )
    arms = [
        F.struct(
            F.lit(0).alias("lag"), (F.col("da") * F.col("db")).alias("prod")
        )
    ]
    for k in ks:
        if k == 0:
            continue
        arms.append(
            F.struct(
                F.lit(k).alias("lag"),
                (F.col("da") * F.col(f"_lb{k}")).alias("prod"),
            )
        )
        arms.append(
            F.struct(
                F.lit(-k).alias("lag"),
                (F.col("db") * F.col(f"_la{k}")).alias("prod"),
            )
        )
    stacked = (
        wide.select(F.explode(F.array(*arms)).alias("s"))
        .select(F.col("s.lag").alias("lag"), F.col("s.prod").alias("prod"))
        .where(F.col("prod").isNotNull())
    )
    out = stacked.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("prod").alias("_num"),
    )
    return out.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        F.round(
            F.when(
                (F.col("_dena") > eps) & (F.col("_denb") > eps),
                F.col("_num") / F.sqrt(F.col("_dena") * F.col("_denb")),
            ),
            6,
        ).alias("ccf"),
    )


def mann_kendall_daily(turns: DataFrame) -> DataFrame:
    """Mann–Kendall monotone-trend test on the daily turn-count series
    — the nonparametric companion to :func:`theil_sen_daily` (which
    gives the slope; this gives the significance): ``S = Σ_{i<j}
    sign(x_j − x_i)``, tie-corrected variance ``Var(S) = [n(n−1)(2n+5)
    − Σ_t t(t−1)(2t+5)]/18``, continuity-corrected z, and Kendall's
    tau-b (time side has no ties, so the tie product keeps only the
    value-side term). One row: ``(n_days, s_stat, var_s, z_stat,
    tau_b)``.

    Shape: the stream collapses to one row per day first; the O(n²)
    pair scan is an inequality self-join of the calendar-bounded daily
    series ONLY (the daily_anomalies exemption — 3 years ≈ 1100 days ≈
    600k pairs), never of raw turns. Tie counts are a second tiny agg
    on the same daily frame; the three one-row frames meet through
    broadcast cross joins.
    """
    daily = _daily(turns, F.count(F.lit(1)).cast("long").alias("x"))
    li = daily.select(
        F.col("d").alias("di"), F.col("x").alias("xi")
    )
    lj = daily.select(
        F.col("d").alias("dj"), F.col("x").alias("xj")
    )
    s = (
        li.join(lj, F.col("di") < F.col("dj"))
        .agg(
            F.sum(
                F.signum(F.col("xj").cast("double") - F.col("xi"))
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("double").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("_tv"),
            F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("_tt"),
        )
    )
    one = (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
    )
    nd = F.col("n_days").cast("double")
    var_s = (
        nd * (nd - 1) * (2 * nd + 5) - F.col("_tv")
    ) / F.lit(18.0)
    sd = F.col("s_stat").cast("double")
    z = (
        F.when(var_s <= 0, F.lit(0.0))
        .when(sd > 0, (sd - 1) / F.sqrt(var_s))
        .when(sd < 0, (sd + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    d_pairs = nd * (nd - 1) / 2
    tau_den = F.sqrt(d_pairs * (d_pairs - F.col("_tt")))
    tau = F.when(tau_den > 0, sd / tau_den).otherwise(F.lit(0.0))
    return one.select(
        "n_days",
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z_stat"),
        F.round(tau, 6).alias("tau_b"),
    )


def stl_daily(turns: DataFrame, *, half_window: int = 3) -> DataFrame:
    """Deterministic STL-lite decomposition of the daily turn-count
    series into trend + weekday seasonal + remainder — the per-day
    companion to :func:`dow_seasonality`'s one-number strength: trend
    is the centered ``2·half_window+1``-point rolling MEDIAN (robust
    to single-day spikes, unlike a rolling mean), seasonal is the
    per-ISO-weekday mean of the detrended series (full-series
    retrospective means, the dow_seasonality convention — NOT centered
    to sum zero across the week; remainder absorbs the offset), and
    ``remainder = n_turns − trend − seasonal`` is what anomaly alarms
    should actually fire on.

    Determinism: the rolling median runs over integer day counts cast
    to double — exact halves on even edge windows in both engines —
    and edge days use the partial window (ROWS frame semantics, same
    in DuckDB). Weekday keys via ``weekday()+1 == isodow`` (the
    dow_seasonality parity device).

    Shape: one corpus day-agg; every window after that rides the
    calendar-bounded daily series (daily_anomalies exemption) — the
    rolling median over a ≤7-row frame and the 7-key dow means never
    touch raw turns.
    """
    daily = turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns")
    )
    hw = int(half_window)
    w7 = Window.orderBy("d").rowsBetween(-hw, hw)
    # Spark rejects median() with a window frame; the frame is ≤7 rows,
    # so sort the collected frame and average the two middles (exactly
    # DuckDB's interpolated median — identical on odd counts too)
    arr = F.array_sort(
        F.collect_list(F.col("n_turns").cast("double")).over(w7)
    )
    nn = F.size(arr)
    lo = F.element_at(arr, F.floor((nn + 1) / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(nn / 2) + 1).cast("int"))
    with_trend = daily.select(
        "d",
        "n_turns",
        (F.weekday(F.col("d")) + F.lit(1)).cast("int").alias("iso_dow"),
        ((lo + hi) / 2).alias("trend"),
    )
    wd = Window.partitionBy("iso_dow")
    out = with_trend.select(
        "d",
        "n_turns",
        "iso_dow",
        "trend",
        F.avg(F.col("n_turns") - F.col("trend")).over(wd).alias("seasonal"),
    )
    return out.select(
        "d",
        "n_turns",
        "iso_dow",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(
            F.col("n_turns") - F.col("trend") - F.col("seasonal"), 6
        ).alias("remainder"),
    )


def granger_daily(
    turns: DataFrame,
    role_a: str = "user",
    role_b: str = "assistant",
) -> DataFrame:
    """Granger-style lead/lag F-test (lag order 1) between two roles'
    daily series — the inferential companion to :func:`ccf_daily`'s
    descriptive peak: does yesterday's A volume improve today's B
    forecast beyond B's own yesterday? Two rows, one per direction
    (``a_to_b``, ``b_to_a``): observation count, restricted RSS
    (y ~ 1 + y_lag), unrestricted RSS (y ~ 1 + y_lag + x_lag), the
    cross-lag coefficient, and ``F = (RSS_r − RSS_u)/(RSS_u/(m−3))``.

    Determinism: the lagged frame holds INTEGER day counts, so every
    sufficient statistic (Σx, Σx², Σxy …) is an exact decimal sum; both
    engines then run the identical closed-form 2×2 normal-equation
    algebra in doubles — no iterative fit, no float accumulation over
    rows. Degenerate guards: a singular design (zero variance in a
    predictor) or m ≤ 3 yields NULL F rather than a division blow-up.

    Shape: ONE conditional-agg day collapse (collected), one
    day-ordered lag projection on the calendar-bounded daily series
    (daily_anomalies exemption), ONE exact-moment agg, then pure
    scalar algebra stacked into the two direction rows via explode.
    """
    dec = "decimal(38,0)"
    daily = _daily(
        turns,
        F.sum(F.when(F.col("role") == role_a, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("role") == role_b, 1).otherwise(0)).cast("long").alias("b"),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "a",
        "b",
        F.lag("a").over(w).alias("al"),
        F.lag("b").over(w).alias("bl"),
    ).where(F.col("al").isNotNull())
    mom = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        *[
            F.sum(F.col(c).cast(dec)).alias(f"s_{c}")
            for c in ("a", "b", "al", "bl")
        ],
        *[
            F.sum((F.col(x).cast(dec) * F.col(y).cast(dec))).alias(
                f"s_{x}{y}"
            )
            for x, y in (
                ("a", "a"),
                ("b", "b"),
                ("al", "al"),
                ("bl", "bl"),
                ("al", "bl"),
                ("a", "al"),
                ("a", "bl"),
                ("b", "al"),
                ("b", "bl"),
            )
        ],
    )

    def direction(y, yl, xl):
        md = F.col("m").cast("double")

        def cen(sxy, sx, sy):
            return F.col(sxy).cast("double") - (
                F.col(sx).cast("double") * F.col(sy).cast("double") / md
            )

        syy = cen(f"s_{y}{y}", f"s_{y}", f"s_{y}")
        s11 = cen(f"s_{yl}{yl}", f"s_{yl}", f"s_{yl}")
        s22 = cen(f"s_{xl}{xl}", f"s_{xl}", f"s_{xl}")
        # moment keys are stored in canonical (al, bl) / (a, ...) order —
        # normalize lookups for the cross terms
        def key(x, z):
            return f"s_{x}{z}" if f"s_{x}{z}" in mom.columns else f"s_{z}{x}"

        s12 = cen(key(yl, xl), f"s_{yl}", f"s_{xl}")
        s1y = cen(key(y, yl), f"s_{yl}", f"s_{y}")
        s2y = cen(key(y, xl), f"s_{xl}", f"s_{y}")
        rss_r = F.when(s11 > 0, syy - s1y * s1y / s11)
        det = s11 * s22 - s12 * s12
        b1 = (s1y * s22 - s2y * s12) / det
        b2 = (s2y * s11 - s1y * s12) / det
        rss_u = F.when(det > 0, syy - (b1 * s1y + b2 * s2y))
        fstat = F.when(
            (F.col("m") > 3) & rss_u.isNotNull() & (rss_u > 0),
            (rss_r - rss_u) / (rss_u / (md - 3)),
        )
        return F.struct(
            F.lit(f"{xl[0]}_to_{y}").alias("direction"),
            F.col("m").alias("n_obs"),
            F.round(rss_r, 6).alias("rss_r"),
            F.round(rss_u, 6).alias("rss_u"),
            F.round(F.when(det > 0, b2), 6).alias("cross_coef"),
            F.round(fstat, 6).alias("f_stat"),
        )

    both = mom.select(
        F.explode(
            F.array(direction("b", "bl", "al"), direction("a", "al", "bl"))
        ).alias("g")
    )
    return both.select("g.*")


def holt_linear_daily(
    turns: DataFrame,
    *,
    alpha: float = 0.25,
    beta: float = 0.125,
) -> DataFrame:
    """Holt's linear (double-parameter) exponential smoothing of the
    daily turn count — the RECURSIVE level+trend tracker completing
    the forecasting family: unlike :func:`brown_double_daily` (one
    smoothing constant, closed-form staircase sums), Holt keeps two
    coupled states ``l_t = α·y_t + (1−α)·(l_{t−1}+b_{t−1})`` and
    ``b_t = β·(l_t−l_{t−1}) + (1−β)·b_{t−1}``, so level and slope
    adapt at independent rates — the standard operational-forecasting
    recursion (Holt 1957/2004).

    Determinism (the quantile_trend_daily long-grid device, applied
    per STEP of a genuine recursion): both states live on the exact
    1e-9 integer grid — after every update the new level/trend are
    re-quantized via round-half-away-from-zero into BIGINTs, and the
    next step reads them back as ``q/1e9`` doubles — so both engines
    enter every step with bit-identical floats. α=1/4 and β=1/8 are
    exact binary fractions; ``y`` is an exact integer count; all
    quantized magnitudes stay ≪ 2^52 where the floor(x+0.5) /
    round-ties-away forms coincide. Init: ``l_0 = y_0``,
    ``b_0 = y_1 − y_0`` (0 for a one-day series) — exact integers.

    Distributed shape: ONE corpus day-collapse (exact integer
    counts); the recursion itself is inherently SEQUENTIAL in t, so
    it runs as a single ``applyInPandas`` group over the
    calendar-bounded daily table (same bounded-table exemption as the
    per-fold PAV fit — days grow with the calendar, not the corpus;
    at 10^12 turns this table is still ≤ a few thousand rows). The
    day column rides through as an exact epoch-day LONG and is
    re-attached by one bounded-table join, so no timestamp crosses
    the Arrow boundary.

    Output per day: ``(d, n_turns, level, trend, forecast,
    forecast_err)`` — forecast is the one-step-ahead
    ``l_{t−1} + b_{t−1}`` (−1.0 sentinel for the first day, the
    brown_double_daily convention), err relative to the observation.
    """
    day_us = 86400 * 1_000_000
    af, bf = float(alpha), float(beta)
    daily = _daily(turns, F.count(F.lit(1)).cast("long").alias("n_turns")).select(
        "d",
        F.floor(F.unix_micros(F.col("d")) / F.lit(day_us)).cast("long").alias("dn"),
        "n_turns",
    )

    def fit(pdf):
        import math

        import pandas as pd

        def q(x: float) -> int:
            return (
                int(math.floor(x * 1e9 + 0.5))
                if x >= 0
                else -int(math.floor(-x * 1e9 + 0.5))
            )

        pdf = pdf.sort_values("dn").reset_index(drop=True)
        ys = pdf["n_turns"].astype("int64").tolist()
        lq = ys[0] * 1_000_000_000
        bq = (ys[1] - ys[0]) * 1_000_000_000 if len(ys) > 1 else 0
        levels, trends, fcs, errs = [float(ys[0])], [bq / 1e9], [-1.0], [0.0]
        for y in ys[1:]:
            l_prev, b_prev = lq / 1e9, bq / 1e9
            fc = l_prev + b_prev
            l_new_q = q(af * float(y) + (1.0 - af) * (l_prev + b_prev))
            l_new = l_new_q / 1e9
            b_new_q = q(bf * (l_new - l_prev) + (1.0 - bf) * b_prev)
            lq, bq = l_new_q, b_new_q
            levels.append(l_new)
            trends.append(b_new_q / 1e9)
            fcs.append(fc)
            errs.append(float(y) - fc)
        return pd.DataFrame(
            {
                "dn": pdf["dn"],
                "level": levels,
                "trend": trends,
                "forecast": fcs,
                "forecast_err": errs,
            }
        )

    states = (
        daily.select("dn", "n_turns")
        .groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            fit,
            schema="dn long, level double, trend double, "
            "forecast double, forecast_err double",
        )
    )
    return daily.join(states, "dn").select(
        "d",
        "n_turns",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
        F.round("forecast_err", 6).alias("forecast_err"),
    )


def page_hinkley_daily(
    turns: DataFrame,
    *,
    delta: float = 0.0,
    lam: float = 0.02,
    grid: int = 1_000_000_000,
) -> DataFrame:
    """Page–Hinkley sequential change detector on the daily volume
    share — the classic online mean-shift alarm completing the drift
    family (CUSUM tracks cumulative sign drift, EWMA a smoothed
    level; PH tracks the gap between the cumulative deviation and
    its running minimum, which reacts to sustained upward shifts).

    Scale-free: daily counts are normalized to share-of-total before
    detection, so ``lam`` means "share points" at any data size.
    EVERY quantity lives on an integer grid (shares, running means,
    deviations quantized to ``grid`` with half-away rounding), so the
    output is bit-identical across engines and partitionings — and
    the whole recursion collapses to WINDOW ALGEBRA: running mean =
    quantized prefix-sum/t, m_t = prefix-sum of deviations, PH_t =
    m_t − prefix-min(m) — no applyInPandas, no driver loop.

    Shape: ONE corpus day-collapse, then three window functions over
    the BOUNDED daily table (the ewma_daily/holt discipline). Output:
    (d, n_turns, ph, alarm_flag) per day.
    """
    daily = (
        turns.where(F.col("ts").isNotNull())
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
    )
    tot = daily.agg(F.sum("n_turns").cast("long").alias("_tot"))
    # share_q = round_half_away(n * grid / total) via LONG `div` —
    # never a double division, so no 2^53 precision cliff at scale
    share_q = F.expr(
        f"(2L * n_turns * {grid}L + _tot) div (2L * _tot)"
    ).cast("long")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    based = daily.crossJoin(F.broadcast(tot)).select(
        "d", "n_turns", share_q.alias("_sq")
    )
    t = F.row_number().over(Window.orderBy("d"))
    cum = F.sum("_sq").over(w)
    based = based.select(
        "d", "n_turns", "_sq", t.cast("long").alias("_t"), cum.alias("_cum")
    )
    # quantized running mean (exact integer half-away division)
    mean_q = F.expr("(2L * _cum + _t) div (2L * _t)").cast("long")
    delta_q = F.lit(int(round(delta * grid))).cast("long")
    dev = F.col("_sq") - mean_q - delta_q
    based = based.select("d", "n_turns", dev.alias("_dev"))
    m = F.sum("_dev").over(w)
    based = based.select("d", "n_turns", m.alias("_m"))
    runmin = F.min("_m").over(w)
    ph_q = F.col("_m") - runmin
    lam_q = F.lit(int(round(lam * grid))).cast("long")
    based = based.select("d", "n_turns", ph_q.alias("_phq"))
    # 6-dp rounding ON THE INTEGER GRID (half-away): rounding the
    # inexact double phq/grid instead diverges across engines exactly
    # at .5 boundaries (Spark rounds the shortest-decimal rendering,
    # DuckDB the binary value)
    ph6 = F.expr(
        f"(2L * _phq * 1000000L + {grid}L) div (2L * {grid}L)"
    ).cast("double") / F.lit(1e6)
    return based.select(
        "d",
        "n_turns",
        ph6.alias("ph"),
        (F.col("_phq") > lam_q).cast("int").alias("alarm_flag"),
    ).orderBy("d")


def holt_winters_daily(
    turns: DataFrame,
    *,
    alpha: float = 0.25,
    beta: float = 0.125,
    gamma: float = 0.25,
    period: int = 7,
    on_short: str = "raise",
) -> DataFrame:
    """Holt–Winters ADDITIVE-seasonal smoothing of the daily turn
    count (period = 7, the weekly rhythm): the three-state recursion
    completing the forecasting family — Brown (one constant), Holt
    (level+trend), and now level+trend+seasonal:

        l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
        s_t = γ(y_t − l_t) + (1−γ) s_{t−m}
        ŷ_t = l_{t−1} + b_{t−1} + s_{t−m}

    Init (needs ≥ 2·period days, else a LOUD ValueError): l = mean of
    week 1, b = (mean week 2 − mean week 1)/m, s_i = y_i − mean
    week 1 — the standard simple initialization.

    Determinism: the holt_linear_daily per-step 1e-9 integer-grid
    re-quantization, extended to the m-vector of seasonal states
    (the oracle carries them as a LIST through a recursive CTE);
    α, β, γ are exact binary fractions; output values are 6-dp
    rounded ON THE GRID (sign-aware half-away), so engines agree
    bit-for-bit. Shape: ONE corpus day-collapse, recursion as a
    single applyInPandas group over the calendar-bounded daily table
    (epoch-day longs across Arrow), day re-attached by a bounded
    join.
    """
    day_us = 86400 * 1_000_000
    af, bf, gf, m = float(alpha), float(beta), float(gamma), int(period)
    daily = _daily(turns, F.count(F.lit(1)).cast("long").alias("n_turns")).select(
        "d",
        F.floor(F.unix_micros(F.col("d")) / F.lit(day_us)).cast("long").alias("dn"),
        "n_turns",
    )
    n_days = daily.count()
    if n_days < 2 * m:
        if on_short == "empty":
            # insufficient history for the seasonal init: an EMPTY
            # frame with the output schema (the oracle guards with
            # the same day-count predicate); the default stays a
            # loud ValueError for pipeline callers
            from pyspark.sql import types as T

            return turns.sparkSession.createDataFrame(
                [],
                T.StructType([
                    T.StructField("d", T.TimestampType()),
                    T.StructField("n_turns", T.LongType()),
                    T.StructField("level", T.DoubleType()),
                    T.StructField("trend", T.DoubleType()),
                    T.StructField("seasonal", T.DoubleType()),
                    T.StructField("forecast", T.DoubleType()),
                    T.StructField("forecast_err", T.DoubleType()),
                ]),
            )
        raise ValueError(
            f"holt_winters_daily needs >= {2 * m} days, got {n_days}"
        )

    def fit(pdf):
        import math

        import pandas as pd

        def q(x: float) -> int:
            return (
                int(math.floor(x * 1e9 + 0.5))
                if x >= 0
                else -int(math.floor(-x * 1e9 + 0.5))
            )

        def q6(xq: int) -> float:
            # 6-dp half-away rounding of a 1e-9-grid integer, done in
            # exact integer math (the page_hinkley boundary fix)
            if xq >= 0:
                return ((2 * xq * 1_000_000 + 1_000_000_000)
                        // 2_000_000_000) / 1e6
            return -(((2 * -xq * 1_000_000 + 1_000_000_000)
                      // 2_000_000_000) / 1e6)

        def qdiv(num: int, den: int) -> int:
            # half-away integer division, sign-aware
            if num >= 0:
                return (2 * num + den) // (2 * den)
            return -((2 * -num + den) // (2 * den))

        pdf = pdf.sort_values("dn").reset_index(drop=True)
        ys = pdf["n_turns"].astype("int64").tolist()
        G = 1_000_000_000
        s1 = sum(ys[:m])
        s2 = sum(ys[m : 2 * m])
        lq = qdiv(s1 * G, m)
        bq = qdiv((s2 - s1) * G, m * m)
        seas = [y * G - lq for y in ys[:m]]
        lvl, trd, sea, fcs, errs = [], [], [], [], []
        for t, y in enumerate(ys):
            if t < m:
                lvl.append(q6(lq))
                trd.append(q6(bq))
                sea.append(q6(seas[t]))
                fcs.append(-1.0)
                errs.append(0.0)
                continue
            l_prev, b_prev = lq / 1e9, bq / 1e9
            s_old_q = seas[0]
            s_old = s_old_q / 1e9
            fc = l_prev + b_prev + s_old
            l_new_q = q(af * (float(y) - s_old) + (1.0 - af) * (l_prev + b_prev))
            l_new = l_new_q / 1e9
            b_new_q = q(bf * (l_new - l_prev) + (1.0 - bf) * b_prev)
            s_new_q = q(gf * (float(y) - l_new) + (1.0 - gf) * s_old)
            seas = seas[1:] + [s_new_q]
            lq, bq = l_new_q, b_new_q
            lvl.append(q6(lq))
            trd.append(q6(bq))
            sea.append(q6(s_new_q))
            fcs.append(q6(q(fc)))
            errs.append(q6(q(float(y) - fc)))
        return pd.DataFrame(
            {
                "dn": pdf["dn"],
                "n_turns": pdf["n_turns"],
                "level": lvl,
                "trend": trd,
                "seasonal": sea,
                "forecast": fcs,
                "forecast_err": errs,
            }
        )

    fitted = daily.select("dn", "n_turns").groupBy(F.lit(1).alias("_g")).applyInPandas(
        lambda _, pdf: fit(pdf),
        "dn long, n_turns long, level double, trend double, "
        "seasonal double, forecast double, forecast_err double",
    )
    out = fitted.join(daily.select("d", "dn"), "dn").select(
        "d", "n_turns", "level", "trend", "seasonal", "forecast", "forecast_err"
    )
    return out.orderBy("d")


def hurst_daily(
    turns: DataFrame,
    segment_sizes: tuple[int, ...] = (4, 8, 16, 32),
) -> DataFrame:
    """Hurst exponent of the daily activity series via rescaled-range
    (R/S) analysis — the LONG-memory diagnostic the short-lag family
    (:func:`daily_acf`, :func:`pacf_daily`) can't see: H ≈ 0.5 means
    increments forget (random walk), H > 0.5 persistent trends
    (today's surge predicts next week's level — CUSUM/EWMA alarms
    will re-fire in clusters), H < 0.5 mean-reversion. Estimated the
    classic way: split the series into disjoint segments of size m,
    compute each segment's rescaled range R/S (range of the
    demeaned cumulative sum over the population std), average per m,
    fit ``ln E[R/S] = ln c + H·ln m`` by least squares over the
    segment sizes. Output: one row per m — ``(m, n_segments,
    mean_rs)`` — with the shared ``hurst`` slope broadcast on every
    row (the :func:`~.abtest.welch_anova` output shape).

    Observation-day series (gaps absent, not zero — the
    :func:`daily_acf` contract). Only COMPLETE segments count.

    Shape: the stream collapses to the bounded daily table once;
    a 4-way literal explode replicates it per segment size; all
    windows partition by (m, segment) over bounded frames. The
    cumulative deviation is computed EXACTLY as ``S_j − j·mean``
    (integer prefix sums minus a fixed-shape rational product) — no
    running float recursion; R via order-free MAX/MIN; per-m means
    on the integer micro-grid (order-free sums). The ≤|sizes|-row
    regression is fixed-shape algebra.
    """
    daily = turns.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w_r = Window.orderBy("d")
    idx = daily.select(
        "d", "x", (F.row_number().over(w_r) - F.lit(1)).alias("r")
    )
    rep = idx.select(
        "d",
        "x",
        "r",
        F.explode(F.array(*[F.lit(int(m)) for m in segment_sizes])).alias("m"),
    ).select(
        "m",
        F.floor(F.col("r") / F.col("m")).cast("long").alias("seg"),
        (F.col("r") % F.col("m")).alias("j"),
        "d",
        "x",
    )
    w_seg = Window.partitionBy("m", "seg")
    w_cum = Window.partitionBy("m", "seg").orderBy("j").rowsBetween(
        Window.unboundedPreceding, 0
    )
    stats = rep.select(
        "m",
        "seg",
        "j",
        "x",
        F.count(F.lit(1)).over(w_seg).alias("_cnt"),
        F.sum("x").over(w_seg).cast("long").alias("_sx"),
        F.sum(F.col("x") * F.col("x")).over(w_seg).cast("long").alias("_sxx"),
        F.sum("x").over(w_cum).cast("long").alias("_cs"),
    ).where(F.col("_cnt") == F.col("m"))
    mean = F.col("_sx").cast("double") / F.col("m")
    # exact cumulative deviation: S_j − (j+1)·mean (prefix longs, one product)
    cdev = F.col("_cs").cast("double") - (F.col("j") + F.lit(1)).cast(
        "double"
    ) * mean
    per_seg = stats.groupBy("m", "seg").agg(
        (F.max(cdev) - F.min(cdev)).alias("_range"),
        F.max(F.col("_sxx")).alias("_sxx"),
        F.max(F.col("_sx")).alias("_sx"),
    )
    mm = F.col("m").cast("double")
    var = (
        F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double") / mm
    ) / mm
    rs = F.col("_range") / F.sqrt(var)
    rs_micro = F.round(rs * F.lit(1.0e6), 0).cast("long")
    per_m = (
        per_seg.where(var > 0)
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(rs_micro).cast("long").alias("_rsm"),
        )
    )
    pts = per_m.select(
        "m",
        "n_segments",
        (F.col("_rsm").cast("double") / (F.col("n_segments") * F.lit(1.0e6))).alias(
            "_mean_rs"
        ),
        F.log(F.col("m").cast("double")).alias("_lx"),
        F.log(
            F.col("_rsm").cast("double") / (F.col("n_segments") * F.lit(1.0e6))
        ).alias("_ly"),
    )
    reg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("_k"),
        F.sum("_lx").alias("_sx"),
        F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
    )
    slope = F.when(
        F.col("_k") * F.col("_sxx") - F.col("_sx") * F.col("_sx") > 0,
        (F.col("_k") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        / (F.col("_k") * F.col("_sxx") - F.col("_sx") * F.col("_sx")),
    )
    return (
        pts.crossJoin(F.broadcast(reg))
        .select(
            "m",
            "n_segments",
            F.round(F.col("_mean_rs"), 6).alias("mean_rs"),
            F.round(slope, 6).alias("hurst"),
        )
        .orderBy("m")
    )
