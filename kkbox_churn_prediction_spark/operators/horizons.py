"""Multi-horizon windowed aggregation (A1/A2/A6/A8), single pass.

The reference recomputes the same aggregates once per lookback window
(90/60/30/14/7d) as five separate GROUP BY CTEs over five filtered
scans (``features/features_comprehensive.sql:97-144`` tx,
``:225-296`` logs). That is 5× the scan + 5× the shuffle. Here the
as-of-joined stream is aggregated ONCE with conditional aggregates —
``sum(when(days_ago <= K, x))`` per horizon K — so Catalyst emits one
partial+final hash aggregate regardless of horizon count (SURVEY §4
"scan sharing" restructure).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FeatureSpec:
    """One feature family, expanded per horizon.

    Declarative registry pattern after the reference's
    ``features.yaml:1-157`` (name, source expr, aggregation,
    null_policy/fill_value) — but compiled to Column expressions
    instead of templated SQL.
    """

    name: str  # final name gets `_{K}d` suffix
    agg: str  # count | sum | avg | min | max | countDistinct
    expr: str | None = None  # input expression (SQL string); None → lit(1) for count
    fill: float | int | None = 0  # COALESCE default (reference ~110 uses)
    round_to: int | None = None  # round doubles for cross-engine stability
    dtype: str | None = None  # declared output dtype (features.yaml:82-93
    #   dtype check); None → derived from agg in validate_features


# specs consume the narrow pre-join projection (text_len/is_user
# computed BEFORE the as-of replication — see plans.backfill); BIGINT
# text_len keeps the output schema identical to the DuckDB oracle
DEFAULT_SPECS: tuple[FeatureSpec, ...] = (
    FeatureSpec("turn_cnt", "count"),
    FeatureSpec("user_turn_cnt", "count", "is_user"),
    FeatureSpec("tool_call_cnt", "count", "tool"),
    FeatureSpec("distinct_tool_cnt", "countDistinct", "tool"),
    FeatureSpec("text_len_sum", "sum", "text_len"),
    FeatureSpec("text_len_max", "max", "text_len"),
    FeatureSpec("text_len_avg", "avg", "text_len", fill=0.0, round_to=4),
)


def _window_flag(horizon_days: int) -> Column:
    # sub-window predicate P4, as a conditional instead of a re-scan
    return F.col("ts") >= F.col("cutoff_ts") - F.expr(f"INTERVAL {horizon_days} DAYS")


def _agg_for(spec: FeatureSpec, horizon_days: int) -> Column:
    inside = _window_flag(horizon_days)
    x = F.expr(spec.expr) if spec.expr is not None else F.lit(1)
    guarded = F.when(inside, x)
    name = f"{spec.name}_{horizon_days}d"
    if spec.agg == "count":
        col = F.count(guarded)
    elif spec.agg == "sum":
        col = F.sum(guarded)
    elif spec.agg == "avg":
        col = F.avg(guarded)
    elif spec.agg == "min":
        col = F.min(guarded)
    elif spec.agg == "max":
        col = F.max(guarded)
    elif spec.agg == "countDistinct":
        col = F.countDistinct(guarded)
    else:  # pragma: no cover
        raise ValueError(f"unknown agg {spec.agg}")
    if spec.round_to is not None:
        col = F.round(col, spec.round_to)
    if spec.fill is not None:
        col = F.coalesce(col, F.lit(spec.fill))
    return col.alias(name)


def multi_horizon_aggregate(
    joined: DataFrame,
    horizons_days: tuple[int, ...] = (1, 3, 7),
    specs: tuple[FeatureSpec, ...] = DEFAULT_SPECS,
    *,
    full_window: bool = False,
) -> DataFrame:
    """Aggregate the as-of-joined turn stream per (conv_id, cutoff_ts).

    ``joined`` must carry the superset window (max horizon) already —
    the per-horizon predicates only narrow it. Emits one column per
    (spec × horizon), plus recency aggregates (A8):
    ``micros_since_last_turn`` (exact integer — avoids float-epoch
    drift between engines).

    COUNT(DISTINCT) is NOT planned as Catalyst's Expand (which
    multiplies every input row by the number of distinct-aggs — a 4×
    stream amplification with 3 horizons): it is restructured as a
    dedup aggregate per (keys, value) keeping max(ts), from which
    per-horizon presence (max ts ≥ cutoff−K, since every ts < cutoff)
    gives exact distinct counts — two slim hash aggs + a co-partitioned
    join instead of one fat Expand (skew-safe for the same reason as
    ``operators.skew.two_phase_count_distinct``).
    """
    plain = [s for s in specs if s.agg != "countDistinct"]
    distinct = [s for s in specs if s.agg == "countDistinct"]

    aggs: list[Column] = []
    for spec in plain:
        for k in horizons_days:
            aggs.append(_agg_for(spec, k))
    if full_window:
        # whole-superset-window aggregates — meaningful when the join
        # bound is WIDER than max(horizons), e.g. the expanding-fold
        # policy where each fold's lookback reaches to the data start
        # (src/temporal_cv.py:110-150 "train on all prior"). Free:
        # same single hash aggregate, two more columns.
        aggs.append(F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("turn_cnt_full"))
        aggs.append(
            F.coalesce(F.sum(F.col("text_len")), F.lit(0)).alias("text_len_sum_full")
        )
    aggs.append(
        F.coalesce(
            F.unix_micros(F.col("cutoff_ts")) - F.max(F.unix_micros(F.col("ts"))),
            F.lit(-1),
        ).alias("micros_since_last_turn")
    )
    out = joined.groupBy("conv_id", "cutoff_ts").agg(*aggs)

    for spec in distinct:
        val = F.expr(spec.expr) if spec.expr is not None else F.lit(1)
        dedup = (
            joined.where(val.isNotNull())
            .groupBy("conv_id", "cutoff_ts", val.alias("_v"))
            .agg(F.max(F.unix_micros(F.col("ts"))).alias("_max_us"))
        )
        horizon_us = {
            k: F.unix_micros(F.col("cutoff_ts")) - F.lit(int(k) * 86400 * 1_000_000)
            for k in horizons_days
        }
        cnt_aggs = [
            F.coalesce(
                F.count(F.when(F.col("_max_us") >= horizon_us[k], 1)),
                F.lit(spec.fill if spec.fill is not None else 0),
            ).alias(f"{spec.name}_{k}d")
            for k in horizons_days
        ]
        cnts = dedup.groupBy("conv_id", "cutoff_ts").agg(*cnt_aggs)
        out = out.join(cnts, ["conv_id", "cutoff_ts"], "left")
        if spec.fill is not None:
            out = out.fillna({f"{spec.name}_{k}d": spec.fill for k in horizons_days})
    # restore the declared spec×horizon column order
    ordered = ["conv_id", "cutoff_ts"]
    for spec in specs:
        ordered += [f"{spec.name}_{k}d" for k in horizons_days]
    if full_window:
        ordered += ["turn_cnt_full", "text_len_sum_full"]
    ordered.append("micros_since_last_turn")
    return out.select(*ordered)


# expected Spark output dtype per aggregation kind (over the BIGINT /
# flag inputs the narrow projection produces)
_AGG_DTYPE = {
    "count": "bigint",
    "countDistinct": "bigint",
    "sum": "bigint",
    "min": "bigint",
    "max": "bigint",
    "avg": "double",
}


def validate_features(
    features: DataFrame,
    specs: tuple[FeatureSpec, ...] = DEFAULT_SPECS,
    horizons_days: tuple[int, ...] = (1, 3, 7),
) -> DataFrame:
    """Feature-registry validation report (reference
    ``src/features_processor.py:71-95`` ``validate_features()`` +
    ``features.yaml:82-93`` per-feature dtype/null_policy contract).

    One row per registered spec×horizon column: presence, declared vs
    actual dtype, row/null counts, and whether the null policy holds
    (a spec with a fill default must have ZERO nulls after
    ``attach_grid_defaults``). One single-pass aggregate computes all
    null counts (no per-feature jobs — the reference loops features in
    Python); dtype facts are plan metadata, attached as literals.
    """
    dtypes = dict(features.dtypes)
    checks = []  # (col, spec, expected_dtype)
    for spec in specs:
        expected = spec.dtype or _AGG_DTYPE.get(spec.agg)
        for k in horizons_days:
            checks.append((f"{spec.name}_{k}d", spec, expected))

    null_aggs = [
        F.sum(F.col(c).isNull().cast("bigint")).alias(c)
        for c, _, _ in checks
        if c in dtypes
    ]
    agg = features.agg(F.count(F.lit(1)).alias("_n"), *null_aggs)

    structs = []
    for c, spec, expected in checks:
        present = c in dtypes
        actual = dtypes.get(c)
        structs.append(
            F.struct(
                F.lit(c).alias("feature"),
                F.lit(present).alias("present"),
                F.lit(actual).alias("dtype"),
                F.lit(expected).alias("expected_dtype"),
                F.lit(bool(present and (expected is None or actual == expected))).alias(
                    "dtype_ok"
                ),
                (F.col(c) if present else F.lit(None).cast("bigint")).alias("n_null"),
                F.lit(spec.fill is not None).alias("requires_no_nulls"),
            )
        )
    melted = agg.select(
        F.col("_n").alias("n_rows"), F.explode(F.array(*structs)).alias("s")
    ).select(
        "s.feature",
        "s.present",
        "s.dtype",
        "s.expected_dtype",
        "s.dtype_ok",
        "n_rows",
        "s.n_null",
        "s.requires_no_nulls",
    )
    return melted.withColumn(
        "null_policy_ok",
        F.when(~F.col("present"), F.lit(False)).otherwise(
            # coalesce False: on an EMPTY matrix n_null is NULL and
            # the oracle's CASE falls to ELSE 0 (r5 empty-sweep)
            F.coalesce(
                ~F.col("requires_no_nulls") | (F.col("n_null") == 0),
                F.lit(False),
            )
        ),
    )


def trend_features(feats: DataFrame) -> DataFrame:
    """Cross-horizon trend algebra (W4) over the feature matrix.

    The reference derives trend/acceleration columns from its
    multi-horizon aggregates with pure window-ratio arithmetic
    (``features/features_comprehensive.sql:467-479,543-554,573-586``,
    e.g. ``30d − 60d·0.5``, ``(14d·2.143)/30d − 1``) plus
    ratio-of-sums with a zero guard (A7,
    ``features/features_comprehensive.sql:210-215``). Same algebra
    here over the (1, 3, 7)-day horizons — post-agg column
    expressions only, zero additional shuffles.
    """

    def ratio(num, den):
        # A7 zero-guard: COALESCE(n / NULLIF(d, 0), 0)
        return F.coalesce(num / F.nullif(den, F.lit(0)), F.lit(0.0))

    c = F.col
    return feats.select(
        "conv_id",
        "cutoff_ts",
        # recent daily rate minus 3-day average daily rate
        F.round(c("turn_cnt_1d") - c("turn_cnt_3d") / F.lit(3.0), 6).alias(
            "turn_rate_accel"
        ),
        # last-day activity vs its 3-day pro-rata share − 1
        F.round(
            ratio(c("turn_cnt_1d") * F.lit(3.0), c("turn_cnt_3d")) - F.lit(1.0), 6
        ).alias("turn_trend_1v3"),
        F.round(
            ratio(c("text_len_sum_3d") * F.lit(7.0 / 3.0), c("text_len_sum_7d"))
            - F.lit(1.0),
            6,
        ).alias("text_trend_3v7"),
        F.round(ratio(c("user_turn_cnt_7d") * F.lit(1.0), c("turn_cnt_7d")), 6).alias(
            "user_turn_share_7d"
        ),
        F.round(ratio(c("tool_call_cnt_7d") * F.lit(1.0), c("turn_cnt_7d")), 6).alias(
            "tool_call_share_7d"
        ),
    )


def attach_grid_defaults(
    features: DataFrame, grid: DataFrame, specs: tuple[FeatureSpec, ...], horizons_days: tuple[int, ...]
) -> DataFrame:
    """Left-join features onto the full entity×cutoff grid so entities
    with zero in-window turns keep default rows (J2/J6 + COALESCE
    defaults, ``features/features_comprehensive.sql:351-635``)."""
    out = grid.join(features, ["conv_id", "cutoff_ts"], "left")
    fills = {}
    for spec in specs:
        for k in horizons_days:
            if spec.fill is not None:
                fills[f"{spec.name}_{k}d"] = spec.fill
    out = out.fillna(fills)
    for c in ("turn_cnt_full", "text_len_sum_full"):
        if c in out.columns:
            out = out.fillna({c: 0})
    if "micros_since_last_turn" in out.columns:
        out = out.fillna({"micros_since_last_turn": -1})
    return out
