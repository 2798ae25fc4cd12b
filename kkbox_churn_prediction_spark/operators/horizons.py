"""Multi-horizon windowed aggregation (A1/A2/A6/A8), single pass.

The reference recomputes the same aggregates once per lookback window
(90/60/30/14/7d) as five separate GROUP BY CTEs over five filtered
scans (``features/features_comprehensive.sql:97-144`` tx,
``:225-296`` logs). That is 5× the scan + 5× the shuffle. Here the
as-of-joined stream is read ONCE with conditional aggregates —
``sum(when(days_ago <= K, x))`` per horizon K — in one two-level
aggregate whatever the horizon count (SURVEY §4 "scan sharing"
restructure): the big shuffle carries map-side partials, the second
level regroups the already-collapsed rows.
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

# whole-superset-window aggregates (``full_window``), suffixed ``_full``
_FULL_WINDOW_SPECS = (
    FeatureSpec("turn_cnt", "count"),
    FeatureSpec("text_len_sum", "sum", "text_len"),
)

def _input(spec: FeatureSpec) -> Column:
    return F.expr(spec.expr) if spec.expr is not None else F.lit(1)


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
    drift between engines). ``full_window=True`` adds whole-window
    ``turn_cnt_full`` / ``text_len_sum_full`` — meaningful when the
    join bound is WIDER than max(horizons), e.g. the expanding-fold
    policy (``src/temporal_cv.py:110-150`` "train on all prior").

    One two-level aggregate, no join. Level 1 groups by (conv_id,
    cutoff_ts, ``_v``), ``_v`` being the one COUNT(DISTINCT) input (a
    NULL literal when there is none), and carries decomposable
    partials per spec×horizon (count, sum, min, max; avg as sum and
    count) plus ``_max_us``, the latest turn of the group. Level 2
    groups by (conv_id, cutoff_ts) and merges them: a value is in
    horizon K iff its latest turn is (every turn is before the
    cutoff), so the distinct count is ``count(_v IS NOT NULL AND
    _max_us >= cutoff−K)``, and ``max(_max_us)`` gives the recency.
    No Catalyst Expand (one copy of each input row per distinct-agg)
    and no dedup branch joined back; skew-safe for the same reason as
    ``operators.skew.two_phase_count_distinct``.

    More than one distinct input expression raises ``ValueError``.
    """
    distinct = {s.expr for s in specs if s.agg == "countDistinct"}
    if len(distinct) > 1:
        raise ValueError(f"at most one countDistinct expression: {sorted(map(str, distinct))}")
    v = _input(next(s for s in specs if s.agg == "countDistinct")) if distinct else F.lit(None)
    cutoff_us = F.unix_micros(F.col("cutoff_ts"))
    partials = [F.max(F.unix_micros(F.col("ts"))).alias("_max_us")]

    def partial(col: Column) -> Column:
        name = f"_p{len(partials)}"
        partials.append(col.alias(name))
        return F.col(name)

    def merged(spec: FeatureSpec, k: int | None, name: str) -> Column:
        # k=None: the whole superset window
        inside = F.lit(True) if k is None else (
            F.col("ts") >= F.col("cutoff_ts") - F.expr(f"INTERVAL {k} DAYS")
        )
        x = F.when(inside, _input(spec))
        if spec.agg == "count":
            # coalesce: non-nullable, like count() itself
            col = F.coalesce(F.sum(partial(F.count(x))), F.lit(0))
        elif spec.agg == "sum":
            col = F.sum(partial(F.sum(x)))
        elif spec.agg == "avg":
            col = F.try_divide(F.sum(partial(F.sum(x))), F.sum(partial(F.count(x))))
        elif spec.agg == "min":
            col = F.min(partial(F.min(x)))
        elif spec.agg == "max":
            col = F.max(partial(F.max(x)))
        elif spec.agg == "countDistinct":
            recent = F.col("_max_us") >= cutoff_us - F.lit(int(k) * 86400 * 1_000_000)
            col = F.count(F.when(F.col("_v").isNotNull() & recent, 1))
        else:
            raise ValueError(f"unknown agg {spec.agg}")
        if spec.round_to is not None:
            col = F.round(col, spec.round_to)
        if spec.fill is not None:
            col = F.coalesce(col, F.lit(spec.fill))
        return col.alias(name)

    out = [merged(s, k, f"{s.name}_{k}d") for s in specs for k in horizons_days]
    if full_window:
        out += [merged(s, None, f"{s.name}_full") for s in _FULL_WINDOW_SPECS]
    out.append(
        F.coalesce(cutoff_us - F.max("_max_us"), F.lit(-1)).alias("micros_since_last_turn")
    )
    return (
        joined.groupBy("conv_id", "cutoff_ts", v.alias("_v"))
        .agg(*partials)
        .groupBy("conv_id", "cutoff_ts")
        .agg(*out)
    )


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
    fills = {
        f"{s.name}_{k}d": s.fill for s in specs for k in horizons_days if s.fill is not None
    }
    for c, v in (("turn_cnt_full", 0), ("text_len_sum_full", 0), ("micros_since_last_turn", -1)):
        if c in features.columns:
            fills[c] = v
    return grid.join(features, ["conv_id", "cutoff_ts"], "left").fillna(fills)
