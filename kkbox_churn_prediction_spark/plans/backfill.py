"""End-to-end point-in-time feature backfill — the flagship plan.

Equivalent of the reference's ``make backtest`` lifecycle
(``src/backtest.py:65-82`` build_features per fold): label_index →
as-of join → windowed aggregates → wide feature matrix with COALESCE
defaults. The reference templates SQL text per fold and materializes
a pandas frame per fold; here the cutoff grid is DATA (a broadcast
DataFrame), all folds compute in ONE plan, and only the cutoff list
crosses the driver boundary: callers collect it once, at the plan's
edge, into a literal relation (``operators.asof.collect_literal``),
so every cutoff broadcast below is a ``LocalTableScan`` — no fact
scan rebuilds the list and no Python-RDD scan feeds it.

Plan shape (``.explain("formatted")``-verified):

  parquet scan (pruned: event cols only, null filters pushed)
    → broadcast nested-loop join on range predicate against the
      literal cutoff list (no fact shuffle)
    → ONE two-level hash aggregate: partials per (conv_id, cutoff_ts,
      distinct value), the one big shuffle; merged per (conv_id,
      cutoff_ts) over the collapsed rows
    → left join onto the entity×cutoff grid for default rows

At 10^12 turns: the scan is meant to be Iceberg partitioned by
days(ts), but no plan prunes partitions by the lookback yet — Spark
derives no scan filter from the range condition of a broadcast
nested-loop join, so every fact scan here is unbounded in ts. The
big shuffle is keyed by (conv_id, cutoff_ts, distinct value) — high
cardinality, no hotspots except mega-conversations, which AQE skew
handling splits (every partial is algebraic, so partial aggregation
already collapses each mapper's slice of a hot key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import (
    asof_join_broadcast_cutoffs,
    cutoff_grid,
)
from kkbox_churn_prediction_spark.operators.horizons import (
    DEFAULT_SPECS,
    FeatureSpec,
    attach_grid_defaults,
    multi_horizon_aggregate,
)
from kkbox_churn_prediction_spark.sources.events import (
    conversations_from_events,
    cutoffs_from_events,
)


def backfill_features(
    conversations: DataFrame,
    cutoffs: DataFrame,
    horizons_days: tuple[int, ...] = (1, 3, 7),
    specs: tuple[FeatureSpec, ...] = DEFAULT_SPECS,
    *,
    lookback_days=None,
    full_window: bool = False,
) -> DataFrame:
    """Compute the entity×cutoff feature matrix.

    Leak-safe by construction: every turn reaching an aggregate passed
    the strictly-prior as-of range predicate. ``cutoffs`` holds one
    row per cutoff. The superset window is max(horizons) unless
    ``lookback_days`` overrides it — pass a Column carried on
    ``cutoffs`` for PER-FOLD lookbacks (expanding CV policy, see
    ``plans.folds``), with ``full_window=True`` to also emit
    whole-window aggregates.
    Sub-horizons are conditional aggregates (single pass, see
    ``operators.horizons``).
    """
    max_h = lookback_days if lookback_days is not None else max(horizons_days)
    # project-before-replicate: the as-of join multiplies every turn by
    # its qualifying cutoffs, so each byte carried into the join is
    # amplified ~#cutoffs.
    # Reduce text to its length and role to a flag BEFORE the join —
    # at bench scale this cut allocation pressure enough to restore
    # 8→32-core scaling (strings were ~10× the replicated volume).
    narrow = conversations.select(
        "conv_id",
        "ts",
        F.expr("CAST(length(text) AS BIGINT)").alias("text_len"),
        F.expr("CASE WHEN role = 'user' THEN 1 END").alias("is_user"),
        "tool",
    )
    joined = asof_join_broadcast_cutoffs(narrow, cutoffs, lookback_days=max_h)
    feats = multi_horizon_aggregate(
        joined, horizons_days, specs, full_window=full_window
    )
    # the grid wants bare cutoff timestamps: drop fold metadata (e.g.
    # the expanding policy's lookback_days) that rides on the cutoffs
    grid = cutoff_grid(conversations, cutoffs.select("cutoff_ts"))
    return attach_grid_defaults(feats, grid, specs, horizons_days)


def backfill_from_events(
    spark: SparkSession,
    sf_dir: str,
    horizons_days: tuple[int, ...] = (1, 3, 7),
) -> DataFrame:
    """Flagship query over the driver testdata: derive transcripts from
    ``events.parquet``, weekly cutoffs, full feature matrix."""
    conv = conversations_from_events(spark, sf_dir)
    cutoffs = cutoffs_from_events(spark, sf_dir)
    return backfill_features(conv, cutoffs, horizons_days)
