"""Exponential time-decay features at a cutoff (recency-weighted A2).

The reference's horizon family answers "how much activity in the last
k days" with hard window edges (``features/features_comprehensive.sql:
97-296``); production churn models usually also want the SOFT version
— every prior turn counts, discounted by age with a half-life — which
collapses the whole multi-horizon ladder into one smooth recency
signal per half-life.

Spark-first shape: the decayed sum is a plain algebraic aggregate
``SUM(0.5 ^ (age_days / half_life))`` over the hard-window features'
as-of stream (``asof.asof_join_broadcast_cutoffs``) left-joined onto
``asof.cutoff_grid``, so it gets map-side partial aggregation and adds
ZERO exchanges beyond the one (conv_id, cutoff_ts) shuffle the
backfill already pays. At 10^12 turns the lookback bound keeps the
replicated stream linear in #cutoffs, exactly like A2.

Numerics: weights are computed in double from integer microsecond
ages — deterministic per row; only the summation order varies across
partitions (absorbed by the oracle compare's 1e-6 rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import (
    asof_join_broadcast_cutoffs,
    cutoff_grid,
)

_US_PER_DAY = 86_400_000_000.0


def _tag(half_life_days: float) -> str:
    return str(int(half_life_days)) if float(half_life_days).is_integer() else str(
        half_life_days
    ).replace(".", "p")


def decayed_counts(
    turns: DataFrame,
    cutoffs: DataFrame,
    half_lives_days: tuple[float, ...] = (1.0, 7.0),
    lookback_days: int = 28,
) -> DataFrame:
    """Per (conv_id, cutoff_ts): exponentially-decayed turn count and
    tool-call count for each half-life; entities with no prior turns
    fill 0.0 via the grid left-join (J6 semantics, fill=0 because a
    decayed count of nothing IS zero, unlike the -1 missing-feature
    sentinel of the hard-window family)."""
    joined = asof_join_broadcast_cutoffs(turns, cutoffs, lookback_days)
    age_days = (
        F.unix_micros(F.col("cutoff_ts")) - F.unix_micros(F.col("ts"))
    ) / F.lit(_US_PER_DAY)
    aggs = []
    for hl in half_lives_days:
        w = F.pow(F.lit(0.5), age_days / F.lit(float(hl)))
        t = _tag(hl)
        aggs.append(F.sum(w).alias(f"decayed_turns_hl{t}d"))
        aggs.append(
            F.sum(F.when(F.col("tool").isNotNull(), w).otherwise(F.lit(0.0))).alias(
                f"decayed_tool_hl{t}d"
            )
        )
    feats = joined.groupBy("conv_id", "cutoff_ts").agg(*aggs)

    grid = cutoff_grid(turns, cutoffs)
    fill = [
        F.coalesce(F.col(c), F.lit(0.0)).alias(c)
        for c in feats.columns
        if c not in ("conv_id", "cutoff_ts")
    ]
    return grid.join(feats, ["conv_id", "cutoff_ts"], "left").select(
        "conv_id", "cutoff_ts", *fill
    )
