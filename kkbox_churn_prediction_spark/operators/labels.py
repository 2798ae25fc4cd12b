"""Next-event-within-horizon labeling (the churn-label rule).

Reference semantics (``src/labels.py:111-146``): an entity churns at
a cutoff iff NO qualifying event (a non-cancel renewal) occurs within
``horizon`` days *after* the cutoff; the day-``horizon`` boundary is
INCLUSIVE in the label path (renewal on day 30 → not churn,
``tests/test_labels.py:62-78``) but STRICT in the backtest variant
(``src/backtest.py:182`` ``DATE_DIFF < 30``) — so the boundary is a
parameter here.

The reference implements this as a self theta-join
(``t2.transaction_date > expire AND ...``, J4). Two Spark-first
realizations, neither a theta join:

- :func:`attach_labels`: qualifying future turns joined to the tiny
  broadcast cutoff list on the bounded range predicate, then a
  min-aggregate (:func:`first_qualifying_after`, shared with
  ``operators/survival.py``), left-joined onto any frame keyed by
  (conv_id, cutoff_ts) — ``asof.cutoff_grid`` in
  :func:`entity_labels`, the feature matrix in ``plans.folds``.
- :func:`time_to_next_qualifying_turn`: per-turn forward-looking
  window ``min(case when qualifying then ts end) over (rows between
  1 following and unbounded following)`` — pure window op, zero join
  (SURVEY J4 rewrite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import cutoff_grid


def first_qualifying_after(
    turns: DataFrame,
    cutoffs: DataFrame,
    horizon_days: int,
    qualifying: Column | str,
    *,
    inclusive: bool = True,
) -> DataFrame:
    """The forward label window, sparse: per (conv_id, cutoff_ts) with a
    qualifying turn in (cutoff, cutoff+horizon] (``inclusive``) /
    (cutoff, cutoff+horizon) (strict), the ``unix_micros`` of the first
    one as ``_next_us``; pairs with none have no row. The horizon
    bound keeps the replication O(#cutoffs), never quadratic."""
    q = F.expr(qualifying) if isinstance(qualifying, str) else qualifying
    upper = F.col("cutoff_ts") + F.expr(f"INTERVAL {int(horizon_days)} DAYS")
    in_horizon = (F.col("ts") > F.col("cutoff_ts")) & (
        F.col("ts") <= upper if inclusive else F.col("ts") < upper
    )
    return (
        turns.where(q)
        .join(F.broadcast(cutoffs), in_horizon, "inner")
        .groupBy("conv_id", "cutoff_ts")
        .agg(F.min(F.unix_micros(F.col("ts"))).alias("_next_us"))
    )


def attach_labels(
    frame: DataFrame,
    turns: DataFrame,
    cutoffs: DataFrame,
    horizon_days: int,
    qualifying: Column | str = "role = 'user'",
    *,
    inclusive: bool = True,
) -> DataFrame:
    """Append ``is_churn`` — 1 if NO qualifying turn lands in (cutoff,
    cutoff+horizon] (inclusive) / (cutoff, cutoff+horizon) (strict) —
    and ``micros_to_next_qualifying`` (-1 if none) to ``frame``, any
    frame keyed by (conv_id, cutoff_ts): one left join of the sparse
    :func:`first_qualifying_after` minimum, so ``frame`` keeps its
    rows and partitioning."""
    future = first_qualifying_after(
        turns, cutoffs, horizon_days, qualifying, inclusive=inclusive
    )
    return frame.join(future, ["conv_id", "cutoff_ts"], "left").select(
        *frame.columns,
        F.when(F.col("_next_us").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_churn"),
        F.coalesce(
            F.col("_next_us") - F.unix_micros(F.col("cutoff_ts")), F.lit(-1)
        ).alias("micros_to_next_qualifying"),
    )


def entity_labels(
    turns: DataFrame,
    cutoffs: DataFrame,
    horizon_days: int,
    qualifying: Column | str = "role = 'user'",
    *,
    inclusive: bool = True,
) -> DataFrame:
    """:func:`attach_labels` on the entity×cutoff grid."""
    grid = cutoff_grid(turns, cutoffs)
    return attach_labels(grid, turns, cutoffs, horizon_days, qualifying, inclusive=inclusive)


def time_to_next_qualifying_turn(
    turns: DataFrame, qualifying: Column | str = "role = 'user'"
) -> DataFrame:
    """Per-turn sequence labeling: micros until the next qualifying
    turn in the same conversation (-1 if none) — window-only rewrite
    of the reference's theta join (``src/labels.py:111-127``)."""
    q = F.expr(qualifying) if isinstance(qualifying, str) else qualifying
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_us = F.min(F.when(q, F.unix_micros(F.col("ts")))).over(w)
    return turns.withColumn(
        "micros_to_next_qualifying",
        F.coalesce(next_us - F.unix_micros(F.col("ts")), F.lit(-1)),
    )


def conversation_outcomes(turns: DataFrame) -> DataFrame:
    """How each conversation ENDED — the outcome labels agent-ops
    dashboards and SFT curation both key on:

    - ``last_role``:   role of the final turn (stable (ts, turn_idx)
                       order),
    - ``abandoned``:   1 when the final turn is a USER turn — the
                       user asked and nobody answered (the
                       transcript-world churn signal; reference
                       analog: the no-renewal-after-expiry label,
                       ``src/labels.py:110-140``),
    - ``refusal_final``: 1 when the final turn is an assistant turn
                       styled as a refusal (same portable literal
                       phrases as ``assemble.sft_pair_quality``),
    - ``n_turns`` / ``n_tool_calls``: volume context.

    Shape: ONE algebraic hash aggregate — ``max_by(x, (ts,
    turn_idx))`` argmax per conversation (map-side partials, no
    window sort of the turn stream; the same W2 rewrite as
    ``last_value_before_cutoff``).
    """
    from kkbox_churn_prediction_spark.operators.assemble import (
        DEFAULT_REFUSAL_PHRASES,
    )

    last_role = F.expr("max_by(role, struct(ts, turn_idx))")
    last_text = F.lower(
        F.coalesce(F.expr("max_by(text, struct(ts, turn_idx))"), F.lit(""))
    )
    refusal = F.lit(False)
    for p in DEFAULT_REFUSAL_PHRASES:
        refusal = refusal | last_text.contains(p)
    return turns.groupBy("conv_id").agg(
        last_role.alias("last_role"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_tool_calls"),
        (last_role == F.lit("user")).cast("int").alias("abandoned"),
        ((last_role == F.lit("assistant")) & refusal).cast("int").alias(
            "refusal_final"
        ),
    )
