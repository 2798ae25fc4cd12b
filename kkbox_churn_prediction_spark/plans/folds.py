"""Backtest fold driver (reference ``src/backtest.py:309-331`` +
``src/temporal_cv.py:94-150``).

The reference loops folds in Python, re-templating SQL text and
materializing a pandas frame per fold (``backtest.py:75-82``), then
tags each CSV with a ``window`` column (``:334-338``). Here folds are
DATA: the cutoff grid carries a fold tag, ALL folds compute in one
Catalyst plan (the as-of join replicates turns per qualifying fold
cutoff), and the fold tag partitions the output — zero driver-side
loops.

Two orthogonal expanding-vs-sliding dials, mirroring the reference's
``TemporalSplit(expanding=...)``:

- **feature lookback** (:func:`make_folds` ``policy`` /
  :func:`expanding_cutoffs`): expanding folds carry a per-fold
  ``lookback_days`` column that reaches back to the first fold's
  window start, so later folds aggregate over ALL prior history
  ("train on all prior months"); sliding folds keep a constant
  lookback. The per-fold bound rides in the as-of join condition —
  same broadcast-cutoff plan, no extra pass.
- **train/val row assignment** (:func:`assign_cv_folds`): the
  reference's actual ``TemporalSplit.split`` semantics — fold i
  validates on rows at boundary i and trains on rows of ALL earlier
  boundaries (expanding) or only boundary i-1 (sliding). Pure joins
  against the tiny broadcast fold list; expanding replicates each row
  once per later fold, exactly like the reference's index arrays.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import collect_literal, literal_relation
from kkbox_churn_prediction_spark.operators.horizons import DEFAULT_SPECS
from kkbox_churn_prediction_spark.operators.labels import attach_labels
from kkbox_churn_prediction_spark.plans.backfill import backfill_features


def make_folds(
    spark: SparkSession,
    start: datetime,
    n_folds: int,
    step_days: int = 7,
    policy: str = "sliding",
) -> DataFrame:
    """Fold grid: fold i cuts at start + i*step, with a
    ``lookback_days`` feature-window bound per fold.

    ``policy="sliding"``  → constant lookback of one step.
    ``policy="expanding"``→ fold i looks back (i+1) steps — to the
    window start of fold 0, i.e. "all prior" (``temporal_cv.py:139``).
    """
    if policy not in ("sliding", "expanding"):
        raise ValueError(f"unknown policy {policy!r} (sliding|expanding)")
    rows = [
        (
            f"fold_{i}",
            start + timedelta(days=i * step_days),
            (i + 1) * step_days if policy == "expanding" else step_days,
        )
        for i in range(n_folds)
    ]
    return literal_relation(
        spark, rows, "fold string, cutoff_ts timestamp, lookback_days int"
    )


def expanding_cutoffs(cutoffs: DataFrame, base_lookback_days: int = 7) -> DataFrame:
    """Attach the expanding per-fold lookback to a data-derived cutoff
    list: every fold reaches back to (earliest cutoff −
    base_lookback), so fold i's window covers all history the first
    fold could see — "train on all prior" (``temporal_cv.py:139``).

    The earliest cutoff is read on the driver from the cutoff list (a
    handful of fold boundaries; no Spark job when ``cutoffs`` is a
    :func:`~..operators.asof.collect_literal` relation) and enters the
    plan as a literal, so the lookback is a projection of the list —
    no single-partition window."""
    first_us = min(
        (us for (us,) in cutoffs.select(F.unix_micros("cutoff_ts")).collect() if us is not None),
        default=None,
    )
    first = F.timestamp_micros(F.lit(first_us).cast("long"))
    return cutoffs.select(
        "cutoff_ts",
        (F.datediff(F.col("cutoff_ts"), first) + F.lit(int(base_lookback_days)))
        .cast("int")
        .alias("lookback_days"),
    )


def backtest(
    turns: DataFrame,
    folds: DataFrame,
    horizons_days: tuple[int, ...] = (1, 3, 7),
    label_horizon_days: int = 3,
    lookback_policy: str = "sliding",
) -> DataFrame:
    """Features as-of each fold cutoff + next-event label AFTER it —
    the (feature-cutoff, label-window) pair of the reference's
    ``cutoff_YYYY-MM:expire_YYYY-MM`` windows (``backtest.py:8-16``).
    The labels are left-joined onto the feature matrix's own
    entity×cutoff grid (J5), so the grid is built once.

    ``lookback_policy="expanding"`` widens each fold's feature window
    back to the earliest fold's window start (per-fold
    ``lookback_days`` column in the join bound) and emits the
    ``*_full`` whole-window aggregates alongside the fixed horizons.
    """
    # the fold list is collected once; the fold and cutoff broadcasts
    # are literals built from it (the second collect runs no job)
    folds = collect_literal(folds.select("fold", "cutoff_ts"))
    cutoffs = collect_literal(folds.select("cutoff_ts"))
    if lookback_policy == "expanding":
        cuts = expanding_cutoffs(cutoffs, base_lookback_days=max(horizons_days))
        feats = backfill_features(
            turns,
            cuts,
            horizons_days,
            DEFAULT_SPECS,
            lookback_days=cuts["lookback_days"],
            full_window=True,
        )
    elif lookback_policy == "sliding":
        feats = backfill_features(turns, cutoffs, horizons_days, DEFAULT_SPECS)
    else:
        raise ValueError(f"unknown lookback_policy {lookback_policy!r}")
    out = attach_labels(feats, turns, cutoffs, label_horizon_days)
    return out.join(F.broadcast(folds), ["cutoff_ts"], "inner")


def assign_cv_folds(
    matrix: DataFrame, folds: DataFrame, policy: str = "expanding"
) -> DataFrame:
    """TemporalSplit analog (``src/temporal_cv.py:110-150``): assign
    each entity×cutoff row to (fold, split) pairs.

    Fold i (every fold except the chronologically first) validates on
    rows AT boundary i; its train set is rows at ALL earlier
    boundaries (``policy="expanding"``) or only at boundary i-1
    (``policy="sliding"``). Expanding therefore replicates a row once
    per later fold — the same multiplicity as the reference's
    per-fold index arrays, produced by one theta-join against the
    broadcast fold list instead of a Python loop.
    """
    if policy not in ("sliding", "expanding"):
        raise ValueError(f"unknown policy {policy!r} (sliding|expanding)")
    w = Window.partitionBy(F.lit(1)).orderBy("cutoff_ts")  # fold list: a few rows
    f = (
        folds.select("fold", "cutoff_ts")
        .withColumn("_prev", F.lag("cutoff_ts").over(w))
        .where(F.col("_prev").isNotNull())
    )
    val = matrix.join(
        F.broadcast(f.select("fold", "cutoff_ts")), ["cutoff_ts"], "inner"
    ).select("conv_id", "cutoff_ts", "fold", F.lit("val").alias("split"))
    fb = F.broadcast(
        f.select(
            F.col("fold").alias("_fold"),
            F.col("cutoff_ts").alias("_fold_cutoff"),
            "_prev",
        )
    )
    if policy == "expanding":
        cond = matrix["cutoff_ts"] < F.col("_fold_cutoff")
    else:
        cond = matrix["cutoff_ts"] == F.col("_prev")
    train = matrix.join(fb, cond, "inner").select(
        "conv_id",
        "cutoff_ts",
        F.col("_fold").alias("fold"),
        F.lit("train").alias("split"),
    )
    return val.unionByName(train)
