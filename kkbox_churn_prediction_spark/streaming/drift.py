"""Streaming drift monitoring: windowed category distributions +
PSI against a reference window.

The batch engine computes categorical PSI across backtest folds
(``operators/psi.py::psi_categorical``); production monitoring wants
the same statistic continuously over event-time windows of the live
transcript stream. The streaming half is a plain watermarked windowed
count (append mode — each window's distribution finalizes when the
watermark passes, late turns beyond it are dropped, exactly the batch
leak-guard's streaming counterpart); the PSI half is batch
post-processing over the sink's tiny (window × category) counts
table — the lambda shape: heavy reduction in the stream, metric math
over finalized aggregates. That math is the batch drift family's own:
the counts table goes straight into ``operators.psi``'s frequency
view (``_freq_view``, windows as folds, categories as bins) and its
clipped PSI sum (``_psi``), so batch and streaming PSI cannot drift
apart.

State per window is one count per (window, category) — bounded by
category cardinality, reclaimed at watermark. No custom state, no
Python in the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.psi import _freq_view, _psi


def streaming_category_counts(
    stream: DataFrame,
    category_col: str,
    *,
    window: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """(window_start, window_end, <category>, n) in append mode —
    one finalized row per window × category once the watermark
    passes. F.window's epoch-aligned buckets are fine here: both
    sides of the drift comparison use the same alignment (no
    cross-engine oracle parity at stake, unlike A9)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(category_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            category_col,
            "n",
        )
    )


def psi_over_windows(
    counts: DataFrame,
    category_col: str,
    ref_window_start,
) -> DataFrame:
    """(window_start, psi) for every window vs the reference window,
    from a finalized (window_start, category, n) counts table — the
    frequency view and clipped PSI of ``psi_from_bins``, with windows
    as folds and categories as bins. Runs over the sink output (tiny:
    windows × categories), so the monitor can re-evaluate on every
    trigger without touching raw turns."""
    # snapshot the counts first: the frequency view self-joins three
    # branches of this plan, and a streaming memory-sink leaf fails
    # Spark's self-join attribute dedup ("conflicting references").
    # The table is windows × categories — materializing it is the
    # monitor's intended cost model anyway.
    counts = counts.localCheckpoint(eager=True)
    view = _freq_view(counts, "window_start", category_col, ref_window_start)
    return view.groupBy("window_start").agg(_psi(F.col("p"), F.col("q")))


def srm_over_windows(
    counts: DataFrame,
    expected: tuple[tuple[str, float], ...] = (("a", 0.5), ("b", 0.5)),
    threshold: float = 3.841,
    window_col: str = "window_start_us",
    arm_col: str = "arm",
) -> DataFrame:
    """Continuous sample-ratio-mismatch monitoring: per finalized
    event-time window, the observed arm allocation vs the designed
    ratios and the chi-square verdict — the streaming twin of
    ``operators.abtest.srm_check`` (an experiment whose assignment
    breaks mid-flight is caught the window it breaks, not at
    readout). Same lambda shape as the PSI monitor: the stream does
    only the watermarked windowed count; this math runs batch-side
    over the finalized tiny (window × arm) table.

    Determinism: observed counts exact; per-window chi² terms summed
    over the arm-ordered window frame (srm_check discipline).
    """
    from pyspark.sql import Window as W

    spark = counts.sparkSession
    exp_df = spark.createDataFrame(
        [(a, float(r)) for a, r in expected], "arm string, ratio double"
    )
    windows = counts.select(window_col).distinct()
    grid = windows.crossJoin(F.broadcast(exp_df))
    j = grid.join(
        counts.select(window_col, F.col(arm_col).alias("arm"), "n"),
        [window_col, "arm"],
        "left",
    ).select(
        window_col,
        "arm",
        "ratio",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("observed"),
    )
    w_tot = W.partitionBy(window_col)
    total = F.sum("observed").over(w_tot).cast("double")
    e = total * F.col("ratio")
    term = F.when(
        e > 0,
        (F.col("observed").cast("double") - e)
        * (F.col("observed").cast("double") - e)
        / e,
    ).otherwise(F.lit(0.0))
    w_ord = w_tot.orderBy("arm").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    chi2 = F.sum(term).over(w_ord)
    return j.select(
        window_col,
        "arm",
        "observed",
        F.round(e, 6).alias("expected"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(float(threshold))).alias("srm"),
    )


def streaming_hopping_counts(
    stream: DataFrame,
    *,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked HOPPING-window event counts in append mode:
    ``F.window(ts, window, slide)`` assigns every event to
    ``window/slide`` overlapping epoch-aligned windows, each
    finalized independently when the watermark passes its end — the
    smoothed-rate monitor tumbling windows can't give (a spike at a
    tumbling boundary splits across two buckets; hops see it whole).

    State per open window is one count; ``window/slide`` windows are
    open per key at any watermark position — still bounded, still
    reclaimed. Output: ``(window_start, window_end, n)`` finalized
    rows.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
        )
    )
