"""Incremental feature backfill: compute only cutoffs the manifest
hasn't committed yet.

Production backfills run continuously: every week a new cutoff
becomes computable as fresh turns arrive. Recomputing the whole
entity×cutoff matrix per arrival is a full-table job; this plan keys
the checkpoint manifest by CUTOFF (ISO timestamp string) instead of
hash bucket, diffs the data-derived cutoff set against the committed
set, and runs the flagship backfill restricted to the new cutoffs —
reusing the exact same leak-safe plan, just with a smaller broadcast
cutoff list. Output lands as ``data/cutoff_key=<key>/`` partitions,
so downstream readers partition-prune by fold. All new cutoffs are
written by ONE ``partitionBy`` job into staging, which also counts
each cutoff's rows; each partition is then swapped in and committed
(``plans.manifest.write_partitions``, the one commit protocol): a
re-run after a crash re-computes only uncommitted cutoffs, and
completed cutoffs' files are never touched, which also keeps their
manifest lineage valid.

Late-arriving turns for an ALREADY-COMMITTED cutoff do not silently
mutate it — exactly the batch leak-guard's contract (a cutoff's
features are a function of data seen before it ran). Recompute a
cutoff deliberately by clearing its manifest row / output dir.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.plans.backfill import backfill_features
from kkbox_churn_prediction_spark.plans.manifest import open_run, write_partitions


def incremental_backfill(
    spark: SparkSession,
    conversations: DataFrame,
    cutoffs: DataFrame,
    out_dir: str,
    *,
    run_id: str = "incremental",
    horizons_days: tuple[int, ...] = (1, 3, 7),
) -> dict:
    """Run the flagship backfill for every cutoff in ``cutoffs`` not
    yet committed to the manifest; returns
    {"cutoffs_run": int, "cutoffs_skipped": int, "rows": int}."""
    manifest, done = open_run(out_dir, run_id, params={"op": "incremental"})

    # the cutoff list is small, so it is deduplicated here: one job,
    # where a Spark distinct adds a shuffle and a second job
    all_cutoffs = {r["cutoff_ts"] for r in cutoffs.select("cutoff_ts").collect()}

    def key(c) -> str:  # filesystem-safe (no colons -> no URL-escaping)
        return c.strftime("%Y%m%dT%H%M%S")

    new = sorted(c for c in all_cutoffs if key(c) not in done)
    skipped = len(all_cutoffs) - len(new)
    if not new:
        return {"cutoffs_run": 0, "cutoffs_skipped": skipped, "rows": 0}

    new_cutoffs = spark.createDataFrame(
        [(c,) for c in new], "cutoff_ts timestamp"
    )
    feats = backfill_features(
        conversations, new_cutoffs, horizons_days=horizons_days
    ).withColumn(
        "cutoff_key", F.date_format("cutoff_ts", "yyyyMMdd'T'HHmmss")
    )
    # ONE job stages all new cutoffs as partitions; each is then
    # swapped in and committed on its own, so committed cutoffs' files
    # stay untouched and a crash re-runs only uncommitted cutoffs
    data = Path(out_dir) / "data"
    rows = write_partitions(
        feats, manifest, run_id, data, "cutoff_key", [key(c) for c in new]
    )
    return {"cutoffs_run": len(new), "cutoffs_skipped": skipped, "rows": rows}
