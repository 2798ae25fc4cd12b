"""Incremental feature backfill: compute only cutoffs the manifest
hasn't committed yet.

Production backfills run continuously: every week a new cutoff
becomes computable as fresh turns arrive. Recomputing the whole
entity×cutoff matrix per arrival is a full-table job; this plan keys
the checkpoint manifest by CUTOFF (ISO timestamp string) instead of
hash bucket, diffs the data-derived cutoff set against the committed
set, and runs the flagship backfill restricted to the new cutoffs —
reusing the exact same leak-safe plan, just with a smaller broadcast
cutoff list. The cutoff set is collected once into a literal relation
(``operators.asof.collect_literal``); the keys and the new-cutoff
broadcast are derived from that literal with no further Spark job,
and the broadcast is a ``LocalTableScan``. Output lands as ``data/cutoff_key=<key>/`` partitions,
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

from kkbox_churn_prediction_spark.operators.asof import collect_literal
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

    # the cutoff list is collected once, deduplicated on the driver; its
    # keys come from the same expression as the partition column
    all_cutoffs = collect_literal(cutoffs.select("cutoff_ts"))
    key = F.date_format("cutoff_ts", "yyyyMMdd'T'HHmmss")  # no colons: no URL-escaping
    keys = [r[0] for r in all_cutoffs.select(key).collect()]  # literal: no job
    new = [k for k in keys if k not in done]
    skipped = len(keys) - len(new)
    if not new:
        return {"cutoffs_run": 0, "cutoffs_skipped": skipped, "rows": 0}

    # a filter over the literal is folded into it: the broadcast stays a
    # LocalTableScan
    new_cutoffs = all_cutoffs.where(key.isin(new))
    feats = backfill_features(
        conversations, new_cutoffs, horizons_days=horizons_days
    ).withColumn("cutoff_key", key)
    # ONE job stages all new cutoffs as partitions; each is then
    # swapped in and committed on its own, so committed cutoffs' files
    # stay untouched and a crash re-runs only uncommitted cutoffs
    data = Path(out_dir) / "data"
    rows = write_partitions(feats, manifest, run_id, data, "cutoff_key", new)
    return {"cutoffs_run": len(new), "cutoffs_skipped": skipped, "rows": rows}
