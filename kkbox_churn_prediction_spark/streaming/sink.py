"""Exactly-once streaming parquet sink via foreachBatch + manifest.

Structured Streaming's foreachBatch gives at-least-once delivery:
after a crash between "sink wrote" and "checkpoint advanced", the
SAME batch id replays. Spark's own file sink handles this with its
log; this sink routes the idempotence through the SAME checkpoint
manifest and commit protocol the batch backfill uses
(``plans.manifest.write_partitions``: stage and count in one pass,
swap, record), so one audit trail covers both ingestion modes — the
lambda-architecture discipline: a replayed batch id is detected as
already-committed and skipped, a crash mid-write leaves only a hidden
staged copy that the replay replaces, and per-batch row counts land
as lineage rows next to the backfill's bucket commits.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.plans.manifest import open_run, write_partitions


def manifest_foreach_batch(out_dir: str, run_id: str):
    """Build the ``foreachBatch`` function: each micro-batch publishes
    ``batch=<id>/`` parquet and commits (run_id, batch_id, rows) to
    the manifest; an id already committed SKIPS (idempotent replay),
    an uncommitted dir is replaced (crash mid-write).

    Use::

        q = (df.writeStream
               .foreachBatch(manifest_foreach_batch(out, "ingest1"))
               .option("checkpointLocation", ckpt).start())
    """
    out = Path(out_dir)
    manifest, done = open_run(out, run_id, params={"sink": "streaming"})

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        key = str(int(batch_id))
        if key in done:
            return  # replayed batch — already committed, exactly-once
        batch = batch_df.withColumn("batch", F.lit(key))
        write_partitions(batch, manifest, run_id, out, "batch", [key])
        done.add(key)

    return fn
