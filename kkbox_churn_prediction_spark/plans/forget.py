"""Targeted entity deletion from a bucketed parquet layout.

A 100 TB transcript store gets deletion requests (consent revocation,
right-to-be-forgotten). Rewriting the whole table per request is a
non-starter; this utility rewrites ONLY the buckets that can contain
the target ids — the layout written by ``plans/manifest.py`` keys
buckets on ``manifest.bucket_of`` (``pmod(hash(id), n)`` over the
stored id type), so the affected bucket set comes from hashing the
(tiny) id list, cast to the layout's id type, with the SAME
expression, and every other bucket's files are untouched (their row
counts and mtimes stay valid). The affected buckets are read
together, anti-joined with the broadcast id list and staged by one
write, which also counts each bucket's rows before and after; each
bucket then recommits its new row count to the manifest, so lineage
keeps matching the data after deletions.

Rewritten buckets go through the one commit protocol
(``plans.manifest.write_partitions``): staged under ``_staging/`` and
counted in one pass, swapped in, recorded — a crash before the swap
leaves the old bucket live and readers never see the staged copy. On
an object store, swap the rename for the table format's atomic commit
(Iceberg delete-files do this natively when the runtime has the jar —
``sources/io.py``).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import literal_relation
from kkbox_churn_prediction_spark.plans.manifest import (
    bucket_of,
    observe_rows,
    open_run,
    read_backfill_output,
    write_partitions,
)


def _ids_frame(spark: SparkSession, ids: list, col: str, id_type: str) -> DataFrame:
    return literal_relation(spark, [(str(i),) for i in ids], f"{col} string").select(
        F.col(col).cast(id_type).alias(col)
    )


def buckets_for_ids(
    spark: SparkSession, ids: list, n_buckets: int, id_type: str = "string"
) -> dict[int, list]:
    """bucket → ids mapping using the writer's own
    :func:`~kkbox_churn_prediction_spark.plans.manifest.bucket_of`
    (never re-implement the hash driver-side). ``id_type`` is the
    layout's id column type: Spark's hash differs across types, so
    the ids are cast to it first."""
    df = _ids_frame(spark, ids, "id", id_type).select(
        "id", bucket_of("id", n_buckets).alias("b")
    )
    out: dict[int, list] = {}
    for r in df.collect():
        out.setdefault(int(r["b"]), []).append(r["id"])
    return out


def forget_entities(
    spark: SparkSession,
    data_dir: str,
    ids: list,
    *,
    n_buckets: int,
    run_id: str,
    id_col: str = "conv_id",
) -> dict:
    """Delete every row of the given ids from the bucketed layout,
    rewriting only affected buckets; returns
    {"buckets_rewritten": int, "rows_deleted": int}."""
    out = Path(data_dir)
    manifest, _ = open_run(out, run_id, params={"op": "forget", "n_ids": len(ids)})
    if not any(out.glob("bucket=*")):
        return {"buckets_rewritten": 0, "rows_deleted": 0}
    id_type = read_backfill_output(spark, str(out)).schema[id_col].dataType.simpleString()
    affected = [
        b
        for b in sorted(buckets_for_ids(spark, ids, n_buckets, id_type))
        if (out / f"bucket={b}").exists()
    ]
    if not affected:
        return {"buckets_rewritten": 0, "rows_deleted": 0}
    # basePath turns each dir's bucket=K into the bucket column
    cur = spark.read.option("basePath", str(out)).parquet(
        *(str(out / f"bucket={b}") for b in affected)
    )
    cur, before = observe_rows(cur, "bucket", affected)
    ids_df = _ids_frame(spark, ids, id_col, id_type)
    kept = cur.join(F.broadcast(ids_df), id_col, "left_anti")
    after = write_partitions(kept, manifest, run_id, out, "bucket", affected)
    return {
        "buckets_rewritten": len(affected),
        "rows_deleted": sum(before.get.values()) - after,
    }


def compact_buckets(
    spark: SparkSession,
    data_dir: str,
    *,
    run_id: str,
    target_files_per_bucket: int = 1,
    min_files: int = 2,
) -> dict:
    """Small-file compaction: rewrite any bucket whose parquet file
    count exceeds ``min_files`` down to ``target_files_per_bucket``
    files (coalesce — no shuffle, a pure file-merge read+write),
    committed like deletion, with the row count observed in the
    write checked against the live bucket's before the swap.
    Incremental writers (the streaming sink, repeated small
    backfills) accrete files that degrade scan planning at 100 TB;
    compaction restores the layout without touching row content.
    Returns {"buckets_compacted": int}.
    """
    out = Path(data_dir)
    manifest, _ = open_run(out, run_id, params={"op": "compact"})
    compacted = 0
    for bucket_dir in sorted(out.glob("bucket=*")):
        n_files = len(list(bucket_dir.glob("*.parquet")))
        if n_files <= max(int(min_files) - 1, int(target_files_per_bucket)):
            continue
        b = int(bucket_dir.name.split("=")[1])
        cur = spark.read.parquet(str(bucket_dir))
        merged = cur.coalesce(int(target_files_per_bucket)).withColumn("bucket", F.lit(b))
        write_partitions(merged, manifest, run_id, out, "bucket", [b], expect_rows=cur.count())
        compacted += 1
    return {"buckets_compacted": compacted}
