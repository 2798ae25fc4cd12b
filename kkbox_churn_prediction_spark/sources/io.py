"""Sinks: parquet always; Iceberg when the runtime is on the classpath.

The reference sinks are CSV/Parquet COPY (``src/make_dataset.py:118-136``,
``features_comprehensive_processor.py:94``) plus Postgres upsert
(``sql/02_create_core_tables.sql:107-117``). The engine's production
sink is an Iceberg table (partitioned ``days(ts)`` + bucket(conv_id),
MERGE INTO for idempotent upsert); the Iceberg jars are NOT in this
image, so it is gated and falls back to partitioned parquet, which
the checkpoint manifest (``plans.manifest``) makes idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # noqa: SLF001
        return True
    except Exception:
        return False


MERGE_SQL = """
MERGE INTO {table} t
USING {source} s
  ON {on}
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""


def upsert_features(
    batch: DataFrame, path_or_table: str, key_cols: tuple[str, ...]
) -> None:
    """Keyed upsert — the reference's ``INSERT … ON CONFLICT (msno)
    DO UPDATE SET is_churn = EXCLUDED.is_churn``
    (``sql/02_create_core_tables.sql:107-117``): the incoming batch
    wins on key conflict, untouched rows survive.

    Iceberg runtime present + a catalog table name → a true
    ``MERGE INTO`` (atomic, partition-local copy-on-write). Fallback
    (this image): the SAME semantics as an explicit copy-on-write
    plan over parquet — ``old LEFT ANTI JOIN batch ON keys`` keeps
    every non-conflicting row, ``UNION ALL batch`` supplies inserts
    and updates in one stream, staged to a sibling directory and
    atomically renamed over the old snapshot (POSIX rename; object
    stores are exactly why the Iceberg path exists). Upsert-
    equivalence to a real MERGE and re-apply idempotency are proven
    in ``tests/test_upsert_sink.py`` against a DuckDB
    ``ON CONFLICT DO UPDATE`` oracle.

    Scale shape: the anti join shuffles on the key columns (or
    broadcasts a small batch); rewrite cost is the classic COW
    trade — Iceberg's MERGE localizes it to touched partitions,
    the parquet fallback rewrites the snapshot.
    """
    import os
    import shutil

    spark = batch.sparkSession
    if iceberg_available(spark) and "." in path_or_table:
        view = "_upsert_src"
        batch.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        spark.sql(MERGE_SQL.format(table=path_or_table, source=view, on=on))
        return

    if os.path.exists(path_or_table):
        old = spark.read.parquet(path_or_table)
        merged = old.join(batch, list(key_cols), "left_anti").unionByName(batch)
        staging = path_or_table.rstrip("/") + ".__staging__"
        merged.write.mode("overwrite").parquet(staging)
        backup = path_or_table.rstrip("/") + ".__old__"
        os.rename(path_or_table, backup)
        os.rename(staging, path_or_table)
        shutil.rmtree(backup)
    else:
        batch.write.mode("overwrite").parquet(path_or_table)
