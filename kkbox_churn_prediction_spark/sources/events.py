"""Transcript-table sources.

Two ways to obtain the canonical ``conversations`` transcript table
(schema: ``schema.TRANSCRIPT_SCHEMA``):

1. :func:`conversations_from_events` — a deterministic, purely
   SQL-expressible derivation from the driver-provided ``events``
   parquet. Both this Spark version and the DuckDB oracle SQL in
   ``__spark_entry__.py`` implement the SAME mapping, so driver
   correctness checks run on identical inputs.
2. ``sources.synth.generate_transcripts`` — a seeded generator for
   adversarial unit fixtures (leak traps, session gaps, skew).

At production scale the table lives in Iceberg partitioned by
``days(ts)`` + ``bucket(conv_id)``; locally we read parquet. The
Iceberg runtime jar is not in this image, so catalog reads are gated
(see ``sources.io``).

Reference parity: the mapping mirrors how the reference turns raw
CSVs into typed event streams with a defensive projection and
null-drop (``features/features_comprehensive.sql:26-38`` tx_parsed;
``src/labels.py:82-88`` null filters) — malformed rows drop silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import collect_literal

# event_type → role mapping (deterministic categorical recode, like the
# reference's inline gender CASE encode at
# features/features_comprehensive.sql:317-321).
_ROLE_CASE = {
    "signup": "system",
    "purchase": "assistant",
    "error": "tool",
    # click / view → user
}
_TOOL_EVENTS = ("purchase", "error")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def conversations_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the transcript table from ``events.parquet``.

    Mapping (must stay in lock-step with ``oracle_sql`` in
    ``__spark_entry__.py``):

    - ``conv_id``  = ``concat('c', user_id)``
    - ``turn_idx`` = ``row_number() over (partition by user_id
      order by ts, event_id) - 1`` — the reference's stable ordering
      W1 (``src/labels.py:92-97``)
    - ``role``     = CASE on event_type (signup→system,
      purchase→assistant, error→tool, else user)
    - ``text``     = ``concat(event_type, ' ', props)``
    - ``tool``     = event_type for purchase/error else NULL
    - ``ts``       = ts
    - rows with NULL user_id/ts are dropped (P2 null filter,
      ``src/labels.py:82-88``)
    """
    ev = (
        read_table(spark, sf_dir, "events")
        # parquet timestamps arrive as TIMESTAMP_NTZ in Spark 4; the
        # engine works in session-TZ (UTC) timestamps so interval
        # arithmetic / unix_micros resolve (DuckDB oracle is UTC-naive)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    role = F.col("event_type")
    role_expr = F.when(role == "signup", F.lit("system"))
    for k, v in _ROLE_CASE.items():
        if k != "signup":
            role_expr = role_expr.when(role == k, F.lit(v))
    role_expr = role_expr.otherwise(F.lit("user"))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("c"), F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("turn_idx"),
        role_expr.alias("role"),
        F.concat(F.col("event_type"), F.lit(" "), F.col("props")).alias("text"),
        F.when(F.col("event_type").isin(*_TOOL_EVENTS), F.col("event_type")).alias("tool"),
        F.col("ts"),
    )


def cutoffs_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cutoff timestamps derived from the data's own span.

    ``date_trunc('week', ts) + 7 days`` — i.e. each Monday-boundary
    *after* a week that has data, so every cutoff has strictly-prior
    turns. Analog of the reference's per-fold cutoff dates
    (``src/backtest.py:309-313``), but derived from data so the same
    query runs at any scale factor without hard-coded literals.

    The list is collected here, once (``operators.asof.collect_literal``):
    every plan that broadcasts it reads a literal instead of
    re-scanning ``events`` for it.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .where(F.col("ts").isNotNull())
    )
    return collect_literal(
        ev.select(
            (F.date_trunc("week", F.col("ts")) + F.expr("INTERVAL 7 DAYS")).alias("cutoff_ts")
        ).distinct()
    )


def read_with_schema_defaults(
    spark: SparkSession, path: str, schema: "StructType"
) -> DataFrame:
    """Read parquet against an EXPECTED schema, tolerating evolution:

    - columns missing from the files materialize as typed NULLs
      (an old partition written before the column existed),
    - present columns cast to the expected type (widened ints,
      re-typed timestamps),
    - extra columns are dropped (forward-compat: a newer writer's
      additions don't break this reader).

    The schema drives column pruning, so old-partition scans still
    read only what exists. This is the poor-man's half of Iceberg
    schema evolution for plain-parquet layouts (the Iceberg path in
    ``sources/io.py`` gets it natively when the runtime has the jar).

    ``mergeSchema`` makes mixed layouts visible (a bare read adopts
    ONE random footer's schema, silently nulling a column that newer
    partitions do have); its footer-union cost is per-file metadata,
    not data.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    present = {f.name for f in df.schema.fields}
    cols = []
    for field in schema.fields:
        if field.name in present:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
