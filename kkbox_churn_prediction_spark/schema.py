"""Canonical schemas.

The engine's single input is a transcript table (``BASELINE.json
input_hint``): one row per conversation turn. Analog of the
reference's event tables (``sql/00_create_staging_tables.sql:20-43``,
``stg.transactions`` / ``stg.user_logs``): ``conv_id``≡``msno``,
``ts``≡event date, ``role``/``tool``≡categorical event attrs,
``length(text)``≡``total_secs`` measure.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
