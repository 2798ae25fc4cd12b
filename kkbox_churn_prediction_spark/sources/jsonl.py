"""Error-tolerant JSON-Lines ingest — the :mod:`sources.csv` (S1)
discipline on the other interchange format a transcript/corpus
pipeline actually receives (API exports, event hoses, scraped dumps
are JSONL far more often than CSV).

Same contract as :func:`sources.csv.read_csv_tolerant`:

- mandatory user schema (no inference pass — a 100 TB scan must be
  single-pass, and inference turns dirty columns into strings
  instead of flagging them);
- ``PERMISSIVE`` + ``columnNameOfCorruptRecord`` default: malformed
  lines (broken JSON, wrong types, truncated records) surface as
  quarantine-able rows with their raw text instead of vanishing;
- ``DROPMALFORMED`` for the reference's silent-drop semantics, with
  the same column-pruning caveat (a projection that touches no typed
  column never attempts conversion, so counts can disagree between
  projections — the PERMISSIVE split parses once and is internally
  consistent).

JSON adds one failure class CSV doesn't have: a syntactically valid
object whose FIELDS are missing. Spark parses those as nulls, not
corrupt records — schema-level null handling (P2 filters,
``feature_validation``) owns that class; this reader owns broken
lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def read_jsonl_tolerant(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    mode: str = "PERMISSIVE",
) -> tuple[DataFrame, DataFrame]:
    """Read JSON-Lines with a mandatory user schema, splitting clean
    from malformed rows. Returns ``(clean, corrupt)`` — under
    ``DROPMALFORMED`` the corrupt frame is empty by construction.
    """
    if mode == "DROPMALFORMED":
        clean = (
            spark.read.schema(schema)
            .option("mode", "DROPMALFORMED")
            .json(path)
        )
        return clean, clean.where(F.lit(False)).select(
            F.lit(None).cast("string").alias(CORRUPT_COL)
        )
    full_schema = f"{schema}, {CORRUPT_COL} string"
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        .cache()  # kept: one parse feeds both splits (Spark requires the
        # corrupt column to be materialized before filtering on it)
    )
    clean = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = raw.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return clean, corrupt
