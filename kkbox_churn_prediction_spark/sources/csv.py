"""Error-tolerant CSV ingest (S1 second half).

Reference: ``read_csv_auto(path, IGNORE_ERRORS=TRUE)``
(``src/labels.py:58-68``) — malformed rows drop SILENTLY. Spark's
counterparts are the csv parser modes:

- ``DROPMALFORMED`` — the literal IGNORE_ERRORS analog (silent drop);
- ``PERMISSIVE`` + ``columnNameOfCorruptRecord`` — keeps malformed
  rows in a side column, which is what a 100 TB ingest actually
  wants: the drop COUNT (and the rows themselves) surfaced instead of
  vanishing, per SURVEY §1.2's note that the reference's silent-drop
  is a footgun.

:func:`read_csv_tolerant` defaults to the PERMISSIVE split and
returns (clean_rows, corrupt_rows). At scale, write ``corrupt`` to a
quarantine sink rather than counting on the driver — both frames are
plain DataFrames so either composes with any sink.

A malformed row here is anything the schema rejects: wrong arity or
an unparsable typed field (Spark nulls the whole row into the corrupt
column under a user-provided schema — same rows DuckDB's
IGNORE_ERRORS drops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def read_csv_tolerant(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> tuple[DataFrame, DataFrame]:
    """Read CSV with a mandatory user schema, splitting clean from
    malformed rows.

    Returns ``(clean, corrupt)``:

    - ``mode="PERMISSIVE"`` (default): ``clean`` = rows that parsed
      under the schema, ``corrupt`` = one row per malformed input line
      with its raw text — countable and quarantine-able.
    - ``mode="DROPMALFORMED"``: the reference's silent-drop semantics;
      ``corrupt`` is an empty frame (Spark never surfaces the rows).
      Caveat (why PERMISSIVE is the default): Spark's CSV column
      pruning means a query that reads NO typed columns (e.g. a bare
      ``count()``) never attempts conversion, so malformed rows are
      only dropped from queries that actually touch a column —
      row counts can disagree between projections. The PERMISSIVE
      split parses everything once and is internally consistent.

    The schema is required (no inference pass): a 100 TB scan must be
    single-pass, and inference both double-reads and turns dirty
    columns into strings instead of flagging them.
    """
    if mode not in ("PERMISSIVE", "DROPMALFORMED"):
        raise ValueError(f"mode must be PERMISSIVE|DROPMALFORMED, got {mode!r}")
    if mode == "DROPMALFORMED":
        clean = spark.read.csv(
            path, schema=schema, header=header, mode="DROPMALFORMED"
        )
        return clean, clean.limit(0).select(
            F.lit(None).cast("string").alias(CORRUPT_COL)
        )
    full_schema = f"{schema}, {CORRUPT_COL} string"
    raw = spark.read.csv(
        path,
        schema=full_schema,
        header=header,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=CORRUPT_COL,
    )
    # kept: Spark disallows filtering on ONLY the corrupt column of a
    # lazy csv relation (internal-column-only queries raise); caching
    # the parsed frame is the documented escape hatch and also makes
    # the clean/corrupt split single-scan. The caller owns the entry.
    raw = raw.cache()
    clean = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = raw.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return clean, corrupt
