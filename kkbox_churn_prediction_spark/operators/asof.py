"""Point-in-time (as-of range) join — the engine's core operator (J1).

Reference semantics (``features/features_comprehensive.sql:40-50``
``tx_with_cutoff``): every event row is replicated once per qualifying
cutoff of the same entity, with the temporal leak guard
``event_date <= cutoff AND event_date > cutoff - lookback`` applied in
the join condition so no future row ever reaches an aggregate
("CRITICAL: No future data", ``features/features.sqlx:81-82``).

This engine defaults to the STRICT variant ``ts < cutoff_ts``
("using only strictly-prior turns" per the north star; the reference
itself uses ``<`` in labels, ``src/labels.py:96,105``, and ``<=`` in
features — the boundary is a parameter because the reference mixes
both, see SURVEY §7.6).

Physical strategy at 100 TB:

- The cutoff set per run is a handful of fold boundaries → broadcast
  the *cutoff list* (not the entity grid) and replicate turns via a
  broadcast nested-loop on the pure range predicate. No shuffle to
  produce the joined stream; its one big shuffle is the map-side
  partials of the two-level aggregate that follows
  (``horizons.multi_horizon_aggregate``); the regroup per (conv_id,
  cutoff_ts) and the grid joins move collapsed rows only.
- If cutoffs are per-entity (arbitrary grid), fall back to an equi
  join on conv_id with the range predicate in the join condition —
  Catalyst runs it as sort-merge; co-locate with
  ``repartitionByRange(conv_id)`` + ``sortWithinPartitions(conv_id,
  ts)`` (see ``plans.backfill``) so repeated operators reuse the
  layout. AQE skew-join splits mega-conversation partitions.

The cutoff list is collected ONCE, at the edge of a plan (the job,
``plans.folds.backtest``, ``plans.incremental``, the gate source
``sources.events.cutoffs_from_events``), and every broadcast is built
from it by :func:`collect_literal` / :func:`literal_relation`: a
deduplicated, sorted literal that Catalyst plans as a
``LocalTableScan``. A cutoff frame left lazy over the fact table is
re-scanned at every use, and one built by ``createDataFrame(list)``
is a Python-RDD scan (``Scan ExistingRDD``) that Python workers
unpickle whenever a plan reads it.

The whole as-of family shares :func:`cutoff_grid` (the entity×cutoff
grid) and :func:`nearest_turn` (the nearest-turn pick).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType, TimestampType


def leak_guard(
    ts: Column,
    cutoff: Column,
    lookback_days: int | Column | None,
    *,
    inclusive: bool = False,
) -> Column:
    """The temporal cutoff predicate P3 (the leak guard).

    ``inclusive=False`` → strictly-prior (``ts < cutoff``);
    ``inclusive=True``  → reference feature-path ``ts <= cutoff``
    (``features/features_comprehensive.sql:48``).

    ``lookback_days`` may be a **Column** carried on the cutoff side
    (per-fold lookback — the expanding-window CV policy,
    ``src/temporal_cv.py:110-150``: each fold's train window reaches
    back a different distance). A column lower bound still rides in
    the join condition, so the broadcast-cutoff plan is unchanged —
    each turn is replicated only for folds whose (per-fold) window
    contains it.
    """
    upper = ts <= cutoff if inclusive else ts < cutoff
    if lookback_days is None:
        return upper
    if isinstance(lookback_days, Column):
        lower = ts >= cutoff - F.make_dt_interval(days=lookback_days)
    else:
        lower = ts >= cutoff - F.expr(f"INTERVAL {int(lookback_days)} DAYS")
    return upper & lower


def asof_join_broadcast_cutoffs(
    turns: DataFrame,
    cutoffs: DataFrame,
    lookback_days: int | Column | None,
    *,
    inclusive: bool = False,
) -> DataFrame:
    """Replicate each turn per qualifying GLOBAL cutoff (tiny cutoff list).

    Produces the reference's ``*_with_cutoff`` stream
    (``features/features_comprehensive.sql:40-50``) without shuffling
    the fact side: broadcast nested-loop join on the range predicate.
    """
    cond = leak_guard(turns["ts"], cutoffs["cutoff_ts"], lookback_days, inclusive=inclusive)
    return turns.join(F.broadcast(cutoffs), cond, "inner")


def asof_join_entity_cutoffs(
    turns: DataFrame,
    grid: DataFrame,
    lookback_days: int | None,
    *,
    inclusive: bool = False,
) -> DataFrame:
    """Per-entity cutoff grid variant: equi join on conv_id + range
    predicate (reference per-entity variant ``src/make_dataset.py:57-67``).

    Catalyst plans sort-merge on conv_id; the range predicate rides
    along as a join condition (filtered during merge, not post-hoc).
    """
    g = grid.select(F.col("conv_id").alias("_g_conv_id"), "cutoff_ts")
    cond = (turns["conv_id"] == g["_g_conv_id"]) & leak_guard(
        turns["ts"], g["cutoff_ts"], lookback_days, inclusive=inclusive
    )
    return turns.join(g, cond, "inner").drop("_g_conv_id")


def cutoff_grid(turns: DataFrame, cutoffs: DataFrame) -> DataFrame:
    """Entity × cutoff grid — the reference's ``label_index``
    (``features/features_comprehensive.sql:12-19``): the left side
    every feature and label joins onto, so an entity with an empty
    window keeps a default row. The cutoff list is tiny, so the cross
    join broadcasts it; the grid keeps the entity side's partitioning.
    """
    return turns.select("conv_id").distinct().crossJoin(F.broadcast(cutoffs))


def _local_relation(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """``rows`` — timestamps as unix micros — deduplicated and sorted
    on the driver, as a LocalRelation with exactly ``schema``. Arrow
    carries the micros as int64 and ``timestamp_micros`` restores
    them, so the build is exact and independent of the driver's and
    the session's time zones; Catalyst folds the projection into the
    literal."""
    ts = {f.name for f in schema if isinstance(f.dataType, TimestampType)}
    build = StructType(
        [StructField(f.name, LongType(), f.nullable) if f.name in ts else f for f in schema]
    )
    rows = sorted(set(map(tuple, rows)), key=lambda r: [(v is None, v) for v in r])
    table = pa.Table.from_pylist(
        [dict(zip(build.names, r)) for r in rows], schema=to_arrow_schema(build)
    )
    return spark.createDataFrame(table, build).select(
        *[
            F.timestamp_micros(f.name).alias(f.name, metadata=f.metadata)
            if f.name in ts
            else F.col(f.name)
            for f in schema
        ]
    )


def literal_relation(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """Python ``rows`` (tuples, as ``createDataFrame`` takes them;
    naive datetimes are local time, as there) as a deduplicated,
    sorted literal relation with exactly ``schema`` — a
    ``LocalTableScan`` in every plan that reads it, not a Python-RDD
    scan."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    to_us = TimestampType().toInternal
    ts = [isinstance(f.dataType, TimestampType) for f in schema]
    return _local_relation(
        spark, [[to_us(v) if t else v for v, t in zip(r, ts)] for r in rows], schema
    )


def collect_literal(df: DataFrame) -> DataFrame:
    """Collect a small frame (a cutoff or fold list, or a count table
    keyed by its grouping columns) ONCE and return it as a
    deduplicated, sorted literal relation with ``df``'s exact schema,
    nullability included (see :func:`literal_relation`). Timestamps
    cross the driver as unix micros, so the round trip is exact to
    the microsecond in any time zone. Collecting a frame that is
    already literal runs no Spark job, so plans can re-derive lists
    from it freely."""
    ts = [isinstance(f.dataType, TimestampType) for f in df.schema]
    micros = df.select(
        *[F.unix_micros(c).alias(c) if t else F.col(c) for c, t in zip(df.columns, ts)]
    )
    return _local_relation(df.sparkSession, micros.collect(), df.schema)


def nearest_turn(
    turns: DataFrame,
    cutoffs: DataFrame,
    cond: Column,
    payload_cols: tuple[str, ...],
    *,
    latest: bool,
) -> DataFrame:
    """Sparse nearest-turn pick: per (conv_id, cutoff_ts) with a turn
    passing ``cond``, the ``_best`` struct ``(_us, _idx, _p_<col>...)``
    of the earliest such turn, or the ``latest``. ONE struct min/max by
    (ts, turn_idx) — unique within a conversation, so the payload is
    deterministic — over broadcast cutoffs (no fact shuffle), with
    map-side partials and no window sort of the replicated stream.
    """
    joined = turns.join(F.broadcast(cutoffs), cond, "inner")
    best = F.struct(
        F.unix_micros(F.col("ts")).alias("_us"),
        F.col("turn_idx").alias("_idx"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    pick = (F.max if latest else F.min)(best).alias("_best")
    return joined.groupBy("conv_id", "cutoff_ts").agg(pick)


def _nearest_on_grid(
    turns: DataFrame,
    cutoffs: DataFrame,
    cond: Column,
    payload_cols: tuple[str, ...],
    *,
    latest: bool,
) -> DataFrame:
    """:func:`nearest_turn` on the entity grid: an empty window is an
    explicit NULL row with ``found=false``."""
    nearest = nearest_turn(turns, cutoffs, cond, payload_cols, latest=latest)
    out = cutoff_grid(turns, cutoffs).join(nearest, ["conv_id", "cutoff_ts"], "left")
    best_us, cutoff_us = F.col("_best._us"), F.unix_micros(F.col("cutoff_ts"))
    if latest:
        prefix, dist = "last", (cutoff_us - best_us).alias("staleness_us")
    else:
        prefix, dist = "next", (best_us - cutoff_us).alias("gap_us")
    return out.select(
        "conv_id",
        "cutoff_ts",
        best_us.alias(f"{prefix}_ts_us"),
        dist,
        *[F.col(f"_best._p_{c}").alias(f"{prefix}_{c}") for c in payload_cols],
        F.col("_best").isNotNull().alias("found"),
    )


def asof_forward_nearest(
    turns: DataFrame,
    cutoffs: DataFrame,
    horizon_days: int,
    *,
    inclusive: bool = False,
    payload_cols: tuple[str, ...] = ("role", "tool"),
) -> DataFrame:
    """FORWARD as-of join (pandas ``merge_asof(direction='forward')``
    analog): per entity×cutoff, the EARLIEST turn strictly after the
    cutoff (``inclusive=True`` → at-or-after) within ``horizon_days``,
    with its timestamp, gap, and requested payload columns — NULLs and
    ``found=false`` when the horizon is empty. The generic operator
    behind the specialized label builders (``operators/labels.py``
    hard-codes the qualifying predicate; this returns the next event
    itself, for features like "what does the user do next" or
    time-to-next-touch).

    Determinism and shape: :func:`nearest_turn` (struct minimum by
    (ts, turn_idx)) on the entity grid; exact integer micros for the
    gap.
    """
    lo = (
        turns["ts"] >= cutoffs["cutoff_ts"]
        if inclusive
        else turns["ts"] > cutoffs["cutoff_ts"]
    )
    hi = turns["ts"] <= cutoffs["cutoff_ts"] + F.expr(
        f"INTERVAL {int(horizon_days)} DAYS"
    )
    return _nearest_on_grid(turns, cutoffs, lo & hi, payload_cols, latest=False)


def asof_backward_nearest(
    turns: DataFrame,
    cutoffs: DataFrame,
    lookback_days: int | None = None,
    *,
    inclusive: bool = False,
    payload_cols: tuple[str, ...] = ("role", "tool"),
) -> DataFrame:
    """BACKWARD as-of join (pandas ``merge_asof`` default direction):
    per entity×cutoff, the LATEST turn strictly before the cutoff
    (``inclusive=True`` → at-or-before), optionally bounded by
    ``lookback_days`` (the feature-TTL semantic: a snapshot older than
    the budget is no snapshot), with its timestamp, staleness, and
    payload columns — the whole-row form of
    ``relational.last_value_before_cutoff``, which is the same sparse
    pick projected to one column.

    Determinism and shape: :func:`nearest_turn` (struct maximum by
    (ts, turn_idx) — at a tied timestamp the higher turn_idx is the
    later turn) on the entity grid; exact integer micros for
    staleness.
    """
    cond = leak_guard(
        turns["ts"], cutoffs["cutoff_ts"], lookback_days, inclusive=inclusive
    )
    return _nearest_on_grid(turns, cutoffs, cond, payload_cols, latest=True)
