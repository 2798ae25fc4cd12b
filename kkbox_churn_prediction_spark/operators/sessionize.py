"""Gap-based sessionization (north-star axis-A operator).

Split each conversation into sessions at inactivity gaps **strictly
greater than** ``gap`` (default 30 min; a gap of exactly 30:00 does
NOT split — boundary goldens in tests). The reference's closest
analog is day-granularity implicit sessionization via
``COUNT(DISTINCT log_date)`` (``features/features_comprehensive.sql:187``);
this is the generalized event-time version:

    lag(ts) over (conv_id order by ts, turn_idx)
      → new_session flag (gap > threshold)
      → running sum over the same window = session_id

Pure window composition — one shuffle on conv_id, no Python.
Mega-conversation skew: a window over (conv_id) cannot be salted
without breaking running order; AQE cannot split a window partition
either. Two mitigations at 10^12 turns: layout (repartitionByRange
on conv_id keeps one conversation per task but balances ranges — see
``operators.skew`` for the agg-side salting that *does* apply), and
:func:`sessionize_chunked` — two-phase chunk-and-stitch when even ONE
conversation exceeds a task: local sessionization within
(conv_id, time-chunk) windows, then a tiny per-chunk boundary table
computes cross-chunk merge offsets, proven equal to the
single-partition result in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_SECONDS = 30 * 60


def sessionize(turns: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS) -> DataFrame:
    """Add ``session_id`` (0-based per conversation) to each turn."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    # one use of gap_us, so one lag; a NULL gap (first turn) starts a session
    new_session = F.coalesce(
        (gap_us > F.lit(int(gap_seconds) * 1_000_000)).cast("int"), F.lit(1)
    )
    run = Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return turns.withColumn(
        "session_id", (F.sum(new_session).over(run) - F.lit(1)).cast("int")
    )


def sessionize_chunked(
    turns: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    chunk_seconds: int = 7 * 86400,
) -> DataFrame:
    """Gap sessionization for conversations too large for one task:
    identical output to :func:`sessionize`, computed over
    (conv_id, time-chunk) windows instead of whole conversations.

    Phase 1 — local: chunk = floor(epoch/chunk_seconds) (a pure
    projection — no data-dependent ranges, so no extra pass), then the
    SAME lag/running-sum composition windowed by (conv_id, chunk). A
    mega-conversation now splits into ``span/chunk_seconds`` window
    partitions, restoring parallelism and bounding per-task state.

    Phase 2 — stitch: one row per (conv_id, chunk) — min/max ts and
    local session count — is orders of magnitude smaller than turns.
    A window over conv_id ORDER BY chunk (tiny partitions: #chunks
    per conversation) decides per boundary whether the first local
    session of chunk c continues chunk c-1's last session
    (boundary gap ≤ gap_seconds) and accumulates the global offset:
    ``offset_c = Σ_{{d<c}} (k_d − merge_{{d+1}})``. Global session_id
    = offset + local_id. Offsets broadcast back onto the turn stream.

    Empty chunks simply don't exist as rows, so boundary gaps are
    computed between successive PRESENT chunks — which is exactly the
    gap the single-pass version sees.
    """
    gap_us = int(gap_seconds) * 1_000_000
    us = F.unix_micros(F.col("ts"))
    chunked = turns.withColumn(
        "_chunk", F.floor(us / F.lit(int(chunk_seconds) * 1_000_000)).cast("bigint")
    )
    w = Window.partitionBy("conv_id", "_chunk").orderBy("ts", "turn_idx")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_local = F.coalesce((gap > F.lit(gap_us)).cast("int"), F.lit(1))
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    local = chunked.withColumn(
        "_local_id", (F.sum(new_local).over(run) - F.lit(1)).cast("int")
    )

    bounds = local.groupBy("conv_id", "_chunk").agg(
        F.min(F.unix_micros(F.col("ts"))).alias("_first_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("_last_us"),
        (F.max("_local_id") + F.lit(1)).alias("_k"),
    )
    bw = Window.partitionBy("conv_id").orderBy("_chunk")
    stitched = (
        bounds.withColumn("_prev_last", F.lag("_last_us").over(bw))
        .withColumn(
            "_merge",
            F.when(
                F.col("_prev_last").isNotNull()
                & (F.col("_first_us") - F.col("_prev_last") <= F.lit(gap_us)),
                1,
            ).otherwise(0),
        )
        .withColumn(
            # offset_i = Σ_{d<i} k_d − Σ_{d≤i} merge_d : prior chunks'
            # session counts, minus one per boundary that merged
            # (including this chunk's own boundary — a merged first
            # local session REUSES the previous chunk's last id)
            "_offset",
            F.coalesce(
                F.sum("_k").over(bw.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            - F.sum("_merge").over(bw.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("conv_id", "_chunk", "_offset")
    )
    out = local.join(F.broadcast(stitched), ["conv_id", "_chunk"]).withColumn(
        "session_id", (F.col("_offset") + F.col("_local_id")).cast("int")
    )
    return out.drop("_chunk", "_local_id", "_offset")


# one window-task holding ~5M turn rows (~a few hundred MB of sort
# state) is comfortably inside executor memory; a conversation larger
# than that is exactly the mega-conversation case sessionize_chunked
# exists for
DEFAULT_MAX_CONV_ROWS = 5_000_000


def sessionize_auto(
    turns: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    *,
    max_conv_rows: int = DEFAULT_MAX_CONV_ROWS,
    chunk_seconds: int = 7 * 86400,
) -> DataFrame:
    """:func:`sessionize` with the chunked escape hatch chosen
    AUTOMATICALLY (VERDICT r2 task #7): one cheap pre-pass measures
    the largest conversation (hash agg with map-side partials — a
    per-conv count table and a 1-row max, NOT a sort), and if any
    conversation exceeds ``max_conv_rows`` the equal-output
    :func:`sessionize_chunked` runs instead of the single-window
    version whose per-task state a mega-conversation would blow.

    The pre-pass costs one extra scan + one conv-keyed aggregate
    exchange; the alternative — discovering the skew as a straggling
    or OOMing window task at 10^12 turns — costs the job. Callers
    that already KNOW their layout (e.g. a bounded-span ingest) can
    keep calling :func:`sessionize`/:func:`sessionize_chunked`
    directly; both remain public.
    """
    biggest = (
        turns.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n"))
        .first()[0]
    )
    if biggest is not None and biggest > int(max_conv_rows):
        return sessionize_chunked(turns, gap_seconds, chunk_seconds=chunk_seconds)
    return sessionize(turns, gap_seconds)


def session_aggregates(turns: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS) -> DataFrame:
    """One row per (conv_id, session_id): bounds, turn count, text
    stats, duration. Per-entity multi-stat hash agg (A1) at session
    grain.

    The per-turn inputs of the aggregate are projected before the
    window: Catalyst does not push ``length(text)`` below a ``Window``,
    so otherwise the window's exchange and sort carry ``text`` and
    ``role``."""
    narrow = turns.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.when(F.col("role") == "user", 1).otherwise(0).alias("is_user"),
        F.expr("CAST(length(text) AS BIGINT)").alias("text_len"),
    )
    s = sessionize(narrow, gap_seconds)
    return s.groupBy("conv_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
        F.coalesce(F.sum("is_user"), F.lit(0)).cast("bigint").alias("n_user_turns"),
        F.coalesce(F.sum("text_len"), F.lit(0)).alias("text_len_sum"),
        (F.max(F.unix_micros(F.col("ts"))) - F.min(F.unix_micros(F.col("ts")))).alias(
            "duration_micros"
        ),
    )


def segment_by_marker(
    turns: DataFrame,
    marker: Column,
    *,
    out_col: str = "episode_id",
) -> DataFrame:
    """Marker-based segmentation: start a new episode at every turn
    where ``marker`` is true (e.g. a ``system`` turn re-priming the
    conversation) → 0-based ``out_col`` per conversation. Turns
    before the first marker form episode 0.

    The semantic companion to gap-based :func:`sessionize` (time
    splits) — episodes split on CONTENT. Same gaps-and-islands
    shape: one cumulative window over the shared (conv_id ORDER BY
    ts, turn_idx) sort, no join, no extra exchange beyond the conv
    partition.
    """
    run = Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flag = F.when(marker, 1).otherwise(0)
    eid = F.sum(flag).over(run)
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    # default running frame: first() over it is the first row's flag
    first_flag = F.first(flag).over(w)
    # episodes are 0-based whether or not the conversation opens with
    # a marker: subtract 1 only when the very first turn is a marker
    return turns.withColumn(out_col, (eid - first_flag).cast("int"))


def session_gap_sensitivity(
    turns: DataFrame,
    gaps_seconds: tuple[int, ...] = (900, 1800, 3600),
) -> DataFrame:
    """Sessionization-parameter sensitivity: for each candidate
    inactivity threshold g, the total session count and mean turns per
    session the 30-minute default WOULD become — the axis-A analog of
    :func:`~.survival.label_rate_by_horizon` (that audits the label
    constant; this audits the session constant). A count cliff between
    adjacent thresholds means conversations cluster near that gap and
    the default needs justification, not convention.

    Sessions-per-threshold needs no re-sessionization: a session
    starts at every first turn and at every gap > g, so
    ``n_sessions(g) = n_convs + |{gaps > g}|`` — ONE lag window pass
    computes every threshold as a conditional count (no per-g scans).

    Determinism: all counts exact longs; one double division per
    mean. Shape: one conv-ordered window (the shared conv_id shuffle)
    → ONE global conditional-count agg → |gaps| rows via stack.
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gap_us = F.col("_gap_us")  # a column, so one lag serves every threshold
    flags = turns.withColumn(
        "_gap_us", F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ).select(
        F.when(gap_us.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("_first"),
        *[
            F.when(gap_us > g * 1_000_000, F.lit(1))
            .otherwise(F.lit(0))
            .alias(f"_g{g}")
            for g in gaps_seconds
        ],
    )
    one = flags.agg(
        F.count(F.lit(1)).cast("long").alias("_n_turns"),
        F.sum("_first").cast("long").alias("_n_convs"),
        *[F.sum(f"_g{g}").cast("long").alias(f"_s{g}") for g in gaps_seconds],
    )
    stack = "stack({}, {}) as (gap_seconds, n_splits)".format(
        len(gaps_seconds), ", ".join(f"{g}, _s{g}" for g in gaps_seconds)
    )
    long_df = one.selectExpr("_n_turns", "_n_convs", stack)
    n_sessions = (F.col("_n_convs") + F.col("n_splits")).cast("long")
    return long_df.select(
        F.col("gap_seconds").cast("int").alias("gap_seconds"),
        F.col("_n_turns").alias("n_turns"),
        n_sessions.alias("n_sessions"),
        F.round(
            F.col("_n_turns").cast("double") / n_sessions.cast("double"), 6
        ).alias("mean_turns_per_session"),
    )
