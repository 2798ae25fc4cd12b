"""Remaining relational operator inventory from SURVEY §2.

Each function covers a reference operator family not already embodied
in the core pipeline: MODE (A4), ordered last-value (A5), calendar
tumbling buckets (A9), exact percentiles (A10), top-k (O2), semi
joins (J7), pivot (A13), union+dedup (U1/U3). All deterministic
under ties (explicit tiebreaks) so DuckDB oracles match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mode_per_group(
    df: DataFrame, key: str, value: str, out_name: str | None = None
) -> DataFrame:
    """A4 MODE(value) per key (reference:
    ``features/features_comprehensive.sql:83`` MODE(payment_method_id);
    registry ``features.yaml:52-58``). Built as count + row_number
    instead of ``mode()`` because engines break frequency ties
    differently; here ties break on the smallest value."""
    out = out_name or f"mode_{value}"
    counts = (
        df.where(F.col(value).isNotNull())
        .groupBy(key, value)
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    w = Window.partitionBy(key).orderBy(F.col("_cnt").desc(), F.col(value).asc())
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(key, F.col(value).alias(out), F.col("_cnt").alias(f"{out}_cnt"))
    )


def last_value_before_cutoff(
    turns: DataFrame,
    cutoffs: DataFrame,
    value: str,
    lookback_days: int | None = None,
) -> DataFrame:
    """A5 ordered last-value: latest ``value`` strictly before each
    cutoff (reference ``LAST(x ORDER BY tx_date)``,
    ``features/features_comprehensive.sql:90-91``).

    The sparse backward pick of ``asof.nearest_turn`` — one struct
    maximum by (ts, turn_idx) per (conv_id, cutoff_ts), a partial+final
    aggregate with map-side combine — projected to ``last_<value>``:
    the shuffle carries one row per group instead of every replicated
    turn, and there is NO window sort of the replicated stream.
    Deterministic because (ts, turn_idx) is a total order within a
    conversation. Pairs with no prior turn have no row.
    ``lookback_days`` optionally bounds the replication the same way
    the as-of join does — at 10^12 turns an unbounded lookback
    replicates all history per cutoff, so bound it whenever the
    consumer only needs recent state."""
    from kkbox_churn_prediction_spark.operators.asof import leak_guard, nearest_turn

    cond = leak_guard(turns["ts"], cutoffs["cutoff_ts"], lookback_days)
    latest = nearest_turn(turns, cutoffs, cond, (value,), latest=True)
    return latest.select(
        "conv_id", "cutoff_ts", F.col(f"_best._p_{value}").alias(f"last_{value}")
    )


def daily_engagement(turns: DataFrame) -> DataFrame:
    """A9 calendar tumbling bucket (reference ``DATE_TRUNC('month')``
    KPIs, ``sql/04_kpi_metrics.sql:13,55``; here day-grain since the
    testdata spans one month)."""
    return (
        turns.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.countDistinct("conv_id").alias("n_active_convs"),
            F.coalesce(F.sum(F.expr("CAST(length(text) AS BIGINT)")), F.lit(0)).alias(
                "text_len_sum"
            ),
        )
    )


def session_length_percentiles(
    session_aggs: DataFrame, *, exact: bool = False, accuracy: int = 10000
) -> DataFrame:
    """A10 percentiles (reference ``PERCENTILE_CONT(0.5) WITHIN
    GROUP``, ``sql/04_kpi_metrics.sql:44-46``): median/p90 of session
    turn counts.

    ``exact=False`` (DEFAULT — the scale path) uses
    ``approx_percentile`` (GK sketch: bounded memory, map-side
    mergeable partials), tolerance-checked against the exact path in
    tests — a bare call is safe at 10^12 sessions. ``exact=True``
    matches the reference's exactness (and the DuckDB oracle) but
    buffers every value in one aggregation buffer — an executor OOM
    at scale — so the gate/oracle requests it explicitly."""
    if exact:
        med, p90 = "percentile(n_turns, 0.5)", "percentile(n_turns, 0.9)"
    else:
        med = f"approx_percentile(n_turns, 0.5, {int(accuracy)})"
        p90 = f"approx_percentile(n_turns, 0.9, {int(accuracy)})"
    return session_aggs.agg(
        F.round(F.expr(med).cast("double"), 6).alias("median_session_turns"),
        F.round(F.expr(p90).cast("double"), 6).alias("p90_session_turns"),
        F.count(F.lit(1)).alias("n_sessions"),
    )


def topk_busiest(turns: DataFrame, k: int = 10) -> DataFrame:
    """O2 top-k (reference ``ORDER BY churn_rate DESC LIMIT 3``,
    ``sql/05_analysis_queries.sql:10-12``) — TakeOrderedAndProject;
    conv_id tiebreak keeps it deterministic."""
    return (
        turns.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .orderBy(F.col("n_turns").desc(), F.col("conv_id").asc())
        .limit(k)
    )


def semi_join_tool_users(turns: DataFrame) -> DataFrame:
    """J7 semi join (reference ``WHERE msno IN (SELECT ...)``,
    ``src/labels.py:157``): entities having at least one tool turn."""
    tool_turns = turns.where(F.col("tool").isNotNull()).select("conv_id")
    return (
        turns.select("conv_id")
        .distinct()
        .join(tool_turns, "conv_id", "left_semi")
    )


def pivot_role_counts(turns: DataFrame) -> DataFrame:
    """A13 pivot with an explicit (bounded) value list — explicit
    values keep the plan a single pass (no value-discovery job) and
    fix the output schema (reference pandas pivot_table,
    ``src/historical_features.py:155-163``)."""
    roles = ["user", "assistant", "system", "tool"]
    out = (
        turns.groupBy("conv_id")
        .pivot("role", roles)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=roles)
    )
    return out.select(
        "conv_id", *[F.col(r).cast("bigint").alias(f"n_{r}") for r in roles]
    )


def unpivot_counts(
    wide: DataFrame,
    id_col: str,
    value_cols: list[str],
    var_col: str = "role",
    value_col: str = "n",
) -> DataFrame:
    """A13⁻¹ — melt a pivoted wide frame back to long form via the
    native ``DataFrame.unpivot``: one Expand node replicating each row
    ``len(value_cols)`` times inside the same stage, ZERO exchange.
    The inverse of :func:`pivot_role_counts` without a shuffle — long
    form is what downstream per-category operators (PSI, encoders,
    mixture rates) consume, so pivot→unpivot round-trips must be
    free. Reference analog: pandas wide↔long reshapes around
    ``pivot_table`` (``src/historical_features.py:155-163``)."""
    return wide.unpivot(id_col, list(value_cols), var_col, value_col)


def union_dedup_activity(turns: DataFrame) -> DataFrame:
    """U1 UNION ALL of two event streams + U3 SELECT DISTINCT
    (reference ``src/backtest.py:127-147``): user turns ∪ tool calls,
    de-duplicated on the row key, counted per entity."""
    a = turns.where(F.col("role") == "user").select("conv_id", "turn_idx")
    b = turns.where(F.col("tool").isNotNull()).select("conv_id", "turn_idx")
    return (
        a.unionByName(b)
        .dropDuplicates(["conv_id", "turn_idx"])
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_activity"))
    )


def quintile_bucket_stats(
    df: DataFrame,
    value: str,
    id_col: str,
    n_buckets: int = 5,
    exact_decimal: str | None = "decimal(18,2)",
    method: str = "edges",
    exact_edges: bool = True,
) -> DataFrame:
    """A15 grouped error-analysis stats: cut ``value`` into
    ``n_buckets`` equal-count buckets, report per-bucket count /
    mean / min / max (reference ``src/error_analysis.py:192-243``
    ``qcut`` into 5 bins + group stats; confidence deciles
    ``:152-180``).

    ``method="edges"`` (default, the scale path): quantile EDGES
    (one percentile aggregate, reusing ``psi.quantile_edges``) + a
    when-chain bucketizer (``psi.bucketize_by_edges``) — bucket i =
    1 + #edges strictly below the value. Fully parallel: one
    partial+final aggregate to find edges, then a map-side projection
    + hash agg; NO global sort anywhere in the plan. Matches pandas
    ``qcut``'s edge semantics (values tied at an edge all land in the
    lower bucket), so bucket sizes are equal up to edge ties.
    ``exact_edges=False`` swaps the edge computation to
    ``approx_percentile`` for 10^12-row inputs where even the exact
    single-buffer percentile is an OOM.

    ``method="ntile"`` is the rank-based small-data variant (exactly
    equal counts, deterministic tie split under the (value, id) total
    order) — it plans a single-partition global sort, so it is the
    oracle/debug path, NOT the shipped default.
    """
    base = df.where(F.col(value).isNotNull())
    if method == "edges":
        from kkbox_churn_prediction_spark.operators.psi import (
            bucketize_by_edges,
            quantile_edges,
        )

        edges = [
            round(e, 6)
            for e in quantile_edges(base, value, n_buckets, exact=exact_edges)
        ]
        b = base.withColumn(
            "bucket", (bucketize_by_edges(F.col(value), edges) + F.lit(1)).cast("int")
        )
    elif method == "ntile":
        w = Window.orderBy(F.col(value).asc(), F.col(id_col).asc())
        b = base.withColumn("bucket", F.ntile(n_buckets).over(w))
    else:
        raise ValueError(f"unknown method {method!r} (edges|ntile)")
    # exact_decimal: DECIMAL-exact sum before the double divide makes
    # the per-bucket mean independent of partial-agg order
    # (cross-engine stable) — but it quantizes each value to the
    # decimal's scale first, so it is ONLY correct when the data
    # already has that scale (the driver events.value is 2-decimal
    # money). Pass None for arbitrary doubles: plain double mean,
    # stability recovered by the round(6) at the output boundary.
    if exact_decimal is not None:
        mean = F.sum(F.col(value).cast(exact_decimal)).cast("double") / F.count(
            F.lit(1)
        )
    else:
        mean = F.avg(value)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(mean, 6).alias("avg_value"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
    )


def sales_by_region(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """J3/J8 broadcast dimension-chain join: facts joined through a
    snowflake of small dims (reference: tiny city→region dimension
    joined to facts, ``sql/04_kpi_metrics.sql:61-80``; LEFT dim join
    ``features/features_comprehensive.sql:333-334``).

    nation ⋈ region collapse to ONE tiny broadcast lookup (25×5
    rows at any scale factor), attached to customer BEFORE the fact
    join so the only real shuffle is orders⋈customer on the equi key
    (both prunable to two columns). Money sums stay DECIMAL until the
    end (row-order-independent, like q1_pricing_summary).
    """
    reg = region.select("r_regionkey", "r_name")
    lookup = nation.select("n_nationkey", "n_regionkey").join(
        F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"]
    )
    dim = (
        customer.select("c_custkey", "c_nationkey")
        .join(F.broadcast(lookup), customer["c_nationkey"] == F.col("n_nationkey"))
        .select("c_custkey", "r_name")
    )
    return (
        orders.select("o_custkey", "o_totalprice")
        .join(dim, orders["o_custkey"] == dim["c_custkey"])
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


def rollup_counts(
    df: DataFrame, keys: list[str], measure_col: str
) -> DataFrame:
    """Grouping-sets family: ``ROLLUP(keys)`` counts + sums with a
    ``grouping_id`` disambiguator (detail rows = 0; each trailing key
    rolled away sets its bit; grand total = 2^len(keys)-1).

    The reference computes its subtotal hierarchies as separate
    GROUP BY queries stitched in Python (per-month KPI rollups,
    ``sql/04_kpi_metrics.sql:13-55``); ``rollup`` expresses the whole
    hierarchy in ONE pass — Catalyst plans it as a single Expand +
    hash aggregate, so the fact table is scanned once and partial
    aggregation still combines map-side. ``grouping_id()`` (not NULL
    probing) distinguishes subtotal rows from genuine NULL key values,
    which the transcript data has (``tool`` is NULL on non-tool turns).

    Scale: Expand multiplies rows by len(keys)+1 BEFORE the shuffle,
    but each replica carries only (keys, measure) — with low-cardinality
    keys the map-side combine collapses it to ~|distinct keys| rows per
    task, so the exchange stays tiny at any input size.
    """
    m = F.col(measure_col)
    out = (
        df.rollup(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(m).alias("measure_sum"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )
    return _with_empty_grand_total(df, out, keys)


def cube_counts(df: DataFrame, keys: list[str], measure_col: str) -> DataFrame:
    """``CUBE(keys)`` — every subset of the grouping keys, not just
    the rollup prefix chain (2^len(keys) grouping sets in ONE
    Expand + hash-agg pass). Same ``grouping_id`` discipline as
    :func:`rollup_counts`; same scale shape — Expand replicates each
    row 2^len(keys) times BEFORE the shuffle, but map-side combine
    collapses low-cardinality keys to ~|domain| rows per task, so
    the exchange stays tiny regardless of input size."""
    m = F.col(measure_col)
    out = df.cube(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(m).alias("measure_sum"),
        F.grouping_id().cast("bigint").alias("gid"),
    )
    return _with_empty_grand_total(df, out, keys)


def _with_empty_grand_total(df: DataFrame, out: DataFrame, keys: list[str]) -> DataFrame:
    """SQL-standard grouping-sets semantics on EMPTY input: the ()
    grouping set is a global aggregate and yields ONE grand-total
    row (count 0, NULL sums, gid 2^k - 1) even over zero rows —
    DuckDB/Postgres honor this, Spark's rollup/cube return zero rows
    (r5 empty-sweep catch). Append the row explicitly when the input
    is empty; non-empty inputs return Spark's plan untouched."""
    if df.limit(1).count() > 0:
        return out
    grand = tuple(
        [None] * len(keys) + [0, None, (1 << len(keys)) - 1]
    )
    return df.sparkSession.createDataFrame([grand], out.schema)


def set_op_entities(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """EXCEPT DISTINCT / INTERSECT DISTINCT over two entity-key sets,
    tagged in one result: ``(set_op, key)`` rows for ``left_only``
    (EXCEPT), ``both`` (INTERSECT), and ``right_only`` (reverse
    EXCEPT). The U-family (SURVEY §2.7) covered UNION; this completes
    the relational set algebra.

    Shape: NOT three native ``subtract``/``intersect`` calls — each of
    those plans its own distinct-aggregate + join (6 exchanges for the
    trio, and Catalyst's exchange reuse does not fully collapse them
    across join types). Instead, membership is ONE aggregation:
    union the two sides with (in_l, in_r) indicator columns, groupBy
    the key with ``max`` on each flag (algebraic — map-side partials
    dedupe before the shuffle), and decode the three set ops from the
    flag pair. ONE key-keyed exchange total regardless of how many of
    the three outputs are consumed; a union never shuffles."""
    tagged = left.select(
        F.col(key), F.lit(1).alias("_in_l"), F.lit(0).alias("_in_r")
    ).unionAll(right.select(F.col(key), F.lit(0), F.lit(1)))
    flags = tagged.groupBy(key).agg(
        F.max("_in_l").alias("_in_l"), F.max("_in_r").alias("_in_r")
    )
    return flags.select(
        F.when((F.col("_in_l") == 1) & (F.col("_in_r") == 1), F.lit("both"))
        .when(F.col("_in_l") == 1, F.lit("left_only"))
        .otherwise(F.lit("right_only"))
        .alias("set_op"),
        key,
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Top-k rows PER GROUP by ``order_col`` desc with a 1-based
    ``row_number`` rank — the grouped generalization of O2's global
    TakeOrderedAndProject (reference analog: per-group ``nlargest``,
    ``src/psi.py:119``). ``tiebreak_cols`` MUST complete a total
    order within each group: row_number (not dense_rank) semantics
    mean rows still tied after the tiebreaks are cut arbitrarily at
    the k boundary — and nondeterministically across runs.

    Scale: the window sort is per-GROUP (bounded by group size), not
    global — the one exchange is the group hash partition, and
    Spark's WindowGroupLimit pushes the k-limit into the sort so each
    task keeps only k rows per group rather than sorting whole
    groups' worth of output.
    """
    from pyspark.sql import Window

    order = [F.col(order_col).desc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= int(k))
    )
