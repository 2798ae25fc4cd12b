"""Lag/lead turn features over stable (conv_id, turn_idx) ordering.

North-star axis-A operator. Reference analogs: stable ROW_NUMBER
ordering W1 (``src/labels.py:92-97``) and month-lag churn history
(``src/historical_features.py:169-173`` — ``last_{i}_is_churn`` ≡
``lag(outcome, i)``). All JVM-side window expressions; the only
shuffle is the hash partition on conv_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def turn_order_window():
    """THE stable ordering: (conv_id, ts, turn_idx).

    turn_idx breaks ts ties deterministically — the per-turn text
    equality invariant (input_hint) is checked under this ordering.
    """
    return Window.partitionBy("conv_id").orderBy("ts", "turn_idx")


def lag_lead_features(turns: DataFrame, ks: tuple[int, ...] = (1,)) -> DataFrame:
    """Per-turn neighbors: prev/next text length (k steps), gap to
    previous turn in micros, same-role-as-previous flag."""
    w = turn_order_window()
    tl = F.expr("CAST(length(text) AS BIGINT)")
    out = turns.withColumn("text_len", tl)
    for k in ks:
        out = out.withColumn(
            f"prev_text_len_{k}", F.coalesce(F.lag("text_len", k).over(w), F.lit(-1))
        ).withColumn(
            f"next_text_len_{k}", F.coalesce(F.lead("text_len", k).over(w), F.lit(-1))
        )
    out = out.withColumn(
        "gap_micros_prev",
        F.coalesce(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 1).over(w)), F.lit(-1)
        ),
    ).withColumn("_prev", F.lag("role", 1).over(w))  # one lag(role) for both tests
    prev = F.col("_prev")
    return out.withColumn(
        "same_role_as_prev",
        F.when(prev.isNull(), F.lit(-1))
        .when(prev == F.col("role"), F.lit(1))
        .otherwise(F.lit(0)),
    ).drop("_prev")


def gap_percentiles_per_conv(
    turns: DataFrame, ps: tuple[float, ...] = (0.5, 0.9)
) -> DataFrame:
    """A10 per-GROUP exact percentiles: inter-turn gap p50/p90 per
    conversation → ``(conv_id, n_gaps, gap_p50_us, gap_p90_us)``.

    This is the scale-safe home for EXACT percentiles: the aggregation
    buffer is bounded by the group (one conversation's turns), never
    the corpus — unlike the global ``session_percentiles`` gate, whose
    scale path is the documented approx mode. The gap column rides the
    shared conv_id window sort; the percentile agg reuses the same
    partitioning (one exchange total for window + agg).
    """
    w = turn_order_window()
    gaps = turns.withColumn(
        "_gap_us", F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 1).over(w))
    ).where(F.col("_gap_us").isNotNull())
    aggs = [F.count(F.lit(1)).alias("n_gaps")]
    for p in ps:
        aggs.append(
            F.round(F.expr(f"percentile(_gap_us, {p!r})"), 6).alias(
                f"gap_p{int(round(p * 100)):02d}_us"
            )
        )
    return gaps.groupBy("conv_id").agg(*aggs)


def stable_row_number(turns: DataFrame) -> DataFrame:
    """W1: dense stable ordering check column (``rn`` should equal
    ``turn_idx`` when the producer's ordering invariant holds)."""
    return turns.withColumn(
        "rn", (F.row_number().over(turn_order_window()) - F.lit(1)).cast("int")
    )


def response_latency(turns: DataFrame) -> DataFrame:
    """Per-conversation assistant responsiveness:
    (conv_id, n_exchanges, avg_latency_us, max_latency_us).

    An exchange is a 'user' turn followed (not necessarily
    adjacently — tool turns intervene) by a later 'assistant' turn in
    the same conversation; latency is the event-time gap to the
    EARLIEST such assistant turn. Join-free: one forward window
    (min of assistant timestamps over the following rows) on the
    shared conv_id partitioning — the same shape as the J4 next-event
    rewrite in ``operators/labels.py``, so it rides the one conv_id
    shuffle every transcript operator shares.
    """
    w = turn_order_window().rowsBetween(1, Window.unboundedFollowing)
    ts_us = F.unix_micros(F.col("ts"))
    next_assistant = F.min(
        F.when(F.col("role") == "assistant", ts_us)
    ).over(w)
    lat = (
        turns.withColumn("_lat", next_assistant - ts_us)
        .where((F.col("role") == "user") & F.col("_lat").isNotNull())
    )
    # avg as INTEGER division of the exact micro sum: any float
    # formulation eventually hits a ROUND half-boundary where the two
    # engines' rounding implementations disagree in the last bit
    # (first seen at sf0.1 after both a micros/round(4) and a
    # seconds/round(6) variant passed sf0.01) — integer div of
    # integer sums is bit-identical everywhere, at every scale.
    return lat.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_exchanges"),
        F.expr("sum(_lat) div count(1)").alias("avg_latency_us"),
        F.max("_lat").alias("max_latency_us"),
    )


def role_transitions(turns: DataFrame, state_col: str = "role") -> DataFrame:
    """First-order Markov transition statistics over turn order: one
    row per observed (from_state, to_state) with count and the
    row-conditional probability P(to | from). The transcript-native
    summary of dialogue structure (who follows whom; tool-call → 
    assistant-response loops), and the denominator discipline matches
    the reference's ratio-of-sums guard (A7).

    Shape: ONE lag over the shared (conv_id, ts, turn_idx) window
    (rides the same conv_id shuffle as every per-turn feature), then a
    tiny (from,to) count agg; the conditional divides by a window sum
    over that |states|² table. Conversation boundaries emit no
    transition (lag is NULL on first turns — filtered, not fabricated).
    """
    w = turn_order_window()
    pairs = turns.select(
        F.lag(state_col).over(w).alias("from_state"),
        F.col(state_col).alias("to_state"),
    ).where(F.col("from_state").isNotNull())
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_from = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n") / F.sum("n").over(w_from)).alias("p_cond"),
    )


def conditional_entropy(turns: DataFrame, state_col: str = "role") -> DataFrame:
    """Dialogue predictability: per-state conditional entropy of the
    next turn, ``H(next | from) = −Σ p(to|from)·ln p(to|from)`` →
    ``(from_state, n_from, h_cond_nats)``. 0 = the next role is fully
    determined (e.g. tool → assistant always); ln|roles| = uniform.

    Rides :func:`role_transitions` (same single conv-ordered lag +
    |states|² count table); the entropy is one more tiny agg over
    that table. The aggregate-level companion to the per-conversation
    rhythm features (this is corpus structure, not per-entity)."""
    t = role_transitions(turns, state_col)
    return t.groupBy("from_state").agg(
        F.sum("n").cast("bigint").alias("n_from"),
        F.round(
            -F.sum(F.col("p_cond") * F.log(F.col("p_cond"))), 6
        ).alias("h_cond_nats"),
    )


def tool_latency_stats(turns: DataFrame) -> DataFrame:
    """Per-TOOL turnaround: for every turn that invoked a tool, the
    event-time gap to the NEXT turn of the conversation — the
    execution + response-time proxy agent-ops dashboards rank tools
    by. Output: ``(tool, n_calls, n_convs, avg_gap_us, max_gap_us)``.

    Same exactness discipline as :func:`response_latency`: averages
    are integer division of exact micro sums (float ROUND eventually
    disagrees across engines at a half boundary). The conv-distinct
    count is restructured Expand-free: a (tool, conv) partial rollup
    feeds the tool-level agg — mixing COUNT(DISTINCT) with plain
    aggs in one groupBy would Expand-multiply the stream (the A3
    trap).

    Shape: one lead over the shared conv-order window (rides the
    common conv_id shuffle), then two slim hash aggs.
    """
    ts_us = F.unix_micros(F.col("ts"))
    nxt = F.lead(ts_us).over(turn_order_window())
    calls = (
        turns.withColumn("_gap", nxt - ts_us)
        .where(F.col("tool").isNotNull() & F.col("_gap").isNotNull())
        .select("tool", "conv_id", "_gap")
    )
    per_tc = calls.groupBy("tool", "conv_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_gap").alias("_s"),
        F.max("_gap").alias("_m"),
    )
    return per_tc.groupBy("tool").agg(
        F.sum("_n").cast("long").alias("n_calls"),
        F.count(F.lit(1)).cast("long").alias("n_convs"),
        F.expr("sum(_s) div sum(_n)").alias("avg_gap_us"),
        F.max("_m").cast("long").alias("max_gap_us"),
    )


def tool_bigrams(turns: DataFrame, k: int = 20) -> DataFrame:
    """Workflow mining: the top-``k`` consecutive TOOL pairs across
    conversations — which tool follows which (ordering over the
    conversation's tool-invoking turns only; intervening plain turns
    don't break the chain). The sequence-level sibling of
    :func:`role_transitions` for the ``tool`` column, and the
    empirical input for "which tool chains deserve a composite
    action" decisions.

    Output: ``(from_tool, to_tool, n, p_cond)`` with the conditional
    P(to | from) over the counted pairs, top-k by count with a
    deterministic (from, to) tiebreak.

    Shape: filter to tool turns at the scan, one lead over the shared
    conv window, |tools|²-bounded count table, TakeOrdered top-k.
    """
    calls = turns.where(F.col("tool").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    pairs = (
        calls.withColumn("_next", F.lead("tool").over(w))
        .where(F.col("_next").isNotNull())
        .select(F.col("tool").alias("from_tool"), F.col("_next").alias("to_tool"))
    )
    counts = pairs.groupBy("from_tool", "to_tool").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    froms = counts.groupBy("from_tool").agg(F.sum("n").alias("_fn"))
    return (
        counts.join(froms, "from_tool")
        .select(
            "from_tool",
            "to_tool",
            "n",
            F.round(F.col("n") * 1.0 / F.col("_fn"), 6).alias("p_cond"),
        )
        .orderBy(F.desc("n"), "from_tool", "to_tool")
        .limit(int(k))
    )


def weekly_latency_sla(
    turns: DataFrame, *, sla_seconds: int = 300
) -> DataFrame:
    """Weekly first-response SLA report: per calendar week, how many
    user→assistant exchanges happened, their median and p90 latency,
    and the fraction answered within ``sla_seconds`` — the ops-review
    rollup of :func:`response_latency` (which is per-conversation;
    this is the fleet view over time). Latency = gap from a user turn
    to the EARLIEST later assistant turn, exactly as there.

    Percentiles are exact (the weekly population is the bucket — same
    A10 exactness discipline and the same documented
    ``approx_percentile`` switch at 10^12 rows); the SLA fraction is
    a conditional count ratio rounded at 6dp.

    Shape: the forward-window latency rides the shared conv_id
    shuffle; the weekly rollup is one hash agg keyed by ≤ #weeks.
    """
    w = turn_order_window().rowsBetween(1, Window.unboundedFollowing)
    ts_us = F.unix_micros(F.col("ts"))
    next_assistant = F.min(
        F.when(F.col("role") == "assistant", ts_us)
    ).over(w)
    lat = (
        turns.withColumn("_lat", next_assistant - ts_us)
        .where((F.col("role") == "user") & F.col("_lat").isNotNull())
        .select(F.date_trunc("week", F.col("ts")).alias("week"), "_lat")
    )
    within = F.sum(
        F.when(F.col("_lat") <= int(sla_seconds) * 1_000_000, 1).otherwise(0)
    )
    return lat.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_exchanges"),
        # FLOOR before the integer cast: a bare double→int CAST rounds
        # in DuckDB but truncates in Spark — interpolated .5 midpoints
        # would flip the last digit between engines
        F.expr("CAST(FLOOR(percentile(_lat, 0.5)) AS BIGINT)").alias(
            "p50_latency_us"
        ),
        F.expr("CAST(FLOOR(percentile(_lat, 0.9)) AS BIGINT)").alias(
            "p90_latency_us"
        ),
        F.round(within * 1.0 / F.count(F.lit(1)), 6).alias("sla_fraction"),
    )


def transition_backtest(
    turns: DataFrame,
    fold: Column,
    train_fold: str = "even",
) -> DataFrame:
    """Markov next-tool backtest — a full train/apply split INSIDE the
    engine: fit the first-order transition argmax P(next_tool | tool)
    on the training fold, then score top-1 accuracy on the held-out
    fold(s). The engine-native sanity model for "is tool order
    predictable at all" (its accuracy is the floor any sequence model
    must beat), and the backtest twin of :func:`tool_bigrams` (which
    reports the transition table itself).

    Output: per (eval fold, from_tool): ``predicted`` next tool,
    ``n_eval`` / ``n_correct`` exact longs, ``accuracy``. From-tools
    unseen in training predict NULL and score 0 correct — the honest
    cold-start accounting.

    Temporal hygiene: a pair counts only when BOTH turns fall in the
    same fold — pairs straddling a fold boundary are dropped, so no
    train pair's predicted event lands in an eval week (and vice
    versa); the split is temporally disjoint on the PREDICTED event,
    not just the conditioning one.

    Determinism: the argmax tie-breaks (count DESC, to_tool ASC) via
    one max_by-style struct ordering; counts exact.

    Shape: one lead over the shared conv window tags consecutive tool
    pairs with their fold; the |tools|²-bounded train table collapses
    to an argmax and BROADCASTS onto the |tools|²-bounded eval pairs.
    The corpus is touched once.
    """
    calls = turns.where(F.col("tool").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    pairs = (
        calls.select(fold.alias("_fold"), "conv_id", "ts", "turn_idx", "tool")
        .withColumn("_next", F.lead("tool").over(w))
        # both leads share the window spec → ONE Window node; pairs
        # straddling a fold boundary are dropped (temporal hygiene)
        .withColumn("_fold_next", F.lead("_fold").over(w))
        .where(
            F.col("_next").isNotNull()
            & (F.col("_fold") == F.col("_fold_next"))
        )
        .select("_fold", F.col("tool").alias("from_tool"), F.col("_next").alias("to_tool"))
    )
    # kept: the train and eval branches of the returned plan both read
    # the slim (fold, from, to) projection of the corpus window
    from pyspark import StorageLevel

    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    tr_counts = (
        pairs.where(F.col("_fold") == train_fold)
        .groupBy("from_tool", "to_tool")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    # deterministic argmax (mode_per_group discipline): count DESC,
    # to_tool ASC — the window runs on the |tools|²-bounded table
    w_rank = Window.partitionBy("from_tool").orderBy(
        F.desc("_n"), F.asc("to_tool")
    )
    train = (
        tr_counts.withColumn("_rn", F.row_number().over(w_rank))
        .where(F.col("_rn") == 1)
        .select("from_tool", F.col("to_tool").alias("predicted"))
    )
    ev = pairs.where(F.col("_fold") != train_fold)
    scored = ev.join(F.broadcast(train), "from_tool", "left")
    return (
        scored.groupBy(F.col("_fold").alias("fold"), "from_tool")
        .agg(
            F.max("predicted").alias("predicted"),
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(F.col("to_tool") == F.col("predicted"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "fold",
            "from_tool",
            "predicted",
            "n_eval",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_eval").cast("double"), 6
            ).alias("accuracy"),
        )
    )


def tool_retry_chains(conv: DataFrame) -> DataFrame:
    """Per-tool retry-chain statistics over agent transcripts:
    consecutive same-tool calls within a conversation are RETRIES
    (the canonical agent-loop failure smell — a tool that is retried
    in long runs is flaky or mis-prompted). Emits per tool:
    ``n_calls``, ``n_retries`` (calls whose previous tool call in
    the conv used the same tool), ``n_chains`` (maximal runs),
    ``max_chain_len``, and ``retry_rate``.

    Shape: ONE lag window partitioned by ``conv_id`` over tool turns
    only (the stream thins before the shuffle), a run-id via
    cumulative chain-start sum on the same window (no extra
    exchange), then two hash aggs: (conv, run) → length, tool →
    stats. All counters exact integers; the rate is one double
    division.

    Reference analog: the per-feature repeat/transition counts of
    ``features/features_comprehensive.sql`` (consecutive-event
    streaks), specialized to tool calls.
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    calls = conv.where(F.col("tool").isNotNull()).select(
        "conv_id", "ts", "turn_idx", "tool"
    )
    w_run = Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    starts = calls.select(
        "conv_id",
        "ts",
        "turn_idx",
        "tool",
        F.when(F.lag("tool").over(w) == F.col("tool"), 0)
        .otherwise(1)
        .alias("chain_start"),
    )
    runs = starts.select(
        "conv_id",
        "tool",
        F.sum("chain_start").over(w_run).cast("long").alias("run_id"),
    )
    run_lens = runs.groupBy("conv_id", "run_id", "tool").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    per_tool = run_lens.groupBy("tool").agg(
        F.count(F.lit(1)).cast("long").alias("n_chains"),
        F.max("run_len").cast("long").alias("max_chain_len"),
        F.sum("run_len").cast("long").alias("n_calls"),
    )
    return per_tool.select(
        "tool",
        "n_calls",
        (F.col("n_calls") - F.col("n_chains")).cast("long").alias("n_retries"),
        "n_chains",
        "max_chain_len",
        F.round(
            (F.col("n_calls") - F.col("n_chains")).cast("double")
            / F.col("n_calls").cast("double"),
            6,
        ).alias("retry_rate"),
    )


def out_of_order_depth(
    df: DataFrame,
    arrival: "F.Column",
    event_ts_us: "F.Column",
    tiebreak: "F.Column",
    n_buckets: int = 256,
    quantiles: tuple = (0.5, 0.95, 0.99),
    exact: bool = False,
) -> DataFrame:
    """Watermark-tuning audit: for every record, how far BEHIND the
    running event-time high-water mark it arrives — ``depth_e =
    max(event_ts among records arriving strictly before e) −
    event_ts_e`` — summarized as the late-record rate and depth
    quantiles. ``p99_late_us`` IS the watermark delay you'd configure
    on the streaming gates (``withWatermark``): anything smaller
    drops ~1% of records as too-late.

    Distributed shape (the engine's bucketed prefix machine, same
    device as the Spearman rank prefix-sums): arrivals are
    RANGE-bucketed by exact integer floor-division (``DIV``/``//`` —
    never float division, which loses integer precision past 2^53),
    the strictly-before prefix max runs per bucket (parallel
    windows), and cross-bucket carry-in is a running max over the
    ≤``n_buckets``-row maxima table — NO global window over raw
    records. One summary row out; quantiles over late depths use the
    two-path percentile discipline (``exact=True`` for oracle
    parity).
    """
    base = df.select(
        arrival.cast("long").alias("arr"),
        event_ts_us.cast("long").alias("us"),
        tiebreak.cast("long").alias("tb"),
    ).where(
        F.col("arr").isNotNull() & F.col("us").isNotNull() & F.col("tb").isNotNull()
    )
    bounds = base.agg(
        F.min("arr").cast("long").alias("mn"), F.max("arr").cast("long").alias("mx")
    )
    bucketed = base.crossJoin(F.broadcast(bounds)).select(
        "arr",
        "us",
        "tb",
        F.expr(
            f"CAST(((arr - mn) * {int(n_buckets)}) DIV (mx - mn + 1) AS BIGINT)"
        ).alias("bkt"),
    ).persist()  # kept: the returned bucket maxima and depth pass both read it
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("arr", "tb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    neg_inf = -(1 << 62)
    per_bucket = bucketed.groupBy("bkt").agg(F.max("us").cast("long").alias("bmax"))
    w_prev = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = per_bucket.select(
        "bkt",
        F.coalesce(F.max("bmax").over(w_prev), F.lit(neg_inf))
        .cast("long")
        .alias("carry_max"),
    )
    depths = (
        bucketed.withColumn(
            "wb", F.coalesce(F.max("us").over(w_in), F.lit(neg_inf)).cast("long")
        )
        .join(F.broadcast(carry), "bkt")
        .select(
            "us",
            F.greatest("wb", "carry_max").alias("prior_max"),
        )
        .select(
            F.when(
                F.col("prior_max") > F.col("us"), F.col("prior_max") - F.col("us")
            ).alias("late_us")
        )
    )
    qlit = "array(" + ", ".join(str(q) for q in quantiles) + ")"
    if exact:
        qagg = F.expr(f"percentile(late_us, {qlit})").alias("_qs")
    else:
        qagg = F.percentile_approx(
            "late_us", list(quantiles), F.lit(10_000)
        ).alias("_qs")
    out = depths.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("late_us").cast("long").alias("n_late"),
        F.coalesce(F.max("late_us"), F.lit(0)).cast("long").alias("max_late_us"),
        qagg,
    )
    cols = [
        "n_events",
        "n_late",
        F.round(
            # try_divide: empty stream -> late_rate NULL like the
            # oracle's 0/0 (r5 empty-sweep)
            F.try_divide(
                F.col("n_late").cast("double"),
                F.col("n_events").cast("double"),
            ),
            6,
        ).alias("late_rate"),
        "max_late_us",
    ]
    # quantiles are reported in SECONDS: interpolated percentiles of
    # ~1e9-µs values differ across engines in the last ulp (~1e-7 µs),
    # which round(6) at µs scale exposes; dividing by 1e6 first pushes
    # that wobble to ~1e-13 s — far below the 6dp contract. max stays
    # an exact integer in µs.
    for i, q in enumerate(quantiles):
        cols.append(
            F.round(
                F.coalesce(F.element_at("_qs", i + 1), F.lit(0.0))
                / F.lit(1_000_000.0),
                6,
            ).alias(f"p{int(round(q * 100))}_late_s")
        )
    return out.select(*cols)


def markov_stationary(
    turns: DataFrame,
    state_col: str = "role",
    *,
    n_iter: int = 40,
    grid: int = 1_000_000_000,
) -> DataFrame:
    """Stationary distribution of the first-order turn-to-turn state
    chain (where does the dialogue SPEND its time — the long-run
    role mix implied by the transition structure, as opposed to
    :func:`role_transitions`' one-step view).

    Semantics: restrict to states with >=1 outgoing transition, drop
    transitions into states outside that set, renormalize rows, then
    run ``n_iter`` power-iteration steps from the uniform vector with
    EVERY quantity held on an integer grid (probabilities and state
    mass quantized to ``grid``; products/sums are exact integers;
    re-quantization rounds half away from zero). Integer arithmetic
    makes the result bit-identical across engines and partitionings —
    the same trick as the Holt/EWMA oracles' 1e-9 grid.

    Shape: ONE lag over the conv-ordered window + a |states|² count
    agg (the bounded profile-row pattern: Bradley-Terry, PageRank
    driver replays); the iteration itself runs on the driver over
    that bounded table with arbitrary-precision Python ints. Output:
    ``(state, n_out, mass_q, pi)`` — |states| rows.
    """
    trans = role_transitions(turns, state_col).select(
        "from_state", "to_state", "n"
    )
    rows = trans.collect()  # bounded: |states|^2
    froms = sorted({r["from_state"] for r in rows})
    keep = set(froms)
    # restrict + renormalize over kept targets
    out_n: dict[str, int] = {s: 0 for s in froms}
    edges: dict[tuple[str, str], int] = {}
    for r in rows:
        if r["to_state"] in keep:
            edges[(r["from_state"], r["to_state"])] = int(r["n"])
            out_n[r["from_state"]] += int(r["n"])
    froms = [s for s in froms if out_n[s] > 0]
    keep = set(froms)
    edges = {k: v for k, v in edges.items() if k[0] in keep and k[1] in keep}

    def _q(num: int, den: int) -> int:
        return (2 * num + den) // (2 * den)  # round half away (nonneg)

    pcq = {k: _q(v * grid, out_n[k[0]]) for k, v in edges.items()}
    s = {st: _q(grid, len(froms)) for st in froms}
    for _ in range(n_iter):
        nxt = {st: 0 for st in froms}
        for (a, b), p in pcq.items():
            nxt[b] += s[a] * p
        s = {st: _q(v, grid) for st, v in nxt.items()}
    total = sum(s.values())
    spark = turns.sparkSession
    # pi on the integer grid too (half-away), so the double is the
    # exact quotient of two small ints — bit-identical cross-engine
    data = [
        (st, out_n[st], s[st], _q(s[st] * 1_000_000, total) / 1e6)
        for st in froms
    ]
    return spark.createDataFrame(
        data, "state string, n_out bigint, mass_q bigint, pi double"
    ).orderBy("state")


def tool_trigrams(turns: DataFrame, k: int = 20) -> DataFrame:
    """Workflow mining one order deeper than :func:`tool_bigrams`:
    the top-``k`` consecutive TOOL TRIPLES across conversations —
    the minimal sequential pattern that distinguishes a genuine
    pipeline (search→fetch→summarize) from two independent popular
    pairs, and the empirical check on the first-order Markov
    assumption :func:`transition_backtest` scores (a trigram whose
    count beats its bigram-chain prediction is memory the order-1
    model misses: the lift column reports exactly that ratio).

    Output: ``(t1, t2, t3, n, p_cond, lift)`` — conditional
    P(t3 | t1,t2) over counted triples, and lift vs the order-1
    chain prediction P(t3 | t2) taken from the bigram table.

    Shape: filter to tool turns at the scan, TWO leads over the ONE
    shared conv window (single Window node), |tools|³-bounded count
    table, broadcast bigram join, TakeOrdered top-k. The corpus is
    touched once.
    """
    calls = turns.where(F.col("tool").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    # BOTH leads ride ONE Window node; the trigram and the order-1
    # bigram branches read the same window exchange (AQE reuses it)
    led = (
        calls.select(
            "conv_id",
            "ts",
            "turn_idx",
            F.col("tool").alias("t1"),
            F.lead("tool", 1).over(w).alias("t2"),
            F.lead("tool", 2).over(w).alias("t3"),
        )
        .select("t1", "t2", "t3")
    )
    tri = (
        led.where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # order-1 chain reference P(t3|t2) from the SAME lead stream's
    # bigram counts (|tools|²-bounded, broadcastable)
    pairs = (
        led.where(F.col("t2").isNotNull())
        .groupBy(F.col("t1").alias("t2"), F.col("t2").alias("t3"))
        .agg(F.count(F.lit(1)).cast("long").alias("_bn"))
    )
    from_b = pairs.groupBy("t2").agg(F.sum("_bn").alias("_btot"))
    bigram_cond = pairs.join(from_b, "t2").select(
        "t2", "t3", (F.col("_bn") * 1.0 / F.col("_btot")).alias("_p1")
    )
    ctx = tri.groupBy("t1", "t2").agg(F.sum("n").alias("_cn"))
    return (
        tri.join(ctx, ["t1", "t2"])
        .join(F.broadcast(bigram_cond), ["t2", "t3"])
        .select(
            "t1",
            "t2",
            "t3",
            "n",
            F.round(F.col("n") * 1.0 / F.col("_cn"), 6).alias("p_cond"),
            F.round((F.col("n") * 1.0 / F.col("_cn")) / F.col("_p1"), 6).alias(
                "lift"
            ),
        )
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(int(k))
    )
