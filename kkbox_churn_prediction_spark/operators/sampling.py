"""Deterministic sampling for training-data pipelines.

Corpus builds downsample by stratum (cap a dominant web crawl, keep
all books) and need the SAME sample on every rerun — Spark's
``sample()``/``sampleBy()`` are seeded per-partition, so the kept set
changes with partitioning, retries, and cluster size. Here membership
is a pure function of the ROW (48-bit md5 of a salt + id, compared to
rate·2^20), so the sample is stable under repartitioning, resumable
backfills re-select identical rows, and the DuckDB oracle reproduces
it exactly — the same seeds-as-hashes discipline as the bootstrap
(``operators/calibration.py``).

All membership tests are JVM column expressions — no shuffle at all
for flat sampling; stratified rates ride a broadcast join when the
rate table is a DataFrame, or a when-chain literal for small dicts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.functions.text import stable_hash48
from kkbox_churn_prediction_spark.operators.asof import collect_literal

_BUCKETS = 2**20  # dyadic rate resolution: ~1e-6


def sample_hash_bucket(id_col: Column, salt: str) -> Column:
    """Uniform bucket in [0, 2^20) from (salt, id) — the membership
    coin. Changing the salt redraws the whole sample."""
    return F.pmod(
        stable_hash48(F.concat(F.lit(salt), F.lit(":"), id_col.cast("string"))),
        F.lit(_BUCKETS),
    )


def deterministic_sample(
    df: DataFrame, id_col: str, rate: float, *, salt: str = "sample"
) -> DataFrame:
    """Keep each row iff hash-bucket < rate·2^20 — exact-rate-in-
    expectation Bernoulli sampling, stable across partitioning and
    reruns. Pure filter: pushes into the scan stage, zero shuffles."""
    thr = int(round(float(rate) * _BUCKETS))
    return df.where(sample_hash_bucket(F.col(id_col), salt) < F.lit(thr))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str,
    *,
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum Bernoulli rates (e.g. cap web crawl at 10%, keep
    books at 100%). Small dicts compile to a when-chain literal —
    still a pure scan-stage filter, no join, no shuffle; strata
    missing from ``rates`` get ``default_rate``."""
    thr: Column = F.lit(int(round(float(default_rate) * _BUCKETS)))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(int(round(float(rate) * _BUCKETS)))
        ).otherwise(thr)
    return df.where(sample_hash_bucket(F.col(id_col), salt) < thr)


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str,
    weight_col: str,
    *,
    salt: str = "wsample",
) -> DataFrame:
    """k-sample WITHOUT replacement per group with inclusion
    probability proportional to ``weight_col`` — importance sampling
    of training data (e.g. favor high-quality docs) that stays
    deterministic across reruns and partitionings.

    Efraimidis-Spirakis exponential race: rank key = ln(u)/w with a
    hash-derived uniform u; the k largest keys per group are exactly
    a weight-proportional draw. The key rounds to 9 decimals with an
    id tiebreak so the (libm-computed) logarithm can never flip the
    cross-engine ordering on last-ulp differences. One shuffle on the
    group key; non-positive weights never win (key -> -inf analog).
    """
    u = (
        sample_hash_bucket(F.col(id_col), salt).cast("double") + F.lit(0.5)
    ) / F.lit(float(_BUCKETS))
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.round(F.log(u) / w, 9)).otherwise(F.lit(float("-inf")))
    win = Window.partitionBy(group_col).orderBy(
        F.desc("_wkey"), F.col(id_col)
    )
    return (
        df.withColumn("_wkey", key)
        .withColumn("_rk", F.row_number().over(win))
        .where(F.col("_rk") <= int(k))
        .drop("_wkey", "_rk")
    )


def mixture_rates(
    stratum_rows: dict[str, int],
    target_rows: int,
    *,
    temperature: float = 1.0,
) -> dict[str, float]:
    """Per-stratum Bernoulli rates realizing a temperature-scaled
    mixture: stratum share ∝ |stratum|^(1/T), scaled so the expected
    total is ``target_rows``, each rate clamped to ≤ 1 with the
    shortfall redistributed over the still-unclamped strata (a
    stratum cannot be sampled above 1.0 — upsampling is a separate
    concern). T=1 reproduces natural proportions; T→∞ equalizes
    strata — the standard multilingual/multi-source rebalancing
    curve. Driver-side arithmetic on the (tiny) per-stratum counts;
    feed the result to :func:`stratified_sample`.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    shares = {s: float(n) ** (1.0 / temperature) for s, n in stratum_rows.items()}
    rates: dict[str, float] = {}
    remaining = dict(shares)
    budget = float(target_rows)
    # iterate: clamp any stratum whose implied rate exceeds 1, take
    # its full size out of the budget, re-split the rest
    while remaining:
        z = sum(remaining.values())
        over = {
            s
            for s in remaining
            if budget * remaining[s] / z > stratum_rows[s]
        }
        if not over:
            for s in remaining:
                rates[s] = min(budget * remaining[s] / z / stratum_rows[s], 1.0)
            break
        for s in over:
            rates[s] = 1.0
            budget -= stratum_rows[s]
            del remaining[s]
        budget = max(budget, 0.0)
    return rates


def capped_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str,
    *,
    salt: str = "cap",
) -> DataFrame:
    """At most ``k`` rows per group — a deterministic uniform draw,
    not head-of-scan bias: rank by the hash bucket (id tiebreak)
    within each group and keep rank ≤ k. The standard cap for
    "no domain dominates the corpus".

    One shuffle on the group key; the per-group sort is bounded by
    group size — for pathological mega-groups, pre-thin with
    :func:`deterministic_sample` at ~k/|group| first (the hash
    membership composes: the cap's draw is uniform over the
    survivors)."""
    w = Window.partitionBy(group_col).orderBy(
        sample_hash_bucket(F.col(id_col), salt), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= int(k))
        .drop("_rk")
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_budget: int,
) -> DataFrame:
    """Neyman (optimal) stratified-sample allocation: budget each
    stratum ∝ N_h·σ_h (size × within-stratum std of the target
    variable) → ``(stratum, n_rows, stddev, alloc)`` with
    ``Σ alloc ≤ total_budget`` and every allocation capped at the
    stratum's population.

    The budgeting step BEFORE :func:`stratified_sample`: with a fixed
    labeling/inspection budget, high-variance strata deserve more
    samples than proportional allocation gives them.

    Shape: one (stratum) agg computes N_h and σ_h (algebraic
    co-moments, map-side partials); the normalization constant is a
    one-row broadcast; allocation is pure arithmetic (floor), so the
    output is stratum-table sized. Single-stratum-value or zero-σ
    strata fall back to proportional weight N_h.
    """
    stats = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.stddev_samp(F.col(value_col).cast("double")), F.lit(0.0)).alias(
            "stddev"
        ),
    )
    weight = F.col("n_rows") * F.when(
        F.col("stddev") > 0, F.col("stddev")
    ).otherwise(F.lit(1.0))
    weighted = stats.withColumn("_w", weight)
    total_w = weighted.agg(F.sum("_w").alias("_tw"))
    return (
        weighted.crossJoin(F.broadcast(total_w))
        .select(
            stratum_col,
            "n_rows",
            F.round("stddev", 6).alias("stddev"),
            F.least(
                F.floor(F.lit(int(total_budget)) * F.col("_w") / F.col("_tw")),
                F.col("n_rows"),
            )
            .cast("long")
            .alias("alloc"),
        )
    )


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    *,
    source_col: str = "source",
    quality_col: str = "quality_score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy quality-first corpus selection to a per-source TOKEN
    budget: within each source take documents in (quality DESC, id)
    order until the running token count reaches ``budget_tokens``;
    the boundary-crossing document is included (its predecessor mass
    is still under budget). This is the token-denominated sibling of
    :func:`neyman_allocation`'s row budgeting — LLM corpus quotas are
    set in tokens, not rows, and "fill each source's quota with its
    best documents" is the standard mixture-build step after quality
    scoring (reference analog: the churn pipeline caps row counts per
    split in ``src/make_dataset.py``; tokens are the transcript-world
    denomination).

    Output: selected ``(source, id, quality, n_tokens, cum_tokens)``
    rows; deterministic under ties via the id tiebreak.

    Shape: ONE shuffle on ``source_col``; the within-source running
    sum is a window over (quality DESC, id) — bounded by source size,
    and sources are few and fat, so this is the exact/oracle path.
    At 10^9 docs/source use :func:`token_budget_threshold` (quantile
    edges, no within-source sort) and reserve this form for the
    boundary bucket it isolates.
    """
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col(quality_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(tokens_col).cast("long")).over(w)
    return (
        df.select(source_col, id_col, quality_col, tokens_col)
        .withColumn("cum_tokens", cum)
        .where(F.col("cum_tokens") - F.col(tokens_col) < F.lit(int(budget_tokens)))
    )


def token_budget_threshold(
    df: DataFrame,
    budget_tokens: int,
    *,
    source_col: str = "source",
    quality_col: str = "quality_score",
    tokens_col: str = "n_tokens",
    n_buckets: int = 32,
) -> DataFrame:
    """Scale path for :func:`token_budget_select`: pick a per-source
    quality THRESHOLD instead of sorting every document — keep all
    docs with quality ≥ the lowest bucket edge at which the
    top-of-distribution token mass first covers the budget. Overshoot
    is bounded by one bucket's token mass (tighten with
    ``n_buckets``); selection is quality-downward-closed by
    construction (every kept doc outranks every dropped doc up to
    bucket granularity).

    Shape: NO within-source sort. One grouped ``approx_percentile``
    agg finds the edges (GK sketch, map-side partials), one
    (source × bucket) agg sums token mass — its output is
    sources × ``n_buckets`` rows, collected driver-side like the PSI
    edge list (tiny by construction) — then the only full-data pass
    is a when-chain filter (pure JVM predicate, pushes past the
    scan). This survives 10^9-doc sources where the exact window's
    per-source sort would not.
    """
    frac = [i / n_buckets for i in range(1, n_buckets)]
    edges_rows = (
        df.groupBy(source_col)
        .agg(
            F.expr(
                f"approx_percentile({quality_col}, array({','.join(map(str, frac))}), 10000)"
            ).alias("_edges")
        )
        .collect()
    )
    edges = {r[source_col]: sorted(set(r["_edges"] or [])) for r in edges_rows}

    def bucket_of(src: str) -> Column:
        expr = F.lit(0)
        for i, e in enumerate(edges.get(src, [])):
            expr = F.when(F.col(quality_col) > F.lit(e), i + 1).otherwise(expr)
        return expr

    src_bucket = F.lit(None).cast("int")
    for src in edges:
        src_bucket = F.when(F.col(source_col) == src, bucket_of(src)).otherwise(
            src_bucket
        )
    mass = (
        df.withColumn("_b", src_bucket)
        .groupBy(source_col, "_b")
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("_tok"))
        .collect()
    )
    per_src: dict[str, dict[int, int]] = {}
    for r in mass:
        per_src.setdefault(r[source_col], {})[r["_b"]] = r["_tok"]
    thresholds: dict[str, float] = {}
    for src, buckets in per_src.items():
        cum = 0
        cut = None
        for b in sorted(buckets, reverse=True):
            cum += buckets[b]
            cut = b
            if cum >= budget_tokens:
                break
        es = edges.get(src, [])
        # keep bucket `cut` and above: quality > edge below bucket `cut`
        thresholds[src] = es[cut - 1] if cut and cut >= 1 and es else float("-inf")

    keep = F.lit(False)
    for src, thr in thresholds.items():
        cond = (F.col(source_col) == src) & (
            F.lit(True) if thr == float("-inf") else (F.col(quality_col) > F.lit(thr))
        )
        keep = keep | cond
    return df.where(keep)


def distribution_match_sample(
    df: DataFrame,
    value_col: str,
    target: list[float],
    *,
    width: float,
    id_col: str = "doc_id",
    salt: str = "match",
) -> DataFrame:
    """Importance-resample the corpus so ``value_col``'s distribution
    matches a TARGET histogram (DoReMi-style distribution matching:
    make web text's length/quality profile look like the reference
    domain's before mixing). Rows land in ``len(target)`` fixed-width
    bins; per-bin keep rates are ``c·target_b/source_b`` with ``c``
    chosen so the scarcest bin (relative to its target mass) keeps
    everything — the largest sample whose expectation matches the
    target shape. Membership is the same hash coin as
    :func:`deterministic_sample` (partition/rerun-stable, oracle-
    reproducible); zero-target bins drop entirely.

    Shape: ONE count agg (≤ #bins rows, collected driver-side like
    the PSI edge list) fixes the rates; the only full-data pass is a
    scan-stage when-chain filter — no shuffle of the corpus at any
    scale. Rates are computed with the exact expression shapes the
    DuckDB oracle uses (same division order), so thresholds agree
    bit-for-bit.
    """
    import math

    nbins = len(target)
    bin_col = F.greatest(
        F.least(
            F.floor(F.col(value_col) / float(width)), F.lit(nbins - 1)
        ),
        F.lit(0),
    ).cast("int")
    binned = df.withColumn("bin", bin_col)
    counts = {
        r["bin"]: r["n"]
        for r in binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = float(sum(counts.values()))
    if total == 0:
        # empty corpus: nothing to match — zero rows out (the
        # oracle's empty-join answer; r5 empty-sweep crash fix)
        return binned.where(F.lit(False))
    z = sum(target)
    t = [x / z for x in target]
    c = min(
        (counts[b] * 1.0 / total) / t[b] for b in counts if t[b] > 0
    )
    chain = F.lit(0)
    for b in sorted(counts):
        rate = 0.0 if t[b] <= 0 else c * t[b] / (counts[b] * 1.0 / total)
        chain = F.when(F.col("bin") == b, int(math.floor(rate * _BUCKETS))).otherwise(
            chain
        )
    return binned.where(sample_hash_bucket(F.col(id_col), salt) < chain)


def cluster_safe_split(
    assignments: DataFrame,
    *,
    val_rate: float,
    cluster_col: str = "canonical_id",
    salt: str = "split",
) -> DataFrame:
    """Duplicate-aware train/val split: the hash coin flips on the
    CLUSTER id, not the document id, so every member of a duplicate /
    near-duplicate cluster lands on the same side — eval contamination
    through duplicated text is impossible BY CONSTRUCTION, not by
    post-hoc decontamination. ``assignments`` is any
    ``(…, cluster_col)`` frame — ``dedup.exact_dedup``'s canonical
    ids or the transitive ``components`` labels both fit. The same
    deterministic coin as the samplers: the split is stable across
    reruns, partitioning, and cluster sizes.

    Shape: a pure projection — zero shuffle beyond whatever produced
    the assignments; at any scale the split itself is scan-stage.
    """
    thr = int(round(float(val_rate) * _BUCKETS))
    return assignments.withColumn(
        "split",
        F.when(
            sample_hash_bucket(F.col(cluster_col), salt) < F.lit(thr), "val"
        ).otherwise("train"),
    )


def curriculum_order(
    docs: DataFrame,
    score: Column,
    n_stages: int = 4,
    id_col: str = "doc_id",
    salt: str = "cur",
    exact: bool = False,
) -> DataFrame:
    """Curriculum ordering for training-data assembly: bucket
    documents into difficulty STAGES by score quantiles (stage 1 =
    lowest score = easiest), then define a deterministic
    within-stage shuffle so each stage streams in hash order — the
    standard easy→hard schedule with de-clumped sources.

    Scale-first formulation: the curriculum position is a single
    SORT KEY ``stage·2^48 + stable_hash48(salt ∥ id)`` — writers
    ``sortWithinPartitions``/range-partition by it (the
    ``zorder_keys`` pattern); NO global row-number window exists
    anywhere, so the operator never funnels the corpus through one
    partition. Stage edges come from ONE percentile aggregate
    (quantile sketch by default; ``exact=True`` for oracle parity —
    the engine's two-path percentile discipline) broadcast against
    the stream.
    """
    qs = [i / n_stages for i in range(1, n_stages)]
    qlit = "array(" + ", ".join(str(q) for q in qs) + ")"
    scored = docs.select(F.col(id_col), score.alias("_score"))
    if exact:
        edges = scored.agg(F.expr(f"percentile(_score, {qlit})").alias("_edges"))
    else:
        edges = scored.agg(
            F.percentile_approx("_score", qs, F.lit(10_000)).alias("_edges")
        )
    tagged = scored.crossJoin(F.broadcast(edges))
    stage = F.lit(1)
    for i in range(len(qs)):
        stage = stage + F.when(
            F.col("_score").cast("double") > F.element_at("_edges", i + 1), 1
        ).otherwise(0)
    h = stable_hash48(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return tagged.select(
        id_col,
        F.col("_score").cast("long").alias("score"),
        stage.cast("int").alias("stage"),
        (stage.cast("long") * F.lit(1 << 48) + h).cast("long").alias("sort_key"),
    )


def epoch_budget_plan(
    docs: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    budget_multiple: float = 4.0,
    decay: float = 0.71,
    max_epochs: float = 16.0,
) -> DataFrame:
    """Data-constrained training-budget allocation (the
    Muennighoff et al. 2023 "scaling data-constrained LMs" planning
    readout): given a token budget of ``budget_multiple ×`` the
    corpus, split it EVENLY across sources and report, per source,
    how many epochs that buys and the diminishing-returns effective
    token value ``unique · (1 − decay^epochs) / (1 − decay)``
    (geometric per-epoch value decay — repeated data is worth less
    each epoch; ``decay`` ≈ the paper's ~4-epoch half-life).

    Small sources get many epochs (capped at ``max_epochs``) and poor
    marginal utilization; large sources stay under-epoched — exactly
    the tension a mixture designer rebalances (see
    ``match_token_distribution`` for the DoReMi-style reweighting).

    Scale shape: ONE hash agg over the corpus (per-source token
    sums); every budget column is per-row double algebra on the
    ≤ |sources| table with a 1-row broadcast of the corpus totals.

    Output per source: ``(source, n_docs, unique_tokens,
    alloc_tokens, epochs, effective_tokens, utilization)``.
    """
    from kkbox_churn_prediction_spark.functions.text import tokens

    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("unique_tokens"),
    )
    totals = per.agg(
        F.sum("unique_tokens").cast("long").alias("_total"),
        F.count(F.lit(1)).cast("long").alias("_k"),
    )
    alloc = (
        F.lit(float(budget_multiple))
        * F.col("_total").cast("double")
        / F.col("_k").cast("double")
    )
    epochs = F.least(
        F.lit(float(max_epochs)),
        alloc / F.col("unique_tokens").cast("double"),
    )
    d = F.lit(float(decay))
    effective = (
        F.col("unique_tokens").cast("double")
        * (F.lit(1.0) - F.pow(d, epochs))
        / (F.lit(1.0) - d)
    )
    return per.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "unique_tokens",
        F.round(alloc, 6).alias("alloc_tokens"),
        F.round(epochs, 6).alias("epochs"),
        F.round(effective, 6).alias("effective_tokens"),
        F.round(effective / alloc, 6).alias("utilization"),
    )


def balance_weights(
    df: DataFrame, group_col: str = "source", weight_col: str = "weight"
) -> DataFrame:
    """Inverse-frequency balancing weights ``w_i = N / (K · n_g(i))``
    (each of the K groups gets equal total weight; weights average to
    1 over the corpus) — the standard source-rebalancing weighting
    before loss-weighted training or weighted sampling when the
    group mix is skewed.

    Shape: group sizes are one map-side-combined agg (K rows) joined
    back via broadcast; the corpus never shuffles.
    """
    # sizes feeds both the broadcast join and the (N, K) totals — a
    # K-row literal, so the corpus group-count runs once
    sizes = collect_literal(df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_ng")))
    tot = sizes.agg(
        F.sum("_ng").alias("_n"), F.count(F.lit(1)).alias("_k")
    )
    return (
        df.join(F.broadcast(sizes), group_col)
        .crossJoin(F.broadcast(tot))
        .withColumn(
            weight_col,
            F.col("_n").cast("double")
            / (F.col("_k") * F.col("_ng")).cast("double"),
        )
        .drop("_ng", "_n", "_k")
    )


def weight_diagnostics(
    df: DataFrame, weight_col: str = "weight"
) -> DataFrame:
    """Importance/sampling-weight health in ONE row — the check every
    weighted estimator (DSIR, IPW, distribution matching, balancing)
    needs before its weights are trusted: Kish effective sample size
    ``ESS = (Σw)²/Σw²``, its fraction of n (1.0 = unweighted; a small
    fraction means a few rows dominate), the largest single weight's
    share of the total, and the coefficient of variation of the
    weights (``ESS/n = 1/(1+cv²)`` — the two are consistency-checked
    by construction).

    Shape: one partial+final agg over the weight column (four
    algebraic moments), nothing else — scale-free.
    """
    w = F.col(weight_col).cast("double")
    one = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(w).alias("_sw"),
        F.sum(w * w).alias("_sww"),
        F.max(w).alias("_mw"),
    )
    ess = F.col("_sw") * F.col("_sw") / F.col("_sww")
    cv2 = (
        F.col("n_rows").cast("double")
        * F.col("_sww")
        / (F.col("_sw") * F.col("_sw"))
        - 1
    )
    return one.select(
        "n_rows",
        F.round("_sw", 6).alias("sum_w"),
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n_rows"), 6).alias("ess_frac"),
        F.round(F.col("_mw") / F.col("_sw"), 6).alias("max_w_share"),
        F.round(
            F.sqrt(F.when(cv2 > 0, cv2).otherwise(F.lit(0.0))), 6
        ).alias("cv_w"),
    )


def mixture_temperature_weights(
    df: DataFrame,
    source_col: str = "source",
    *,
    alpha: float = 0.3,
    count_col: str | None = None,
) -> DataFrame:
    """Temperature-scaled data-mixture sampling weights — the
    multilingual/multi-source scheme (mT5/XLM-R style): raw source
    share ``p_s`` is exponentiated to ``p_s^alpha`` and renormalized,
    so low-resource sources are up-sampled smoothly (alpha=1 keeps
    natural proportions, alpha→0 approaches uniform). Emits per
    source the natural share, the temperature-scaled sampling share,
    the up/down-sampling multiplier ``q_s/p_s`` (the EPOCH count a
    sampler will effectively make over that source — the
    over-epoching/duplication red flag when it exceeds a few), and
    the mixture's effective source count ``exp(H(q))``. The policy
    complement to :func:`balance_weights` (inverse-frequency = the
    alpha→0 pole) and the knob `match_token_distribution` tunes
    toward a TARGET; this one needs no target, just a temperature.

    ``count_col`` weights sources by a size column (e.g. token
    counts) instead of row counts. Shape: ONE hash agg to the
    bounded source table; the normalizers ride GLOBAL WINDOWS over
    that bounded table (the engine's bounded-global-window
    discipline — no self-join, no ambiguity, nothing corpus-sized).
    """
    from pyspark.sql import Window

    size = (
        F.count(F.lit(1)).cast("double")
        if count_col is None
        else F.sum(count_col).cast("double")
    )
    per = df.groupBy(F.col(source_col).alias("source")).agg(size.alias("_n"))
    w_all = Window.partitionBy()
    p = F.col("_n") / F.sum("_n").over(w_all)
    shared = per.select(
        "source",
        F.col("_n").cast("long").alias("n_rows"),
        p.alias("_p"),
        F.pow(p, F.lit(float(alpha))).alias("_pa"),
    )
    q = F.col("_pa") / F.sum("_pa").over(w_all)
    out = shared.select("source", "n_rows", "_p", q.alias("_q"))
    eff = F.exp(-F.sum(F.col("_q") * F.log("_q")).over(w_all))
    return (
        out.select(
            "source",
            "n_rows",
            F.round(F.col("_p"), 6).alias("natural_share"),
            F.round(F.col("_q"), 6).alias("sampling_share"),
            F.round(F.col("_q") / F.col("_p"), 6).alias("epoch_multiplier"),
            F.round(eff, 6).alias("effective_sources"),
        )
        .orderBy("source")
    )


def rake_weights(
    units: DataFrame,
    row_col: str,
    col_col: str,
    *,
    n_iter: int = 3,
) -> DataFrame:
    """Survey raking (iterative proportional fitting) of unit weights
    so BOTH marginal distributions match UNIFORM targets — the
    two-margin generalization of :func:`balance_weights` (which
    balances one): e.g. reweight a transcript corpus so every role
    AND every weekday contributes equally, without collapsing the
    (role × weekday) joint structure the way independent per-margin
    weights would. Classic IPF: alternately scale each row-margin to
    target, then each column-margin, ``n_iter`` rounds (converges
    geometrically; 3 rounds lands within ~1e-3 for non-degenerate
    tables — the residual row-margin error is REPORTED per cell's
    row so the consumer sees convergence, not assumes it).

    Output per observed cell: ``(row, col, n_units, weight,
    weighted_share, row_share_after, col_share_after)``.

    Shape: ONE hash agg to the bounded (rows × cols) cell table;
    the IPF rounds are fixed-count unrolled algebra on that bounded
    table (two scalings per round, each a groupBy+join on ≤|cells|
    rows — at |roles|×7 scale this is driver-trivial but stays in
    the plan for composability).
    """
    cells = units.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = cells.persist()
    try:
        w = cells.select("r", "c", "n", F.lit(1.0).alias("w"))
        n_rows_ = cells.select("r").distinct().count()
        n_cols_ = cells.select("c").distinct().count()
        if n_rows_ == 0 or n_cols_ == 0:
            # empty panel: no margins to rake — zero rows out, in the
            # OUTPUT schema (r5 empty-sweep: 1/0 crashed here)
            return w.where(F.lit(False)).select(
                F.col("r").alias("row_value"),
                F.col("c").alias("col_value"),
                F.col("n").alias("n_units"),
                F.round(F.col("w"), 6).alias("weight"),
                F.lit(None).cast("double").alias("weighted_share"),
                F.lit(None).cast("double").alias("row_share_after"),
                F.lit(None).cast("double").alias("col_share_after"),
            )
        tr = 1.0 / n_rows_
        tc = 1.0 / n_cols_
        from pyspark.sql import Window

        # each scaling references w three ways (cells, margin sums, total);
        # without lineage truncation the plan grows 3^2 per round — the
        # components-module localCheckpoint discipline caps it, and the
        # margin/total sums ride windows over the BOUNDED cell table (no
        # self-join, no broadcast churn)
        w_all = Window.partitionBy()
        w_row = Window.partitionBy("r")
        w_col = Window.partitionBy("c")
        for _ in range(int(n_iter)):
            w = w.select(
                "r",
                "c",
                "n",
                (
                    F.col("w")
                    * F.lit(tr)
                    * F.sum(F.col("w") * F.col("n")).over(w_all)
                    / F.sum(F.col("w") * F.col("n")).over(w_row)
                ).alias("w"),
            )
            w = w.select(
                "r",
                "c",
                "n",
                (
                    F.col("w")
                    * F.lit(tc)
                    * F.sum(F.col("w") * F.col("n")).over(w_all)
                    / F.sum(F.col("w") * F.col("n")).over(w_col)
                ).alias("w"),
            ).localCheckpoint(eager=True)
        wn = F.col("w") * F.col("n")
        out = (
            w.select(
                F.col("r").alias("row_value"),
                F.col("c").alias("col_value"),
                F.col("n").alias("n_units"),
                F.round(F.col("w"), 6).alias("weight"),
                F.round(wn / F.sum(wn).over(w_all), 6).alias("weighted_share"),
                F.round(
                    F.sum(wn).over(w_row) / F.sum(wn).over(w_all), 6
                ).alias("row_share_after"),
                F.round(
                    F.sum(wn).over(w_col) / F.sum(wn).over(w_all), 6
                ).alias("col_share_after"),
            )
            .orderBy("row_value", "col_value")
        )
        return out.localCheckpoint(eager=True)
    finally:
        cells.unpersist()
