"""Skew handling for mega-conversations (SURVEY §4 custom #2).

At 10^12 turns a single hot ``conv_id`` (an agent transcript with
millions of turns) can dwarf the median conversation by 10^4×. What
breaks, and the mitigation used here:

- **Algebraic aggregates** (count/sum/min/max/avg): Spark's
  partial+final hash aggregation already collapses each mapper's
  slice of a hot key before the shuffle — no salting needed; this is
  why ``plans.backfill`` aggregates in one pass.
- **COUNT(DISTINCT)**: planned via Expand (row × #distinct-aggs) and
  the full value set of a hot key lands in ONE reducer.
  :func:`two_phase_count_distinct` rewrites it as a salted pre-dedup
  → exact count, fully parallel.
- **Joins**: AQE skew-join splits oversized partitions
  (``spark.sql.adaptive.skewJoin.enabled``, on in ``session.py``).
- **Windows over (conv_id ORDER BY ts)**: inherently sequential per
  key; cannot salt without breaking running order. Mitigation is
  layout — ``repartitionByRange(conv_id)`` balances ranges so a hot
  key shares its task with fewer siblings — plus chunked session-ID
  stitching if a single conversation exceeds one task's memory
  (future work; documented, not yet needed at bench scale).

:func:`detect_heavy_hitters` finds hot keys via sampled counts
(driver gets only the top-k list — tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_heavy_hitters(
    df: DataFrame, key: str = "conv_id", threshold_ratio: float = 100.0, sample: float = 0.01
) -> list[str]:
    """Keys whose sampled row count exceeds ``threshold_ratio`` × the
    sampled median. Sampling keeps the scan cheap; the returned list
    is small by construction (heavy hitters are rare)."""
    counts = (
        df.sample(fraction=sample, seed=42)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    med = counts.select(F.expr("percentile_approx(n, 0.5)").alias("m")).first()["m"] or 1
    hot = counts.where(F.col("n") > F.lit(float(threshold_ratio) * med))
    return [r[key] for r in hot.select(key).collect()]


def add_salt(df: DataFrame, salt_buckets: int, *, cols: tuple[str, ...] = ("turn_idx",)) -> DataFrame:
    """Deterministic salt column ``pmod(hash(cols), S)`` (north-star:
    'salted repartitioning'). Deterministic in the row, NOT in rand(),
    so retries/resume stay idempotent."""
    return df.withColumn("_salt", F.pmod(F.hash(*cols), F.lit(int(salt_buckets))))


def two_phase_count_distinct(
    df: DataFrame, keys: list[str], value: str, salt_buckets: int = 16
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per keys without the Expand hotspot.

    Phase 1: dedup (keys, value) with the salt in the shuffle key —
    map-side partial dedup, hot key spread over ``salt_buckets``
    reducers. Phase 2: count per keys (small: one row per distinct
    value). Replaces A3 for skewed inputs.
    """
    salted = add_salt(df.select(*keys, value), salt_buckets, cols=(value,))
    dedup = salted.groupBy(*keys, "_salt", value).agg(F.lit(1).alias("_one"))
    return dedup.groupBy(*keys).agg(
        F.count(F.when(F.col(value).isNotNull(), 1)).alias(f"distinct_{value}_cnt")
    )


def salted_two_phase_sum(
    df: DataFrame, keys: list[str], exprs: dict[str, str], salt_buckets: int = 16
) -> DataFrame:
    """Explicit two-phase SUM/COUNT for pipelines that need a custom
    partial stage (e.g. before an applyInPandas that would otherwise
    receive one giant group): partial per (keys, salt) → final per
    keys. For plain aggs prefer a single groupBy — Catalyst already
    does this internally."""
    salted = add_salt(df, salt_buckets)
    partial = salted.groupBy(*keys, "_salt").agg(
        *[F.sum(F.expr(e)).alias(f"_p_{name}") for name, e in exprs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.coalesce(F.sum(f"_p_{name}"), F.lit(0)).alias(name) for name in exprs]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    salt_buckets: int = 16,
    salt_cols: tuple[str, ...] = ("turn_idx",),
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: when ONE hot key would pin a whole shuffle
    partition to a single task (the mega-conversation problem applied
    to joins), spread the big side over ``salt_buckets`` sub-keys and
    REPLICATE the small side into every bucket, joining on
    (key, salt). Result is row-identical to the plain join — salting
    only refines the partitioning, never the match predicate.

    This is the manual fallback for the cases AQE's skew-join split
    cannot reach (AQE only splits sort-merge partitions post-shuffle
    and needs the stats to see the skew; a salted key fixes the
    layout BEFORE the exchange). Small side grows ×salt_buckets — use
    only when it is broadcast-small but the join must still shuffle
    (e.g. the big side's partitioning is being reused downstream).

    The big side's salt is deterministic in its own row
    (``pmod(hash(salt_cols), S)`` — never ``rand()``: retries and
    resumed stages must re-derive identical salts); the small side
    gets all salts via a generated explode.
    """
    s = int(salt_buckets)
    big_s = add_salt(big, s, cols=salt_cols)
    small_s = small.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("_salt")
    )
    return big_s.join(small_s, on=[on, "_salt"], how=how).drop("_salt")


def skew_diagnosis(
    turns: DataFrame, key_col: str = "conv_id", *, target_p: float = 0.99
) -> DataFrame:
    """ONE-row skew report for a prospective shuffle key — the
    measurement that decides whether a join/window on ``key_col``
    needs the mitigations above BEFORE the job ships: per-key row
    counts, the hot-key ceiling vs the mean, the p99 key size, and
    the salt-bucket recommendation ``ceil(max_count / mean_count)``
    (how many average-key-sized slices the hottest key must split
    into for balanced reducers).

    Exactness at scale: per-key counts are one map-side-combined agg;
    they immediately collapse to the COUNTS-OF-COUNTS table (distinct
    count value → number of keys), which is tiny even when the key
    space is billions (bounded by the number of DISTINCT sizes), so
    the p99 is an EXACT lower-inverse-CDF over a cumulative sum on
    that bounded table — no approx sketch, no sort of the key table.
    """
    counts = turns.groupBy(key_col).agg(F.count(F.lit(1)).alias("c"))
    cc = counts.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    from pyspark.sql import Window

    wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = cc.select(
        "c", "k", F.sum("k").over(wc).alias("_cum")
    )
    tot = cc.agg(
        F.sum(F.col("c") * F.col("k")).cast("long").alias("n_rows"),
        F.sum("k").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_count"),
    )
    p99 = (
        cum.crossJoin(F.broadcast(tot))
        .where(
            F.col("_cum").cast("double")
            >= F.lit(float(target_p)) * F.col("n_keys")
        )
        .agg(F.min("c").cast("long").alias("p99_count"))
    )
    mean = F.col("n_rows").cast("double") / F.col("n_keys")
    return (
        tot.crossJoin(F.broadcast(p99))
        .select(
            "n_rows",
            "n_keys",
            "max_count",
            "p99_count",
            F.round(mean, 6).alias("mean_count"),
            F.round(F.col("max_count") / mean, 6).alias("max_to_mean"),
            F.round(F.col("p99_count") / mean, 6).alias("p99_to_mean"),
            F.ceil(F.col("max_count") / mean)
            .cast("long")
            .alias("salt_buckets"),
        )
    )
