"""k-anonymity audit for training-data release.

Before a transcript-derived dataset ships, the standard privacy gate
asks: does any quasi-identifier combination (here: role × tool ×
calendar day — the columns an adversary could cross-reference)
isolate fewer than k distinct entities? Rows in such cells are
re-identification risks and must be generalized or suppressed.

Spark-first shape: ONE two-level aggregate — (QI combo) → distinct
entities + row count (the distinct is Expand-free: pre-distinct on
(combo, entity), then count), followed by a tiny threshold
projection. The audit output is per-combo, so it stays small even at
10^12 rows (bounded by the QI domain, not the data); the summary
rollup is a second aggregate over THAT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_audit(
    turns: DataFrame,
    quasi_cols: tuple[str, ...] = ("role", "tool"),
    entity_col: str = "conv_id",
    k: int = 5,
    *,
    with_day: bool = True,
) -> DataFrame:
    """Per QI combo: distinct entities, row count, and the at-risk
    flag (fewer than k entities). NULL QI values are kept as their
    own class (a NULL tool is itself identifying)."""
    cols = [F.col(c) for c in quasi_cols]
    names = list(quasi_cols)
    if with_day:
        cols.append(F.date_trunc("day", F.col("ts")).alias("day"))
        names.append("day")
    pre = (
        turns.select(*cols, F.col(entity_col).alias("_e"))
        .groupBy(*names, "_e")
        .agg(F.count(F.lit(1)).alias("_rows"))
    )
    per_combo = pre.groupBy(*names).agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum("_rows").cast("long").alias("n_rows"),
    )
    return per_combo.withColumn("at_risk", F.col("n_entities") < F.lit(int(k)))


def l_diversity_audit(
    turns: DataFrame,
    quasi_cols: tuple[str, ...] = ("role",),
    sensitive_col: str = "tool",
    l: int = 2,
    *,
    with_day: bool = True,
) -> DataFrame:
    """l-diversity audit: per quasi-identifier combo, how many DISTINCT
    values of the sensitive attribute appear. k-anonymity alone is not
    enough — a cell can hold k entities who all share one sensitive
    value, so membership still discloses it (the classic homogeneity
    attack). A release gate wants every QI cell to carry at least
    ``l`` distinct sensitive values.

    NULL sensitive values are their own class (an absent tool is
    itself a disclosure), mirroring :func:`k_anonymity_audit`'s NULL
    policy for QI columns.

    Spark-first shape: the same Expand-free two-level distinct as the
    k-anonymity audit — pre-distinct on (combo, sensitive) with a row
    count, then one per-combo rollup. Output is bounded by the QI
    domain, not the data, so the audit stays tiny at 10^12 rows.
    """
    cols = [F.col(c) for c in quasi_cols]
    names = list(quasi_cols)
    if with_day:
        cols.append(F.date_trunc("day", F.col("ts")).alias("day"))
        names.append("day")
    pre = (
        turns.select(*cols, F.col(sensitive_col).alias("_s"))
        .groupBy(*names, "_s")
        .agg(F.count(F.lit(1)).alias("_rows"))
    )
    per_combo = pre.groupBy(*names).agg(
        F.count(F.lit(1)).cast("long").alias("n_sensitive"),
        F.sum("_rows").cast("long").alias("n_rows"),
    )
    return per_combo.withColumn("is_l_diverse", F.col("n_sensitive") >= F.lit(int(l)))


def t_closeness_audit(
    turns: DataFrame,
    quasi_cols: tuple[str, ...] = ("role",),
    sensitive_col: str = "tool",
    t: float = 0.2,
    *,
    with_day: bool = True,
) -> DataFrame:
    """t-closeness audit: per quasi-identifier cell, the total-
    variation distance between the cell's sensitive-value distribution
    and the GLOBAL one. Completes the release-gate triple — k-anonymity
    bounds cell size, l-diversity bounds distinct sensitive values, and
    t-closeness catches the skewness attack both miss: a cell can hold
    many entities and several sensitive values yet still leak (e.g.
    99% one tool where the corpus is 50/50).

    TVD(cell) = ½ · Σ_v |q_cell(v) − p_global(v)|, over the full
    sensitive domain; values absent from a cell contribute their whole
    global mass. NULL sensitive values are their own class (mapped to
    a sentinel BEFORE grouping so the distribution join stays
    null-safe), mirroring the sibling audits' NULL policy.

    Determinism: the numerator is computed EXACTLY in integers —
    |c_v·G − g_v·C| summed as decimal (order-free), plus the missing
    mass (G − Σ_present g_v)·C — and only the final ratio is a double,
    so both engines convert the same exact integer and divide by the
    same double product: bit-identical, no float-sum ordering.

    Distributed shape: ONE corpus scan — the (QI, sensitive) cell
    table is the only aggregate that touches the row stream; the
    global distribution, the global total, and the cell totals are all
    rollups OF the cell table (domain-bounded, persisted against the
    four-branch fan-out). Every intermediate is bounded by the QI ×
    sensitive DOMAIN, not the row count, so the audit stays small at
    10^12 rows. decimal(18,0) operands keep the c·G products exact to
    ~10^18 rows per audit slice (beyond that, pre-aggregate per
    shard).
    """
    dec = "decimal(18,0)"
    cols = [F.col(c) for c in quasi_cols]
    names = list(quasi_cols)
    if with_day:
        cols.append(F.date_trunc("day", F.col("ts")).alias("day"))
        names.append("day")
    base = turns.select(
        *cols,
        F.coalesce(F.col(sensitive_col), F.lit("__NULL__")).alias("_s"),
    )
    cell = (
        base.groupBy(*names, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .persist()  # kept: the four rollups of the returned plan read it
    )
    glob = cell.groupBy("_s").agg(F.sum("_c").cast("long").alias("_g"))
    gtot = cell.agg(F.sum("_c").cast("long").alias("_gt"))
    ctot = cell.groupBy(*names).agg(F.sum("_c").cast("long").alias("_ct"))
    j = (
        cell.join(F.broadcast(glob), on="_s", how="inner")
        .join(F.broadcast(ctot), on=names, how="inner")
        .crossJoin(F.broadcast(gtot))
    )
    term = F.abs(
        F.col("_c").cast(dec) * F.col("_gt").cast(dec)
        - F.col("_g").cast(dec) * F.col("_ct").cast(dec)
    )
    per = j.groupBy(*names).agg(
        F.max("_ct").alias("_C"),
        F.max("_gt").alias("_G"),
        F.sum(term).alias("_num1"),
        F.sum("_g").cast("long").alias("_sumg"),
    )
    num = F.col("_num1") + (
        F.col("_G").cast(dec) - F.col("_sumg").cast(dec)
    ) * F.col("_C").cast(dec)
    tvd = num.cast("double") / (
        F.lit(2.0) * F.col("_C").cast("double") * F.col("_G").cast("double")
    )
    return per.select(
        *names,
        F.col("_C").cast("long").alias("n_rows"),
        tvd.alias("tvd"),
        (tvd > F.lit(float(t))).alias("at_risk"),
    )


def k_anonymity_summary(audit: DataFrame) -> DataFrame:
    """One-row release verdict: combos / entities-at-risk-weighted row
    exposure, and the minimum cell size (the dataset's k)."""
    return audit.agg(
        F.count(F.lit(1)).cast("long").alias("n_combos"),
        F.sum(F.col("at_risk").cast("long")).cast("long").alias("n_risky_combos"),
        F.sum(F.when(F.col("at_risk"), F.col("n_rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("n_entities").cast("long").alias("dataset_k"),
    )


def deletion_cascade_audit(
    tables: dict[str, DataFrame],
    deletion_keys: DataFrame,
    links: list[tuple[str, str, str, str]],
    *,
    root_table: str,
    root_key: str,
) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a deletion-key list
    for ``root_table``, walk the foreign-key ``links`` — each entry
    ``(child_table, child_fk, parent_table, parent_key)`` — and report
    per table how many rows the cascade reaches (the plan a DSAR /
    GDPR erasure job executes, sized before touching anything).

    Traversal is breadth-first over the link graph: affected keys of
    a parent define affected rows of each child via one semi-join;
    children's own keys then propagate further. Every hop is one
    equi-join against a key set bounded by the deletion list's reach
    — no full-table materialization, and the output is one row per
    table ``(table, rows_total, rows_affected, share)``.

    Reference analog: the reference's per-member train/test carve
    touches the same msno across every raw table
    (``src/labels.py``); erasure is the same key walk with deletes.
    """
    # kept: each reached table is read by its count and by every child's
    # key set in the returned plan
    affected: dict[str, DataFrame] = {
        root_table: tables[root_table]
        .join(
            F.broadcast(deletion_keys.select(F.col("key").alias(root_key))),
            root_key,
            "left_semi",
        )
        .persist()
    }
    # BFS: a link becomes resolvable once its parent is reached
    pending = list(links)
    while pending:
        progressed = False
        for link in list(pending):
            child, child_fk, parent, parent_key = link
            if parent not in affected or child in affected:
                continue
            keys = affected[parent].select(
                F.col(parent_key).alias(child_fk)
            ).distinct()
            affected[child] = (
                tables[child].join(keys, child_fk, "left_semi").persist()
            )
            pending.remove(link)
            progressed = True
        if not progressed:
            break  # unreachable links (no path from the root) are skipped
    frames = []
    for name, df in tables.items():
        total = df.agg(F.count(F.lit(1)).cast("long").alias("rows_total"))
        hit = (
            affected[name].agg(F.count(F.lit(1)).cast("long").alias("rows_affected"))
            if name in affected
            else None
        )
        row = total.crossJoin(
            F.broadcast(hit)
            if hit is not None
            else F.broadcast(
                total.select(F.lit(0).cast("long").alias("rows_affected"))
            )
        ).select(
            F.lit(name).alias("table"),
            "rows_total",
            "rows_affected",
            F.round(
                # try_divide: an empty table -> share NULL (the
                # oracle's 0/0; ANSI ERRORed; r5 empty-sweep)
                F.try_divide(
                    F.col("rows_affected").cast("double"),
                    F.col("rows_total").cast("double"),
                ),
                6,
            ).alias("share"),
        )
        frames.append(row)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    *,
    epsilon: float = 1.0,
    sensitivity: float = 1.0,
    seed_tag: str = "dp",
) -> DataFrame:
    """ε-differentially-private group counts via the Laplace
    mechanism — the release format for aggregate dashboards over
    sensitive transcripts (counts leave the silo, raw rows never do).

    Noise is drawn from Laplace(b = sensitivity/ε) through the
    engine-portable ``stable_hash48`` of (seed_tag, group): the 48-bit
    hash maps to u ∈ (0,1) and the inverse CDF
    ``-b·sign(u-½)·ln(1-2|u-½|)`` yields the deviate. Seeded-by-key
    means the release is DETERMINISTIC and idempotent — re-running the
    job re-publishes identical numbers (fresh randomness per run would
    let an observer average the noise away), and the oracle can verify
    it bit-for-bit. One hash agg + |groups| scalar exprs; noisy counts
    are clamped at 0 and the true counts never leave the plan.
    """
    from ..functions.text import stable_hash48

    u = (
        stable_hash48(
            F.concat(F.lit(seed_tag), F.lit(":"), F.col("grp").cast("string"))
        ).cast("double")
        / F.lit(float(2**48))
    )
    b = F.lit(float(sensitivity) / float(epsilon))
    centered = u - F.lit(0.5)
    noise = (
        -b
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return (
        df.where(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
        .select(
            F.col("grp").alias(group_col),
            F.round(
                F.greatest(F.col("_n").cast("double") + noise, F.lit(0.0)), 6
            ).alias("noisy_count"),
            F.lit(float(epsilon)).alias("epsilon"),
        )
        .orderBy(group_col)
    )
