"""Drift statistics as binned groupBy-agg (A11).

The reference computes PSI driver-side in numpy per feature
(``src/psi.py:18-34``: decile edges via ``np.quantile`` on the
reference window, histogram both windows, ``Σ (a-e)·ln(a/e)`` with a
1e-6 clip; categorical variant ``:96-102`` via value_counts). That
loops features in Python and concatenates whole feature frames in
pandas — fine at 1 row/entity, fatal at 10^12 turns.

Re-expressed distributed (north-star: "PSI re-expressed as binned
groupBy-agg across backtest folds"), every binned lens is one shared
count table, one of two shared views, and its own final expression —
all column expressions, no UDF:

1. bin each value — either fixed-width (:func:`fixed_width_bins`,
   fully deterministic, oracle-checkable) or reference-window decile
   edges (:func:`quantile_edges`, exact percentiles, matching
   ``np.quantile`` on the ref fold),
2. :func:`_bin_counts` — ``groupBy(fold, bin).count()``, one shuffle
   with map-side partials, collected into a literal (folds × bins
   rows),
3. a view over that table:

   - :func:`_freq_view` — zero-filled frequencies ``p`` (current
     fold) and ``q`` (reference) over current folds × observed bins;
     NULL-bin rows count in the fold total but are never a bin. Used
     by PSI (clip 1e-6, Σ(a-e)·ln(a/e)), categorical PSI, JSD and
     ``streaming.drift.psi_over_windows``.
   - :func:`_cdf_view` — zero-filled per-bin, running and total
     counts of each current fold (``_n_b/_cum/_tot``) beside the
     reference's (``_rn_b/_rcum/_rtot``) at a bin set the caller
     passes; NULL-bin rows are ignored. KS, CvM and Anderson–Darling
     pass the observed bins, Wasserstein its dense range;
     :func:`ks_pair_matrix` uses the per-group half,
     :func:`_cumulative`.

The two views treat NULL bins differently because the DuckDB oracles
do. :func:`qq_shift` works on percentiles, not bins, and uses neither.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.asof import collect_literal

CLIP = 1e-6  # src/psi.py:22-23 np.clip floor


def fixed_width_bins(value: Column, width: float, n_bins: int) -> Column:
    """floor(value/width) clamped to [0, n_bins-1]."""
    b = F.floor(value / F.lit(float(width)))
    return F.least(F.greatest(b, F.lit(0)), F.lit(int(n_bins) - 1)).cast("int")


def quantile_edges(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    *,
    exact: bool = False,
    accuracy: int = 10000,
) -> list[float]:
    """Quantile edges on the reference fold. Driver-side list of
    n_bins-1 interior edges.

    ``exact=False`` (DEFAULT — the scale path) uses
    ``approx_percentile`` (GK sketch, bounded memory ~O(accuracy),
    mergeable map-side partials): a bare call is safe at 10^12 rows.
    Edge error ≤ 1/accuracy of rank moves only boundary values
    between adjacent bins, which PSI's clipped log-ratio absorbs
    (tolerance-checked in tests). ``exact=True`` is the
    ``np.quantile`` analog — exact linear-interpolated percentiles,
    matching the reference and the DuckDB oracle bit-for-bit at
    round(6); it buffers every value in one aggregation buffer (an
    executor OOM at 10^12 rows, not a slow query), so gates/oracles
    request it explicitly and scale users never get it by accident."""
    ps = [i / n_bins for i in range(1, n_bins)]
    arr = ",".join(str(p) for p in ps)
    fn = (
        f"percentile({value_col}, array({arr}))"
        if exact
        else f"approx_percentile({value_col}, array({arr}), {int(accuracy)})"
    )
    row = df.select(F.expr(fn).alias("e")).first()
    # empty/all-null input: the percentile array is NULL — no interior
    # edges, everything lands in bucket 0 (bucketize's overflow bin)
    return [float(x) for x in row["e"]] if row["e"] is not None else []


def bucketize_by_edges(value: Column, edges: list[float]) -> Column:
    """width_bucket-style when-chain over interior edges (bin i =
    value <= edges[i], last bin = above all edges). NULL value ->
    NULL bin: the bare when-chain's ``otherwise`` silently filed
    NULLs into the LAST bin (r5 full-registry fuzz catch — the woe
    oracle's ``COUNT WHERE e < v`` filed the same NULLs into bin 0);
    callers decide NULL policy explicitly (coalesce before binning
    or drop the NULL-bin rows)."""
    expr = F.lit(len(edges))
    for i in reversed(range(len(edges))):
        expr = F.when(value <= F.lit(edges[i]), F.lit(i)).otherwise(expr)
    return F.when(value.isNotNull(), expr).cast("int")


def _bin_counts(binned: DataFrame, *keys: str) -> DataFrame:
    """The ``(*keys) → n`` count table every binned lens starts from:
    ONE groupBy with map-side partials over the stream. It is folds ×
    bins rows (tiny) but fans out into several branches (the fold
    list, the bin set, the reference split), so it is collected once
    into a literal relation: the stream is read by one Spark job, not
    once per branch (4 scans measured lazy), and no cache entry
    outlives the call."""
    return collect_literal(binned.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")))


def _observed_bins(
    counts: DataFrame, bin_col: str, keys: Sequence[str] = ()
) -> DataFrame:
    """The distinct non-NULL bins (per ``keys``) of a count table."""
    return counts.where(F.col(bin_col).isNotNull()).select(*keys, bin_col).distinct()


def _freq_view(
    counts: DataFrame,
    fold_col: str,
    bin_col: str,
    ref_fold,
    keys: Sequence[str] = (),
) -> DataFrame:
    """``(fold, *keys, p, q)``: zero-filled frequencies of each current
    fold (``p``) and of the reference (``q``) over current folds ×
    observed bins, per ``keys`` (categorical PSI's ``feature``).

    A NULL-bin row counts in its fold's total but is never a bin, so
    NULLs deflate every bin's frequency (``value_counts / len``); a
    fold seen only with NULL bins is still a current fold. The
    observed-bins grid suffices: a bin empty in both folds has
    ``p = q = 0``, which adds nothing to any lens built on this view.
    """
    is_ref = F.col(fold_col) == ref_fold
    total = Window.partitionBy(fold_col, *keys)
    freqs = counts.select(
        fold_col,
        *keys,
        bin_col,
        (F.col("n").cast("double") / F.sum("n").over(total)).alias("_f"),
    ).where(F.col(bin_col).isNotNull())
    cur_folds = counts.select(fold_col).where(~is_ref).distinct()
    grid = cur_folds.crossJoin(F.broadcast(_observed_bins(counts, bin_col, keys)))
    cur = freqs.where(~is_ref).withColumnRenamed("_f", "_p")
    ref = freqs.where(is_ref).select(*keys, bin_col, F.col("_f").alias("_q"))
    return (
        grid.join(cur, [fold_col, *keys, bin_col], "left")
        .join(F.broadcast(ref), [*keys, bin_col], "left")
        .select(
            fold_col,
            *keys,
            F.coalesce(F.col("_p"), F.lit(0.0)).alias("p"),
            F.coalesce(F.col("_q"), F.lit(0.0)).alias("q"),
        )
    )


def _psi(p: Column, q: Column) -> Column:
    """``round(Σ (a−e)·ln(a/e), 6)`` with both sides clipped at 1e-6."""
    a = F.greatest(p, F.lit(CLIP))
    e = F.greatest(q, F.lit(CLIP))
    return F.round(F.sum((a - e) * F.log(a / e)), 6).alias("psi")


def _cumulative(
    grid: DataFrame, counts: DataFrame, group_col: str, bin_col: str
) -> DataFrame:
    """``(group, bin, _n_b, _cum, _tot)`` at every ``grid`` row: the
    bin's count zero-filled from ``counts``, the group's running count
    through the bin, and the group's total over the grid's bins."""
    n = F.coalesce(F.col("n"), F.lit(0))
    w_tot = Window.partitionBy(group_col)
    w_cum = w_tot.orderBy(bin_col).rowsBetween(Window.unboundedPreceding, 0)
    return grid.join(counts, [group_col, bin_col], "left").select(
        group_col,
        bin_col,
        n.cast("long").alias("_n_b"),
        F.sum(n).over(w_cum).cast("long").alias("_cum"),
        F.sum(n).over(w_tot).cast("long").alias("_tot"),
    )


def _cdf_view(
    counts: DataFrame,
    fold_col: str,
    bin_col: str,
    ref_fold,
    bins: DataFrame,
) -> DataFrame:
    """``(fold, bin, _n_b, _cum, _tot, _rn_b, _rcum, _rtot)``: the
    zero-filled step-CDF counts of each current fold at every bin of
    ``bins`` beside the reference's (:func:`_cumulative` per side).

    NULL-bin rows are ignored: ``bins`` holds no NULL, so they are in
    neither a running count nor a total. A fold seen only with NULL
    bins has ``_tot = 0`` and a missing reference ``_rtot = 0``;
    lenses divide with ``try_divide`` and answer NULL, as the oracles'
    NULL-on-zero-divide does.
    """
    cur_folds = counts.select(fold_col).where(F.col(fold_col) != ref_fold).distinct()
    cur = _cumulative(cur_folds.crossJoin(F.broadcast(bins)), counts, fold_col, bin_col)
    ref = _cumulative(
        bins.select(F.lit(ref_fold).alias(fold_col), bin_col), counts, fold_col, bin_col
    ).select(
        bin_col,
        F.col("_n_b").alias("_rn_b"),
        F.col("_cum").alias("_rcum"),
        F.col("_tot").alias("_rtot"),
    )
    return cur.join(F.broadcast(ref), [bin_col])


def psi_from_bins(binned: DataFrame, fold_col: str, bin_col: str, ref_fold: str) -> DataFrame:
    """PSI of every fold vs ``ref_fold`` from a (fold, bin) stream.

    Input: one row per observation with fold + bin columns. Output:
    one row per non-reference fold with its PSI (round 6).

    Shape: :func:`_bin_counts`, :func:`_freq_view`, then the clipped
    Σ(a-e)·ln(a/e) per fold.
    """
    counts = _bin_counts(binned, fold_col, bin_col)
    view = _freq_view(counts, fold_col, bin_col, ref_fold)
    return view.groupBy(fold_col).agg(_psi(F.col("p"), F.col("q")))


def psi_categorical(
    df: DataFrame,
    fold_col: str,
    feature_cols: list[str],
    ref_fold: str,
) -> DataFrame:
    """Categorical PSI of every fold vs ``ref_fold``, one row per
    (feature, fold).

    Reference semantics (``src/psi.py:96-102``): per feature,
    frequency = value_counts (non-null values) / TOTAL fold row count
    (nulls deflate every category's frequency rather than forming a
    category — ``pd.value_counts`` drops NaN but the denominator is
    ``len(cur)``), categories = union of observed values, both sides
    clipped at 1e-6, Σ(a-e)·ln(a/e).

    Distributed shape: all features melt into ONE (fold, feature,
    value) stream (explode of a struct array — no per-feature job
    loop, unlike the reference's Python feature loop), then
    :func:`_bin_counts` and :func:`_freq_view` keyed by ``feature``,
    as in :func:`psi_from_bins`. NULL values stay in the count table
    as their own rows, so the view's per-(fold, feature) totals ARE
    the fold row totals (each df row contributes exactly one value
    per feature) — no second scan of df for the denominator. The grid
    uses the all-fold category union; a category absent from both a
    fold and the reference contributes a zero term, so this equals
    the reference's per-pair union. A fold whose values are all NULL
    still gets a row per feature, every category at the clip floor.
    """
    melted = df.select(
        F.col(fold_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in feature_cols
                ]
            )
        ).alias("_fv"),
    ).select(fold_col, F.col("_fv.feature").alias("feature"), F.col("_fv.val").alias("val"))
    counts = _bin_counts(melted, fold_col, "feature", "val")
    view = _freq_view(counts, fold_col, "val", ref_fold, keys=["feature"])
    return view.groupBy("feature", fold_col).agg(_psi(F.col("p"), F.col("q")))


def jsd_from_bins(
    binned: DataFrame,
    fold_col: str,
    bin_col: str,
    ref_fold: str,
) -> DataFrame:
    """Binned Jensen-Shannon divergence vs the reference fold →
    ``(fold, jsd)`` for every non-reference fold.

    Completes the drift family (PSI, Wasserstein-1, CUSUM): JSD is
    the SYMMETRIC, BOUNDED complement — log base 2 puts it in [0, 1]
    bits, and unlike PSI it needs no clip because the mixture
    ``m = (p+q)/2`` is nonzero wherever either side has mass (the
    0·log(0/m) = 0 convention handles one-sided bins exactly, so
    support mismatch yields a finite score instead of a clipped
    blow-up). Monitoring dashboards alarm on JSD > ~0.1 bits where
    PSI's unboundedness makes thresholds data-dependent.

    Shape: :func:`_bin_counts` and :func:`_freq_view`, as in
    :func:`psi_from_bins`; only the Σ term differs.
    """
    counts = _bin_counts(binned, fold_col, bin_col)
    p, q = F.col("p"), F.col("q")
    m = (p + q) / F.lit(2.0)
    term = F.when(p > 0, p * F.log2(p / m)).otherwise(F.lit(0.0)) + F.when(
        q > 0, q * F.log2(q / m)
    ).otherwise(F.lit(0.0))
    return (
        _freq_view(counts, fold_col, bin_col, ref_fold)
        .groupBy(fold_col)
        .agg(F.round(F.sum(term) / 2.0, 6).alias("jsd"))
        .select(F.col(fold_col).alias("fold"), "jsd")
    )


def wasserstein_from_bins(
    binned: DataFrame,
    fold_col: str,
    bin_col: str,
    ref_fold: str,
    bin_width: float,
) -> DataFrame:
    """Binned 1-Wasserstein (earth-mover) drift vs the reference fold:
    ``W1 ≈ Σ_bins |CDF_cur(b) − CDF_ref(b)| · bin_width`` →
    ``(fold, wasserstein)`` for every non-reference fold.

    Complements PSI: PSI blows up on support mismatch (hence the
    clip); W1 is finite and in the VALUE's units (here: characters of
    text length), so "the distribution moved ~2 chars" is readable.

    Shape: :func:`_bin_counts` and :func:`_cdf_view`, evaluated over
    the DENSE integer bin range [min_bin, max_bin] — bins empty in
    EVERY fold still contribute their CDF gap, otherwise mass jumping
    across unoccupied bins is undercounted (W1 of "all at bin 0" vs
    "all at bin 9" must be 9·width, not 1·width). A fold whose rows
    all have NULL bins has no CDF and answers NULL; with no reference
    rows at all there is no output row.
    """
    counts = _bin_counts(binned, fold_col, bin_col)
    dense = counts.agg(
        F.min(bin_col).alias("_lo"), F.max(bin_col).alias("_hi")
    ).select(F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias(bin_col))
    gap = F.abs(
        F.try_divide(F.col("_cum"), F.col("_tot"))
        - F.try_divide(F.col("_rcum"), F.col("_rtot"))
    )
    return (
        _cdf_view(counts, fold_col, bin_col, ref_fold, dense)
        .join(counts.where(F.col(fold_col) == ref_fold), how="left_semi")
        .groupBy(fold_col)
        .agg(F.round(F.sum(gap) * float(bin_width), 6).alias("wasserstein"))
        .select(F.col(fold_col).alias("fold"), "wasserstein")
    )


def ks_from_bins(
    binned: DataFrame,
    fold_col: str,
    bin_col: str,
    ref_fold: str,
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov statistic vs the reference
    fold → ``(fold, ks)`` for every non-reference fold.

    Completes the drift family's FOURTH lens: PSI is a divergence
    (support-sensitive, unbounded), JSD a bounded divergence, W1 the
    magnitude of the move in value units — KS is the sup-norm CDF gap
    ``max_b |CDF_cur(b) − CDF_ref(b)|`` in [0, 1], the classic
    distribution-shift test statistic (feeds the D_{n,m} critical
    value ``c(α)·sqrt((n+m)/(n·m))`` driver-side if a p-value is
    wanted). For step CDFs the sup is attained at a jump point, and
    every jump point is an observed bin of SOME fold, so evaluating
    over the union of observed bins is exact — no dense grid needed.

    Determinism: the gap is computed EXACTLY in integers —
    ``|C_cur(b)·N_ref − C_ref(b)·N_cur|`` as decimal cross-products of
    cumulative long counts — and MAX is order-free, so both engines
    pick the same exact numerator and perform one identical double
    division by ``N_cur·N_ref``. No float summation anywhere.

    Shape: :func:`_bin_counts` and :func:`_cdf_view` at the observed
    bins, then the max per fold.
    """
    dec = "decimal(18,0)"
    counts = _bin_counts(binned, fold_col, bin_col)
    gap = F.abs(
        F.col("_cum").cast(dec) * F.col("_rtot").cast(dec)
        - F.col("_rcum").cast(dec) * F.col("_tot").cast(dec)
    )
    per = (
        _cdf_view(counts, fold_col, bin_col, ref_fold, _observed_bins(counts, bin_col))
        .groupBy(fold_col)
        .agg(
            F.max(gap).alias("_num"),
            F.max("_tot").alias("_n"),
            F.max("_rtot").alias("_rn"),
        )
    )
    # try_divide: an empty reference fold (every row landed in the
    # other fold -- r5 degenerate-fuzz single-week calendars) makes
    # N_cur*N_ref = 0; KS is then undefined -> NULL, the oracle's
    # NULL-on-zero-divide answer (ANSI division ERRORed here)
    ks = F.try_divide(
        F.col("_num").cast("double"),
        F.col("_n").cast("double") * F.col("_rn").cast("double"),
    )
    return per.select(
        F.col(fold_col).alias("fold"),
        F.round(ks, 6).alias("ks"),
        F.col("_n").cast("long").alias("n_cur"),
        F.col("_rn").cast("long").alias("n_ref"),
    )


def qq_shift(
    binnable: DataFrame,
    value_col: str,
    fold_col: str,
    ref_fold: str,
    probs: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    *,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-quantile drift magnitudes: the QQ table behind the drift
    scores — for every non-reference fold and probability p, the
    fold's p-quantile, the reference's, and their difference in VALUE
    units. PSI/JSD/KS say "the distribution moved"; W1 says "by this
    much on average"; this says WHERE it moved (tail-only vs
    everywhere) — the triage view an on-call engineer reads first.

    ``exact=True`` is the np.quantile analog (linear interpolation,
    oracle-exact at round(6)); pass ``exact=False`` at 10^12 rows for
    the GK-sketch `approx_percentile` (A10 buffer discipline —
    bounded memory, mergeable partials).

    Shape: ONE fold-keyed hash agg computing the whole probability
    vector per fold (never a per-p scan), posexplode of the
    |folds|×|probs| result, broadcast ref join. The corpus is touched
    once.
    """
    arr = ",".join(str(float(p)) for p in probs)
    fn = (
        f"percentile({value_col}, array({arr}))"
        if exact
        else f"approx_percentile({value_col}, array({arr}), {int(accuracy)})"
    )
    per_fold = binnable.groupBy(fold_col).agg(F.expr(fn).alias("_qs"))
    probs_arr = F.array(*[F.lit(float(p)) for p in probs])
    long_q = per_fold.select(
        fold_col, F.posexplode("_qs").alias("_i", "_q")
    ).select(
        fold_col,
        F.element_at(probs_arr, F.col("_i") + 1).alias("prob"),
        F.col("_q").cast("double").alias("_q"),
    )
    ref = long_q.where(F.col(fold_col) == ref_fold).select(
        "prob", F.col("_q").alias("q_ref")
    )
    cur = long_q.where(F.col(fold_col) != ref_fold)
    return cur.join(F.broadcast(ref), "prob").select(
        F.col(fold_col).alias("fold"),
        "prob",
        F.round(F.col("_q"), 6).alias("q_cur"),
        F.round(F.col("q_ref"), 6).alias("q_ref"),
        F.round(F.col("_q") - F.col("q_ref"), 6).alias("shift"),
    )


def cvm_from_bins(
    binned: DataFrame,
    fold_col: str,
    bin_col: str,
    ref_fold: str,
) -> DataFrame:
    """Binned two-sample Cramér–von Mises criterion vs the reference
    fold → ``(fold, cvm, n_cur, n_ref)`` for every non-reference fold.

    The FIFTH drift lens: KS reports only the single WORST CDF gap —
    a spike in one bin and a broad small shift can score identically.
    CvM integrates the SQUARED CDF gap over the pooled empirical
    measure,

        cvm = sum_b w_b * (F_cur(b) - F_ref(b))^2,
        w_b = (n_cur,b + n_ref,b) / (N_cur + N_ref),

    so distributed (many-bin) drift accumulates instead of being
    hidden behind the max — the sensitivity profile complementary to
    KS's sup-norm. Like KS, step CDFs make evaluation over the union
    of observed bins exact.

    Determinism: the weighted sum is computed EXACTLY in integers —
    per bin, ``(C_cur·N_ref − C_ref·N_cur)^2 · (n_cur,b + n_ref,b)``
    as decimal(38,0) products of cumulative long counts, summed
    order-free — then ONE double division by ``(N_cur·N_ref)^2 ·
    (N_cur+N_ref)``. No float summation anywhere. Envelope: the
    decimal numerator holds while ``N_cur·N_ref·sqrt(N) < 10^19`` per
    term-set (true through ~10^7 rows/fold — the gate scales); past
    that, divide the cross-product gap once in double per bin before
    squaring (identical expression both engines) — the documented
    big-N variant.

    Shape: :func:`_bin_counts` and :func:`_cdf_view` at the observed
    bins, as in :func:`ks_from_bins`; only the per-fold reduce differs.
    """
    dec = "decimal(38,0)"
    counts = _bin_counts(binned, fold_col, bin_col)
    gap = (
        F.col("_cum").cast(dec) * F.col("_rtot").cast(dec)
        - F.col("_rcum").cast(dec) * F.col("_tot").cast(dec)
    )
    term = gap * gap * (F.col("_n_b") + F.col("_rn_b")).cast(dec)
    per = (
        _cdf_view(counts, fold_col, bin_col, ref_fold, _observed_bins(counts, bin_col))
        .groupBy(fold_col)
        .agg(
            F.sum(term).alias("_num"),
            F.max("_tot").alias("_n"),
            F.max("_rtot").alias("_rn"),
        )
    )
    nn = F.col("_n").cast("double")
    rn = F.col("_rn").cast("double")
    # try_divide: an empty fold makes the statistic undefined -> NULL
    # (the oracle's NULL-on-zero-divide; ANSI ERRORed on the r5
    # degenerate single-fold calendars)
    cvm = F.try_divide(
        F.col("_num").cast("double"), nn * rn * nn * rn * (nn + rn)
    )
    return per.select(
        F.col(fold_col).alias("fold"),
        F.round(cvm, 6).alias("cvm"),
        F.col("_n").cast("long").alias("n_cur"),
        F.col("_rn").cast("long").alias("n_ref"),
    )


def anderson_darling_from_bins(
    binned: DataFrame,
    fold_col: str,
    bin_col: str,
    ref_fold: str,
) -> DataFrame:
    """Binned two-sample Anderson–Darling statistic vs the reference
    fold → ``(fold, ad, n_cur, n_ref)`` — the SIXTH drift lens, and
    the TAIL-sensitive one: where CvM weights squared CDF gaps by
    pooled mass alone, AD divides by ``H(1−H)`` (pooled CDF), which
    blows up near 0 and 1 — so a drift confined to the distribution's
    extremes (exactly where quality filters and outlier guards act)
    scores loudly here while KS/CvM barely move:

        A² = Σ_j h_j · (C1_j·n2 − C2_j·n1)²
                   / (n1 · n2 · CH_j · (N − CH_j)),

    summed over pooled jump points with CH_j < N (the H=1 endpoint is
    excluded by convention). Exact integer numerators; each term is
    ONE fixed-shape double chain floored onto the 1e-9 grid and
    summed as decimal (order-free) — the CvM/AP discipline.

    Shape: :func:`_bin_counts` and :func:`_cdf_view` at the observed
    bins, as in :func:`ks_from_bins`; only the per-fold reduce differs.
    """
    dec = "decimal(38,0)"
    counts = _bin_counts(binned, fold_col, bin_col)
    gap = (
        F.col("_cum").cast("double") * F.col("_rtot").cast("double")
        - F.col("_rcum").cast("double") * F.col("_tot").cast("double")
    )
    h = (F.col("_n_b") + F.col("_rn_b")).cast("double")
    ch = (F.col("_cum") + F.col("_rcum")).cast("double")
    nn = (F.col("_tot") + F.col("_rtot")).cast("double")
    # try_divide chain: an empty fold (or degenerate cum boundary)
    # nulls the per-bin term instead of ANSI-erroring; SUM then skips
    # the NULL terms exactly as the DuckDB oracle does
    term = F.when(
        ch < nn,
        F.floor(
            F.try_divide(
                F.try_divide(
                    F.try_divide(
                        gap * gap * h * F.lit(1.0e9),
                        F.col("_tot").cast("double")
                        * F.col("_rtot").cast("double"),
                    ),
                    ch,
                ),
                nn - ch,
            )
        ).cast(dec),
    )
    per = (
        _cdf_view(counts, fold_col, bin_col, ref_fold, _observed_bins(counts, bin_col))
        .groupBy(fold_col)
        .agg(
            F.sum(term).alias("_num"),
            F.max("_tot").alias("_n"),
            F.max("_rtot").alias("_rn"),
        )
    )
    return per.select(
        F.col(fold_col).alias("fold"),
        F.round(F.col("_num").cast("double") / F.lit(1.0e9), 6).alias("ad"),
        F.col("_n").cast("long").alias("n_cur"),
        F.col("_rn").cast("long").alias("n_ref"),
    )


def ks_pair_matrix(
    binned: DataFrame,
    group_col: str,
    bin_col: str,
) -> DataFrame:
    """Pairwise Kolmogorov–Smirnov matrix across ALL groups (every
    unordered pair), not just each-vs-reference — the full-mesh view
    :func:`ks_from_bins` can't give: with k sources the reference
    view hides which NON-reference pair diverged (a contaminated
    source pair can agree with the reference on average while
    disagreeing with each other). Output per pair (a < b):
    ``(group_a, group_b, ks, n_a, n_b)``.

    Shape: :func:`_bin_counts`, then :func:`_cumulative` over every
    group × the observed bins; the pair join runs on that (groups ×
    bins)-sized CDF table — k²·bins rows, domain-bounded regardless
    of row count. Exact decimal cross-product numerators (the
    ks_from_bins discipline), one division per pair; a group whose
    rows all have NULL bins has ``n = 0`` and KS NULL.
    """
    dec = "decimal(18,0)"
    counts = _bin_counts(binned, group_col, bin_col)
    groups = counts.select(group_col).distinct()
    grid = groups.crossJoin(F.broadcast(_observed_bins(counts, bin_col)))
    cdf = _cumulative(grid, counts, group_col, bin_col)
    left = cdf.select(
        F.col(group_col).alias("group_a"),
        bin_col,
        F.col("_cum").alias("_ca"),
        F.col("_tot").alias("_na"),
    )
    right = cdf.select(
        F.col(group_col).alias("group_b"),
        bin_col,
        F.col("_cum").alias("_cb"),
        F.col("_tot").alias("_nb"),
    )
    pairs = left.join(right, [bin_col]).where(F.col("group_a") < F.col("group_b"))
    gap = F.abs(
        F.col("_ca").cast(dec) * F.col("_nb").cast(dec)
        - F.col("_cb").cast(dec) * F.col("_na").cast(dec)
    )
    per = pairs.groupBy("group_a", "group_b").agg(
        F.max(gap).alias("_num"),
        F.max("_na").alias("_n_a"),
        F.max("_nb").alias("_n_b"),
    )
    ks = F.try_divide(
        F.col("_num").cast("double"),
        F.col("_n_a").cast("double") * F.col("_n_b").cast("double"),
    )
    return per.select(
        "group_a",
        "group_b",
        F.round(ks, 6).alias("ks"),
        F.col("_n_a").cast("long").alias("n_a"),
        F.col("_n_b").cast("long").alias("n_b"),
    ).orderBy("group_a", "group_b")
