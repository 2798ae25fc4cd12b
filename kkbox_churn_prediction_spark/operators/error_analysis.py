"""Error-analysis tail reports (SURVEY §2.10 F3 companions).

The reference's ``ChurnErrorAnalyzer`` (``src/error_analysis.py``)
finishes its report with two pieces the engine lacked until now:

- ``_find_hardest_examples`` (``src/error_analysis.py:245-280``) —
  the top-k exemplar pulls a modeler actually reads: borderline
  false negatives (missed churners, sorted by how close the score
  came), borderline false positives (wasted retention spend), and
  the high-confidence errors (most concerning: the model was sure
  AND wrong). pandas ``nlargest`` over in-memory arrays there.
- ``_compute_business_impact`` (``src/error_analysis.py:282-308``) —
  the FP/FN business-cost confusion rollup against the two naive
  baselines (treat-everyone / treat-no-one).

Re-expressed distributed:

- Hardest examples are three ``orderBy().limit(k)`` branches — each
  plans ``TakeOrderedAndProject`` (per-partition top-k heaps merged
  on the driver; k rows of driver state, NO global sort, NO
  single-partition exchange) — unioned with a category tag. All
  three categories are subsets of the misclassified rows, so each
  branch's filter reaches the scan. Ties break on the id column so
  the k-th row is deterministic cross-engine.
- The cost rollup is ONE conditional-count hash aggregate (map-side
  partials) + fixed-shape double algebra on the four exact longs.

One deliberate deviation from the reference: it computes
``confidence_when_wrong`` with ``y_pred.round() != y_true`` while
every other wrongness test uses ``y_pred_binary`` (>= threshold) —
an inconsistency at p exactly 0.5. The engine uses the binary
decision rule everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _decorated(
    preds: DataFrame, label_col: str, prob_col: str, threshold: float
) -> DataFrame:
    y = F.col(label_col).cast("int")
    p = F.col(prob_col).cast("double")
    return preds.withColumn(
        "pred_binary", (p >= F.lit(float(threshold))).cast("int")
    ).withColumn("error", F.abs(y.cast("double") - p)).withColumn(
        "confidence", F.greatest(p, F.lit(1.0) - p)
    )


def hardest_examples(
    preds: DataFrame,
    id_col: str,
    label_col: str,
    prob_col: str,
    *,
    threshold: float = 0.5,
    k: int = 20,
) -> DataFrame:
    """Top-k misclassified exemplars per category
    (``src/error_analysis.py:245-280``): ``false_negative`` (y=1
    predicted 0, highest score first — the closest misses),
    ``false_positive`` (y=0 predicted 1, highest score first — the
    most confident waste), ``high_confidence_error`` (any
    misclassified row, highest confidence first). Output columns:
    ``(category, <id>, y, p, pred_binary, error, confidence)``.

    Shape: the wrongness filter + category predicate push to the
    scan; each branch is TakeOrderedAndProject (bounded driver
    state); UNION ALL of three k-row results. A row can legitimately
    appear in two categories (its error category and the
    high-confidence list) — the reference reports the same way.
    """
    base = _decorated(preds, label_col, prob_col, threshold).select(
        F.col(id_col),
        F.col(label_col).cast("int").alias("y"),
        F.col(prob_col).cast("double").alias("p"),
        "pred_binary",
        "error",
        "confidence",
    )
    wrong = base.where(F.col("pred_binary") != F.col("y"))

    def top(df: DataFrame, tag: str, order: list[Column]) -> DataFrame:
        return (
            df.orderBy(*order, F.col(id_col).asc())
            .limit(int(k))
            .select(F.lit(tag).alias("category"), "*")
        )

    fn = top(wrong.where(F.col("y") == 1), "false_negative", [F.col("p").desc()])
    fp = top(wrong.where(F.col("y") == 0), "false_positive", [F.col("p").desc()])
    hc = top(wrong, "high_confidence_error", [F.col("confidence").desc()])
    out = fn.unionAll(fp).unionAll(hc)
    return out.select(
        "category",
        id_col,
        "y",
        F.round("p", 6).alias("p"),
        "pred_binary",
        F.round("error", 6).alias("error"),
        F.round("confidence", 6).alias("confidence"),
    )


def confusion_costs(
    preds: DataFrame,
    label_col: str,
    prob_col: str,
    *,
    threshold: float = 0.5,
    fp_cost: float = 10.0,
    fn_cost: float = 50.0,
) -> DataFrame:
    """FP/FN business-cost rollup (``src/error_analysis.py:282-308``,
    reference defaults fp_cost=10 / fn_cost=50): confusion counts,
    total cost, the cost ratio against the two naive baselines
    (predict-everyone-positive pays fp_cost per actual negative;
    predict-no-one pays fn_cost per actual positive), and the savings
    vs the cheaper baseline. One row.

    Shape: ONE conditional-count aggregate (four exact longs with
    map-side partials); everything after is fixed-shape double
    algebra on that single row.

    Second documented deviation: the reference computes
    ``all_positive_cost = (tp + tn) * fp_cost``
    (``src/error_analysis.py:291``) — but predicting EVERYONE
    positive wastes spend on every actual negative, which is
    ``tn + fp`` under the current classifier's masks; ``tp + tn``
    mixes caught positives into a spend count. The engine uses the
    actual-negative count (its ``all_negative_cost`` twin already
    uses actual positives ``tp + fn``, consistently).
    """
    y = F.col(label_col).cast("int")
    p = F.col(prob_col).cast("double")
    pred = (p >= F.lit(float(threshold))).cast("int")

    def cnt(cond: Column) -> Column:
        # plain SUM: over an EMPTY table it is NULL — exactly the
        # oracle's answer (an earlier coalesce-to-0 here diverged on
        # empty input: undefined confusion counts, not zero ones;
        # r5 empty-sweep). The cost_vs ratios' own guards still
        # collapse NULL baselines to 0.0.
        return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("long")

    one = preds.agg(
        cnt((pred == 1) & (y == 1)).alias("tp"),
        cnt((pred == 0) & (y == 0)).alias("tn"),
        cnt((pred == 1) & (y == 0)).alias("fp"),
        cnt((pred == 0) & (y == 1)).alias("fn"),
    )
    fpc, fnc = float(fp_cost), float(fn_cost)
    total_fp = F.col("fp").cast("double") * F.lit(fpc)
    total_fn = F.col("fn").cast("double") * F.lit(fnc)
    total = total_fp + total_fn
    # all-positive: every actual negative (tn + fp) is a wasted spend;
    # all-negative: every actual positive (tp + fn) is a lost customer
    all_pos = (F.col("tn") + F.col("fp")).cast("double") * F.lit(fpc)
    all_neg = (F.col("tp") + F.col("fn")).cast("double") * F.lit(fnc)
    return one.select(
        "tp",
        "tn",
        "fp",
        "fn",
        F.round(total_fp, 6).alias("total_fp_cost"),
        F.round(total_fn, 6).alias("total_fn_cost"),
        F.round(total, 6).alias("total_cost"),
        F.round(
            F.when(all_pos > 0, total / all_pos).otherwise(F.lit(0.0)), 6
        ).alias("cost_vs_all_positive"),
        F.round(
            F.when(all_neg > 0, total / all_neg).otherwise(F.lit(0.0)), 6
        ).alias("cost_vs_all_negative"),
        F.round(F.least(all_pos, all_neg) - total, 6).alias("savings_vs_baseline"),
    )


def permutation_importance(
    df: DataFrame,
    id_col: str,
    label_col: str,
    feature_weights: dict[str, float],
    *,
    intercept: float = 0.0,
    n_buckets: int = 64,
) -> DataFrame:
    """Permutation feature importance (Breiman 2001) of a fixed
    linear-sigmoid scorer: for each feature, break its row alignment
    by a deterministic permutation, rescore, and report the AUC the
    model loses — the model-agnostic "which signals carry the
    ranking" readout (reference analog: the feature-importance table
    of ``src/error_analysis.py``'s model report, recomputed without
    retraining).

    ``feature_weights`` maps feature column → weight; the score is
    ``sigmoid(intercept + Σ w_f·f)`` rounded to 6dp (per-row exp at
    round-6 — the platt_apply cross-engine precedent).

    The permutation is deterministic and DISTRIBUTED: rows hash into
    ``n_buckets`` buckets (``stable_hash48``), are ordered within
    each bucket by an independent hash, and each bucket's feature
    column is cyclically shifted by one (``lead`` + wraparound
    ``first``) — a true permutation of the full column (a product of
    bucket cycles) using only bucket-partitioned windows, never a
    global sort.

    All variants (base + one per feature) stack into ONE frame and
    AUC is computed per variant by the tie-aware Mann-Whitney machine
    (:func:`calibration.auc_ks_by_fold` — cumulative counts over
    DISTINCT rounded scores, bounded windows). Output per variant:
    ``(feature, n_pos, n_neg, auc, importance)`` with
    ``importance = auc_base − auc`` (round 6; the ``base`` row pins 0).
    """
    from kkbox_churn_prediction_spark.functions.text import stable_hash48
    from kkbox_churn_prediction_spark.operators.calibration import (
        auc_ks_by_fold,
    )

    feats = list(feature_weights)
    idc = F.col(id_col).cast("string")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("int").alias("_y"),
        *[F.col(f) for f in feats],
        F.pmod(stable_hash48(F.concat(F.lit("pib"), idc)), F.lit(int(n_buckets)))
        .alias("_bkt"),
        stable_hash48(F.concat(F.lit("pir"), idc)).alias("_hk"),
    )

    def _score(cols: dict[str, Column]) -> Column:
        lin = F.lit(float(intercept))
        for f in feats:
            lin = lin + F.lit(float(feature_weights[f])) * cols[f]
        return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-lin)), 6)

    from pyspark.sql import Window

    wb = Window.partitionBy("_bkt").orderBy("_hk", "_id")
    wb_full = wb.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    variants = []
    cols0 = {f: F.col(f) for f in feats}
    variants.append(
        base.select(
            F.lit("base").alias("variant"),
            F.col("_y").alias("y"),
            _score(cols0).alias("score"),
        )
    )
    for pf in feats:
        shifted = F.coalesce(
            F.lead(pf, 1).over(wb), F.first(pf).over(wb_full)
        )
        cols = {f: (shifted if f == pf else F.col(f)) for f in feats}
        variants.append(
            base.select(
                F.lit(pf).alias("variant"),
                F.col("_y").alias("y"),
                _score(cols).alias("score"),
            )
        )
    stacked = variants[0]
    for v in variants[1:]:
        stacked = stacked.unionAll(v)
    aucs = auc_ks_by_fold(stacked, "variant", "y", "score").select(
        F.col("variant").alias("feature"), "n_pos", "n_neg", "auc"
    )
    base_auc = aucs.where(F.col("feature") == "base").select(
        F.col("auc").alias("_base_auc")
    )
    return aucs.crossJoin(F.broadcast(base_auc)).select(
        "feature",
        "n_pos",
        "n_neg",
        "auc",
        F.round(F.col("_base_auc") - F.col("auc"), 6).alias("importance"),
    )
