"""In-engine trained text-quality classifier: distributed logistic
regression over hashed n-gram count features.

The Gopher screen (``textstats.gopher_rule_flags``) is a HAND-RULE
quality filter; production corpus pipelines (CCNet, fasttext-style
quality scoring, LLaMA's Wikipedia-reference classifier) replace the
rules with a TRAINED classifier whose smooth score supports
thresholding, importance sampling (``dsir_scores``) and curriculum
ordering. This module trains that classifier entirely in-engine —
10^12 docs never leave the cluster — by distilling the rule screen:
label = "passes ALL Gopher rules", features = hashed token-count
buckets, model = L2-damped diagonal-Newton logistic regression.

Reference anchor: the calibrate-then-threshold discipline of
``src/calibration.py:101-128`` (sigmoid fit on distributed sufficient
statistics — the ``platt_scaling`` shape lifted from 2 parameters to
a hashed weight vector).

Scale shape: the corpus collapses ONCE to the doc×bucket count table
(one explode + one hash agg, ≤ ``n_features + 1`` rows per doc,
cached while the steps run); every one of the fixed ``n_iter`` update steps is then
one broadcast of the (n_features+1)-row weight table + two hash aggs
over that compact table — the distributed-gradient shape
``spark.ml``'s LogisticRegression uses, with bucket-sized driver
state only. No per-row Python anywhere.

Determinism recipe (the huber_location/markov_stationary discipline,
carried through a D-dimensional iterate): weights live on the exact
1e-9 integer grid; per-doc scores ``zq = Σ x·wq`` are exact integer
sums (counts × grid-longs, |zq| < 2^53 so the single divide-by-1e9
is exact); the sigmoid is the ONE transcendental, evaluated with the
same expression shape both engines (``1/(1+exp(-z))`` on clamped z —
the ``normal_cdf`` portability precedent), then immediately HALF_UP
re-quantized to integer grids (``pq``, ``hq``) so gradients and
Hessian diagonals are order-free exact-integer sums (decimal(38,0)).
Each update rounds back to the weight grid; Newton contraction plus
the final 6dp rounding damp any residual last-ulp exp() wobble (the
``platt_calibration`` argument, verified by the DuckDB oracle gates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_Q = 1_000_000_000  # 1e-9 fixed-point grid for weights and sigmoids
_ZCLAMP = 30.0  # |z| cap: sigmoid saturates, exp() stays in range


def hashed_doc_features(
    docs: DataFrame,
    label: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 16,
    x_cap: int = 10,
) -> DataFrame:
    """``(doc_id, y, j, x)``: per-document hashed token-count features
    — bucket ``j = stable_hash48(token) % n_features`` with integer
    count ``x`` CLIPPED at ``x_cap`` (the standard hashing-trick count
    clip: it bounds per-coordinate leverage so no single hot bucket
    dominates the Newton steps, and measured +3-5pp accuracy on the
    rule-distillation task), plus one bias row ``j = n_features,
    x = 1`` per doc (so empty documents still carry the intercept).
    The hash is the engine's cross-engine md5-prefix
    (``stable_hash48``), making the feature space reproducible on any
    engine with md5."""
    from kkbox_churn_prediction_spark.functions.text import (
        normalize_text,
        stable_hash48,
        tokens,
    )

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        # NULL label (rule predicates on NULL text evaluate to NULL)
        # = "cannot pass the screen" -> 0, so y is never NULL and
        # every doc contributes its residual (matches the oracle's
        # CASE ... ELSE 0; fuzz finding on NULL-text documents)
        F.coalesce(label.cast("int"), F.lit(0)).alias("y"),
        tokens(normalize_text(F.col(text_col))).alias("_toks"),
    )
    counts = (
        base.select("doc_id", "y", F.explode("_toks").alias("_w"))
        .select(
            "doc_id",
            "y",
            F.pmod(stable_hash48(F.col("_w")), F.lit(int(n_features))).alias("j"),
        )
        .groupBy("doc_id", "y", "j")
        .agg(
            F.least(F.count(F.lit(1)), F.lit(int(x_cap)))
            .cast("long")
            .alias("x")
        )
    )
    bias = base.select(
        "doc_id",
        "y",
        F.lit(int(n_features)).cast("bigint").alias("j"),
        F.lit(1).cast("long").alias("x"),
    )
    return counts.unionByName(bias)


def _sigmoid_quant(zq_col):
    """(p, pq, hq) from an exact integer grid score: the shared
    clamp + sigmoid + HALF_UP re-quantization step — ONE expression
    shape, mirrored verbatim in the DuckDB oracle."""
    z = zq_col.cast("double") / F.lit(float(_Q))
    zc = F.least(F.greatest(z, F.lit(-_ZCLAMP)), F.lit(_ZCLAMP))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-zc))
    pq = F.round(p * F.lit(float(_Q))).cast("long")
    hq = F.round(p * (F.lit(1.0) - p) * F.lit(float(_Q))).cast("long")
    return p, pq, hq


def quality_classifier_fit(
    feats: DataFrame,
    *,
    n_features: int = 16,
    n_iter: int = 24,
    ridge: float = 1.0,
    damping: float = 0.1,
    h_floor: float = 0.01,
    mode: str = "auto",
) -> DataFrame:
    """Fit the hashed-feature logistic model on a
    :func:`hashed_doc_features` table by ``n_iter`` FIXED damped
    diagonal-Newton steps (no convergence break — the determinism
    guard). Per step, with current grid weights ``wq``:

    - ``zq_i = Σ_j x_ij·wq_j`` (exact integer), ``p_i = σ(zq/1e9)``
      on clamped z, re-quantized to ``pq``/``hq`` grids with ``hq``
      FLOORED at ``h_floor`` (saturated sigmoids zero the Hessian
      diagonal and un-floored Newton steps then explode off the ridge
      alone — measured divergence without it);
    - gradient ``G_j = Σ_i x_ij·(y_i·1e9 − pq_i)`` and Hessian
      diagonal ``H_j = Σ_i x²_ij·hq_i`` as decimal(38,0) exact sums
      (order-free — safe at 10^12 docs);
    - ``wq_j += round(damping · G_j/(H_j + ridge·1e9) · 1e9)`` —
      the L2/Levenberg damping also regularizes never-seen buckets,
      and ``damping = 0.1`` compensates the diagonal approximation's
      blindness to bucket co-occurrence (all coordinates step at
      once; full-step diagonal Newton measured divergent at D ≥ 32).

    Output: one row per feature ``(feature, weight, n_docs_with,
    n_docs, n_pos)`` — ``feature = n_features`` is the intercept;
    diagnostics columns are constants for joins-free inspection.

    Execution modes (outputs hash-identical, pytest-asserted — every
    quantity between sigmoids is exact-integer, and the replay's
    scalar ``math.exp`` agrees with the JVM's ``F.exp`` through the
    immediate re-quantization, the same empirical contract the DuckDB
    oracle already certifies at three scale factors):
    ``mode="driver"`` Arrow-collects the compact doc×bucket table
    ONCE and replays the identical quantized Newton steps as int64
    scatter-sums — ONE Spark job instead of ``n_iter`` checkpointed
    rounds (measured 12.4s → ~1.5s at sf0.1). ``mode="auto"``
    (default) bounds the collect with ``limit(max+1)`` against the
    session replay budget (``replay.driver_replay_max_rows``) and
    falls back to the distributed loop above it — the 10^12-doc path,
    unchanged and still the certified plan shape.
    """
    if mode not in ("auto", "driver", "distributed"):  # pragma: no cover
        raise ValueError(f"unknown mode {mode!r}")
    if mode != "distributed":
        from kkbox_churn_prediction_spark.operators.replay import (
            driver_replay_max_rows,
        )

        max_rows = driver_replay_max_rows(feats.sparkSession)
        probe = feats.limit(max_rows + 1) if mode == "auto" else feats
        tbl = probe.toArrow()
        # empty input falls through to the distributed path so the
        # degenerate 17-row all-zero report keeps ONE shape
        if (mode == "driver" or tbl.num_rows <= max_rows) and tbl.num_rows > 0:
            return _quality_fit_driver(
                feats.sparkSession,
                tbl,
                int(n_features),
                int(n_iter),
                float(ridge),
                float(damping),
                float(h_floor),
            )
    spark = feats.sparkSession
    D = int(n_features)
    dec = "decimal(38,0)"
    x = F.col("x")
    # pre-partition by doc_id ONCE: the per-step score agg then needs
    # no exchange (hash(doc_id) already satisfies its distribution)
    # and the feats ⋈ per_doc gradient join is co-partitioned — each
    # Newton step's only shuffle is the (n_features+1)-key gradient
    # agg. Measured 16.5s → ~7s at sf0.1, and at 10^12 docs it removes
    # 2 corpus-sized exchanges per iteration.
    feats = feats.repartition("doc_id").persist()
    # totals/support are bucket-sized and materialized eagerly, so the
    # doc×bucket table is cached only while the loop reads it
    try:
        totals = feats.where(F.col("j") == D).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
        ).localCheckpoint(eager=True)
        support = feats.where(F.col("j") < D).groupBy("j").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_with")
        ).localCheckpoint(eager=True)
        w = spark.range(D + 1).select(
            F.col("id").alias("j"), F.lit(0).cast("long").alias("wq")
        )
        ridge_q = int(round(float(ridge) * _Q))
        floor_q = int(round(float(h_floor) * _Q))
        damp = float(damping)
        for _ in range(int(n_iter)):
            # groupBy(doc_id) alone (y is functionally dependent, carried
            # with max) so the agg's required distribution matches the
            # persisted hash(doc_id) partitioning — zero exchange here
            zq = (
                feats.join(F.broadcast(w), "j")
                .groupBy("doc_id")
                .agg(
                    F.sum(x * F.col("wq")).cast("long").alias("zq"),
                    F.max("y").alias("y"),
                )
            )
            _, pq, hq = _sigmoid_quant(F.col("zq"))
            per_doc = zq.select(
                "doc_id",
                (F.col("y").cast("long") * F.lit(_Q) - pq).alias("rq"),
                F.greatest(hq, F.lit(floor_q)).alias("hq"),
            )
            grads = (
                feats.join(per_doc, "doc_id")
                .groupBy("j")
                .agg(
                    F.sum((x * F.col("rq")).cast(dec)).alias("G"),
                    F.sum((x * x * F.col("hq")).cast(dec)).alias("H"),
                )
            )
            w = (
                w.join(grads, "j", "left")
                .select(
                    "j",
                    (
                        F.col("wq")
                        + F.round(
                            F.lit(damp)
                            * (
                                F.coalesce(F.col("G"), F.lit(0)).cast("double")
                                / (
                                    F.coalesce(F.col("H"), F.lit(0)).cast("double")
                                    + F.lit(float(ridge_q))
                                )
                            )
                            * F.lit(float(_Q))
                        ).cast("long")
                    ).alias("wq"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        feats.unpersist()
    return (
        w.join(F.broadcast(support), "j", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("j").cast("int").alias("feature"),
            F.round(F.col("wq").cast("double") / F.lit(float(_Q)), 6).alias(
                "weight"
            ),
            F.when(F.col("j") == D, F.col("n_docs"))  # bias: every doc
            .otherwise(F.coalesce(F.col("n_docs_with"), F.lit(0)))
            .alias("n_docs_with"),  # 0 = bucket no token ever hit
            "n_docs",
            "n_pos",
        )
        .orderBy("feature")
    )


def _quality_fit_driver(
    spark,
    tbl,
    D: int,
    n_iter: int,
    ridge: float,
    damping: float,
    h_floor: float,
) -> DataFrame:
    """Driver-side replay of :func:`quality_classifier_fit` over the
    Arrow-collected doc×bucket table: int64 scatter-sums (``np.add.at``
    — exact integers to ±9.2e18, far past the 2M-row replay budget's
    worst case) for z/G/H, scalar glibc ``math.exp`` for the one
    transcendental (the independent-scalar-trainer test already pins
    its agreement with the JVM through the quantization grid), the
    identical HALF_UP 1e-9 re-quantization between steps."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    pdf = tbl.to_pandas()
    q_ = float(_Q)
    ridge_q = float(int(round(ridge * _Q)))
    floor_q = int(round(h_floor * _Q))
    if len(pdf) == 0:
        schema = T.StructType(
            [
                T.StructField("feature", T.IntegerType(), False),
                T.StructField("weight", T.DoubleType(), True),
                T.StructField("n_docs_with", T.LongType(), True),
                T.StructField("n_docs", T.LongType(), True),
                T.StructField("n_pos", T.LongType(), True),
            ]
        )
        return spark.createDataFrame([], schema)
    codes, _uniq = pd.factorize(pdf["doc_id"])
    j = pdf["j"].to_numpy(np.int64)
    x = pdf["x"].to_numpy(np.int64)
    n_docs_idx = int(codes.max()) + 1
    y_doc = np.zeros(n_docs_idx, np.int64)
    y_doc[codes] = pdf["y"].to_numpy(np.int64)

    def rhu(v: np.ndarray) -> np.ndarray:
        return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))

    wq = np.zeros(D + 1, np.int64)
    for _ in range(n_iter):
        zq = np.zeros(n_docs_idx, np.int64)
        np.add.at(zq, codes, x * wq[j])
        z = np.clip(zq / q_, -_ZCLAMP, _ZCLAMP)
        p = np.array([1.0 / (1.0 + math.exp(-v)) for v in z])
        pq = rhu(p * q_).astype(np.int64)
        hq = np.maximum(rhu(p * (1.0 - p) * q_).astype(np.int64), floor_q)
        rq = y_doc * _Q - pq
        G = np.zeros(D + 1, np.int64)
        H = np.zeros(D + 1, np.int64)
        np.add.at(G, j, x * rq[codes])
        np.add.at(H, j, x * x * hq[codes])
        delta = damping * (G.astype(np.float64) / (H.astype(np.float64) + ridge_q)) * q_
        wq = wq + rhu(delta).astype(np.int64)

    support = np.zeros(D + 1, np.int64)
    np.add.at(support, j, 1)
    n_docs = int((j == D).sum())  # one bias row per doc
    n_pos = int(y_doc.sum())
    support[D] = n_docs
    rows = [
        (
            int(f),
            float(rhu(np.array([wq[f] / q_ * 1e6]))[0]) / 1e6,
            int(support[f]),
            n_docs,
            n_pos,
        )
        for f in range(D + 1)
    ]
    schema = (
        "feature int, weight double, n_docs_with long, n_docs long, n_pos long"
    )
    return spark.createDataFrame(rows, schema)


def quality_classifier_score(
    feats: DataFrame,
    weights: DataFrame,
    *,
    n_features: int = 16,
) -> DataFrame:
    """Score every document with a fitted weight table:
    ``(doc_id, y, quality_prob, pred_pass)``. ``pred_pass`` is the
    EXACT sign of the integer grid score (``zq >= 0`` ⟺ p ≥ 0.5 —
    no float threshold comparison), so the decision is cross-engine
    exact even where the 6dp probability rounds.

    Shape: the (n_features+1)-row weight table broadcasts onto the
    compact doc×bucket stream; one hash agg per doc. The corpus never
    shuffles to get scored."""
    wq = weights.select(
        F.col("feature").cast("bigint").alias("j"),
        F.round(F.col("weight") * F.lit(float(_Q))).cast("long").alias("wq"),
    )
    zq = (
        feats.join(F.broadcast(wq), "j")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("x") * F.col("wq")).cast("long").alias("zq"))
    )
    p, _, _ = _sigmoid_quant(F.col("zq"))
    return zq.select(
        "doc_id",
        "y",
        F.round(p, 6).alias("quality_prob"),
        (F.col("zq") >= 0).cast("int").alias("pred_pass"),
    ).orderBy("doc_id")
