"""A long-lived session must not pile up cached tables: every operator
that collects a small multi-read table into a literal, or caches an
intermediate only while its own driver loop re-reads it, leaves
Spark's CacheManager as it found it — here, empty after the five
``turn_features`` outputs and each such operator family ran on two
different inputs. (``huber_location`` and ``lsh_dbscan`` scope their
caches the same way but are left out: their distributed loops cost
more tier-1 time than the rest together.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.sources.synth import (
    clean_turns,
    generate_transcripts,
    to_spark,
)


def _frames(spark, turns, seed):
    from kkbox_churn_prediction_spark.operators import psi, windows
    from kkbox_churn_prediction_spark.operators.calibration import pinball_loss
    from kkbox_churn_prediction_spark.operators.components import pagerank
    from kkbox_churn_prediction_spark.operators.history import history_lag_features
    from kkbox_churn_prediction_spark.operators.labels import time_to_next_qualifying_turn
    from kkbox_churn_prediction_spark.operators.lags import lag_lead_features
    from kkbox_churn_prediction_spark.operators.quality_model import (
        hashed_doc_features,
        quality_classifier_fit,
    )
    from kkbox_churn_prediction_spark.operators.sampling import balance_weights, rake_weights
    from kkbox_churn_prediction_spark.operators.sessionize import session_aggregates
    from kkbox_churn_prediction_spark.operators.similarity import (
        embedding_covariance,
        mmr_rerank,
    )
    from kkbox_churn_prediction_spark.operators.spectral import (
        hits_scores,
        power_iteration_top_eigen,
    )
    from kkbox_churn_prediction_spark.operators.survival import survival_c_index
    from kkbox_churn_prediction_spark.operators.textstats import bpe_train_merges

    text_len = F.expr("CAST(length(text) AS BIGINT)")
    idx = F.col("turn_idx")
    binned = turns.select(
        F.when(F.dayofmonth("ts") % 2 == 0, "even").otherwise("odd").alias("fold"),
        psi.fixed_width_bins(text_len, 5.0, 10).alias("bin"),
    )
    edges = turns.select(
        (idx % 7).cast("long").alias("src"),
        ((idx * (seed + 2) + 1) % 7).cast("long").alias("dst"),
        F.lit(1).alias("w"),
    ).distinct()
    emb = spark.createDataFrame(
        [(i, [float((i * (seed + 3)) % 5 - 2), float(i % 3 - 1), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    cands = spark.createDataFrame(
        [(i, 1.0 - i / 10) for i in range(4)], "cand_id long, rel double"
    )
    sims = spark.createDataFrame(
        [(a, b, round(((a + b) * (seed + 1)) % 7 / 7, 6)) for a in range(4) for b in range(4)
         if a != b],
        "a long, b long, sim double",
    )
    docs = turns.where(F.col("text").isNotNull()).select(
        F.col("turn_idx").cast("long").alias("doc_id"), "text", "role"
    ).dropDuplicates(["doc_id"])
    return [
        # the five turn_features outputs; psi_from_bins stands for the
        # drift family's shared count table
        session_aggregates(turns),
        lag_lead_features(turns),
        time_to_next_qualifying_turn(turns),
        history_lag_features(turns, n_lags=2),
        psi.psi_from_bins(binned, "fold", "bin", ref_fold="even"),
        # the other count tables and the shared daily series
        balance_weights(turns, "role"),
        pinball_loss(
            turns.select(
                "role",
                text_len.alias("y"),
                F.when(idx % 2 == 0, "cal").otherwise("test").alias("split"),
            ),
            "role",
            "y",
            "split",
        ),
        survival_c_index(
            turns.select(
                (idx % 5).alias("duration_days"),
                (idx % 2).alias("observed"),
                (idx % 3).alias("score"),
            )
        ),
        windows.holt_linear_daily(turns),
        windows.quantile_trend_daily(turns, n_iter=1, mode="distributed"),
        # driver loops that cache while they iterate
        rake_weights(turns.withColumn("dow", F.dayofweek("ts")), "role", "dow", n_iter=1),
        pagerank(edges, iters=1, mode="distributed"),
        hits_scores(edges, 1, mode="auto"),
        power_iteration_top_eigen(embedding_covariance(emb), n_iter=1, mode="distributed"),
        quality_classifier_fit(
            hashed_doc_features(docs, F.col("role") == "user"), n_iter=1, mode="distributed"
        ),
        bpe_train_merges(docs, n_merges=2, driver_max_vocab=0),
        mmr_rerank(cands, sims, k=2, mode="distributed"),
    ]


def test_operators_leave_no_cached_table(spark):
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for seed in (3, 4):
        turns = clean_turns(
            to_spark(
                spark,
                generate_transcripts(n_convs=6, mean_turns=10, seed=seed, mega_conv=False),
            )
        )
        for df in _frames(spark, turns, seed):
            df.collect()
    assert cache.isEmpty()
