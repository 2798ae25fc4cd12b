"""Round-2 scale-safety tests (VERDICT items 1-3).

- quintile_bucket_stats: edge-bucketing is the shipped default and
  plans with NO window / single-partition sort; ntile stays available
  as the rank-exact small-data variant and agrees with edges up to
  edge ties.
- approx percentile modes (session_length_percentiles, quantile_edges)
  stay within tolerance of the exact paths.
- hot-shingle skew fixture: max_shingle_freq bounds the n-gram
  Jaccard pair join; an uncapped stop-shingle is quadratic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def values_df(spark):
    # 1000 deterministic 2-decimal "money" values with ties
    return spark.range(1000).select(
        F.col("id").alias("event_id"),
        (F.round((F.pmod(F.col("id") * 7919, F.lit(997))) / 7.0, 2)).alias("value"),
    )


def test_quintile_edges_plan_has_no_global_sort(values_df):
    from kkbox_churn_prediction_spark.operators.relational import quintile_bucket_stats

    out = quintile_bucket_stats(values_df, "value", "event_id", n_buckets=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_quintile_edges_vs_ntile_agree_up_to_ties(values_df):
    from kkbox_churn_prediction_spark.operators.relational import quintile_bucket_stats

    edges = {
        r["bucket"]: r
        for r in quintile_bucket_stats(
            values_df, "value", "event_id", 5, method="edges"
        ).collect()
    }
    ntile = {
        r["bucket"]: r
        for r in quintile_bucket_stats(
            values_df, "value", "event_id", 5, method="ntile"
        ).collect()
    }
    assert set(edges) == set(ntile) == {1, 2, 3, 4, 5}
    total = sum(r["n"] for r in edges.values())
    assert total == sum(r["n"] for r in ntile.values()) == 1000
    for b in range(1, 6):
        # equal-count up to values tied at a quantile edge
        assert abs(edges[b]["n"] - ntile[b]["n"]) <= 10
        assert edges[b]["min_value"] <= ntile[b]["max_value"]


def test_quintile_approx_edges_close_to_exact(values_df):
    from kkbox_churn_prediction_spark.operators.relational import quintile_bucket_stats

    exact = {
        r["bucket"]: r["n"]
        for r in quintile_bucket_stats(
            values_df, "value", "event_id", 5, exact_edges=True
        ).collect()
    }
    approx = {
        r["bucket"]: r["n"]
        for r in quintile_bucket_stats(
            values_df, "value", "event_id", 5, exact_edges=False
        ).collect()
    }
    for b in exact:
        assert abs(exact[b] - approx.get(b, 0)) <= 25  # ≤2.5% of rows per edge


def test_session_percentiles_approx_within_tolerance(spark):
    from kkbox_churn_prediction_spark.operators.relational import (
        session_length_percentiles,
    )

    sessions = spark.range(2000).select(
        (F.pmod(F.col("id") * 31, F.lit(97)) + 1).alias("n_turns")
    )
    exact = session_length_percentiles(sessions, exact=True).first()
    approx = session_length_percentiles(sessions, exact=False).first()
    assert approx["n_sessions"] == exact["n_sessions"] == 2000
    # GK sketch rank error ≤ n/accuracy → value error bounded by the
    # local value spacing; on this near-uniform 1..97 data ±2 is ample
    assert abs(approx["median_session_turns"] - exact["median_session_turns"]) <= 2
    assert abs(approx["p90_session_turns"] - exact["p90_session_turns"]) <= 2


def test_quantile_edges_approx_close_to_exact(spark):
    from kkbox_churn_prediction_spark.operators.psi import quantile_edges

    df = spark.range(5000).select((F.col("id") % 1000).cast("double").alias("v"))
    exact = quantile_edges(df, "v", 10, exact=True)
    approx = quantile_edges(df, "v", 10, exact=False, accuracy=10000)
    assert len(exact) == len(approx) == 9
    for a, b in zip(exact, approx):
        assert abs(a - b) <= 5.0  # 0.5% of the 0..999 range


@pytest.fixture(scope="module")
def hot_shingle_docs(spark):
    """200 docs sharing one boilerplate opening (a stop-shingle in
    every doc) followed by unique tails — the adversarial shape where
    an uncapped shingle join goes quadratic."""
    return spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("terms of service apply here "),
            F.lit("unique tail "),
            F.col("id").cast("string"),
            F.lit(" alpha"),
            F.col("id").cast("string"),
            F.lit(" beta"),
            F.col("id").cast("string"),
        ).alias("text"),
    )


def test_hot_shingle_cap_bounds_pair_join(hot_shingle_docs):
    from kkbox_churn_prediction_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_stream,
    )
    from kkbox_churn_prediction_spark.functions.text import stable_hash48

    # uncapped candidate pairs: every doc pairs with every other via
    # the shared boilerplate shingles → O(n²) candidate rows
    sh = shingle_stream(hot_shingle_docs, "text", 3).select(
        "doc_id", stable_hash48(F.col("shingle")).alias("shingle")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    uncapped_candidates = (
        a.join(b, "shingle").where(F.col("doc_a") < F.col("doc_b")).count()
    )
    assert uncapped_candidates >= 200 * 199 / 2  # quadratic blow-up is real

    # the cap removes shingles present in >10 docs → the boilerplate
    # drops out and NO candidate pair survives (tails are unique)
    capped = sh.join(
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("f")).where(F.col("f") <= 10),
        "shingle",
    )
    ca = capped.select(F.col("doc_id").alias("doc_a"), "shingle")
    cb = capped.select(F.col("doc_id").alias("doc_b"), "shingle")
    capped_candidates = (
        ca.join(cb, "shingle").where(F.col("doc_a") < F.col("doc_b")).count()
    )
    assert capped_candidates == 0

    # end-to-end: capped query returns no near-dup pairs, uncapped
    # declares all boilerplate-dominated docs near-dups of each other
    assert (
        ngram_jaccard_pairs(
            hot_shingle_docs, n=3, threshold=0.3, max_shingle_freq=10
        ).count()
        == 0
    )
    assert (
        ngram_jaccard_pairs(hot_shingle_docs, n=3, threshold=0.3).count() > 0
    )


def test_last_value_before_cutoff_plans_hash_agg(spark):
    """VERDICT #5: the struct-max pick must plan as a partial+final
    aggregate (map-side partials), not sort+window."""
    from datetime import datetime

    from kkbox_churn_prediction_spark.operators.relational import (
        last_value_before_cutoff,
    )

    turns = spark.createDataFrame(
        [
            ("c1", 0, "user", datetime(2024, 1, 1, 10)),
            ("c1", 1, "assistant", datetime(2024, 1, 1, 11)),
            ("c1", 2, "user", datetime(2024, 1, 3, 9)),
            ("c2", 0, "system", datetime(2024, 1, 2, 8)),
        ],
        "conv_id string, turn_idx int, role string, ts timestamp",
    )
    cutoffs = spark.createDataFrame(
        [(datetime(2024, 1, 2),), (datetime(2024, 1, 4),)],
        "cutoff_ts timestamp",
    )
    out = last_value_before_cutoff(turns, cutoffs, "role")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # a max over a struct plans SortAggregate (struct buffers aren't
    # hash-aggregable) — what matters at scale is that it's a
    # partial+final AGGREGATE (map-side combine collapses replicated
    # rows before the shuffle), not a window sort of the full stream
    assert "Aggregate" in plan
    assert "partial_max_by" in plan or "partial" in plan.lower()
    rows = {(r["conv_id"], r["cutoff_ts"]): r["last_role"] for r in out.collect()}
    assert rows[("c1", datetime(2024, 1, 2))] == "assistant"
    assert rows[("c1", datetime(2024, 1, 4))] == "user"
    assert rows[("c2", datetime(2024, 1, 4))] == "system"
    # bounded lookback drops turns older than the bound
    bounded = last_value_before_cutoff(turns, cutoffs, "role", lookback_days=1)
    b = {(r["conv_id"], r["cutoff_ts"]): r["last_role"] for r in bounded.collect()}
    assert b[("c1", datetime(2024, 1, 4))] == "user"  # within 1 day
    assert ("c2", datetime(2024, 1, 4)) not in b  # older than 1 day


def test_validate_features_report(spark):
    """Registry validation (reference src/features_processor.py:71-95):
    dtype mismatches, nulls violating a fill policy, and missing
    registered columns must all surface in the report."""
    from kkbox_churn_prediction_spark.operators.horizons import (
        FeatureSpec,
        validate_features,
    )

    df = spark.createDataFrame(
        [("c1", 1, 0.5, None), ("c2", None, 1.0, 3)],
        "conv_id string, turn_cnt_1d bigint, text_len_avg_1d double, wrong_type_1d bigint",
    )
    specs = (
        FeatureSpec("turn_cnt", "count"),              # fill=0 → no nulls allowed
        FeatureSpec("text_len_avg", "avg", fill=0.0),  # double, clean
        FeatureSpec("wrong_type", "avg"),              # expects double, got bigint
        FeatureSpec("absent", "count"),                # not in the frame
    )
    rep = {
        r["feature"]: r for r in validate_features(df, specs, (1,)).collect()
    }
    assert rep["turn_cnt_1d"]["dtype_ok"] and rep["turn_cnt_1d"]["n_null"] == 1
    assert not rep["turn_cnt_1d"]["null_policy_ok"]  # fill demands zero nulls
    assert rep["text_len_avg_1d"]["dtype_ok"] and rep["text_len_avg_1d"]["null_policy_ok"]
    assert not rep["wrong_type_1d"]["dtype_ok"]  # bigint where avg → double
    assert not rep["absent_1d"]["present"] and not rep["absent_1d"]["null_policy_ok"]


def test_psi_categorical_matches_reference_formula(spark):
    """Hand-computed golden for the categorical PSI semantics:
    denominator = total fold rows (nulls included), clip 1e-6."""
    import math

    from kkbox_churn_prediction_spark.operators.psi import psi_categorical

    rows = (
        [("ref", "a"), ("ref", "a"), ("ref", "b"), ("ref", None)]
        + [("cur", "a"), ("cur", "c"), ("cur", "c"), ("cur", "c")]
    )
    df = spark.createDataFrame(rows, "fold string, tool string")
    out = psi_categorical(df, "fold", ["tool"], ref_fold="ref")
    got = {(r["feature"], r["fold"]): r["psi"] for r in out.collect()}
    # a: cur 1/4 vs ref 2/4; b: cur 0→clip vs ref 1/4; c: cur 3/4 vs ref 0→clip
    expect = (
        (0.25 - 0.5) * math.log(0.25 / 0.5)
        + (1e-6 - 0.25) * math.log(1e-6 / 0.25)
        + (0.75 - 1e-6) * math.log(0.75 / 1e-6)
    )
    assert abs(got[("tool", "cur")] - round(expect, 6)) < 1e-9
