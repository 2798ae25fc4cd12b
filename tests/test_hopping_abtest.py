"""Hopping windows, Welch t-test, turn-taking."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.abtest import welch_t_stats
from kkbox_churn_prediction_spark.operators.rhythm import turn_taking
from kkbox_churn_prediction_spark.operators.windows import (
    hopping_window_counts,
    tumbling_window_counts,
)

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _turns(spark, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    return spark.createDataFrame(pdf)


class TestHopping:
    def test_each_turn_in_ratio_windows(self, spark):
        # one turn at 00:30 with 2h/1h windows -> windows starting 23:00 and 00:00
        rows = [("a", 0, "user", "x", None, T0 + timedelta(minutes=30))]
        out = hopping_window_counts(_turns(spark, rows), 7200, 3600).collect()
        starts = sorted(r["window_start_us"] for r in out)
        base_us = int(T0.timestamp()) * 1_000_000
        assert starts == [base_us - 3_600_000_000, base_us]
        assert all(r["n_turns"] == 1 and r["n_convs"] == 1 for r in out)

    def test_totals_conserved(self, spark):
        rows = [
            ("a", i, "user", "x", None, T0 + timedelta(minutes=17 * i)) for i in range(20)
        ] + [
            ("b", i, "user", "x", None, T0 + timedelta(minutes=23 * i)) for i in range(10)
        ]
        out = hopping_window_counts(_turns(spark, rows), 7200, 3600).collect()
        # each of the 30 turns appears in exactly width/slide = 2 windows
        assert sum(r["n_turns"] for r in out) == 60

    def test_slide_equals_width_is_tumbling(self, spark):
        rows = [
            ("a", i, "user", "x", None, T0 + timedelta(minutes=40 * i)) for i in range(12)
        ]
        hop = hopping_window_counts(_turns(spark, rows), 3600, 3600)
        tot_hop = sum(r["n_turns"] for r in hop.collect())
        tum = tumbling_window_counts(_turns(spark, rows), 3600)
        tot_tum = sum(r["n_turns"] for r in tum.collect())
        assert tot_hop == tot_tum == 12


class TestWelch:
    def test_against_scipy_formulas(self, spark):
        import numpy as np

        a = [1.0, 2.0, 3.0, 4.0, 5.0]
        b = [2.0, 4.0, 6.0, 8.0]
        pdf = pd.DataFrame(
            {"m": a + b, "g": ["a"] * len(a) + ["b"] * len(b)}
        )
        r = welch_t_stats(
            spark.createDataFrame(pdf), F.col("m"), F.col("g")
        ).collect()[0]
        va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
        se2 = va / len(a) + vb / len(b)
        t_exp = (np.mean(a) - np.mean(b)) / math.sqrt(se2)
        df_exp = se2**2 / (
            (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
        )
        assert abs(r["t_stat"] - t_exp) < 1e-12
        assert abs(r["welch_df"] - df_exp) < 1e-12
        assert r["n_a"] == 5 and r["n_b"] == 4

    def test_degenerate_variance(self, spark):
        pdf = pd.DataFrame({"m": [3.0, 3.0, 3.0, 3.0], "g": ["a", "a", "b", "b"]})
        r = welch_t_stats(spark.createDataFrame(pdf), F.col("m"), F.col("g")).collect()[0]
        assert r["t_stat"] == 0.0 and r["welch_df"] == 0.0 and r["cohens_d"] == 0.0


class TestTurnTaking:
    def test_alternation_extremes(self, spark):
        rows = [
            # a: perfect ping-pong (4 turns, 3 switches / 3 gaps)
            ("a", 0, "user", "x", None, T0),
            ("a", 1, "assistant", "x", None, T0 + timedelta(seconds=1)),
            ("a", 2, "user", "x", None, T0 + timedelta(seconds=2)),
            ("a", 3, "assistant", "x", None, T0 + timedelta(seconds=3)),
            # b: monologue
            ("b", 0, "user", "x", None, T0),
            ("b", 1, "user", "x", None, T0 + timedelta(seconds=1)),
            ("b", 2, "user", "x", None, T0 + timedelta(seconds=2)),
        ]
        got = {r["conv_id"]: r for r in turn_taking(_turns(spark, rows)).collect()}
        assert got["a"]["alternation_rate"] == 1.0
        assert abs(got["a"]["user_frac"] - 0.5) < 1e-12
        assert got["b"]["alternation_rate"] == 0.0
        assert got["b"]["user_frac"] == 1.0 and got["b"]["assistant_frac"] == 0.0

    def test_single_turn_conversation(self, spark):
        rows = [("a", 0, "user", "x", None, T0)]
        r = turn_taking(_turns(spark, rows)).collect()[0]
        assert r["n_turns"] == 1 and r["alternation_rate"] == 0.0


class TestDailyAnomalies:
    def test_spike_is_flagged(self, spark):
        from kkbox_churn_prediction_spark.operators.windows import daily_anomalies

        rows = []
        # 9 calm days of exactly 10 turns, then a 100-turn spike
        for d in range(9):
            for j in range(10):
                rows.append(("a", d * 10 + j, "user", "x", None,
                             T0 + timedelta(days=d, minutes=j)))
        for j in range(100):
            rows.append(("a", 900 + j, "user", "x", None,
                         T0 + timedelta(days=9, minutes=j)))
        out = {r["d"].day: r for r in daily_anomalies(_turns(spark, rows)).collect()}
        # calm days: zero variance -> z = 0, no flag
        assert not out[5]["is_anomaly"] and out[5]["z_score"] == 0.0
        # day 1 and 2 have <2 trailing observations -> z = 0
        assert out[1]["z_score"] == 0.0
        # the spike day's trailing window is constant-10: zero std hits
        # the sd>0 guard, so a flat baseline never flags (by design —
        # see the noisy-baseline case below for the genuine flag)
        assert out[10]["z_score"] == 0.0

    def test_spike_with_noisy_baseline(self, spark):
        from kkbox_churn_prediction_spark.operators.windows import daily_anomalies

        rows = []
        counts = [10, 12, 9, 11, 10, 12, 9, 11, 120]
        for d, c in enumerate(counts):
            for j in range(c):
                rows.append(("a", d * 200 + j, "user", "x", None,
                             T0 + timedelta(days=d, minutes=j)))
        out = sorted(daily_anomalies(_turns(spark, rows)).collect(), key=lambda r: r["d"])
        last = out[-1]
        assert last["n_turns"] == 120 and last["is_anomaly"]
        assert last["z_score"] > 3.0
        assert sum(r["is_anomaly"] for r in out) == 1


class TestCuped:
    def test_perfect_covariate_kills_variance(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import cuped_adjusted

        # y = x exactly -> theta = 1, adjusted variance = 0
        rows = [("a", i, i) for i in range(1, 7)] + [("b", i, i) for i in range(2, 8)]
        df = spark.createDataFrame(rows, "arm string, x long, y long")
        out = {r["arm"]: r for r in cuped_adjusted(df).collect()}
        assert out["a"]["theta"] == 1.0
        assert out["a"]["var_y_adj"] == 0.0 and out["b"]["var_y_adj"] == 0.0
        assert out["a"]["var_reduction"] == 1.0
        # adjusted means shift toward the pooled baseline but keep the
        # arm DIFFERENCE intact when allocation is balanced
        diff_raw = out["b"]["mean_y"] - out["a"]["mean_y"]
        diff_adj = out["b"]["mean_y_adj"] - out["a"]["mean_y_adj"]
        assert abs(diff_adj - 0.0) < 1e-9  # x explains ALL of the gap
        assert abs(diff_raw - 1.0) < 1e-9

    def test_useless_covariate_is_noop(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import cuped_adjusted

        # constant x -> Var(x)=0 -> theta=0 -> adjusted == raw
        rows = [("a", 5, 1), ("a", 5, 3), ("b", 5, 2), ("b", 5, 6)]
        df = spark.createDataFrame(rows, "arm string, x long, y long")
        out = {r["arm"]: r for r in cuped_adjusted(df).collect()}
        for arm in ("a", "b"):
            assert out[arm]["theta"] == 0.0
            assert out[arm]["mean_y_adj"] == out[arm]["mean_y"]
            assert out[arm]["var_y_adj"] == out[arm]["var_y"]
            assert out[arm]["var_reduction"] == 0.0

    def test_theta_matches_pooled_ols(self, spark):
        import numpy as np

        from kkbox_churn_prediction_spark.operators.abtest import cuped_adjusted

        xs = [1, 2, 3, 4, 5, 6, 7, 8]
        ys = [2, 3, 5, 4, 7, 8, 8, 11]
        rows = [("a" if i % 2 == 0 else "b", xs[i], ys[i]) for i in range(8)]
        df = spark.createDataFrame(rows, "arm string, x long, y long")
        out = cuped_adjusted(df).collect()[0]
        x, y = np.array(xs, float), np.array(ys, float)
        theta = ((x - x.mean()) * (y - y.mean())).sum() / ((x - x.mean()) ** 2).sum()
        assert out["theta"] == round(theta, 6)


class TestProportionZ:
    def test_golden_counts_and_z(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import two_proportion_z

        rows = [("a", 1)] * 30 + [("a", 0)] * 70 + [("b", 1)] * 45 + [("b", 0)] * 55
        df = spark.createDataFrame(rows, "arm string, success int")
        r = two_proportion_z(df).collect()[0]
        assert (r["n_a"], r["n_b"], r["s_a"], r["s_b"]) == (100, 100, 30, 45)
        assert r["rate_a"] == 0.3 and r["rate_b"] == 0.45
        import math

        pool = 75 / 200
        z = (0.3 - 0.45) / math.sqrt(pool * (1 - pool) * (1 / 100 + 1 / 100))
        assert r["z_stat"] == round(z, 6)

    def test_degenerate_pool_yields_zero(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import two_proportion_z

        rows = [("a", 1)] * 5 + [("b", 1)] * 5  # all success: se2 = 0
        df = spark.createDataFrame(rows, "arm string, success int")
        r = two_proportion_z(df).collect()[0]
        assert r["z_stat"] == 0.0 and r["rate_diff"] == 0.0

    def test_single_arm_yields_null_rate_and_zero_z(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import two_proportion_z

        # arm b is empty: its rate is undefined (DuckDB's x/0.0 is NULL)
        # and the z guard must not divide by n_b = 0
        rows = [("a", 1), ("a", 0), ("a", 1)]
        df = spark.createDataFrame(rows, "arm string, success int")
        r = two_proportion_z(df).collect()[0]
        assert (r["n_a"], r["n_b"], r["s_a"], r["s_b"]) == (3, 0, 2, 0)
        assert r["rate_a"] == round(2 / 3, 6)
        assert r["rate_b"] is None and r["rate_diff"] is None
        assert r["z_stat"] == 0.0


class TestSrm:
    def test_balanced_split_not_flagged(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import srm_check

        df = spark.createDataFrame(
            [("a",)] * 500 + [("b",)] * 510, "arm string"
        )
        out = {r["arm"]: r for r in srm_check(df).collect()}
        # chi2 = 2 * (5^2 / 505) ≈ 0.099 << 3.841
        assert not out["a"]["srm"] and not out["b"]["srm"]
        assert out["a"]["observed"] == 500 and out["a"]["expected"] == 505.0
        assert out["a"]["chi2"] == out["b"]["chi2"]
        assert abs(out["a"]["chi2"] - round(2 * 25 / 505, 6)) < 1e-9

    def test_biased_split_flagged_and_missing_arm(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import srm_check

        # 90/10 on n=1000: chi2 = (400^2/500)*2 = 640 -> flagged
        df = spark.createDataFrame([("a",)] * 900 + [("b",)] * 100, "arm string")
        out = {r["arm"]: r for r in srm_check(df).collect()}
        assert out["a"]["srm"] and out["b"]["srm"]
        assert out["a"]["chi2"] == 640.0
        # an expected arm with ZERO observed rows still appears
        df2 = spark.createDataFrame([("a",)] * 10, "arm string")
        out2 = {r["arm"]: r for r in srm_check(df2).collect()}
        assert out2["b"]["observed"] == 0 and out2["b"]["srm"]


class TestPowerMde:
    def test_matches_hand_formula(self, spark):
        import math

        from kkbox_churn_prediction_spark.operators.abtest import power_mde

        rows = [("a", v) for v in [10, 12, 14, 16]] + [("b", v) for v in [9, 11, 13]]
        df = spark.createDataFrame(rows, "arm string, y long")
        r = power_mde(df).collect()[0]
        va = 20 / 3  # sample variance of 10,12,14,16
        vb = 4.0  # of 9,11,13
        se = math.sqrt(va / 4 + vb / 3)
        assert r["n_a"] == 4 and r["n_b"] == 3
        assert r["mean_a"] == 13.0 and r["mean_b"] == 11.0
        assert r["var_a"] == round(va, 6) and r["var_b"] == vb
        assert r["mde_abs"] == round((1.959964 + 0.841621) * se, 6)
        assert r["mde_rel"] == round((1.959964 + 0.841621) * se / 13.0, 6)

    def test_constant_metric_zero_mde(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import power_mde

        df = spark.createDataFrame(
            [("a", 5)] * 3 + [("b", 5)] * 3, "arm string, y long"
        )
        r = power_mde(df).collect()[0]
        assert r["mde_abs"] == 0.0 and r["var_a"] == 0.0 and r["var_b"] == 0.0


class TestCovariateBalance:
    def test_balanced_and_shifted(self, spark):
        import math

        from kkbox_churn_prediction_spark.operators.abtest import covariate_balance

        rows = [
            # cov1 identical across arms; cov2 shifted by +2 in b
            ("a", 1, 10), ("a", 2, 11), ("a", 3, 12),
            ("b", 1, 12), ("b", 2, 13), ("b", 3, 14),
        ]
        df = spark.createDataFrame(rows, "arm string, cov1 long, cov2 long")
        out = {r["covariate"]: r for r in covariate_balance(df, ("cov1", "cov2")).collect()}
        assert out["cov1"]["smd"] == 0.0 and not out["cov1"]["imbalanced"]
        # cov2: means 11 vs 13, var 1 each -> smd = -2/sqrt(1) = -2
        assert out["cov2"]["smd"] == -2.0 and out["cov2"]["imbalanced"]
        assert out["cov2"]["n_a"] == 3 and out["cov2"]["n_b"] == 3
        assert math.isclose(out["cov2"]["mean_b"] - out["cov2"]["mean_a"], 2.0)

    def test_constant_covariate_zero_smd(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import covariate_balance

        df = spark.createDataFrame(
            [("a", 7), ("a", 7), ("b", 7), ("b", 7)], "arm string, c long"
        )
        r = covariate_balance(df, ("c",)).collect()[0]
        assert r["smd"] == 0.0 and not r["imbalanced"]


class TestDiffInDiff:
    def test_parallel_trends_golden(self, spark):
        from kkbox_churn_prediction_spark.operators.abtest import diff_in_diff

        # a: pre 10 -> post 12 (+2); b: pre 20 -> post 25 (+5): DiD = 3
        rows = (
            [("a", 10, 12)] * 4
            + [("b", 20, 25)] * 4
        )
        df = spark.createDataFrame(rows, "arm string, x long, y long")
        r = diff_in_diff(df).collect()[0]
        assert (r["pre_a"], r["post_a"], r["pre_b"], r["post_b"]) == (10.0, 12.0, 20.0, 25.0)
        assert r["did"] == 3.0
        # zero within-arm delta variance -> degenerate SE -> t = 0
        assert r["t_stat"] == 0.0

    def test_placebo_is_zero_and_t_matches_welch_on_delta(self, spark):
        import math

        from kkbox_churn_prediction_spark.operators.abtest import diff_in_diff

        rows = [
            ("a", 1, 4), ("a", 2, 4), ("a", 3, 9),
            ("b", 2, 5), ("b", 4, 6), ("b", 6, 13),
        ]
        df = spark.createDataFrame(rows, "arm string, x long, y long")
        r = diff_in_diff(df).collect()[0]
        # deltas: a = [3,2,6]; b = [3,2,7]
        da, db_ = [3, 2, 6], [3, 2, 7]
        mean = lambda v: sum(v) / len(v)  # noqa: E731
        var = lambda v: sum((x - mean(v)) ** 2 for x in v) / (len(v) - 1)  # noqa: E731
        did = mean(db_) - mean(da)
        t = did / math.sqrt(var(da) / 3 + var(db_) / 3)
        assert r["did"] == round(did, 6)
        assert r["t_stat"] == round(t, 6)
