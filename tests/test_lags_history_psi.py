"""Goldens for lag/lead, history panel, and PSI (vs numpy oracle)."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.history import history_lag_features
from kkbox_churn_prediction_spark.operators.lags import lag_lead_features, stable_row_number
from kkbox_churn_prediction_spark.operators.psi import (
    bucketize_by_edges,
    fixed_width_bins,
    psi_from_bins,
    quantile_edges,
)
from kkbox_churn_prediction_spark.sources.synth import generate_transcripts, to_spark

T0 = datetime(2024, 1, 1)


def test_lag_lead_golden(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user", "assistant", "user"],
            "text": ["a", "bb", "ccc"],
            "tool": [None] * 3,
            "ts": [T0, T0 + timedelta(seconds=5), T0 + timedelta(seconds=9)],
        }
    )
    out = {r["turn_idx"]: r.asDict() for r in lag_lead_features(to_spark(spark, pdf)).collect()}
    assert out[0]["prev_text_len_1"] == -1 and out[0]["next_text_len_1"] == 2
    assert out[1]["prev_text_len_1"] == 1 and out[1]["next_text_len_1"] == 3
    assert out[1]["gap_micros_prev"] == 5_000_000
    assert out[2]["gap_micros_prev"] == 4_000_000
    assert out[0]["same_role_as_prev"] == -1
    assert out[1]["same_role_as_prev"] == 0
    assert out[2]["same_role_as_prev"] == 0


def test_stable_ordering_invariant(spark):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    (input_hint invariant): row_number over (ts, turn_idx) must equal
    the producer's turn_idx on the synthetic table."""
    from kkbox_churn_prediction_spark.sources.synth import clean_turns

    raw = to_spark(spark, generate_transcripts(n_convs=8, mean_turns=20, mega_conv=False))
    turns = clean_turns(raw)
    # dirty rows (null conv_id / ts) silently dropped, clean rows kept
    assert raw.count() - turns.count() == 2
    bad = stable_row_number(turns).where(F.col("rn") != F.col("turn_idx")).count()
    assert bad == 0


def test_history_lags_golden(spark):
    # conv active week0 (2 turns), silent week1, active week2 (1 turn)
    w0, w2 = datetime(2024, 1, 1), datetime(2024, 1, 15)
    other = datetime(2024, 1, 8)  # second entity creates the week-1 column
    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "a", "a", "b"],
            "turn_idx": [0, 1, 2, 0],
            "role": ["user"] * 4,
            "text": ["xx", "y", "zzz", "q"],
            "tool": [None] * 4,
            "ts": [w0, w0 + timedelta(hours=1), w2, other],
        }
    )
    out = history_lag_features(to_spark(spark, pdf), n_lags=2)
    a = {r["week_start"]: r.asDict() for r in out.where(F.col("conv_id") == "a").collect()}
    assert a[w0]["turn_cnt"] == 2 and a[w0]["turn_cnt_w1"] == -1
    assert a[other]["turn_cnt"] == 0 and a[other]["turn_cnt_w1"] == 2
    assert a[w2]["turn_cnt"] == 1 and a[w2]["turn_cnt_w1"] == 0 and a[w2]["turn_cnt_w2"] == 2
    assert a[w0]["weeks_since_last_active"] == 0
    assert a[other]["weeks_since_last_active"] == 1
    assert a[w2]["weeks_since_last_active"] == 0


def _psi_numpy(cur: np.ndarray, ref: np.ndarray, bins: int, width: float) -> float:
    """Reference formula (src/psi.py:18-34) on fixed-width bins."""
    def hist(x):
        b = np.clip(np.floor(x / width).astype(int), 0, bins - 1)
        c = np.bincount(b, minlength=bins).astype(float)
        return c / c.sum()

    a, e = hist(cur), hist(ref)
    # dense-grid semantics: only bins observed in either fold matter,
    # unobserved-in-both bins contribute 0
    a, e = np.clip(a, 1e-6, None), np.clip(e, 1e-6, None)
    mask = (a > 1e-6) | (e > 1e-6)
    return float(np.sum(((a - e) * np.log(a / e))[mask]))


def test_psi_matches_numpy_reference(spark):
    rng = np.random.default_rng(7)
    ref = rng.normal(50, 10, 4000).clip(0)
    cur = rng.normal(60, 15, 3000).clip(0)  # drifted
    pdf = pd.DataFrame(
        {
            "fold": ["even"] * len(ref) + ["odd"] * len(cur),
            "v": np.concatenate([ref, cur]),
        }
    )
    df = spark.createDataFrame(pdf)
    binned = df.select("fold", fixed_width_bins(F.col("v"), 10.0, 10).alias("bin"))
    got = psi_from_bins(binned, "fold", "bin", "even").collect()[0]["psi"]
    want = _psi_numpy(cur, ref, 10, 10.0)
    assert got == pytest.approx(want, abs=2e-6)
    assert got > 0.1  # the drift is detectable


def test_quantile_edge_bucketizer(spark):
    pdf = pd.DataFrame({"v": np.arange(100, dtype=float)})
    df = spark.createDataFrame(pdf)
    # exact=True: this golden checks np.quantile-interpolated edges
    # (the operator DEFAULT is the approx scale path)
    edges = quantile_edges(df, "v", n_bins=4, exact=True)
    assert edges == pytest.approx([24.75, 49.5, 74.25])
    out = df.select(bucketize_by_edges(F.col("v"), edges).alias("b"))
    counts = {r["b"]: r["c"] for r in out.groupBy("b").agg(F.count("*").alias("c")).collect()}
    assert sum(counts.values()) == 100 and set(counts) == {0, 1, 2, 3}


def test_response_latency_skips_tools_and_unanswered(spark):
    from datetime import datetime

    import pandas as pd

    from kkbox_churn_prediction_spark.operators.lags import response_latency
    from kkbox_churn_prediction_spark.sources.synth import to_spark

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 4 + ["c2"] * 2,
            "turn_idx": [0, 1, 2, 3, 0, 1],
            # user → tool → assistant (latency 20s, tool skipped);
            # trailing user turn unanswered → excluded.
            # c2: user → user, never answered → conv absent entirely
            "role": ["user", "tool", "assistant", "user", "user", "user"],
            "text": ["a"] * 6,
            "tool": [None] * 6,
            "ts": [t(0), t(10), t(20), t(30), t(0), t(5)],
        }
    )
    got = {r["conv_id"]: r for r in response_latency(to_spark(spark, pdf)).collect()}
    assert set(got) == {"c1"}
    assert got["c1"]["n_exchanges"] == 1
    assert got["c1"]["avg_latency_us"] == 20_000_000
    assert got["c1"]["max_latency_us"] == 20_000_000


def test_gap_percentiles_per_conv_match_numpy(spark):
    from kkbox_churn_prediction_spark.operators.lags import gap_percentiles_per_conv
    from kkbox_churn_prediction_spark.sources.synth import to_spark

    base = datetime(2024, 1, 1)
    gaps_a = [60, 120, 600, 30]           # seconds between consecutive turns
    ts_a, t = [base], base
    for g in gaps_a:
        t = t + timedelta(seconds=g)
        ts_a.append(t)
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * len(ts_a) + ["b", "b"],
            "turn_idx": list(range(len(ts_a))) + [0, 1],
            "role": ["user"] * (len(ts_a) + 2),
            "text": ["x"] * (len(ts_a) + 2),
            "tool": [None] * (len(ts_a) + 2),
            "ts": ts_a + [base, base + timedelta(seconds=42)],
        }
    )
    out = {r["conv_id"]: r for r in
           gap_percentiles_per_conv(to_spark(spark, pdf)).collect()}
    exp_us = np.array(gaps_a, dtype="float64") * 1e6
    assert out["a"]["n_gaps"] == 4
    assert out["a"]["gap_p50_us"] == pytest.approx(np.quantile(exp_us, 0.5), abs=1e-3)
    assert out["a"]["gap_p90_us"] == pytest.approx(np.quantile(exp_us, 0.9), abs=1e-3)
    # single-gap conversation: both percentiles collapse to the gap
    assert out["b"]["n_gaps"] == 1 and out["b"]["gap_p50_us"] == 42e6


def test_wasserstein_from_bins_matches_numpy(spark):
    from kkbox_churn_prediction_spark.operators.psi import wasserstein_from_bins

    # ref: mass at bins 0-1; cur: same mass shifted up by one bin
    rows = (
        [("ref", 0)] * 6 + [("ref", 1)] * 4
        + [("cur", 1)] * 6 + [("cur", 2)] * 4
    )
    df = spark.createDataFrame(rows, "fold string, bin int")
    out = wasserstein_from_bins(df, "fold", "bin", ref_fold="ref", bin_width=2.0)
    got = {r["fold"]: r["wasserstein"] for r in out.collect()}
    # hand CDFs over bins 0,1,2: ref (.6, 1, 1) vs cur (0, .6, 1)
    # sum|Δ| = .6 + .4 + 0 = 1.0 → ×width 2.0 = 2.0 (one-bin shift)
    assert got == {"cur": 2.0}
    # identical distributions → zero drift
    same = spark.createDataFrame(
        [("ref", 0)] * 3 + [("ref", 2)] * 2 + [("b", 0)] * 3 + [("b", 2)] * 2,
        "fold string, bin int",
    )
    z = {r["fold"]: r["wasserstein"]
         for r in wasserstein_from_bins(same, "fold", "bin", "ref", 5.0).collect()}
    assert z == {"b": 0.0}
    # sparse support: mass jumping across bins EMPTY IN BOTH folds
    # must still pay the full transport cost (bins 1-8 unobserved)
    sparse = spark.createDataFrame(
        [("ref", 0)] * 5 + [("cur", 9)] * 5, "fold string, bin int"
    )
    s9 = {r["fold"]: r["wasserstein"]
          for r in wasserstein_from_bins(sparse, "fold", "bin", "ref", 1.0).collect()}
    assert s9 == {"cur": 9.0}


def test_ks_from_bins_golden(spark):
    from kkbox_churn_prediction_spark.operators.psi import ks_from_bins

    # ref: 6@bin0 + 4@bin1; cur: 6@bin1 + 4@bin2 (one-bin shift)
    rows = (
        [("ref", 0)] * 6 + [("ref", 1)] * 4
        + [("cur", 1)] * 6 + [("cur", 2)] * 4
    )
    df = spark.createDataFrame(rows, "fold string, bin int")
    out = {r["fold"]: r for r in ks_from_bins(df, "fold", "bin", "ref").collect()}
    # CDFs at bins 0,1,2: ref (.6, 1, 1) vs cur (0, .6, 1) → sup gap .6
    assert out["cur"]["ks"] == 0.6
    assert out["cur"]["n_cur"] == 10 and out["cur"]["n_ref"] == 10
    # identical distributions → 0; disjoint support → 1
    same = spark.createDataFrame(
        [("ref", 0)] * 3 + [("b", 0)] * 3, "fold string, bin int"
    )
    assert ks_from_bins(same, "fold", "bin", "ref").collect()[0]["ks"] == 0.0
    disj = spark.createDataFrame(
        [("ref", 0)] * 3 + [("cur", 5)] * 7, "fold string, bin int"
    )
    r = ks_from_bins(disj, "fold", "bin", "ref").collect()[0]
    assert r["ks"] == 1.0 and r["n_cur"] == 7 and r["n_ref"] == 3


def test_ks_from_bins_unequal_sizes_exact(spark):
    from kkbox_churn_prediction_spark.operators.psi import ks_from_bins

    # unequal n: ref 3 rows, cur 7 rows — exact rational gap
    # ref CDF at bin0 = 2/3, cur = 3/7 → |2/3-3/7| = 5/21
    # at bin1 both = 1 → sup = 5/21
    rows = [("ref", 0)] * 2 + [("ref", 1)] + [("cur", 0)] * 3 + [("cur", 1)] * 4
    df = spark.createDataFrame(rows, "fold string, bin int")
    out = ks_from_bins(df, "fold", "bin", "ref").collect()[0]
    assert out["ks"] == round(5 / 21, 6)


def test_wasserstein_all_null_fold_is_null(spark):
    """A current fold whose rows all have NULL bins has no CDF: it
    answers NULL, as the KS/CvM/AD siblings do, instead of raising
    DIVIDE_BY_ZERO on 0/0."""
    from kkbox_churn_prediction_spark.operators.psi import (
        ks_from_bins,
        wasserstein_from_bins,
    )

    df = spark.createDataFrame(
        [("ref", 0), ("ref", 1), ("cur", None), ("cur", None)],
        "fold string, bin int",
    )
    out = wasserstein_from_bins(df, "fold", "bin", "ref", 1.0).collect()
    assert [tuple(r) for r in out] == [("cur", None)]
    assert [tuple(r) for r in ks_from_bins(df, "fold", "bin", "ref").collect()] == [
        ("cur", None, 0, 2)
    ]


_EDGE_BASE = [
    ("ref", 0), ("ref", 1), ("ref", 1), ("ref", 3),
    ("cur", 1), ("cur", 2), ("cur", 2), ("cur", 4),
]


@pytest.mark.parametrize(
    "rows, psi, jsd, w1, cdf",
    [
        pytest.param(
            _EDGE_BASE, 16.05633, 0.655639, 1.0,
            (0.5, 0.109375, 1.035714, 4, 4), id="base",
        ),
        # NULL bins count in the PSI/JSD fold totals; the CDF lenses
        # ignore them
        pytest.param(
            _EDGE_BASE + [("cur", None), ("ref", None), ("ref", None)],
            11.67688, 0.478818, 1.0,
            (0.5, 0.109375, 1.035714, 4, 4), id="null_bins",
        ),
        pytest.param(
            [r for r in _EDGE_BASE if r[0] == "cur"], 12.775752, 0.5, None,
            (None, None, None, 4, 0), id="no_reference",
        ),
        pytest.param(
            [r for r in _EDGE_BASE if r[0] == "ref"], None, None, None, None,
            id="reference_only",
        ),
        # bins 1-8 are empty in both folds: only W1's dense range
        # sees them
        pytest.param(
            [("ref", 0), ("ref", 9), ("cur", 0), ("cur", 0), ("cur", 9)],
            0.115525, 0.020721, 1.5,
            (0.166667, 0.016667, 0.083333, 3, 2), id="empty_interior",
        ),
    ],
)
def test_drift_lens_edges(spark, rows, psi, jsd, w1, cdf):
    """One (fold, bin) table through every binned lens; ``None`` is
    "no output row" (inside ``cdf``: a NULL statistic)."""
    from kkbox_churn_prediction_spark.operators.psi import (
        anderson_darling_from_bins,
        cvm_from_bins,
        jsd_from_bins,
        ks_from_bins,
        wasserstein_from_bins,
    )

    df = spark.createDataFrame(rows, "fold string, bin int")

    def by_fold(out):
        return {r[0]: tuple(r[1:]) for r in out.collect()}

    def one(v):
        return {} if v is None else {"cur": (v,)}

    assert by_fold(psi_from_bins(df, "fold", "bin", "ref")) == one(psi)
    assert by_fold(jsd_from_bins(df, "fold", "bin", "ref")) == one(jsd)
    assert by_fold(wasserstein_from_bins(df, "fold", "bin", "ref", 1.0)) == one(w1)
    lenses = (ks_from_bins, cvm_from_bins, anderson_darling_from_bins)
    for i, lens in enumerate(lenses):
        want = {} if cdf is None else {"cur": (cdf[i], *cdf[3:])}
        assert by_fold(lens(df, "fold", "bin", "ref")) == want, lens.__name__


def test_transition_backtest_golden(spark):
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from kkbox_churn_prediction_spark.operators.lags import transition_backtest

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def conv(cid, fold, tools):
        return [
            (cid, i, "assistant", "x", tool, t0 + timedelta(minutes=i))
            for i, tool in enumerate(tools)
        ] and [
            (cid, i, "assistant", "x", tool, t0 + timedelta(minutes=i))
            for i, tool in enumerate(tools)
        ]

    rows = []
    # TRAIN fold: search->code twice, search->web once  => predict code
    rows += conv("t1", "train", ["search", "code", "search", "code"])
    rows += conv("t2", "train", ["search", "web"])
    # EVAL fold: search->code, search->web, web->search (web unseen as
    # a FROM in train? web->? never trained -> NULL prediction)
    rows += conv("e1", "eval", ["search", "code"])
    rows += conv("e2", "eval", ["search", "web"])
    rows += conv("e3", "eval", ["web", "search"])
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df = spark.createDataFrame(pdf)
    fold = F.when(F.col("conv_id").startswith("t"), F.lit("train")).otherwise(
        F.lit("eval")
    )
    out = {
        (r["fold"], r["from_tool"]): r
        for r in transition_backtest(df, fold, train_fold="train").collect()
    }
    s = out[("eval", "search")]
    assert s["predicted"] == "code"
    assert s["n_eval"] == 2 and s["n_correct"] == 1 and s["accuracy"] == 0.5
    w = out[("eval", "web")]
    # 'web' never appears as a FROM tool in training (t2 ends on web)
    assert w["predicted"] is None and w["n_correct"] == 0 and w["accuracy"] == 0.0


def test_transition_backtest_tiebreak(spark):
    from datetime import datetime, timedelta

    import pandas as pd
    from pyspark.sql import functions as F

    from kkbox_churn_prediction_spark.operators.lags import transition_backtest

    t0 = datetime(2024, 1, 1)
    # train: a->b once, a->c once (tie) -> lexicographically first 'b'
    rows = [
        ("t1", 0, "assistant", "x", "a", t0),
        ("t1", 1, "assistant", "x", "b", t0 + timedelta(minutes=1)),
        ("t2", 0, "assistant", "x", "a", t0),
        ("t2", 1, "assistant", "x", "c", t0 + timedelta(minutes=1)),
        ("e1", 0, "assistant", "x", "a", t0),
        ("e1", 1, "assistant", "x", "b", t0 + timedelta(minutes=1)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    fold = F.when(F.col("conv_id").startswith("t"), F.lit("train")).otherwise(
        F.lit("eval")
    )
    r = transition_backtest(
        spark.createDataFrame(pdf), fold, train_fold="train"
    ).collect()[0]
    assert r["predicted"] == "b" and r["n_correct"] == 1


def test_qq_shift_golden_and_approx(spark):
    from kkbox_churn_prediction_spark.operators.psi import qq_shift

    # cur = ref + 10 exactly -> every decile shifts by 10
    ref_vals = list(range(1, 101))
    rows = [("ref", v) for v in ref_vals] + [("cur", v + 10) for v in ref_vals]
    df = spark.createDataFrame(rows, "fold string, v long")
    out = qq_shift(df, "v", "fold", "ref", probs=(0.25, 0.5, 0.75)).collect()
    assert len(out) == 3
    assert all(r["shift"] == 10.0 and r["fold"] == "cur" for r in out)
    med = {r["prob"]: r for r in out}[0.5]
    import numpy as np

    assert med["q_ref"] == round(float(np.quantile(ref_vals, 0.5)), 6)
    # approx mode lands within a value of exact on this spread
    approx = {r["prob"]: r["shift"] for r in qq_shift(
        df, "v", "fold", "ref", probs=(0.5,), exact=False
    ).collect()}
    assert abs(approx[0.5] - 10.0) <= 1.0


def test_transition_backtest_drops_straddling_pairs(spark):
    """ADVICE r2: a pair whose turns fall in different folds must not
    count anywhere — neither as a train observation (its predicted
    event is in an eval fold) nor as an eval one (its predicted event
    was trainable). The split is temporally disjoint on the PREDICTED
    event."""
    from datetime import datetime, timedelta

    import pandas as pd
    from pyspark.sql import functions as F

    from kkbox_churn_prediction_spark.operators.lags import transition_backtest

    t0 = datetime(2024, 1, 1)
    # one conversation crossing the fold boundary at turn_idx 2:
    #   train pair a->b (both turns train)
    #   straddling pair b->c (train turn -> eval turn)  DROPPED
    #   eval pair c->a (both turns eval)
    rows = [
        ("c1", 0, "assistant", "x", "a", t0),
        ("c1", 1, "assistant", "x", "b", t0 + timedelta(minutes=1)),
        ("c1", 2, "assistant", "x", "c", t0 + timedelta(minutes=2)),
        ("c1", 3, "assistant", "x", "a", t0 + timedelta(minutes=3)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    fold = F.when(F.col("turn_idx") < 2, F.lit("train")).otherwise(F.lit("eval"))
    out = {
        (r["fold"], r["from_tool"]): r
        for r in transition_backtest(
            spark.createDataFrame(pdf), fold, train_fold="train"
        ).collect()
    }
    # only the (eval, c) row exists; b->c never reached eval scoring
    assert set(out) == {("eval", "c")}
    r = out[("eval", "c")]
    # train saw ONLY a->b, so from 'c' the model predicts NULL
    assert r["predicted"] is None and r["n_eval"] == 1 and r["n_correct"] == 0


def test_second_turn_features_pass_compiles_nothing(spark):
    """The five ``turn_features`` outputs, each consumed by its
    checksum, use more generated classes than Spark's default codegen
    cache holds (100), and AQE's stage ids change the class names
    between runs of one plan. ``get_spark`` sizes the cache and drops
    the ids from the key, so a second pass over the same plans must
    find every class in the cache."""
    from kkbox_churn_prediction_spark.operators.labels import time_to_next_qualifying_turn
    from kkbox_churn_prediction_spark.operators.profile import table_checksum
    from kkbox_churn_prediction_spark.operators.sessionize import session_aggregates
    from kkbox_churn_prediction_spark.sources.synth import clean_turns

    turns = clean_turns(
        to_spark(spark, generate_transcripts(n_convs=8, mean_turns=20, mega_conv=False))
    )
    binned = turns.select(
        F.when(F.dayofmonth("ts") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("fold"),
        fixed_width_bins(F.expr("CAST(length(text) AS BIGINT)"), 5.0, 10).alias("bin"),
    )
    outputs = [
        session_aggregates(turns),
        lag_lead_features(turns),
        time_to_next_qualifying_turn(turns),
        history_lag_features(turns, n_lags=2),
        psi_from_bins(binned, "fold", "bin", ref_fold="even"),
    ]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_pass():
        return [table_checksum(df, sorted(df.columns)).first() for df in outputs]

    first = run_pass()
    before = compiles.getCount()
    assert run_pass() == first
    assert compiles.getCount() - before == 0
