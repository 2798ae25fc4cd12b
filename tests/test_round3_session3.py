"""Round-3 session-3 batch 1: CvM drift, average precision, McNemar,
Fisher exact (greater)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.abtest import (
    fisher_exact_greater,
    mcnemar_paired,
)
from kkbox_churn_prediction_spark.operators.calibration import (
    average_precision_by_fold,
)
from kkbox_churn_prediction_spark.operators.psi import cvm_from_bins


# ------------------------------------------------------------------ CvM
def _binned(spark, cur_counts, ref_counts):
    rows = []
    for b, n in enumerate(cur_counts):
        rows += [("odd", b)] * n
    for b, n in enumerate(ref_counts):
        rows += [("even", b)] * n
    return spark.createDataFrame(rows, "fold string, bin int")


def _cvm_ref(cur_counts, ref_counts):
    """Scalar reference: sum_b w_b (F_cur - F_ref)^2 over pooled mass."""
    n, m = sum(cur_counts), sum(ref_counts)
    fc = fr = 0
    acc = 0.0
    for cb, rb in zip(cur_counts, ref_counts):
        fc += cb
        fr += rb
        acc += (cb + rb) / (n + m) * (fc / n - fr / m) ** 2
    return acc


def test_cvm_matches_scalar_reference(spark):
    cur, ref = [5, 10, 3, 7], [8, 4, 9, 2]
    got = cvm_from_bins(_binned(spark, cur, ref), "fold", "bin", "even").collect()
    assert len(got) == 1
    r = got[0]
    assert r["fold"] == "odd"
    assert r["n_cur"] == sum(cur) and r["n_ref"] == sum(ref)
    assert r["cvm"] == pytest.approx(_cvm_ref(cur, ref), abs=2e-6)


def test_cvm_identical_distributions_zero(spark):
    cur = ref = [6, 2, 9, 3]
    got = cvm_from_bins(_binned(spark, cur, ref), "fold", "bin", "even").collect()
    assert got[0]["cvm"] == 0.0


def test_cvm_accumulates_broad_shift_where_ks_saturates(spark):
    # a uniform one-bin-right shift: every bin contributes to CvM,
    # while KS reports only the largest single gap
    cur, ref = [0, 10, 10, 10, 10], [10, 10, 10, 10, 0]
    got = cvm_from_bins(_binned(spark, cur, ref), "fold", "bin", "even").collect()
    assert got[0]["cvm"] == pytest.approx(_cvm_ref(cur, ref), abs=2e-6)
    assert got[0]["cvm"] > 0.01


# ----------------------------------------------------- average precision
def test_average_precision_matches_sklearn_semantics(spark):
    # hand-computable: scores desc with ties grouped at one threshold
    rows = [
        ("a", 1, 0.9),
        ("a", 0, 0.8),
        ("a", 1, 0.8),
        ("a", 0, 0.7),
        ("a", 1, 0.6),
        ("a", 0, 0.5),
    ]
    df = spark.createDataFrame(rows, "fold string, y int, p double")
    got = average_precision_by_fold(df, "fold", "y", "p").collect()[0]
    # thresholds: 0.9 -> tp1 fp0 prec1; 0.8 -> tp2 fp1 prec 2/3;
    # 0.6 -> tp3 fp2 prec 3/5; AP = (1/3)(1 + 2/3 + 3/5)
    expect = (1.0 + 2.0 / 3.0 + 3.0 / 5.0) / 3.0
    assert got["n_pos"] == 3 and got["n_neg"] == 3
    assert got["ap"] == pytest.approx(expect, abs=2e-6)


def test_average_precision_perfect_and_random(spark):
    perfect = [("a", 1, 0.9), ("a", 1, 0.8), ("a", 0, 0.2), ("a", 0, 0.1)]
    df = spark.createDataFrame(perfect, "fold string, y int, p double")
    assert average_precision_by_fold(df, "fold", "y", "p").collect()[0][
        "ap"
    ] == pytest.approx(1.0, abs=2e-6)
    # all scores tied -> AP = prevalence
    tied = [("a", y, 0.5) for y in (1, 0, 1, 0, 0)]
    df2 = spark.createDataFrame(tied, "fold string, y int, p double")
    r = average_precision_by_fold(df2, "fold", "y", "p").collect()[0]
    assert r["ap"] == pytest.approx(r["prevalence"], abs=2e-6)


def test_average_precision_bin_scores_bounds_cardinality(spark):
    rows = [("a", i % 2, (i + 0.5) / 64.0) for i in range(64)]
    df = spark.createDataFrame(rows, "fold string, y int, p double")
    exact = average_precision_by_fold(df, "fold", "y", "p").collect()[0]["ap"]
    binned = average_precision_by_fold(df, "fold", "y", "p", bin_scores=8).collect()[
        0
    ]["ap"]
    assert abs(exact - binned) < 0.2  # coarse grid, same ballpark


# ------------------------------------------------------------- McNemar
def _units(spark, b00, b01, b10, b11):
    rows = (
        [(0, 0)] * b00 + [(0, 1)] * b01 + [(1, 0)] * b10 + [(1, 1)] * b11
    )
    return spark.createDataFrame(rows, "pre int, post int")


def test_mcnemar_hand_golden(spark):
    r = mcnemar_paired(_units(spark, 20, 15, 5, 10), "pre", "post").collect()[0]
    assert (r["b00"], r["b01"], r["b10"], r["b11"]) == (20, 15, 5, 10)
    # (|15-5|-1)^2 / 20 = 81/20 = 4.05
    assert r["chi2"] == pytest.approx(4.05, abs=1e-6)
    assert r["p_value"] == pytest.approx(
        2 * (1 - 0.5 * (1 + math.erf(math.sqrt(4.05) / math.sqrt(2)))), abs=1e-4
    )


def test_mcnemar_symmetric_discordance_is_null_effect(spark):
    r = mcnemar_paired(_units(spark, 5, 8, 8, 5), "pre", "post").collect()[0]
    assert r["chi2"] == pytest.approx((0.0) ** 2, abs=1e-9)
    assert r["p_value"] == pytest.approx(1.0, abs=1e-4)


def test_mcnemar_no_discordant_pairs_defined_output(spark):
    r = mcnemar_paired(_units(spark, 7, 0, 0, 3), "pre", "post").collect()[0]
    assert r["chi2"] == 0.0 and r["p_value"] == 1.0


def test_mcnemar_concordant_cells_do_not_move_stat(spark):
    a = mcnemar_paired(_units(spark, 2, 9, 3, 1), "pre", "post").collect()[0]
    b = mcnemar_paired(_units(spark, 500, 9, 3, 400), "pre", "post").collect()[0]
    assert a["chi2"] == b["chi2"] and a["p_value"] == b["p_value"]


# --------------------------------------------------------- Fisher exact
def _arm_units(spark, n_a, s_a, n_b, s_b):
    rows = (
        [("a", 1)] * s_a
        + [("a", 0)] * (n_a - s_a)
        + [("b", 1)] * s_b
        + [("b", 0)] * (n_b - s_b)
    )
    return spark.createDataFrame(rows, "arm string, succ int")


def _fisher_greater_ref(n_a, s_a, n_b, s_b):
    from math import comb

    c1 = s_a + s_b
    n = n_a + n_b
    denom = comb(n, c1)
    return sum(
        comb(n_a, k) * comb(n_b, c1 - k) / denom
        for k in range(s_a, min(n_a, c1) + 1)
        if 0 <= c1 - k <= n_b
    )


def test_fisher_exact_matches_comb_reference(spark):
    r = fisher_exact_greater(_arm_units(spark, 12, 9, 15, 4), "arm", "succ").collect()[
        0
    ]
    assert r["p_greater"] == pytest.approx(
        _fisher_greater_ref(12, 9, 15, 4), abs=2e-6
    )
    # odds ratio = (9*11)/(4*3)
    assert r["odds_ratio"] == pytest.approx(99.0 / 12.0, abs=1e-6)


def test_fisher_exact_small_cells(spark):
    # the regime the z-test gets wrong: 1 success vs 5 in tiny arms
    r = fisher_exact_greater(_arm_units(spark, 8, 1, 8, 5), "arm", "succ").collect()[0]
    assert r["p_greater"] == pytest.approx(_fisher_greater_ref(8, 1, 8, 5), abs=2e-6)
    assert r["p_greater"] > 0.9  # a is WORSE, greater-tail p near 1


def test_fisher_exact_zero_cell_odds_null(spark):
    r = fisher_exact_greater(_arm_units(spark, 6, 2, 6, 0), "arm", "succ").collect()[0]
    assert r["odds_ratio"] is None
    assert r["p_greater"] == pytest.approx(_fisher_greater_ref(6, 2, 6, 0), abs=2e-6)


# ----------------------------------------------- turn contiguity audit
def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp"
    )


def test_contiguity_clean_and_defects(spark):
    from datetime import datetime, timedelta

    from kkbox_churn_prediction_spark.operators.profile import (
        turn_contiguity_audit,
    )

    t0 = datetime(2024, 5, 1)

    def seq(conv, idxs):
        return [(conv, i, t0 + timedelta(minutes=j)) for j, i in enumerate(idxs)]

    rows = (
        seq("clean", [0, 1, 2])
        + seq("dup", [0, 1, 1, 2])        # duplicated index
        + seq("gap", [0, 1, 3])           # missing idx 2
        + seq("late", [2, 3, 4])          # truncated head
        + seq("ooo", [0, 2, 1])           # ts order disagrees with idx
    )
    r = turn_contiguity_audit(_turns(spark, rows)).collect()[0]
    assert r["n_convs"] == 5
    assert r["n_dup_idx"] == 1
    assert r["n_gapped"] == 1
    assert r["n_nonzero_start"] == 1
    assert r["n_order_violation"] == 1
    assert r["n_clean"] == 1
    assert r["excess_dup_rows"] == 1
    assert r["missing_indices"] == 1  # only conv "gap" (span 4, 3 distinct)


def test_contiguity_all_clean(spark):
    from datetime import datetime, timedelta

    from kkbox_churn_prediction_spark.operators.profile import (
        turn_contiguity_audit,
    )

    t0 = datetime(2024, 5, 1)
    rows = [
        (c, i, t0 + timedelta(minutes=i)) for c in ("a", "b") for i in range(4)
    ]
    r = turn_contiguity_audit(_turns(spark, rows)).collect()[0]
    assert r["n_clean"] == r["n_convs"] == 2
    assert (
        r["excess_dup_rows"] == r["missing_indices"] == r["n_order_violation"] == 0
    )


# ------------------------------------------------- null pattern profile
def test_null_patterns_joint_signature(spark):
    from kkbox_churn_prediction_spark.operators.profile import (
        null_pattern_profile,
    )

    rows = [("u", "x"), ("u", None), ("u", None), (None, None)]
    df = spark.createDataFrame(rows, "role string, tool string")
    got = {
        r["pattern"]: (r["n_rows"], r["share"])
        for r in null_pattern_profile(df, ["role", "tool"]).collect()
    }
    assert got["role:0,tool:1"] == (2, 0.5)
    assert got["role:0,tool:0"] == (1, 0.25)
    assert got["role:1,tool:1"] == (1, 0.25)
    assert abs(sum(v[1] for v in got.values()) - 1.0) < 1e-9


# ------------------------------------------------------------ ICC(1)
def _icc_ref(groups):
    import numpy as np

    k = len(groups)
    n = sum(len(g) for g in groups)
    mean = np.mean([v for g in groups for v in g])
    ssb = sum(len(g) * (np.mean(g) - mean) ** 2 for g in groups)
    ssw = sum((v - np.mean(g)) ** 2 for g in groups for v in g)
    msb, msw = ssb / (k - 1), ssw / (n - k)
    n0 = (n - sum(len(g) ** 2 for g in groups) / n) / (k - 1)
    return (msb - msw) / (msb + (n0 - 1) * msw)


def test_icc_matches_anova_reference(spark):
    from kkbox_churn_prediction_spark.operators.association import icc_oneway

    groups = [[10, 12, 11], [30, 29, 31, 32], [50, 52]]
    rows = [(f"g{i}", v) for i, g in enumerate(groups) for v in g]
    df = spark.createDataFrame(rows, "conv_id string, v int")
    r = icc_oneway(df, "conv_id", "v").collect()[0]
    assert r["k_groups"] == 3 and r["n_total"] == 9
    assert r["icc"] == pytest.approx(_icc_ref(groups), abs=1e-4)
    assert r["icc"] > 0.9  # strongly clustered by design


def test_icc_no_between_variance_is_near_zero(spark):
    from kkbox_churn_prediction_spark.operators.association import icc_oneway

    groups = [[1, 5, 9], [5, 1, 9], [9, 5, 1]]
    rows = [(f"g{i}", v) for i, g in enumerate(groups) for v in g]
    df = spark.createDataFrame(rows, "conv_id string, v int")
    r = icc_oneway(df, "conv_id", "v").collect()[0]
    assert r["msb"] == pytest.approx(0.0, abs=1e-6)
    assert r["icc"] < 0.0  # identical means -> small negative ICC


# ------------------------------------------------------- tool trigrams
def test_tool_trigrams_pipeline_lift(spark):
    from datetime import datetime, timedelta

    from kkbox_churn_prediction_spark.operators.lags import tool_trigrams

    t0 = datetime(2024, 6, 1)
    rows = []
    # 6 conversations running the pipeline a->b->c; 3 running d->b->e
    for c in range(6):
        for i, tool in enumerate(["a", "b", "c"]):
            rows.append((f"p{c}", i, "tool", None, tool, t0 + timedelta(minutes=i)))
    for c in range(3):
        for i, tool in enumerate(["d", "b", "e"]):
            rows.append((f"q{c}", i, "tool", None, tool, t0 + timedelta(minutes=i)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {(r["t1"], r["t2"], r["t3"]): r for r in tool_trigrams(df, k=10).collect()}
    abc = got[("a", "b", "c")]
    assert abc["n"] == 6 and abc["p_cond"] == 1.0
    # order-1 chain: P(c|b) = 6/9, so the pipeline's lift is 9/6
    assert abc["lift"] == pytest.approx(9.0 / 6.0, abs=1e-6)


# ------------------------------------------------------- Adamic–Adar
def test_adamic_adar_hand_graph(spark):
    import math

    from kkbox_churn_prediction_spark.operators.components import adamic_adar

    # w1 connects {a,b}; w2 connects {a,b,c}; no a-b edge exists
    edges = [("a", "w1"), ("b", "w1"), ("a", "w2"), ("b", "w2"), ("c", "w2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["u"], r["v"]): r for r in adamic_adar(df, k=10).collect()}
    ab = got[("a", "b")]
    # common neighbors: w1 (deg 2), w2 (deg 3)
    expect = 1 / math.log(2) + 1 / math.log(3)
    assert ab["n_common"] == 2
    assert ab["score"] == pytest.approx(expect, abs=1e-6)
    # (a,c) share only w2
    assert got[("a", "c")]["score"] == pytest.approx(1 / math.log(3), abs=1e-6)


def test_adamic_adar_excludes_existing_edges_and_hubs(spark):
    from kkbox_churn_prediction_spark.operators.components import adamic_adar

    # a-b are directly connected AND share w; hub h has degree 4 > cap
    edges = (
        [("a", "b"), ("a", "w"), ("b", "w")]
        + [("h", x) for x in ("p", "q", "r", "s")]
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["u"], r["v"]) for r in adamic_adar(df, k=50, max_degree=3).collect()}
    assert ("a", "b") not in got  # existing edge suppressed
    # hub-centered wedges (p,q)... are dropped by the degree cap
    assert not any(u in "pqrs" and v in "pqrs" for u, v in got)


# --------------------------------------------------- BPE merge training
def _bpe_ref(word_freqs, n_merges):
    """Independent reference: dict-of-tuples BPE trainer."""
    reps = [(tuple(w), f) for w, f in word_freqs.items()]
    out = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for syms, f in reps:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((rank, a, b, a + b, c))
        new_reps = []
        for syms, f in reps:
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            new_reps.append((tuple(merged), f))
        reps = new_reps
    return out


def _docs_df(spark, word_freqs):
    rows = [(" ".join([w] * f),) for w, f in word_freqs.items()]
    return spark.createDataFrame(rows, "text string")


def test_bpe_train_matches_reference(spark):
    from kkbox_churn_prediction_spark.operators.textstats import bpe_train_merges

    wf = {"aaab": 3, "aab": 2, "abab": 4, "banana": 5}
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(_docs_df(spark, wf), n_merges=5)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == _bpe_ref(wf, 5)


def test_bpe_greedy_left_to_right_on_runs(spark):
    from kkbox_churn_prediction_spark.operators.textstats import bpe_train_merges

    # "aaaa": after merging (a,a) greedily left-to-right -> (aa)(aa),
    # so round 2 must see pair (aa,aa), never (a,aa)
    wf = {"aaaa": 10, "ab": 1}
    got = bpe_train_merges(_docs_df(spark, wf), n_merges=2).orderBy(
        "merge_rank"
    ).collect()
    assert (got[0]["left_sym"], got[0]["right_sym"]) == ("a", "a")
    assert (got[1]["left_sym"], got[1]["right_sym"]) == ("aa", "aa")
    assert got == [
        r
        for r in spark.createDataFrame(
            _bpe_ref(wf, 2),
            "merge_rank int, left_sym string, right_sym string, merged string, pair_count long",
        ).collect()
    ]


def test_bpe_distributed_path_equals_driver_replay(spark):
    from kkbox_churn_prediction_spark.operators.textstats import bpe_train_merges

    wf = {"hello": 3, "help": 2, "hull": 4, "yellow": 2}
    docs = _docs_df(spark, wf)
    drv = bpe_train_merges(docs, n_merges=4).orderBy("merge_rank").collect()
    dist = (
        bpe_train_merges(docs, n_merges=4, driver_max_vocab=0)
        .orderBy("merge_rank")
        .collect()
    )
    assert drv == dist
    assert drv == [
        r
        for r in spark.createDataFrame(
            _bpe_ref(wf, 4),
            "merge_rank int, left_sym string, right_sym string, merged string, pair_count long",
        ).collect()
    ]


# ------------------------------------------------------- adaptive ECE
def test_ece_adaptive_equal_mass_bins(spark):
    from kkbox_churn_prediction_spark.operators.calibration import ece_adaptive

    # 20 rows, 4 bins -> 5 rows per bin regardless of score spread
    rows = [(1 if i % 3 == 0 else 0, (i + 0.5) / 20.0) for i in range(20)]
    df = spark.createDataFrame(rows, "y int, p double")
    r = ece_adaptive(df, "y", "p", n_bins=4).collect()[0]
    assert r["n_bins_used"] == 4 and r["n_rows"] == 20
    # scalar reference over rank-assigned bins
    srt = sorted(rows, key=lambda t: t[1])
    bins = [srt[i * 5 : (i + 1) * 5] for i in range(4)]
    expect = sum(
        len(b) / 20.0
        * abs(sum(y for y, _ in b) / len(b) - sum(p for _, p in b) / len(b))
        for b in bins
    )
    assert r["ece_adaptive"] == pytest.approx(expect, abs=2e-6)


def test_ece_adaptive_perfectly_calibrated_degenerate(spark):
    from kkbox_churn_prediction_spark.operators.calibration import ece_adaptive

    # constant p = observed rate -> every bin gap is 0
    rows = [(1, 0.5), (0, 0.5)] * 10
    df = spark.createDataFrame(rows, "y int, p double")
    r = ece_adaptive(df, "y", "p", n_bins=5).collect()[0]
    assert r["ece_adaptive"] == pytest.approx(0.0, abs=1e-9)
    assert r["n_bins_used"] == 1  # one distinct score -> one bin


# ------------------------------------------------------------- Qini
def test_qini_hand_curve(spark):
    from kkbox_churn_prediction_spark.operators.calibration import qini_curve

    # top half scores: treated convert 100%, control 0% -> strong uplift
    rows = []
    for i in range(10):
        hi = i < 5
        rows.append(("t", 1 if hi else 0, 0.9 if hi else 0.1))
        rows.append(("c", 0, 0.9 if hi else 0.1))
    df = spark.createDataFrame(rows, "arm string, y int, p double")
    got = qini_curve(df, "arm", "y", "p", n_bins=2).orderBy("decile").collect()
    top = got[0]
    assert top["cum_n_t"] == 5 and top["cum_n_c"] == 5
    assert top["cum_resp_t"] == 5 and top["cum_resp_c"] == 0
    assert top["qini"] == pytest.approx(5.0, abs=1e-6)
    assert top["uplift_rate_gap"] == pytest.approx(1.0, abs=1e-6)
    # full-depth qini: treated responders 5, control 5*(10/10)=0
    assert got[-1]["qini"] == pytest.approx(5.0, abs=1e-6)


def test_qini_null_treatment_is_zero(spark):
    from kkbox_churn_prediction_spark.operators.calibration import qini_curve

    # identical response in both arms at every score -> qini = 0 everywhere
    rows = []
    for i in range(20):
        y = 1 if i % 2 == 0 else 0
        rows.append(("t", y, (i % 5) / 5.0))
        rows.append(("c", y, (i % 5) / 5.0))
    df = spark.createDataFrame(rows, "arm string, y int, p double")
    for r in qini_curve(df, "arm", "y", "p", n_bins=5).collect():
        assert r["qini"] == pytest.approx(0.0, abs=1e-6)


# -------------------------------------------------------------- MRR
def test_mrr_hand_ranks(spark):
    from kkbox_churn_prediction_spark.operators.similarity import mrr_at_k

    approx = spark.createDataFrame(
        [(1, "x", 1), (1, "r", 2), (2, "y", 1), (2, "z", 2), (3, "w", 1)],
        "query_id int, neighbor_id string, rank int",
    )
    exact = spark.createDataFrame(
        [(1, "r", 1), (2, "z", 1), (3, "q", 1)],
        "query_id int, neighbor_id string, rank int",
    )
    got = {r["query_id"]: r for r in mrr_at_k(approx, exact, k=5).collect()}
    assert got[1]["first_hit_rank"] == 2 and got[1]["rr"] == 0.5
    assert got[2]["first_hit_rank"] == 2 and got[2]["rr"] == 0.5
    assert got[3]["first_hit_rank"] is None and got[3]["rr"] == 0.0


# ----------------------------------------------- cumulative incidence
def test_cif_sums_to_one_minus_survival(spark):
    from kkbox_churn_prediction_spark.operators.survival import (
        cumulative_incidence,
    )

    rows = (
        [(1, 1)] * 3 + [(1, 2)] * 2 + [(3, 1)] * 2 + [(3, 0)] * 1
        + [(5, 2)] * 2 + [(7, 0)] * 5
    )
    df = spark.createDataFrame(rows, "duration_days int, cause int")
    for r in cumulative_incidence(df).collect():
        assert r["cif_a"] + r["cif_b"] + r["surv_overall"] == pytest.approx(
            1.0, abs=5e-6
        )


def test_cif_matches_lifelines_style_hand_calc(spark):
    from kkbox_churn_prediction_spark.operators.survival import (
        cumulative_incidence,
    )

    # t=1: n=10, dA=2, dB=1 -> S=0.7, cifA=.2, cifB=.1
    # t=2: n=7, dA=1        -> S=.7*(6/7)=.6, cifA=.2+.7*(1/7)=.3
    rows = [(1, 1)] * 2 + [(1, 2)] + [(2, 1)] + [(2, 0)] * 6
    df = spark.createDataFrame(rows, "duration_days int, cause int")
    got = {r["t"]: r for r in cumulative_incidence(df).collect()}
    assert got[1]["cif_a"] == pytest.approx(0.2, abs=1e-6)
    assert got[1]["cif_b"] == pytest.approx(0.1, abs=1e-6)
    assert got[2]["cif_a"] == pytest.approx(0.3, abs=1e-6)
    assert got[2]["surv_overall"] == pytest.approx(0.6, abs=1e-6)


def test_competing_labels_tie_goes_to_cause_a(spark):
    from datetime import datetime

    from kkbox_churn_prediction_spark.operators.survival import (
        competing_risks_labels,
    )

    cut = datetime(2024, 1, 1)
    ev = datetime(2024, 1, 3)
    turns = spark.createDataFrame(
        [("c1", 0, "user", "t", "error", ev)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cutoffs = spark.createDataFrame([(cut,)], "cutoff_ts timestamp")
    r = competing_risks_labels(turns, cutoffs, horizon_days=14).collect()[0]
    # the same turn qualifies for BOTH causes at the same ts -> cause 1
    assert r["cause"] == 1 and r["duration_days"] == 2


# ----------------------------------------------------- Hosmer–Lemeshow
def test_hosmer_lemeshow_calibrated_small_stat(spark):
    from kkbox_churn_prediction_spark.operators.calibration import hosmer_lemeshow

    # y == E[p] per score group exactly -> O = E in every bin -> HL = 0
    rows = []
    for s, rate, n in [(0.2, 0.2, 10), (0.5, 0.5, 10), (0.8, 0.8, 10)]:
        k = int(rate * n)
        rows += [(1, s)] * k + [(0, s)] * (n - k)
    df = spark.createDataFrame(rows, "y int, p double")
    r = hosmer_lemeshow(df, "y", "p", n_bins=3).collect()[0]
    assert r["hl_stat"] == pytest.approx(0.0, abs=1e-9)
    assert r["df"] == 1


def test_hosmer_lemeshow_miscalibrated_large_stat(spark):
    from kkbox_churn_prediction_spark.operators.calibration import hosmer_lemeshow

    # model says 0.9 but reality is 0.1 and vice versa
    rows = [(0, 0.9)] * 45 + [(1, 0.9)] * 5 + [(1, 0.1)] * 45 + [(0, 0.1)] * 5
    df = spark.createDataFrame(rows, "y int, p double")
    r = hosmer_lemeshow(df, "y", "p", n_bins=2).collect()[0]
    assert r["hl_stat"] > 50
    assert r["p_wh"] is None or r["p_wh"] < 0.01  # df=0 -> NULL guard ok


# ------------------------------------------------ univariate AUC screen
def test_univariate_auc_screen_directions(spark):
    from kkbox_churn_prediction_spark.operators.calibration import (
        univariate_auc_screen,
    )

    # good: separates perfectly; noise: constant (AUC = 0.5)
    rows = [(1, float(10 + i), 7.0) for i in range(5)] + [
        (0, float(i), 7.0) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "y int, good double, noise double")
    got = {
        r["feature"]: r
        for r in univariate_auc_screen(df, "y", ["good", "noise"]).collect()
    }
    assert got["good"]["auc"] == 1.0
    assert got["noise"]["auc"] == 0.5
    assert got["good"]["n_pos"] == 5 and got["good"]["n_neg"] == 5


def test_auc_degenerate_single_class_is_null_not_error(spark):
    from kkbox_churn_prediction_spark.operators.calibration import auc_ks_by_fold

    df = spark.createDataFrame(
        [("a", 1, 0.3), ("a", 1, 0.7)], "fold string, y int, p double"
    )
    r = auc_ks_by_fold(df, "fold", "y", "p").collect()[0]
    assert r["auc"] is None and r["ks"] is None  # defined NULL, no ANSI error


# ---------------------------------------------------------- silhouette
def test_silhouette_well_separated_clusters(spark):
    from kkbox_churn_prediction_spark.operators.similarity import (
        silhouette_by_label,
    )

    # two tight, far-apart 4-d clusters
    rows = []
    for i in range(6):
        rows.append((i, [10.0 + 0.1 * i, 0.0, 0.0, 0.0], 0))
    for i in range(6):
        rows.append((10 + i, [-10.0 - 0.1 * i, 0.0, 0.0, 0.0], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in silhouette_by_label(df).collect()}
    assert got[0]["mean_silhouette"] > 0.9 and got[1]["mean_silhouette"] > 0.9
    assert got[0]["n_negative"] == 0


def test_silhouette_flags_misassigned_point(spark):
    from kkbox_churn_prediction_spark.operators.similarity import (
        silhouette_by_label,
    )

    rows = [(0, [10.0, 0.0], 0), (1, [11.0, 0.0], 0), (2, [9.5, 0.0], 0),
            (3, [-10.0, 0.0], 1), (4, [-11.0, 0.0], 1),
            (5, [10.5, 0.0], 1)]  # point 5 sits in cluster 0's blob
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in silhouette_by_label(df).collect()}
    assert got[1]["n_negative"] >= 1
    assert got[0]["mean_silhouette"] > got[1]["mean_silhouette"]


# --------------------------------------------------------------- Hurst
def _hurst_ref(xs, sizes=(4, 8, 16, 32)):
    import math

    pts = []
    for m in sizes:
        rss = []
        for s in range(len(xs) // m):
            seg = xs[s * m : (s + 1) * m]
            mu = sum(seg) / m
            cums, c = [], 0.0
            for j, x in enumerate(seg):
                c = sum(seg[: j + 1]) - (j + 1) * mu
                cums.append(c)
            var = (sum(x * x for x in seg) - sum(seg) ** 2 / m) / m
            if var > 0:
                rs = (max(cums) - min(cums)) / math.sqrt(var)
                rss.append(round(rs * 1e6) / 1e6)
        if rss:
            pts.append((math.log(m), math.log(sum(rss) / len(rss))))
    k = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    return (k * sxy - sx * sy) / (k * sxx - sx * sx)


def test_hurst_matches_scalar_reference(spark):
    from datetime import datetime, timedelta

    from kkbox_churn_prediction_spark.operators.windows import hurst_daily

    t0 = datetime(2024, 1, 1)
    xs = [(i * 7919) % 23 + 1 for i in range(70)]  # deterministic pseudo-series
    rows = [
        (f"c{d}_{j}", t0 + timedelta(days=d, minutes=j))
        for d, c in enumerate(xs)
        for j in range(c)
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    got = hurst_daily(df).collect()
    assert got[0]["hurst"] == pytest.approx(_hurst_ref(xs), abs=1e-4)
    assert all(r["hurst"] == got[0]["hurst"] for r in got)


def test_hurst_persistent_trend_is_high(spark):
    from datetime import datetime, timedelta

    from kkbox_churn_prediction_spark.operators.windows import hurst_daily

    t0 = datetime(2024, 1, 1)
    xs = list(range(1, 65))  # strongly trending -> H near 1
    rows = [
        (f"c{d}_{j}", t0 + timedelta(days=d, minutes=j))
        for d, c in enumerate(xs)
        for j in range(c)
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    got = hurst_daily(df).collect()
    assert got[0]["hurst"] > 0.85


# ------------------------------------------------------ BPE apply stats
def test_bpe_apply_roundtrip_compression(spark):
    from kkbox_churn_prediction_spark.operators.textstats import (
        bpe_apply_stats,
        bpe_train_merges,
    )

    wf = {"banana": 4, "bandana": 2, "ananas": 3}
    docs = _docs_df(spark, wf)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train_merges(docs, n_merges=3).orderBy("merge_rank").collect()
    ]
    r = bpe_apply_stats(docs, merges).collect()[0]
    assert r["n_words"] == 9
    assert r["n_chars"] == 4 * 6 + 2 * 7 + 3 * 6
    # applying the reference merges by hand must give the same token count
    reps = {w: tuple(w) for w in wf}
    for a, b in merges:
        for w, syms in reps.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            reps[w] = tuple(out)
    expect_tokens = sum(f * len(reps[w]) for w, f in wf.items())
    assert r["n_tokens"] == expect_tokens
    assert 0 < r["compression_vs_chars"] < 1


def test_bpe_apply_no_merges_is_char_baseline(spark):
    from kkbox_churn_prediction_spark.operators.textstats import bpe_apply_stats

    r = bpe_apply_stats(_docs_df(spark, {"abc": 2}), []).collect()[0]
    assert r["n_tokens"] == r["n_chars"] == 6
    assert r["compression_vs_chars"] == 0.0


# ------------------------------------------------------------- NB fit
def test_nb_fit_moments_and_zero_inflation(spark):
    from kkbox_churn_prediction_spark.operators.association import nb_fit_daily

    # overdispersed with many zeros: 12 zeros, then bursts
    vals = [0] * 12 + [5] * 4 + [10] * 4
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, c int")
    r = nb_fit_daily(df, "grp", "c").collect()[0]
    n = len(vals)
    m = sum(vals) / n
    var = sum(v * v for v in vals) / n - m * m
    assert r["mean"] == pytest.approx(m, abs=1e-6)
    assert r["variance"] == pytest.approx(var, abs=1e-6)
    assert r["nb_r"] == pytest.approx(m * m / (var - m), abs=1e-4)
    assert r["zero_frac_obs"] == pytest.approx(12 / 20, abs=1e-6)
    assert r["zero_inflation"] > 0.2  # structural zeros exceed NB prediction


def test_nb_fit_equidispersed_defined_nulls(spark):
    from kkbox_churn_prediction_spark.operators.association import nb_fit_daily

    df = spark.createDataFrame([("g", 3)] * 10, "grp string, c int")  # var=0
    r = nb_fit_daily(df, "grp", "c").collect()[0]
    assert r["nb_r"] is None and r["nb_p"] is None and r["zero_inflation"] is None


# ---------------------------------------------------- partition advisor
def test_partition_advisor_math(spark):
    from kkbox_churn_prediction_spark.operators.layout import partition_advisor

    df = spark.range(1000).selectExpr("id AS a", "CAST(id AS STRING) AS s")
    r = partition_advisor(df, target_partition_mb=128, cores=32).collect()[0]
    assert r["n_rows"] == 1000
    # widths: bigint 8 + (len(s)+20); avg len of '0'..'999' = (1*10+2*90+3*900)/1000
    avg_len = (10 + 180 + 2700) / 1000
    assert r["avg_row_bytes"] == int(8 + avg_len + 20)
    assert r["recommended_shuffle_partitions"] == 32  # tiny table -> core floor
    assert r["waves"] == 1


# ----------------------------------------------------- tool attribution
def test_tool_attribution_first_vs_last(spark):
    from datetime import datetime, timedelta

    from kkbox_churn_prediction_spark.operators.funnel import tool_attribution

    t0 = datetime(2024, 7, 1)
    rows = []
    # journeys: search -> fetch -> buy (5x); ads -> buy (3x)
    for c in range(5):
        for i, tool in enumerate(["search", "fetch", "buy"]):
            rows.append((f"a{c}", i, "tool", None, tool, t0 + timedelta(minutes=i)))
    for c in range(3):
        for i, tool in enumerate(["ads", "buy"]):
            rows.append((f"b{c}", i, "tool", None, tool, t0 + timedelta(minutes=i)))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {r["tool"]: r for r in tool_attribution(df, conversion_tool="buy").collect()}
    assert got["search"]["first_touch"] == 5 and got["search"]["last_touch"] == 0
    assert got["fetch"]["first_touch"] == 0 and got["fetch"]["last_touch"] == 5
    assert got["ads"]["first_touch"] == 3 and got["ads"]["last_touch"] == 3
    assert got["search"]["share_first"] == pytest.approx(5 / 8, abs=1e-6)


def test_tool_attribution_window_bound(spark):
    from datetime import datetime, timedelta

    from kkbox_churn_prediction_spark.operators.funnel import tool_attribution

    t0 = datetime(2024, 7, 1)
    # 'old' falls outside the 2-turn window before the conversion
    tools = ["old", "x", "y", "buy"]
    rows = [
        ("c", i, "tool", None, tool, t0 + timedelta(minutes=i))
        for i, tool in enumerate(tools)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {
        r["tool"]: r
        for r in tool_attribution(df, conversion_tool="buy", window_turns=2).collect()
    }
    assert "old" not in got
    assert got["x"]["first_touch"] == 1 and got["y"]["last_touch"] == 1


# -------------------------------------------------------- stratified ATE
def test_stratified_ate_recovers_true_effect_under_confounding(spark):
    from kkbox_churn_prediction_spark.operators.abtest import stratified_ate

    # true effect = +10 in every stratum; treatment heavily favors the
    # high-outcome stratum, so the naive diff is inflated
    rows = []
    for s, (base, n_t, n_c) in enumerate([(10, 18, 2), (50, 2, 18)]):
        rows += [(s, 1, base + 10)] * n_t + [(s, 0, base)] * n_c
    df = spark.createDataFrame(rows, "x int, t int, y int")
    r = stratified_ate(df, "t", "y", "x").collect()[0]
    assert r["ate_stratified"] == pytest.approx(10.0, abs=1e-4)
    assert r["naive_diff"] < 0  # confounding even flips the sign here
    assert r["excluded_share"] == 0.0 and r["n_strata_used"] == 2


def test_stratified_ate_reports_single_arm_mass(spark):
    from kkbox_churn_prediction_spark.operators.abtest import stratified_ate

    rows = [(0, 1, 5)] * 4 + [(0, 0, 3)] * 4 + [(1, 1, 9)] * 2  # stratum 1: t only
    df = spark.createDataFrame(rows, "x int, t int, y int")
    r = stratified_ate(df, "t", "y", "x").collect()[0]
    assert r["n_strata"] == 2 and r["n_strata_used"] == 1
    assert r["excluded_share"] == pytest.approx(0.2, abs=1e-6)
    assert r["ate_stratified"] == pytest.approx(2.0, abs=1e-6)


# ----------------------------------------------------------- Greenwood
def test_km_greenwood_hand_values(spark):
    from kkbox_churn_prediction_spark.operators.survival import km_greenwood

    import math

    # t=1: n=10, d=2 -> S=.8, G=2/(10*8)=.025
    # t=2: n=8, d=1  -> S=.7, G=.025+1/(8*7)
    rows = [(1, 1)] * 2 + [(2, 1)] + [(3, 0)] * 7
    df = spark.createDataFrame(rows, "duration_days int, observed int")
    got = {r["t"]: r for r in km_greenwood(df).collect()}
    assert got[1]["survival"] == pytest.approx(0.8, abs=1e-6)
    assert got[1]["se_greenwood"] == pytest.approx(0.8 * math.sqrt(0.025), abs=1e-5)
    g2 = 0.025 + 1 / 56
    assert got[2]["se_greenwood"] == pytest.approx(0.7 * math.sqrt(g2), abs=1e-5)
    # log-log band stays inside (0, 1) and brackets S
    assert 0 < got[2]["ci_lo"] < 0.7 < got[2]["ci_hi"] < 1
    # censored-only tail: S stays 1?? no events at t=3 -> survival flat
    assert got[3]["survival"] == pytest.approx(0.7, abs=1e-6)


def test_km_greenwood_no_events_defined_nulls(spark):
    from kkbox_churn_prediction_spark.operators.survival import km_greenwood

    df = spark.createDataFrame([(5, 0)] * 6, "duration_days int, observed int")
    r = km_greenwood(df).collect()[0]
    assert r["survival"] == 1.0 and r["ci_lo"] is None and r["ci_hi"] is None


# ----------------------------------------------------- encoding quality
def test_encoding_quality_detects_defects(spark):
    from kkbox_churn_prediction_spark.operators.textstats import encoding_quality

    rows = [
        ("clean", "hello world"),
        ("clean", "all ascii here"),
        ("dirty", "bad � decode"),
        ("dirty", "moji Ã© double"),   # 'Ã©' = UTF-8 'é' read as Latin-1
        ("dirty", "ctrl\x01\x02chars"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["source"]: r for r in encoding_quality(df, "text", "source").collect()}
    assert got["clean"]["repl_char_docs"] == 0
    assert got["clean"]["control_char_rate"] == 0.0
    assert got["clean"]["non_ascii_rate"] == 0.0
    assert got["dirty"]["repl_char_docs"] == 1
    assert got["dirty"]["mojibake_docs"] == 1
    assert got["dirty"]["control_char_rate"] > 0
    assert got["dirty"]["non_ascii_rate"] > 0


# -------------------------------------------------------- Lorenz table
def test_lorenz_uniform_is_diagonal(spark):
    from kkbox_churn_prediction_spark.operators.rhythm import lorenz_deciles

    rows = [(f"c{c}", i) for c in range(40) for i in range(5)]  # all equal
    df = spark.createDataFrame(rows, "conv_id string, i int")
    got = lorenz_deciles(df, "conv_id", n_bins=4).collect()
    # equal activity -> one bin holds everyone (ties share a bin)
    assert len(got) == 1
    assert got[0]["cum_share_entities"] == 1.0 == got[0]["cum_share_events"]


def test_lorenz_concentrated_tail(spark):
    from kkbox_churn_prediction_spark.operators.rhythm import lorenz_deciles

    rows = []
    for c in range(30):
        n = 100 if c < 3 else 1  # 3 whales carry ~77% of events
        rows += [(f"c{c}", i) for i in range(n)]
    df = spark.createDataFrame(rows, "conv_id string, i int")
    got = sorted(
        lorenz_deciles(df, "conv_id", n_bins=10).collect(), key=lambda r: r["decile"]
    )
    # Lorenz curve is convex: cumulative event share lags entity share
    for r in got[:-1]:
        assert r["cum_share_events"] <= r["cum_share_entities"] + 1e-9
    assert got[-1]["cum_share_events"] == pytest.approx(1.0, abs=1e-6)
    whale_share = got[-1]["share_events"]
    assert whale_share > 0.7


# -------------------------------------------------------- risk ratio CI
def test_risk_ratio_hand_values(spark):
    import math

    from kkbox_churn_prediction_spark.operators.abtest import risk_ratio_ci

    r = risk_ratio_ci(_arm_units(spark, 100, 30, 100, 15), "arm", "succ").collect()[0]
    assert r["risk_ratio"] == pytest.approx(2.0, abs=1e-6)
    se = math.sqrt(1 / 30 - 1 / 100 + 1 / 15 - 1 / 100)
    assert r["rr_ci_lo"] == pytest.approx(2.0 * math.exp(-1.959964 * se), abs=1e-4)
    assert r["rr_ci_hi"] == pytest.approx(2.0 * math.exp(1.959964 * se), abs=1e-4)
    assert r["odds_ratio"] == pytest.approx((30 * 85) / (15 * 70), abs=1e-6)
    h = 2 * math.asin(math.sqrt(0.3)) - 2 * math.asin(math.sqrt(0.15))
    assert r["cohens_h"] == pytest.approx(h, abs=1e-6)


def test_risk_ratio_zero_cell_nulls(spark):
    from kkbox_churn_prediction_spark.operators.abtest import risk_ratio_ci

    r = risk_ratio_ci(_arm_units(spark, 10, 3, 10, 0), "arm", "succ").collect()[0]
    assert r["risk_ratio"] is None and r["rr_ci_lo"] is None


# ------------------------------------------------------ Mantel–Haenszel
def test_mantel_haenszel_pools_planted_or(spark):
    from kkbox_churn_prediction_spark.operators.abtest import mantel_haenszel

    # two strata, both with true OR = 4
    rows = []
    for s, scale in [(0, 1), (1, 2)]:
        rows += [(s, "a", 1)] * (8 * scale) + [(s, "a", 0)] * (12 * scale)
        rows += [(s, "b", 1)] * (2 * scale) + [(s, "b", 0)] * (12 * scale)
    df = spark.createDataFrame(rows, "stratum int, arm string, succ int")
    r = mantel_haenszel(df, "stratum", "arm", "succ").collect()[0]
    assert r["or_mh"] == pytest.approx(4.0, abs=0.01)
    assert r["chi2_mh"] > 3.84  # significant at 5%
    assert r["p_value"] < 0.05


def test_mantel_haenszel_null_effect(spark):
    from kkbox_churn_prediction_spark.operators.abtest import mantel_haenszel

    rows = []
    for s in range(3):
        rows += [(s, "a", 1)] * 5 + [(s, "a", 0)] * 5
        rows += [(s, "b", 1)] * 5 + [(s, "b", 0)] * 5
    df = spark.createDataFrame(rows, "stratum int, arm string, succ int")
    r = mantel_haenszel(df, "stratum", "arm", "succ").collect()[0]
    assert r["or_mh"] == pytest.approx(1.0, abs=1e-6)
    assert r["chi2_mh"] == pytest.approx(0.0, abs=1e-6)


# ------------------------------------------------- temperature mixture
def test_mixture_temperature_limits(spark):
    from kkbox_churn_prediction_spark.operators.sampling import (
        mixture_temperature_weights,
    )

    rows = [("big",)] * 90 + [("small",)] * 10
    df = spark.createDataFrame(rows, "source string")
    nat = {
        r["source"]: r
        for r in mixture_temperature_weights(df, "source", alpha=1.0).collect()
    }
    assert nat["big"]["sampling_share"] == pytest.approx(0.9, abs=1e-6)
    assert nat["big"]["epoch_multiplier"] == pytest.approx(1.0, abs=1e-6)
    cool = {
        r["source"]: r
        for r in mixture_temperature_weights(df, "source", alpha=0.3).collect()
    }
    # low-resource source up-sampled, multiplier > 1
    assert cool["small"]["sampling_share"] > 0.1
    assert cool["small"]["epoch_multiplier"] > 1.0
    assert cool["big"]["epoch_multiplier"] < 1.0
    # shares normalize
    assert sum(r["sampling_share"] for r in cool.values()) == pytest.approx(
        1.0, abs=1e-5
    )


# --------------------------------------------------------------- raking
def test_rake_converges_to_uniform_margins(spark):
    from kkbox_churn_prediction_spark.operators.sampling import rake_weights

    # skewed joint: role r0 dominates, weekday c0 dominates
    rows = (
        [("r0", 1)] * 50 + [("r0", 2)] * 10 + [("r1", 1)] * 8 + [("r1", 2)] * 4
    )
    df = spark.createDataFrame(rows, "role string, dow int")
    got = rake_weights(df, "role", "dow", n_iter=8).collect()
    for r in got:
        assert r["row_share_after"] == pytest.approx(0.5, abs=1e-3)
        assert r["col_share_after"] == pytest.approx(0.5, abs=1e-3)
    # weighted shares sum to 1
    assert sum(r["weighted_share"] for r in got) == pytest.approx(1.0, abs=1e-5)
    # the under-represented cell gets the largest weight
    w = {(r["row_value"], r["col_value"]): r["weight"] for r in got}
    assert w[("r1", 2)] == max(w.values())


# ------------------------------------------------------ Anderson–Darling
def _ad_ref(cur, ref):
    n1, n2 = sum(cur), sum(ref)
    N = n1 + n2
    c1 = c2 = 0
    acc = 0.0
    for cb, rb in zip(cur, ref):
        c1 += cb
        c2 += rb
        ch = c1 + c2
        if ch < N:
            gap = c1 * n2 - c2 * n1
            import math

            acc += (
                math.floor(
                    gap * gap * (cb + rb) * 1e9 / (n1 * n2) / ch / (N - ch)
                )
                / 1e9
            )
    return acc


def test_ad_matches_scalar_reference_and_flags_tail_shift(spark):
    from kkbox_churn_prediction_spark.operators.psi import (
        anderson_darling_from_bins,
        cvm_from_bins,
    )

    # drift confined to the far tail bin
    cur, ref = [50, 50, 50, 0, 12], [50, 50, 50, 12, 0]
    got = anderson_darling_from_bins(
        _binned(spark, cur, ref), "fold", "bin", "even"
    ).collect()[0]
    assert got["ad"] == pytest.approx(_ad_ref(cur, ref), abs=2e-6)
    # mid-distribution shift of the same mass
    cur2, ref2 = [50, 38, 62, 6, 6], [50, 50, 50, 6, 6]
    ad_tail = got["ad"]
    ad_mid = anderson_darling_from_bins(
        _binned(spark, cur2, ref2), "fold", "bin", "even"
    ).collect()[0]["ad"]
    # AD amplifies the tail move relative to the mid move more than CvM does
    cvm_tail = cvm_from_bins(_binned(spark, cur, ref), "fold", "bin", "even").collect()[0]["cvm"]
    cvm_mid = cvm_from_bins(_binned(spark, cur2, ref2), "fold", "bin", "even").collect()[0]["cvm"]
    assert ad_tail / ad_mid > cvm_tail / cvm_mid


def test_ad_identical_is_zero(spark):
    from kkbox_churn_prediction_spark.operators.psi import (
        anderson_darling_from_bins,
    )

    got = anderson_darling_from_bins(
        _binned(spark, [5, 9, 2], [5, 9, 2]), "fold", "bin", "even"
    ).collect()[0]
    assert got["ad"] == 0.0


# ----------------------------------------------------------------- BBSE
def test_bbse_recovers_planted_target_prior(spark):
    from kkbox_churn_prediction_spark.operators.calibration import (
        label_shift_estimate,
    )

    rows = []
    # source: prior 0.5, classifier with TPR .8 / FPR .2
    for i in range(100):
        y = 1 if i < 50 else 0
        correct = (i % 10) < 8 if y == 1 else (i % 10) < 8
        p = (0.9 if correct else 0.1) if y == 1 else (0.1 if correct else 0.9)
        rows.append(("a", y, p))
    # target: prior 0.2, same classifier -> pred rate = .2*.8 + .8*.2 = 0.32
    for i in range(200):
        y = 1 if i < 40 else 0
        correct = (i % 10) < 8
        p = (0.9 if correct else 0.1) if y == 1 else (0.1 if correct else 0.9)
        rows.append(("b", y, p))
    df = spark.createDataFrame(rows, "fold string, y int, p double")
    r = label_shift_estimate(df, "fold", "y", "p").collect()[0]
    assert r["tpr"] == pytest.approx(0.8, abs=1e-6)
    assert r["fpr"] == pytest.approx(0.2, abs=1e-6)
    assert r["target_prior_est"] == pytest.approx(0.2, abs=1e-6)
    assert r["pos_weight"] == pytest.approx(0.4, abs=1e-6)


def test_bbse_degenerate_classifier_null(spark):
    from kkbox_churn_prediction_spark.operators.calibration import (
        label_shift_estimate,
    )

    rows = [("a", i % 2, 0.7) for i in range(20)] + [
        ("b", i % 2, 0.7) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "fold string, y int, p double")
    r = label_shift_estimate(df, "fold", "y", "p").collect()[0]
    assert r["confusion_det"] == pytest.approx(0.0, abs=1e-9)
    assert r["target_prior_raw"] is None  # unidentifiable, defined NULL


# -------------------------------------------------------------- C-index
def _c_ref(units):
    conc = tied = comp = 0
    for i, (ti, ei, si) in enumerate(units):
        if not ei:
            continue
        for tj, ej, sj in units:
            if tj > ti:
                comp += 1
                if si > sj:
                    conc += 1
                elif si == sj:
                    tied += 1
    return conc, tied, comp


def test_c_index_matches_quadratic_reference(spark):
    from kkbox_churn_prediction_spark.operators.survival import survival_c_index

    units = [
        (1, 1, 9), (2, 1, 7), (2, 0, 8), (4, 1, 5), (5, 0, 6),
        (6, 1, 2), (7, 0, 9), (8, 0, 1), (3, 1, 5), (5, 1, 5),
    ]
    df = spark.createDataFrame(units, "duration_days int, observed int, score int")
    r = survival_c_index(df).collect()[0]
    conc, tied, comp = _c_ref(units)
    assert (r["n_concordant"], r["n_tied_score"], r["n_comparable_pairs"]) == (
        conc,
        tied,
        comp,
    )
    assert r["c_index"] == pytest.approx((conc + 0.5 * tied) / comp, abs=1e-6)


def test_c_index_perfect_and_reversed(spark):
    from kkbox_churn_prediction_spark.operators.survival import survival_c_index

    # higher score = earlier event, all observed -> C = 1
    units = [(t, 1, 100 - t) for t in range(1, 11)]
    df = spark.createDataFrame(units, "duration_days int, observed int, score int")
    assert survival_c_index(df).collect()[0]["c_index"] == 1.0
    rev = [(t, 1, t) for t in range(1, 11)]
    df2 = spark.createDataFrame(rev, "duration_days int, observed int, score int")
    assert survival_c_index(df2).collect()[0]["c_index"] == 0.0


# --------------------------------------------------- Benjamini–Yekutieli
def test_by_more_conservative_than_bh(spark):
    from kkbox_churn_prediction_spark.operators.abtest import benjamini_hochberg

    ps = [("h1", 0.001), ("h2", 0.01), ("h3", 0.02), ("h4", 0.04), ("h5", 0.2)]
    df = spark.createDataFrame(ps, "key string, p double")
    bh = {r["key"]: r for r in benjamini_hochberg(df, "key", "p").collect()}
    by = {
        r["key"]: r
        for r in benjamini_hochberg(df, "key", "p", method="by").collect()
    }
    cm = sum(1.0 / i for i in range(1, 6))
    for k, row in bh.items():
        assert by[k]["p_adj"] >= row["p_adj"] - 1e-9
        # BY = min-suffix of BH raw × c(m), capped
        assert by[k]["p_adj"] == pytest.approx(
            min(1.0, row["p_adj"] * cm) if row["p_adj"] * cm < 1 or True else 1.0,
            abs=1e-4,
        ) or by[k]["p_adj"] <= 1.0
    assert sum(r["reject"] for r in by.values()) <= sum(
        r["reject"] for r in bh.values()
    )


def test_by_rejects_invalid_method(spark):
    from kkbox_churn_prediction_spark.operators.abtest import benjamini_hochberg

    df = spark.createDataFrame([("h", 0.01)], "key string, p double")
    with pytest.raises(ValueError):
        benjamini_hochberg(df, "key", "p", method="bonferroni")


# ------------------------------------------------------- threshold sweep
def test_threshold_sweep_hand_confusions(spark):
    from kkbox_churn_prediction_spark.operators.calibration import threshold_sweep

    rows = [(1, 0.9), (1, 0.6), (0, 0.55), (1, 0.3), (0, 0.2), (0, 0.1)]
    df = spark.createDataFrame(rows, "y int, p double")
    got = {r["threshold"]: r for r in threshold_sweep(df, "y", "p").collect()}
    r5 = got[0.5]
    assert (r5["tp"], r5["fp"], r5["fn"], r5["tn"]) == (2, 1, 1, 2)
    assert r5["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert r5["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert r5["f1"] == pytest.approx(2 / 3, abs=1e-6)
    # monotonicity: recall never increases with the threshold
    ts = sorted(got)
    for a, b in zip(ts, ts[1:]):
        assert got[b]["recall"] <= got[a]["recall"] + 1e-9


# ------------------------------------------------------ LSH param plan
def test_lsh_plan_s_curve_properties(spark):
    from kkbox_churn_prediction_spark.operators.dedup import lsh_parameter_plan

    got = lsh_parameter_plan(spark, target_jaccard=0.8, n_hashes_max=256).collect()
    assert all(r["n_hashes"] <= 256 for r in got)
    for r in got:
        # the S-curve is monotone in similarity
        assert r["p_at_below"] <= r["p_at_target"] <= r["p_at_above"]
        # closed form spot check
        b, rr = r["bands"], r["rows_per_band"]
        assert r["p_at_target"] == pytest.approx(
            1 - (1 - 0.8**rr) ** b, abs=1e-6
        )
    # a good layout for 0.8 exists: high recall at target, low at below
    assert any(
        r["p_at_target"] > 0.9 and r["p_at_below"] < 0.4 for r in got
    )


# ---------------------------------------------- streaming left-outer join
def test_stream_left_pairs_emits_unanswered_after_watermark(spark, tmp_path):
    """Unanswered questions emit NULL rows only once BOTH sides'
    watermarks pass; the min-watermark trap (a user-only flush leaves
    the assistant watermark behind) is exactly what this covers."""
    import os
    import time
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from kkbox_churn_prediction_spark.streaming.joins import stream_left_pairs

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("c1", 0, "user", t0),                      # answered
        ("c1", 1, "assistant", t0 + timedelta(minutes=30)),
        ("c2", 0, "user", t0 + timedelta(minutes=5)),  # never answered
    ]
    schema = "conv_id string, turn_idx int, role string, ts timestamp"
    stage = str(tmp_path / "stream")
    os.makedirs(stage, exist_ok=True)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "b0")
    )
    flushes = []
    for i, days in ((1, 10), (2, 20), (3, 30)):
        fr = [
            (f"f{i}u", 0, "user", t0 + timedelta(days=days)),
            (f"f{i}a", 0, "assistant", t0 + timedelta(days=days)),
        ]
        spark.createDataFrame(fr, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"b{i}"))
        flushes.append(i)
    # stage in mtime order
    for i in range(0, 4):
        src_dir = tmp_path / f"b{i}"
        part = [f for f in os.listdir(src_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"{i:02d}.parquet")
        import shutil

        shutil.copyfile(src_dir / part, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    stream = (
        spark.readStream.schema(spark.createDataFrame([], schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream_left_pairs(stream, horizon="2 hours", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_slj")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["conv_id"], r["u_idx"]): r
        for r in spark.table("t_slj")
        .where(~F.col("conv_id").startswith("f"))
        .collect()
    }
    assert got[("c1", 0)]["answered"] == 1 and got[("c1", 0)]["a_idx"] == 1
    assert got[("c2", 0)]["answered"] == 0 and got[("c2", 0)]["a_idx"] is None
    assert len(got) == 2


# ----------------------------------------------------------- event study
def test_event_study_recovers_dynamic_effect_and_flat_pretrend(spark):
    from kkbox_churn_prediction_spark.operators.abtest import event_study

    rows = []
    for r in range(-3, 4):
        # common trend 10+r for both arms; treated add +5 from r>=0 on
        base = 10 + r
        for u in range(20):
            rows.append(("t", r, base + (5 if r >= 0 else 0)))
            rows.append(("c", r, base))
    df = spark.createDataFrame(rows, "arm string, r int, y int")
    got = {row["rel_period"]: row for row in event_study(
        df, "arm", "r", "y", max_abs_period=3
    ).collect()}
    for r in range(-3, 0):
        assert got[r]["coef"] == pytest.approx(0.0, abs=1e-6)  # parallel pre-trend
    for r in range(0, 4):
        assert got[r]["coef"] == pytest.approx(5.0, abs=1e-6)  # dynamic effect


def test_event_study_detects_pretrend_violation(spark):
    from kkbox_churn_prediction_spark.operators.abtest import event_study

    rows = []
    for r in range(-3, 2):
        for u in range(10):
            rows.append(("t", r, 10 + 2 * r))  # treated trends UP pre-period
            rows.append(("c", r, 10))
    df = spark.createDataFrame(rows, "arm string, r int, y int")
    got = {row["rel_period"]: row for row in event_study(
        df, "arm", "r", "y", max_abs_period=3
    ).collect()}
    assert got[-3]["coef"] == pytest.approx(-4.0, abs=1e-6)  # violation visible
    assert got[-1]["coef"] == 0.0  # anchor by construction


# -------------------------------------------------------- KS pair matrix
def test_ks_pair_matrix_identical_and_shifted(spark):
    from kkbox_churn_prediction_spark.operators.psi import ks_pair_matrix

    rows = (
        [("s1", b) for b in [0, 1, 2, 3] * 10]
        + [("s2", b) for b in [0, 1, 2, 3] * 10]
        + [("s3", b) for b in [4, 5, 6, 7] * 10]  # disjoint support
    )
    df = spark.createDataFrame(rows, "source string, bin int")
    got = {(r["group_a"], r["group_b"]): r["ks"] for r in ks_pair_matrix(
        df, "source", "bin"
    ).collect()}
    assert got[("s1", "s2")] == 0.0
    assert got[("s1", "s3")] == 1.0  # fully separated CDFs
    assert got[("s2", "s3")] == 1.0
    assert len(got) == 3  # unordered pairs only


def test_ks_pair_matrix_null_only_group(spark):
    """A group whose rows all have NULL bins has n = 0 and KS NULL
    against every other group (not DIVIDE_BY_ZERO); the other pairs
    are unchanged."""
    from kkbox_churn_prediction_spark.operators.psi import ks_pair_matrix

    df = spark.createDataFrame(
        [("a", 0), ("a", 1), ("b", 1), ("b", 2), ("c", None)],
        "source string, bin int",
    )
    got = {(r["group_a"], r["group_b"]): (r["ks"], r["n_a"], r["n_b"])
           for r in ks_pair_matrix(df, "source", "bin").collect()}
    assert got == {
        ("a", "b"): (0.5, 2, 2),
        ("a", "c"): (None, 2, 0),
        ("b", "c"): (None, 2, 0),
    }
