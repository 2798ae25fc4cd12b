"""Skew handling, checkpoint/resume, backtest folds."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.skew import (
    detect_heavy_hitters,
    salted_two_phase_sum,
    two_phase_count_distinct,
)
from kkbox_churn_prediction_spark.plans.folds import backtest, make_folds
from kkbox_churn_prediction_spark.plans.manifest import (
    read_backfill_output,
    resumable_backfill,
)
from kkbox_churn_prediction_spark.sources.synth import (
    clean_turns,
    generate_transcripts,
    to_spark,
)


@pytest.fixture(scope="module")
def turns(spark):
    return clean_turns(
        to_spark(spark, generate_transcripts(n_convs=30, mean_turns=15, seed=3))
    ).cache()


def test_detect_heavy_hitters_finds_mega_conversation(spark, turns):
    hot = detect_heavy_hitters(turns, threshold_ratio=10.0, sample=1.0)
    assert hot == ["conv00000"]  # the generator's deliberate mega-conv


def test_two_phase_count_distinct_exact(spark, turns):
    got = {
        r["conv_id"]: r["distinct_tool_cnt"]
        for r in two_phase_count_distinct(turns, ["conv_id"], "tool").collect()
    }
    want = {
        r["conv_id"]: r["w"]
        for r in turns.groupBy("conv_id").agg(F.countDistinct("tool").alias("w")).collect()
    }
    assert got == want


def test_salted_two_phase_sum_matches_plain(spark, turns):
    got = {
        r["conv_id"]: (r["n"], r["s"])
        for r in salted_two_phase_sum(
            turns, ["conv_id"], {"n": "1", "s": "length(text)"}
        ).collect()
    }
    want = {
        r["conv_id"]: (r["n"], r["s"])
        for r in turns.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("s"))
        .collect()
    }
    assert got == want


def _crash_after_commits(monkeypatch, n):
    """Kill the writer right after its ``n``-th partition commit."""
    from kkbox_churn_prediction_spark.plans.manifest import ManifestStore

    real = ManifestStore.commit
    calls = []

    def commit(self, *args, **kwargs):
        real(self, *args, **kwargs)
        calls.append(1)
        if len(calls) >= n:
            raise RuntimeError(f"injected failure after {len(calls)} buckets")

    monkeypatch.setattr(ManifestStore, "commit", commit)


def test_resumable_backfill_kill_restart(spark, turns, tmp_path, monkeypatch):
    """Kill after 2 buckets → resume → output identical to one-shot
    (north_rule: 'resumable from checkpoint ... idempotently')."""
    from kkbox_churn_prediction_spark.plans.backfill import backfill_features

    cutoffs = spark.createDataFrame(
        pd.DataFrame({"cutoff_ts": [datetime(2024, 1, 10), datetime(2024, 1, 20)]})
    )

    def build(s):
        return backfill_features(turns, cutoffs)

    oneshot = backfill_features(turns, cutoffs).orderBy("conv_id", "cutoff_ts").toPandas()

    out = str(tmp_path / "ckpt")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="injected failure"):
        _crash_after_commits(m, 2)
        resumable_backfill(spark, build, out, run_id="r1", n_buckets=4)
    st = resumable_backfill(spark, build, out, run_id="r1", n_buckets=4)
    assert st["buckets_skipped"] == 2 and st["buckets_run"] == 2

    resumed = (
        read_backfill_output(spark, out).orderBy("conv_id", "cutoff_ts").toPandas()
    )
    pd.testing.assert_frame_equal(
        oneshot.reset_index(drop=True),
        resumed[oneshot.columns].reset_index(drop=True),
        check_dtype=False,
    )

    # re-running a completed backfill is a no-op (idempotent)
    st2 = resumable_backfill(spark, build, out, run_id="r1", n_buckets=4)
    assert st2["buckets_run"] == 0 and st2["buckets_skipped"] == 4


def test_kill_between_staging_and_publish_reruns_clean(spark, turns, tmp_path, monkeypatch):
    """Every pending bucket is staged by one write before any bucket
    is published; a kill at that boundary leaves nothing live or
    committed, and the rerun converges to the one-shot output with no
    ``_staging/`` left behind."""
    from kkbox_churn_prediction_spark.plans import manifest as mf
    from kkbox_churn_prediction_spark.plans.backfill import backfill_features

    cutoffs = spark.createDataFrame([(datetime(2024, 1, 10),)], "cutoff_ts timestamp")

    def build(s):
        return backfill_features(turns, cutoffs)

    def killed(*args, **kwargs):
        raise RuntimeError("killed before publish")

    out = tmp_path / "ckpt"
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="killed before publish"):
        m.setattr(mf, "publish", killed)
        resumable_backfill(spark, build, str(out), run_id="k", n_buckets=4)
    staged = sorted(p.name for p in (out / "_staging").iterdir() if p.is_dir())
    assert staged == [f"bucket={b}" for b in range(4)]
    assert not list(out.glob("bucket=*"))
    assert mf.ManifestStore(out / "_manifest.jsonl").done_keys("k") == set()

    st = resumable_backfill(spark, build, str(out), run_id="k", n_buckets=4)
    assert st["buckets_run"] == 4 and st["buckets_skipped"] == 0
    assert not (out / "_staging").exists()
    got = read_backfill_output(spark, str(out))
    want = build(spark)
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )


def test_backfill_jobs_do_not_grow_with_buckets(spark, tmp_path):
    """One staging write serves every pending bucket and publish reads
    nothing back, so 8 non-empty buckets cost no more Spark jobs than
    2."""
    import json

    sc = spark.sparkContext
    df = spark.range(64).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"), (F.col("id") * 3).alias("x")
    )

    def jobs(n_buckets):
        out, group = tmp_path / f"b{n_buckets}", f"backfill-{n_buckets}-buckets"
        sc.setJobGroup(group, group)
        try:
            resumable_backfill(spark, lambda s: df, str(out), run_id="j", n_buckets=n_buckets)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        lines = [json.loads(x) for x in (out / "_manifest.jsonl").read_text().splitlines()]
        assert all(r["row_count"] > 0 for r in lines if r.get("kind") != "run")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(8) <= jobs(2)


def test_resume_refuses_changed_input_fingerprint(spark, turns, tmp_path, monkeypatch):
    """VERDICT #7: a resume against CHANGED input must not mix old
    done-buckets with new-input buckets — it refuses outright."""
    from kkbox_churn_prediction_spark.plans.backfill import backfill_features
    from kkbox_churn_prediction_spark.plans.manifest import ManifestStore

    cutoffs = spark.createDataFrame(
        pd.DataFrame({"cutoff_ts": [datetime(2024, 1, 10)]})
    )

    def build(s):
        return backfill_features(turns, cutoffs)

    out = str(tmp_path / "ckpt_fp")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="injected failure"):
        _crash_after_commits(m, 1)
        resumable_backfill(
            spark, build, out, run_id="r2", n_buckets=4,
            input_fingerprint="fp_a", params={"horizons": [1, 3, 7]},
        )
    # header recorded run-level metadata
    hdr = ManifestStore(tmp_path / "ckpt_fp" / "_manifest.jsonl").run_header("r2")
    assert hdr["input_fingerprint"] == "fp_a"
    assert hdr["params"] == {"horizons": [1, 3, 7]}
    # changed input → refuse resume
    with pytest.raises(RuntimeError, match="fingerprint changed"):
        resumable_backfill(
            spark, build, out, run_id="r2", n_buckets=4, input_fingerprint="fp_b"
        )
    # same input → resume completes, skipping the committed bucket
    st = resumable_backfill(
        spark, build, out, run_id="r2", n_buckets=4, input_fingerprint="fp_a"
    )
    assert st["buckets_skipped"] == 1 and st["buckets_run"] == 3


def test_fingerprint_parquet_dir_detects_change(spark, tmp_path):
    from kkbox_churn_prediction_spark.plans.manifest import fingerprint_parquet_dir

    src = str(tmp_path / "src")
    spark.range(100).write.mode("overwrite").parquet(src)
    fp1 = fingerprint_parquet_dir(src)
    assert fp1 == fingerprint_parquet_dir(src)  # stable
    spark.range(101).write.mode("overwrite").parquet(src)
    assert fingerprint_parquet_dir(src) != fp1  # content change detected
    # no local listing to vouch for → no fingerprint, never "unchanged"
    assert fingerprint_parquet_dir(str(tmp_path / "missing")) is None
    assert fingerprint_parquet_dir("s3a://bucket/x") is None


def test_backtest_folds_single_plan(spark, turns):
    folds = make_folds(spark, datetime(2024, 1, 8), n_folds=3, step_days=7)
    out = backtest(turns, folds)
    assert out.select("fold").distinct().count() == 3
    # every (entity, fold) appears exactly once
    n_entities = turns.select("conv_id").distinct().count()
    assert out.count() == 3 * n_entities
    assert {"is_churn", "turn_cnt_7d", "fold"} <= set(out.columns)


def test_driver_replay_threshold_is_session_configurable(spark):
    """VERDICT r3 #7: the 2M-row driver-replay budgets read
    ``spark.kkbox_churn.driverReplayMaxRows`` (module constants as
    defaults), so a 100x-scale fleet can disable every replay with one
    conf — and the distributed path it forces produces the identical
    labels."""
    from kkbox_churn_prediction_spark.operators.components import (
        connected_components,
    )
    from kkbox_churn_prediction_spark.operators.replay import (
        DRIVER_REPLAY_CONF,
        driver_replay_max_rows,
    )

    assert driver_replay_max_rows(spark, 123) == 123  # unset -> default
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    spark.conf.set(DRIVER_REPLAY_CONF, "0")
    try:
        assert driver_replay_max_rows(spark, 123) == 0
        out = connected_components(edges)  # auto, but replay disabled
        # observable path choice: the distributed fixpoint's output
        # plan carries the size aggregate + join; the driver replay is
        # a bare local relation with neither
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan
        dist = sorted(map(tuple, out.collect()))
    finally:
        spark.conf.unset(DRIVER_REPLAY_CONF)
    drv_out = connected_components(edges, mode="driver")
    drv_plan = drv_out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in drv_plan
    assert dist == sorted(map(tuple, drv_out.collect()))


def test_star_components_equal_driver_on_adversarial_graphs(spark):
    """Round-4 stress finding: the single-pointer-jump 'doubling'
    variant degrades on permutation graphs whose node numbering is
    uncorrelated with structure (41-80 rounds at n=1000). The
    two-phase large-star/small-star algorithm (Kiveris et al. 2014)
    must (a) match the driver replay exactly and (b) close the same
    adversarial graph within 10 rounds."""
    from kkbox_churn_prediction_spark.operators.components import (
        connected_components,
    )

    cases = {
        "path": spark.createDataFrame(
            [(i, i + 1) for i in range(99)], "doc_a long, doc_b long"
        ),
        "cycle": spark.createDataFrame(
            [(i, (i + 1) % 100) for i in range(100)], "doc_a long, doc_b long"
        ),
        "modular_permutation": spark.range(5000).select(
            F.pmod(F.col("id"), F.lit(1000)).alias("doc_a"),
            F.pmod(F.col("id") * 31 + 7, F.lit(1000)).alias("doc_b"),
        ),
        "blobs_selfloop": spark.createDataFrame(
            [(g * 5 + i, g * 5 + (i + 1) % 5) for g in range(20) for i in range(5)]
            + [(999, 999)],
            "doc_a long, doc_b long",
        ),
    }
    for name, edges in cases.items():
        drv = sorted(
            map(tuple, connected_components(edges, mode="driver").collect())
        )
        star = sorted(
            map(
                tuple,
                connected_components(
                    edges, algorithm="star", mode="distributed", max_iter=10
                ).collect(),
            )
        )
        assert drv == star, name


def test_hashmin_refuses_adversarial_graph_loudly(spark):
    """The designed loud-failure contract: hash-min on the
    high-effective-diameter permutation graph raises instead of
    silently truncating clusters — the rerun-with-star signal."""
    from kkbox_churn_prediction_spark.operators.components import (
        connected_components,
    )

    edges = spark.range(5000).select(
        F.pmod(F.col("id"), F.lit(1000)).alias("doc_a"),
        F.pmod(F.col("id") * 31 + 7, F.lit(1000)).alias("doc_b"),
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            edges, algorithm="hashmin", mode="distributed", max_iter=12
        )
