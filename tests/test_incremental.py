"""Incremental backfill: only new cutoffs compute; committed cutoff
partitions never rewrite; results equal the full batch backfill."""

from __future__ import annotations

import os
from datetime import datetime

import pandas as pd

from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.sources.synth import to_spark


def _turns(spark, days):
    rows = []
    for d in days:
        for i in range(4):
            rows.append(("c1", d * 10 + i, "user", f"t{d}-{i}",
                         datetime(2024, 1, d, 8 + i, 0)))
            rows.append(("c2", d * 10 + i, "assistant", f"u{d}-{i}",
                         datetime(2024, 1, d, 9 + i, 0)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "ts"])
    pdf["tool"] = None
    return to_spark(spark, pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])


def _cutoffs(spark, days):
    return spark.createDataFrame(
        [(datetime(2024, 1, d),) for d in days], "cutoff_ts timestamp"
    )


def test_incremental_only_computes_new_cutoffs(spark, tmp_path):
    from kkbox_churn_prediction_spark.plans.backfill import backfill_features
    from kkbox_churn_prediction_spark.plans.incremental import incremental_backfill

    out = f"{tmp_path}/inc"
    turns = _turns(spark, [1, 2, 3, 4, 5, 6])
    # run 1: cutoffs at days 3 and 5
    st1 = incremental_backfill(spark, turns, _cutoffs(spark, [3, 5]), out, run_id="r")
    assert st1 == {"cutoffs_run": 2, "cutoffs_skipped": 0, "rows": st1["rows"]}
    mtime_d3 = os.path.getmtime(f"{out}/data/cutoff_key=20240103T000000")
    # run 2: day 7 cutoff arrives; 3 and 5 skip, their files untouched
    st2 = incremental_backfill(
        spark, turns, _cutoffs(spark, [3, 5, 7]), out, run_id="r"
    )
    assert st2["cutoffs_run"] == 1 and st2["cutoffs_skipped"] == 2
    assert os.path.getmtime(f"{out}/data/cutoff_key=20240103T000000") == mtime_d3
    # rerun with nothing new: pure no-op
    st3 = incremental_backfill(
        spark, turns, _cutoffs(spark, [3, 5, 7]), out, run_id="r"
    )
    assert st3 == {"cutoffs_run": 0, "cutoffs_skipped": 3, "rows": 0}
    # combined incremental output equals the one-shot batch backfill
    got = (
        spark.read.parquet(f"{out}/data")
        .drop("cutoff_key")
        .sort("conv_id", "cutoff_ts")
        .collect()
    )
    expect = (
        backfill_features(turns, _cutoffs(spark, [3, 5, 7]))
        .sort("conv_id", "cutoff_ts")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in expect]


def test_backfill_commits_empty_buckets(spark, tmp_path):
    """Two conversations over 8 buckets: the empty buckets still end
    committed, readable and carrying the output schema, a rerun skips
    all 8, and the read-back equals the one-shot frame."""
    import json

    from kkbox_churn_prediction_spark.plans.backfill import backfill_features
    from kkbox_churn_prediction_spark.plans.manifest import (
        read_backfill_output,
        resumable_backfill,
    )

    turns, cutoffs = _turns(spark, [1, 2, 3]), _cutoffs(spark, [2, 3])
    oneshot = backfill_features(turns, cutoffs)
    out = f"{tmp_path}/ckpt"

    def run():
        return resumable_backfill(
            spark, lambda s: backfill_features(turns, cutoffs), out, run_id="e", n_buckets=8
        )

    assert run() == {"buckets_run": 8, "buckets_skipped": 0, "rows": 4}
    commits = [json.loads(x) for x in open(f"{out}/_manifest.jsonl")][1:]
    assert sorted(int(c["partition_key"]) for c in commits) == list(range(8))
    assert sum(c["row_count"] == 0 for c in commits) >= 6
    names_types = [(f.name, f.dataType) for f in oneshot.schema]
    for b in range(8):
        part = spark.read.parquet(f"{out}/bucket={b}")
        assert [(f.name, f.dataType) for f in part.schema] == names_types
    assert run() == {"buckets_run": 0, "buckets_skipped": 8, "rows": 0}
    back = read_backfill_output(spark, out)
    assert [(f.name, f.dataType) for f in back.schema] == names_types
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, oneshot.collect()))
