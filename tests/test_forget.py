"""Entity deletion: only affected buckets rewrite, rows vanish
exactly, untouched buckets keep their files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _layout(spark, out, n=200, n_buckets=8):
    from kkbox_churn_prediction_spark.plans.manifest import resumable_backfill

    df = spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") * 3).alias("feature"),
    )
    resumable_backfill(spark, lambda s: df, out, run_id="base", n_buckets=n_buckets)
    return df


def test_forget_rewrites_only_affected_buckets(spark, tmp_path):
    from kkbox_churn_prediction_spark.plans.forget import (
        buckets_for_ids,
        forget_entities,
    )

    out = f"{tmp_path}/data"
    _layout(spark, out)
    targets = ["c5", "c17", "c99"]
    affected = set(buckets_for_ids(spark, targets, 8))
    mtimes_before = {
        b: os.path.getmtime(f"{out}/bucket={b}") for b in range(8)
    }
    st = forget_entities(spark, out, targets, n_buckets=8, run_id="f1")
    assert st["rows_deleted"] == 3
    assert st["buckets_rewritten"] == len(affected)
    got = spark.read.parquet(f"{out}/bucket=*")
    assert got.count() == 197
    assert got.where(F.col("conv_id").isin(targets)).count() == 0
    # untouched buckets keep their original files
    for b in range(8):
        changed = os.path.getmtime(f"{out}/bucket={b}") != mtimes_before[b]
        assert changed == (b in affected)
    # idempotent: forgetting again deletes nothing more
    st2 = forget_entities(spark, out, targets, n_buckets=8, run_id="f2")
    assert st2["rows_deleted"] == 0
    assert spark.read.parquet(f"{out}/bucket=*").count() == 197


def test_compaction_merges_files_preserving_rows(spark, tmp_path):
    from kkbox_churn_prediction_spark.plans.forget import compact_buckets

    out = f"{tmp_path}/data"
    df = _layout(spark, out, n=100, n_buckets=2)
    # accrete extra small files into bucket 0 (append writers)
    extra = spark.range(100, 120).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") * 3).alias("feature"),
    ).repartition(5)
    extra.write.mode("append").parquet(f"{out}/bucket=0")
    import glob
    files_before = len(glob.glob(f"{out}/bucket=0/*.parquet"))
    assert files_before >= 5
    rows_before = spark.read.parquet(f"{out}/bucket=*").count()
    st = compact_buckets(spark, out, run_id="cp1")
    assert st["buckets_compacted"] >= 1
    assert len(glob.glob(f"{out}/bucket=0/*.parquet")) == 1
    assert spark.read.parquet(f"{out}/bucket=*").count() == rows_before


def test_compaction_refuses_swap_on_row_count_mismatch(spark, tmp_path, monkeypatch):
    """Compaction compares the live bucket's ``count()`` with the rows
    its write observed; when they disagree (here the live count is
    skewed by one) it refuses the swap and the live bucket keeps its
    files and rows."""
    import glob

    from kkbox_churn_prediction_spark.plans.forget import compact_buckets
    from kkbox_churn_prediction_spark.plans.manifest import ManifestStore

    out = f"{tmp_path}/data"
    _layout(spark, out, n=40, n_buckets=1)
    spark.range(40, 46).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") * 3).alias("feature"),
    ).repartition(3).write.mode("append").parquet(f"{out}/bucket=0")
    files = {f: os.path.getmtime(f) for f in glob.glob(f"{out}/bucket=0/*.parquet")}
    rows = sorted(map(tuple, spark.read.parquet(f"{out}/bucket=0").collect()))

    frame_cls = type(spark.range(1))
    real_count = frame_cls.count
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="row-count mismatch"):
        m.setattr(frame_cls, "count", lambda self: real_count(self) + 1)
        compact_buckets(spark, out, run_id="cp")
    assert {f: os.path.getmtime(f) for f in glob.glob(f"{out}/bucket=0/*.parquet")} == files
    assert sorted(map(tuple, spark.read.parquet(f"{out}/bucket=0").collect())) == rows
    assert ManifestStore(tmp_path / "data" / "_manifest.jsonl").done_keys("cp") == set()


def test_forget_bigint_id_layout(spark, tmp_path):
    """The deleter must hash ids in the layout's own id type: a bigint
    ``doc_id`` hashed as a string lands in other buckets."""
    from kkbox_churn_prediction_spark.plans.forget import forget_entities
    from kkbox_churn_prediction_spark.plans.manifest import resumable_backfill

    out = f"{tmp_path}/data"
    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("feature")
    )
    resumable_backfill(
        spark, lambda s: df, out, run_id="base", n_buckets=8, bucket_col="doc_id"
    )
    targets = [str(i) for i in range(0, 200, 10)]
    holders = {
        b
        for b in range(8)
        if spark.read.parquet(f"{out}/bucket={b}")
        .where(F.col("doc_id").isin([int(t) for t in targets]))
        .count()
    }
    mtimes_before = {b: os.path.getmtime(f"{out}/bucket={b}") for b in range(8)}
    st = forget_entities(
        spark, out, targets, n_buckets=8, run_id="f1", id_col="doc_id"
    )
    assert st["rows_deleted"] == 20
    assert st["buckets_rewritten"] == len(holders)
    got = spark.read.parquet(f"{out}/bucket=*")
    assert got.count() == 180
    assert got.where(F.col("doc_id") % 10 == 0).count() == 0
    for b in range(8):
        changed = os.path.getmtime(f"{out}/bucket={b}") != mtimes_before[b]
        assert changed == (b in holders)


def test_forget_crash_before_swap_is_invisible(spark, tmp_path, monkeypatch):
    """A forget killed after staging a rewritten bucket but before
    swapping it in leaves readers on exactly the old rows (no staged
    copy is read twice), and a rerun completes the deletion."""
    import shutil
    from pathlib import Path

    from kkbox_churn_prediction_spark.plans.forget import forget_entities
    from kkbox_churn_prediction_spark.plans.manifest import read_backfill_output

    out = f"{tmp_path}/data"
    _layout(spark, out)
    targets = ["c5", "c17", "c99"]
    before = sorted(map(tuple, read_backfill_output(spark, out).collect()))

    real_rmtree = shutil.rmtree

    def killed_at_swap(path, *args, **kwargs):
        p = Path(path)
        if p.parent == Path(out) and p.name.startswith("bucket="):
            raise RuntimeError("killed before swap")
        return real_rmtree(path, *args, **kwargs)

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="killed before swap"):
        m.setattr(shutil, "rmtree", killed_at_swap)
        forget_entities(spark, out, targets, n_buckets=8, run_id="f1")
    assert sorted(map(tuple, read_backfill_output(spark, out).collect())) == before

    st = forget_entities(spark, out, targets, n_buckets=8, run_id="f1")
    assert st["rows_deleted"] == 3
    got = read_backfill_output(spark, out)
    assert got.count() == 197
    assert got.where(F.col("conv_id").isin(targets)).count() == 0
    assert not os.path.exists(f"{out}/_staging")
