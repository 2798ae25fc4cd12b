"""Curation job: spark-submit-style entry, bucketed manifest writes,
resume skips completed buckets."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


def _write_docs(spark, path, n=120):
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog number "),
            F.col("id").cast("string"),
            F.lit(" and then keeps running through the long field"),
        ).alias("text"),
    ).write.mode("overwrite").parquet(path)


def test_curation_job_runs_and_resumes(spark, tmp_path, monkeypatch):
    import jobs.curation_job as job

    src, out = f"{tmp_path}/docs", f"{tmp_path}/out"
    _write_docs(spark, src)
    # reuse the test session instead of building a new one
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.builder",
        type("B", (), {"appName": lambda self, n: self, "getOrCreate": lambda self: spark})(),
    )
    st = job.main(["--input", src, "--output", out, "--run-id", "cj", "--buckets", "4"])
    assert st["buckets_run"] == 4 and st["rows"] == 120
    # every doc got a verdict and is kept (clean unique english text)
    got = spark.read.parquet(f"{out}/bucket=*")
    assert got.count() == 120
    assert got.where(F.col("verdict") != "kept").count() == 0
    # resume: all buckets skip, nothing recomputed
    st2 = job.main(
        ["--input", src, "--output", out, "--run-id", "cj", "--buckets", "4"]
    )
    assert st2["buckets_skipped"] == 4 and st2["buckets_run"] == 0
    # the manifest carries the run header with the input fingerprint
    lines = [json.loads(l) for l in open(f"{out}/_manifest.jsonl")]
    hdr = [l for l in lines if l.get("kind") == "run"]
    assert hdr and hdr[0]["input_fingerprint"] is not None
