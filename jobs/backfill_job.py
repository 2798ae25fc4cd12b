"""spark-submit entry point for the point-in-time feature backfill.

Ships per the north rule via::

    cd /root/repo && zip -qr /tmp/engine.zip kkbox_churn_prediction_spark
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/backfill_job.py \
        --input /path/to/transcripts_parquet \
        --output /path/to/features_out \
        --horizons 1,3,7 --run-id r1 --buckets 8

On a cluster the same invocation takes ``--master yarn``/k8s etc.;
the job itself is cluster-agnostic (no local paths baked in). Cutoffs
default to data-derived weekly boundaries; pass ``--cutoffs
2024-01-08,2024-01-15`` for explicit fold cutoffs (the reference's
``cutoff_YYYY-MM`` windows, ``src/backtest.py:290-293``).

The run is checkpointed through ``plans.manifest`` (``bucket=K/``
partitions staged by one write; a rerun with the same ``--run-id``
resumes from the committed buckets) and finishes with the leakage
assert-zero gate.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcript parquet/Iceberg path")
    p.add_argument("--output", required=True, help="feature output dir")
    p.add_argument("--horizons", default="1,3,7", help="lookback days, comma-sep")
    p.add_argument("--cutoffs", default=None, help="explicit cutoff timestamps, comma-sep")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--buckets", type=int, default=8)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kkbox_churn_prediction_spark.operators.asof import (
        asof_join_broadcast_cutoffs,
        collect_literal,
        literal_relation,
    )
    from kkbox_churn_prediction_spark.operators.leakage import assert_no_leakage
    from kkbox_churn_prediction_spark.plans.backfill import backfill_features
    from kkbox_churn_prediction_spark.plans.manifest import (
        fingerprint_parquet_dir,
        resumable_backfill,
    )
    from kkbox_churn_prediction_spark.sources.genbench import weekly_cutoffs

    spark = SparkSession.builder.appName("transcript-backfill").getOrCreate()
    horizons = tuple(int(h) for h in args.horizons.split(","))

    turns = spark.read.parquet(args.input).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # the cutoff list is collected once, as a literal: a lazy frame would
    # be rebuilt from a fact scan by the staging write and again by the gate
    if args.cutoffs:
        vals = [(c.strip(),) for c in args.cutoffs.split(",")]
        cutoffs = collect_literal(
            literal_relation(spark, vals, "cutoff_str string").select(
                F.col("cutoff_str").cast("timestamp").alias("cutoff_ts")
            )
        )
    else:
        cutoffs = collect_literal(weekly_cutoffs(turns))

    stats = resumable_backfill(
        spark,
        lambda s: backfill_features(turns, cutoffs, horizons),
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        # a resume against CHANGED local input is refused instead of
        # silently mixing buckets (None for a non-local input)
        input_fingerprint=fingerprint_parquet_dir(args.input),
        params={"horizons": list(horizons), "cutoffs": args.cutoffs},
    )
    # post-job invariant gates (reference pattern src/make_dataset.py:140-194)
    assert_no_leakage(
        asof_join_broadcast_cutoffs(turns, cutoffs, lookback_days=max(horizons))
    )
    print(f"backfill complete: {stats}")


if __name__ == "__main__":
    main()
