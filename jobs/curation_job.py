"""spark-submit entry point for the corpus-curation pipeline.

Ships like the feature backfill::

    cd /root/repo && zip -qr /tmp/engine.zip kkbox_churn_prediction_spark
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/curation_job.py \
        --input /path/to/documents_parquet \
        --output /path/to/curated_out \
        --keep-lang en --min-quality 0.666667 \
        --run-id c1 --buckets 8

The per-document verdict table is written as ``bucket=K/``
partitions through the same checkpoint manifest as the backfill (run
header with input fingerprint + params; resume refuses changed input;
completed buckets skip) — a kill loses the run's staged write;
committed buckets are kept. The job ends with the curation report
printed as the run audit.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="curated-verdict output dir")
    p.add_argument("--keep-lang", default="en")
    p.add_argument("--min-quality", type=float, default=0.666667)
    p.add_argument("--run-id", default="c0")
    p.add_argument("--buckets", type=int, default=8)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from kkbox_churn_prediction_spark.plans.curation import (
        curate_corpus,
        curation_report,
    )
    from kkbox_churn_prediction_spark.plans.manifest import (
        fingerprint_parquet_dir,
        read_backfill_output,
        resumable_backfill,
    )

    spark = SparkSession.builder.appName("corpus-curation").getOrCreate()
    docs = spark.read.parquet(args.input)

    stats = resumable_backfill(
        spark,
        lambda s: curate_corpus(
            docs, keep_lang=args.keep_lang, min_quality=args.min_quality
        ),
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        input_fingerprint=fingerprint_parquet_dir(args.input),
        params={"keep_lang": args.keep_lang, "min_quality": args.min_quality},
        bucket_col="doc_id",
    )
    report = curation_report(read_backfill_output(spark, args.output)).collect()
    print(f"curation complete: {stats}")
    for r in sorted(report, key=lambda r: r["verdict"]):
        print(f"  {r['verdict']}: {r['n_docs']} docs, {r['total_tokens']} tokens")
    return stats


if __name__ == "__main__":
    main()
