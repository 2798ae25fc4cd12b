"""Cutoff lists are collected once and broadcast as literals.

A cutoff frame built by ``createDataFrame(list)`` is a Python-RDD scan
(``Scan ExistingRDD``) that Python workers unpickle whenever a plan
reads it; ``operators.asof.collect_literal`` turns it into a
``LocalTableScan``. These tests pin the written plans of the backtest
and the incremental commit, the exactness of the round trip, and the
listed-directory read of a bucketed checkpoint.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kkbox_churn_prediction_spark.operators.asof import collect_literal, literal_relation


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def _broadcast_children(plan: str) -> list[str]:
    """The node under each BroadcastExchange of an executed plan."""
    lines = plan.split("\n")
    return [lines[i + 1].lstrip(" :+-") for i, l in enumerate(lines) if "BroadcastExchange" in l]


def _cutoffs(spark, days):
    return spark.createDataFrame(
        [(datetime(2024, 1, d),) for d in days], "cutoff_ts timestamp"
    )


def _turns(spark, tmp_path):
    rows = [
        (c, d * 10 + i, role, f"{c}-{d}-{i}", None, datetime(2024, 1, d, 8 + i))
        for c, role in (("c1", "user"), ("c2", "assistant"))
        for d in range(1, 7)
        for i in range(2)
    ]
    path = str(tmp_path / "turns")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_written_frames_broadcast_literal_cutoffs(spark, tmp_path, monkeypatch):
    """The frames ``backtest`` and ``incremental_backfill`` write, over a
    ``createDataFrame(list)`` cutoff frame: no Python-RDD scan anywhere,
    and every cutoff broadcast is a LocalTableScan."""
    import kkbox_churn_prediction_spark.plans.incremental as inc
    from kkbox_churn_prediction_spark.plans.folds import backtest

    turns = _turns(spark, tmp_path)
    folds = _cutoffs(spark, [3, 5]).select(
        F.concat(F.lit("fold_"), F.date_format("cutoff_ts", "yyyyMMdd")).alias("fold"),
        "cutoff_ts",
    )
    written = {
        "sliding": backtest(turns, folds),
        "expanding": backtest(turns, folds, lookback_policy="expanding"),
    }
    captured = []
    monkeypatch.setattr(inc, "write_partitions", lambda df, *a, **k: captured.append(df) or 0)
    inc.incremental_backfill(spark, turns, _cutoffs(spark, [3, 5]), str(tmp_path / "inc"))
    written["incremental"] = captured[0]
    for name, df in written.items():
        plan = _plan(df)
        assert "ExistingRDD" not in plan, name
        cutoff_sides = [
            c for c in _broadcast_children(plan) if "cutoff_ts" in c and "conv_id" not in c
        ]
        # the as-of replication, the grid and (backtest) the label window
        # and the fold tag each broadcast the cutoff list
        assert len(cutoff_sides) >= 2, (name, plan)
        assert all(c.startswith("LocalTableScan") for c in cutoff_sides), (name, plan)


def test_literal_round_trip_is_exact(spark):
    """Rows and schema JSON (nullability included) survive the
    literal, to the microsecond and in any session time zone;
    duplicates collapse and an empty list keeps its schema."""
    schema = StructType(
        [
            StructField("fold", StringType(), False),
            StructField("cutoff_ts", TimestampType(), True),
            StructField("lookback_days", IntegerType(), False),
        ]
    )
    rows = [
        ("fold_1", datetime(2024, 1, 7, 23, 59, 59, 999999), 7),
        ("fold_0", datetime(2024, 1, 1), 7),
        ("fold_1", datetime(2024, 1, 7, 23, 59, 59, 999999), 7),  # duplicate
        ("fold_2", None, 14),
    ]
    src = spark.createDataFrame(rows, schema)
    want = sorted(set(src.collect()), key=lambda r: r["fold"])
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in (tz, "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            for lit in (collect_literal(src), literal_relation(spark, rows, schema)):
                assert lit.schema.json() == src.schema.json()
                assert "LocalTableScan" in _plan(lit) and "ExistingRDD" not in _plan(lit)
                assert sorted(lit.collect(), key=lambda r: r["fold"]) == want
                us = F.unix_micros("cutoff_ts")
                assert sorted(lit.select(us).collect(), key=str) == sorted(
                    src.distinct().select(us).collect(), key=str
                )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    for lit in (collect_literal(src.limit(0)), literal_relation(spark, [], schema)):
        assert lit.schema.json() == src.schema.json()
        assert lit.collect() == []


def test_read_backfill_output_lists_bucket_dirs(spark, tmp_path):
    """1- and 2-bucket checkpoints read back by their listed
    ``bucket=K`` directories: the built rows and schema, no ``bucket``
    column, the same as the ``bucket=*`` glob read."""
    from kkbox_churn_prediction_spark.plans.manifest import (
        read_backfill_output,
        resumable_backfill,
    )

    built = spark.range(20).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        (F.col("id") * 3).alias("v"),
    )
    for n in (1, 2):
        out = str(tmp_path / f"ckpt{n}")
        resumable_backfill(spark, lambda s: built, out, run_id="r", n_buckets=n)
        got = read_backfill_output(spark, out)
        glob = spark.read.parquet(f"{out}/bucket=*")
        assert got.schema.json() == glob.schema.json()
        assert got.columns == ["conv_id", "v"]
        assert sorted(got.collect()) == sorted(glob.collect()) == sorted(built.collect())
        assert len(got.inputFiles()) >= n
