"""Toy-size self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload on a toy input, untraced and traced, and checks
that each metric BENCHMARK.json names, and each metric the untraced run
prints beside them, is printed with its unit, and that the correctness
check passed. Then checks that the correctness check
rejects a perturbed output: one changed cell, and one dropped row.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TOY = ["--seed", "11", "--seconds", "1", "--convs", "200"]
# printed by an untraced run but not in BENCHMARK.json
PRINTED = {"job_s_p50": "s", "turns_per_s": "turns/s", "failed_ops_ratio": "ratio"}
WRITE_PATH = {"new_cutoff_s_p50": "s", "stored_bytes_per_row": "bytes/row"}


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--trace", str(trace), *TOY],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=900,
    )
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-4000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    printed = {l.split()[1]: l.split()[3] for l in lines[:-1] if l.startswith("metric ")}
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        raise AssertionError(f"{workload} trace={trace}: {result}")
    return result, printed


def check_metrics(bench: dict) -> None:
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, printed = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                raise AssertionError(f"{w['name']} trace={trace}: metrics {got} != {want}")
            if trace == 0:
                want = {**want, **PRINTED}
                if w["name"] == "checkpointed_backtest":
                    want.update(WRITE_PATH)
            missing = {k: u for k, u in want.items() if printed.get(k) != u}
            if missing:
                raise AssertionError(f"{w['name']} trace={trace}: not printed {missing}")
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics")


def check_perturbed() -> None:
    sys.path.insert(0, str(ROOT))
    import run as R
    import workloads as W
    from pyspark.sql import functions as F

    from kkbox_churn_prediction_spark.session import get_spark
    from kkbox_churn_prediction_spark.sources.genbench import weekly_cutoffs

    spark = get_spark(master=f"local[{R.nproc()}]", extra_conf=R.session_conf(False))
    try:
        turns_dir, cache_dir = R.ensure_input(spark, 11, 200)
        turns = spark.read.parquet(str(turns_dir))
        cutoffs = sorted(r["cutoff_ts"] for r in weekly_cutoffs(turns).collect())
        inp = W.Inputs(spark, turns_dir, cache_dir, R.WORK, turns.count(), cutoffs)
        wl = W.CheckpointedBacktest()
        wl.prepare(inp)
        out = wl.backtest_frame(inp, inp.read())
        frames = {"backtest_folds": out}
        sqls = {"backtest_folds": wl.oracle_sqls(inp)["backtest_folds"]}
        tables_dir = R.WORK / "tmp" / "selftest-reference"
        shutil.rmtree(tables_dir, ignore_errors=True)
        tables_dir.mkdir(parents=True)
        W.oracle_tables(turns_dir, sqls, tables_dir)
        expected = W.reference_sums(spark, W.read_tables(tables_dir, sqls), frames)
        if W.checksum(out) != expected["backtest_folds"]:
            raise AssertionError("unperturbed backtest output fails the check")
        one = F.col("conv_id") == F.lit("conv0000001")
        perturbed = {
            "changed cell": out.withColumn(
                "turn_cnt_7d", F.when(one, F.col("turn_cnt_7d") + 1).otherwise(F.col("turn_cnt_7d"))
            ),
            "dropped row": out.where(~one | (F.col("cutoff_ts") != F.lit(cutoffs[0]))),
        }
        for what, df in perturbed.items():
            if W.checksum(df) == expected["backtest_folds"]:
                raise AssertionError(f"a {what} passes the correctness check")
            print(f"ok perturbed output ({what}) fails the check")
    finally:
        R.stop_spark(spark)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_metrics(bench)
    check_perturbed()
    return 0


if __name__ == "__main__":
    sys.exit(main())
