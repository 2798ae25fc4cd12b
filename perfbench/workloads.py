"""The benchmark workloads and their correctness references.

Both workloads read the same seeded transcript table. Every output of
an iteration is checked with ``operators.profile.table_checksum``; an
output the iteration does not write to disk is materialized by that
aggregate itself, which consumes every row and column as a noop sink
would. A traced iteration materializes each layer's output in pipeline
order, inside a span.

The reference for every output is the DuckDB SQL of
``__spark_entry__.oracle_sql()``, re-pointed at the generated table.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

import duckdb
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

import __spark_entry__ as entry
from kkbox_churn_prediction_spark.operators.asof import asof_join_broadcast_cutoffs
from kkbox_churn_prediction_spark.operators.history import history_lag_features
from kkbox_churn_prediction_spark.operators.horizons import (
    DEFAULT_SPECS,
    multi_horizon_aggregate,
)
from kkbox_churn_prediction_spark.operators.labels import (
    entity_labels,
    time_to_next_qualifying_turn,
)
from kkbox_churn_prediction_spark.operators.lags import lag_lead_features
from kkbox_churn_prediction_spark.operators.profile import table_checksum
from kkbox_churn_prediction_spark.operators.psi import fixed_width_bins, psi_from_bins
from kkbox_churn_prediction_spark.operators.sessionize import session_aggregates
from kkbox_churn_prediction_spark.plans.backfill import backfill_features
from kkbox_churn_prediction_spark.plans.folds import backtest
from kkbox_churn_prediction_spark.plans.incremental import incremental_backfill
from kkbox_churn_prediction_spark.plans.manifest import (
    read_backfill_output,
    resumable_backfill,
)

HORIZONS = (1, 3, 7)
LABEL_HORIZON_DAYS = 3
N_BUCKETS = 2

# The generated table stands in for the events-derived transcript CTE
# that every oracle query starts from.
_TURNS_CTE = """
conversations AS (
    SELECT conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMP) AS ts
    FROM turns
),
cutoffs AS (
    SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) + INTERVAL 7 DAY AS cutoff_ts
    FROM conversations
)
"""

Checksum = tuple[int, int, int]


@dataclass
class Inputs:
    spark: SparkSession
    turns_dir: Path
    cache_dir: Path
    work_dir: Path
    n_turns: int
    cutoffs: list[datetime]

    def read(self) -> DataFrame:
        return self.spark.read.parquet(str(self.turns_dir))

    def cutoff_frame(self, cutoffs: list[datetime] | None = None) -> DataFrame:
        rows = [(c,) for c in (self.cutoffs if cutoffs is None else cutoffs)]
        return self.spark.createDataFrame(rows, "cutoff_ts timestamp")


@dataclass
class Result:
    job_s: float
    cpu_s: float
    sums: dict[str, Checksum]
    frames: dict[str, DataFrame]
    new_cutoff_s: float | None = None
    stored_bytes: int | None = None
    rows: int | None = None


def cpu_s() -> float:
    """CPU seconds used so far by this process and every live process
    under it: the driver JVM, which also runs the tasks, and any Python
    workers it starts. Time the hypervisor gives to other machines is not
    counted, which keeps this steadier than wall time on a shared host."""
    procs = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        # ppid; utime, stime, and the same for children already reaped
        procs[int(stat.parent.name)] = (int(fields[1]), [int(x) for x in fields[11:15]])
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    me = os.getpid()
    # this process's own reaped children ran before the timed region
    ticks = sum(procs[me][1][:2]) if me in procs else 0
    todo = list(children.get(me, []))
    while todo:
        pid = todo.pop()
        ticks += sum(procs[pid][1])
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def checksum(df: DataFrame) -> Checksum:
    """``table_checksum`` over every column; doubles are compared at 6
    decimals, the precision the oracle queries round to."""
    cols = sorted(df.columns)
    canon = df.select(
        [
            F.col(c).cast("decimal(38,6)").alias(c)
            if isinstance(df.schema[c].dataType, (DoubleType, FloatType))
            else F.col(c)
            for c in cols
        ]
    )
    r = table_checksum(canon, cols).first()
    return (r["n_rows"], r["checksum_sum"], r["checksum_xor"])


def materialize(df: DataFrame) -> int:
    """Compute every column of ``df`` and return its row count. Cheaper
    than :func:`checksum`; used for intermediate layers."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.hash(*df.columns)).alias("h")).first()
    return int(r["n"])


def oracle_tables(turns_dir: Path, sqls: dict[str, str], out_dir: Path) -> None:
    """Run each oracle query on DuckDB over the generated table and save
    its result as an Arrow file ``<name>.arrow`` in ``out_dir``."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW turns AS SELECT * FROM read_parquet('{turns_dir}/*.parquet')")
        for name, sql in sqls.items():
            if entry._CONV_CTE not in sql:
                raise ValueError(f"oracle query {name!r} does not read the transcript CTE")
            table = con.execute(sql.replace(entry._CONV_CTE, _TURNS_CTE)).arrow()
            with pa.OSFile(str(out_dir / f"{name}.arrow"), "wb") as f, pa.ipc.new_file(
                f, table.schema
            ) as w:
                w.write_table(table)
    finally:
        con.close()


def read_tables(out_dir: Path, names) -> dict:
    """The tables :func:`oracle_tables` saved."""
    out = {}
    for name in names:
        with pa.memory_map(str(out_dir / f"{name}.arrow")) as f:
            out[name] = pa.ipc.open_file(f).read_all()
    return out


def reference_sums(
    spark: SparkSession, tables: dict, frames: dict[str, DataFrame]
) -> dict[str, Checksum]:
    """Checksums of the oracle results, cast to the engine's schema."""
    sums = {}
    for name, like in frames.items():
        exp = spark.createDataFrame(tables[name])
        if sorted(exp.columns) != sorted(like.columns):
            raise ValueError(f"{name}: oracle columns {sorted(exp.columns)} != {sorted(like.columns)}")
        sums[name] = checksum(
            exp.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in like.schema])
        )
    return sums


class Reference:
    """Checksums of the DuckDB reference for a workload's outputs.

    They depend only on the input, the oracle queries and the engine's
    output schema, so they are kept beside the input and computed once.
    DuckDB runs in a child process (this file run as a script), so that
    its memory stays out of the driver's peak RSS; it is started here and
    runs while the caller warms the engine up; :meth:`sums` waits for it."""

    def __init__(self, inp: Inputs, wl: "Workload"):
        self.inp, self.sqls = inp, wl.oracle_sqls(inp)
        key = hashlib.md5(json.dumps(self.sqls, sort_keys=True).encode()).hexdigest()
        self.path = inp.cache_dir / f"reference-{wl.name}-{key}.json"
        self.tables_dir = inp.cache_dir / f"reference-{wl.name}-{key}.tables"
        self.proc = None
        if not self.path.exists():
            self._start()

    def _start(self) -> None:
        shutil.rmtree(self.tables_dir, ignore_errors=True)
        self.tables_dir.mkdir(parents=True)
        here = Path(__file__).resolve()
        root, path = str(here.parent.parent), os.environ.get("PYTHONPATH")
        self.proc = subprocess.Popen(
            [sys.executable, str(here), str(self.inp.turns_dir), str(self.tables_dir)],
            stdin=subprocess.PIPE,
            text=True,
            env={**os.environ, "PYTHONPATH": f"{root}{os.pathsep}{path}" if path else root},
        )
        self.proc.stdin.write(json.dumps(self.sqls))
        self.proc.stdin.close()

    def sums(self, frames: dict[str, DataFrame]) -> dict[str, Checksum]:
        schemas = {name: df.schema.simpleString() for name, df in frames.items()}
        if self.path.exists():
            kept = json.loads(self.path.read_text())
            if kept["schemas"] == schemas:
                return {name: tuple(v) for name, v in kept["sums"].items()}
        if self.proc is None:
            self._start()
        if self.proc.wait() != 0:
            raise RuntimeError(f"DuckDB reference exited with code {self.proc.returncode}")
        tables = read_tables(self.tables_dir, self.sqls)
        sums = reference_sums(self.inp.spark, tables, frames)
        self.path.write_text(json.dumps({"schemas": schemas, "sums": sums}))
        shutil.rmtree(self.tables_dir)
        return sums


def _narrow(turns: DataFrame) -> DataFrame:
    # the projection plans.backfill applies before its as-of join
    return turns.select(
        "conv_id",
        "ts",
        F.expr("CAST(length(text) AS BIGINT)").alias("text_len"),
        F.expr("CASE WHEN role = 'user' THEN 1 END").alias("is_user"),
        "tool",
    )


def _feature_prefixes(inp: Inputs, tr, it: str, turns: DataFrame) -> None:
    """Traced prefix of the flagship matrix: input, as-of join,
    multi-horizon aggregate, then the whole backfill."""
    cutoffs = inp.cutoff_frame()
    with tr.span("input", it) as s:
        s.counts["rows_out"] = materialize(turns)
    joined = asof_join_broadcast_cutoffs(_narrow(turns), cutoffs, max(HORIZONS))
    with tr.span("operators.asof", it, ("input",)) as s:
        n = materialize(joined)
        s.counts["rows_out"] = n
        s.counts["pairs_kept_ratio"] = n / (inp.n_turns * len(inp.cutoffs))
    with tr.span("operators.horizons", it, ("operators.asof",)) as s:
        s.counts["rows_out"] = materialize(multi_horizon_aggregate(joined, HORIZONS, DEFAULT_SPECS))
    with tr.span("plans.backfill", it, ("operators.horizons",)) as s:
        s.counts["rows_out"] = materialize(backfill_features(turns, cutoffs, HORIZONS))


class Workload:
    name: str

    def prepare(self, inp: Inputs) -> None:
        """Untimed set-up needed before the first iteration."""

    def oracle_sqls(self, inp: Inputs) -> dict[str, str]:
        raise NotImplementedError

    def iterate(self, inp: Inputs) -> Result:
        raise NotImplementedError

    def traced(self, inp: Inputs, tr, it: str) -> dict[str, Checksum]:
        raise NotImplementedError


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class CheckpointedBacktest(Workload):
    """The flagship backtest over all weekly folds, committed through a
    fresh bucketed checkpoint, then the newest cutoff committed
    incrementally onto a store that already holds every older one."""

    name = "checkpointed_backtest"

    def prepare(self, inp):
        # the store of older cutoffs is made once per input and restored
        # before every iteration
        self.template = inp.cache_dir / "store-older-cutoffs"
        done = inp.cache_dir / "store-older-cutoffs.complete"
        if not done.exists():
            shutil.rmtree(self.template, ignore_errors=True)
            older = inp.cutoff_frame(inp.cutoffs[:-1])
            incremental_backfill(inp.spark, inp.read(), older, str(self.template))
            done.touch()
        self.checkpoint = inp.work_dir / "checkpoint"
        self.store = inp.work_dir / "store"
        self.newest = inp.cutoffs[-1]
        self.new_part = self.store / "data" / f"cutoff_key={self.newest:%Y%m%dT%H%M%S}"
        # base of plans.incremental.turns_scanned_ratio
        self.turns_in_lookback = (
            inp.read()
            .where(
                (F.col("ts") < F.lit(self.newest))
                & (F.col("ts") >= F.lit(self.newest) - F.expr(f"INTERVAL {max(HORIZONS)} DAYS"))
            )
            .count()
        )

    def oracle_sqls(self, inp):
        sqls = entry.oracle_sql()
        return {
            "backtest_folds": sqls["backtest_folds"],
            "asof_new_cutoff": f"SELECT * FROM ({sqls['asof_features']}) q "
            f"WHERE cutoff_ts = TIMESTAMP '{self.newest:%Y-%m-%d %H:%M:%S}'",
        }

    def backtest_frame(self, inp: Inputs, turns: DataFrame) -> DataFrame:
        folds = inp.cutoff_frame().select(
            F.concat(F.lit("fold_"), F.date_format("cutoff_ts", "yyyyMMdd")).alias("fold"),
            "cutoff_ts",
        )
        return backtest(turns, folds, HORIZONS, label_horizon_days=LABEL_HORIZON_DAYS)

    def _restore(self) -> None:
        shutil.rmtree(self.checkpoint, ignore_errors=True)
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.template, self.store)

    def _commit_backtest(self, inp: Inputs, turns: DataFrame) -> dict:
        info = resumable_backfill(
            inp.spark,
            lambda spark: self.backtest_frame(inp, turns),
            str(self.checkpoint),
            run_id="perfbench",
            n_buckets=N_BUCKETS,
        )
        if info["buckets_run"] != N_BUCKETS:
            raise RuntimeError(f"resumable_backfill ran {info['buckets_run']} of {N_BUCKETS} buckets")
        return info

    def _commit_newest(self, inp: Inputs, turns: DataFrame) -> None:
        inc = incremental_backfill(inp.spark, turns, inp.cutoff_frame(), str(self.store))
        if inc["cutoffs_run"] != 1:
            raise RuntimeError(f"incremental_backfill ran {inc['cutoffs_run']} cutoffs, expected 1")

    def _read_back(self, inp: Inputs) -> dict[str, DataFrame]:
        return {
            "backtest_folds": read_backfill_output(inp.spark, str(self.checkpoint)),
            "asof_new_cutoff": inp.spark.read.parquet(str(self.new_part)),
        }

    def iterate(self, inp):
        self._restore()
        turns = inp.read()
        cpu, start = cpu_s(), time.perf_counter()
        info = self._commit_backtest(inp, turns)
        committed = time.perf_counter()
        self._commit_newest(inp, turns)
        end = time.perf_counter()
        cpu = cpu_s() - cpu
        frames = self._read_back(inp)
        return Result(
            end - start,
            cpu,
            {name: checksum(df) for name, df in frames.items()},
            frames,
            new_cutoff_s=end - committed,
            stored_bytes=_dir_bytes(self.checkpoint),
            rows=info["rows"],
        )

    def traced(self, inp, tr, it):
        self._restore()
        turns = inp.read()
        _feature_prefixes(inp, tr, it, turns)
        with tr.span("operators.labels", it, ("input",)) as s:
            s.counts["rows_out"] = materialize(
                entity_labels(turns, inp.cutoff_frame(), LABEL_HORIZON_DAYS)
            )
        with tr.span("plans.folds", it, ("plans.backfill", "operators.labels")) as s:
            s.counts["rows_out"] = materialize(self.backtest_frame(inp, turns))
        with tr.span("plans.manifest", it, ("plans.folds",)) as s:
            info = self._commit_backtest(inp, turns)
        s.counts.update(
            buckets_run=info["buckets_run"],
            rows_reread=info["rows"],
            bytes_written=_dir_bytes(self.checkpoint),
        )
        with tr.span("plans.incremental", it, ("input",)) as s:
            self._commit_newest(inp, turns)
        s.counts["turns_in_lookback"] = self.turns_in_lookback
        return {name: checksum(df) for name, df in self._read_back(inp).items()}


class TurnFeatures(Workload):
    """Per-turn passes over the same table: conv_id-partitioned sorts
    and windows, no cutoff replication."""

    name = "turn_features"
    # layer -> the output it produces
    layers = {
        "operators.sessionize": "sessionize",
        "operators.lags": "lag_lead",
        "operators.labels": "turn_labels",
        "operators.history": "history_lags",
        "operators.psi": "psi_text_len",
    }

    def oracle_sqls(self, inp):
        sqls = entry.oracle_sql()
        return {name: sqls[name] for name in self.layers.values()}

    def outputs(self, turns: DataFrame) -> dict[str, DataFrame]:
        week_no = F.floor(
            F.unix_micros(F.date_trunc("week", F.col("ts"))) / F.lit(7 * 86400 * 1_000_000)
        )
        binned = turns.select(
            F.when(week_no % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("fold"),
            fixed_width_bins(F.expr("CAST(length(text) AS BIGINT)"), 5.0, 10).alias("bin"),
        )
        return {
            "sessionize": session_aggregates(turns),
            "lag_lead": lag_lead_features(turns).select(
                "conv_id",
                "turn_idx",
                "text_len",
                "prev_text_len_1",
                "next_text_len_1",
                "gap_micros_prev",
                "same_role_as_prev",
            ),
            "turn_labels": time_to_next_qualifying_turn(turns).select(
                "conv_id", "turn_idx", "micros_to_next_qualifying"
            ),
            "history_lags": history_lag_features(turns, n_lags=2),
            "psi_text_len": psi_from_bins(binned, "fold", "bin", ref_fold="even"),
        }

    def iterate(self, inp):
        cpu, start = cpu_s(), time.perf_counter()
        frames = self.outputs(inp.read())
        sums = {name: checksum(df) for name, df in frames.items()}
        return Result(time.perf_counter() - start, cpu_s() - cpu, sums, frames)

    def traced(self, inp, tr, it):
        turns = inp.read()
        with tr.span("input", it) as s:
            s.counts["rows_out"] = materialize(turns)
        frames = self.outputs(turns)
        sums = {}
        for layer, name in self.layers.items():
            with tr.span(layer, it, ("input",)) as s:
                sums[name] = checksum(frames[name])
                s.counts["rows_out"] = sums[name][0]
        return sums


WORKLOADS = {w.name: w for w in (CheckpointedBacktest, TurnFeatures)}


if __name__ == "__main__":
    # python3 workloads.py TURNS_DIR OUT_DIR < queries.json
    oracle_tables(Path(sys.argv[1]), json.load(sys.stdin), Path(sys.argv[2]))
