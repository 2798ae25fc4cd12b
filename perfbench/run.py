"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload checkpointed_backtest --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs iterations back to back
(a closed loop) on ``local[nproc]``, after one warm-up iteration, for
``--seconds`` and at least ``MIN_ITERATIONS`` iterations; every
iteration's output checksum is compared with the checksum of a DuckDB
reference computed on the same generated input. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``,
with the end-to-end metrics under ``--trace 0`` and the per-layer
metrics under ``--trace 1``. Lines before it repeat every metric with
its unit, plus the host conditions and the input fingerprint.

Generated input, the spans of a traced run and all Spark scratch space
live under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

N_CONVS = 3000  # x ~50 turns each, plus one 5000-turn conversation
# Input is cut to this many whole weeks from the generator's epoch, so
# every seed yields the same number of weekly cutoffs: the 5000-turn
# conversation has turns in each of its ~15 weeks on every seed.
WEEKS = 6
# One cold set-up that also launches the JVM, then warm ones;
# ``setup_s`` is the median of the warm ones.
SETUP_REPS = 3
# Iterations still get faster after the first (warm-up) one, so a run
# measures at least this many, so that every run's median is taken at
# the same point of that trend.
MIN_ITERATIONS = 2
# Enough for this input; a heap that fills up gives a steadier peak RSS
# than a larger one that is still growing when the run ends.
DRIVER_MEMORY = "1g"

# Per-layer metrics of a traced run.
LAYERS = {
    "operators.asof": ("self_s", "rows_out", "busy_share", "pairs_kept_ratio"),
    "operators.horizons": ("self_s", "shuffle_write_bytes", "spill_bytes", "task_skew", "gc_ms"),
    "operators.labels": ("self_s", "rows_out"),
    "plans.backfill": ("self_s", "rows_out"),
    "plans.folds": ("self_s", "shuffle_write_bytes"),
    "operators.sessionize": ("self_s", "shuffle_write_bytes", "spill_bytes", "task_skew"),
    "operators.lags": ("self_s", "shuffle_write_bytes", "spill_bytes", "task_skew"),
    "operators.history": ("self_s", "shuffle_write_bytes", "spill_bytes", "task_skew"),
    "operators.psi": ("self_s",),
    "plans.manifest": ("self_s", "spark_jobs", "buckets_run", "bytes_written", "rows_reread"),
    "plans.incremental": ("self_s", "spark_jobs", "turns_scanned_ratio"),
}
UNITS = {
    "self_s": "s",
    "rows_out": "count",
    "busy_share": "ratio",
    "pairs_kept_ratio": "ratio",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "task_skew": "ratio",
    "gc_ms": "ms",
    "spark_jobs": "count",
    "buckets_run": "count",
    "bytes_written": "bytes",
    "rows_reread": "count",
    "turns_scanned_ratio": "ratio",
    "tasks": "count",
    "tasks_failed": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("checkpointed_backtest", "turn_features"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--convs", type=int, default=N_CONVS, help="input size in conversations")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def live_jvms() -> int:
    n = 0
    for comm in Path("/proc").glob("[0-9]*/comm"):
        try:
            n += comm.read_text().strip() == "java"
        except OSError:
            pass
    return n


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user ... steal) from /proc/stat."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak RSS of the driver JVM (VmHWM) and of the Python driver."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return jvm_kb / 1024, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (a
    worker whose JVM has exited, say), so that :func:`stop_descendants`
    can find and reap it."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            ppid = int(stat.read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # the process has exited
            continue
        children.setdefault(ppid, []).append(int(stat.parent.name))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def stop_descendants(grace_s: float = 10.0) -> None:
    """Terminate every process still running under this one, kill what
    outlives ``grace_s``, and wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + grace_s
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                return
            time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def session_conf(trace: bool) -> dict[str, str]:
    """Point every scratch file of the session at the work directory and
    return the Spark settings the benchmark adds to ``get_spark``."""
    tmp, eventlog = WORK / "tmp", WORK / "eventlog"
    shutil.rmtree(eventlog, ignore_errors=True)
    for d in (tmp, eventlog):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        # Spark 4 compresses event logs with zstd by default, which the
        # standard library cannot read
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog.as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def ensure_input(spark, seed: int, convs: int) -> tuple[Path, Path]:
    """Generated transcripts for (seed, convs), made once and cached."""
    from pyspark.sql import functions as F

    from kkbox_churn_prediction_spark.sources.genbench import (
        EPOCH,
        generate_transcripts_distributed,
    )

    cache = WORK / "inputs" / f"seed{seed}-convs{convs}-weeks{WEEKS}"
    turns = cache / "turns"
    done = cache / "turns.complete"
    if not done.exists():
        shutil.rmtree(cache, ignore_errors=True)
        end = F.expr(f"{EPOCH} + INTERVAL {7 * WEEKS} DAYS")
        generate_transcripts_distributed(spark, n_convs=convs, seed=seed).where(
            F.col("ts") < end
        ).write.parquet(str(turns))
        done.touch()
    return turns, cache


def span_metrics(span, by_name, stats, cores) -> dict:
    from spans import GroupStats

    g = stats.get(span.group, GroupStats())
    parents = [by_name[p] for p in span.parents]
    # Spark totals cover every job the span ran, recomputed inputs
    # included; only the time is split into self and input
    v = {
        # inputs computed on parallel branches overlap, so the longest
        # one is the part of the span they account for
        "self_s": span.seconds - max((p.seconds for p in parents), default=0.0),
        "task_skew": g.task_skew,
        "busy_share": g.run_ms / 1000 / (span.seconds * cores),
        "spark_jobs": g.jobs,
        "shuffle_write_bytes": g.shuffle_write_bytes,
        "spill_bytes": g.spill_bytes,
        "gc_ms": g.gc_ms,
        **span.counts,
    }
    if "turns_in_lookback" in span.counts:
        v["turns_scanned_ratio"] = g.scan_rows / span.counts["turns_in_lookback"]
    return v


def layer_metrics(tracer, stats, cores, untraced_groups, traced_s, untraced_s, start_s):
    """Per-layer medians over the traced iterations. A layer the
    workload runs is taken from its own iterations; any other layer from
    the iterations of the workload that runs it, made in the same run."""
    by_iteration: dict[str, dict] = {}
    for s in tracer.spans:
        by_iteration.setdefault(s.iteration, {})[s.name] = s
    own = [spans for it, spans in by_iteration.items() if "/" not in it]
    other = [spans for it, spans in by_iteration.items() if "/" in it]
    out = {}
    for layer, names in LAYERS.items():
        pool = [s for s in own if layer in s] or [s for s in other if layer in s]
        per_it = [span_metrics(spans[layer], spans, stats, cores) for spans in pool]
        for name in names:
            vals = [v[name] for v in per_it]
            out[f"{layer}.{name}"] = (statistics.median(vals) if vals else 0, UNITS[name])
    out["session.start_s"] = (start_s, "s")
    engine = [stats[g] for g in untraced_groups if g in stats]
    for name in ("gc_ms", "tasks", "tasks_failed"):
        vals = [getattr(g, name) for g in engine]
        out[f"engine.{name}"] = (statistics.median(vals) if vals else 0, UNITS[name])
    out["trace.overhead_ratio"] = (
        statistics.median(traced_s) / statistics.median(untraced_s),
        "ratio",
    )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    become_subreaper()
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, str(ROOT))
    # the program under test; absent outside a checkout of the repository
    import workloads as W
    from spans import Tracer, read_event_log

    from kkbox_churn_prediction_spark.plans.manifest import fingerprint_parquet_dir
    from kkbox_churn_prediction_spark.session import get_spark
    from kkbox_churn_prediction_spark.sources.genbench import weekly_cutoffs

    cores = nproc()
    host = {
        "nproc": cores,
        "load1": os.getloadavg()[0],
        "other_jvms": live_jvms(),
    }
    conf = session_conf(bool(args.trace))
    host["driver_memory"] = os.environ["SPARK_DRIVER_MEMORY"]

    # Set-up: session start and input read, repeated on one JVM; the
    # first repetition also launches the JVM and, for a new seed,
    # generates the input (not timed) and is left out of the median.
    phases, clock = {}, time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 1)
        clock = now

    spark = None
    try:
        setup_s = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
            started = time.perf_counter() - t0
            if rep == 0:
                session_start_s = started
                phase("launch")
                turns_dir, cache_dir = ensure_input(spark, args.seed, args.convs)
                phase("input")
            t1 = time.perf_counter()
            turns = spark.read.parquet(str(turns_dir))
            n_turns = turns.count()
            cutoffs = sorted(r["cutoff_ts"] for r in weekly_cutoffs(turns).collect())
            setup_s.append(started + time.perf_counter() - t1)

        inp = W.Inputs(spark, turns_dir, cache_dir, WORK, n_turns, cutoffs)
        wl = W.WORKLOADS[args.workload]()
        # a traced run also times, on the same input, the layers that only
        # the other workloads run, so that every layer is measured
        others = [w() for name, w in W.WORKLOADS.items() if name != wl.name] if args.trace else []
        phase("setup")
        for w in (wl, *others):
            w.prepare(inp)
        phase("prepare")

        # Correctness: the first iteration, which also warms the JVM up, is
        # checked against the DuckDB reference; later iterations must
        # reproduce its checksums.
        reference = W.Reference(inp, wl)
        first = wl.iterate(inp)
        phase("warmup")
        expected = reference.sums(first.frames)
        phase("check")
        verified = first.sums == expected
        if not verified:
            print(f"reference mismatch: engine {first.sums} oracle {expected}", file=sys.stderr)

        sc = spark.sparkContext
        tracer = Tracer(sc) if args.trace else None
        results, traced_s, untraced_groups = [], [], []
        attempted = failed = 0
        ticks = cpu_ticks()
        start = time.perf_counter()
        # a traced run needs one untraced and one traced iteration
        least = 2 if tracer else MIN_ITERATIONS
        while time.perf_counter() - start < args.seconds or attempted < least:
            attempted += 1
            try:
                if tracer and attempted % 2 == 0:
                    n0 = len(tracer.spans)
                    sums = wl.traced(inp, tracer, f"t{attempted}")
                    traced_s.append(sum(s.seconds for s in tracer.spans[n0:]))
                    for w in others:  # timed only; their outputs are not checked
                        w.traced(inp, tracer, f"t{attempted}/{w.name}")
                else:
                    if tracer:
                        untraced_groups.append(f"u{attempted}/job")
                        sc.setJobGroup(untraced_groups[-1], "untraced iteration")
                    r = wl.iterate(inp)
                    sums = r.sums
                    results.append(r)
                if sums != expected:
                    failed += 1
                    print(f"iteration {attempted}: checksum {sums} != {expected}", file=sys.stderr)
            except Exception:
                failed += 1
                traceback.print_exc()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        phase("measure")
        # share of the host's CPU time taken by other virtual machines while
        # measuring: a high value explains a slow run
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        host["steal_pct"] = round(100 * ticks[7] / max(sum(ticks), 1), 1)
        if not results:
            print("no iteration completed", file=sys.stderr)
            return 1

        job_s = statistics.median(r.job_s for r in results)
        rss_jvm, rss_py = peak_rss_mb(spark)
        host.update(rss_jvm_mb=round(rss_jvm), rss_py_mb=round(rss_py))
        metrics = {
            "setup_s": (statistics.median(setup_s[1:]), "s"),
            "job_cpu_s_p50": (statistics.median(r.cpu_s for r in results), "s"),
            "peak_rss_mb": (rss_jvm + rss_py, "MB"),
        }
        # reported on the metric lines only. Wall time follows the load
        # of other machines on a shared host too closely to be gated; the
        # rest are zero, or not defined for every workload.
        extra = {
            "job_s_p50": (job_s, "s"),
            "turns_per_s": (n_turns / job_s, "turns/s"),
            "failed_ops_ratio": (failed / attempted, "ratio"),
        }
        if results[0].new_cutoff_s is not None:
            extra["new_cutoff_s_p50"] = (statistics.median(r.new_cutoff_s for r in results), "s")
            extra["stored_bytes_per_row"] = (
                statistics.median(r.stored_bytes / r.rows for r in results),
                "bytes/row",
            )
        app_id = sc.applicationId
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            stop_descendants()
    phase("stop")

    if tracer:
        tracer.write(WORK / "trace" / f"{args.workload}-seed{args.seed}.spans.json")
        stats = read_event_log(WORK / "eventlog", app_id, str(turns_dir))
        metrics = layer_metrics(
            tracer,
            stats,
            cores,
            untraced_groups,
            traced_s,
            [r.job_s for r in results],
            session_start_s,
        )

    print(
        f"perfbench workload={args.workload} seed={args.seed} convs={args.convs} "
        f"turns={n_turns} cutoffs={len(cutoffs)} "
        f"input_fingerprint={fingerprint_parquet_dir(str(turns_dir))} "
        + " ".join(f"{k}={v}" for k, v in host.items())
        + f" iterations={attempted} verified={verified} "
        + " ".join(f"{k}_s={v}" for k, v in phases.items())
        + " iteration_s=" + ",".join(f"{r.job_s:.2f}" for r in results)
        + " iteration_cpu_s=" + ",".join(f"{r.cpu_s:.2f}" for r in results)
    )
    for name, (value, unit) in {**metrics, **({} if tracer else extra)}.items():
        print(f"metric {name} {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": verified and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
