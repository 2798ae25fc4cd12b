"""Spans kept in memory, and Spark event-log metrics attributed to them.

A span is opened by the benchmark around one call into a layer (the
program is not instrumented). Each span sets a Spark job group, so the
event log written by the session ties every job, stage and task back
to the span that started it.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    iteration: str
    parents: tuple[str, ...]
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.iteration}/{self.name}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; :meth:`write` saves them at exit."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, iteration: str, parents: tuple[str, ...] = ()):
        s = Span(name, iteration, parents, 0.0)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [
            {
                "name": s.name,
                "iteration": s.iteration,
                "parents": list(s.parents),
                "start": s.start,
                "end": s.end,
                "counts": s.counts,
            }
            for s in self.spans
        ]
        path.write_text(json.dumps(rows, indent=1))


@dataclass
class GroupStats:
    """Totals over the Spark jobs of one job group."""

    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_rows: int = 0
    task_ms: list[int] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        if not self.task_ms:
            return 0.0
        return max(self.task_ms) / max(statistics.median(self.task_ms), 1.0)


def _scan_row_metrics(plan: dict, path: str, out: set[int]) -> None:
    """Accumulator ids of "number of output rows" of parquet scans
    whose location is ``path``."""
    where = json.dumps(plan.get("metadata", {})) + plan.get("simpleString", "")
    if plan.get("nodeName", "").startswith("Scan") and path in where:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _scan_row_metrics(child, path, out)


def _event_lines(log_dir: Path, app_id: str):
    """Lines of an application's log, single-file or rolling layout."""
    single = log_dir / app_id
    files = [single] if single.is_file() else sorted(
        (log_dir / f"eventlog_v2_{app_id}").glob("events_*"),
        key=lambda f: int(f.name.split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    for path in files:
        with path.open() as f:
            yield from f


def read_event_log(log_dir: Path, app_id: str, scan_path: str) -> dict[str, GroupStats]:
    """Per job group totals from an uncompressed Spark event log.
    ``scan_rows`` counts rows produced by parquet scans of
    ``scan_path``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    scan_ids: set[int] = set()
    for line in _event_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _scan_row_metrics(ev.get("sparkPlanInfo", {}), scan_path, scan_ids)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            groups[group].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = groups[group]
            info = ev["Task Info"]
            g.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if info.get("Failed") or reason != "Success":
                g.tasks_failed += 1
            g.task_ms.append(int(info["Finish Time"]) - int(info["Launch Time"]))
            m = ev.get("Task Metrics") or {}
            g.run_ms += int(m.get("Executor Run Time", 0))
            g.gc_ms += int(m.get("JVM GC Time", 0))
            g.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
            g.shuffle_write_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            for acc in info.get("Accumulables", []):
                if int(acc.get("ID", -1)) in scan_ids:
                    g.scan_rows += int(acc.get("Update", 0))
    return dict(groups)
