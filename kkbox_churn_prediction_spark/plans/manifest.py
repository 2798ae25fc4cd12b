"""Checkpoint manifest + the one commit step of every checkpointed
writer (SURVEY §4 #3).

Extends the reference's run manifest (``src/runlog.py:17-26`` —
run.json with ts/seed/params/metrics per run) to PARTITION
granularity, in the mold of Structured Streaming's idempotent-sink
discipline. :func:`open_run` writes a run header (input fingerprint +
params) and refuses to resume a run whose input changed.
:func:`write_partitions` stages every pending partition of a frame in
ONE ``partitionBy`` write to ``<parent>/_staging/<col>=<key>`` (the
leading ``_`` hides it from Spark's file listing and ``bucket=*``
globs), counting each key's rows in that same pass (an
``Observation``). :func:`publish` then makes one partition visible:
the live ``<parent>/<col>=<key>`` is replaced (rmtree, rename) and
``(run_id, partition_key, row_count, status, completed_at)`` is
appended to ``_manifest.jsonl``; nothing is read back. A key with a
commit row is DONE; on restart done keys skip and the rest is staged
and swapped again, so resume is idempotent (kill/restart tests in
``tests/test_scale_robustness.py``). Buckets (:func:`resumable_backfill`,
``plans.forget``), cutoffs (``plans.incremental``) and micro-batches
(``streaming.sink``) all commit this way.

With Iceberg the swap + record becomes ``MERGE INTO`` + snapshot ids
(``input_fingerprint`` then carries the source snapshot id; locally
:func:`fingerprint_parquet_dir` stands in). All pending partitions are
computed by one Spark job, so a kill loses the run's staged write;
committed buckets are kept.
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class ManifestStore:
    """JSON-lines manifest, appended by a single writer (the driver).

    Two row kinds: a RUN HEADER per run (``kind="run"`` — params and
    input fingerprint, written before any partition work so a resume
    checks the fingerprint BEFORE trusting any commit row) and one
    commit row per completed partition."""

    path: Path

    def _rows(self) -> list[dict]:
        if not self.path.exists():
            return []
        return [json.loads(line) for line in self.path.read_text().splitlines()]

    def _append(self, row: dict) -> None:
        with self.path.open("a") as f:
            f.write(json.dumps(row) + "\n")

    def run_header(self, run_id: str) -> dict | None:
        hdr = None
        for row in self._rows():
            if row.get("kind") == "run" and row["run_id"] == run_id:
                hdr = row  # last header wins
        return hdr

    def done_keys(self, run_id: str) -> set[str]:
        """Committed partition keys as strings (buckets, cutoff
        dates, batch ids — whatever the writer keyed on)."""
        return {
            str(row["partition_key"])
            for row in self._rows()
            if row.get("kind") != "run"
            and row["run_id"] == run_id
            and row["status"] == "done"
        }

    def commit(
        self,
        run_id: str,
        key: int | str,
        row_count: int,
        input_fingerprint: str | None = None,
    ) -> None:
        self._append(
            {
                "run_id": run_id,
                "partition_key": str(key),
                "row_count": int(row_count),
                "input_fingerprint": input_fingerprint,
                "status": "done",
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
        )


def open_run(
    out_dir: str | Path,
    run_id: str,
    *,
    input_fingerprint: str | None = None,
    params: dict | None = None,
) -> tuple[ManifestStore, set[str]]:
    """Open (or resume) ``run_id`` in ``out_dir``; returns the store
    and the keys already committed.

    ``input_fingerprint`` (e.g. :func:`fingerprint_parquet_dir` of the
    source dir, or an Iceberg snapshot id) guards resume across
    CHANGED inputs: if a prior run header for ``run_id`` recorded a
    different fingerprint, resuming would silently mix old-input
    output with new-input partitions — so it raises instead. Start a
    new run_id (or clear the checkpoint dir) for new input."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    manifest = ManifestStore(out / "_manifest.jsonl")
    hdr = manifest.run_header(run_id)
    if hdr is None:
        manifest._append(
            {
                "kind": "run",
                "run_id": run_id,
                "input_fingerprint": input_fingerprint,
                "params": params or {},
                "seed": None,  # line format of older manifests; seeds go in params
                "started_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
        )
    elif hdr.get("input_fingerprint") != input_fingerprint:
        raise RuntimeError(
            f"refusing resume of run {run_id!r}: input fingerprint changed "
            f"({hdr.get('input_fingerprint')!r} -> {input_fingerprint!r}); "
            "done partitions were built from different input"
        )
    return manifest, manifest.done_keys(run_id)


# a partition's next version is staged in <parent>/_staging/<name>; the
# leading "_" hides it from Spark's file listing and from bucket=* globs
STAGING = "_staging"


def observe_rows(df: DataFrame, col: str, keys: list) -> tuple[DataFrame, Observation]:
    """``df`` with one ``count_if(col = key)`` per key attached; the
    counts fill in when an action runs the plan, with no job of their
    own (``Observation.get``, keyed by ``str(key)``)."""
    obs = Observation()
    counts = [F.count_if(F.col(col) == F.lit(k)).alias(str(k)) for k in keys]
    return df.observe(obs, *counts), obs


def publish(
    manifest: ManifestStore,
    run_id: str,
    key: int | str,
    dest: Path,
    rows: int,
    *,
    input_fingerprint: str | None = None,
    expect_rows: int | None = None,
) -> int:
    """Swap the staged copy of ``dest`` (``<parent>/_staging/<name>``)
    in and commit ``(key, rows)``, where ``rows`` is the count observed
    while staging it; returns ``rows``. ``expect_rows`` refuses the
    swap when the two differ (a rewrite that must not change the
    rows)."""
    staged = dest.parent / STAGING / dest.name
    if expect_rows is not None and rows != expect_rows:
        raise RuntimeError(f"row-count mismatch staging {dest}: {expect_rows} -> {rows}")
    if dest.exists():
        shutil.rmtree(dest)
    staged.rename(dest)
    if not any(p.is_dir() for p in staged.parent.iterdir()):
        shutil.rmtree(staged.parent)  # nothing staged left but writer markers
    manifest.commit(run_id, key, rows, input_fingerprint)
    return rows


def write_partitions(
    df: DataFrame,
    manifest: ManifestStore,
    run_id: str,
    parent: Path,
    col: str,
    keys: list,
    **publish_kw,
) -> int:
    """Stage ``df`` in one write partitioned by ``col`` (every row's
    ``col`` must be in ``keys``), then :func:`publish`
    ``<parent>/<col>=<key>`` for each key (``publish_kw`` as there);
    returns the rows committed. ``partitionBy`` writes no directory
    for a key without rows, so such a key is staged as an empty,
    schema-bearing partition and commits like any other."""
    counted, obs = observe_rows(df, col, keys)
    counted.write.mode("overwrite").partitionBy(col).parquet(str(parent / STAGING))
    rows = obs.get
    for k in keys:
        if rows[str(k)] == 0:
            staged = parent / STAGING / f"{col}={k}"
            df.drop(col).limit(0).write.mode("overwrite").parquet(str(staged))
    return sum(
        publish(manifest, run_id, k, parent / f"{col}={k}", rows[str(k)], **publish_kw)
        for k in keys
    )


def bucket_of(col: str, n_buckets: int) -> Column:
    """The bucket an id lands in — shared by the writer and the
    deleter (``plans.forget``) so they cannot disagree."""
    return F.pmod(F.hash(F.col(col)), F.lit(int(n_buckets)))


def fingerprint_parquet_dir(path: str) -> str | None:
    """Cheap content snapshot of a parquet directory: md5 over the
    sorted (relative-name, size) listing. Catches appended / replaced
    / removed files without reading data bytes — the local analog of
    an Iceberg snapshot id (which replaces this wholesale when the
    catalog is available, see ``sources.io``). ``None`` when ``path``
    is not a local directory (missing, or a remote URI): there is no
    listing to vouch for, so the caller must supply a snapshot id."""
    import hashlib

    p = Path(path)
    if not p.is_dir():
        return None
    entries = sorted(
        (str(f.relative_to(p)), f.stat().st_size)
        for f in p.rglob("*")
        if f.is_file() and not f.name.startswith(".")
    )
    h = hashlib.md5()
    for name, size in entries:
        h.update(f"{name}:{size}\n".encode())
    return h.hexdigest()


def resumable_backfill(
    spark: SparkSession,
    build: "callable",
    out_dir: str,
    run_id: str,
    n_buckets: int = 8,
    input_fingerprint: str | None = None,
    params: dict | None = None,
    bucket_col: str = "conv_id",
) -> dict:
    """Write ``build(spark) -> DataFrame`` as ``bucket=K/`` partitions
    with checkpointing: the buckets not yet committed are staged by
    one job, then each is published (:func:`write_partitions`), so a
    kill loses the run's staged write; committed buckets are kept.
    ``build`` must return the FULL output DataFrame including the
    ``bucket_col`` identity column (conv_id for feature backfills,
    doc_id for corpus jobs); bucketing is derived, so the split is
    stable across restarts. ``input_fingerprint`` and ``params`` go to
    :func:`open_run` (resume refuses changed input).

    Returns {"buckets_run": int, "buckets_skipped": int, "rows": int}.
    """
    manifest, done = open_run(
        out_dir, run_id, input_fingerprint=input_fingerprint, params=params
    )
    pending = [b for b in range(n_buckets) if str(b) not in done]
    rows = 0
    if pending:
        full = build(spark)
        if "bucket" in full.columns:
            raise ValueError("the built frame may not carry a 'bucket' column")
        bucketed = full.withColumn("bucket", bucket_of(bucket_col, n_buckets))
        rows = write_partitions(
            bucketed.where(F.col("bucket").isin(pending)),
            manifest,
            run_id,
            Path(out_dir),
            "bucket",
            pending,
            input_fingerprint=input_fingerprint,
        )
    return {
        "buckets_run": len(pending),
        "buckets_skipped": n_buckets - len(pending),
        "rows": rows,
    }


def read_backfill_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live ``bucket=K`` partitions of ``out_dir``, without a
    ``bucket`` column. The directories are listed and read by name: a
    ``bucket=*`` glob read makes Spark probe the literal glob path for
    a streaming-sink log and log its ``FileNotFoundException``."""
    return spark.read.parquet(*sorted(str(p) for p in Path(out_dir).glob("bucket=*")))
