"""Checkpoint manifest + the one commit step of every checkpointed
writer (SURVEY §4 #3).

Extends the reference's run manifest (``src/runlog.py:17-26`` —
run.json with ts/seed/params/metrics per run) to PARTITION
granularity, in the mold of Structured Streaming's idempotent-sink
discipline. :func:`open_run` writes a run header (input fingerprint +
params) and refuses to resume a run whose input changed.
:func:`publish` makes one partition visible: the writer stages it in
``<parent>/_staging/<name>`` (the leading ``_`` hides it from Spark's
file listing and ``bucket=*`` globs), then its rows are counted, the
live ``<parent>/<name>`` is replaced (rmtree, rename) and
``(run_id, partition_key, row_count, status, completed_at)`` is
appended to ``_manifest.jsonl``. A key with a commit row is DONE; on
restart done keys skip and the rest is staged and swapped again, so
resume is idempotent (kill/restart tests in
``tests/test_scale_robustness.py``). Buckets (:func:`resumable_backfill`,
``plans.forget``), cutoffs (``plans.incremental``) and micro-batches
(``streaming.sink``) all commit this way.

With Iceberg the swap + record becomes ``MERGE INTO`` + snapshot ids
(``input_fingerprint`` then carries the source snapshot id; locally
:func:`fingerprint_parquet_dir` stands in). At scale each bucket is
one Spark job over a pruned scan, so a killed 100 TB backfill loses
at most one bucket of work.
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
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


def publish(
    spark: SparkSession,
    manifest: ManifestStore,
    run_id: str,
    key: int | str,
    dest: Path,
    *,
    input_fingerprint: str | None = None,
    expect_rows: int | None = None,
) -> int:
    """Count the staged copy of ``dest`` (``<parent>/_staging/<name>``),
    swap it in and commit ``(key, row_count)``; returns the row count. ``expect_rows``
    refuses the swap when the staged count differs (a rewrite that
    must not change the rows)."""
    staged = dest.parent / STAGING / dest.name
    n = spark.read.parquet(str(staged)).count()
    if expect_rows is not None and n != expect_rows:
        raise RuntimeError(f"row-count mismatch staging {dest}: {expect_rows} -> {n}")
    if dest.exists():
        shutil.rmtree(dest)
    staged.rename(dest)
    if not any(p.is_dir() for p in staged.parent.iterdir()):
        shutil.rmtree(staged.parent)  # nothing staged left but writer markers
    manifest.commit(run_id, key, n, input_fingerprint)
    return n


def write_partition(
    df: DataFrame,
    manifest: ManifestStore,
    run_id: str,
    key: int | str,
    dest: Path,
    **publish_kw,
) -> int:
    """Stage ``df`` as the next version of ``dest``, then
    :func:`publish` it (``publish_kw`` as there)."""
    df.write.mode("overwrite").parquet(str(dest.parent / STAGING / dest.name))
    return publish(df.sparkSession, manifest, run_id, key, dest, **publish_kw)


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
    """Run ``build(spark) -> DataFrame`` bucket-by-bucket with
    checkpointing. ``build`` must return the FULL output DataFrame
    including the ``bucket_col`` identity column (conv_id for feature
    backfills, doc_id for corpus jobs); bucketing is derived, so the
    split is stable across restarts. ``input_fingerprint`` and
    ``params`` go to :func:`open_run` (resume refuses changed input).

    Returns {"buckets_run": int, "buckets_skipped": int, "rows": int}.
    """
    manifest, done = open_run(
        out_dir, run_id, input_fingerprint=input_fingerprint, params=params
    )
    full = build(spark).withColumn("_bucket", bucket_of(bucket_col, n_buckets))

    ran = skipped = total_rows = 0
    for b in range(n_buckets):
        if str(b) in done:
            skipped += 1
            continue
        part = full.where(F.col("_bucket") == b).drop("_bucket")
        dest = Path(out_dir) / f"bucket={b}"
        total_rows += write_partition(
            part, manifest, run_id, b, dest, input_fingerprint=input_fingerprint
        )
        ran += 1
    return {"buckets_run": ran, "buckets_skipped": skipped, "rows": total_rows}


def read_backfill_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/bucket=*")
