"""Minimal atomic table-commit protocol — the Iceberg-snapshot stand-in
(SURVEY §1.4; no Iceberg jar ships in this environment).

A plain `df.write.mode("overwrite")` deletes the target then writes into
it: a reader (or a crash) mid-way sees a half-table. Iceberg fixes this
with immutable snapshot manifests and an atomic pointer swap; this module
implements exactly that shape on a filesystem:

    table_dir/
      _versions/v00000001/      immutable snapshot data (never rewritten)
      _versions/v00000002/
      _CURRENT                  pointer file, atomically replaced (fsutil)

 - `commit_write` writes the new snapshot into a FRESH version directory
   and only then swaps `_CURRENT` (write-temp + fsync + rename). A kill at
   ANY point leaves readers on the previous complete snapshot — a dangling
   half-written version directory is invisible garbage, reclaimed by
   `expire_snapshots`.
 - `read_committed` resolves the pointer and reads that snapshot only.
   For back-compat it falls back to a plain read when no pointer exists
   (pre-shim layouts).
 - `expire_snapshots` deletes non-current versions — the analog of the
   reference's checkpoint GC/compaction (checkpoint.go:377-417) and of
   Iceberg's expire_snapshots.

On HDFS the pointer swap is rename(2); on object stores the same protocol
holds with a conditional PUT of the pointer object. Version data dirs are
written once and never mutated, so they need no atomicity of their own.

Used by the batch sink writers (plans/pipeline.write_sinks,
plans/state.finalize), which both write the routed table partitioned by
(sink, window_bucket). The streaming rollover keeps per-bucket dynamic
partition overwrite instead: its commit unit is one export-bucket
partition (written exactly once per export mark), where a whole-table
snapshot swap would re-copy every previously exported bucket each roll.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from trace_aware_reservoir_otel_spark import fsutil

_POINTER = "_CURRENT"
_VERSIONS = "_versions"


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, _POINTER)


def current_version(table_dir: str) -> "int | None":
    recs = fsutil.read_jsonl(_pointer_path(table_dir))
    return recs[-1]["version"] if recs else None


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _VERSIONS, f"v{version:08d}")


def commit_write(
    df: DataFrame,
    table_dir: str,
    partition_by: "list[str] | None" = None,
) -> int:
    """Write df as the table's next immutable snapshot, then atomically
    swap the current-pointer. Returns the committed version number."""
    existing = [
        int(d[1:])
        for d in (
            os.listdir(os.path.join(table_dir, _VERSIONS))
            if os.path.isdir(os.path.join(table_dir, _VERSIONS))
            else []
        )
        if d.startswith("v")
    ]
    version = max(existing, default=0) + 1
    vdir = _version_dir(table_dir, version)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(vdir)
    # the swap is the commit: until it lands, readers stay on the previous
    # complete snapshot and the new directory is invisible
    fsutil.write_jsonl_atomic(
        _pointer_path(table_dir), [{"version": version, "dir": vdir}]
    )
    return version


def commit_append(
    df: DataFrame,
    table_dir: str,
    partition_by: "list[str] | None" = None,
    key: "str | None" = None,
) -> int:
    """Append df as a new immutable DELTA directory: the next version's
    data is (previous snapshot's dirs + the new dir), recorded in the
    pointer as an explicit dir list — Iceberg's append-snapshot analog.
    Readers before the swap see the old dir set; after, the full set.
    Previously committed dirs are never rewritten, so appending N batches
    costs O(batch) each, not O(table) — the difference between an
    incremental index refresh and a rebuild. Returns the new version.

    `key` (optional) is an idempotency tag recorded in the pointer's
    accumulated `keys` list (Iceberg's snapshot-summary analog): an
    at-least-once writer stamps each append with its batch identity and
    consults `committed_keys` before re-appending, so a replay after a
    crash between the append-commit and the caller's own applied-mark can
    be detected instead of re-executed (see streaming/dedup.py)."""
    prev_dirs = _current_dirs(table_dir)
    prev_keys = committed_keys(table_dir)
    existing = [
        int(d[1:])
        for d in (
            os.listdir(os.path.join(table_dir, _VERSIONS))
            if os.path.isdir(os.path.join(table_dir, _VERSIONS))
            else []
        )
        if d.startswith("v")
    ]
    version = max(existing, default=0) + 1
    vdir = _version_dir(table_dir, version)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(vdir)
    rec: dict = {"version": version, "dirs": prev_dirs + [vdir]}
    keys = prev_keys + ([key] if key is not None else [])
    if keys:
        rec["keys"] = keys
    fsutil.write_jsonl_atomic(_pointer_path(table_dir), [rec])
    return version


def committed_keys(table_dir: str) -> "list[str]":
    """Idempotency tags of every append folded into the current snapshot
    ([] when none were stamped, or after a commit_write reset the chain)."""
    recs = fsutil.read_jsonl(_pointer_path(table_dir))
    if not recs:
        return []
    return list(recs[-1].get("keys", []))


def _current_dirs(table_dir: str) -> "list[str]":
    """Data directories of the current snapshot ([] if none). Handles both
    pointer shapes: single-dir ('dir') and append-chain ('dirs')."""
    recs = fsutil.read_jsonl(_pointer_path(table_dir))
    if not recs:
        return []
    rec = recs[-1]
    return list(rec["dirs"]) if "dirs" in rec else [rec["dir"]]


def read_committed(spark: SparkSession, table_dir: str, schema=None) -> DataFrame:
    """Read the table's current committed snapshot (single dir or an
    append chain of delta dirs). Falls back to a plain directory read when
    no pointer exists (pre-shim layout). Chain dirs are read separately
    and unioned — each keeps its own hive-partition discovery, and filter
    pushdown (incl. partition pruning) passes through a union, so a
    probe's PartitionFilters reach every delta.

    `schema` (optional StructType) makes an EMPTY committed snapshot
    readable — a zero-row table has no parquet footer to infer from, and
    a legitimate empty corpus (e.g. a dedup index before any history)
    must read back as an empty frame, not an inference error."""
    from functools import reduce

    def _read(path: str) -> DataFrame:
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(path)

    dirs = _current_dirs(table_dir)
    if not dirs:
        return _read(table_dir)
    if len(dirs) == 1:
        return _read(dirs[0])
    return reduce(lambda a, b: a.unionByName(b), (_read(d) for d in dirs))


def snapshots(table_dir: str) -> "list[dict]":
    """All on-disk versions with the current marker (Iceberg's snapshot
    metadata analog)."""
    cur = current_version(table_dir)
    vroot = os.path.join(table_dir, _VERSIONS)
    out = []
    for d in sorted(os.listdir(vroot)) if os.path.isdir(vroot) else []:
        if d.startswith("v"):
            v = int(d[1:])
            out.append({"version": v, "dir": os.path.join(vroot, d), "current": v == cur})
    return out


def expire_snapshots(table_dir: str, keep_last: int = 1) -> "list[int]":
    """Delete all but the newest `keep_last` non-current snapshots (the
    current one is always kept, including EVERY delta dir an append-chain
    pointer references). Returns the expired version numbers — the
    compaction/GC analog (checkpoint.go:377-417)."""
    cur = current_version(table_dir)
    referenced = {
        int(os.path.basename(d)[1:]) for d in _current_dirs(table_dir)
    }
    versions = sorted(s["version"] for s in snapshots(table_dir))
    keep = set(versions[-keep_last:]) | referenced | (
        {cur} if cur is not None else set()
    )
    expired = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(_version_dir(table_dir, v), ignore_errors=True)
            expired.append(v)
    return expired
