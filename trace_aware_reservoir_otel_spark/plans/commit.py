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
   A table with no pointer (never committed, or its first commit
   crashed before the swap) raises FileNotFoundError: it is not read as
   a plain directory, where Spark's hidden `_versions/` would surface as
   a schema-inference error or, given a schema, an empty frame.
 - `expire_snapshots` deletes non-current versions — the analog of the
   reference's checkpoint GC/compaction (checkpoint.go:377-417) and of
   Iceberg's expire_snapshots.

On HDFS the pointer swap is rename(2); on object stores the same protocol
holds with a conditional PUT of the pointer object. Version data dirs are
written once and never mutated, so they need no atomicity of their own.

Used by the batch sink writers (plans/pipeline.write_sinks, which the
checkpoint finalize calls too), which write the routed table partitioned
by (sink, window_bucket) and the metrics table. `commit_append` is the
one commit point of the two incremental paths that record what they
applied: a checkpoint unit (plans/state.process_unit) and a streaming
dedup batch (streaming/dedup.dedup_batch, through the MinHash index's
append). Each stamps its append with a `key` record, and
`committed_keys` is the only place either path looks up what is done:
there is no side manifest that could disagree with the pointer. The
streaming rollover keeps per-bucket dynamic partition overwrite instead:
its commit unit is one export-bucket partition, and its one commit point
is the export's record in the stream's `metrics.jsonl`, which is also
the buckets' mark (streaming/pipeline._route_buckets). A snapshot commit
per roll would be a second commit point beside that record.
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


def _next_version(table_dir: str) -> int:
    """One past the highest version directory on disk, committed or not:
    a crashed writer's dangling directory is never reused."""
    vroot = os.path.join(table_dir, _VERSIONS)
    existing = [
        int(d[1:]) for d in (os.listdir(vroot) if os.path.isdir(vroot) else [])
        if d.startswith("v")
    ]
    return max(existing, default=0) + 1


def commit_write(
    df: DataFrame,
    table_dir: str,
    partition_by: "list[str] | None" = None,
) -> int:
    """Write df as the table's next immutable snapshot, then atomically
    swap the current-pointer. Returns the committed version number."""
    version = _next_version(table_dir)
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
    key=None,
) -> int:
    """Append df as a new immutable DELTA directory: the next version's
    data is (previous snapshot's dirs + the new dir), recorded in the
    pointer as an explicit dir list — Iceberg's append-snapshot analog.
    Readers before the swap see the old dir set; after, the full set.
    Previously committed dirs are never rewritten, so appending N batches
    costs O(batch) each, not O(table) — the difference between an
    incremental index refresh and a rebuild. Returns the new version.

    `key` (optional) is the append's record, kept in the pointer's
    accumulated `keys` list (Iceberg's snapshot-summary analog): any JSON
    value, or a zero-argument callable returning one, called after the
    data write and before the swap so the record can carry the write's
    Observation counts. The swap publishes the data and the record
    together, so an at-least-once writer consults `committed_keys` before
    re-appending and needs no manifest of its own: a crash before the
    swap leaves neither, a crash after it leaves both."""
    prev_dirs = _current_dirs(table_dir)
    prev_keys = committed_keys(table_dir)
    version = _next_version(table_dir)
    vdir = _version_dir(table_dir, version)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(vdir)
    rec: dict = {"version": version, "dirs": prev_dirs + [vdir]}
    if callable(key):
        key = key()
    keys = prev_keys + ([key] if key is not None else [])
    if keys:
        rec["keys"] = keys
    fsutil.write_jsonl_atomic(_pointer_path(table_dir), [rec])
    return version


def committed_keys(table_dir: str) -> list:
    """The `key` records of every append folded into the current
    snapshot, in commit order ([] when none were stamped, or after a
    commit_write reset the chain)."""
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


def _read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(path)


def read_version(
    spark: SparkSession, table_dir: str, version: int, schema=None
) -> DataFrame:
    """Read one `commit_write` snapshot by its version number, whatever
    the pointer names now: a writer that reads back what it just committed
    is not exposed to a concurrent commit. `schema` as in read_committed;
    a known schema also spares the footer-inference job."""
    return _read_parquet(spark, _version_dir(table_dir, version), schema)


def read_committed(spark: SparkSession, table_dir: str, schema=None) -> DataFrame:
    """Read the table's current committed snapshot (single dir or an
    append chain of delta dirs); FileNotFoundError when the table has no
    commit pointer. Chain dirs are read separately
    and unioned — each keeps its own hive-partition discovery, and filter
    pushdown (incl. partition pruning) passes through a union, so a
    probe's PartitionFilters reach every delta.

    `schema` (optional StructType) makes an EMPTY committed snapshot
    readable — a zero-row table has no parquet footer to infer from, and
    a legitimate empty corpus (e.g. a dedup index before any history)
    must read back as an empty frame, not an inference error."""
    from functools import reduce

    dirs = _current_dirs(table_dir)
    if not dirs:
        raise FileNotFoundError(f"no committed snapshot in table {table_dir}")
    return reduce(
        lambda a, b: a.unionByName(b),
        (_read_parquet(spark, d, schema) for d in dirs),
    )


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
