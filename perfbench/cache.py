"""Seeded input cache: one directory per (seed, scale, generator), shared
by every workload (they read different tables of the same inputs).

The generator process writes into a temporary directory, records a
manifest (row count of every table and a SHA-256 digest of every file)
last, then renames the directory into place. On reuse the manifest is
checked against the files, so a stale or half-written cache is regenerated
instead of measured. Pure Python: ``run.py`` verifies the cache without
starting Spark.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
MANIFEST = "manifest.json"


def generator_digest(root: str) -> str:
    """Digest of the code that shapes the inputs: a change to it is a new key."""
    h = hashlib.sha256()
    for path in (
        os.path.join(root, "trace_aware_reservoir_otel_spark", "synth.py"),
        os.path.join(HERE, "workloads.py"),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def key_dir(cache_root: str, root: str, seed: int, scale: int) -> str:
    return os.path.join(cache_root, f"s{seed}-x{scale}-{generator_digest(root)}")


def _files(path: str) -> "list[str]":
    out = []
    for d, _dirs, files in os.walk(path):
        for f in files:
            rel = os.path.relpath(os.path.join(d, f), path)
            if rel != MANIFEST and not f.startswith((".", "_")):
                out.append(rel)
    return sorted(out)


def content_digest(path: str) -> str:
    h = hashlib.sha256()
    for rel in _files(path):
        h.update(rel.encode())
        with open(os.path.join(path, rel), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def table_rows(path: str) -> "dict[str, int]":
    """Rows per table: the parquet files under each top-level name."""
    rows: "dict[str, int]" = {}
    for rel in _files(path):
        if rel.endswith(".parquet"):
            table = rel.split(os.sep)[0]
            rows[table] = rows.get(table, 0) + pq.ParquetFile(
                os.path.join(path, rel)).metadata.num_rows
    return rows


def seal(path: str, info: dict) -> None:
    """Write the manifest last: its presence marks a complete cache."""
    manifest = {"info": info, "rows": table_rows(path), "digest": content_digest(path)}
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f)


def load(path: str) -> "dict | None":
    """The manifest's `info` if the cache at `path` is complete and intact."""
    try:
        with open(os.path.join(path, MANIFEST)) as f:
            manifest = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None
    if manifest["rows"] != table_rows(path):
        return None
    if manifest["digest"] != content_digest(path):
        return None
    return manifest["info"]
