"""Manifest-writer guard: every durable JSONL write of the package is one
of the known commit points or state files below. A path that commits
through `plans/commit.commit_append` records what it applied in the
append's key; a side manifest beside that pointer is a second commit
point that can disagree with it, so a new write site fails here until it
is deleted or allowed with a reason. No Spark session: the package is
only parsed."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "trace_aware_reservoir_otel_spark")
WRITERS = {"write_jsonl_atomic", "append_jsonl_atomic", "upsert_jsonl_atomic"}

# (module, target path expression) -> why the file is written
ALLOWED = {
    ("plans/commit.py", "_pointer_path(table_dir)"):
    "the snapshot-commit pointer `_CURRENT`: the one commit point of every "
    "committed table, swapped by commit_write and commit_append",
    ("streaming/pipeline.py", "_epoch_path(state_dir)"):
    "the stream's `epoch.jsonl`: per-batch ingest records and their "
    "compaction summary",
    ("streaming/pipeline.py", "_metrics_path(state_dir)"):
    "the stream's `metrics.jsonl`: each export's record, the rollover's "
    "commit point and its buckets' mark, plus the straggler record",
    ("streaming/pipeline.py", "os.path.join(state_dir, 'exported.jsonl')"):
    "the stream's `exported.jsonl`: the marks of export records that "
    "manifest compaction folded",
    ("operators/dedup.py", "os.path.join(index_dir, _MINHASH_META)"):
    "the MinHash index's knobs, written once per build",
    ("operators/similarity.py", "os.path.join(index_dir, _FINGERPRINT_FILE)"):
    "the IVF index's corpus fingerprint, written once per build",
}


def _write_sites():
    """(module, target expression) of every call to an fsutil JSONL
    writer, by attribute (`fsutil.write_jsonl_atomic`) or bare name."""
    sites = set()
    for d, _dirs, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(d, f)
            if not f.endswith(".py") or path == os.path.join(PACKAGE, "fsutil.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            module = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name in WRITERS:
                    target = ast.unparse(node.args[0]) if node.args else "<keyword>"
                    sites.add((module, target))
    return sites


def test_every_jsonl_write_site_is_allowed():
    sites = _write_sites()
    unknown = sorted(sites - set(ALLOWED))
    assert not unknown, (
        f"JSONL writes outside the known commit points (record what a path "
        f"applied in its commit_append key, or allow with a reason): {unknown}"
    )
    # an allowance ends when its site goes away
    stale = sorted(set(ALLOWED) - sites)
    assert not stale, f"ALLOWED write sites that no longer exist: {stale}"
