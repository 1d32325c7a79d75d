"""Surface guard: every top-level definition of the package has a reader
outside the test suite. A function that only tests call is dead weight the
engine carries (a second implementation, a stub, a helper), so a new one
fails here; a name kept on purpose goes in ALLOWED with its reason. No
Spark session: the package is only parsed."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "trace_aware_reservoir_otel_spark")
# where a reader may live besides the package itself
READERS = ["jobs", "bench.py", "bench_extra.py", "perfbench", "scripts", "__spark_entry__.py"]

ALLOWED = {
    # ingest of the reference's native input, nested OTLP (PAPER.md §0 item 1);
    # `functions/protowire.py`, the wire codec, is read by `otlp_proto`
    "otlp": "nested OTLP ingest/egress module, the reference's native input shape",
    "NESTED_TRACES_SCHEMA": "the nested OTLP input schema (sources/otlp.py)",
    "FLAT_COLS": "the flattened span columns (sources/otlp.py)",
    "flatten_traces": "nested OTLP -> span rows, the reference's input path",
    "nest_traces": "span rows -> nested OTLP, the reference's export shape",
    "flat_spans_to_transcripts": "OTLP spans -> the engine's transcripts relation",
    "otlp_proto": "OTLP protobuf ingest module, the reference's wire format",
    "decode_otlp_traces": "OTLP protobuf payloads -> span rows",
    "encode_export_request": "span rows -> OTLP protobuf payload, the decoder's inverse",
    "transcripts_from_spans": "decoded OTLP spans -> the engine's transcripts relation",
    # seams and references
    "set_committer": "fault-injection seam of the manifest layer (fsutil)",
    "EtagEmulatingCommitter": "the local binding of the conditional-PUT committer that "
    "set_committer installs; the object-store protocol runs on it",
    "duck_window_start_s": "the DuckDB form of window_start_s, the parity reference",
    "conservation_ok": "the conservation check on the one sink Observation",
    # consumer-facing readers
    "read_seen": "consumer-side reader of the streaming dedup's seen set",
    "state_metrics": "checkpoint state gauges, the reference's checkpoint metrics",
    "streaming_metrics": "streaming gauges, the reference's per-sink counters",
    "__version__": "package metadata",
    # operators that only tests call today, each checked against a Python
    # or numpy oracle; whether to keep them is open on ROADMAP
    "exact_dedup": "content-hash dedup operator; its contract query "
    "(dedup_exact) spells the same group-by in dialect SQL",
    "doc_unigram_logprob": "float form of the perplexity proxy; its contract "
    "query runs the integer-exact doc_unigram_stats",
    "dsir_logratio_weights": "float DSIR resampling weights; its contract "
    "query runs the integer-exact dsir_feature_scores",
}


def _files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith((".py", ".sh"))
    )


def _references(path):
    """(name, line) of every identifier a file reads: loaded names,
    attributes, imported names and identifier-shaped string constants
    (hooks that patch by attribute name). Non-Python files: every word."""
    with open(path) as f:
        src = f.read()
    if not path.endswith(".py"):
        return [(w, 0) for w in re.findall(r"\w+", src)]
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                out += [(part, node.lineno) for part in alias.name.split(".")]
            if isinstance(node, ast.ImportFrom) and node.module:
                out += [(part, node.lineno) for part in node.module.split(".")]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                out.append((node.value, node.lineno))
    return out


def _definitions(path):
    """(name, first line, last line) of each top-level def, class and
    module constant."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node.lineno, node.end_lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    out.append((t.id, node.lineno, node.end_lineno))
    return out


def test_every_package_definition_has_a_reader_outside_tests():
    package_files = _files(PACKAGE)
    readers = package_files + [p for r in READERS for p in _files(os.path.join(ROOT, r))]
    read_at: "dict[str, list]" = {}  # name -> [(file, line)]
    for p in readers:
        for name, line in _references(p):
            read_at.setdefault(name, []).append((p, line))

    unread = set()
    for path in package_files:
        module = os.path.splitext(os.path.basename(path))[0]
        for name, first, last in _definitions(path) + [(module, 0, -1)]:
            # a definition's own body (recursion) is no reader
            if name != "__init__" and all(
                p == path and first <= line <= last for p, line in read_at.get(name, [])
            ):
                unread.add(name)
    dead = sorted(unread - set(ALLOWED))
    assert not dead, f"definitions that only tests read (delete, or allow with a reason): {dead}"
    # an allowance ends when its name gains a reader or goes away
    stale = sorted(set(ALLOWED) - unread)
    assert not stale, f"ALLOWED names that no longer need allowing: {stale}"
