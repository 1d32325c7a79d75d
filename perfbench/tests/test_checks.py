"""Each output checker accepts a correct output and rejects a corrupted one;
the span self-time and input-cache checks reject what they must, and the
CPU counter counts a child process's work.

    python3 -m pytest perfbench/tests -q     (from the repository root)
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import cache  # noqa: E402
import checks  # noqa: E402
from machine import session_cpu_s  # noqa: E402
from tracer import Span, Tracer  # noqa: E402

K = 2
ROUTED_COLUMNS = ["conv_id", "turn_idx", "window_start_s", "sink", "reason"]


def _routed_rows():
    """A correct routed output for k=2: window 0 holds conversations a, b, c
    (a and b sampled, c unsampled) and d (evicted by capacity); window 60
    holds a's later turn; b's turn 5 is late; two rows have invalid keys."""
    return [
        ("a", 0, 0, "sampled_traces", None),
        ("a", 1, 0, "sampled_traces", None),
        ("a", 2, 60, "sampled_traces", None),
        ("b", 0, 0, "sampled_traces", None),
        ("b", 5, -7200, "dlq", "late"),
        ("c", 0, 0, "overflow", "unsampled"),
        ("c", 1, 0, "overflow", "unsampled"),
        ("d", 0, 0, "overflow", "capacity"),
        (None, 0, 0, "dlq", "invalid_key"),
        ("x", None, 0, "dlq", "invalid_key"),
    ]


def _check_batch(rows, counts=None):
    routed = pd.DataFrame(rows, columns=ROUTED_COLUMNS)
    late = pd.DataFrame([("b", 5)], columns=["conv_id", "turn_idx"])
    if counts is None:
        counts = {"sampled_traces": 4, "overflow": 3, "dlq": 3, "metrics": 5}
    return checks.check_batch(routed, counts, n_input=10, n_invalid=2,
                              late_keys=late, size_k=K)


def _replace(rows, i, row):
    rows = list(rows)
    rows[i] = row
    return rows


def test_batch_accepts_correct_output():
    assert _check_batch(_routed_rows()) == []


def test_batch_rejects_dropped_row():
    fails = _check_batch(_routed_rows()[1:])
    assert any(f.startswith("conservation") for f in fails)


def test_batch_rejects_wrong_reported_counts():
    fails = _check_batch(_routed_rows(),
                         {"sampled_traces": 4, "overflow": 2, "dlq": 3, "metrics": 5})
    assert any("reported" in f for f in fails)


def test_batch_rejects_conversation_split_across_sinks():
    rows = _replace(_routed_rows(), 1, ("a", 1, 0, "overflow", "unsampled"))
    assert any(f.startswith("split") for f in _check_batch(rows))


def test_batch_rejects_oversampled_window():
    rows = _replace(_routed_rows(), 5, ("c", 0, 0, "sampled_traces", None))
    rows = _replace(rows, 6, ("c", 1, 0, "sampled_traces", None))
    assert any(f.startswith("reservoir") for f in _check_batch(rows))


def test_batch_rejects_undersampled_window():
    rows = _replace(_routed_rows(), 3, ("b", 0, 0, "overflow", "unsampled"))
    assert any(f.startswith("reservoir") for f in _check_batch(rows))


def test_batch_rejects_invalid_key_outside_dlq():
    rows = _replace(_routed_rows(), 8, (None, 0, 0, "overflow", "unsampled"))
    assert any(f.startswith("invalid keys") for f in _check_batch(rows))


def test_batch_rejects_late_turn_outside_dlq():
    rows = _replace(_routed_rows(), 4, ("b", 5, -7200, "sampled_traces", None))
    assert any(f.startswith("late") for f in _check_batch(rows))


def test_stream_checks():
    assert checks.check_stream(10, 10, 10, 2) == []
    assert checks.check_stream(10, 9, 10, 2)  # one row lost in routing
    assert checks.check_stream(9, 9, 10, 2)  # one input row never counted
    assert checks.check_stream(10, 10, 10, 0)  # no mid-stream roll


def test_stream_vs_batch():
    a = {(0, "a"), (0, "b"), (60, "a")}
    assert checks.check_stream_vs_batch(a, set(a)) == []
    assert checks.check_stream_vs_batch(a, {(0, "a"), (60, "a")})


DOCS = pd.DataFrame([(1, 1), (2, 1), (3, 1), (4, -1), (5, 5), (6, 5)],
                    columns=["doc_id", "cluster_id"])
VERIFIED = [(1, 2, 0.9), (2, 3, 0.8), (5, 6, 0.7)]


def _check_dedup(survivors, verified=VERIFIED):
    pairs = pd.DataFrame(verified, columns=["doc_a", "doc_b", "jaccard"])
    return checks.check_dedup(DOCS, pd.Series(survivors), pairs,
                              n_planted_dups=3, threshold=0.5)


def test_dedup_accepts_correct_output():
    assert _check_dedup([1, 4, 5]) == []


def test_dedup_rejects_duplicated_survivor():
    fails = _check_dedup([1, 4, 5, 5])
    assert any(f.startswith("conservation") for f in fails)


def test_dedup_rejects_uncollapsed_cluster():
    fails = _check_dedup([1, 3, 4, 5])
    assert any(f.startswith("clusters") for f in fails)


def test_dedup_rejects_dropped_singleton():
    fails = _check_dedup([1, 5])
    assert any(f.startswith("removed") for f in fails)


def test_dedup_rejects_removal_without_verified_pair():
    fails = _check_dedup([1, 4, 5], verified=[(1, 2, 0.9), (2, 3, 0.8), (5, 6, 0.3)])
    assert any("no verified pair" in f for f in fails)


def test_self_time_subtracts_covered_child_intervals():
    t = Tracer()
    t.spans = [
        Span(0, "root", 0.0, None, 10.0),
        Span(1, "a", 1.0, 0, 4.0),
        Span(2, "b", 3.0, 0, 5.0),  # overlaps a: covered union is 1..5
        Span(3, "c", 2.0, 1, 3.0),
    ]
    st = t.self_times()
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_cache_rejects_changed_or_unsealed_input(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "s1-x1"
    (d / "docs").mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), d / "docs" / "part-0.parquet")
    assert cache.load(str(d)) is None  # no manifest yet
    cache.seal(str(d), {"rows": 3})
    assert cache.load(str(d)) == {"rows": 3}
    pq.write_table(pa.table({"doc_id": [1, 2, 4]}), d / "docs" / "part-0.parquet")
    assert cache.load(str(d)) is None  # same rows, other content
    pq.write_table(pa.table({"doc_id": [1, 2]}), d / "docs" / "part-0.parquet")
    assert cache.load(str(d)) is None
    with open(d / cache.MANIFEST) as f:
        assert json.load(f)["rows"] == {"docs": 3}


def test_session_cpu_counts_a_child_process():
    import subprocess
    import time

    before = session_cpu_s()
    # a child in this session that burns 0.5 CPU seconds, then waits
    child = subprocess.Popen([sys.executable, "-c", "import time\n"
                              "t = time.process_time()\n"
                              "while time.process_time() - t < 0.5: pass\n"
                              "input()"], stdin=subprocess.PIPE)
    try:
        deadline = time.time() + 20
        while session_cpu_s() - before < 0.4 and time.time() < deadline:
            time.sleep(0.1)
        assert session_cpu_s() - before >= 0.4
    finally:
        child.communicate(b"\n")
