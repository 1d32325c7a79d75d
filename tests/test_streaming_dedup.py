"""Streaming incremental ingest dedup (streaming/dedup.py): sequential
fold semantics (each batch dedups against initial index + earlier
survivors), conservation, index growth by survivors only, and
continuation across a second availableNow run on the same checkpoint."""

import os
import time

import pytest

from trace_aware_reservoir_otel_spark.operators.dedup import minhash_index
from trace_aware_reservoir_otel_spark.plans import commit
from trace_aware_reservoir_otel_spark.streaming.dedup import (
    read_seen,
    read_survivors,
    run_incremental_dedup,
    stream_documents,
)

A = "alpha beta gamma delta epsilon zeta"
B = "one two three four five six seven"
C = "completely fresh content arrives in file one"
D = "another new document shows up in file two"
E = "a third novel body of text in file three"
FF = "final novel content for the continuation file"


def _write_file(spark, path: str, rows, mtime: float) -> None:
    """One top-level parquet FILE (the unit the streaming file source
    lists), with a pinned mtime so batch order is deterministic."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sdedup_")
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df.write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.replace(part, path)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(path, (mtime, mtime))


def test_streaming_ingest_dedup_sequential_fold(spark, tmp_path):
    idx = str(tmp_path / "idx")
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)

    hist = spark.createDataFrame([(0, A), (1, B)], "doc_id long, text string")
    minhash_index(hist, idx, num_hashes=8, n=3, bands=4, seed=7)

    t0 = time.time() - 100
    # f1: dup-of-A + fresh C; f2: dup-of-C + fresh D; f3: dups of D and B
    # + fresh E. Survivors depend on processing order (f1 < f2 < f3 by
    # mtime with maxFilesPerTrigger=1).
    _write_file(spark, f"{inp}/f1.parquet", [(101, A), (102, C)], t0)
    _write_file(spark, f"{inp}/f2.parquet", [(201, C), (202, D)], t0 + 10)
    _write_file(
        spark, f"{inp}/f3.parquet", [(301, D), (302, B), (303, E)], t0 + 20
    )

    run_incremental_dedup(spark, inp, idx, out, ckpt)

    seen = {r.doc_id for r in read_seen(spark, out).collect()}
    assert seen == {101, 102, 201, 202, 301, 302, 303}
    surv = read_survivors(spark, out)
    assert {r.doc_id for r in surv.collect()} == {102, 202, 303}
    # per-batch lineage: batch k's survivors are a subset of its seen ids
    by_batch = {}
    for r in surv.collect():
        by_batch.setdefault(r.batch_id, set()).add(r.doc_id)
    seen_by_batch = {}
    for r in read_seen(spark, out).collect():
        seen_by_batch.setdefault(r.batch_id, set()).add(r.doc_id)
    for bid, ids in by_batch.items():
        assert ids <= seen_by_batch[bid]
    # three applied batches, each keyed exactly once in the index pointer
    applied = commit.committed_keys(f"{idx}/buckets")
    assert sorted(applied) == sorted(set(applied)) and len(applied) == 3

    # continuation on the SAME checkpoint: only the new file processes;
    # dup-of-E (now in the index via batch-3's append) drops, F survives
    _write_file(
        spark, f"{inp}/f4.parquet", [(401, E), (402, FF)], time.time() + 5
    )
    run_incremental_dedup(spark, inp, idx, out, ckpt)
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {
        102,
        202,
        303,
        402,
    }
    applied2 = commit.committed_keys(f"{idx}/buckets")
    assert applied2[:3] == applied and len(applied2) == len(set(applied2)) == 4


def test_streaming_ingest_dedup_empty_initial_index_accepts_first(spark, tmp_path):
    """An index built on an empty corpus accepts everything in the first
    batch and then dedups batch 2 against batch 1's survivors."""
    from pyspark.sql import types as T

    idx = str(tmp_path / "idx")
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    minhash_index(empty, idx, num_hashes=8, n=3, bands=4, seed=7)
    t0 = time.time() - 50
    _write_file(spark, f"{inp}/f1.parquet", [(1, A), (2, B)], t0)
    _write_file(spark, f"{inp}/f2.parquet", [(3, A), (4, C)], t0 + 10)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_incremental_dedup(spark, inp, idx, out, ckpt)
    assert {r.doc_id for r in read_survivors(spark, out).collect()} == {1, 2, 4}


def _one_batch(spark, tmp_path, name):
    idx, out = str(tmp_path / f"{name}_idx"), str(tmp_path / f"{name}_out")
    hist = spark.createDataFrame([(0, A)], "doc_id long, text string")
    minhash_index(hist, idx, num_hashes=8, n=3, bands=4, seed=7)
    batch = spark.createDataFrame(
        [(10, A), (11, C)], "doc_id long, text string"
    )
    return idx, out, batch


def _applied_state(spark, idx, out):
    return (
        sorted(r.doc_id for r in read_survivors(spark, out).collect()),
        sorted(r.doc_id for r in read_seen(spark, out).collect()),
        commit.current_version(f"{idx}/buckets"),
        commit.committed_keys(f"{idx}/buckets"),
    )


def test_replay_of_applied_batch_keeps_survivors(spark, tmp_path):
    """Round-5 verdict #1: a foreachBatch replay of an ALREADY-APPLIED
    batch must not recompute survivors (the index already contains the
    batch's own bucket rows — every survivor would self-collide and the
    sink would be overwritten empty). The index append is the batch's one
    commit point: its key in the index pointer is found first on replay
    and nothing is touched. No other mark is written."""
    from trace_aware_reservoir_otel_spark.streaming.dedup import dedup_batch

    idx, out, batch = _one_batch(spark, tmp_path, "replay")
    dedup_batch(batch, 0, idx, out)
    applied = _applied_state(spark, idx, out)
    assert applied[0] == [11] and applied[3] == ["batch=0"]

    dedup_batch(batch, 0, idx, out)  # at-least-once replay after the commit
    # survivors sink byte-stable and NON-EMPTY; no duplicate index delta
    assert _applied_state(spark, idx, out) == applied
    assert sorted(os.listdir(out)) == ["seen", "survivors"]


def test_replay_after_crash_between_append_and_mark(spark, tmp_path, monkeypatch):
    """Crash AFTER the keyed index append committed but BEFORE the stream
    engine marked the batch done in its commit log. The replay finds the
    batch's key in the index pointer and recomputes nothing: survivors and
    seen ids stay intact, the index gains no duplicate delta, and the key
    is recorded once — the state of an uninterrupted run."""
    from trace_aware_reservoir_otel_spark.streaming.dedup import dedup_batch

    idx, out, batch = _one_batch(spark, tmp_path, "clean")
    dedup_batch(batch, 0, idx, out)
    expected = _applied_state(spark, idx, out)

    idx, out, batch = _one_batch(spark, tmp_path, "crash")
    real_append = commit.commit_append

    def append_then_crash(*args, **kwargs):
        real_append(*args, **kwargs)
        raise RuntimeError("simulated crash after the index append")

    with monkeypatch.context() as m:
        m.setattr(commit, "commit_append", append_then_crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            dedup_batch(batch, 0, idx, out)
    assert _applied_state(spark, idx, out) == expected

    with monkeypatch.context() as m:
        m.setattr(commit, "commit_append", append_then_crash)
        dedup_batch(batch, 0, idx, out)  # replay: key found, no append
    assert _applied_state(spark, idx, out) == expected
    assert sorted(os.listdir(out)) == ["seen", "survivors"]


def test_replay_after_crash_before_index_append(spark, tmp_path, monkeypatch):
    """Crash after the seen and survivors sinks are written and before the
    keyed index append runs: no key is committed, so the replay recomputes
    against an index that does not hold the batch yet. It must leave the
    survivors, seen ids, index version and keys of an uninterrupted run."""
    from trace_aware_reservoir_otel_spark.streaming.dedup import dedup_batch

    idx, out, batch = _one_batch(spark, tmp_path, "clean")
    dedup_batch(batch, 0, idx, out)
    expected = _applied_state(spark, idx, out)

    idx, out, batch = _one_batch(spark, tmp_path, "crash")

    def crash(*_args, **_kwargs):
        raise RuntimeError("simulated crash before the index append")

    with monkeypatch.context() as m:
        m.setattr(commit, "commit_append", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            dedup_batch(batch, 0, idx, out)
    assert sorted(os.listdir(out)) == ["seen", "survivors"]
    assert commit.committed_keys(f"{idx}/buckets") == []

    dedup_batch(batch, 0, idx, out)
    assert _applied_state(spark, idx, out) == expected


def test_stream_documents_schema(spark, tmp_path):
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    _write_file(spark, f"{inp}/f1.parquet", [(1, A)], time.time())
    s = stream_documents(spark, inp)
    assert s.isStreaming and set(s.columns) == {"doc_id", "text"}
