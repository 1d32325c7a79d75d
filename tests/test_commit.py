"""Snapshot-commit protocol (plans/commit.py): a killed write must never
leave a half-overwritten table readable — readers see the complete old or
the complete new snapshot, nothing in between (the Iceberg-snapshot
analog, SURVEY §1.4)."""

import os

import pytest
from pyspark.sql import functions as F

from trace_aware_reservoir_otel_spark.plans.commit import (
    _version_dir,
    commit_write,
    current_version,
    expire_snapshots,
    read_committed,
    snapshots,
)


def _vals(df):
    return sorted(r["v"] for r in df.collect())


def test_kill_mid_write_leaves_old_snapshot_readable(spark, tmp_path):
    table = str(tmp_path / "t")
    v1 = commit_write(spark.range(10).select(F.col("id").alias("v")), table)
    assert v1 == 1
    assert _vals(read_committed(spark, table)) == list(range(10))

    # simulate a crash mid-commit: the next version's data lands (possibly
    # partially) but the pointer swap never happens
    spark.range(100, 103).select(F.col("id").alias("v")).write.parquet(
        _version_dir(table, 2)
    )
    assert current_version(table) == 1
    assert _vals(read_committed(spark, table)) == list(range(10))  # old, complete

    # a later successful commit supersedes (fresh version number, v2 is
    # dangling garbage)
    v3 = commit_write(spark.range(20, 25).select(F.col("id").alias("v")), table)
    assert v3 == 3
    assert _vals(read_committed(spark, table)) == list(range(20, 25))


def test_partitioned_commit_and_expire(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.range(20).select(
        F.col("id").alias("v"), (F.col("id") % 2).alias("p")
    )
    commit_write(df, table, partition_by=["p"])
    commit_write(df.filter(F.col("v") < 10), table, partition_by=["p"])
    got = read_committed(spark, table)
    assert _vals(got) == list(range(10))
    assert set(got.columns) == {"v", "p"}
    snaps = snapshots(table)
    assert [s["version"] for s in snaps] == [1, 2]
    assert [s["current"] for s in snaps] == [False, True]

    expired = expire_snapshots(table, keep_last=1)
    assert expired == [1]
    assert not os.path.isdir(_version_dir(table, 1))
    assert _vals(read_committed(spark, table)) == list(range(10))


def test_read_committed_raises_without_a_pointer(spark, tmp_path):
    # a plain parquet directory is no committed table
    plain = str(tmp_path / "plain")
    spark.range(5).select(F.col("id").alias("v")).write.parquet(plain)
    with pytest.raises(FileNotFoundError, match="plain"):
        read_committed(spark, plain)
    # nor is one whose first commit wrote its version but never swapped
    # the pointer, with or without a schema to read it by
    crashed = str(tmp_path / "crashed")
    spark.range(5).select(F.col("id").alias("v")).write.parquet(
        os.path.join(crashed, "_versions", "v00000001")
    )
    with pytest.raises(FileNotFoundError, match="crashed"):
        read_committed(spark, crashed)
    with pytest.raises(FileNotFoundError, match="crashed"):
        read_committed(spark, crashed, schema="v long")


def test_write_sinks_lands_through_snapshot_commit(spark, tmp_path):
    from trace_aware_reservoir_otel_spark.config import PipelineConfig
    from trace_aware_reservoir_otel_spark.plans.pipeline import (
        run_pipeline,
        write_sinks,
    )
    from trace_aware_reservoir_otel_spark.synth import generate_transcripts

    df = generate_transcripts(spark, n_convs=80, seed=3)
    cfg = PipelineConfig(size_k=5, window_duration_s=60, seed=42)
    counts = write_sinks(run_pipeline(df, cfg), str(tmp_path / "out"))
    routed = read_committed(spark, str(tmp_path / "out" / "routed"))
    assert routed.count() == df.count()
    by_sink = {
        r["sink"]: r["count"] for r in routed.groupBy("sink").count().collect()
    }
    for s in ("sampled_traces", "overflow", "dlq"):
        assert by_sink.get(s, 0) == counts.get(s, 0)
    assert current_version(str(tmp_path / "out" / "routed")) == 1
    metrics = read_committed(spark, str(tmp_path / "out" / "metrics"))
    assert metrics.count() == counts["metrics"]



def _leaf_dirs(root):
    """Relative paths of the directories that hold parquet data files."""
    return {
        os.path.relpath(d, root)
        for d, _sub, files in os.walk(root)
        if any(f.endswith(".parquet") for f in files)
    }


def test_routed_table_is_bucketed_by_sink_and_export_bucket(spark, tmp_path):
    """Batch and checkpoint write the routed table partitioned by (sink,
    window_bucket): a bucket spans export_bucket_windows windows, so the
    directory count follows buckets, not windows, and one read_committed
    reader sees the same partition columns in both modes. Both modes also
    commit the same metrics table."""
    import math

    from trace_aware_reservoir_otel_spark import fsutil
    from trace_aware_reservoir_otel_spark.config import PipelineConfig
    from trace_aware_reservoir_otel_spark.plans.pipeline import (
        run_pipeline,
        write_sinks,
    )
    from trace_aware_reservoir_otel_spark.plans.state import run_with_checkpoint
    from trace_aware_reservoir_otel_spark.synth import generate_transcripts

    df = generate_transcripts(spark, n_convs=120, seed=5).cache()
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, export_bucket_windows=8, seed=42
    )
    w = int(cfg.window_duration_s)
    bounds = df.agg(
        F.min(F.unix_timestamp("ts")).alias("lo"),
        F.max(F.unix_timestamp("ts")).alias("hi"),
    ).first()
    n_windows = bounds["hi"] // w - bounds["lo"] // w + 1
    assert n_windows > 3 * cfg.export_bucket_windows  # spans several buckets
    max_buckets = math.ceil(n_windows / cfg.export_bucket_windows) + 1

    batch_out = str(tmp_path / "batch")
    write_sinks(run_pipeline(df, cfg), batch_out)
    ckpt_out = str(tmp_path / "ckpt")
    run_with_checkpoint(spark, df, cfg, str(tmp_path / "st"), ckpt_out, n_units=3)

    readers = {}
    for out in (batch_out, ckpt_out):
        table = f"{out}/routed"
        snap = fsutil.read_jsonl(f"{table}/_CURRENT")[-1]["dir"]
        leaves = _leaf_dirs(snap)
        assert leaves
        by_sink = {}
        for leaf in leaves:
            parts = leaf.split(os.sep)
            assert len(parts) == 2, leaf
            assert parts[0].startswith("sink="), leaf
            assert parts[1].startswith("window_bucket="), leaf
            by_sink.setdefault(parts[0], set()).add(int(parts[1].split("=")[1]))
        for sink, buckets in by_sink.items():
            assert len(buckets - {-1}) <= max_buckets, (sink, sorted(buckets))
        readers[out] = read_committed(spark, table)
        assert "window_part" not in readers[out].columns
        assert readers[out].count() == df.count()

    batch, ckpt = readers[batch_out], readers[ckpt_out]
    assert {"sink", "window_bucket"} <= set(batch.columns)
    assert set(batch.columns) == set(ckpt.columns)
    # the bucket column is the floor of the window over the bucket span
    span = w * cfg.export_bucket_windows
    for r in batch.select("window_start_s", "window_bucket").distinct().collect():
        want = -1 if r["window_start_s"] is None else r["window_start_s"] // span
        assert r["window_bucket"] == want
    # one metrics table format: both modes commit write_sinks' table
    bm, cm = (read_committed(spark, f"{out}/metrics") for out in (batch_out, ckpt_out))
    assert bm.schema == cm.schema
    assert sorted(map(tuple, bm.collect()), key=repr) == sorted(
        map(tuple, cm.collect()), key=repr
    )
    df.unpersist()


import pytest as _pytest


@_pytest.mark.parametrize("binding", ["rename", "etag"])
def test_fault_between_snapshot_write_and_pointer_swap(spark, tmp_path, binding):
    """Inject a committer fault at the pointer swap itself: the snapshot
    data directory is fully written but the commit must NOT be visible —
    readers stay on the previous version; a later healthy commit wins
    with a fresh version number (the dangling dir is invisible garbage
    collected by expire_snapshots). Exercised against both the rename(2)
    binding and the conditional-PUT CAS binding."""
    import pytest

    from trace_aware_reservoir_otel_spark import fsutil
    from trace_aware_reservoir_otel_spark.plans import commit
    from tests.test_fsutil import _FaultyCommitter

    inner = (
        fsutil.LocalRenameCommitter()
        if binding == "rename"
        else fsutil.EtagEmulatingCommitter()
    )
    table = str(tmp_path / "t")
    prev = fsutil.set_committer(inner)
    try:
        commit.commit_write(spark.range(5).toDF("v"), table)
        assert commit.current_version(table) == 1

        fsutil.set_committer(_FaultyCommitter(fail_at=1, inner=inner))
        with pytest.raises(OSError, match="injected"):
            commit.commit_write(spark.range(99).toDF("v"), table)
        fsutil.set_committer(inner)

        # reader: previous complete snapshot, not the half-committed one
        assert commit.current_version(table) == 1
        assert commit.read_committed(spark, table).count() == 5

        # healthy retry commits past the dangling v2 directory
        v = commit.commit_write(spark.range(7).toDF("v"), table)
        assert v == 3 and commit.read_committed(spark, table).count() == 7
        expired = commit.expire_snapshots(table, keep_last=1)
        assert 2 in expired  # the dangling snapshot is reclaimed as garbage
    finally:
        fsutil.set_committer(prev)


def test_commit_append_delta_chain(spark, tmp_path):
    """commit_append adds an immutable delta dir: readers see the union,
    previous dirs are never rewritten, expire keeps every dir the current
    append-chain pointer references, and a later full commit_write
    supersedes the chain (making the deltas expirable)."""
    from trace_aware_reservoir_otel_spark.plans import commit

    table = str(tmp_path / "t")
    commit.commit_write(spark.range(5).toDF("v"), table)
    v = commit.commit_append(spark.range(100, 103).toDF("v"), table)
    assert v == 2
    got = sorted(r["v"] for r in commit.read_committed(spark, table).collect())
    assert got == [0, 1, 2, 3, 4, 100, 101, 102]
    # both dirs are live under the chain pointer: nothing expires
    assert commit.expire_snapshots(table, keep_last=1) == []
    assert sorted(r["v"] for r in commit.read_committed(spark, table).collect()) == got

    # a full rewrite supersedes the chain; the old dirs become garbage
    commit.commit_write(spark.range(7).toDF("v"), table)
    assert commit.read_committed(spark, table).count() == 7
    expired = commit.expire_snapshots(table, keep_last=1)
    assert set(expired) == {1, 2}
