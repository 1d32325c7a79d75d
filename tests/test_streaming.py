"""Streaming semantics: rollover-export equivalence with the batch
pipeline."""

import os

from pyspark.sql import functions as F

from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.plans.pipeline import run_pipeline
from trace_aware_reservoir_otel_spark.streaming.pipeline import (
    flush_incremental,
    incremental_conservation,
    run_incremental_routed,
)
from trace_aware_reservoir_otel_spark.synth import generate_transcripts


def _write_stream_file(df, in_dir, name):
    """Materialize df as a single plain parquet FILE (the file-stream
    source lists files, not nested dataset directories)."""
    import glob
    import shutil

    tmp = os.path.join(in_dir, f"_tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.makedirs(in_dir, exist_ok=True)
    shutil.move(part, os.path.join(in_dir, f"{name}.parquet"))
    shutil.rmtree(tmp)


def _routed_histogram(df):
    out = {}
    for r in (
        df.groupBy("conv_id", "turn_idx", "sink", "reason").count().collect()
    ):
        out[(r["conv_id"], r["turn_idx"], r["sink"], r["reason"])] = r["count"]
    return out


def _write_time_ordered_batches(spark, base, cfg, n_convs=150):
    """Two files split at a window-aligned time cut: event time is ordered
    across files (the streaming watermark contract), so a window's rows
    never arrive after it closed."""
    df = generate_transcripts(spark, n_convs=n_convs, seed=7)
    w = int(cfg.window_duration_s)
    lo, hi = df.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    cut = (int((lo + hi) // 2) // w) * w
    sec = F.unix_timestamp("ts")
    in_dir = os.path.join(base, "in")
    _write_stream_file(df.filter(sec < cut), in_dir, "000")
    _write_stream_file(df.filter(sec >= cut), in_dir, "001")
    return df, in_dir


def test_streaming_routed_equals_batch_rollover(spark, tmp_path_factory):
    """The reference's hot path IS streaming export at window rollover
    (processor.go:317-347): union of per-rollover routed outputs must equal
    the batch pipeline on the same input."""
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42,
        late_tolerance_s=None, buffer_max_convs=8,
    )
    base = str(tmp_path_factory.mktemp("stream_routed"))
    df, in_dir = _write_time_ordered_batches(spark, base, cfg)
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out
    )
    # some windows must have been exported mid-stream (true rollover)
    from trace_aware_reservoir_otel_spark.streaming.pipeline import _exported_buckets

    assert len(_exported_buckets(state)) > 0
    flush_incremental(spark, cfg, state, out)
    got = _routed_histogram(
        spark.read.parquet(f"{out}/routed")
    )
    exp = _routed_histogram(run_pipeline(df, cfg).routed)
    assert got == exp
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == df.count()


def test_streaming_routed_late_tolerance_flush(spark, tmp_path_factory):
    """With late tolerance configured, routing defers to flush (conv starts
    are global) but still equals the batch pipeline."""
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42,
        late_tolerance_s=120.0, buffer_max_convs=8,
    )
    base = str(tmp_path_factory.mktemp("stream_routed_late"))
    df, in_dir = _write_time_ordered_batches(spark, base, cfg)
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out
    )
    flush_incremental(spark, cfg, state, out)
    got = _routed_histogram(spark.read.parquet(f"{out}/routed"))
    exp = _routed_histogram(run_pipeline(df, cfg).routed)
    assert got == exp


def test_straggler_rows_route_to_late_arrival_dlq(spark, tmp_path_factory):
    """A row arriving AFTER its window was exported (watermark violation)
    must not vanish: it routes to dlq(late_arrival) and conservation holds."""
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None
    )
    base = str(tmp_path_factory.mktemp("stream_straggler"))
    df, in_dir = _write_time_ordered_batches(spark, base, cfg, n_convs=80)
    # file 002: one row whose ts lies back in file 000's first window
    first = df.orderBy("ts", "turn_idx").limit(1).collect()[0]
    straggler = spark.createDataFrame(
        [(
            "conv-straggler", 0, "user", "late straggler row", None, first["ts"],
        )],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).select(*df.columns)
    _write_stream_file(straggler, in_dir, "002")

    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out
    )
    from trace_aware_reservoir_otel_spark.streaming.pipeline import (
        _bucket_of,
        _exported_buckets,
        flush_incremental,
        incremental_conservation,
    )

    first_w = (
        int(first["ts"].timestamp()) // 60
    ) * 60
    assert _exported_buckets(state).get(_bucket_of(first_w, cfg)) is not None  # bucket rolled
    flush_incremental(spark, cfg, state, out)
    strag = spark.read.parquet(f"{out}/routed_stragglers").collect()
    assert len(strag) == 1
    assert strag[0]["conv_id"] == "conv-straggler"
    assert strag[0]["reason"] == "late_arrival"
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == df.count() + 1


def test_streaming_restart_with_new_data_equals_batch(spark, tmp_path_factory):
    """Continuous-deployment story: process two files, stop, new data
    arrives, restart on the SAME checkpoint — only the new file is
    processed, already-exported windows are not re-exported, and the final
    union still equals the batch pipeline over all data."""
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42,
        late_tolerance_s=None, buffer_max_convs=8,
    )
    base = str(tmp_path_factory.mktemp("stream_restart"))
    df = generate_transcripts(spark, n_convs=120, seed=9)
    w = int(cfg.window_duration_s)
    lo, hi = df.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    cut1 = (int(lo + (hi - lo) / 3) // w) * w
    cut2 = (int(lo + 2 * (hi - lo) / 3) // w) * w
    sec = F.unix_timestamp("ts")
    in_dir = os.path.join(base, "in")
    _write_stream_file(df.filter(sec < cut1), in_dir, "000")
    _write_stream_file(df.filter((sec >= cut1) & (sec < cut2)), in_dir, "001")

    state = os.path.join(base, "state")
    ck = os.path.join(base, "ck")
    out = os.path.join(base, "out")
    run_incremental_routed(spark, in_dir, cfg, state, ck, out)
    from trace_aware_reservoir_otel_spark.streaming.pipeline import _exported_buckets

    exported_before = dict(_exported_buckets(state))
    assert exported_before  # something rolled in phase 1

    # new data lands; restart on the same checkpoint
    _write_stream_file(df.filter(sec >= cut2), in_dir, "002")
    run_incremental_routed(spark, in_dir, cfg, state, ck, out)
    exported_after = _exported_buckets(state)
    for bkt, bid in exported_before.items():
        assert exported_after[bkt] == bid  # phase-1 exports untouched
    flush_incremental(spark, cfg, state, out)

    got = _routed_histogram(spark.read.parquet(f"{out}/routed"))
    exp = _routed_histogram(run_pipeline(df, cfg).routed)
    assert got == exp
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == df.count()
