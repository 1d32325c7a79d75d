"""Continuous-run scale properties of the streaming fan-out: per-roll IO
bounded by the closing windows (never the exported history), vacuum of
exported state, crash recovery before the export record and inside
manifest compaction, and mid-stream rollover under bounded lateness
(late_tolerance_s + max_conv_span_s)."""

import os

import pytest
from pyspark.sql import functions as F

from trace_aware_reservoir_otel_spark import fsutil
from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.plans.pipeline import run_pipeline
from trace_aware_reservoir_otel_spark.streaming.pipeline import (
    _exported_buckets,
    _metrics_path,
    _read_epoch,
    flush_incremental,
    incremental_conservation,
    run_incremental_routed,
    streaming_metrics,
)
from trace_aware_reservoir_otel_spark.synth import generate_transcripts

from tests.test_streaming import _routed_histogram, _write_stream_file


def _write_time_sliced(spark, base, cfg, df, n_files):
    """Split df into n_files window-aligned, time-ordered stream files."""
    w = int(cfg.window_duration_s)
    lo, hi = df.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    cuts = [
        (int(lo + (hi - lo) * i / n_files) // w) * w for i in range(1, n_files)
    ]
    sec = F.unix_timestamp("ts")
    in_dir = os.path.join(base, "in")
    edges = [None, *cuts, None]
    for i in range(n_files):
        part = df
        if edges[i] is not None:
            part = part.filter(sec >= edges[i])
        if edges[i + 1] is not None:
            part = part.filter(sec < edges[i + 1])
        _write_stream_file(part, in_dir, f"{i:03d}")
    return in_dir


def test_roll_io_is_bounded_by_closing_windows(spark, tmp_path_factory):
    """THE continuous-run property: each export's row volume (Observation
    on the routed write) equals exactly its own windows' spilled rows —
    independent of how many windows were already exported — and the whole
    stream's exports sum to ONE pass over the input."""
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=4,
    )
    base = str(tmp_path_factory.mktemp("stream_roll_io"))
    df = generate_transcripts(spark, n_convs=150, seed=7)
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=6)
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out
    )
    flush_incremental(spark, cfg, state, out)

    epoch = _read_epoch(state)
    recs = [
        r for r in fsutil.read_jsonl(_metrics_path(state)) if r["type"] == "export"
    ]
    rolls = [r for r in recs if r["batch_id"] is not None]
    assert len(rolls) >= 3, "expected several mid-stream rolls"
    for rec in recs:
        upto = rec["batch_id"] if rec["batch_id"] is not None else 1 << 62
        keys = {str(int(b)) for b in rec["buckets"]}
        expected = sum(
            n
            for e in epoch
            if e["batch_id"] <= upto
            for k, n in e["bucket_counts"].items()
            if k in keys
        )
        assert rec["rows_total"] == expected, rec
    assert sum(r["rows_total"] for r in recs) == df.count()


def test_vacuum_removes_exported_state(spark, tmp_path_factory):
    """Exported windows' spill partitions must be deleted, so state
    volume is O(open windows) on a continuous stream."""
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=4,
    )
    base = str(tmp_path_factory.mktemp("stream_vacuum"))
    df = generate_transcripts(spark, n_convs=150, seed=7)
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=6)
    state = os.path.join(base, "state")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), os.path.join(base, "out")
    )
    done = _exported_buckets(state)
    rolled = {b for b, bid in done.items() if bid is not None}
    assert rolled
    # rolls aggregate units from the spill: no per-batch partial layer
    assert not os.path.exists(os.path.join(state, "pre"))
    leftovers = []
    root = os.path.join(state, "spill")
    for bdir in os.listdir(root):
        for leaf in os.listdir(os.path.join(root, bdir)):
            if not leaf.startswith("window_bucket="):
                continue
            bv = int(leaf.split("=", 1)[1])
            if bv in rolled:
                leftovers.append(f"spill/{bdir}/{leaf}")
    assert not leftovers, leftovers


def test_crash_before_mark_recovers_idempotently(spark, tmp_path_factory):
    """Commit order is routed write -> export record -> vacuum, and the
    export record is the buckets' mark: killing the job between the
    routed write and its record must, on restart, re-route the same
    windows onto the same partitions (overwrite) with no duplicates and
    conservation intact."""
    import trace_aware_reservoir_otel_spark.streaming.pipeline as sp

    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=4,
    )
    base = str(tmp_path_factory.mktemp("stream_crash_mark"))
    df = generate_transcripts(spark, n_convs=120, seed=9)
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=4)
    state = os.path.join(base, "state")
    ck = os.path.join(base, "ck")
    out = os.path.join(base, "out")

    real_record = sp._record_export
    calls = {"n": 0}

    def crashing_record(state_dir, buckets, batch_id, counts):
        if buckets and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("simulated crash between sink write and mark")
        real_record(state_dir, buckets, batch_id, counts)

    sp._record_export = crashing_record
    try:
        with pytest.raises(Exception, match="simulated crash"):
            run_incremental_routed(spark, in_dir, cfg, state, ck, out)
    finally:
        sp._record_export = real_record
    assert calls["n"] == 1
    assert _exported_buckets(state) == {}  # crash preceded every mark

    # restart on the same checkpoint: the uncommitted batch replays
    run_incremental_routed(spark, in_dir, cfg, state, ck, out)
    flush_incremental(spark, cfg, state, out)
    got = _routed_histogram(spark.read.parquet(f"{out}/routed"))
    exp = _routed_histogram(run_pipeline(df, cfg).routed)
    assert got == exp
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == df.count()


def test_crash_inside_manifest_compaction_recovers(
    spark, tmp_path_factory, monkeypatch
):
    """compact_manifests appends the folded records' marks to
    exported.jsonl, then rewrites metrics.jsonl. A crash between the two
    leaves those records open and marked twice with the same batch id; a
    restart must read exactly what an uninterrupted run reads."""
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=2,
    )
    base = str(tmp_path_factory.mktemp("stream_compact_crash"))
    df = generate_transcripts(spark, n_convs=150, seed=7)
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=12)

    def run(name):
        state = os.path.join(base, name, "state")
        out = os.path.join(base, name, "out")
        run_incremental_routed(
            spark, in_dir, cfg, state, os.path.join(base, name, "ck"), out,
            manifest_compact_threshold=3,
        )
        return state, out

    def observed(state, out):
        flush_incremental(spark, cfg, state, out)
        return (
            _exported_buckets(state),
            incremental_conservation(spark, state, out),
            {
                r["metric"]: r["value"]
                for r in streaming_metrics(spark, state).collect()
            },
            _routed_histogram(spark.read.parquet(f"{out}/routed")),
        )

    expected = observed(*run("clean"))

    real_write = fsutil.write_jsonl_atomic

    def crashing_write(path, records):
        if os.path.basename(path) == "metrics.jsonl":
            raise RuntimeError("simulated crash inside compaction")
        real_write(path, records)

    monkeypatch.setattr(fsutil, "write_jsonl_atomic", crashing_write)
    with pytest.raises(Exception, match="simulated crash"):
        run("crash")
    monkeypatch.setattr(fsutil, "write_jsonl_atomic", real_write)
    state = os.path.join(base, "crash", "state")
    marks = fsutil.read_jsonl(os.path.join(state, "exported.jsonl"))
    assert marks, "the crash must fall after the marks were appended"
    still_open = {
        (b, r["batch_id"])
        for r in fsutil.read_jsonl(_metrics_path(state))
        if r["type"] == "export"
        for b in r["buckets"]
    }
    assert {(m["bucket"], m["batch_id"]) for m in marks} <= still_open

    # restart on the same checkpoint: the uncommitted batch replays
    state, out = run("crash")
    assert observed(state, out) == expected
    rows_in, rows_out = expected[1]
    assert rows_in == rows_out == df.count()


def test_footer_count_mismatch_fails_the_batch(
    spark, tmp_path_factory, monkeypatch
):
    """Per-bucket counts read from the spill's parquet footers must add up
    to the rows the spill write observed. A footer listing that finds
    nothing would otherwise record the batch with rows_in = 0 and skip its
    partials: rows vanish while conservation still balances."""
    import trace_aware_reservoir_otel_spark.streaming.pipeline as sp

    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=4,
    )
    base = str(tmp_path_factory.mktemp("stream_footer_skip"))
    df = generate_transcripts(spark, n_convs=30, seed=3)
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=2)
    state = os.path.join(base, "state")
    monkeypatch.setattr(sp, "_bucket_counts_from_footers", lambda _dir: {})
    with pytest.raises(Exception, match=r"observed \d+ rows but the parquet footers"):
        run_incremental_routed(
            spark, in_dir, cfg, state, os.path.join(base, "ck"),
            os.path.join(base, "out"),
        )
    assert _read_epoch(state) == []  # nothing recorded for the batch


def test_lateness_rolls_mid_stream_equals_batch(spark, tmp_path_factory):
    """With late_tolerance_s AND max_conv_span_s declared, rollover fires
    mid-stream (the round-2 fallback deferred everything to flush) and the
    union still equals the batch pipeline."""
    df_probe = generate_transcripts(spark, n_convs=200, seed=7, span_s=40000)
    span = (
        df_probe.filter(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
        .groupBy("conv_id")
        .agg(
            (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))).alias("s")
        )
        .agg(F.max("s"))
        .first()[0]
    )
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42,
        late_tolerance_s=120.0, max_conv_span_s=float(span + 60),
        buffer_max_convs=8,
    )
    base = str(tmp_path_factory.mktemp("stream_late_roll"))
    in_dir = _write_time_sliced(spark, base, cfg, df_probe, n_files=5)
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out
    )
    rolled = {b for b, bid in _exported_buckets(state).items() if bid is not None}
    assert rolled, "expected mid-stream rolls with lateness on"
    flush_incremental(spark, cfg, state, out)
    got = _routed_histogram(spark.read.parquet(f"{out}/routed"))
    exp = _routed_histogram(run_pipeline(df_probe, cfg).routed)
    assert got == exp
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == df_probe.count()


def test_span_violation_routes_to_dlq(spark, tmp_path_factory):
    """A conversation whose observed event-time extent exceeds the
    declared max_conv_span_s has unreliable late classification — its rows
    route to dlq(span_violation) explicitly instead of exporting a stale
    decision."""
    t0 = 1704067200
    rows = [
        # compliant conv: span 120 <= 300
        ("conv-ok", 0, "user", "a", None, t0),
        ("conv-ok", 1, "assistant", "b", None, t0 + 30),
        ("conv-ok", 2, "user", "c", None, t0 + 120),
        # violator: span 490 > 300, both turns in file 0
        ("conv-bad", 0, "user", "d", None, t0 + 10),
        ("conv-bad", 1, "assistant", "e", None, t0 + 500),
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, sec long"
    )
    mk = lambda rs: (  # noqa: E731
        spark.createDataFrame(rs, schema)
        .withColumn("ts", F.timestamp_seconds(F.col("sec")))
        .drop("sec")
    )
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42,
        late_tolerance_s=60.0, max_conv_span_s=300.0,
    )
    base = str(tmp_path_factory.mktemp("stream_span_viol"))
    in_dir = os.path.join(base, "in")
    _write_stream_file(mk(rows), in_dir, "000")
    # later file advances the watermark far enough to roll everything
    _write_stream_file(
        mk([("conv-x", 0, "user", "z", None, t0 + 5000)]), in_dir, "001"
    )
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out
    )
    rolled = {b for b, bid in _exported_buckets(state).items() if bid is not None}
    assert rolled, "violator buckets must roll mid-stream"
    flush_incremental(spark, cfg, state, out)
    routed = spark.read.parquet(f"{out}/routed")
    by_conv = {
        (r["conv_id"], r["turn_idx"]): (r["sink"], r["reason"])
        for r in routed.collect()
    }
    assert by_conv[("conv-bad", 0)] == ("dlq", "span_violation")
    assert by_conv[("conv-bad", 1)] == ("dlq", "span_violation")
    assert by_conv[("conv-ok", 0)][0] == "sampled_traces"
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == 6
    gauges = {
        r["metric"]: r["value"] for r in streaming_metrics(spark, state).collect()
    }
    assert gauges["rows_in"] == 6
    assert gauges["rows_dlq"] >= 2


def test_convstart_compaction_preserves_lateness(spark, tmp_path_factory):
    """With the compaction threshold forced low, conv-start partials fold
    into the snapshot mid-stream; lateness classification and conservation
    are unchanged (min/max merges are idempotent)."""
    from trace_aware_reservoir_otel_spark.plans.commit import current_version
    from trace_aware_reservoir_otel_spark.streaming.pipeline import (
        merged_conv_starts,
    )

    df = generate_transcripts(spark, n_convs=120, seed=7, span_s=40000)
    span = (
        df.filter(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
        .groupBy("conv_id")
        .agg(
            (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))).alias("s")
        )
        .agg(F.max("s"))
        .first()[0]
    )
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42,
        late_tolerance_s=120.0, max_conv_span_s=float(span + 60),
    )
    base = str(tmp_path_factory.mktemp("stream_cs_compact"))
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=4)
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out,
        convstart_compact_threshold=1,
    )
    assert current_version(f"{state}/convstart_compacted") is not None
    # index integrity after compaction: one row per conversation, starts
    # equal the batch-derived root-turn timestamps
    starts = {
        r["conv_id"]: r["ts_of_min_turn"]
        for r in merged_conv_starts(spark, state).collect()
    }
    exp_starts = {
        r["conv_id"]: r["t"]
        for r in df.filter(
            F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
        )
        .groupBy("conv_id")
        .agg(
            F.min(
                F.struct(F.col("turn_idx"), F.unix_timestamp("ts").alias("t"))
            )["t"].alias("t")
        )
        .collect()
    }
    assert starts == exp_starts
    flush_incremental(spark, cfg, state, out)
    got = _routed_histogram(spark.read.parquet(f"{out}/routed"))
    exp = _routed_histogram(run_pipeline(df, cfg).routed)
    assert got == exp


def test_read_exported_gates_on_marks(spark, tmp_path_factory):
    """The manifest-gated reader returns exactly the marked buckets'
    rows; an unmarked (in-flight / crashed) export's partitions are
    invisible to consumers even if files exist on disk."""
    from trace_aware_reservoir_otel_spark.streaming.pipeline import read_exported

    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=4,
    )
    base = str(tmp_path_factory.mktemp("stream_read_exported"))
    df = generate_transcripts(spark, n_convs=100, seed=7)
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=4)
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out
    )
    flush_incremental(spark, cfg, state, out)
    assert read_exported(spark, state, out).count() == df.count()

    # simulate an in-flight export: drop its record, which is its buckets'
    # mark — the reader must exclude every one of its buckets even though
    # the partition files remain on disk
    recs = fsutil.read_jsonl(_metrics_path(state))
    last = max(i for i, r in enumerate(recs) if r["type"] == "export")
    dropped = [int(b) for b in recs[last]["buckets"]]
    fsutil.write_jsonl_atomic(_metrics_path(state), recs[:last] + recs[last + 1 :])
    visible = read_exported(spark, state, out)
    assert visible.filter(F.col("window_bucket").isin(dropped)).count() == 0
    n_dropped = (
        spark.read.parquet(f"{out}/routed")
        .filter(F.col("window_bucket").isin(dropped))
        .count()
    )
    assert n_dropped > 0
    assert visible.count() == df.count() - n_dropped


def test_revacuum_cleans_replayed_exported_leafs(tmp_path_factory):
    """A replayed micro-batch rewrites spill leafs for a bucket that
    was already exported+vacuumed (batch_id == the bucket's export mark);
    the straggler scan ignores batch_id <= mark, so _roll must re-vacuum
    them — otherwise state leaks forever. Leafs from LATER batches are
    genuine stragglers and must survive."""
    import os

    from trace_aware_reservoir_otel_spark.streaming.pipeline import _revacuum_done

    state = str(tmp_path_factory.mktemp("revac"))
    replayed = os.path.join(state, "spill", "batch_id=3", "window_bucket=5")
    os.makedirs(replayed)
    straggler = os.path.join(state, "spill", "batch_id=4", "window_bucket=5")
    open_bucket = os.path.join(state, "spill", "batch_id=3", "window_bucket=6")
    os.makedirs(straggler)
    os.makedirs(open_bucket)

    _revacuum_done(state, {5: 3, 7: None})  # bucket 7: flush-exported (no mark)
    assert not os.path.isdir(replayed), f"leaked replayed leaf {replayed}"
    assert os.path.isdir(straggler), "straggler leaf must survive until flush"
    assert os.path.isdir(open_bucket), "open bucket state must survive"


def test_merged_conv_starts_tolerates_dataless_partials(spark, tmp_path_factory):
    """An empty micro-batch's convstart partial can hold zero parquet data
    files (AQE coalesces an empty valid set to 0 partitions); the merged
    read must not die with UNABLE_TO_INFER_SCHEMA."""
    import os

    from trace_aware_reservoir_otel_spark.streaming.pipeline import (
        merged_conv_starts,
    )

    state = str(tmp_path_factory.mktemp("emptycs"))
    os.makedirs(os.path.join(state, "convstart", "batch_id=0"))
    assert merged_conv_starts(spark, state).count() == 0


def test_manifest_compaction_bounds_records_and_preserves_output(
    spark, tmp_path_factory
):
    """With an aggressive compaction threshold, closed-out epoch/metrics
    records fold into their summaries as the stream advances — the
    per-batch manifest rewrite stays O(open records), not O(all batches
    ever) — while the routed output, conservation, and gauges remain
    exactly the batch pipeline's."""
    from trace_aware_reservoir_otel_spark.streaming.pipeline import _epoch_summary

    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=2,
    )
    base = str(tmp_path_factory.mktemp("stream_compact"))
    df = generate_transcripts(spark, n_convs=150, seed=7)
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=12)
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")
    run_incremental_routed(
        spark, in_dir, cfg, state, os.path.join(base, "ck"), out,
        manifest_compact_threshold=3,
    )

    epoch_records = _read_epoch(state)
    summary = _epoch_summary(state)
    assert summary["n_batches"] > 0, "no epoch records folded"
    assert summary["n_batches"] + len(epoch_records) == 12
    assert len(epoch_records) < 12, "manifest grew with every batch"
    msum = next(
        (r for r in fsutil.read_jsonl(_metrics_path(state)) if r.get("type") == "summary"),
        None,
    )
    assert msum is not None and msum["n_exports"] > 0, "no metrics folded"

    flush_incremental(spark, cfg, state, out)
    got = _routed_histogram(spark.read.parquet(f"{out}/routed"))
    exp = _routed_histogram(run_pipeline(df, cfg).routed)
    assert got == exp
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == df.count()
    gauges = {
        r["metric"]: r["value"] for r in streaming_metrics(spark, state).collect()
    }
    assert gauges["epochs"] == 12.0
    assert gauges["rows_in"] == float(df.count())
    by_sink = {
        s: sum(n for (c, t, sk, re), n in got.items() if sk == s)
        for s in ("sampled_traces", "overflow", "dlq")
    }
    for s, n in by_sink.items():
        assert gauges[f"rows_{s}"] == float(n), (s, n, gauges)


def test_resume_after_full_epoch_fold(spark, tmp_path_factory):
    """A stream that stops, has (nearly) all its epoch records folded into
    the summary, and resumes on new input must: read bucket_span_s from
    the summary for the resume guard, keep rolling correctly (hwm from
    summary + fresh records), and still equal the batch pipeline with
    exact conservation at the end."""
    from trace_aware_reservoir_otel_spark.streaming.pipeline import (
        _epoch_summary,
        compact_manifests,
    )

    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=2,
    )
    base = str(tmp_path_factory.mktemp("stream_resume_fold"))
    df = generate_transcripts(spark, n_convs=150, seed=7)
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=8)
    state = os.path.join(base, "state")
    ck = os.path.join(base, "ck")
    out = os.path.join(base, "out")

    # phase 1: only the first half of the files exists in the watched dir
    watched = os.path.join(base, "in_watched")
    os.makedirs(watched)
    files = sorted(os.listdir(in_dir))
    for f in files[:4]:
        os.link(os.path.join(in_dir, f), os.path.join(watched, f))
    run_incremental_routed(spark, watched, cfg, state, ck, out)
    compact_manifests(state)
    folded = _epoch_summary(state)["n_batches"]
    assert folded > 0, "phase-1 records must fold for the test to bite"

    # resume-bounds guard must still reject a mismatched bucket span even
    # when the span is only recorded in the summary
    if len(_read_epoch(state)) == 0:
        bad = PipelineConfig(
            size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
            export_bucket_windows=7,
        )
        with pytest.raises(ValueError, match="bucket_span_s"):
            run_incremental_routed(spark, watched, bad, state, ck, out)

    # phase 2: the remaining files appear in the SAME watched dir; the
    # same checkpoint resumes and processes only them
    for f in files[4:]:
        os.link(os.path.join(in_dir, f), os.path.join(watched, f))
    run_incremental_routed(spark, watched, cfg, state, ck, out)
    flush_incremental(spark, cfg, state, out)
    got = _routed_histogram(spark.read.parquet(f"{out}/routed"))
    exp = _routed_histogram(run_pipeline(df, cfg).routed)
    assert got == exp
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == df.count()


class _MeteringCommitter(fsutil.Committer):
    """Wraps the rename binding; records (basename, bytes, t_monotonic,
    how) for every manifest write — the direct measurement of the O(open
    records) claim: if any per-batch manifest grows with stream age, its
    rewrite byte-series trends up instead of staying flat. `how` is
    "replace" for blind rewrites (compact_manifests) and "rmw" for
    read-modify-write upserts/appends (the per-batch epoch record, a
    roll's export record)."""

    def __init__(self):
        self.inner = fsutil.LocalRenameCommitter()
        self.events = []

    def _note(self, path, data, how):
        import time

        self.events.append(
            (os.path.basename(path), len(data), time.monotonic(), how)
        )

    def replace(self, path, data):
        self.inner.replace(path, data)
        self._note(path, data, "replace")

    def replace_with(self, path, transform):
        def wrapped(cur):
            data = transform(cur)
            self._note(path, data, "rmw")
            return data

        self.inner.replace_with(path, wrapped)


def test_soak_100_batches_driver_cost_stays_flat(spark, tmp_path_factory):
    """Long-horizon soak (round-4 verdict #6): 100+ tiny micro-batches.
    The per-batch driver-side costs that must NOT grow with stream age:

      - epoch/metrics manifest rewrite bytes (compact_manifests folds
        closed records — proven at 12 batches in r4, here at >=100);
      - per-batch wall time (revacuum sweep + manifest IO are the only
        O(history) candidates; both are bounded now);
      - on-disk open state (batch dirs are vacuumed+pruned).

    Flatness is asserted as late-window vs early-window ratios with
    generous noise margins (this sandbox is a noisy multi-tenant VM), plus
    absolute record-count bounds that a linear leak would blow through."""
    from statistics import median

    from trace_aware_reservoir_otel_spark.streaming.pipeline import _epoch_summary

    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=2,
    )
    base = str(tmp_path_factory.mktemp("stream_soak"))
    df = generate_transcripts(spark, n_convs=300, seed=11)
    n_files = 104
    in_dir = _write_time_sliced(spark, base, cfg, df, n_files=n_files)
    state = os.path.join(base, "state")
    out = os.path.join(base, "out")

    meter = _MeteringCommitter()
    prev = fsutil.set_committer(meter)
    try:
        run_incremental_routed(
            spark, in_dir, cfg, state, os.path.join(base, "ck"), out,
            manifest_compact_threshold=8,
        )
    finally:
        fsutil.set_committer(prev)

    # one epoch upsert per batch; compaction rewrites are not batches
    marks = [t for f, _, t, how in meter.events if f == "epoch.jsonl" and how == "rmw"]
    assert len(marks) == n_files, f"expected {n_files} batches, saw {len(marks)}"

    # 1. manifest rewrite bytes stay flat: the largest epoch/metrics write
    # in the last quarter of the stream must not exceed 2x the largest in
    # the second quarter (a linear manifest is ~3x by then and climbing)
    for fname in ("epoch.jsonl", "metrics.jsonl"):
        sizes = [n for f, n, _, _ in meter.events if f == fname]
        # epoch upserts once per batch; metrics only on exporting rolls
        assert len(sizes) >= (100 if fname == "epoch.jsonl" else 20), (
            fname, len(sizes),
        )
        q = len(sizes) // 4
        early, late = max(sizes[q : 2 * q]), max(sizes[3 * q :])
        assert late <= 2.0 * early, (
            f"{fname} rewrite bytes grew with stream age: "
            f"Q2 max {early}B -> Q4 max {late}B"
        )

    # 2. per-batch wall time stays flat, compared like with like: the gap
    # between two batches' epoch upserts holds the first batch's roll, so
    # a gap with an export record (a roll's metrics upsert) inside it is an
    # exporting batch. The time-sliced input leaves most early batches
    # with nothing to export, so mixing the classes would weigh a roll
    # against an empty batch instead of measuring stream age. Within each
    # class (after 5 warm-up batches), its first 10 batches are compared
    # with its last 10 in stream order: the widest age gap the class
    # offers, with medians of 10 to absorb this VM's noise.
    exports = [
        t for f, _, t, how in meter.events if f == "metrics.jsonl" and how == "rmw"
    ]
    gaps = {True: [], False: []}
    for a, b in zip(marks[5:], marks[6:]):
        gaps[any(a < t < b for t in exports)].append(b - a)
    for exporting, series in gaps.items():
        kind = "exporting" if exporting else "non-exporting"
        assert len(series) >= 20, f"only {len(series)} {kind} batches"
        early_t, late_t = median(series[:10]), median(series[-10:])
        assert late_t <= 3.0 * early_t, (
            f"{kind} per-batch wall time grew with stream age: "
            f"median early {early_t:.3f}s -> late {late_t:.3f}s "
            f"({len(series)} batches)"
        )

    # 3. absolute bounds a leak would blow through: open epoch records stay
    # near the compaction threshold; open on-disk batch dirs stay bounded
    open_epoch = len(_read_epoch(state))
    assert _epoch_summary(state)["n_batches"] + open_epoch == n_files
    assert open_epoch <= 32, f"epoch manifest holds {open_epoch} open records"
    root = os.path.join(state, "spill")
    n_dirs = len(os.listdir(root)) if os.path.isdir(root) else 0
    assert n_dirs <= 40, f"spill holds {n_dirs} batch dirs (vacuum leak)"

    # the soak must still be CORRECT end-to-end
    flush_incremental(spark, cfg, state, out)
    got = _routed_histogram(spark.read.parquet(f"{out}/routed"))
    exp = _routed_histogram(run_pipeline(df, cfg).routed)
    assert got == exp
    rows_in, rows_out = incremental_conservation(spark, state, out)
    assert rows_in == rows_out == df.count()
