"""Structured Streaming variant of the engine (SURVEY.md §2.9).

The reference is a push-based streaming processor with processing-time
windows and a session-buffered trace map (window.go, trace_buffer.go).
Spark-first, the same semantics in two pieces:

 - `stream_transcripts`      : file-stream source (stand-in for Kafka /
   Iceberg streaming read; maxFilesPerTrigger bounds batch size the way
   maxOffsetsPerTrigger would).
 - `run_incremental_routed`  : the full streaming fan-out — the analog of
   the reference's hot path, rollover export (processor.go:317-347). Rows
   buffer per export bucket (spill, batch_id-keyed AND sub-partitioned by
   `window_bucket`, `export_bucket_windows` consecutive windows — the
   bucket `plans.pipeline._bucket_expr` defines for every mode); when the
   event-time high watermark passes a bucket's rollover horizon, that
   bucket's rows are routed with state read from ONLY its own partitions
   (through the batch plan's own routing step, `plans.pipeline.route_units`,
   over rows from the shared `plans.pipeline.prepare` chain, so either
   sampling unit — whole conversations or single turns, `cfg.trace_aware`
   — samples per window as batch does), written with
   per-bucket dynamic partition overwrite —
   idempotent under micro-batch replay — and its state is vacuumed.
   `flush_incremental` routes whatever buckets remain open at stream end.
   Each export commits at ONE point: routed write -> export record in
   `metrics.jsonl` (its Observation counts, which also mark its buckets
   exported) -> vacuum. Readers (`read_exported`, conservation, the
   straggler scan) resolve the marks through `_exported_buckets`.
   Union of all rollover exports == the batch pipeline's routed output on
   the same input, for inputs that respect the declared `max_conv_span_s`
   (when lateness + a span bound are on). A conversation that violates the
   bound only AFTER its bucket exported keeps its stale late
   classification — violators get best-effort dlq routing only when the
   violation is observable at export time.

The reference's inactivity-timeout trace buffer has deterministic
replacements here: `buffer_max_convs` and `max_conv_span_s` (config.py).

Continuous-run posture (the properties a months-long deployment needs,
asserted in tests/test_streaming_scale.py):
 - roll decisions come from a tiny driver-side epoch manifest (per-batch
   row counts, per-window membership, high watermark) — zero state-table
   reads per roll;
 - per-roll IO is O(closing buckets) via explicit leaf-directory reads,
   found by one listing of the open spill leafs (`_spill_leaves`);
   summed over the stream's life, spill is read exactly ONCE;
 - exported buckets' spill partitions are vacuumed, so state volume
   is O(open buckets) + the compact conv-start index;
 - lateness: with `late_tolerance_s` plus a declared `max_conv_span_s`,
   rollover fires mid-stream (horizon = window end + tolerance + span;
   global conversation starts come from the conv-start index; observed
   bound violators route to dlq/span_violation). With tolerance but no
   span bound, export defers to flush — same output, one pass later;
 - conservation/metrics come from Observations attached to the routed
   writes, persisted in a metrics manifest — never a re-read of output;
   per-roll manifest IO is O(open records): `exported.jsonl` is
   rewritten only when `compact_manifests` folds export records.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from trace_aware_reservoir_otel_spark import fsutil
from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.plans.pipeline import (
    _bucket_expr,
    _bucket_span_s,
    invalid_key,
    prepare,
)
from trace_aware_reservoir_otel_spark.schema import TRANSCRIPTS_SCHEMA
from trace_aware_reservoir_otel_spark.session import local_frame


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


# --- streaming routed fan-out (rollover export) ------------------------------


def _exported_buckets(state_dir: str) -> "dict":
    """bucket -> batch_id at whose roll it was exported (None = flush).
    An export's metrics record is its buckets' mark: the open export
    records in `metrics.jsonl` overlay the marks that `compact_manifests`
    moved to `exported.jsonl` when it folded their records."""
    out: "dict" = {}
    for rec in fsutil.read_jsonl(os.path.join(state_dir, "exported.jsonl")):
        out[rec["bucket"]] = rec.get("batch_id")
    for rec in fsutil.read_jsonl(_metrics_path(state_dir)):
        if rec.get("type") == "export":
            for b in rec["buckets"]:
                out[b] = rec["batch_id"]
    return out


def _record_export(
    state_dir: str, buckets: "list", batch_id: "int | None", counts: dict
) -> None:
    """The export's one commit point: an atomic upsert (fsutil) of its
    metrics record, which also marks its buckets exported. A crash before
    it leaves no mark, so restart re-routes the same buckets onto the same
    partitions (idempotent overwrite). `counts` carries rows_total,
    sampled_traces, overflow and dlq: the fields incremental_conservation
    and streaming_metrics read."""
    fsutil.upsert_jsonl_atomic(
        _metrics_path(state_dir),
        {"type": "export", "buckets": buckets, "batch_id": batch_id, **counts},
        key_fields=("type", "buckets"),
    )


def _epoch_path(state_dir: str) -> str:
    return os.path.join(state_dir, "epoch.jsonl")


def _read_epoch(state_dir: str) -> "list[dict]":
    """Per-micro-batch bookkeeping records, deduped keep-last by batch_id
    (a replayed batch upserts identical content). O(open batches) tiny
    records on the driver — the compact index that lets rollover decide
    which buckets close WITHOUT any Spark job over the state tables.
    Records whose buckets are all exported get folded into a summary
    record by `compact_manifests` (excluded here; see `_epoch_summary`)."""
    by_batch: "dict" = {}
    for rec in fsutil.read_jsonl(_epoch_path(state_dir)):
        if rec.get("type") == "summary":
            continue
        by_batch[rec["batch_id"]] = rec
    return [by_batch[b] for b in sorted(by_batch)]


_EPOCH_SUMMARY_ZERO = {
    "type": "summary",
    "n_batches": 0,
    "rows_in": 0,
    "max_ts_s": None,
    "bucket_span_s": None,
}


def _epoch_summary(state_dir: str) -> dict:
    """The fold of all compacted-away batch records (zeros when compaction
    has never run)."""
    for rec in fsutil.read_jsonl(_epoch_path(state_dir)):
        if rec.get("type") == "summary":
            return rec
    return dict(_EPOCH_SUMMARY_ZERO)


def compact_manifests(state_dir: str) -> "tuple[int, int]":
    """Fold closed-out records of the epoch and metrics manifests into one
    summary record each, so the per-batch atomic rewrite stays O(open
    records) over a months-long stream instead of O(all batches ever) —
    the same quadratic the convstart compaction kills for parquet partials,
    applied to the driver-side JSONL (fsutil rewrites the whole file per
    append; without folding, a 1-batch/s stream rewrites ~10^5 records
    per batch after a day).

    An epoch record folds when every bucket it touched is exported with a
    mark >= its batch_id (nothing can ever read it again: its leafs are
    vacuumed, it can contribute no stragglers, its buckets are in the
    done-set) — except the NEWEST record, kept as the replay fence (a
    replayed micro-batch is always the latest uncommitted one; folding it
    would double-count its rows when the replay re-upserts). Every
    mid-stream export record older than the fence folds into the metrics
    summary. Its buckets' marks are appended to `exported.jsonl` first,
    then `metrics.jsonl` is rewritten: a crash between the two leaves the
    record open and marked twice with the same batch id, which reads the
    same, and the next compaction folds it again. Returns
    (epoch_folded, metrics_folded)."""
    records = _read_epoch(state_dir)
    if not records:
        return (0, 0)
    done = _exported_buckets(state_dir)
    fence = records[-1]["batch_id"]

    def closed(rec: dict) -> bool:
        if rec["batch_id"] >= fence:
            return False
        counts = rec.get("bucket_counts", {})
        # the null-window bucket (-1) never exports mid-stream, but its
        # state discovery is filesystem-keyed (_spill_leaves), not
        # epoch-keyed, so a record holding only -1 plus exported buckets
        # is safe to fold — flush finds the -1 leafs by listing
        return all(
            k == "-1"
            or (
                int(k) in done
                and done[int(k)] is not None
                and rec["batch_id"] <= done[int(k)]
            )
            for k in counts
        )

    fold = [r for r in records if closed(r)]
    if fold:
        s = _epoch_summary(state_dir)
        s["n_batches"] += len(fold)
        s["rows_in"] += sum(r["rows_in"] for r in fold)
        ts = [r["max_ts_s"] for r in fold if r.get("max_ts_s") is not None]
        if s.get("max_ts_s") is not None:
            ts.append(s["max_ts_s"])
        s["max_ts_s"] = max(ts) if ts else None
        s["bucket_span_s"] = s.get("bucket_span_s") or records[0].get("bucket_span_s")
        folded_ids = {r["batch_id"] for r in fold}
        keep = [r for r in records if r["batch_id"] not in folded_ids]
        fsutil.write_jsonl_atomic(_epoch_path(state_dir), [s] + keep)

    summary = None
    keep_m: "list[dict]" = []
    fold_m: "list[dict]" = []
    for rec in fsutil.read_jsonl(_metrics_path(state_dir)):
        if rec.get("type") == "summary":
            summary = rec
        elif rec.get("type") == "export" and (
            rec["batch_id"] is not None and rec["batch_id"] < fence
        ):
            fold_m.append(rec)
        else:
            keep_m.append(rec)
    if fold_m:
        if summary is None:
            summary = {
                "type": "summary",
                "n_exports": 0,
                "rows_total": 0,
                "sampled_traces": 0,
                "overflow": 0,
                "dlq": 0,
            }
        for rec in fold_m:
            summary["n_exports"] += 1
            for k in ("rows_total", "sampled_traces", "overflow", "dlq"):
                summary[k] += rec.get(k, 0)
        fsutil.append_jsonl_atomic(
            os.path.join(state_dir, "exported.jsonl"),
            [
                {"bucket": b, "batch_id": r["batch_id"]}
                for r in fold_m
                for b in r["buckets"]
            ],
        )
        fsutil.write_jsonl_atomic(_metrics_path(state_dir), [summary] + keep_m)
    return (len(fold), len(fold_m))


def _metrics_path(state_dir: str) -> str:
    return os.path.join(state_dir, "metrics.jsonl")


def _bucket_counts_from_footers(batch_dir: str) -> "dict[str, int]":
    """Per-export-bucket row counts of a just-written spill partition,
    from the parquet FOOTERS (exact row counts; no Spark job, no data
    read). O(files in one micro-batch) driver work."""
    import glob as _glob

    import pyarrow.parquet as _pq

    counts: "dict[str, int]" = {}
    for leaf in _glob.glob(os.path.join(batch_dir, "window_bucket=*")):
        key = str(int(os.path.basename(leaf).split("=", 1)[1]))
        n = 0
        for p in _glob.glob(os.path.join(leaf, "*.parquet")):
            n += _pq.ParquetFile(p).metadata.num_rows
        if n:
            counts[key] = n
    return counts


def _spill_leaves(state_dir: str) -> "list[tuple[int, int, str]]":
    """Every spill leaf directory as (batch_id, bucket, path), from ONE
    directory listing — so leaf discovery works whether or not the writing
    batches' epoch records were already folded into the summary.
    O(open leafs): vacuum removes exported leafs and leafless batch dirs,
    so the listing never grows with stream age."""
    import glob as _glob

    out = []
    for p in _glob.glob(f"{state_dir}/spill/batch_id=*/window_bucket=*"):
        bdir, leaf = p.split(os.sep)[-2:]
        out.append((int(bdir.split("=", 1)[1]), int(leaf.split("=", 1)[1]), p))
    return out


def _spill_schema(spark: SparkSession, cfg: PipelineConfig) -> T.StructType:
    """The spill table's schema, partition columns included, from
    analysing the per-batch plan over an empty local frame. Reading spill
    with it skips parquet schema inference, a Spark job per read."""
    batch = prepare(local_frame(spark, [], TRANSCRIPTS_SCHEMA), cfg)
    return T.StructType(
        batch.schema.fields
        + [
            T.StructField("batch_id", T.LongType()),
            T.StructField("window_bucket", T.LongType()),
        ]
    )


def _read_state_buckets(
    spark: SparkSession,
    state_dir: str,
    buckets: "list",
    schema: T.StructType,
) -> "DataFrame | None":
    """Read ONLY the given export buckets' spill partitions, as an
    explicit list of leaf directories — reading a non-closing bucket's
    data is structurally impossible, not merely optimizer-pruned. basePath
    keeps the partition columns. Returns None when nothing exists (e.g.
    already vacuumed)."""
    want = set(buckets)
    paths = [p for _, b, p in _spill_leaves(state_dir) if b in want]
    if not paths:
        return None
    return (
        spark.read.schema(schema)
        .option("basePath", f"{state_dir}/spill")
        .parquet(*paths)
    )


def _write_convstart(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """Per-batch conversation-start partials of the batch's valid rows —
    the compact conv-level index (O(conversations), ~10^3x smaller than
    the fact) that lets a bucket-restricted rollover classify lateness
    against GLOBAL root-turn timestamps. min/max merges are idempotent, so
    batch replay and compaction cannot double-count."""
    cs = batch_df.filter(~invalid_key()).groupBy("conv_id").agg(
        F.min("turn_idx").alias("min_turn"),
        F.min(F.struct(F.col("turn_idx"), F.unix_timestamp("ts").alias("_t")))[
            "_t"
        ].alias("ts_of_min_turn"),
        F.min(F.unix_timestamp("ts")).alias("min_ts_s"),
        F.max(F.unix_timestamp("ts")).alias("max_ts_s"),
    )
    cs.write.mode("overwrite").parquet(f"{state_dir}/convstart/batch_id={batch_id}")


_CONVSTART_SCHEMA = (
    "conv_id string, min_turn int, ts_of_min_turn bigint, "
    "min_ts_s bigint, max_ts_s bigint"
)


def merged_conv_starts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Global per-conversation root-turn timestamps and ts extent, merged
    from the compacted snapshot (if any) plus the per-batch partials —
    with the SAME lexicographic-min rule the batch plan applies over its
    unit frame, so the two sources agree value-for-value. min/max merges
    are idempotent: a partial that was already folded into the snapshot
    (crash between compaction commit and partial delete, or batch replay)
    merges harmlessly."""
    from trace_aware_reservoir_otel_spark.plans import commit

    import glob as _glob

    parts: "list[DataFrame]" = []
    root = f"{state_dir}/convstart"
    # guard on actual *.parquet data files, not just batch_id= dirs: an
    # empty micro-batch's partial can hold zero data files (AQE may
    # coalesce an empty valid set to 0 partitions) and a bare-directory
    # read would die with UNABLE_TO_INFER_SCHEMA mid-roll
    if _glob.glob(os.path.join(root, "batch_id=*", "*.parquet")):
        parts.append(spark.read.parquet(root).drop("batch_id"))
    snap = f"{state_dir}/convstart_compacted"
    if commit.current_version(snap) is not None:
        parts.append(commit.read_committed(spark, snap))
    if not parts:
        return local_frame(spark, [], _CONVSTART_SCHEMA)
    cs = parts[0]
    for p in parts[1:]:
        cs = cs.unionByName(p)
    return cs.groupBy("conv_id").agg(
        F.min("min_turn").alias("min_turn"),
        F.min(F.struct(F.col("min_turn").alias("mt"), F.col("ts_of_min_turn").alias("t")))[
            "t"
        ].alias("ts_of_min_turn"),
        F.min("min_ts_s").alias("min_ts_s"),
        F.max("max_ts_s").alias("max_ts_s"),
    )


def compact_conv_starts(spark: SparkSession, state_dir: str) -> int:
    """Fold the per-batch conv-start partials into ONE snapshot table
    (atomic pointer commit, plans/commit.py) and delete the folded
    partials — keeps the index's file count O(1) over a months-long
    stream instead of one directory per micro-batch. Crash-safe at every
    step: the snapshot swap is atomic, and a partial surviving past its
    fold (or rewritten by a batch replay) merges idempotently. Returns
    the number of partial directories folded."""
    import shutil

    from trace_aware_reservoir_otel_spark.plans import commit

    root = f"{state_dir}/convstart"
    if not os.path.isdir(root):
        return 0
    batch_dirs = [d for d in os.listdir(root) if d.startswith("batch_id=")]
    if not batch_dirs:
        return 0
    snap = f"{state_dir}/convstart_compacted"
    commit.commit_write(merged_conv_starts(spark, state_dir), snap)
    commit.expire_snapshots(snap, keep_last=1)
    for d in batch_dirs:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return len(batch_dirs)


_BATCH_TASK_BYTES = 1 << 20  # parse/enrich amplify CPU ~10x per input byte


def _scale_batch(batch_df: DataFrame) -> DataFrame:
    """Adaptive micro-batch parallelism: a file-stream batch arrives with
    ~bytes/maxPartitionBytes scan partitions, so a LARGE batch parses and
    spills on a couple of cores (measured: an 1.8M-row batch wrote in
    7.4s on its 2 scan partitions vs 4.0s round-robined) while a small
    batch gains nothing from a shuffle and only fragments its spill files
    (measured: blanket repartition was a net loss). Size the target from
    the batch's actual input bytes — ~1 MB of raw input per task, capped
    at the session's parallelism — and repartition only when that exceeds
    the scan's own split count. A batch under 2 MB has target 1 and never
    repartitions, so it skips the split-count probe: an RDD conversion
    (measured 60-80 ms warm, 1.6 s on a session's first call)."""
    sc = batch_df.sparkSession.sparkContext
    try:
        total = 0
        for uri in batch_df.inputFiles():
            p = uri[len("file://"):] if uri.startswith("file://") else uri
            total += os.path.getsize(p)
    except OSError:  # non-local / inaccessible paths: leave as-is
        return batch_df
    target = min(sc.defaultParallelism, max(1, int(total // _BATCH_TASK_BYTES)))
    if target > 1 and target > batch_df.rdd.getNumPartitions():
        return batch_df.repartition(target)
    return batch_df


def _vacuum(state_dir: str, drop) -> None:
    """Delete the spill leafs for which `drop(batch_id, bucket)` holds,
    then every leafless batch dir: an empty micro-batch writes none, and
    without the sweep its dir would stay in every later listing."""
    import shutil

    live = set()
    for bid, b, p in _spill_leaves(state_dir):
        if drop(bid, b):
            shutil.rmtree(p)
        else:
            live.add(bid)
    root = os.path.join(state_dir, "spill")
    if not os.path.isdir(root):
        return
    for bdir in os.listdir(root):
        if bdir.startswith("batch_id=") and int(bdir.split("=", 1)[1]) not in live:
            shutil.rmtree(os.path.join(root, bdir), ignore_errors=True)


def _vacuum_exported(state_dir: str, buckets: "list") -> None:
    """Delete exported buckets' spill leaf directories. Runs AFTER the
    export record, so a crash in between leaves inert extra state
    (re-vacuumed by `_revacuum_done` on the next roll), never missing
    state. Spill written by LATER batches (stragglers) lands in new leaf
    dirs and survives until flush routes it to dlq."""
    gone = set(buckets)
    _vacuum(state_dir, lambda bid, b: b in gone)


def _revacuum_done(state_dir: str, done: "dict") -> None:
    """Re-vacuum spill leaf dirs of already-exported buckets written by
    batches at-or-before the bucket's export mark. A replayed micro-batch
    (roll ran, engine commit did not) rewrites its spill leafs for a bucket
    that was already exported+vacuumed; the straggler scan only looks at
    batch_id > mark, so without this sweep those dirs leak forever —
    correct counts, but state volume would quietly stop being O(open
    buckets). Runs on every roll, so it costs one listing of the open
    leafs, never a walk over all marks ever."""
    _vacuum(
        state_dir,
        lambda bid, b: done.get(b) is not None and bid <= done[b],
    )


def _route_buckets(
    spark: SparkSession,
    cfg: PipelineConfig,
    state_dir: str,
    out_dir: str,
    buckets: "list",
    batch_id: "int | None",
    spill_schema: T.StructType,
) -> None:
    """Route the given (closed) export buckets' spilled rows using state
    read from ONLY those buckets' partitions, and write them with
    per-bucket dynamic partition overwrite — replay-idempotent. Routing is
    the batch plan's own step, `plans.pipeline.route_units` (winners still
    per WINDOW — buckets are a layout unit, not a semantic one), so the
    paths cannot drift. With lateness and a `max_conv_span_s` bound on,
    conversations the conv-start index shows violating the bound are
    passed in as `route_units(violated=...)`: they route to
    dlq(span_violation), since their late classification is unreliable.

    Scale shape: per roll this reads the closing buckets' spill
    (explicit leaf paths, `spill_schema` so no inference job) plus, when
    lateness is on, the compact conv-start index — never the full state
    history. Summed over a stream's life the spill reads are exactly ONE
    pass over the input.
    Commit order: routed write -> export record (Observation counts; the
    buckets' mark) -> vacuum. A crash before the record re-routes the same
    buckets idempotently on restart; a crash after it leaves spill that
    the next roll's `_revacuum_done` removes."""
    from trace_aware_reservoir_otel_spark.operators.metrics import (
        SINKS,
        observed_counts,
        observed_routed,
    )
    from trace_aware_reservoir_otel_spark.plans.pipeline import (
        _unit_pre_aggregate,
        _units_from_pre,
        route_units,
    )

    if not buckets:
        return
    spill = _read_state_buckets(spark, state_dir, buckets, spill_schema)
    if spill is None:
        _record_export(
            state_dir, buckets, batch_id,
            dict.fromkeys(("rows_total", *SINKS), 0),
        )
        return
    rows = spill.drop("batch_id", "window_bucket")
    valid = rows.filter(~invalid_key())
    persisted: "list[DataFrame]" = []
    starts = None
    if cfg.late_tolerance_s is not None:
        starts = merged_conv_starts(spark, state_dir)
    # the closing buckets' units aggregate straight from their spilled rows
    # (the batch plan's own unit aggregate over the same rows), so no
    # per-batch partial has to be written and merged back
    units, late_units = _units_from_pre(
        _unit_pre_aggregate(valid, cfg), valid, cfg, persisted, conv_starts=starts
    )
    violated = None
    if starts is not None and cfg.max_conv_span_s is not None:
        violators = starts.filter(
            F.col("max_ts_s") - F.col("min_ts_s") > F.lit(float(cfg.max_conv_span_s))
        ).select("conv_id", F.lit(True).alias("_span_viol"))
        rows = rows.join(F.broadcast(violators), on="conv_id", how="left")
        violated = F.col("_span_viol")
    routed = route_units(rows, units, late_units, cfg, violated=violated)
    observed, obs = observed_routed(routed.drop("_span_viol"))
    observed.withColumn("window_bucket", _bucket_expr(cfg)).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "window_bucket"
    ).parquet(f"{out_dir}/routed")
    for df in persisted:
        df.unpersist()
    _record_export(state_dir, buckets, batch_id, observed_counts(obs))
    _vacuum_exported(state_dir, buckets)


def _roll(
    spark: SparkSession,
    cfg: PipelineConfig,
    state_dir: str,
    out_dir: str,
    batch_id: int,
    watermark_s: float,
    spill_schema: T.StructType,
) -> None:
    """Close and export every bucket whose last window's end passed the
    event-time high watermark minus the required slack. Decisions come
    from the epoch manifest alone — zero Spark jobs, zero state-table
    reads, regardless of how many buckets were already exported.

    Slack: `watermark_s` (disorder tolerance) plus, when lateness is on,
    late_tolerance_s + max_conv_span_s — past that horizon no compliant
    conversation's root-turn ts can still change (a future row would have
    to sit > max_conv_span from a turn already seen in the bucket, i.e.
    be a span violator), so late classification is final at export."""
    epoch = _read_epoch(state_dir)
    if not epoch:
        return
    summary_ts = _epoch_summary(state_dir).get("max_ts_s")
    hwm = max(
        (
            r["max_ts_s"]
            for r in epoch + [{"max_ts_s": summary_ts}]
            if r.get("max_ts_s") is not None
        ),
        default=None,
    )
    if hwm is None:
        return
    slack = watermark_s
    if cfg.late_tolerance_s is not None:
        slack += float(cfg.late_tolerance_s) + float(cfg.max_conv_span_s)
    horizon = float(hwm) - slack
    span = _bucket_span_s(cfg)
    done = _exported_buckets(state_dir)
    _revacuum_done(state_dir, done)
    seen = {
        int(k)
        for rec in epoch
        for k in rec.get("bucket_counts", {})
        if k != "-1"
    }
    closed = sorted(
        b for b in seen if (b + 1) * span <= horizon and b not in done
    )
    _route_buckets(spark, cfg, state_dir, out_dir, closed, batch_id, spill_schema)


def run_incremental_routed(
    spark: SparkSession,
    input_dir: str,
    cfg: PipelineConfig,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    watermark_s: float = 0.0,
    convstart_compact_threshold: int = 64,
    manifest_compact_threshold: int = 64,
) -> None:
    """Streaming fan-out with rollover export (processor.go:317-347).

    Per micro-batch: parsed/enriched/windowed rows spill to batch_id-keyed
    paths sub-partitioned by EXPORT BUCKET (groups of
    `cfg.export_bucket_windows` consecutive windows — bounds file counts
    against sparse-window long tails); per-bucket row counts + the
    event-time high watermark go to the epoch manifest (one tiny record
    per batch). Buckets past the rollover horizon are routed reading only
    their own spill partitions (units aggregate from those rows) and their
    spill is vacuumed after the export record — state volume is O(open
    buckets), per-roll IO is O(closing buckets), and the stream's total
    spill reads are ONE pass over the input however long it runs.

    Lateness: with late_tolerance_s set and max_conv_span_s declared,
    rollover still fires mid-stream (horizon extended by
    tolerance + span; global conversation starts come from the compact
    conv-start index; bound violators -> dlq/span_violation). With
    tolerance set but NO span bound, conversation starts can move
    arbitrarily late, so export defers to `flush_incremental` — same
    output, one pass later."""
    stream = stream_transcripts(spark, input_dir, max_files_per_trigger)
    rolling = cfg.late_tolerance_s is None or cfg.max_conv_span_s is not None
    spill_schema = _spill_schema(spark, cfg)
    span = _bucket_span_s(cfg)
    saved = next(iter(_read_epoch(state_dir)), None)
    if saved is None and _epoch_summary(state_dir).get("bucket_span_s") is not None:
        saved = _epoch_summary(state_dir)
    if saved is not None and saved.get("bucket_span_s") != span:
        raise ValueError(
            f"state at {state_dir} uses bucket_span_s="
            f"{saved.get('bucket_span_s')}; resume with the same "
            f"window_duration_s * export_bucket_windows (got {span}) or use "
            "a fresh state_dir"
        )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        # ONE parse/enrich pass over the batch input, with the epoch stats
        # (row total + event-time high watermark) observed ON the spill
        # write itself and the per-bucket row counts read from the written
        # parquet FOOTERS driver-side — the former separate
        # groupBy(bucket).collect() job re-read and re-aggregated the
        # whole batch purely for bookkeeping (guide §1: don't compute
        # things twice). Units are aggregated at roll time from the
        # closing buckets' spill; only the conv-start index (lateness on)
        # re-reads this batch's spill.
        from pyspark.sql import Observation

        prepared = prepare(_scale_batch(batch_df), cfg)
        spill_dir = f"{state_dir}/spill/batch_id={batch_id}"
        obs = Observation(f"spill_{batch_id}")
        spill = prepared.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.max(F.unix_timestamp("ts")).alias("mx"),
        ).withColumn("window_bucket", _bucket_expr(cfg))
        spill.write.mode("overwrite").partitionBy("window_bucket").parquet(
            spill_dir
        )
        vals = obs.get
        n = int(vals["n"] or 0)
        counts = _bucket_counts_from_footers(spill_dir)
        if sum(counts.values()) != n:
            # recording footer counts that miss rows would drop them from
            # every later roll while conservation still balanced
            raise RuntimeError(
                f"micro-batch {batch_id}: the spill write observed {n} rows "
                f"but the parquet footers under {spill_dir} count "
                f"{sum(counts.values())} ({counts})"
            )
        mx = vals["mx"] if n > 0 else None
        if counts and cfg.late_tolerance_s is not None:
            # the written schema is known: no inference job
            _write_convstart(
                spark.read.schema(spill.schema).parquet(spill_dir), batch_id, state_dir
            )
            root = f"{state_dir}/convstart"
            n_partials = sum(
                1 for d in os.listdir(root) if d.startswith("batch_id=")
            )
            if n_partials > convstart_compact_threshold:
                compact_conv_starts(spark, state_dir)
        fsutil.upsert_jsonl_atomic(
            _epoch_path(state_dir),
            {
                "batch_id": int(batch_id),
                "rows_in": int(sum(counts.values())),
                "max_ts_s": int(mx) if mx is not None else None,
                "bucket_span_s": span,
                "bucket_counts": counts,
            },
            key_fields=("batch_id",),
        )
        if rolling:
            _roll(
                spark, cfg, state_dir, out_dir, batch_id, watermark_s,
                spill_schema,
            )
        # fold closed-out epoch/metrics records into their summaries so the
        # per-batch manifest rewrite stays O(open records) over the
        # stream's life (exported buckets' records drain as they close)
        if len(_read_epoch(state_dir)) > manifest_compact_threshold:
            compact_manifests(state_dir)

    q = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def flush_incremental(
    spark: SparkSession, cfg: PipelineConfig, state_dir: str, out_dir: str
) -> None:
    """Route every export bucket not yet exported (open buckets at stream
    end, plus the null-window rows of invalid-ts input).

    Stragglers — rows that arrived AFTER their bucket was already exported
    (watermark-contract violators) — cannot be merged into the closed
    bucket's output without re-exporting it (the reference silently rolls
    them into the next window, window.go:75-105 — its documented quirk).
    They route explicitly to dlq(reason='late_arrival') under
    `routed_stragglers` (overwritten wholesale at flush, so a repeated
    flush stays idempotent), their count is recorded from the write's
    Observation, and they balance `incremental_conservation`."""
    from pyspark.sql import Observation

    spill_schema = _spill_schema(spark, cfg)
    done = _exported_buckets(state_dir)
    # the leaf listing, not the epoch: a folded record's unexported state
    # (the null-window bucket -1) is found on disk all the same
    leaves = _spill_leaves(state_dir)
    remaining = sorted({b for _, b, _ in leaves if b not in done})
    _route_buckets(spark, cfg, state_dir, out_dir, remaining, None, spill_schema)

    # stragglers: exported buckets' spill leaf dirs written by batches
    # AFTER the export (vacuum at export time removed everything earlier)
    strag_paths = [
        p for bid, b, p in leaves if done.get(b) is not None and bid > done[b]
    ]
    if not strag_paths:
        return
    stragglers = (
        spark.read.schema(spill_schema)
        .option("basePath", f"{state_dir}/spill")
        .parquet(*strag_paths)
    )
    obs = Observation("stragglers")
    (
        stragglers.observe(obs, F.count(F.lit(1)).alias("n"))
        .withColumn("sink", F.lit("dlq"))
        .withColumn("reason", F.lit("late_arrival"))
        .drop("batch_id")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/routed_stragglers")
    )
    fsutil.upsert_jsonl_atomic(
        _metrics_path(state_dir),
        {"type": "stragglers", "rows_total": int(obs.get["n"])},
        key_fields=("type",),
    )


def incremental_conservation(
    spark: SparkSession, state_dir: str, out_dir: str
) -> "tuple[int, int]":
    """(rows_in, rows_routed) — equal iff every row was routed exactly
    once (the metrics gate, metrics.go:47-142). rows_in sums the epoch
    manifest; rows_routed sums `rows_total` over every metrics record
    (summary, exports, stragglers), whose counts came from Observations
    attached to the routed writes — actual output-side evidence with ZERO
    re-reads of written parquet. Each bucket has exactly one export
    record, since the record is the bucket's mark."""
    epoch = _read_epoch(state_dir)
    rows_in = _epoch_summary(state_dir)["rows_in"] + sum(r["rows_in"] for r in epoch)
    rows_out = sum(r["rows_total"] for r in fsutil.read_jsonl(_metrics_path(state_dir)))
    return rows_in, rows_out


def streaming_metrics(spark: SparkSession, state_dir: str) -> DataFrame:
    """Streaming-side gauges (S5 parity with plans/state.state_metrics):
    per-sink routed totals, epochs processed, buckets exported — all from
    the manifests' Observation-backed records, no state re-reads."""
    epoch = _read_epoch(state_dir)
    summary = _epoch_summary(state_dir)
    sinks = {"sampled_traces": 0, "overflow": 0, "dlq": 0}
    for rec in fsutil.read_jsonl(_metrics_path(state_dir)):
        if rec.get("type") == "stragglers":
            sinks["dlq"] += rec["rows_total"]
        else:
            for s in sinks:
                sinks[s] += rec.get(s, 0)
    rows = [
        ("epochs", float(summary["n_batches"] + len(epoch))),
        ("rows_in", float(summary["rows_in"] + sum(r["rows_in"] for r in epoch))),
        ("buckets_exported", float(len(_exported_buckets(state_dir)))),
        *[(f"rows_{s}", float(n)) for s, n in sinks.items()],
    ]
    return local_frame(spark, rows, "metric string, value double")


def read_exported(spark: SparkSession, state_dir: str, out_dir: str) -> DataFrame:
    """Manifest-gated reader for the streaming routed output — the
    consumer-side half of the commit story (the Iceberg pattern: readers
    resolve the manifest, never glob the directory). Only bucket
    partitions with an export mark are read, so a consumer can never
    observe a bucket whose write is still in flight (the export record
    lands after the write) or was abandoned by a crash. Explicit leaf paths with
    basePath keep the window_bucket partition column."""
    done = _exported_buckets(state_dir)
    base = f"{out_dir}/routed"
    paths = [
        p
        for b in done
        for p in [f"{base}/window_bucket={int(b)}"]
        if os.path.isdir(p)
    ]
    if not paths:
        raise FileNotFoundError(
            f"no exported bucket partitions under {base} (marks: {len(done)})"
        )
    return spark.read.option("basePath", base).parquet(*paths)
