"""Batch-resumable checkpoint state (S3/S4: checkpoint.go:82-375, SURVEY §7.6).

The reference snapshots (window state + reservoir rows) to BadgerDB every
10s and restores on start (with the quirks catalogued in SURVEY §2.11.3-4).
The Spark-native analog:

 - work is split into SCAN-PRUNABLE time-slice UNITS: unit i covers a
   contiguous event-time range aligned to window boundaries, so each unit's
   job filters `ts` with a range predicate that pushes down to the parquet
   scan (row-group/file pruning). Total rows read across ALL units is ONE
   logical pass over the input — independent of n_units (round 1 used
   conv-hash units, whose pmod predicate prunes nothing and re-scanned the
   input once per unit; this replaces that). This is the batch analog of
   the reference's incremental checkpointing (checkpoint.go:82-211), which
   also consumes the stream once, in time order;
 - per unit, the engine writes the `_unit_pre_aggregate` partials for its
   slice — the per-(window, conv) associative reduction the batch plan
   computes anyway, over the same raw windowed rows
   (`plans.pipeline.unit_source`: no parse or enrich). Because slices
   align to window boundaries, every (window, conv) unit lands wholly in
   one slice. State
   volume is O(conversation-windows), ~10^3x smaller than the fact and
   identical to the unit frame the uninterrupted plan persists;
 - because A-Res priorities are pure functions of (seed, window, conv),
   the winner set derived from the union of per-unit partials equals the
   winner set of an uninterrupted run — merge is associative and
   replay-order-free (this is what fixes the reference's restore
   double-count, §2.11.3, by construction);
 - resume = read manifest, skip done units, compute the rest, finalize:
   merge partials -> late classification (global conv starts) -> one
   routed pass -> sinks + metrics. The routed pass is the batch plan's own
   routing step, `plans.pipeline.route_units` (capacity, winners, the
   broadcast winner join and `apply_routing`), over rows from the shared
   `plans.pipeline.prepare` chain, so checkpoint runs sample whole
   conversations or single turns (`cfg.trace_aware`) exactly as batch
   does: the state is the conversation-unit partials either way, and
   turn winners derive from the finalize's rows. Lateness cannot be
   decided inside a slice (a conversation's first turn may live in
   another slice), so it moves to finalize, where the merged unit frame
   has the global picture;
 - W3 window-expiry guard (processor.go:155-174, checkpoint.go:294-299):
   `finalize(expire_before_s=...)` drops state whose window already closed
   before the restore horizon — those windows' rows route to
   overflow(reason='window_expired') instead of being re-exported as
   sampled. Explicit routing replaces the reference's silent discard and
   cannot double-count.

Fact scans per complete run: 1 (sliced pre-aggregation, summed over units)
+ 1 routed pass + (only when late tolerance is on AND boundary units
exist) 1 boundary fix-up — independent of n_units.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from trace_aware_reservoir_otel_spark import fsutil
from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.operators.metrics import (
    observed_routed,
    sink_counts,
)
from trace_aware_reservoir_otel_spark.plans import commit
from trace_aware_reservoir_otel_spark.session import local_frame
from trace_aware_reservoir_otel_spark.plans.pipeline import (
    _merge_pre,
    _unit_pre_aggregate,
    _units_from_pre,
    commit_routed,
    invalid_key,
    prepare,
    route_units,
    unit_source,
)


def _manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "manifest.jsonl")


def read_manifest(state_dir: str) -> "set[int]":
    return {
        rec["unit"]
        for rec in fsutil.read_jsonl(_manifest_path(state_dir))
        if rec.get("status") == "done"
    }


def read_bounds(state_dir: str) -> "dict | None":
    for rec in fsutil.read_jsonl(_manifest_path(state_dir)):
        if rec.get("type") == "bounds":
            return rec
    return None


def _append_manifest(state_dir: str, rec: dict) -> None:
    # write-temp + atomic rename (fsutil): a crash mid-append leaves the
    # previous manifest complete, so restart re-runs the unit idempotently
    fsutil.append_jsonl_atomic(_manifest_path(state_dir), [rec])


def unit_bounds(
    transcripts: DataFrame, cfg: PipelineConfig, n_units: int
) -> "list[tuple[int, int]]":
    """Window-aligned, contiguous epoch-second slices [lo, hi) covering the
    input's event-time span. One narrow min/max scan of `ts`; the result is
    persisted in the manifest so resume never rescans."""
    row = transcripts.agg(
        F.min(F.unix_timestamp("ts")).alias("lo"),
        F.max(F.unix_timestamp("ts")).alias("hi"),
    ).first()
    if row is None or row["lo"] is None:
        return [(0, 0)] * n_units
    w = int(cfg.window_duration_s)
    lo = (int(row["lo"]) // w) * w
    hi = (int(row["hi"]) // w) * w + w
    n_windows = (hi - lo) // w
    per = max(1, -(-n_windows // n_units))  # ceil
    out = []
    for i in range(n_units):
        s = lo + i * per * w
        e = min(lo + (i + 1) * per * w, hi)
        out.append((min(s, hi), max(min(s, hi), e)))
    out[-1] = (out[-1][0], max(out[-1][1], hi))
    return out


def _ts_lit(epoch_s: int):
    return F.lit(datetime.fromtimestamp(epoch_s, tz=timezone.utc))


def slice_predicate(lo_s: int, hi_s: int, include_null_ts: bool = False):
    """Plain ts-range predicate as TIMESTAMP literals — the shape Spark
    pushes down to the parquet scan (row-group min/max pruning). Never wrap
    ts in a function here: unix_timestamp(ts) >= x does NOT push down."""
    pred = (F.col("ts") >= _ts_lit(lo_s)) & (F.col("ts") < _ts_lit(hi_s))
    if include_null_ts:
        pred = pred | F.col("ts").isNull()
    return pred


def process_unit(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    state_dir: str,
    unit: int,
    bounds: "tuple[int, int]",
) -> int:
    """Compute and persist one time-slice's unit partials. Returns the
    number of input rows this unit actually scanned (post ts-range filter
    — the range predicate reaches the parquet scan, so summed over all
    units this is ONE pass over the input, however many units there are).

    Rows with NULL ts go to unit 0 (they cannot be sliced by time; the
    routed pass classifies them as invalid/windowless downstream)."""
    lo, hi = bounds
    pred = slice_predicate(lo, hi, include_null_ts=(unit == 0))
    sliced = transcripts.filter(pred & ~invalid_key())
    obs = Observation(f"unit_{unit}_rows")
    observed = sliced.observe(obs, F.count(F.lit(1)).alias("n"))
    rows = unit_source(observed, prepare(observed, cfg), cfg)
    pre = _unit_pre_aggregate(rows, cfg)
    out = pre.withColumn("unit_id", F.lit(unit).cast("int")).withColumn(
        "run_id", F.lit(cfg.run_id)
    )
    sobs = Observation(f"unit_{unit}_state_rows")
    out = out.observe(sobs, F.count(F.lit(1)).alias("n"))
    out.write.mode("overwrite").parquet(f"{state_dir}/units/unit={unit}")
    n = int(obs.get["n"])
    _append_manifest(
        state_dir,
        {
            "unit": unit,
            "status": "done",
            "run_id": cfg.run_id,
            "lo_s": lo,
            "hi_s": hi,
            "rows_scanned": n,
            # state rows are known at write time (Observation on the write)
            # so gauges never re-count the persisted parquet
            "state_rows": int(sobs.get["n"]),
            "done_at": time.time(),
        },
    )
    return n


def finalize(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    state_dir: str,
    out_dir: str,
    expire_before_s: "int | None" = None,
) -> "dict[str, int]":
    """Merge all units' partials into global winners and run the single
    routed pass through the shared routing step (`route_units`). Pure
    function of the state table — replay order of units never matters.
    Sink counts come from the Observation attached to the write (no
    re-read of written output)."""
    pre = _merge_pre(
        spark.read.parquet(f"{state_dir}/units").drop("unit_id", "run_id"), cfg
    )

    prepared = prepare(transcripts, cfg)
    persisted: "list[DataFrame]" = []
    units, late_units = _units_from_pre(
        pre, prepared.filter(~invalid_key()), cfg, persisted
    )

    expired = None
    if expire_before_s is not None:
        w = int(cfg.window_duration_s)
        expired = F.col("window_start_s") + F.lit(w) <= F.lit(int(expire_before_s))
        units = units.filter(~expired)
        if late_units is not None:
            late_units = late_units.filter(~expired)

    routed = route_units(prepared, units, late_units, cfg, expired=expired)
    observed, obs = observed_routed(routed)
    # snapshot-commit (plans/commit.py): the routed table becomes readable
    # only at the atomic pointer swap — a kill mid-write leaves readers on
    # the previous complete snapshot, never a half-overwritten partition
    commit_routed(observed, cfg, out_dir)
    counts = sink_counts(obs)
    commit.commit_write(
        local_frame(
            spark,
            [(s, n, cfg.run_id) for s, n in counts.items()],
            "sink string, rows long, run_id string",
        ),
        f"{out_dir}/metrics",
    )
    for df in persisted:
        df.unpersist()
    return counts


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    state_dir: str,
    out_dir: str,
    n_units: int = 8,
    fail_after_unit: "int | None" = None,
    expire_before_s: "int | None" = None,
) -> "dict[str, int] | None":
    """Process all pending units (skipping manifest-complete ones), then
    finalize. `fail_after_unit` simulates a mid-run crash for tests."""
    os.makedirs(state_dir, exist_ok=True)
    saved = read_bounds(state_dir)
    if saved is not None and saved["n_units"] != n_units:
        # done-unit ids only mean anything under the slicing that produced
        # them; silently re-slicing would double-count or skip rows
        raise ValueError(
            f"state at {state_dir} was sliced with n_units="
            f"{saved['n_units']}; resume with that value (got {n_units}) "
            "or use a fresh state_dir"
        )
    if saved is not None:
        bounds = [tuple(b) for b in saved["bounds"]]
        # the slicing only covers the event-time span it was computed on:
        # rows outside it at resume (input grew between crash and resume)
        # would never be pre-aggregated into any unit and their windows
        # would silently lose their winners — refuse, like the n_units guard
        row = transcripts.agg(
            F.min(F.unix_timestamp("ts")).alias("lo"),
            F.max(F.unix_timestamp("ts")).alias("hi"),
        ).first()
        lo_all, hi_all = bounds[0][0], bounds[-1][1]
        if row is not None and row["lo"] is not None and (
            row["lo"] < lo_all or row["hi"] >= hi_all
        ):
            raise ValueError(
                f"input ts span [{row['lo']}, {row['hi']}] exceeds the "
                f"bounds [{lo_all}, {hi_all}) this state was sliced on; "
                "input changed between crash and resume — use a fresh "
                "state_dir (or re-slice) so the new rows are sampled"
            )
    else:
        bounds = unit_bounds(transcripts, cfg, n_units)
        _append_manifest(
            state_dir,
            {
                "type": "bounds",
                "n_units": n_units,
                "bounds": bounds,
                "window_s": cfg.window_duration_s,
                "run_id": cfg.run_id,
            },
        )
    done = read_manifest(state_dir)
    for unit in range(n_units):
        if unit in done:
            continue
        process_unit(transcripts, cfg, state_dir, unit, bounds[unit])
        if fail_after_unit is not None and unit >= fail_after_unit:
            return None  # simulated crash (manifest already has this unit)
    return finalize(spark, transcripts, cfg, state_dir, out_dir, expire_before_s)


def state_metrics(spark: SparkSession, state_dir: str) -> DataFrame:
    """State-health gauges — analogs of the reference's checkpoint age /
    db size / compaction counters (metrics.go:96-145):

      state_manifest_age_s : seconds since the last manifest append
      state_bytes          : on-disk size of the state DATA files (parquet
                             only — _SUCCESS/.crc markers excluded, so the
                             gauge tracks compaction pressure, not marker
                             noise)
      state_files          : parquet data-file count
      state_rows           : unit rows persisted (from the manifest's
                             write-time Observation counts — never
                             re-counts the parquet)
      units_done           : manifest-complete units
    """
    path = _manifest_path(state_dir)
    age = time.time() - os.path.getmtime(path) if os.path.exists(path) else -1.0
    n_bytes = 0
    n_files = 0
    for root, _dirs, files in os.walk(state_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, fn))
    n_rows = sum(
        rec.get("state_rows", 0)
        for rec in fsutil.read_jsonl(path)
        if rec.get("status") == "done"
    )
    rows = [
        ("state_manifest_age_s", float(age)),
        ("state_bytes", float(n_bytes)),
        ("state_files", float(n_files)),
        ("state_rows", float(n_rows)),
        ("units_done", float(len(read_manifest(state_dir)))),
    ]
    return local_frame(spark, rows, "metric string, value double")
