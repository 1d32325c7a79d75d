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
 - per unit, the engine commits the `_unit_pre_aggregate` partials for its
   slice — the per-(window, conv) associative reduction the batch plan
   computes anyway, over the same raw windowed rows
   (`plans.pipeline.unit_source`: no parse or enrich). Because slices
   align to window boundaries, every (window, conv) unit lands wholly in
   one slice. State
   volume is O(conversation-windows), ~10^3x smaller than the fact and
   identical to the unit frame the uninterrupted plan persists;
 - each unit has ONE commit point: `plans/commit.commit_append` of its
   partials to `{state_dir}/units`, keyed by the unit's record (unit,
   rows_scanned, state_rows; unit 0's also holds n_units and the slice
   bounds). The pointer swap publishes the partials and the record
   together, and `commit.committed_keys` is the only done-unit list, so
   no side manifest can disagree with the data. Partials merge in any
   order, so each commit is a pure append;
 - because A-Res priorities are pure functions of (seed, window, conv),
   the winner set derived from the union of per-unit partials equals the
   winner set of an uninterrupted run — merge is associative and
   replay-order-free (this is what fixes the reference's restore
   double-count, §2.11.3, by construction);
 - resume = read the committed keys, skip done units, compute the rest,
   expire the snapshots a crashed attempt left, finalize: merge partials
   -> late classification (global conv starts) -> one routed pass ->
   `plans/pipeline.write_sinks`, so the routed and metrics tables and the
   returned counts are the batch plan's. The routed pass is the batch plan's own
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

from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.plans import commit
from trace_aware_reservoir_otel_spark.session import local_frame
from trace_aware_reservoir_otel_spark.plans.pipeline import (
    _merge_pre,
    _unit_pre_aggregate,
    _units_from_pre,
    invalid_key,
    prepare,
    route_units,
    routed_result,
    unit_source,
    write_sinks,
)


def _units_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "units")


def unit_bounds(
    transcripts: DataFrame, cfg: PipelineConfig, n_units: int
) -> "list[tuple[int, int]]":
    """Window-aligned, contiguous epoch-second slices [lo, hi) covering the
    input's event-time span. One narrow min/max scan of `ts`; the result
    rides in unit 0's commit record so resume never rescans."""
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
    bounds: "list[tuple[int, int]]",
) -> int:
    """Compute and commit the unit partials of time slice `bounds[unit]`
    (`bounds` is the run's whole slicing, which unit 0's commit record
    keeps). Returns the
    number of input rows this unit actually scanned (post ts-range filter
    — the range predicate reaches the parquet scan, so summed over all
    units this is ONE pass over the input, however many units there are).

    Rows with NULL ts go to unit 0 (they cannot be sliced by time; the
    routed pass classifies them as invalid/windowless downstream)."""
    lo, hi = bounds[unit]
    pred = slice_predicate(lo, hi, include_null_ts=(unit == 0))
    sliced = transcripts.filter(pred & ~invalid_key())
    obs = Observation(f"unit_{unit}_rows")
    observed = sliced.observe(obs, F.count(F.lit(1)).alias("n"))
    rows = unit_source(observed, prepare(observed, cfg), cfg)
    sobs = Observation(f"unit_{unit}_state_rows")
    out = _unit_pre_aggregate(rows, cfg).observe(sobs, F.count(F.lit(1)).alias("n"))

    def record() -> dict:
        # state rows are known at write time (Observation on the write)
        # so gauges never re-count the persisted parquet
        rec = {
            "unit": unit,
            "rows_scanned": int(obs.get["n"]),
            "state_rows": int(sobs.get["n"]),
        }
        if unit == 0:
            rec.update(n_units=len(bounds), bounds=bounds)
        return rec

    commit.commit_append(out, _units_dir(state_dir), key=record)
    return int(obs.get["n"])


def finalize(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    state_dir: str,
    out_dir: str,
    expire_before_s: "int | None" = None,
) -> "dict[str, int]":
    """Merge all units' partials into global winners and run the single
    routed pass through the shared routing step (`route_units`), then
    commit it with the batch plan's `write_sinks`. Pure function of the
    state table — replay order of units never matters. Returns
    `write_sinks`' counts: rows per sink from the Observation attached to
    the write, plus the metrics table's row count."""
    prepared = prepare(transcripts, cfg)
    # a surplus slice commits a version dir with no parquet file: read
    # with the partials' schema, derived from the plan that wrote them
    schema = _unit_pre_aggregate(unit_source(transcripts, prepared, cfg), cfg).schema
    pre = _merge_pre(
        commit.read_committed(spark, _units_dir(state_dir), schema), cfg
    )
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
    return write_sinks(
        routed_result(routed, cfg, transcripts.columns, persisted), out_dir
    )


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
    """Process all pending units (skipping committed ones), then
    finalize. `fail_after_unit` simulates a mid-run crash for tests."""
    units_dir = _units_dir(state_dir)
    done = commit.committed_keys(units_dir)
    if done:
        saved = done[0]  # unit 0 commits first and records the slicing
        if saved["n_units"] != n_units:
            # done-unit ids only mean anything under the slicing that
            # produced them; silently re-slicing would double-count or
            # skip rows
            raise ValueError(
                f"state at {state_dir} was sliced with n_units="
                f"{saved['n_units']}; resume with that value (got {n_units}) "
                "or use a fresh state_dir"
            )
        bounds = saved["bounds"]
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
    done_units = {rec["unit"] for rec in done}
    for unit in range(n_units):
        if unit in done_units:
            continue
        process_unit(transcripts, cfg, state_dir, unit, bounds)
        if fail_after_unit is not None and unit >= fail_after_unit:
            return None  # simulated crash (this unit is committed)
    # every unit is committed: reclaim the version dirs of crashed
    # attempts, which no pointer names (checkpoint GC)
    commit.expire_snapshots(units_dir)
    return finalize(spark, transcripts, cfg, state_dir, out_dir, expire_before_s)


def state_metrics(spark: SparkSession, state_dir: str) -> DataFrame:
    """State-health gauges — analogs of the reference's checkpoint age /
    db size / compaction counters (metrics.go:96-145):

      state_manifest_age_s : seconds since the last unit commit (the
                             units table's pointer swap)
      state_bytes          : on-disk size of the committed state DATA
                             files (parquet in the units table's current
                             version dirs only — _SUCCESS/.crc markers
                             and uncommitted dirs excluded, so the gauge
                             tracks compaction pressure, not noise)
      state_files          : committed parquet data-file count
      state_rows           : unit rows persisted (from the commit records'
                             write-time Observation counts — never
                             re-counts the parquet)
      units_done           : committed units
    """
    units_dir = _units_dir(state_dir)
    pointer = commit._pointer_path(units_dir)
    age = time.time() - os.path.getmtime(pointer) if os.path.exists(pointer) else -1.0
    n_bytes = 0
    n_files = 0
    # committed version dirs only: a crashed attempt's dangling dir and
    # files left by older state layouts are not state
    for vdir in commit._current_dirs(units_dir):
        for root, _dirs, files in os.walk(vdir):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, fn))
    done = commit.committed_keys(units_dir)
    rows = [
        ("state_manifest_age_s", float(age)),
        ("state_bytes", float(n_bytes)),
        ("state_files", float(n_files)),
        ("state_rows", float(sum(rec["state_rows"] for rec in done))),
        ("units_done", float(len(done))),
    ]
    return local_frame(spark, rows, "metric string, value double")
