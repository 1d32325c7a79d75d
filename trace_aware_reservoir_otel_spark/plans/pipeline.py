"""The flagship end-to-end plan: parse -> enrich -> window -> sample -> route.

One declarative DataFrame chain per BASELINE.json north_star — the Spark
re-expression of the reference's hot path ConsumeTraces
(processor.go:239-347, SURVEY.md §3.1):

    transcripts
      -> parse tool-call fields   (F7, vectorized regex — JVM codegen)
      -> broadcast enrich dims    (§2.3 — zero fact-side shuffle)
      -> tumbling window          (W1 — pure column arithmetic)
      -> unit-level session state (A3: conv starts, late units)
      -> conv units + capacity    (L2)
      -> A-Res reservoir winners  (A1, two-phase salted merge; whole
                                   conversations or single turns)
      -> ONE routed frame with a `sink` column:
           dlq(invalid_key) | dlq(late) | overflow(capacity)
           | sampled_traces | overflow(unsampled)

Scale architecture — THE FACT TABLE IS NEVER SHUFFLED:
 - all conversation-level state (first-turn timestamp, per-(window,conv)
   row counts/weights) is computed by *aggregating* the fact down to
   (window, conv) units: map-side partial aggregation absorbs
   mega-conversation skew, and only the 10^-3-smaller unit relation is
   ever exchanged;
 - lateness (ts more than late_tolerance_s before the conversation's first
   turn) is decided per UNIT: with window_width << tolerance a unit is
   entirely late / entirely on-time unless the cutoff falls inside its
   window — only those rare boundary units get a row-level check, via a
   broadcast of (window, conv, cutoff);
 - sampling winners (<= k per window) and capacity evictions are
   conv-level sets broadcast back to the fact;
 - so the final routed pass is scan -> broadcast joins -> column
   expressions: shuffle-free, whole-stage-codegen, skew-immune.

Routing produces a SINGLE frame so all three sinks materialize in ONE
write partitioned by (sink, window_bucket) instead of three scans; a
bucket is `export_bucket_windows` consecutive windows (`_bucket_expr`),
the layout the checkpoint finalize writes too. The routed plan runs once
per `write_sinks`: the metrics table is aggregated from the committed
routed snapshot (three columns), not from a second run of the plan.

Every mode shares this module's steps: `prepare` (window -> parse ->
enrich) is the one prepare chain, `invalid_key` the one key predicate,
and `route_units` the one routing step (capacity, winners, the broadcast
winner join and `apply_routing`'s rule table) for both sampling units,
whole conversations and single turns (`cfg.trace_aware`). The batch
plan, the checkpoint finalize (plans/state.py) and the streaming
rollover (streaming/pipeline.py) each call it once. Priorities of either
unit come from the reservoir's one derivation,
`operators.reservoir.with_priorities`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window as W, functions as F, types as T

from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.functions.parse import with_parsed_fields
from trace_aware_reservoir_otel_spark.operators.enrich import enrich
from trace_aware_reservoir_otel_spark.operators.reservoir import topk_units, with_priorities
from trace_aware_reservoir_otel_spark.operators.windows import with_tumbling_window


@dataclass
class PipelineResult:
    routed: DataFrame  # unified frame: enriched cols + window + sink + reason
    sampled_traces: DataFrame
    overflow: DataFrame
    dlq: DataFrame
    metrics: DataFrame  # in-plan; write_sinks aggregates the committed snapshot
    cfg: PipelineConfig  # the run's config: write_sinks derives the bucket from it
    persisted: "list[DataFrame] | None" = None  # unit frames cached by the plan

    def unpersist(self) -> None:
        """Release the plan's cached unit frames. Call after the last action
        on the result (write_sinks does this automatically) so long-lived
        sessions running many pipelines don't accumulate cached partitions."""
        for df in self.persisted or []:
            df.unpersist()
        self.persisted = []


def _bucket_span_s(cfg: PipelineConfig) -> int:
    return int(cfg.window_duration_s * cfg.export_bucket_windows)


def _bucket_expr(cfg: PipelineConfig):
    """window_start_s -> export-bucket id column (-1 holds null-ts rows).

    Buckets group `export_bucket_windows` consecutive windows: the routed
    table's partition in every mode (batch, checkpoint, streaming), and
    the streaming unit of state partitioning, rollover export and vacuum.
    This bounds file counts when windows are numerous and tiny: one
    directory per window and sink means 129 routed files for the 13.3k
    rows of perfbench's batch input (10 with buckets), and a
    mega-conversation's sparse multi-day tail would create one directory
    per window per micro-batch."""
    span = _bucket_span_s(cfg)
    ws = F.col("window_start_s")
    return F.when(ws.isNull(), F.lit(-1)).otherwise(
        F.floor(ws / F.lit(span)).cast("long")
    )


def invalid_key():
    """Rows that key no (conv, turn) unit: they route to dlq(invalid_key),
    and `~invalid_key()` is the valid-row filter of every mode."""
    return F.col("conv_id").isNull() | F.col("turn_idx").isNull()


def prepare(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    dim_role: "DataFrame | None" = None,
    dim_tool: "DataFrame | None" = None,
) -> DataFrame:
    """The one prepare chain of every mode (batch, checkpoint units and
    finalize, streaming micro-batches and the spill schema): tumbling
    window -> parsed tool-call fields -> broadcast role/tool enrichment."""
    windowed = with_tumbling_window(transcripts, "ts", cfg.window_duration_s)
    return enrich(with_parsed_fields(windowed), dim_role, dim_tool)


def unit_source(
    transcripts: DataFrame, prepared: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """The frame unit aggregation reads. It reads only (conv, turn, ts[,
    weight]), so it gets the raw windowed frame: the scan prunes to those
    columns and parse/enrich never run in the aggregation branch, unless
    the sampling weight is itself a parsed or enriched column of
    `prepared`."""
    raw = with_tumbling_window(transcripts, "ts", cfg.window_duration_s)
    if cfg.weight_col is not None and cfg.weight_col not in raw.columns:
        return prepared
    return raw


def _unit_pre_aggregate(valid: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The associative per-(window, conv) partial aggregate — the ONLY
    reduction of the fact table the engine ever makes. Every consumer
    (batch plan, checkpoint state, streaming rolls) computes this same
    frame; partials over any disjoint cover of the input merge back
    with `_merge_pre` (sum/min/max/min-struct are associative and
    replay-order-free)."""
    weighted = cfg.weight_col is not None
    aggs = [
        F.count(F.lit(1)).alias("n_all"),
        F.min(F.unix_timestamp("ts")).alias("min_ts_s"),
        F.max(F.unix_timestamp("ts")).alias("max_ts_s"),
        F.min("turn_idx").alias("min_turn"),
        # min-of-struct, not min_by: deterministic on duplicate minimal
        # turn_idx values (ties broken by ts), preserving bit-reproducibility
        F.min(F.struct(F.col("turn_idx"), F.unix_timestamp("ts").alias("_ts_s")))[
            "_ts_s"
        ].alias("ts_of_min_turn"),
    ]
    if weighted:
        aggs.append(F.max(F.col(cfg.weight_col).cast("double")).alias("_w"))
    return valid.groupBy("window_start_s", "conv_id").agg(*aggs)


def _merge_pre(pre: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Merge `_unit_pre_aggregate` partials from overlapping covers of the
    input (checkpoint slices) back into the exact
    unit frame an uninterrupted aggregation would produce."""
    weighted = cfg.weight_col is not None
    aggs = [
        F.sum("n_all").cast("long").alias("n_all"),
        F.min("min_ts_s").alias("min_ts_s"),
        F.max("max_ts_s").alias("max_ts_s"),
        F.min("min_turn").alias("min_turn"),
        F.min(F.struct(F.col("min_turn"), F.col("ts_of_min_turn").alias("_t")))[
            "_t"
        ].alias("ts_of_min_turn"),
    ]
    if weighted:
        aggs.append(F.max("_w").alias("_w"))
    return pre.groupBy("window_start_s", "conv_id").agg(*aggs)


def _units_from_pre(
    pre: DataFrame,
    valid: DataFrame,
    cfg: PipelineConfig,
    persisted_out: "list[DataFrame] | None" = None,
    conv_starts: "DataFrame | None" = None,
) -> "tuple[DataFrame, DataFrame | None]":
    """Classify lateness over a unit pre-aggregate and return the sampling
    population. `valid` is consulted ONLY for the (rare) boundary units'
    row-level fix-up, via a broadcast semi-join.

    `conv_starts` (conv_id, min_turn, ts_of_min_turn), when given, supplies
    GLOBAL conversation starts from an external index — the streaming
    rollover path uses it so a window-restricted `pre` (only the closing
    windows' partitions are ever read) still classifies lateness against
    the same root-turn timestamps the batch plan derives. Merge rule is
    identical (lexicographic min over (min_turn, ts)), so the two sources
    agree value-for-value.

    Returns (units, late_units):
      units      : on-time (window, conv, n_turns[, _w]) with priorities —
                   the reservoir's sampling population;
      late_units : (window, conv, status, cutoff_s) for all-late/boundary
                   units, or None when late detection is disabled.
    """
    weighted = cfg.weight_col is not None
    unit_cols = [
        "window_start_s",
        "conv_id",
        F.col("n_all").cast("long").alias("n_turns"),
        *(["_w"] if weighted else []),
    ]
    late_units = None
    if cfg.late_tolerance_s is None:
        units = pre.select(*unit_cols)
    else:
        tolerance = F.lit(float(cfg.late_tolerance_s))
        if conv_starts is not None:
            # external conv-level index: a unit-level equi-join on conv_id
            # (starts are O(conversations) — never fact rows); coalesce is
            # a never-hit-by-construction fallback to the unit's own root ts
            starts = conv_starts.select(
                "conv_id", F.col("ts_of_min_turn").alias("_conv_start")
            )
            conv_start = F.coalesce(F.col("_conv_start"), F.col("ts_of_min_turn"))
            flagged = (
                pre.join(starts, on="conv_id", how="left")
                .withColumn("cutoff_s", conv_start - tolerance)
                .drop("_conv_start")
            )
        else:
            # conversation start = ts of the globally-minimal turn_idx (root
            # turn), via a window function over the unit frame partitioned
            # by conv — ONE unit-level shuffle instead of a self-aggregation
            # + sort-merge join; never re-scans or shuffles fact rows
            conv_start = F.min(F.struct("min_turn", "ts_of_min_turn")).over(
                W.partitionBy("conv_id")
            )["ts_of_min_turn"]
            flagged = pre.withColumn("cutoff_s", conv_start - tolerance)
        # unit-level frame, persisted: both the sampling population and the
        # late-unit set derive from it — one fact scan total
        flagged = flagged.persist()
        if persisted_out is not None:
            persisted_out.append(flagged)
        status = (
            F.when(F.col("max_ts_s") < F.col("cutoff_s"), F.lit("all_late"))
            .when(F.col("min_ts_s") >= F.col("cutoff_s"), F.lit("on_time"))
            .otherwise(F.lit("boundary"))
        )
        flagged = flagged.withColumn("status", status)
        late_units = flagged.filter(F.col("status") != "on_time").select(
            "window_start_s", "conv_id", "status", "cutoff_s"
        )
        # boundary units: exact on-time stats from the (tiny) affected row set
        boundary = late_units.filter(F.col("status") == "boundary")
        fix_aggs = [F.count(F.lit(1)).cast("long").alias("n_turns")]
        if weighted:
            fix_aggs.append(F.max(F.col(cfg.weight_col).cast("double")).alias("_w"))
        boundary_fix = (
            valid.join(
                F.broadcast(boundary.select("window_start_s", "conv_id", "cutoff_s")),
                on=["window_start_s", "conv_id"],
                how="inner",
            )
            .filter(F.unix_timestamp("ts") >= F.col("cutoff_s"))
            .groupBy("window_start_s", "conv_id")
            .agg(*fix_aggs)
        )
        units = (
            flagged.filter(F.col("status") == "on_time")
            .select(*unit_cols)
            .unionByName(boundary_fix)
        )
    return with_priorities(
        units, cfg.seed, ["conv_id"], "window_start_s",
        "_w" if weighted else None, cfg.hash_impl,
    ), late_units


def capacity_split_units(
    units: DataFrame, cfg: PipelineConfig
) -> "tuple[DataFrame, DataFrame | None]":
    """Deterministic per-window capacity: conversations beyond the cap are
    evicted whole (replacement for LRU, trace_buffer.go:107-110). Returns
    (kept_units, evicted_keys-or-None)."""
    if cfg.buffer_max_convs is None:
        return units, None
    wr = W.partitionBy("window_start_s").orderBy(
        F.col("n_turns").desc(), F.col("conv_id").asc()
    )
    ranked = units.withColumn("_cap_rn", F.row_number().over(wr))
    evicted_keys = ranked.filter(F.col("_cap_rn") > cfg.buffer_max_convs).select(
        "window_start_s", "conv_id"
    )
    kept_units = ranked.filter(F.col("_cap_rn") <= cfg.buffer_max_convs).drop(
        "_cap_rn"
    )
    return kept_units, evicted_keys


def route_units(
    rows: DataFrame,
    units: DataFrame,
    late_units: "DataFrame | None",
    cfg: PipelineConfig,
    expired=None,
    violated=None,
) -> DataFrame:
    """The routing step of every mode and both sampling units — the batch
    plan, the checkpoint finalize and the streaming rollover each call it
    once. Capacity split over the conversation `units`, per-window
    reservoir winners, a broadcast `_won` join onto the fact `rows`, then
    `apply_routing`. Returns the routed frame.

    Winners are whole conversations (`cfg.trace_aware`, the kept `units`)
    or single turns. A turn's population is the rows the rule table would
    sample — `apply_routing` with every `_won` set, kept where it says
    sampled_traces — so late, evicted, expired, violating and invalid rows
    never take a slot; duplicate (conv, turn) rows make one unit with the
    max weight, as a conversation's turns make one conversation unit.

    One step serves all three modes because A-Res priorities are pure
    functions of (seed, window, unit): any path over any cover of the
    input derives the same winner set. `expired` and `violated` are passed
    through to `apply_routing`."""
    kept_units, evicted_keys = capacity_split_units(units, cfg)
    keys, population, unit = ["window_start_s", "conv_id"], kept_units, "conv_id"
    if not cfg.trace_aware:
        keys, unit = keys + ["turn_idx"], "_unit"
        weighted = cfg.weight_col is not None
        eligible = apply_routing(
            rows.withColumn("_won", F.lit(True)),
            late_units, evicted_keys, expired, violated,
        ).filter(F.col("sink") == "sampled_traces")
        aggs = [F.count(F.lit(1)).alias("n_turns")]
        if weighted:
            aggs.append(F.max(F.col(cfg.weight_col).cast("double")).alias("_w"))
        population = with_priorities(
            eligible.groupBy(*keys).agg(*aggs), cfg.seed, keys[1:],
            "window_start_s", "_w" if weighted else None, cfg.hash_impl,
        ).withColumn("_unit", F.concat_ws("#", *keys[1:]))
    winners = topk_units(
        population, cfg.size_k, "window_start_s", unit,
        cfg.salt_buckets, priority=cfg.priority,
    )
    win_keys = winners.select(*keys).withColumn("_won", F.lit(True))
    routed = rows.join(F.broadcast(win_keys), on=keys, how="left")
    return apply_routing(routed, late_units, evicted_keys, expired, violated)


def build_routed(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    dim_role: "DataFrame | None" = None,
    dim_tool: "DataFrame | None" = None,
    persisted_out: "list[DataFrame] | None" = None,
) -> DataFrame:
    """The batch plan's single routed frame: `prepare`, the unit
    pre-aggregate and late classification, then one `route_units` call,
    for either sampling unit. If `persisted_out` is given, frames this
    plan persists are appended so the caller can unpersist them after its
    final action."""
    windowed = prepare(transcripts, cfg, dim_role, dim_tool)
    valid = unit_source(transcripts, windowed, cfg).filter(~invalid_key())

    units, late_units = _units_from_pre(
        _unit_pre_aggregate(valid, cfg), valid, cfg, persisted_out
    )
    # units/late_units are conv-level (orders of magnitude smaller than the
    # fact) and are consumed by several broadcast subplans — persist so the
    # unit pre-aggregation scans the fact exactly once. Bounded memory:
    # O(#conversation-windows), never O(rows).
    units = units.persist()
    if persisted_out is not None:
        persisted_out.append(units)
    if late_units is not None:
        late_units = late_units.persist()
        if persisted_out is not None:
            persisted_out.append(late_units)
    return route_units(windowed, units, late_units, cfg)


def apply_routing(
    routed: DataFrame,
    late_units: "DataFrame | None" = None,
    evicted_keys: "DataFrame | None" = None,
    expired=None,
    violated=None,
) -> DataFrame:
    """The routing rule table: turn a fact frame carrying a `_won` flag
    into the single sink/reason-labelled frame. Every mode reaches it
    through `route_units`, so the modes cannot drift.

    Rules, first match wins:
      invalid_key()      -> dlq(invalid_key)
      violated           -> dlq(span_violation)
      expired            -> overflow(window_expired)
      late (late_units)  -> dlq(late)
      evicted_keys       -> overflow(capacity)
      _won               -> sampled_traces
      otherwise          -> overflow(unsampled)

    Where the reference drops rows silently, a rule routes them to a sink
    instead, so |sampled_traces| + |overflow| + |dlq| == |input| per run
    (the per-sink counter gate of metrics.go:47-142, checked on the sink
    Observation by `operators.metrics.conservation_ok`):
     - invalid ids, filtered silently by the reference
       (trace_buffer.go:80-85), route to dlq(invalid_key);
     - LRU eviction, which dropped whole traces (trace_buffer.go:201-240),
       becomes a deterministic capacity rank (the most active
       conversations stay, the analog of "recently updated stays"), and
       evicted conversations route whole to overflow(capacity);
     - late spans, rolled silently into the next window
       (window.go:75-105), are turns more than `late_tolerance_s` before
       their conversation's first turn and route to dlq(late);
     - unsampled rows, discarded by the reference at rollover, route to
       overflow(unsampled).

    `violated` (optional Column) marks conversations observed to break the
    declared `max_conv_span_s` bound: their late classification is
    unreliable, so the streaming rollover routes them out explicitly.
    `expired` (optional Column) marks rows of windows already closed at
    restore time (W3, processor.go:155-174): they route to overflow instead
    of being re-exported as sampled — the explicit replacement for the
    reference's silent stale-state discard, without its restore
    double-count (§2.11.3). A rule whose input is None never matches.

    All decision inputs are conv-level sets broadcast by hint, or pure
    column predicates, so the fact is never shuffled here. The hint on the
    late-unit set is unconditional: the unit frame is persisted but not yet
    materialized when this plan is planned, so without it the planner sizes
    the set from its cached plan (an aggregate over the fact scan) and
    plans a fact-side shuffle join once the input is large. The late set
    scales with the late-CONVERSATION count; at 40M conversations with 2%
    late, its driver-side broadcast build was measured at ~17s."""
    late = None
    if late_units is not None:
        routed = routed.join(
            F.broadcast(late_units.withColumnRenamed("status", "_late_status")),
            on=["window_start_s", "conv_id"],
            how="left",
        )
        late = F.coalesce(
            (F.col("_late_status") == "all_late")
            | (
                (F.col("_late_status") == "boundary")
                & (F.unix_timestamp("ts") < F.col("cutoff_s"))
            ),
            F.lit(False),
        )

    evicted = None
    if evicted_keys is not None:
        routed = routed.join(
            F.broadcast(evicted_keys.withColumn("_evicted", F.lit(True))),
            on=["window_start_s", "conv_id"],
            how="left",
        )
        evicted = F.col("_evicted")

    invalid = invalid_key()
    sink = F.when(invalid, F.lit("dlq"))
    reason = F.when(invalid, F.lit("invalid_key"))
    for cond, s, r in (
        (violated, "dlq", "span_violation"),
        (expired, "overflow", "window_expired"),
        (late, "dlq", "late"),
        (evicted, "overflow", "capacity"),
        (F.col("_won"), "sampled_traces", None),
    ):
        if cond is not None:
            sink = sink.when(cond, F.lit(s))
            reason = reason.when(cond, F.lit(r).cast("string"))
    return (
        routed.withColumn("sink", sink.otherwise(F.lit("overflow")))
        .withColumn("reason", reason.otherwise(F.lit("unsampled")))
        .drop("_won", "_evicted", "_late_status", "cutoff_s")
    )


def _metrics_frame(routed: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The metrics table of a routed frame: rows and distinct conversations
    per (window, sink), dlq rows under a NULL window. Reads only
    window_start_s, sink and conv_id."""
    return (
        routed.groupBy(
            F.when(F.col("sink") == "dlq", F.lit(None).cast("long"))
            .otherwise(F.col("window_start_s"))
            .alias("window_start_s"),
            "sink",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows"),
            F.countDistinct("conv_id").cast("long").alias("convs"),
        )
        .select(
            "window_start_s", "sink", "rows", "convs", F.lit(cfg.run_id).alias("run_id")
        )
    )


def routed_result(
    routed: DataFrame,
    cfg: PipelineConfig,
    raw_cols: "list[str]",
    persisted: "list[DataFrame] | None" = None,
) -> PipelineResult:
    """Wrap a routed frame as the `PipelineResult` `write_sinks` takes —
    the batch plan's and the checkpoint finalize's, so both commit the same
    routed and metrics tables. `raw_cols` are the input columns the dlq
    frame keeps."""
    sampled = routed.filter(F.col("sink") == "sampled_traces").drop("sink", "reason")
    overflow = routed.filter(F.col("sink") == "overflow").drop("sink")
    dlq = routed.filter(F.col("sink") == "dlq").select(*raw_cols, "reason")

    # Stable (conv_id, turn_idx) ordering for the equality gate is applied
    # at comparison/write time — a global orderBy here would be a full sort
    # of the sampled fact table at 100 TB.
    return PipelineResult(
        routed=routed,
        sampled_traces=sampled.sortWithinPartitions("conv_id", "turn_idx"),
        overflow=overflow,
        dlq=dlq,
        metrics=_metrics_frame(routed, cfg),
        cfg=cfg,
        persisted=persisted,
    )


def run_pipeline(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    dim_role: "DataFrame | None" = None,
    dim_tool: "DataFrame | None" = None,
) -> PipelineResult:
    persisted: "list[DataFrame]" = []
    routed = build_routed(transcripts, cfg, dim_role, dim_tool, persisted)
    return routed_result(routed, cfg, transcripts.columns, persisted)


def commit_routed(routed: DataFrame, cfg: PipelineConfig, out_dir: str) -> int:
    """Commit a routed frame as `{out_dir}/routed` (plans/commit.py),
    partitioned by (sink, window_bucket): the one routed-table layout of
    the batch and checkpoint paths. Returns the committed version."""
    from trace_aware_reservoir_otel_spark.plans import commit

    return commit.commit_write(
        routed.withColumn("window_bucket", _bucket_expr(cfg)),
        f"{out_dir}/routed",
        partition_by=["sink", "window_bucket"],
    )


def write_sinks(result: PipelineResult, out_dir: str) -> "dict[str, int]":
    """Single-pass fan-out: the routed frame is written ONCE through
    `commit_routed`, partitioned by (sink, window_bucket) with the bucket
    of the run's config (`result.cfg`) — Iceberg-shaped layout, one scan
    of the fact, the same layout plans/state.finalize writes.

    Per-sink counts come from the Observation API attached to the write
    itself (operators/metrics.py) — zero extra passes (analog of the
    reference's counter gate, metrics.go:47-142). The metrics table is
    aggregated from the routed snapshot just committed, read by its
    version with a known schema: three of its columns, not a second run
    of the routed plan (transcript scan, enrich joins, winner and
    eviction shuffles).

    Both tables land through the snapshot-commit protocol
    (plans/commit.py): the write goes to a fresh immutable version
    directory and becomes visible only at the atomic pointer swap, so a
    killed write never leaves a half-overwritten table readable. Read the
    results with plans.commit.read_committed."""
    from trace_aware_reservoir_otel_spark.operators.metrics import (
        observed_routed,
        sink_counts,
    )
    from trace_aware_reservoir_otel_spark.plans import commit

    observed, obs = observed_routed(result.routed)
    version = commit_routed(observed, result.cfg, out_dir)
    counts = sink_counts(obs)
    result.unpersist()
    # commit_routed's layout: the routed columns plus the bucket partition
    schema = T.StructType(
        result.routed.schema.fields + [T.StructField("window_bucket", T.LongType())]
    )
    snapshot = commit.read_version(
        result.routed.sparkSession, f"{out_dir}/routed", version, schema
    )
    mobs = Observation("taro_metrics_rows")
    commit.commit_write(
        _metrics_frame(snapshot, result.cfg).observe(
            mobs, F.count(F.lit(1)).alias("n")
        ),
        f"{out_dir}/metrics",
    )
    counts["metrics"] = int(mobs.get["n"])
    return counts
