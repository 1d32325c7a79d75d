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
      -> A-Res reservoir winners  (A1, two-phase salted merge)
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
the layout the checkpoint finalize writes too.

Assumption to re-check at extreme scale: the late/boundary unit set is
small enough to broadcast. NOTE it scales with the late-CONVERSATION
COUNT (late rate x #conversations), not just the rate: measured at 234M
turns / 40M conversations / 2% late convs, the 800k-unit late set makes
the driver-side broadcast build a ~17s serial constant that caps
thread-scaling (8->32 raw efficiency 0.25 vs 0.36 with the knob below),
while at bounded late counts the broadcast is strictly better (zero fact
shuffle). For workloads whose late-conv count is data-proportional, set
cfg.extra["late_strategy"]="shuffle": the late join loses its broadcast
hint, and AQE picks broadcast at runtime when the set is actually small
— at genuinely large sets the one extra fact exchange beats a
hundreds-of-MB broadcast build.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window as W, functions as F

from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.functions.hashing import pbig
from trace_aware_reservoir_otel_spark.functions.parse import (
    with_parsed_fields,
    with_parsed_fields_pandas,
)
from trace_aware_reservoir_otel_spark.operators.enrich import enrich
from trace_aware_reservoir_otel_spark.operators.reservoir import sample_rows, topk_units
from trace_aware_reservoir_otel_spark.operators.windows import with_tumbling_window


@dataclass
class PipelineResult:
    routed: DataFrame  # unified frame: enriched cols + window + sink + reason
    sampled_traces: DataFrame
    overflow: DataFrame
    dlq: DataFrame
    metrics: DataFrame
    winners: DataFrame  # conv-level (window, conv_id, priorities) for state
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


def _with_unit_priorities(units: DataFrame, cfg: PipelineConfig, weighted: bool) -> DataFrame:
    from trace_aware_reservoir_otel_spark.functions.hashing import (
        TWO_POW_52,
        fast_prio_int,
    )

    if cfg.hash_impl == "xxh":
        with_int = units.withColumn(
            "prio_int", fast_prio_int(cfg.seed, "window_start_s", "conv_id")
        )
    else:
        prio_key = F.concat(
            F.col("window_start_s").cast("string"), F.lit(":"), F.col("conv_id")
        )
        with_int = units.withColumn("prio_int", pbig(prio_key, cfg.seed))
    # derive the A-Res key from the already-computed integer priority
    # (same u = (prio+0.5)/2^52 as hashing.u01 — one md5 per unit, not two)
    u = (F.col("prio_int").cast("double") + F.lit(0.5)) / F.lit(TWO_POW_52)
    ares = -F.log(u)
    if weighted:
        ares = ares / F.col("_w").cast("double")
    return with_int.withColumn("ares_key", ares)


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


def _build_units_and_late(
    valid: DataFrame,
    cfg: PipelineConfig,
    persisted_out: "list[DataFrame] | None" = None,
) -> "tuple[DataFrame, DataFrame | None]":
    """Aggregate the fact to (window, conv) units and classify lateness."""
    pre = _unit_pre_aggregate(valid, cfg)
    return _units_from_pre(pre, valid, cfg, persisted_out)


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
    if cfg.late_tolerance_s is None:
        units = pre.select(
            "window_start_s",
            "conv_id",
            F.col("n_all").cast("long").alias("n_turns"),
            *(["_w"] if weighted else []),
        )
        return _with_unit_priorities(units, cfg, weighted), None

    if conv_starts is not None:
        # external conv-level index: a unit-level equi-join on conv_id
        # (starts are O(conversations) — never fact rows); coalesce is a
        # never-hit-by-construction fallback to the unit's own root ts
        starts = conv_starts.select(
            "conv_id", F.col("ts_of_min_turn").alias("_conv_start")
        )
        joined = pre.join(starts, on="conv_id", how="left")
        conv_start = F.coalesce(F.col("_conv_start"), F.col("ts_of_min_turn"))
        flagged = (
            joined.withColumn(
                "cutoff_s", conv_start - F.lit(float(cfg.late_tolerance_s))
            )
            .drop("_conv_start")
            .persist()
        )
        if persisted_out is not None:
            persisted_out.append(flagged)
        return _classify_flagged(flagged, valid, cfg, weighted)

    # conversation start = ts of the globally-minimal turn_idx (root turn),
    # via a window function over the unit frame partitioned by conv — ONE
    # unit-level shuffle instead of a self-aggregation + sort-merge join;
    # never re-scans or shuffles fact rows
    wconv = W.partitionBy("conv_id")
    conv_start = F.min(F.struct("min_turn", "ts_of_min_turn")).over(wconv)[
        "ts_of_min_turn"
    ]
    # unit-level frame, persisted: both the sampling population and the
    # late-unit set derive from it — one fact scan total
    flagged = (
        pre.withColumn(
            "cutoff_s", conv_start - F.lit(float(cfg.late_tolerance_s))
        )
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(flagged)
    return _classify_flagged(flagged, valid, cfg, weighted)


def _classify_flagged(
    flagged: DataFrame, valid: DataFrame, cfg: PipelineConfig, weighted: bool
) -> "tuple[DataFrame, DataFrame | None]":
    """Shared tail of _units_from_pre: per-unit late status from the
    cutoff, with the row-level boundary fix-up."""
    status = (
        F.when(F.col("max_ts_s") < F.col("cutoff_s"), F.lit("all_late"))
        .when(F.col("min_ts_s") >= F.col("cutoff_s"), F.lit("on_time"))
        .otherwise(F.lit("boundary"))
    )
    flagged = flagged.withColumn("status", status)

    late_units = flagged.filter(F.col("status") != "on_time").select(
        "window_start_s", "conv_id", "status", "cutoff_s"
    )

    on_units = flagged.filter(F.col("status") == "on_time").select(
        "window_start_s",
        "conv_id",
        F.col("n_all").cast("long").alias("n_turns"),
        *(["_w"] if weighted else []),
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
    units = on_units.unionByName(boundary_fix)
    return _with_unit_priorities(units, cfg, weighted), late_units


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


def capacity_and_winners(
    units: DataFrame, cfg: PipelineConfig
) -> "tuple[DataFrame, DataFrame | None, DataFrame]":
    """Capacity split + conv-level reservoir winners — the shared
    winner-derivation used by the batch plan, checkpoint finalize, and
    streaming rollover (pure functions of (seed, window, conv): any path
    over any input cover derives the same winner set)."""
    kept_units, evicted_keys = capacity_split_units(units, cfg)
    winners = topk_units(
        kept_units, cfg.size_k, "window_start_s", "conv_id",
        cfg.salt_buckets, cfg.method, cfg.priority,
    )
    return kept_units, evicted_keys, winners


def build_routed(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    dim_role: "DataFrame | None" = None,
    dim_tool: "DataFrame | None" = None,
    use_pandas_parse: bool = False,
    persisted_out: "list[DataFrame] | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """Returns (routed, winners): the single routed frame plus the
    conv-level winner set (for state checkpointing). If `persisted_out` is
    given, frames this plan persists are appended so the caller can
    unpersist them after its final action."""
    parse = with_parsed_fields_pandas if use_pandas_parse else with_parsed_fields
    windowed_raw = with_tumbling_window(transcripts, "ts", cfg.window_duration_s)
    windowed = enrich(
        parse(windowed_raw), dim_role, dim_tool
    )

    invalid = F.col("conv_id").isNull() | F.col("turn_idx").isNull()

    # unit aggregation reads only (conv, turn, ts[, weight]) — feed it the
    # raw frame so the scan prunes to those columns and the parse/enrich
    # work never runs in the aggregation branch (unless the sampling
    # weight itself is a parsed/enriched column)
    unit_src = windowed if (
        cfg.weight_col is not None and cfg.weight_col not in windowed_raw.columns
    ) else windowed_raw
    valid = unit_src.filter(~invalid)

    units, late_units = _build_units_and_late(valid, cfg, persisted_out)
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

    kept_units, evicted_keys = capacity_split_units(units, cfg)

    if cfg.trace_aware:
        winners = topk_units(
            kept_units, cfg.size_k, "window_start_s", "conv_id",
            cfg.salt_buckets, cfg.method, cfg.priority,
        )
        win_keys = winners.select("window_start_s", "conv_id").withColumn(
            "_won", F.lit(True)
        )
        routed = windowed.join(
            F.broadcast(win_keys), on=["window_start_s", "conv_id"], how="left"
        )
    else:
        # simple mode: unit IS the row; late detection must precede sampling
        on_time_rows = windowed.filter(~invalid)
        if late_units is not None:
            on_time_rows = _filter_late_rows(on_time_rows, late_units)
        winners = sample_rows(
            on_time_rows, cfg.size_k, ["conv_id", "turn_idx"], "window_start_s",
            cfg.weight_col, cfg.seed, cfg.salt_buckets, cfg.method, cfg.priority,
        )
        win_keys = winners.select(
            "window_start_s", "conv_id", "turn_idx"
        ).withColumn("_won", F.lit(True))
        routed = windowed.join(
            F.broadcast(win_keys),
            on=["window_start_s", "conv_id", "turn_idx"],
            how="left",
        )
        winners = winners.select(
            "window_start_s", "conv_id", "ares_key", "prio_int",
            F.lit(1).cast("long").alias("n_turns"),
        )

    routed = apply_routing(
        routed,
        invalid,
        late_units,
        evicted_keys,
        broadcast_late=cfg.extra.get("late_strategy") != "shuffle",
    )
    return routed, winners


def apply_routing(
    routed: DataFrame,
    invalid,
    late_units: "DataFrame | None" = None,
    evicted_keys: "DataFrame | None" = None,
    expired=None,
    broadcast_late: bool = True,
) -> DataFrame:
    """Shared routing tail: turn a fact frame carrying a `_won` flag into
    the single sink/reason-labelled frame. Used by the batch plan, the
    checkpoint finalize, and the streaming rollover export so the three
    paths cannot drift.

    `expired` (optional Column) marks rows of windows already closed at
    restore time (W3, processor.go:155-174): they route to
    overflow(reason='window_expired') instead of being re-exported as
    sampled — the explicit replacement for the reference's silent
    stale-state discard, without its restore double-count (§2.11.3).

    All decision inputs are conv-level broadcast sets or pure column
    predicates — the fact is never shuffled here. `broadcast_late=False`
    (cfg.extra["late_strategy"]="shuffle") switches the late-unit join to a
    shuffle join for workloads with pathological late fractions whose late
    set exceeds broadcast limits; AQE's skew-join handles hot conversations
    there."""
    if late_units is not None:
        late_frame = late_units.withColumnRenamed("status", "_late_status")
        if broadcast_late:
            late_frame = F.broadcast(late_frame)
        routed = routed.join(
            late_frame,
            on=["window_start_s", "conv_id"],
            how="left",
        )
        late = (F.col("_late_status") == "all_late") | (
            (F.col("_late_status") == "boundary")
            & (F.unix_timestamp("ts") < F.col("cutoff_s"))
        )
        late = F.coalesce(late, F.lit(False))
    else:
        routed = routed.withColumn("_late_status", F.lit(None).cast("string"))
        late = F.lit(False)

    if evicted_keys is not None:
        routed = routed.join(
            F.broadcast(evicted_keys.withColumn("_evicted", F.lit(True))),
            on=["window_start_s", "conv_id"],
            how="left",
        )
    else:
        routed = routed.withColumn("_evicted", F.lit(None).cast("boolean"))

    if expired is None:
        expired = F.lit(False)

    sink = (
        F.when(invalid, F.lit("dlq"))
        .when(expired, F.lit("overflow"))
        .when(late, F.lit("dlq"))
        .when(F.col("_evicted"), F.lit("overflow"))
        .when(F.col("_won"), F.lit("sampled_traces"))
        .otherwise(F.lit("overflow"))
    )
    reason = (
        F.when(invalid, F.lit("invalid_key"))
        .when(expired, F.lit("window_expired"))
        .when(late, F.lit("late"))
        .when(F.col("_evicted"), F.lit("capacity"))
        .when(F.col("_won"), F.lit(None).cast("string"))
        .otherwise(F.lit("unsampled"))
    )
    return (
        routed.withColumn("sink", sink)
        .withColumn("reason", reason)
        .drop("_won", "_evicted", "_late_status", "cutoff_s")
    )


def _filter_late_rows(rows: DataFrame, late_units: DataFrame) -> DataFrame:
    joined = rows.join(
        F.broadcast(late_units),
        on=["window_start_s", "conv_id"],
        how="left",
    )
    keep = (
        F.col("status").isNull()
        | ((F.col("status") == "boundary") & (F.unix_timestamp("ts") >= F.col("cutoff_s")))
    )
    return joined.filter(keep).drop("status", "cutoff_s")


def run_pipeline(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    dim_role: "DataFrame | None" = None,
    dim_tool: "DataFrame | None" = None,
    use_pandas_parse: bool = False,
) -> PipelineResult:
    raw_cols = transcripts.columns
    persisted: "list[DataFrame]" = []
    routed, winners = build_routed(
        transcripts, cfg, dim_role, dim_tool, use_pandas_parse, persisted
    )

    sampled = routed.filter(F.col("sink") == "sampled_traces").drop("sink", "reason")
    overflow = routed.filter(F.col("sink") == "overflow").drop("sink")
    dlq = routed.filter(F.col("sink") == "dlq").select(*raw_cols, "reason")

    metrics = (
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

    # Stable (conv_id, turn_idx) ordering for the equality gate is applied
    # at comparison/write time — a global orderBy here would be a full sort
    # of the sampled fact table at 100 TB.
    return PipelineResult(
        routed=routed,
        sampled_traces=sampled.sortWithinPartitions("conv_id", "turn_idx"),
        overflow=overflow,
        dlq=dlq,
        metrics=metrics,
        winners=winners,
        cfg=cfg,
        persisted=persisted,
    )


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
    itself (operators/metrics.py) — zero extra passes; the written output
    is never re-read (analog of the reference's counter gate,
    metrics.go:47-142).

    Both tables land through the snapshot-commit protocol
    (plans/commit.py): the write goes to a fresh immutable version
    directory and becomes visible only at the atomic pointer swap, so a
    killed write never leaves a half-overwritten table readable. Read the
    results with plans.commit.read_committed."""
    from trace_aware_reservoir_otel_spark.operators.metrics import observed_routed
    from trace_aware_reservoir_otel_spark.plans import commit

    observed, obs = observed_routed(result.routed)
    commit_routed(observed, result.cfg, out_dir)
    vals = obs.get
    mobs = Observation("taro_metrics_rows")
    commit.commit_write(
        result.metrics.observe(mobs, F.count(F.lit(1)).alias("n")),
        f"{out_dir}/metrics",
    )
    counts = {
        "sampled_traces": int(vals["rows_sampled"]),
        "overflow": int(vals["rows_overflow"]),
        "dlq": int(vals["rows_dlq"]),
        "metrics": int(mobs.get["n"]),
    }
    result.unpersist()
    return {k: v for k, v in counts.items() if k == "metrics" or v > 0}
