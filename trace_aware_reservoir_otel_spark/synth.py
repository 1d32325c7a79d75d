"""Deterministic synthetic transcripts generator (FIXTURES.md §1).

Spark-native: built entirely from ``spark.range`` + Column expressions
(no Python loops, no UDFs, no RNG state), so the same code generates the
1e3-row unit fixture and a 1e9-row bench table with identical semantics —
every value is a pure function of (seed, conv index, turn index), mirroring
the reference's index-derived test data
(processor_test.go:204-266 generateTraces / generateTracesWithSharedIDs).

Properties (all driven by the seed):
 - zipf-ish conversation sizes 1..8 with a heavy tail 20..100 (every 41st
   conv), plus ONE mega-conversation (conv index 0) holding >=10% of all
   rows to exercise skew salting;
 - timestamps spread over `span_s` seconds so conversations cross tumbling
   window boundaries (window.go:73-105 rollover semantics);
 - a ~2% tagged subset of conversations whose LAST turn arrives "late"
   (ts shifted before the conversation start by more than the pipeline's
   late tolerance) -> must route to dlq(reason='late');
 - a small invalid subset with NULL conv_id / NULL turn_idx -> must route
   to dlq(reason='invalid_key') (trace_buffer.go:80-85 analog);
 - `text` embeds grok-parsable tool-call fields:
   "... <tool_call name=search dur_ms=123> trace=<hex16> span=<hex8>".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from trace_aware_reservoir_otel_spark.functions.hashing import TWO_POW_52, pbig
from trace_aware_reservoir_otel_spark.schema import TRANSCRIPTS_SCHEMA

BASE_EPOCH_S = 1704067200  # 2024-01-01T00:00:00Z

_PHRASES = [
    "the quick brown fox jumps over the lazy dog",
    "please summarize the report and send it to the team",
    "I think we should check the database for the latest numbers",
    "here is the answer you asked for and a bit of context",
    "let me look that up for you right away",
    "running the computation now with the given parameters",
    "this is a system notice about the current session",
    "could you explain that in more detail please",
]

_TOOLS = ["search", "calc", "browse", "code", "db", "unknown_tool"]

LATE_FRAC = 0.02
LATE_SHIFT_S = 7200


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    seed: int = 42,
    span_s: int = 3600,
    mega_turns: "int | None" = None,
    invalid_rows: "int | None" = None,
    partitions: "int | None" = None,
    conv_id_offset: int = 0,
) -> DataFrame:
    if mega_turns is None:
        # ~12% of rows at test scale; capped so the skew fixture stays a
        # realistic hot key (not half the dataset) at bench scale
        mega_turns = max(50, min(int(0.9 * n_convs), 500_000))
    if invalid_rows is None:
        invalid_rows = max(2, n_convs // 100)

    convs = spark.range(
        conv_id_offset,
        conv_id_offset + n_convs,
        numPartitions=partitions or max(4, n_convs // 250000),
    )
    cid = F.col("id")

    def uniform(tag: str) -> Column:
        # uniform (0, 1) from the 52-bit priority of (seed, tag, conv index)
        return (pbig(F.concat(F.lit(tag), cid), seed).cast("double") + 0.5) / TWO_POW_52

    size_u = uniform("size:")
    base_size = (F.lit(1) + F.floor(size_u * 8).cast("int")).cast("int")
    tail_size = (F.lit(20) + F.floor(size_u * 80).cast("int")).cast("int")
    n_turns = (
        F.when(cid == conv_id_offset, F.lit(mega_turns))
        .when(cid % 41 == 0, tail_size)
        .otherwise(base_size)
    )
    start_s = F.lit(BASE_EPOCH_S) + (pbig(F.concat(F.lit("start:"), cid), seed) % F.lit(span_s))
    is_late_conv = uniform("late:") < F.lit(LATE_FRAC)

    convs = convs.select(
        F.format_string("conv-%08d", cid).alias("conv_id"),
        n_turns.alias("n_turns"),
        start_s.alias("conv_start_s"),
        is_late_conv.alias("is_late_conv"),
    )

    turns = convs.select(
        "conv_id",
        "n_turns",
        "conv_start_s",
        "is_late_conv",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )

    tkey = F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx"))
    th = pbig(tkey, seed)
    # derive the uniform from the same hash (one md5 per turn, not two)
    tu = (th.cast("double") + F.lit(0.5)) / F.lit(float(2**52))

    ts_s = (
        F.col("conv_start_s")
        + F.col("turn_idx").cast("long") * F.lit(2)
        + (th % F.lit(15))
    )
    # late conversations: last turn jumps back before the conversation start
    ts_s = F.when(
        F.col("is_late_conv") & (F.col("turn_idx") == F.col("n_turns") - 1),
        F.col("conv_start_s") - F.lit(LATE_SHIFT_S),
    ).otherwise(ts_s)

    role = (
        F.when((F.col("turn_idx") == 0) & (th % 5 == 0), F.lit("system"))
        .when(F.col("turn_idx") % 2 == 1, F.lit("assistant"))
        .otherwise(F.lit("user"))
    )
    has_tool = (role == "assistant") & (tu < F.lit(0.35))
    tool = F.when(
        has_tool,
        F.element_at(F.array(*[F.lit(t) for t in _TOOLS]), (th % len(_TOOLS) + 1).cast("int")),
    )

    prose = F.element_at(
        F.array(*[F.lit(p) for p in _PHRASES]), (th % len(_PHRASES) + 1).cast("int")
    )
    dur_ms = (th % F.lit(5000)).cast("string")
    hexsrc = F.md5(F.concat(F.lit("hex:"), tkey))
    tool_text = F.concat(
        prose,
        F.lit(" <tool_call name="),
        tool,
        F.lit(" dur_ms="),
        dur_ms,
        F.lit("> trace="),
        F.substring(hexsrc, 1, 16),
        F.lit(" span="),
        F.substring(hexsrc, 17, 8),
    )
    text = F.when(has_tool, tool_text).otherwise(prose)

    valid = turns.select(
        F.col("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_seconds(ts_s).alias("ts"),
    )

    inv = spark.range(0, invalid_rows).select(
        F.when(F.col("id") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.format_string("conv-inv-%04d", F.col("id")))
        .alias("conv_id"),
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.lit(None))
        .cast("int")
        .alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("INVALID row "), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(
            F.lit(BASE_EPOCH_S) + (pbig(F.concat(F.lit("inv:"), F.col("id")), seed) % F.lit(span_s))
        ).alias("ts"),
    )

    out = valid.unionByName(inv)
    assert [f.name for f in out.schema.fields] == [f.name for f in TRANSCRIPTS_SCHEMA.fields]
    return out
