"""Table sources (S1 analog): driver testdata parquet + transcript adapters.

`transcripts_from_events` maps the driver's `events` table into the
transcripts relation (BASELINE.json input_hint shape) so the flagship
pipeline can run end-to-end on driver-provided data:
    conv_id  = 'conv-' || user_id         (trace id)
    turn_idx = rank of event within user  (span id; 0-based, ts order)
    role     = by event_type
    tool     = event_type when tool-like
    text     = event_type + props payload (with an embedded tool_call
               pattern for tool-like events, so parse has work to do)
The mapping is deterministic, so repeated runs agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    role = (
        F.when(F.col("event_type").isin("click", "view"), F.lit("user"))
        .when(F.col("event_type").isin("purchase", "signup"), F.lit("assistant"))
        .otherwise(F.lit("tool"))
    )
    tool = F.when(
        F.col("event_type").isin("purchase", "signup", "error"), F.col("event_type")
    )
    # floor, not cast: Spark's double->long cast truncates while DuckDB's
    # rounds — floor() is identical in both (oracle parity)
    dur = F.floor(F.col("value") * 10).cast("long")
    hexsrc = F.md5(F.concat(F.lit("ev:"), F.col("event_id").cast("string")))
    text = F.when(
        tool.isNotNull(),
        F.concat(
            F.lit("event "), F.col("event_type"), F.lit(" "), F.col("props"),
            F.lit(" <tool_call name="), tool, F.lit(" dur_ms="), dur.cast("string"),
            F.lit("> trace="), F.substring(hexsrc, 1, 16),
            F.lit(" span="), F.substring(hexsrc, 17, 8),
        ),
    ).otherwise(F.concat(F.lit("event "), F.col("event_type"), F.lit(" "), F.col("props")))
    return ev.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )
