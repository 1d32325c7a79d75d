"""Schemas: input transcripts and enrichment dims.

The transcripts relation is the conversation-turn analog of the reference's
span stream (span <-> turn, trace <-> conversation): FIXTURES.md §1,
serialization projection analog serialization.go:18-38.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),  # nullable: invalid rows -> dlq
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

DIM_ROLE_ROWS = [
    ("user", "human", True),
    ("assistant", "model", False),
    ("system", "control", False),
    ("tool", "machine", False),
]
DIM_ROLE_SCHEMA = T.StructType(
    [
        T.StructField("role", T.StringType(), False),
        T.StructField("role_kind", T.StringType(), False),
        T.StructField("is_human", T.BooleanType(), False),
    ]
)

DIM_TOOL_ROWS = [
    ("search", "retrieval", "cheap"),
    ("calc", "compute", "cheap"),
    ("browse", "retrieval", "medium"),
    ("code", "compute", "expensive"),
    ("db", "retrieval", "medium"),
]
DIM_TOOL_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("tool_category", T.StringType(), False),
        T.StructField("cost_class", T.StringType(), False),
    ]
)
