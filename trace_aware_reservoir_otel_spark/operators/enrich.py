"""Broadcast lookup enrichment of role/tool dimensions (SURVEY.md §2.3).

The reference has no relational joins (span-resource-scope association is
positional); the north star adds dimension enrichment. Dims are tiny
(<= 100 rows) so both joins are explicit `F.broadcast` — zero shuffle of
the fact side at any scale; left joins so unknown keys survive with NULL
attributes (FIXTURES.md §2: transcripts contain a tool absent from
dim_tool). The built-in dims are local relations (`session.local_frame`):
they plan as a LocalTableScan, so an enriched query starts no Python
worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from trace_aware_reservoir_otel_spark.schema import (
    DIM_ROLE_ROWS,
    DIM_ROLE_SCHEMA,
    DIM_TOOL_ROWS,
    DIM_TOOL_SCHEMA,
)
from trace_aware_reservoir_otel_spark.session import local_frame


def dim_role_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, DIM_ROLE_ROWS, DIM_ROLE_SCHEMA)


def dim_tool_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, DIM_TOOL_ROWS, DIM_TOOL_SCHEMA)


def write_dims(spark: SparkSession, dim_dir: str) -> None:
    """Materialize the canonical dimension tables as parquet — the
    production layout (a lookup table maintained next to the facts, not a
    literal embedded in the job)."""
    dim_role_df(spark).write.mode("overwrite").parquet(f"{dim_dir}/dim_role")
    dim_tool_df(spark).write.mode("overwrite").parquet(f"{dim_dir}/dim_tool")


def load_dims(spark: SparkSession, dim_dir: str) -> "tuple[DataFrame, DataFrame]":
    """(dim_role, dim_tool) from parquet. Pass these to `enrich` / the
    pipeline entrypoints: the joins stay explicit `F.broadcast`, so the
    plan is a BroadcastHashJoin with zero fact-side shuffle whether the
    dims come from literals or from files (plan-asserted in
    tests/test_planshape.py)."""
    return (
        spark.read.parquet(f"{dim_dir}/dim_role"),
        spark.read.parquet(f"{dim_dir}/dim_tool"),
    )


def enrich(
    df: DataFrame,
    dim_role: "DataFrame | None" = None,
    dim_tool: "DataFrame | None" = None,
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    spark = df.sparkSession
    dim_role = dim_role if dim_role is not None else dim_role_df(spark)
    dim_tool = dim_tool if dim_tool is not None else dim_tool_df(spark)
    out = df.join(F.broadcast(dim_role), on=role_col, how="left")
    out = out.join(F.broadcast(dim_tool), on=tool_col, how="left")
    # restore the canonical leading column order
    first = ["conv_id", "turn_idx"]
    cols = [c for c in first if c in out.columns] + [c for c in out.columns if c not in first]
    return out.select(*cols)
