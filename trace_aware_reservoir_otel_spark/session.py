"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment would
set per-executor: AQE on (runtime skew-join/coalesce), Arrow for every
pandas UDF boundary, UTC session time so epoch arithmetic is portable to
the DuckDB oracle, shuffle partitions sized to cores (not the 200 default,
which thrashes small local runs and under-partitions big ones — on a real
cluster this would be ~2-3x total cores or AQE-advisory driven).

`local_frame` is the one way the library turns driver-side Python rows
into a DataFrame.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, types as T


def get_spark(
    app_name: str = "trace_aware_reservoir_otel_spark",
    cores: "int | None" = None,
    shuffle_partitions: "int | None" = None,
    extra_conf: "dict | None" = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # scan-parallelism floor: a byte-packed table a few multiples of
        # maxPartitionBytes wide otherwise scans on a fraction of the
        # cores (sf1.0 lineitem: 8 splits on 32 cores). At real scale
        # scans exceed the core count and the floor is a no-op — the same
        # guard rationale as operators.dedup.scale_out.
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 records the Python call site of every DataFrame/Column
        # API call for error messages, at ~3 py4j round trips per call. A
        # streaming roll builds its plan from ~80 such calls: a quarter of
        # its py4j traffic (measured: 10k of 41k calls over a 104-batch
        # stream's rolls). Errors still carry the JVM-side plan context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # generated-class cache (an LRU keyed by source, Spark default 100
        # entries) sized to hold a whole job's working set: one batch
        # run_pipeline + write_sinks compiles ~105 distinct classes, so at
        # 100 entries every warm run evicted and recompiled 83-95 of them
        # (0.7-0.8 s of Janino time plus the JIT work on the new classes).
        # At 512 a warm run compiles none; a streaming run (53 classes)
        # already fit. Measured with `bench_extra.py --codegen-probe`.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        # broadcast decisions: the STATIC planner sees only size estimates
        # (file size x column-pruning ratio), which at sf1.0 made it
        # broadcast-build multi-million-row fact sides (lineitem in the Q3
        # shape, orders in Q5 — measured 3-4s of driver hash-relation
        # build per query). Keep the static threshold small so estimates
        # can only pick truly tiny sides, and let AQE convert sort-merge
        # to broadcast from RUNTIME shuffle sizes, where 64 MB is safe.
        # Library operators that know a side is small keep their explicit
        # F.broadcast hints, which ignore both thresholds.
        .config("spark.sql.autoBroadcastJoinThreshold", str(4 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        # HotSpot refuses to JIT methods over ~8000 bytecodes
        # (DontCompileHugeMethods default on): whole-stage-codegen'd wide
        # expressions — the unrolled fixed-dim vector math in
        # operators/similarity.py — then run JVM-INTERPRETED (measured 22x
        # on the SemDeDup within-cell pair stage: 22s -> 1s once JIT'd).
        # Same flag on both roles so a real cluster's executors match
        # local-mode behavior.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        # v2 commit: task outputs move at task commit instead of one
        # serial job-commit rename pass — the streaming spill/routed
        # writes commit many small bucket-partition files per micro-batch
        # and the serial pass was measurable. Durability is unchanged for
        # this engine: batch sinks land behind the snapshot-pointer commit
        # (plans/commit.py) and streaming state writes are batch_id-keyed
        # overwrite-idempotent, so a torn v2 job never becomes visible.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession,
    rows: "Iterable[Sequence]",
    schema: "T.StructType | str",
) -> DataFrame:
    """DataFrame of driver-side `rows` (tuples or Rows, in `schema`'s field
    order; `schema` a StructType or a DDL string), planned as a JVM
    LocalRelation / LocalTableScan.

    `createDataFrame(list_of_tuples)` goes parallelize -> PythonRDD ->
    Scan ExistingRDD, so every query over the frame forks Python workers
    just to unpickle constant rows (measured on a 4-core VM: the enrich
    dims' 9 rows cost 1.3-1.7 s of worker CPU per query). An Arrow table typed by the Spark
    schema is handed to the JVM directly instead. `createDataFrame` of a
    pandas frame is not used: it depends on
    spark.sql.execution.arrow.pyspark.enabled and silently falls back to
    the pickling path when that conf is off. The schema, nullability
    included, is kept exactly."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
