"""Streaming incremental ingest dedup — the continuous form of the
committed MinHash index pattern (operators/dedup.minhash_index family):
a file stream of document batches where each micro-batch is deduplicated
against the index AS OF its processing time and its survivors are
appended to both the survivor sink and the index itself.

No analog in the reference (its streaming state is the span reservoir,
processor.go:61-118); this is the ingestion topology a training-data
pipeline actually runs: history is immutable, new data dedups against
everything accepted before it, and acceptance itself extends history.

Semantics: batch i's survivors are computed against
(initial index) ∪ (survivors of batches processed before i) — exactly the
sequential fold a nightly ingest job performs. Within-batch duplicates
are out of scope here as in the batch operator (compose dedup_survivors
on the batch first if needed).

Replay safety (foreachBatch is at-least-once): once a batch's survivors
have been appended to the index, RECOMPUTING them is no longer safe — the
batch's own bucket rows are in the index, every original survivor
self-collides in the semi-join, and the recomputed survivor set is empty.
So replay handling never recomputes after an append. The batch has ONE
commit point, the index append (plans/commit.commit_append, through
operators/dedup.minhash_index_append), stamped with the batch_id as its
key — the append runs even for an empty survivor set, so every applied
batch leaves its key. `dedup_batch` checks `committed_keys` FIRST: a
replayed applied batch returns before touching any sink (the sinks were
written before the append, so they are already correct). A crash before
the append's pointer swap leaves no key, and the replay recomputes
against an index that does not yet hold the batch: the batch_id-keyed
sinks are overwritten with the same rows, and the append runs once.

Scale shape per batch: one probe (SEMI join of batch band rows against
the committed index — see incremental_dedup_survivors) + one O(batch)
delta append. Driver-side cost per batch is one read of the index's
commit pointer. The index grows by survivors only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T

from trace_aware_reservoir_otel_spark.operators.dedup import (
    incremental_dedup_survivors,
    minhash_index_append,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

def stream_documents(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _append_key(batch_id: int) -> str:
    return f"batch={int(batch_id)}"


def dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the incremental ingest dedup — module-level so
    the replay suite can invoke it directly with a repeated batch_id.

    Order of operations IS the replay contract (see module docstring):
    append-key check -> seen sink -> survivor compute -> survivor sink ->
    keyed index append. The survivor recompute happens only on the path
    where the index provably does not yet contain this batch (no key), so
    the self-collision data loss of the pre-fix ordering
    (compute-then-check) cannot occur."""
    from trace_aware_reservoir_otel_spark.plans import commit

    if _append_key(batch_id) in commit.committed_keys(f"{index_dir}/buckets"):
        return  # replayed applied batch: sinks + index already correct
    # one job for the whole batch body: survivors feed two sinks and
    # the index append, so pin them once
    batch_df = batch_df.localCheckpoint(eager=True)
    batch_df.select(id_col).write.mode("overwrite").parquet(
        f"{out_dir}/seen/batch_id={batch_id}"
    )
    surv = incremental_dedup_survivors(
        batch_df, index_dir, text_col, id_col
    ).localCheckpoint(eager=True)
    surv.write.mode("overwrite").parquet(
        f"{out_dir}/survivors/batch_id={batch_id}"
    )
    minhash_index_append(
        surv, index_dir, text_col, id_col, key=_append_key(batch_id)
    )


def run_incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Drive the stream to completion (availableNow). Requires an index
    already built with minhash_index (the initial corpus; may be empty —
    build on an empty frame to accept everything).

    Sinks under out_dir, both batch_id-keyed and overwrite-idempotent:
      seen/batch_id=K       every input doc id of batch K (lineage /
                            conservation: seen = survivors ∪ dropped)
      survivors/batch_id=K  the accepted rows of batch K
    """
    stream = stream_documents(spark, input_dir, max_files_per_trigger)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_batch(batch_df, batch_id, index_dir, out_dir, text_col, id_col)

    q = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_survivors(spark: SparkSession, out_dir: str) -> DataFrame:
    """All accepted rows across the stream so far (batch_id carried)."""
    return spark.read.option("basePath", f"{out_dir}/survivors").parquet(
        f"{out_dir}/survivors/batch_id=*"
    )


def read_seen(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.option("basePath", f"{out_dir}/seen").parquet(
        f"{out_dir}/seen/batch_id=*"
    )
