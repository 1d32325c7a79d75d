"""Lineage metrics via Spark's Observation API (A6, metrics.go:43-145).

The reference exports 7 gauges/counters through the OTel meter
(spans-in-window, sampled spans, reservoir size, evictions, checkpoint
age/size/compactions). The Spark-native analog attaches `observe()`
aggregates to the routed frame so the counters are computed DURING the
sink write — zero extra passes — and conservation
(|sampled| + |overflow| + |dlq| == |input|) is checked from the observed
values, mirroring the per-sink counter gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F


SINKS = ("sampled_traces", "overflow", "dlq")


def observed_routed(routed: DataFrame) -> "tuple[DataFrame, Observation]":
    """Attach the per-sink counters to a routed frame: `rows_total` and one
    count per sink, named after the sink. The one sink Observation of every
    mode (batch `write_sinks`, checkpoint finalize, streaming rollover);
    read it with `observed_counts` after the frame's first action (the sink
    write)."""
    obs = Observation("taro_metrics")
    observed = routed.observe(
        obs,
        F.count(F.lit(1)).alias("rows_total"),
        *[F.sum((F.col("sink") == s).cast("long")).alias(s) for s in SINKS],
    )
    return observed, obs


def observed_counts(obs: Observation) -> "dict[str, int]":
    """The observed counters as ints (a sum over zero rows observes NULL,
    read as 0)."""
    return {k: int(v or 0) for k, v in obs.get.items()}


def sink_counts(obs: Observation) -> "dict[str, int]":
    """Rows per non-empty sink, from the observed counters."""
    vals = observed_counts(obs)
    return {s: vals[s] for s in SINKS if vals[s] > 0}


def conservation_ok(counts: dict) -> bool:
    return sum(counts[s] for s in SINKS) == counts["rows_total"]
