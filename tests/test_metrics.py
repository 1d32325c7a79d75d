from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.operators.metrics import (
    conservation_ok,
    observed_counts,
    observed_routed,
)
from trace_aware_reservoir_otel_spark.plans.pipeline import build_routed
from trace_aware_reservoir_otel_spark.synth import generate_transcripts


def test_observation_counters_conserve(spark):
    df = generate_transcripts(spark, n_convs=150, seed=42)
    cfg = PipelineConfig(size_k=5, window_duration_s=60, seed=42)
    routed = build_routed(df, cfg)
    observed, obs = observed_routed(routed)
    n = observed.count()  # the "sink write" action
    vals = observed_counts(obs)
    assert vals["rows_total"] == n == df.count()
    assert conservation_ok(vals)
    assert vals["dlq"] >= 2  # invalid fixtures present
    assert vals["sampled_traces"] > 0
