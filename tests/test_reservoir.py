"""Reservoir invariants, replaying the reference's unit-test semantics
(processor_test.go:100-201, trace_buffer_test.go) plus the determinism /
mergeability properties the Spark design adds (SURVEY.md §7.4)."""

import math

import pytest
from pyspark.sql import functions as F

from trace_aware_reservoir_otel_spark.operators.reservoir import (
    conversation_units,
    sample_conversations,
    sample_rows,
    topk_units,
    with_priorities,
)
from trace_aware_reservoir_otel_spark.operators.windows import with_tumbling_window
from trace_aware_reservoir_otel_spark.synth import generate_transcripts


@pytest.fixture(scope="module")
def turns(spark):
    df = generate_transcripts(spark, n_convs=400, seed=42)
    df = df.filter(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
    return with_tumbling_window(df, "ts", 60).cache()


def _winner_set(winners):
    return {(r["window_start_s"], r["conv_id"]) for r in winners.collect()}


def test_reservoir_size_bounded(turns):
    # analog of processor_test.go:146-147: per-window sample <= k
    _, winners = sample_conversations(turns, k=5, seed=42)
    per_win = winners.groupBy("window_start_s").count().collect()
    assert all(r["count"] <= 5 for r in per_win)
    assert len(per_win) > 1


def test_identity_when_k_ge_n(turns):
    # reservoir-not-full branch (reservoir.go:100-102): k >= n => keep all
    n_units = turns.select("window_start_s", "conv_id").distinct().count()
    _, winners = sample_conversations(turns, k=n_units + 10, seed=42)
    assert winners.count() == n_units


def test_deterministic_across_runs_and_partitionings(turns):
    _, w1 = sample_conversations(turns, k=7, seed=42)
    _, w2 = sample_conversations(turns.repartition(17), k=7, seed=42)
    _, w3 = sample_conversations(turns.coalesce(1), k=7, seed=42)
    assert _winner_set(w1) == _winner_set(w2) == _winner_set(w3)


def test_seed_changes_sample(turns):
    _, wa = sample_conversations(turns, k=7, seed=1)
    _, wb = sample_conversations(turns, k=7, seed=2)
    assert _winner_set(wa) != _winner_set(wb)


def test_salt_buckets_do_not_change_result(turns):
    units = conversation_units(turns, seed=42)
    a = topk_units(units, 7, salt_buckets=1)
    b = topk_units(units, 7, salt_buckets=64)
    assert _winner_set(a) == _winner_set(b)


def test_pandas_method_equals_sql_method(turns):
    units = conversation_units(turns, seed=42)
    a = topk_units(units, 7, method="sql")
    b = topk_units(units, 7, method="pandas")
    assert _winner_set(a) == _winner_set(b)


def test_conversation_atomicity(turns):
    # trace-aware gate (processor_test.go:151-201): within a window, a
    # conversation's turns are all kept or all dropped
    flagged, _ = sample_conversations(turns, k=5, seed=42)
    mixed = (
        flagged.groupBy("window_start_s", "conv_id")
        .agg(F.countDistinct("sampled").alias("nflags"))
        .filter(F.col("nflags") > 1)
    )
    assert mixed.count() == 0


def test_row_count_conservation(turns):
    flagged, _ = sample_conversations(turns, k=5, seed=42)
    assert flagged.count() == turns.count()


def _sample_rows_xxh(df, k, key_cols, seed):
    # sample_rows' reservoir under the xxh priority (the turn-sampling
    # route of plans.pipeline): the shared derivation, then top-k
    keyed = with_priorities(df, seed, key_cols, hash_impl="xxh").withColumn(
        "_unit", F.concat_ws("#", *[F.col(c).cast("string") for c in key_cols])
    )
    return topk_units(keyed, k, conv_col="_unit").drop("_unit")


def test_simple_mode_row_reservoir(turns):
    for sampler in (sample_rows, _sample_rows_xxh):
        win = sampler(turns, k=9, key_cols=["conv_id", "turn_idx"], seed=42)
        per_win = win.groupBy("window_start_s").count().collect()
        assert all(r["count"] <= 9 for r in per_win)
        # deterministic
        win2 = sampler(turns.repartition(13), k=9, key_cols=["conv_id", "turn_idx"], seed=42)
        assert sorted(map(tuple, win.select("window_start_s", "conv_id", "turn_idx").collect())) == sorted(
            map(tuple, win2.select("window_start_s", "conv_id", "turn_idx").collect())
        )


def test_weighted_sampling_prefers_heavy(spark):
    # A-Res law: P(included) increases with weight. Two groups of convs in
    # one window, weight 10 vs 1 => heavy group should dominate winners.
    rows = [(f"conv-h{i}", 0, "u", "t", None, "2024-01-01 00:00:30", 10.0) for i in range(50)]
    rows += [(f"conv-l{i}", 0, "u", "t", None, "2024-01-01 00:00:30", 1.0) for i in range(50)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, s string, w double"
    ).withColumn("ts", F.col("s").cast("timestamp")).drop("s")
    dfw = with_tumbling_window(df, "ts", 60)
    _, winners = sample_conversations(dfw, k=20, weight_col="w", seed=3)
    heavy = winners.filter(F.col("conv_id").startswith("conv-h")).count()
    assert heavy >= 14  # E[heavy] ≈ 18.6 of 20 under A-Res with 10:1 weights


def test_uniform_inclusion_frequency(spark):
    # statistical guarantee of Algorithm R / A-Res with uniform weights
    # (reservoir.go:83-87): each of n units appears with freq ~ k/n across
    # independent seeds.
    rows = [(f"c{i}", 0, "u", "t", None, "2024-01-01 00:00:30") for i in range(40)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, s string"
    ).withColumn("ts", F.col("s").cast("timestamp")).drop("s")
    dfw = with_tumbling_window(df, "ts", 60).cache()
    k, n, trials = 10, 40, 36
    counts = {f"c{i}": 0 for i in range(n)}
    for seed in range(trials):
        _, w = sample_conversations(dfw, k=k, seed=seed)
        for r in w.select("conv_id").collect():
            counts[r["conv_id"]] += 1
    freqs = [c / trials for c in counts.values()]
    exp = k / n
    # 3-sigma band for binomial(trials, k/n)
    sigma = math.sqrt(exp * (1 - exp) / trials)
    assert abs(sum(freqs) / n - exp) < 0.02
    assert all(exp - 4 * sigma <= f <= exp + 4 * sigma for f in freqs)
