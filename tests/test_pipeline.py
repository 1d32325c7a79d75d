"""End-to-end flagship pipeline gates (FIXTURES.md §3-4):
 - per-sink row-count conservation,
 - dlq membership of tagged invalid/late fixture rows,
 - sampled set + per-turn text equality vs an independent pure-Python
   reservoir oracle under (conv_id, turn_idx) ordering,
 - capacity overflow routing (trace_buffer_test.go:118-157 analog)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.plans.pipeline import run_pipeline
from trace_aware_reservoir_otel_spark.synth import generate_transcripts

SEED = 42
K = 6
WIN = 60


@pytest.fixture(scope="module")
def data(spark):
    df = generate_transcripts(spark, n_convs=250, seed=SEED).cache()
    # md5 hash_impl: the pure-Python oracle below replicates the portable
    # md5 priority (the fast xxh default is covered by determinism tests)
    cfg = PipelineConfig(size_k=K, window_duration_s=WIN, seed=SEED, hash_impl="md5")
    res = run_pipeline(df, cfg)
    out = {
        "input": df,
        "sampled": res.sampled_traces.cache(),
        "overflow": res.overflow.cache(),
        "dlq": res.dlq.cache(),
        "metrics": res.metrics.cache(),
    }
    return out


def _py_oracle_sampled(rows, k, win, seed, late_tol):
    """Independent reimplementation: returns the sampled (conv,turn) set."""
    valid = [r for r in rows if r["conv_id"] is not None and r["turn_idx"] is not None]
    conv_start = {}
    for r in valid:
        key = r["conv_id"]
        cur = conv_start.get(key)
        if cur is None or r["turn_idx"] < cur[0]:
            conv_start[key] = (r["turn_idx"], r["ts"])
    on_time = [
        r
        for r in valid
        if r["ts"].timestamp() >= conv_start[r["conv_id"]][1].timestamp() - late_tol
    ]
    by_window = {}
    for r in on_time:
        w = int(r["ts"].timestamp() // win) * win
        by_window.setdefault(w, set()).add(r["conv_id"])
    winners = set()
    for w, convs in by_window.items():
        scored = []
        for c in convs:
            h = int(hashlib.md5(f"{seed}:{w}:{c}".encode()).hexdigest()[:13], 16)
            u = (h + 0.5) / 2**52
            scored.append((-math.log(u), c))
        for _, c in sorted(scored)[:k]:
            winners.add((w, c))
    return {
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in on_time
        if (int(r["ts"].timestamp() // win) * win, r["conv_id"]) in winners
    }


def test_conservation(data):
    # the metrics table's per-sink row counts sum to the input
    metric_rows = data["metrics"].agg(F.sum("rows").alias("t")).collect()[0]["t"]
    assert metric_rows == data["input"].count()
    n = (
        data["sampled"].count() + data["overflow"].count() + data["dlq"].count()
    )
    assert n == data["input"].count()


def test_dlq_membership(data):
    inv = data["dlq"].filter(F.col("reason") == "invalid_key")
    exp_inv = data["input"].filter(
        F.col("conv_id").isNull() | F.col("turn_idx").isNull()
    )
    assert inv.count() == exp_inv.count()
    late = data["dlq"].filter(F.col("reason") == "late")
    assert late.count() >= 1
    # late rows really do precede their conversation start
    assert set(late.columns) == {"conv_id", "turn_idx", "role", "text", "tool", "ts", "reason"}


def test_sampled_equals_python_oracle(data):
    rows = data["input"].collect()
    exp = _py_oracle_sampled(rows, K, WIN, SEED, late_tol=3600.0)
    got = {
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in data["sampled"].select("conv_id", "turn_idx", "text").collect()
    }
    assert got == exp


def test_sampled_ordering_stable(data):
    # per-turn equality gate orders by (conv_id, turn_idx): verify the
    # ordered projection is deterministic across two materializations
    a = data["sampled"].orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    b = data["sampled"].orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert a == b


def test_enrichment_columns_present(data):
    cols = set(data["sampled"].columns)
    assert {"role_kind", "is_human", "tool_category", "cost_class"} <= cols
    assert {"p_tool", "p_dur_ms", "p_trace_hex", "p_span_hex"} <= cols
    # parse really extracted: every tool-bearing sampled turn has p_tool
    tooled = data["sampled"].filter(F.col("tool").isNotNull())
    if tooled.count() > 0:
        assert tooled.filter(F.col("p_tool").isNull()).count() == 0
        assert tooled.filter(F.col("p_tool") != F.col("tool")).count() == 0


def test_capacity_overflow(spark):
    # 8 conversations, capacity 5 => 3 whole conversations to overflow
    rows = []
    for c in range(8):
        for t in range(3):
            rows.append((f"conv-{c}", t, "user", "hi", None, "2024-01-01 00:00:10"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, s string"
    ).withColumn("ts", F.col("s").cast("timestamp")).drop("s")
    cfg = PipelineConfig(size_k=100, window_duration_s=60, buffer_max_convs=5, seed=1)
    res = run_pipeline(df, cfg)
    cap = res.overflow.filter(F.col("reason") == "capacity")
    assert cap.select("conv_id").distinct().count() == 3
    assert cap.count() == 9
    assert res.sampled_traces.select("conv_id").distinct().count() == 5


def test_pandas_parse_path_equal(spark):
    # the pandas parser (parse_pandas contract query) and the JVM regex
    # parser of `prepare` agree on every row and all four parsed columns
    from trace_aware_reservoir_otel_spark.functions.parse import (
        with_parsed_fields,
        with_parsed_fields_pandas,
    )

    df = generate_transcripts(spark, n_convs=60, seed=5)
    cols = ["conv_id", "turn_idx", "text", "p_tool", "p_dur_ms", "p_trace_hex", "p_span_hex"]
    a = sorted(map(tuple, with_parsed_fields(df).select(*cols).collect()), key=repr)
    b = sorted(map(tuple, with_parsed_fields_pandas(df).select(*cols).collect()), key=repr)
    assert len(a) == df.count()
    assert a == b
    assert any(r[3] is not None for r in a)


def _turn_units_per_window(routed, cond):
    return {
        r["window_start_s"]: r["n"]
        for r in routed.filter(cond)
        .groupBy("window_start_s")
        .agg(F.countDistinct("conv_id", "turn_idx").alias("n"))
        .collect()
    }


def test_turn_sampling_fills_k_under_capacity(spark):
    """Turn sampling draws only from turns the routing rules would sample:
    a capacity-evicted conversation's turns never take a slot, so every
    window samples min(k, eligible turns)."""
    df = generate_transcripts(spark, n_convs=300, seed=7)
    cfg = PipelineConfig(
        size_k=7, window_duration_s=60, seed=7, trace_aware=False, buffer_max_convs=2
    )
    routed = run_pipeline(df, cfg).routed.cache()
    assert routed.filter(F.col("reason") == "capacity").count() > 0
    sampled = _turn_units_per_window(routed, F.col("sink") == "sampled_traces")
    eligible = _turn_units_per_window(
        routed,
        (F.col("sink") == "sampled_traces") | (F.col("reason") == "unsampled"),
    )
    assert eligible
    assert {w: min(7, n) for w, n in eligible.items()} == {
        w: sampled.get(w, 0) for w in eligible
    }
    routed.unpersist()


def test_turn_sampling_duplicates_conserve(spark):
    """Replayed (conv, turn) rows form one turn unit: routing keeps one
    output row per input row, and a replayed turn routes like its twin."""
    df = generate_transcripts(spark, n_convs=300, seed=7).cache()
    dup = df.unionByName(df.limit(200)).cache()
    cfg = PipelineConfig(size_k=7, window_duration_s=60, seed=7, trace_aware=False)
    routed = run_pipeline(dup, cfg).routed
    assert routed.count() == dup.count()
    sinks = (
        routed.filter(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
        .groupBy("window_start_s", "conv_id", "turn_idx")
        .agg(F.countDistinct("sink", "reason").alias("n"))
    )
    assert sinks.filter(F.col("n") > 1).count() == 0
    per_win = _turn_units_per_window(routed, F.col("sink") == "sampled_traces")
    assert per_win and all(n <= 7 for n in per_win.values())


def test_int_priority_rejects_weights(spark):
    """priority='int' orders by prio_int, which carries no weight: a
    weight_col would be silently dropped, so every entry refuses it."""
    from trace_aware_reservoir_otel_spark.operators.reservoir import (
        sample_conversations,
        sample_rows,
    )

    with pytest.raises(ValueError, match="priority"):
        PipelineConfig(priority="int", weight_col="w")
    df = spark.createDataFrame(
        [("c", 0, 0, 2.0)], "conv_id string, turn_idx int, window_start_s long, w double"
    )
    with pytest.raises(ValueError, match="priority"):
        sample_conversations(df, 3, weight_col="w", priority="int")
    with pytest.raises(ValueError, match="priority"):
        sample_rows(df, 3, ["conv_id", "turn_idx"], weight_col="w", priority="int")


def test_metrics_match_recomputation(data):
    m = {
        (r["window_start_s"], r["sink"]): (r["rows"], r["convs"])
        for r in data["metrics"].collect()
    }
    recomputed = (
        data["sampled"]
        .groupBy("window_start_s")
        .agg(F.count(F.lit(1)).alias("rows"), F.countDistinct("conv_id").alias("convs"))
        .collect()
    )
    for r in recomputed:
        assert m[(r["window_start_s"], "sampled_traces")] == (r["rows"], r["convs"])


def test_write_sinks_metrics_equal_in_plan_metrics(spark, tmp_path):
    """write_sinks aggregates the metrics table from the routed snapshot it
    just committed: it must equal the in-plan `res.metrics` over a run with
    invalid, late and evicted rows spread over several export buckets."""
    from trace_aware_reservoir_otel_spark.plans.commit import read_committed
    from trace_aware_reservoir_otel_spark.plans.pipeline import _bucket_expr, write_sinks

    df = generate_transcripts(spark, n_convs=150, seed=7)
    cfg = PipelineConfig(
        size_k=3, window_duration_s=WIN, seed=7, buffer_max_convs=4,
        export_bucket_windows=2,
    )
    res = run_pipeline(df, cfg)
    reasons = {r["reason"] for r in res.routed.select("reason").distinct().collect()}
    assert {"invalid_key", "late", "capacity"} <= reasons
    buckets = res.routed.select(_bucket_expr(cfg).alias("b")).distinct().collect()
    assert len([r for r in buckets if r["b"] >= 0]) > 1

    def rows(metrics):
        return sorted(
            (tuple(r) for r in metrics.collect()),
            key=lambda t: (t[0] is None, t[0] or 0, t[1]),
        )

    expected = rows(res.metrics)
    counts = write_sinks(res, str(tmp_path / "out"))
    committed = read_committed(spark, str(tmp_path / "out" / "metrics"))
    assert committed.dtypes == res.metrics.dtypes
    assert rows(committed) == expected
    assert counts["metrics"] == len(expected)


def test_write_sinks_empty_input(spark, tmp_path):
    """An empty input commits empty routed and metrics tables: the per-sink
    observations over zero rows are NULL, not counts."""
    from trace_aware_reservoir_otel_spark.plans.commit import read_committed
    from trace_aware_reservoir_otel_spark.plans.pipeline import write_sinks

    df = generate_transcripts(spark, n_convs=10, seed=1).limit(0)
    counts = write_sinks(run_pipeline(df, PipelineConfig(size_k=2)), str(tmp_path / "out"))
    assert counts == {"metrics": 0}
    assert read_committed(spark, str(tmp_path / "out" / "metrics")).count() == 0


def test_apply_routing_rule_precedence(spark):
    """apply_routing's rule table on hand-made rows, no pipeline: each row
    matches every rule from its own down, so it must take its own."""
    from datetime import datetime, timezone

    from trace_aware_reservoir_otel_spark.plans.pipeline import apply_routing
    from trace_aware_reservoir_otel_spark.session import local_frame

    def ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc)

    rows = local_frame(
        spark,
        [
            (0, "a", None, ts(10), True),  # invalid, violated, expired, late, evicted, won
            (0, "b", 1, ts(10), True),  # violated, expired, late, evicted, won
            (0, "c", 1, ts(10), True),  # expired, late, evicted, won
            (60, "d", 1, ts(70), True),  # late (all_late), evicted, won
            (60, "e", 1, ts(100), True),  # late (boundary, before cutoff), won
            (60, "e", 2, ts(115), True),  # boundary but on time, won
            (60, "f", 1, ts(70), True),  # evicted, won
            (60, "g", 1, ts(70), True),  # won
            (60, "h", 1, ts(70), None),  # nothing
        ],
        "window_start_s long, conv_id string, turn_idx int, ts timestamp, _won boolean",
    )
    late_units = local_frame(
        spark,
        [(0, c, "all_late", 1e9) for c in "abc"]
        + [(60, "d", "all_late", 1e9), (60, "e", "boundary", 110.0)],
        "window_start_s long, conv_id string, status string, cutoff_s double",
    )
    evicted = local_frame(
        spark, [(0, c) for c in "abc"] + [(60, "d"), (60, "f")],
        "window_start_s long, conv_id string",
    )
    routed = apply_routing(
        rows,
        late_units,
        evicted,
        expired=F.col("window_start_s") < 60,
        violated=F.col("conv_id").isin("a", "b"),
    )
    assert "_won" not in routed.columns and "cutoff_s" not in routed.columns
    got = {
        (r["conv_id"], r["turn_idx"]): (r["sink"], r["reason"])
        for r in routed.collect()
    }
    assert got == {
        ("a", None): ("dlq", "invalid_key"),
        ("b", 1): ("dlq", "span_violation"),
        ("c", 1): ("overflow", "window_expired"),
        ("d", 1): ("dlq", "late"),
        ("e", 1): ("dlq", "late"),
        ("e", 2): ("sampled_traces", None),
        ("f", 1): ("overflow", "capacity"),
        ("g", 1): ("sampled_traces", None),
        ("h", 1): ("overflow", "unsampled"),
    }
