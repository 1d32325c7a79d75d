"""Resume semantics (SURVEY.md §5.3.5): a crashed-and-resumed run must
produce byte-identical sinks to an uninterrupted run — the associative
candidate-merge fixes the reference's restore double-count (§2.11.3).
Round 2 adds: scan-prunability (total rows read independent of n_units),
the W3 window-expiry guard, and state-health gauges."""

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from trace_aware_reservoir_otel_spark import fsutil
from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.plans import commit
from trace_aware_reservoir_otel_spark.plans.pipeline import run_pipeline
from trace_aware_reservoir_otel_spark.plans.state import (
    process_unit,
    run_with_checkpoint,
    slice_predicate,
    state_metrics,
    unit_bounds,
)
from trace_aware_reservoir_otel_spark.synth import generate_transcripts

CFG = PipelineConfig(size_k=5, window_duration_s=60, seed=42, run_id="state-test")


@pytest.fixture(scope="module")
def data(spark):
    return generate_transcripts(spark, n_convs=200, seed=42).cache()


def _sink_total(counts):
    """Rows over the sinks of a `write_sinks` counts dict (its `metrics`
    entry is the metrics table's row count, not a sink)."""
    return sum(v for k, v in counts.items() if k != "metrics")


def _done_units(state_dir):
    return {rec["unit"] for rec in commit.committed_keys(f"{state_dir}/units")}


def _sampled_set(spark, out_dir):
    routed = commit.read_committed(spark, f"{out_dir}/routed")
    return {
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in routed.filter(F.col("sink") == "sampled_traces")
        .select("conv_id", "turn_idx", "text")
        .collect()
    }


def test_resume_equals_uninterrupted(spark, data, tmp_path_factory):
    base = tmp_path_factory.mktemp("state")
    # uninterrupted
    s1 = str(base / "s1")
    o1 = str(base / "o1")
    counts1 = run_with_checkpoint(spark, data, CFG, s1, o1, n_units=4)
    # crash after unit 1, then resume
    s2 = str(base / "s2")
    o2 = str(base / "o2")
    crashed = run_with_checkpoint(
        spark, data, CFG, s2, o2, n_units=4, fail_after_unit=1
    )
    assert crashed is None
    assert _done_units(s2) == {0, 1}
    counts2 = run_with_checkpoint(spark, data, CFG, s2, o2, n_units=4)
    assert counts1 == counts2
    assert _sampled_set(spark, o1) == _sampled_set(spark, o2)


def test_crash_at_unit_commit_resumes_without_the_dangling_version(
    spark, data, tmp_path_factory, monkeypatch
):
    """Crash a checkpoint run at unit 2's commit point: its partials are
    written to a fresh version dir, but the pointer swap fails. Resume must
    redo unit 2 into a new version, never read the dangling dir, reclaim
    it once every unit is committed, and equal an uninterrupted run."""
    from tests.test_fsutil import _FaultyCommitter

    base = tmp_path_factory.mktemp("state_unit_crash")
    o1, s1 = str(base / "o1"), str(base / "s1")
    counts1 = run_with_checkpoint(spark, data, CFG, s1, o1, n_units=4)

    s2, o2 = str(base / "s2"), str(base / "o2")
    units = f"{s2}/units"
    # the third pointer swap of the run is unit 2's
    prev = fsutil.set_committer(_FaultyCommitter(fail_at=3))
    try:
        with pytest.raises(OSError, match="injected fault"):
            run_with_checkpoint(spark, data, CFG, s2, o2, n_units=4)
    finally:
        fsutil.set_committer(prev)
    assert _done_units(s2) == {0, 1}
    dangling = [s["dir"] for s in commit.snapshots(units) if not s["current"]]
    dangling = [d for d in dangling if d not in commit._current_dirs(units)]
    assert len(dangling) == 1 and os.listdir(dangling[0])
    # the gauges skip the dangling dir even before the resume reclaims it
    g0 = {r["metric"]: r["value"] for r in state_metrics(spark, s2).collect()}
    assert g0["state_files"] == len([
        f for d in commit._current_dirs(units) for f in os.listdir(d)
        if f.endswith(".parquet")
    ])

    read_dirs = []
    real_read = commit._read_parquet

    def spy(spark_, path, schema=None):
        read_dirs.append(path)
        return real_read(spark_, path, schema)

    monkeypatch.setattr(commit, "_read_parquet", spy)
    counts2 = run_with_checkpoint(spark, data, CFG, s2, o2, n_units=4)

    assert dangling[0] not in read_dirs
    assert not os.path.exists(dangling[0])  # reclaimed at the last commit
    assert _done_units(s2) == {0, 1, 2, 3}
    assert counts2 == counts1
    assert _sampled_set(spark, o2) == _sampled_set(spark, o1)
    # the gauges count committed state only
    g1, g2 = (
        {r["metric"]: r["value"] for r in state_metrics(spark, s).collect()}
        for s in (s1, s2)
    )
    assert g2["state_rows"] == g1["state_rows"] and g2["units_done"] == 4
    committed_files = [
        f for d in commit._current_dirs(units) for f in os.listdir(d)
        if f.endswith(".parquet")
    ]
    assert g2["state_files"] == len(committed_files)


def test_checkpoint_matches_direct_pipeline(spark, data, tmp_path_factory):
    base = tmp_path_factory.mktemp("state_direct")
    out = str(base / "out")
    counts = run_with_checkpoint(
        spark, data, CFG, str(base / "st"), out, n_units=3
    )
    res = run_pipeline(data, CFG)
    direct = {
        (r["conv_id"], r["turn_idx"])
        for r in res.sampled_traces.select("conv_id", "turn_idx").collect()
    }
    via_state = {(c, t) for c, t, _ in _sampled_set(spark, out)}
    assert direct == via_state
    assert _sink_total(counts) == data.count()


def test_state_table_is_unit_frame_sized(spark, data, tmp_path_factory):
    base = tmp_path_factory.mktemp("state_bounded")
    run_with_checkpoint(spark, data, CFG, str(base / "st"), str(base / "o"), n_units=4)
    state = commit.read_committed(spark, str(base / "st" / "units"))
    # state volume == one row per (window, conv) unit — O(conv-windows),
    # never O(rows) — and window-aligned slices put each unit in exactly
    # one slice (no duplicates across units)
    n_units_rows = state.count()
    assert n_units_rows == state.select("window_start_s", "conv_id").distinct().count()
    expected = (
        data.filter(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
        .select(
            (F.floor(F.unix_timestamp("ts") / 60) * 60).alias("w"), "conv_id"
        )
        .distinct()
        .count()
    )
    assert n_units_rows == expected
    assert n_units_rows < data.count()


def test_rows_scanned_independent_of_n_units(spark, data, tmp_path_factory):
    """The round-1 design re-scanned the full input once per unit (hash
    units prune nothing). Time-slice units are disjoint covers: the summed
    row count over all units equals ONE pass, whatever n_units is."""
    base = tmp_path_factory.mktemp("state_scans")
    n_valid = data.filter(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
    ).count()
    totals = {}
    for n_units in (2, 6):
        bounds = unit_bounds(data, CFG, n_units)
        st = str(base / f"st{n_units}")
        totals[n_units] = sum(
            process_unit(data, CFG, st, u, bounds) for u in range(n_units)
        )
    assert totals[2] == totals[6] == n_valid


def test_slice_predicate_pushes_down(spark, data, tmp_path):
    path = str(tmp_path / "tr.parquet")
    data.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path).filter(slice_predicate(0, 10**10))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "ts" in pushed and "GreaterThanOrEqual" in pushed


def test_window_expiry_guard(spark, data, tmp_path_factory):
    """W3 (processor.go:155-174): state restored after its window closed
    must not re-export as sampled. Within-horizon restore is unaffected."""
    base = tmp_path_factory.mktemp("state_expiry")
    max_s = data.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    min_s = data.agg(F.min(F.unix_timestamp("ts"))).first()[0]

    # horizon before every window's close: nothing expired, equals baseline
    o_live = str(base / "o_live")
    counts_live = run_with_checkpoint(
        spark, data, CFG, str(base / "s_live"), o_live, n_units=2,
        expire_before_s=int(min_s),
    )
    o_base = str(base / "o_base")
    run_with_checkpoint(spark, data, CFG, str(base / "s_base"), o_base, n_units=2)
    assert _sampled_set(spark, o_live) == _sampled_set(spark, o_base)

    # horizon after every window's close: all state expired, zero sampled,
    # rows routed explicitly (no silent discard, no double-count)
    o_exp = str(base / "o_exp")
    counts_exp = run_with_checkpoint(
        spark, data, CFG, str(base / "s_exp"), o_exp, n_units=2,
        expire_before_s=int(max_s) + 120,
    )
    assert "sampled_traces" not in counts_exp
    assert _sink_total(counts_exp) == _sink_total(counts_live) == data.count()
    routed = commit.read_committed(spark, f"{o_exp}/routed")
    reasons = {r["reason"] for r in routed.select("reason").distinct().collect()}
    assert "window_expired" in reasons


def test_state_metrics_gauges(spark, data, tmp_path_factory):
    base = tmp_path_factory.mktemp("state_gauges")
    st = str(base / "st")
    run_with_checkpoint(spark, data, CFG, st, str(base / "o"), n_units=3)
    gauges = {r["metric"]: r["value"] for r in state_metrics(spark, st).collect()}
    assert gauges["units_done"] == 3
    assert gauges["state_rows"] > 0
    assert gauges["state_bytes"] > 0
    assert gauges["state_files"] >= 3
    assert 0 <= gauges["state_manifest_age_s"] < 3600


def test_weighted_checkpoint_matches_direct(spark, data, tmp_path_factory):
    """Weighted A-Res through the checkpoint path: per-slice partials carry
    the weight aggregate, so resume == direct for weighted sampling too."""
    weighted = data.withColumn(
        "w", (F.pmod(F.xxhash64("conv_id"), F.lit(9)) + 1).cast("double")
    ).cache()
    cfg = PipelineConfig(
        size_k=5, window_duration_s=60, seed=42, run_id="state-w",
        weight_col="w", priority="ares",
    )
    base = tmp_path_factory.mktemp("state_weighted")
    out = str(base / "out")
    run_with_checkpoint(spark, weighted, cfg, str(base / "st"), out, n_units=3)
    direct = {
        (r["conv_id"], r["turn_idx"])
        for r in run_pipeline(weighted, cfg)
        .sampled_traces.select("conv_id", "turn_idx")
        .collect()
    }
    assert direct == {(c, t) for c, t, _ in _sampled_set(spark, out)}


def test_more_units_than_windows(spark, data, tmp_path_factory):
    """n_units far above the window count: surplus slices are empty; the
    result is identical and the committed units still resume correctly."""
    base = tmp_path_factory.mktemp("state_many_units")
    o1, o2 = str(base / "o1"), str(base / "o2")
    c1 = run_with_checkpoint(spark, data, CFG, str(base / "s1"), o1, n_units=64)
    c2 = run_with_checkpoint(spark, data, CFG, str(base / "s2"), o2, n_units=2)
    assert c1 == c2
    assert _sampled_set(spark, o1) == _sampled_set(spark, o2)


def test_resume_rejects_changed_n_units(spark, data, tmp_path_factory):
    base = tmp_path_factory.mktemp("state_nunits_guard")
    s = str(base / "st")
    run_with_checkpoint(
        spark, data, CFG, s, str(base / "o"), n_units=4, fail_after_unit=0
    )
    with pytest.raises(ValueError, match="n_units"):
        run_with_checkpoint(spark, data, CFG, s, str(base / "o"), n_units=8)


def test_resume_rejects_grown_input(spark, data, tmp_path_factory):
    """Rows outside the committed ts bounds at resume would silently
    miss pre-aggregation (their windows would sample nothing) — refuse."""
    base = tmp_path_factory.mktemp("state_bounds_guard")
    s = str(base / "st")
    run_with_checkpoint(
        spark, data, CFG, s, str(base / "o"), n_units=4, fail_after_unit=0
    )
    grown = data.unionByName(
        data.limit(5).withColumn("ts", F.col("ts") + F.expr("interval 30 days"))
    )
    with pytest.raises(ValueError, match="bounds"):
        run_with_checkpoint(spark, grown, CFG, s, str(base / "o"), n_units=4)


def test_checkpoint_turn_sampling_equals_direct(spark, data, tmp_path_factory):
    """Checkpoint runs sample turns through the batch plan's routing step:
    with capacity on, the committed routed table equals run_pipeline's
    routed frame row for row, and conserves the input."""
    import dataclasses

    from tests.test_streaming import _routed_histogram
    from trace_aware_reservoir_otel_spark.plans.commit import read_committed

    base = tmp_path_factory.mktemp("state_turns")
    cfg = dataclasses.replace(CFG, trace_aware=False, buffer_max_convs=3)
    out = str(base / "o")
    counts = run_with_checkpoint(spark, data, cfg, str(base / "st"), out, n_units=3)
    got = _routed_histogram(read_committed(spark, f"{out}/routed"))
    assert got == _routed_histogram(run_pipeline(data, cfg).routed)
    assert any(k[3] == "capacity" for k in got)
    assert _sink_total(counts) == sum(got.values()) == data.count()
