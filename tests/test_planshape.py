"""Physical-plan regression guards: the properties that make the engine
scale are plan shapes, not outputs — assert them so a refactor that
silently reintroduces a fact-side shuffle or a cartesian product fails CI,
not a 100-TB run."""

import io
import os
import re
from contextlib import redirect_stdout

import pytest

from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.plans.pipeline import build_routed, prepare
from trace_aware_reservoir_otel_spark.synth import generate_transcripts


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def flagship_plan(spark):
    tr = generate_transcripts(spark, n_convs=500, seed=42)
    cfg = PipelineConfig(
        size_k=16, window_duration_s=60, seed=42, buffer_max_convs=50
    )
    routed = build_routed(tr, cfg)
    return _plan_of(routed)


def test_no_sort_merge_join_or_cartesian(flagship_plan):
    # every join in the routed plan must be a broadcast of a conv-level set
    assert "SortMergeJoin" not in flagship_plan
    assert "Cartesian" not in flagship_plan
    assert "BroadcastHashJoin" in flagship_plan


def test_no_fact_side_hash_exchange(flagship_plan):
    # shuffle exchanges are allowed only above the (window, conv) unit
    # aggregation — i.e. every hashpartitioning key set must include
    # conv-level grouping keys, never raw per-turn columns like turn_idx
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", flagship_plan):
        keys = m.group(1)
        assert "turn_idx" not in keys, f"fact-side shuffle: {keys}"


def test_similarity_near_pairs_plan_is_bucketed(spark):
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.operators.similarity import (
        embedding_near_pairs,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(8)]).cast("array<float>").alias(
            "embedding"
        ),
    )
    plan = _plan_of(embedding_near_pairs(emb, threshold=0.9))
    assert "Cartesian" not in plan  # bucket equi-join, never all-pairs


def test_unit_branch_prunes_text_column(spark, tmp_path):
    """The unit-aggregation branch must scan only the narrow key columns —
    a plan whose every scan reads `text` ships the whole corpus through
    the aggregation at 100 TB."""
    from pyspark.sql import functions as F

    df = generate_transcripts(spark, n_convs=300, seed=3)
    path = str(tmp_path / "tr")
    df.write.mode("overwrite").parquet(path)
    tr = spark.read.parquet(path)
    cfg = PipelineConfig(size_k=8, window_duration_s=60, seed=42)
    routed = build_routed(tr, cfg)
    plan = _plan_of(routed)
    schemas = [
        line.split("ReadSchema:", 1)[1]
        for line in plan.splitlines()
        if "ReadSchema:" in line
    ]
    assert schemas, "expected parquet scans in the plan"
    narrow = [s for s in schemas if "text" not in s]
    wide = [s for s in schemas if "text" in s]
    assert narrow, f"no pruned scan found: {schemas}"
    assert wide, "the routed output scan must still carry text"


def test_metrics_commit_does_not_rerun_routed_plan(spark, tmp_path, monkeypatch):
    """write_sinks commits the metrics table from the routed snapshot it
    has just written: the metrics plan must not scan the transcripts input
    again or rebuild the routed plan's broadcast joins."""
    from trace_aware_reservoir_otel_spark.plans import commit
    from trace_aware_reservoir_otel_spark.plans.pipeline import run_pipeline, write_sinks

    path = str(tmp_path / "transcripts")
    generate_transcripts(spark, n_convs=300, seed=5).write.parquet(path)
    cfg = PipelineConfig(size_k=8, window_duration_s=60, seed=42, buffer_max_convs=20)
    written = {}
    commit_write = commit.commit_write

    def recording_commit_write(df, table_dir, *a, **k):
        written[table_dir] = df
        return commit_write(df, table_dir, *a, **k)

    monkeypatch.setattr(commit, "commit_write", recording_commit_write)
    out = str(tmp_path / "out")
    write_sinks(run_pipeline(spark.read.parquet(path), cfg), out)

    def reads_input(df):
        return any(os.path.basename(os.path.dirname(f)) == "transcripts"
                   for f in df.inputFiles())

    routed, metrics = written[f"{out}/routed"], written[f"{out}/metrics"]
    assert reads_input(routed) and "BroadcastHashJoin" in _plan_of(routed)
    assert not reads_input(metrics), metrics.inputFiles()
    plan = _plan_of(metrics)
    assert "BroadcastHashJoin" not in plan, plan


def test_late_join_broadcast_without_size_estimate(spark):
    """The late-unit join is broadcast by hint, not by the planner's size
    estimate: that estimate grows with the fact row count, so an unhinted
    late join turns into a fact-side SortMergeJoin on large inputs. With
    size-based broadcasting switched off, every routed join must still
    be a broadcast."""
    tr = generate_transcripts(spark, n_convs=300, seed=7)
    cfg = PipelineConfig(
        size_k=8, window_duration_s=60, seed=42, buffer_max_convs=20,
        late_tolerance_s=3600.0,
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        routed = build_routed(tr, cfg)
        plan = _plan_of(routed)
    finally:
        spark.conf.set(key, saved)
    assert "SortMergeJoin" not in plan, plan


def test_checkpoint_unit_aggregate_skips_enrich(spark, tmp_path, monkeypatch):
    """A checkpoint unit aggregates the raw windowed slice, as the batch
    plan's unit branch does: no dimension join and no text column in the
    plan of its unit pre-aggregate."""
    from trace_aware_reservoir_otel_spark.plans import state

    path = str(tmp_path / "tr")
    generate_transcripts(spark, n_convs=100, seed=3).write.parquet(path)
    tr = spark.read.parquet(path)
    cfg = PipelineConfig(size_k=8, window_duration_s=60, seed=42)
    seen = []
    pre_aggregate = state._unit_pre_aggregate

    def recording(rows, c):
        seen.append(pre_aggregate(rows, c))
        return seen[-1]

    monkeypatch.setattr(state, "_unit_pre_aggregate", recording)
    bounds = state.unit_bounds(tr, cfg, 1)
    state.process_unit(tr, cfg, str(tmp_path / "st"), 0, bounds)
    plan = _plan_of(seen[0])
    assert "BroadcastHashJoin" not in plan, plan
    schemas = [l for l in plan.splitlines() if "ReadSchema:" in l]
    assert schemas and not any("text" in l for l in schemas), schemas


def test_ivf_assign_plan_has_no_join_or_exchange(spark):
    """ivf_assign must be a single projection (literal-fold argmax): a
    join/explode/groupBy shape would materialize rows x n_centroids
    intermediates through the aggregation machinery at scale."""
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(8)]).cast("array<float>").alias(
            "embedding"
        ),
    )
    plan = _plan_of(ivf_assign(emb, ivf_centroids(emb, n_centroids=4, seed=42)))
    for node in ("Join", "Cartesian", "Generate", "Expand", "Exchange", "Aggregate"):
        assert node not in plan, f"{node} in ivf_assign plan:\n{plan}"


def test_parquet_dims_join_stays_broadcast(spark, tmp_path):
    """Dimension tables loaded from parquet files (the production lookup
    layout) must still enrich via BroadcastHashJoin — never a fact-side
    shuffle or SortMergeJoin."""
    from trace_aware_reservoir_otel_spark.operators.enrich import (
        enrich,
        load_dims,
        write_dims,
    )

    write_dims(spark, str(tmp_path / "dims"))
    dim_role, dim_tool = load_dims(spark, str(tmp_path / "dims"))
    tr = generate_transcripts(spark, n_convs=300, seed=11)
    plan = _plan_of(enrich(tr, dim_role, dim_tool))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan

    # end-to-end: file dims drive the full pipeline identically
    cfg = PipelineConfig(size_k=8, window_duration_s=60, seed=42)
    routed = build_routed(tr, cfg, dim_role=dim_role, dim_tool=dim_tool)
    assert "SortMergeJoin" not in _plan_of(routed)


def test_corpus_prep_dedup_has_no_join(spark):
    """corpus_prep's survivor selection must stay a single window over the
    content hash — a refactor that reintroduces a survivor-table join
    (broadcast of O(corpus) rows) would not survive 100 TB."""
    from trace_aware_reservoir_otel_spark.contract import _q_corpus_prep

    plan = _plan_of(_q_corpus_prep(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan, plan
    assert "WindowExec" in plan or "Window" in plan


def test_decontaminate_bench_join_stays_broadcast(spark):
    """The benchmark gram set is fixed-size (eval suites don't grow with
    the corpus): its join against the exploded train grams must be a
    BroadcastHashJoin — a sort-merge join here would shuffle the full
    corpus-gram stream at 100 TB."""
    from trace_aware_reservoir_otel_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(i, f"doc {i} alpha beta gamma delta epsilon zeta") for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan_of(decontaminate(train, bench, n=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # groupBy(doc_id) count aggregation must have a map-side partial pass
    assert "partial_count" in plan or "HashAggregate" in plan


def test_repetition_features_single_scan_no_join(spark):
    """repetition_features covers every n in ONE pass: exactly one
    explode of the input (no per-n re-read), hash aggregation (map-side
    partial pass collapses duplicate grams before the shuffle), and NO
    join of any kind — the gn=0 sentinel row replaces the doc-id
    re-join a naive zeros-fill would need (both sides O(docs))."""
    from trace_aware_reservoir_otel_spark.functions.text import repetition_features

    docs = spark.createDataFrame(
        [(i, "a b c a b c a b") for i in range(20)], "doc_id long, text string"
    )
    plan = _plan_of(repetition_features(docs))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert len(re.findall(r"Generate \(\d+\)", plan)) == 1, (
        "n-gram explode must appear exactly once in the plan tree"
    )


def test_corpus_prep_full_gates_are_broadcast_anti_joins(spark, sf_dir):
    """corpus_prep_full's repetition + contamination gates anti-join the
    corpus against SMALL flagged-id sets: both must be broadcast (the
    dedup_survivors pattern) — the corpus itself shuffles exactly once,
    for the content-hash survivor window."""
    from trace_aware_reservoir_otel_spark.contract_quality import (
        q_corpus_prep_full,
    )

    plan = _plan_of(q_corpus_prep_full(spark, sf_dir))
    assert "CartesianProduct" not in plan
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    assert n_bhj >= 2, f"expected >=2 broadcast anti-joins, plan has {n_bhj}"
    # the only sort-merge allowed would be none at all: flagged-id sets ride
    # broadcast, survivor selection is a window (Sort+Exchange, not a join)
    assert "SortMergeJoin" not in plan


def test_training_mix_pipeline_two_downstream_exchanges_no_smj(spark, sf_dir):
    """The capstone composition's final-stage plan: the checkpointed
    clean-corpus subtree leaves AT MOST the two per-source window
    exchanges (mix, pack) downstream — zero when the checkpoint's
    preserved source partitioning satisfies them outright — with zero
    sort-merge joins. Without the checkpoint the same plan carried 19
    exchanges (the gate+decontamination subtree re-ran per consumer)."""
    from trace_aware_reservoir_otel_spark.contract_quality import (
        q_training_mix_pipeline,
    )

    plan = _plan_of(q_training_mix_pipeline(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 2, f"expected <=2 window exchanges, plan has {n_ex}:\n{plan}"


def test_incremental_dedup_probe_shape(spark, tmp_path):
    """The index probe must be a LEFT SEMI join (existence only — no pair
    fan-out) and the final survivor drop a broadcast anti-join; the batch
    never sort-merge joins the index."""
    from trace_aware_reservoir_otel_spark.operators.dedup import (
        incremental_dedup_survivors,
        minhash_index,
    )

    hist = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} q{i}") for i in range(20)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "mhidx")
    minhash_index(hist, idx, num_hashes=8, n=3, bands=4, seed=7)
    batch = spark.createDataFrame(
        [(100 + i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan_of(incremental_dedup_survivors(batch, idx))
    assert "LeftSemi" in plan, plan
    assert re.search(r"BroadcastHashJoin.*LeftAnti", plan), plan


# physical operators that run rows through a Python worker process
_PYTHON_NODES = (
    "ExistingRDD",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def test_default_batch_and_stream_plans_start_no_python_worker(spark):
    """The default-config routed plan and the streaming micro-batch's
    parse/enrich/window plan are JVM-only: the built-in dims are local
    relations, not a PythonRDD scan."""
    tr = generate_transcripts(spark, n_convs=50, seed=42)
    cfg = PipelineConfig()
    routed = build_routed(tr, cfg)
    for plan in (_plan_of(routed), _plan_of(prepare(tr, cfg))):
        assert "LocalTableScan" in plan
        found = [node for node in _PYTHON_NODES if node in plan]
        assert not found, f"{found} in plan:\n{plan}"


def test_dims_plan_as_local_table_scan(spark):
    from trace_aware_reservoir_otel_spark.operators.enrich import (
        dim_role_df,
        dim_tool_df,
    )
    from trace_aware_reservoir_otel_spark.schema import (
        DIM_ROLE_SCHEMA,
        DIM_TOOL_SCHEMA,
    )

    for df, schema in (
        (dim_role_df(spark), DIM_ROLE_SCHEMA),
        (dim_tool_df(spark), DIM_TOOL_SCHEMA),
    ):
        plan = _plan_of(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert df.schema == schema


def test_local_frame_round_trip(spark):
    from pyspark.sql import types as T

    from trace_aware_reservoir_otel_spark.session import local_frame

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("n", T.LongType(), True),
            T.StructField("x", T.DoubleType(), True),
            T.StructField("b", T.BooleanType(), False),
        ]
    )
    rows = [("a", 1 << 40, 0.5, True), ("b", None, None, False)]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    # the JVM side keeps the nullability too, not just the Python wrapper
    assert df.select("*").schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    assert "LocalTableScan" in _plan_of(df)

    empty = local_frame(spark, [], "metric string, value double")
    assert empty.schema == T.StructType.fromDDL("metric string, value double")
    assert empty.collect() == []


@pytest.mark.parametrize(
    "ids", [["d", "a", "c", "b", "e"], [5 << 40, 1, 3, 2 << 40, 9]]
)
def test_cc_driver_union_find_is_local_relation(spark, ids):
    """The driver union-find's labels come back as a local relation,
    keeping the edge frame's id type (string or long)."""
    from trace_aware_reservoir_otel_spark.operators.dedup import (
        _cc_driver_union_find,
    )

    a, b, c, d, e = ids
    id_type = "string" if isinstance(a, str) else "bigint"
    edges = [(a, b), (b, c), (d, e)]
    sym = spark.createDataFrame(
        edges + [(y, x) for x, y in edges], f"a {id_type}, b {id_type}"
    )
    out = _cc_driver_union_find(sym)
    assert out.schema["id"].dataType == sym.schema["a"].dataType
    assert "LocalTableScan" in _plan_of(out)
    assert dict(map(tuple, out.collect())) == {
        a: min(a, b, c), b: min(a, b, c), c: min(a, b, c),
        d: min(d, e), e: min(d, e),
    }
