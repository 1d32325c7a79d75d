"""The benchmark's inputs and workloads: input generation, the timed job,
the output checks and the traced-run hooks.

Every workload runs the library's module-level functions exactly as a
user would. The traced run installs wrappers around those functions
(`Hooks`) that open a span per layer and force the layer's output at its
boundary (persist + count), so Spark's laziness cannot push one layer's
work into the next; the library files are never edited.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

import checks

# Program configuration is fixed; only the inputs depend on the seed.
SIZE_K = 64
WINDOW_S = 60
PROGRAM_SEED = 42
LATE_TOLERANCE_S = 3600.0

CONVS = 2_000                # x scale, both transcript workloads
SPAN_S = 600                 # conversation starts spread over this many seconds
BATCH_BUFFER_MAX_CONVS = 150  # below conversations per dense window: eviction runs
STREAM_FILES = 4             # time-ordered one-file micro-batches
STREAM_BUCKET_WINDOWS = 16   # export bucket: three mid-stream rolls at scale 1

DEDUP_BASE_DOCS = 2_000
DEDUP_CLUSTER_PCT = 8          # % of base documents that seed a planted cluster
DEDUP_TEMPLATES_PER_DOC = 50   # one boilerplate opening per this many documents
DEDUP_VOCAB = 50_000
DEDUP_FILES = 4
DEDUP_HASHES, DEDUP_BANDS, DEDUP_MAX_BUCKET = 32, 16, 64
DEDUP_SHINGLE_N, DEDUP_THRESHOLD = 3, 0.5


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total / 1e6


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
    )


def _files_and_mb(path: str) -> "tuple[int, float]":
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total / 1e6


# -- inputs --------------------------------------------------------------------


def generate_inputs(spark: SparkSession, seed: int, scale: int, out: str) -> dict:
    """Every workload's input for one (seed, scale), written under `out`:
    `transcripts/` and `late_keys.parquet` (batch_skewed), `stream/`
    (stream_rollover: the same turns as time-ordered micro-batch files) and
    `docs/` (the dedup chain). Returns the input properties."""
    from trace_aware_reservoir_otel_spark.synth import generate_transcripts

    generate_transcripts(
        spark, n_convs=CONVS * scale, seed=seed, span_s=SPAN_S,
    ).write.parquet(f"{out}/transcripts")
    tr = read_transcripts(f"{out}/transcripts")
    late = late_keys(tr)
    late.to_parquet(f"{out}/late_keys.parquet", index=False)
    info = dict(transcript_properties(tr), late_turns=len(late))
    info["micro_batches"] = split_stream(f"{out}/transcripts", f"{out}/stream")
    info["docs"] = generate_docs(seed, DEDUP_BASE_DOCS * scale, f"{out}/docs")
    return info


def read_transcripts(path: str) -> pd.DataFrame:
    """(conv_id, turn_idx, ts_s) of a written transcripts table."""
    t = ds.dataset(path, format="parquet").to_table(columns=["conv_id", "turn_idx", "ts"])
    ts_s = pc.cast(pc.cast(t["ts"], pa.timestamp("s"), safe=False), pa.int64())
    return t.drop(["ts"]).append_column("ts_s", ts_s).to_pandas()


def transcript_properties(tr: pd.DataFrame) -> dict:
    """Input properties recorded in the cache manifest and perfbench/DESIGN.md."""
    invalid = tr["conv_id"].isna() | tr["turn_idx"].isna()
    valid = tr[~invalid]
    per_conv = valid.groupby("conv_id").size()
    units = valid.assign(w=valid["ts_s"] // WINDOW_S)[["w", "conv_id"]].drop_duplicates()
    per_window = units.groupby("w").size()
    late = late_keys(tr)
    late_convs = late["conv_id"].nunique()
    return {
        "rows": len(tr),
        "invalid_rows": int(invalid.sum()),
        "conversations": len(per_conv),
        "mega_share": round(per_conv.max() / len(tr), 4),
        "late_conv_share": round(late_convs / len(per_conv), 4),
        "windows": len(per_window),
        "convs_per_window_median": float(per_window.median()),
        "convs_per_window_max": int(per_window.max()),
    }


def late_keys(tr: pd.DataFrame) -> pd.DataFrame:
    """(conv_id, turn_idx) of turns stamped more than the late tolerance
    before their conversation's root turn (turn 0)."""
    valid = tr[tr["conv_id"].notna() & tr["turn_idx"].notna()]
    root = valid[valid["turn_idx"] == 0][["conv_id", "ts_s"]].rename(columns={"ts_s": "root_s"})
    j = valid.merge(root, on="conv_id")
    late = j[j["ts_s"] < j["root_s"] - LATE_TOLERANCE_S][["conv_id", "turn_idx"]]
    return late.astype({"turn_idx": "int32"}).reset_index(drop=True)


def split_stream(src: str, dst: str) -> int:
    """Cut the transcripts into STREAM_FILES window-aligned, time-ordered
    single-file micro-batches, ordered by modification time (the file
    source's replay order), as `bench.py`'s streaming leaf does."""
    t = ds.dataset(src, format="parquet").to_table()
    # micro-second timestamps: the type Spark reads back as TimestampType
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts",
        pc.cast(t["ts"], pa.timestamp("us", tz="UTC"), safe=False),
    )
    sec = pc.cast(pc.cast(t["ts"], pa.timestamp("s", tz="UTC")), pa.int64())
    lo, hi = pc.min(sec).as_py(), pc.max(sec).as_py()
    edges = [lo] + [
        (int(lo + (hi - lo) * i / STREAM_FILES) // WINDOW_S) * WINDOW_S
        for i in range(1, STREAM_FILES)
    ] + [hi + 1]
    os.makedirs(dst)
    for i in range(STREAM_FILES):
        keep = pc.and_(pc.greater_equal(sec, edges[i]), pc.less(sec, edges[i + 1]))
        path = f"{dst}/{i:03d}.parquet"
        pq.write_table(t.filter(keep), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return STREAM_FILES


def generate_docs(seed: int, n: int, out: str) -> dict:
    """Random-word documents; DEDUP_CLUSTER_PCT% of them seed a planted
    cluster of 1-3 copies, each copy with one token replaced (Jaccard to
    its seed >= 0.8 on 3-gram shingles). A third of the documents open
    with one of n/DEDUP_TEMPLATES_PER_DOC six-word boilerplate phrases, so
    LSH also proposes pairs that verification rejects."""
    rng = np.random.default_rng([seed, 7])
    n_templates = max(1, n // DEDUP_TEMPLATES_PER_DOC)
    lengths = 30 + rng.integers(0, 40, n)
    tmpl = rng.integers(0, n_templates * 3, n)
    words = rng.integers(0, DEDUP_VOCAB, int(lengths.sum()))
    seeds = rng.random(n) < DEDUP_CLUSTER_PCT / 100
    n_copies = 1 + rng.integers(0, 3, n)
    ids, texts, clusters = [], [], []
    offset = 0
    for b in range(n):
        toks = [f"w{w}" for w in words[offset: offset + lengths[b]]]
        offset += lengths[b]
        if tmpl[b] < n_templates:
            toks[:6] = [f"t{tmpl[b]}_{i}" for i in range(6)]
        ids.append(b)
        texts.append(" ".join(toks))
        clusters.append(b if seeds[b] else -1)
        if not seeds[b]:
            continue
        for j in range(1, n_copies[b] + 1):
            copy = list(toks)
            copy[int(rng.integers(0, len(copy)))] = f"z{b}_{j}"
            ids.append(n + b * 4 + j)
            texts.append(" ".join(copy))
            clusters.append(b)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "cluster_id": pa.array(clusters, pa.int64()),
    })
    os.makedirs(out)
    step = -(-len(table) // DEDUP_FILES)
    for i in range(DEDUP_FILES):
        pq.write_table(table.slice(i * step, step), f"{out}/part-{i}.parquet")
    planted = len(table) - n
    return {
        "rows": len(table),
        "planted_duplicates": planted,
        "clusters": int(seeds.sum()),
        "duplicate_rate": round(planted / len(table), 4),
    }


# -- tracing hooks -------------------------------------------------------------


def _force(out) -> int:
    """Materialize every DataFrame in `out`; return the first one's rows."""
    frames = out if isinstance(out, tuple) else (out,)
    first = None
    for df in frames:
        if isinstance(df, DataFrame):
            n = df.persist().count()
            first = n if first is None else first
    return first or 0


class Hooks:
    """Installs span wrappers on module attributes; `restore` undoes them."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.state: dict = {}  # per-workload values the wrappers record
        self._saved: "list[tuple]" = []

    def wrap(self, module, attr: str, span: str, force: bool = False, on_result=None):
        orig = getattr(module, attr)
        tracer = self.tracer

        def wrapper(*a, **k):
            with tracer.span(span) as sp:
                out = orig(*a, **k)
                if force:
                    sp.attrs["rows_out"] = sp.attrs.get("rows_out", 0) + _force(out)
                if on_result is not None:
                    on_result(sp, a, k, out)
            return out

        self._saved.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def before(self, module, attr: str, fn):
        """Run `fn(*args)` before every call of module.attr (phase markers)."""
        orig = getattr(module, attr)

        def wrapper(*a, **k):
            fn(*a, **k)
            return orig(*a, **k)

        self._saved.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._saved):
            setattr(module, attr, orig)
        self._saved = []


def _layer(L: dict, name: str, keys) -> dict:
    agg = L.get(name, {})
    conv = {
        "wall_s": lambda a: a.get("self_s", 0.0),
        "jobs": lambda a: a.get("jobs", 0),
        "cpu_s": lambda a: a.get("cpu_ns", 0) / 1e9,
        "shuffle_mb": lambda a: a.get("shuffle_b", 0) / 1e6,
        "out_mb": lambda a: a.get("out_b", 0) / 1e6,
        "rows_out": lambda a: a.get("rows_out", 0),
        "calls": lambda a: a.get("calls", 0),
    }
    return {f"{name}.{k}": conv[k](agg) for k in keys}


# -- batch_skewed --------------------------------------------------------------


class BatchSkewed:
    name = "batch_skewed"

    def config(self):
        from trace_aware_reservoir_otel_spark.config import PipelineConfig

        return PipelineConfig(
            size_k=SIZE_K, window_duration_s=WINDOW_S, seed=PROGRAM_SEED,
            buffer_max_convs=BATCH_BUFFER_MAX_CONVS,
            late_tolerance_s=LATE_TOLERANCE_S,
        )

    def open(self, inp: str, info: dict) -> dict:
        """What the checks need, loaded once and untimed."""
        return {
            "transcripts": f"{inp}/transcripts",
            "late_keys": pd.read_parquet(f"{inp}/late_keys.parquet"),
            "info": info,
        }

    def run(self, spark, ctx: dict, out: str):
        from trace_aware_reservoir_otel_spark.plans import pipeline as P

        res = P.run_pipeline(spark.read.parquet(ctx["transcripts"]), self.config())
        return P.write_sinks(res, out)

    def check(self, spark, ctx: dict, out: str, result) -> "list[str]":
        from trace_aware_reservoir_otel_spark import fsutil

        # the snapshot the commit pointer names (plans/commit.py protocol)
        current = fsutil.read_jsonl(f"{out}/routed/_CURRENT")[-1]["dir"]
        routed = ds.dataset(current, format="parquet", partitioning="hive").to_table(
            columns=["conv_id", "turn_idx", "window_start_s", "sink", "reason"]
        ).to_pandas()
        info = ctx["info"]
        return checks.check_batch(
            routed, result, info["rows"], info["invalid_rows"], ctx["late_keys"], SIZE_K
        )

    def check_once(self, spark, ctx, out) -> "list[str]":
        return []

    def install(self, hooks: Hooks, out: str) -> None:
        from trace_aware_reservoir_otel_spark.plans import pipeline as P

        def note_units(sp, a, k, res):
            hooks.state["units"] = sp.attrs.get("rows_out", 0)

        def note_rows_in(sp, a, k, res):
            sp.attrs["rows_in"] = hooks.state.get("units", 0)

        def note_winners(sp, a, k, res):
            hooks.state["winners"] = sp.attrs.get("rows_out", 0)

        hooks.wrap(P, "enrich", "parse_enrich", force=True)
        hooks.wrap(P, "_unit_pre_aggregate", "unit_preagg", force=True)
        hooks.wrap(P, "_units_from_pre", "late_classify", force=True, on_result=note_units)
        hooks.wrap(P, "capacity_split_units", "reservoir", force=True, on_result=note_rows_in)
        hooks.wrap(P, "topk_units", "reservoir", force=True, on_result=note_winners)
        hooks.wrap(P, "apply_routing", "route", force=True)
        hooks.wrap(P, "write_sinks", "sink_write")

    def layer_metrics(self, L: dict, out: str, state: dict) -> dict:
        m = {}
        for name, keys in (
            ("parse_enrich", ("wall_s", "jobs", "cpu_s", "rows_out")),
            ("unit_preagg", ("wall_s", "jobs", "cpu_s", "shuffle_mb", "rows_out")),
            ("late_classify", ("wall_s", "jobs", "shuffle_mb", "rows_out")),
            ("route", ("wall_s", "jobs", "cpu_s", "rows_out")),
        ):
            m.update(_layer(L, name, keys))
        m.update(_layer(L, "reservoir", ("wall_s", "jobs", "shuffle_mb")))
        res = L.get("reservoir", {})
        m["reservoir.rows_in"] = res.get("rows_in", 0)
        # the capacity split's forced output (kept + evicted units) is not a
        # reservoir output: rows_out is the winner count of topk_units alone
        m["reservoir.rows_out"] = state.get("winners", 0)
        m.update(_layer(L, "sink_write", ("wall_s", "jobs")))
        files, mb = _files_and_mb(f"{out}/routed")
        m["sink_write.files"] = files
        m["sink_write.out_mb"] = mb
        return m


# -- stream_rollover -----------------------------------------------------------


class StreamRollover:
    name = "stream_rollover"

    def config(self):
        from trace_aware_reservoir_otel_spark.config import PipelineConfig

        return PipelineConfig(
            size_k=SIZE_K, window_duration_s=WINDOW_S, seed=PROGRAM_SEED,
            late_tolerance_s=None, export_bucket_windows=STREAM_BUCKET_WINDOWS,
        )

    def open(self, inp: str, info: dict) -> dict:
        return {"stream": f"{inp}/stream", "transcripts": f"{inp}/transcripts", "info": info}

    def run(self, spark, ctx: dict, out: str):
        from trace_aware_reservoir_otel_spark.streaming import pipeline as S

        cfg = self.config()
        S.run_incremental_routed(
            spark, ctx["stream"], cfg, f"{out}/state", f"{out}/ck", f"{out}/out"
        )
        S.flush_incremental(spark, cfg, f"{out}/state", f"{out}/out")
        return None

    def rolls(self, out: str) -> int:
        """Mid-stream rolls that exported at least one bucket: each marks
        its buckets with its micro-batch id (flush marks with None)."""
        from trace_aware_reservoir_otel_spark.streaming import pipeline as S

        marks = S._exported_buckets(f"{out}/state").values()
        return len({b for b in marks if b is not None})

    def check(self, spark, ctx, out, result) -> "list[str]":
        from trace_aware_reservoir_otel_spark.streaming import pipeline as S

        rows_in, rows_out = S.incremental_conservation(
            spark, f"{out}/state", f"{out}/out"
        )
        return checks.check_stream(rows_in, rows_out, ctx["info"]["rows"], self.rolls(out))

    def check_once(self, spark, ctx, out) -> "list[str]":
        """The streamed sample equals the batch plan's on the same input."""
        from trace_aware_reservoir_otel_spark.plans.pipeline import run_pipeline
        from trace_aware_reservoir_otel_spark.streaming import pipeline as S

        def pairs(df: DataFrame) -> "set[tuple]":
            return {
                (r[0], r[1])
                for r in df.filter(F.col("sink") == "sampled_traces")
                .select("window_start_s", "conv_id").distinct().collect()
            }

        exported = S.read_exported(spark, f"{out}/state", f"{out}/out")
        res = run_pipeline(spark.read.parquet(ctx["transcripts"]), self.config())
        fails = checks.check_stream_vs_batch(pairs(exported), pairs(res.routed))
        res.unpersist()
        return fails

    def install(self, hooks: Hooks, out: str) -> None:
        from trace_aware_reservoir_otel_spark import fsutil
        from trace_aware_reservoir_otel_spark.streaming import pipeline as S

        tr = hooks.tracer
        state_dir = f"{out}/state"
        hooks.state = {"state_peak_mb": 0.0}

        def close(name):
            sp = tr.open_named(name)
            if sp is not None:
                tr.end(sp)

        def sample_state():
            if os.path.isdir(state_dir):
                hooks.state["state_peak_mb"] = max(
                    hooks.state["state_peak_mb"], _du_mb(state_dir)
                )

        def batch_start(*a, **k):
            close("stream.batch")
            sample_state()
            tr.begin("stream.batch")
            tr.begin("stream.spill")

        def spill_done(*a, **k):
            close("stream.spill")
            tr.begin("stream.pre")

        def epoch_upsert(path, *a, **k):
            if os.path.basename(path) == "epoch.jsonl":
                close("stream.pre")

        for attr in ("read_jsonl", "write_jsonl_atomic", "append_jsonl_atomic",
                     "upsert_jsonl_atomic"):
            hooks.wrap(fsutil, attr, "stream.manifest")
        # phase markers wrap outside the spans above, so a phase closes
        # before the manifest span of the call that ends it opens
        hooks.before(S, "_scale_batch", batch_start)
        hooks.before(S, "_bucket_counts_from_footers", spill_done)
        hooks.before(fsutil, "upsert_jsonl_atomic", epoch_upsert)
        hooks.wrap(S, "_roll", "stream.roll")
        hooks.wrap(S, "_vacuum_exported", "stream.vacuum")
        hooks.wrap(S, "_revacuum_done", "stream.vacuum")
        hooks.wrap(S, "compact_manifests", "stream.compact")
        hooks.wrap(S, "flush_incremental", "stream.flush")

        def run_end(sp, a, k, res):
            close("stream.batch")
            sample_state()

        hooks.wrap(S, "run_incremental_routed", "stream.run", on_result=run_end)

    def layer_metrics(self, L: dict, out: str, state: dict) -> dict:
        from trace_aware_reservoir_otel_spark import fsutil

        m = {}
        batch = L.get("stream.batch", {})
        durs = batch.get("durations", [])
        m["stream.batch.calls"] = batch.get("calls", 0)
        m["stream.batch.p50_s"] = statistics.median(durs) if durs else 0.0
        m["stream.batch.max_s"] = max(durs) if durs else 0.0
        m.update(_layer(L, "stream.spill", ("wall_s", "jobs", "out_mb")))
        m.update(_layer(L, "stream.pre", ("wall_s", "jobs", "out_mb")))
        m.update(_layer(L, "stream.roll", ("wall_s", "jobs")))
        m["stream.roll.calls"] = self.rolls(out)
        # rows routed by mid-stream rolls: their export records, plus the
        # summary that manifest compaction folds closed records into
        m["stream.roll.rows_out"] = sum(
            r.get("rows_total", 0)
            for r in fsutil.read_jsonl(f"{out}/state/metrics.jsonl")
            if r.get("type") == "summary"
            or (r.get("type") == "export" and r.get("batch_id") is not None)
        )
        for name in ("stream.manifest", "stream.vacuum", "stream.compact"):
            m.update(_layer(L, name, ("wall_s", "calls")))
        m.update(_layer(L, "stream.flush", ("wall_s", "jobs")))
        m["stream.state_peak_mb"] = state.get("state_peak_mb", 0.0)
        return m


# -- the near-duplicate dedup chain --------------------------------------------


class DedupChain:
    """minhash -> LSH candidates -> Jaccard verification -> components ->
    survivors over the generated corpus. Run untraced once and then traced
    in batch_skewed's traced run, after the batch job (see DESIGN.md)."""

    name = "dedup"

    def open(self, inp: str, info: dict) -> dict:
        return {
            "docs": f"{inp}/docs",
            "clusters": pd.read_parquet(f"{inp}/docs", columns=["doc_id", "cluster_id"]),
            "info": info["docs"],
        }

    def run(self, spark, ctx: dict, out: str):
        from trace_aware_reservoir_otel_spark.operators import dedup as D

        docs = spark.read.parquet(ctx["docs"]).select("doc_id", "text")
        sig = D.minhash_signatures(
            docs, num_hashes=DEDUP_HASHES, n=DEDUP_SHINGLE_N, seed=PROGRAM_SEED
        )
        cand = D.lsh_candidate_pairs(sig, bands=DEDUP_BANDS, max_bucket=DEDUP_MAX_BUCKET)
        # cached so the output check reads the pairs the chain verified
        verified = D.ngram_jaccard_pairs(
            docs, n=DEDUP_SHINGLE_N, threshold=DEDUP_THRESHOLD, candidates=cand
        ).persist()
        survivors = D.dedup_survivors(docs, verified)
        write_survivors(survivors, f"{out}/survivors")
        return verified

    def check(self, spark, ctx, out, verified) -> "list[str]":
        pairs = verified.select("doc_a", "doc_b", "jaccard").toPandas()
        verified.unpersist()
        survivors = pd.read_parquet(f"{out}/survivors", columns=["doc_id"])["doc_id"]
        return checks.check_dedup(
            ctx["clusters"], survivors, pairs,
            ctx["info"]["planted_duplicates"], DEDUP_THRESHOLD,
        )

    def install(self, hooks: Hooks, out: str) -> None:
        from trace_aware_reservoir_otel_spark.operators import dedup as D

        hooks.state["driver_path"] = 0

        def driver_path(sp, a, k, res):
            hooks.state["driver_path"] = 1

        hooks.wrap(D, "minhash_signatures", "minhash", force=True)
        hooks.wrap(D, "lsh_candidate_pairs", "lsh_pairs", force=True)
        hooks.wrap(D, "ngram_jaccard_pairs", "jaccard_verify", force=True)
        hooks.wrap(D, "connected_components", "components", force=True)
        hooks.wrap(D, "_cc_driver_union_find", "components.union_find",
                   on_result=driver_path)
        hooks.wrap(D, "dedup_survivors", "survivors")
        hooks.wrap(sys.modules[__name__], "write_survivors", "survivors.write")

    def layer_metrics(self, L: dict, out: str, state: dict) -> dict:
        m = {}
        for name in ("minhash", "lsh_pairs"):
            m.update(_layer(L, name, ("wall_s", "jobs", "cpu_s", "shuffle_mb", "rows_out")))
        m.update(_layer(L, "jaccard_verify", ("wall_s", "jobs", "shuffle_mb", "rows_out")))
        cand = L.get("lsh_pairs", {}).get("rows_out", 0)
        m["jaccard_verify.useful_ratio"] = (
            L.get("jaccard_verify", {}).get("rows_out", 0) / cand if cand else 0.0
        )
        comp = _layer(L, "components", ("wall_s", "jobs", "rows_out"))
        uf = L.get("components.union_find", {})
        comp["components.wall_s"] += uf.get("self_s", 0.0)
        comp["components.jobs"] += uf.get("jobs", 0)
        m.update(comp)
        m["components.driver_path"] = state.get("driver_path", 0)
        surv = _layer(L, "survivors", ("wall_s", "jobs"))
        w = L.get("survivors.write", {})
        surv["survivors.wall_s"] += w.get("self_s", 0.0)
        surv["survivors.jobs"] += w.get("jobs", 0)
        m.update(surv)
        m["survivors.rows_out"] = parquet_rows(f"{out}/survivors")
        return m


def write_survivors(survivors: DataFrame, path: str) -> None:
    survivors.write.parquet(path)


WORKLOADS = {w.name: w for w in (BatchSkewed, StreamRollover)}
# chains a workload's traced run also times, after its own job
TRACED_EXTRA = {"batch_skewed": DedupChain}
