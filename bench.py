#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line on stdout).

Default mode: times the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
transcripts pipeline at bench scale (synthetic transcripts, cached to
parquet so generation cost is excluded), and prints:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "turns_per_sec": ...}

--scaling mode: runs the flagship pipeline in two fresh subprocesses at
local[N] and local[4N] (default 8 and 32) on the SAME cached input and
reports throughput at both plus scaling efficiency — the sandbox proxy for
the north rule's two-cluster-size criterion (BASELINE.json). Also runs a
TRIVIAL parquet-scan control (scan + xxhash64 + sum, zero shuffle) at both
core counts and reports engine-relative efficiency = pipeline efficiency /
control efficiency: the control measures what this noisy multi-tenant VM
itself scales at, so engine-relative isolates the engine's own scaling
from hypervisor steal / cache contention.

--scaling-multiproc mode: weak-scaling across PROCESSES (the actual
cluster shape — multiple JVMs, not one JVM with more threads): 1 process x
local[C] on 1/P of the input vs P concurrent processes x local[C], each on
its own 1/P shard. Efficiency = aggregate throughput / (P x single-process
throughput).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_CONVS = int(os.environ.get("TARO_BENCH_CONVS", "300000"))
_CACHE_BASE = (
    "/dev/shm/taro_bench_transcripts"
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
    else "/tmp/taro_bench_transcripts"
)
CACHE_DIR = os.environ.get("TARO_BENCH_CACHE", _CACHE_BASE)


def _spark(cores: int):
    from trace_aware_reservoir_otel_spark.session import get_spark

    # 16MB splits: the bench inputs are a few GB, and the 128MB default
    # yields fewer scan tasks than cores (measured 0.37 -> 0.45 trivial-
    # scan efficiency). A real cluster reading 100 TB keeps the default.
    extra = {"spark.sql.files.maxPartitionBytes": "16m"}
    if not os.environ.get("SPARK_DRIVER_MEMORY"):
        # heap must scale with thread count: 32 tasks' in-flight state in
        # the 8-thread heap GC-thrashes (measured at 234M turns: 8g=4.3M
        # t/s vs 24g=8.1M t/s at local[32] — a 1.9x). ~0.75g/thread, 8g
        # floor, mirrors per-executor sizing on a real cluster.
        extra["spark.driver.memory"] = f"{max(8, (cores * 3) // 4)}g"
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        # shuffle/scratch on tmpfs: keeps measurements CPU-bound instead of
        # at the mercy of the sandbox's shared disk
        extra["spark.local.dir"] = "/dev/shm/taro-spark-local"
    return get_spark(
        app_name=f"taro-bench-{cores}",
        cores=cores,
        shuffle_partitions=max(32, cores),
        extra_conf=extra,
    )


def _ensure_bench_transcripts(spark) -> str:
    """Generate-once, read-many synthetic transcripts at bench scale."""
    path = f"{CACHE_DIR}_{BENCH_CONVS}"
    marker = f"{path}/_SUCCESS"
    if not os.path.exists(marker):
        from trace_aware_reservoir_otel_spark.synth import generate_transcripts

        # no repartition: range partitioning is already even (LLN over
        # hash-driven conv sizes) and skipping the shuffle makes 10^8-row
        # generation feasible
        df = generate_transcripts(spark, n_convs=BENCH_CONVS, seed=42, span_s=7200)
        df.write.mode("overwrite").parquet(path)
    return path


def _flagship(spark, transcripts_path: str) -> "tuple[float, int]":
    """Run the full parse->enrich->window->sample->route chain; returns
    (seconds, input rows). Forces all three sinks + metrics."""
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.config import PipelineConfig
    from trace_aware_reservoir_otel_spark.plans.pipeline import build_routed

    paths = (
        [transcripts_path] if isinstance(transcripts_path, str) else transcripts_path
    )
    tr = spark.read.parquet(*paths)
    cfg = PipelineConfig(size_k=64, window_duration_s=60, seed=42)
    t0 = time.time()
    routed = build_routed(tr, cfg)
    counts = {
        r["sink"]: r["n"]
        for r in routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sec = time.time() - t0
    n_input = sum(counts.values())
    # overflow may legitimately be empty (k >= conversations per window)
    assert "sampled_traces" in counts and n_input > 0, counts
    return sec, n_input


def run_headline(spark) -> "tuple[dict, dict]":
    from trace_aware_reservoir_otel_spark.contract import contract_queries

    # the round-1 headline set (kept stable for cross-round comparison)...
    names = [
        "flagship_pipeline",
        "lib_reservoir_events",
        "lib_trace_sample_events",
        "reservoir_simple",
        "trace_aware_reservoir",
        "routing_counts",
        "session_window",
        "pricing_summary",
        "top_revenue_orders",
        "nation_revenue",
        "token_count",
        "dedup_exact",
        "doc_fingerprint",
    ]
    r1_subset = set(names) | {"flagship_bench_scale"}
    # ...plus round-2 additions (dedup/similarity/multimodal breadth); the
    # output carries `headline_r1_subset_sec` so totals stay comparable
    names += [
        "minhash_lsh_pairs",
        "ann_ivf_topk",
        "multimodal_media_stats",
    ]
    qs = contract_queries()
    times: dict = {}
    extras: dict = {}
    calib: dict = {}
    # best-of-2 per query: the sandbox's background load varies 2-3x within
    # minutes; a single-shot headline is a coin flip on the noise, and the
    # second shot also strips one-time codegen/broadcast warm-up. Each
    # number carries its own calibration probe (single-thread mops/sec
    # sampled right after the timing), so a reader can tell a slow query
    # from a loaded machine without trusting the run-level average.
    for name in names:
        if name not in qs:
            continue
        best, n = None, 0
        for _ in range(2):
            t0 = time.time()
            n = qs[name](spark, SF_DIR).groupBy().count().collect()[0][0]
            sec = time.time() - t0
            best = sec if best is None or sec < best else best
        times[name] = round(best, 3)
        calib[name] = round(_cpu_calibration(0.15) / 1e6, 1)
        extras[f"rows_{name}"] = int(n)
    # flagship at bench scale (synthetic transcripts). The FIRST run after
    # a session touches this input is 5-7x slower than steady state (JIT,
    # codegen caches, file listing) — round 3 recorded min(cold, semi-cold)
    # and looked like a 3.6x regression; an explicit warm-up pass excluded
    # from the min keeps the artifact a steady-state number, and the cold
    # time is recorded alongside for transparency.
    path = _ensure_bench_transcripts(spark)
    warm_sec, n_input = _flagship(spark, path)
    sec, _ = _flagship(spark, path)
    sec2, _ = _flagship(spark, path)
    sec = min(sec, sec2)
    times["flagship_bench_scale"] = round(sec, 3)
    calib["flagship_bench_scale"] = round(_cpu_calibration(0.15) / 1e6, 1)
    extras["flagship_warmup_sec"] = round(warm_sec, 3)
    extras["bench_turns"] = int(n_input)
    extras["turns_per_sec"] = round(n_input / sec, 1)
    # the reference's actual shape: streaming rollover export (r3)
    ssec, srows, srolls = _streaming_rollover(spark, path)
    times["streaming_rollover_bench"] = round(ssec, 3)
    calib["streaming_rollover_bench"] = round(_cpu_calibration(0.15) / 1e6, 1)
    extras["streaming_turns_per_sec"] = round(srows / ssec, 1)
    extras["streaming_mid_rolls"] = int(srolls)
    extras["headline_r1_subset_sec"] = round(
        sum(v for k, v in times.items() if k in r1_subset), 3
    )
    extras["calib_per_query_mops"] = calib
    # recall@10 next to the ANN timings, so a knob/plan change can't buy
    # speed by silently trading recall (the planted-fixture harness from
    # tests/test_ann_recall.py, run at this SF's embeddings)
    extras.update(_ann_recall(spark))
    # the contract minhash query pays ~16 portable md5 calls per shingle
    # for DuckDB-oracle parity; the production hash path (xxhash64, no
    # oracle) is timed alongside so the hot-path cost is on record
    best = None
    for _ in range(2):
        t0 = time.time()
        n_xxh = _minhash_pairs_xxh(spark).groupBy().count().collect()[0][0]
        sec = time.time() - t0
        best = sec if best is None or sec < best else best
    extras["minhash_lsh_pairs_xxh_sec"] = round(best, 3)
    extras["rows_minhash_lsh_pairs_xxh"] = int(n_xxh)
    # round-5 operators, timed as EXTRA keys (not folded into the headline
    # sum, which stays the stable cross-round set): Gopher repetition rules
    # and benchmark n-gram decontamination over the documents table
    for name in (
        "repetition_stats",
        "benchmark_decontaminate",
        "dup_spans",
        "token_budget_mix",
        "semdedup_survivors",
        "incremental_dedup_survivors",
        "semantic_decontaminate",
        "pack_chunks",
        "dsir_scores",
    ):
        best, n = None, 0
        for _ in range(2):
            t0 = time.time()
            n = qs[name](spark, SF_DIR).groupBy().count().collect()[0][0]
            sec = time.time() - t0
            best = sec if best is None or sec < best else best
        extras[f"{name}_sec"] = round(best, 3)
        extras[f"rows_{name}"] = int(n)
        calib[name] = round(_cpu_calibration(0.15) / 1e6, 1)
    return times, extras


def _minhash_pairs_xxh(spark):
    """The same MinHash-LSH candidate generation as the contract query,
    but with the production xxhash64 hash family (portable=False)."""
    from trace_aware_reservoir_otel_spark.contract_dedup import (
        BANDS,
        MAX_BUCKET,
        MINHASHES,
        SEED,
        SHINGLE_N,
        _aug_docs,
    )
    from trace_aware_reservoir_otel_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    aug = _aug_docs(spark, SF_DIR)
    sig = minhash_signatures(
        aug, num_hashes=MINHASHES, n=SHINGLE_N, portable=False, seed=SEED
    )
    return lsh_candidate_pairs(sig, bands=BANDS, max_bucket=MAX_BUCKET)


def _ann_recall(spark) -> "dict[str, float]":
    """recall@10 of the LSH and IVF ANN paths at their bench/default knobs
    on SF_DIR's embeddings with planted near-copies (the retrieval
    workload near-dup detection actually runs)."""
    import hashlib

    from pyspark.sql import functions as F  # noqa: F401 — parity with tests

    from trace_aware_reservoir_otel_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_lsh,
    )

    query_ids, n_copies, k = (0, 42, 123), 10, 10
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}

    def jitter(vec, qid, j):
        out = []
        for d, x in enumerate(vec):
            h = int(hashlib.md5(f"{qid}:{j}:{d}".encode()).hexdigest()[:8], 16)
            out.append(float(x) * (1.0 + 0.001 * j) + ((h % 1000) - 500) * 1e-5)
        return out

    planted = [
        (1_000_000 + qi * 1000 + j, jitter(base[qid], qid, j + 1))
        for qi, qid in enumerate(query_ids)
        for j in range(1, n_copies + 1)
    ]
    aug = emb.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    ).cache()
    aug.count()
    corpus = dict(base)
    corpus.update(dict(planted))

    import math

    def exact_topk(q):
        qn = math.sqrt(sum(x * x for x in q))
        scored = sorted(
            (
                -round(
                    sum(a * b for a, b in zip(v, q))
                    / (math.sqrt(sum(a * a for a in v)) * qn),
                    6,
                ),
                i,
            )
            for i, v in corpus.items()
        )
        return {i for _, i in scored[:k]}

    lsh, ivf = [], []
    for qid in query_ids:
        q = base[qid]
        truth = exact_topk(q)
        got_lsh = {r["vec_id"] for r in ann_topk_lsh(aug, q, k=k).collect()}
        got_ivf = {
            r["vec_id"]
            for r in ann_topk_ivf(aug, q, k=k, n_centroids=16, nprobe=4).collect()
        }
        lsh.append(len(got_lsh & truth) / k)
        ivf.append(len(got_ivf & truth) / k)
    aug.unpersist()
    return {
        "recall_ann_lsh": round(sum(lsh) / len(lsh), 3),
        "recall_ann_ivf": round(sum(ivf) / len(ivf), 3),
    }


def _ensure_stream_files(spark, src_path: str, n_files: int = 8) -> str:
    """Slice the cached bench transcripts into window-aligned, time-ordered
    single-file stream inputs (one micro-batch per file). Cached like the
    transcripts themselves so slicing cost never pollutes the measurement."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    path = f"{CACHE_DIR}_stream_{BENCH_CONVS}"
    marker = f"{path}/_DONE"
    if os.path.exists(marker):
        return path
    df = spark.read.parquet(src_path)
    lo, hi = df.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    w = 60
    cuts = [None] + [
        (int(lo + (hi - lo) * i / n_files) // w) * w for i in range(1, n_files)
    ] + [None]
    sec = F.unix_timestamp("ts")
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        part = df
        if cuts[i] is not None:
            part = part.filter(sec >= cuts[i])
        if cuts[i + 1] is not None:
            part = part.filter(sec < cuts[i + 1])
        tmp = f"{path}/_tmp"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{path}/{i:03d}.parquet"
        shutil.move(src, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))  # mod-time order
    open(marker, "w").close()
    return path


def _streaming_rollover(spark, transcripts_path: str) -> "tuple[float, int, int]":
    """The reference's actual shape — push-based streaming with rollover
    export (processor.go:317-347): ingest the bench transcripts as 8
    time-ordered micro-batches, export windows as they close (per-roll IO
    bounded by the closing windows), flush the remainder. Returns
    (seconds, rows, mid-stream rolls)."""
    import shutil
    import tempfile

    from trace_aware_reservoir_otel_spark.config import PipelineConfig
    from trace_aware_reservoir_otel_spark.streaming.pipeline import (
        _exported_buckets,
        flush_incremental,
        incremental_conservation,
        run_incremental_routed,
    )

    in_dir = _ensure_stream_files(spark, transcripts_path)
    # export_bucket_windows matched to this input's window density (~9.2k
    # sparse windows over ~6 days of event time -> ~72 buckets): measured
    # sweep 32/128/512 = 94s/41s/47s same-window — too-fine buckets churn
    # directories, too-coarse ones lose roll pipelining. Deployments tune
    # this to windows-per-stream exactly like this.
    cfg = PipelineConfig(
        size_k=64, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=128,
    )
    scratch = os.path.dirname(CACHE_DIR) or "/tmp"
    work = tempfile.mkdtemp(prefix="taro_stream_bench_", dir=scratch)
    try:
        t0 = time.time()
        run_incremental_routed(
            spark, in_dir, cfg, f"{work}/state", f"{work}/ck", f"{work}/out"
        )
        flush_incremental(spark, cfg, f"{work}/state", f"{work}/out")
        sec = time.time() - t0
        rolled = sum(
            1 for b in _exported_buckets(f"{work}/state").values() if b is not None
        )
        rows_in, rows_out = incremental_conservation(
            spark, f"{work}/state", f"{work}/out"
        )
        assert rows_in == rows_out and rolled > 0, (rows_in, rows_out, rolled)
        return sec, rows_in, rolled
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _cpu_calibration(seconds: float = 0.5) -> float:
    """Single-thread Python ops/sec — a fixed workload whose runtime varies
    ONLY with the machine's current contention; lets a reader normalize
    this run's timings against other rounds' calibration values."""
    t0 = time.time()
    x, n = 0, 0
    while time.time() - t0 < seconds:
        for i in range(10000):
            x += i * i
        n += 10000
    return n / (time.time() - t0)


def main_bench() -> None:
    calib = _cpu_calibration()
    spark = _spark(CPUS)
    times, extras = run_headline(spark)
    total = round(sum(times.values()), 3)
    out = {
        "metric": "end_to_end_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "calib_mops_per_sec": round(calib / 1e6, 2),
        **extras,
    }
    print(json.dumps(out))
    spark.stop()


def _steal_pct(seconds: float = 3.0) -> float:
    """Hypervisor CPU steal %% under full load — the sandbox is a noisy
    multi-tenant VM; this contextualizes any scaling measurement."""
    import multiprocessing as mp

    def read():
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:9]))

    def burn(sec):
        t0 = time.time()
        x = 0
        while time.time() - t0 < sec:
            x += 1

    a = read()
    procs = [mp.Process(target=burn, args=(seconds,)) for _ in range(os.cpu_count() or 8)]
    [p.start() for p in procs]
    [p.join() for p in procs]
    b = read()
    d = [y - x for x, y in zip(a, b)]
    return round(100.0 * d[7] / max(sum(d), 1), 1)


def main_scaling_child(cores: int, files_list: "str | None" = None) -> None:
    spark = _spark(cores)
    # 4 waves of shuffle tasks: smaller per-task sort state (fewer spills
    # at high thread counts) without losing parallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(32, 4 * cores)))
    if files_list:
        with open(files_list) as f:
            path = [l.strip() for l in f if l.strip()]
    else:
        path = _ensure_bench_transcripts(spark)
    if os.environ.get("TARO_SCALING_WARMUP", "1") != "0":
        _flagship(spark, path)  # warm-up (codegen, file listing)
    sec, n = _flagship(spark, path)
    print(json.dumps({"cores": cores, "sec": sec, "turns": n, "tps": n / sec}))
    spark.stop()


def main_control_child(cores: int) -> None:
    """Trivial-scan control: parquet scan + xxhash64 + global sum. Zero
    shuffle, whole-stage codegen end-to-end — the VM's own scaling ceiling."""
    from pyspark.sql import functions as F

    spark = _spark(cores)
    path = _ensure_bench_transcripts(spark)
    df = spark.read.parquet(path)
    # >>32 keeps the ANSI-mode sum within long range at any row count
    h = F.shiftrightunsigned(F.xxhash64("conv_id", "text"), 32)
    df.agg(F.sum(h)).collect()  # warm-up
    t0 = time.time()
    row = df.agg(F.sum(h).alias("h"), F.count(F.lit(1)).alias("n")).collect()[0]
    sec = time.time() - t0
    n = int(row["n"])
    print(json.dumps({"cores": cores, "sec": sec, "turns": n, "tps": n / sec}))
    spark.stop()


def _run_child(args: "list[str]", env: "dict | None" = None):
    e = dict(os.environ)
    if env:
        e.update(env)
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True,
        text=True,
        env=e,
    )
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return None, f"[{' '.join(args)} rc={p.returncode}] {p.stderr[-2000:]}"
    return json.loads(lines[-1]), None


def main_scaling(n_small: int = 8, n_big: int = 32, reps: int = 3) -> None:
    """Interleaved min-of-N: the sandbox shows double-digit CPU steal that
    drifts over minutes, so small/big runs alternate and each config keeps
    its best observation."""
    best: dict = {}
    ctrl: dict = {}
    turns = None
    errs: list = []
    for _ in range(reps):
        for cores in (n_small, n_big):
            r, err = _run_child(["--scaling-child", str(cores)])
            if r is None:
                errs.append(err)
                continue
            turns = r["turns"]
            if cores not in best or r["sec"] < best[cores]["sec"]:
                best[cores] = r
        for cores in (n_small, n_big):
            r, err = _run_child(["--control-child", str(cores)])
            if r is None:
                errs.append(err)
                continue
            if cores not in ctrl or r["sec"] < ctrl[cores]["sec"]:
                ctrl[cores] = r
    for cores in (n_small, n_big):
        if cores not in best:
            sys.exit(
                f"scaling: every child run at cores={cores} failed; "
                "captured child stderr:\n" + "\n---\n".join(errs)
            )
    tps_small = best[n_small]["tps"]
    tps_big = best[n_big]["tps"]
    eff = (tps_big / tps_small) / (n_big / n_small)
    out = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "small": best[n_small],
        "big": best[n_big],
        "turns": turns,
        "turns_per_sec_small": round(tps_small, 1),
        "turns_per_sec_big": round(tps_big, 1),
        "cpu_steal_pct_under_load": _steal_pct(),
        "note": "multi-tenant sandbox; steal>0 caps achievable efficiency",
    }
    if n_small in ctrl and n_big in ctrl:
        ctrl_eff = (ctrl[n_big]["tps"] / ctrl[n_small]["tps"]) / (n_big / n_small)
        out["control_small"] = ctrl[n_small]
        out["control_big"] = ctrl[n_big]
        out["control_efficiency"] = round(ctrl_eff, 3)
        # pipeline scaling normalized by what a shuffle-free codegen scan
        # scales at ON THIS VM: the engine's own contribution to the gap
        out["engine_relative_efficiency"] = round(eff / ctrl_eff, 3) if ctrl_eff else None
    print(json.dumps(out))


def main_multiproc(p: int = 4, cores: int = 8, reps: int = 3) -> None:
    """Weak scaling across processes: P JVMs x local[cores], each on its
    own 1/P shard of the cached input, vs one JVM on one shard. This is
    the closer proxy for a real cluster (independent JVMs, no shared-heap
    GC/lock contention)."""
    import glob
    import tempfile
    import threading

    spark = _spark(cores)
    path = _ensure_bench_transcripts(spark)
    spark.stop()
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if len(files) < p:
        sys.exit(f"multiproc: only {len(files)} part files for p={p}")
    groups = [files[i::p] for i in range(p)]
    tmp = tempfile.mkdtemp(prefix="taro_multiproc_")
    group_paths = []
    for i, g in enumerate(groups):
        fp = os.path.join(tmp, f"group{i}.txt")
        with open(fp, "w") as f:
            f.write("\n".join(g))
        group_paths.append(fp)

    errs: list = []
    best_single: "dict | None" = None
    best_par: "dict | None" = None
    for _ in range(reps):
        # single process on shard 0
        r, err = _run_child(["--scaling-child", str(cores), group_paths[0]])
        if r is None:
            errs.append(err)
        elif best_single is None or r["sec"] < best_single["sec"]:
            best_single = r
        # P concurrent processes, one per shard
        results: "list" = [None] * p
        def run(i):
            results[i], e = _run_child(
                ["--scaling-child", str(cores), group_paths[i]]
            )
            if e:
                errs.append(e)
        threads = [threading.Thread(target=run, args=(i,)) for i in range(p)]
        [t.start() for t in threads]
        [t.join() for t in threads]
        if all(r is not None for r in results):
            wall = max(r["sec"] for r in results)
            turns = sum(r["turns"] for r in results)
            cand = {"sec": wall, "turns": turns, "tps": turns / wall,
                    "per_proc": results}
            if best_par is None or cand["tps"] > best_par["tps"]:
                best_par = cand
    if best_single is None or best_par is None:
        sys.exit("multiproc: all runs failed:\n" + "\n---\n".join(errs))
    eff = best_par["tps"] / (p * best_single["tps"])
    print(
        json.dumps(
            {
                "metric": "multiproc_scaling_efficiency",
                "value": round(eff, 3),
                "unit": "ratio",
                "processes": p,
                "cores_per_process": cores,
                "single": best_single,
                "parallel": {k: v for k, v in best_par.items() if k != "per_proc"},
                "parallel_per_proc": best_par["per_proc"],
                "cpu_steal_pct_under_load": _steal_pct(),
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        main_scaling()
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-child":
        main_scaling_child(int(sys.argv[2]), sys.argv[3] if len(sys.argv) > 3 else None)
    elif len(sys.argv) > 1 and sys.argv[1] == "--control-child":
        main_control_child(int(sys.argv[2]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-multiproc":
        main_multiproc(
            int(sys.argv[2]) if len(sys.argv) > 2 else 4,
            int(sys.argv[3]) if len(sys.argv) > 3 else 8,
        )
    else:
        main_bench()
