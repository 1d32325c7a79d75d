#!/usr/bin/env python
"""Round-6 measurement harness.

`bench.py` is FROZEN for driver measurement; every extra probe the
optimization work needs lives here (guide §1.1/§1.4/§1.5):

  --queries a,b,c [reps]   time contract queries (noop-equivalent count
                           methodology identical to bench.py) with job
                           descriptions, print one JSON line
  --explain a,b,c DIR      dump .explain('formatted') per query into DIR
  --streaming-profile      run the bench's streaming rollover shape with
                           per-phase wall timers (monkeypatched library
                           internals), print one JSON line
  --noop a                 time a query with the noop sink (computes every
                           column, guide §1.4) instead of count()
  --codegen-probe [runs] [seed]
                           run perfbench's batch_skewed job (run_pipeline +
                           write_sinks, its config and input shape) `runs`
                           times (default 4) in one session; print per run
                           the Spark jobs, the generated classes compiled
                           and the compile milliseconds, one JSON line each
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark(cores: int = CPUS):
    # same session shape as bench.py so timings are comparable
    from trace_aware_reservoir_otel_spark.session import get_spark

    extra = {"spark.sql.files.maxPartitionBytes": "16m"}
    if not os.environ.get("SPARK_DRIVER_MEMORY"):
        extra["spark.driver.memory"] = f"{max(8, (cores * 3) // 4)}g"
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        extra["spark.local.dir"] = "/dev/shm/taro-spark-local"
    return get_spark(
        app_name=f"taro-bench-extra-{cores}",
        cores=cores,
        shuffle_partitions=max(32, cores),
        extra_conf=extra,
    )


def time_queries(names: "list[str]", reps: int = 2) -> None:
    from trace_aware_reservoir_otel_spark.contract import contract_queries

    spark = _spark()
    qs = contract_queries()
    out: dict = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        best, n = None, 0
        for _ in range(reps):
            t0 = time.time()
            n = qs[name](spark, SF_DIR).groupBy().count().collect()[0][0]
            sec = time.time() - t0
            best = sec if best is None or sec < best else best
        spark.sparkContext.setJobDescription(None)
        out[name] = {"sec": round(best, 3), "rows": int(n)}
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out))
    spark.stop()


def noop_queries(names: "list[str]", reps: int = 2) -> None:
    from trace_aware_reservoir_otel_spark.contract import contract_queries

    spark = _spark()
    qs = contract_queries()
    out: dict = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"noop:{name}")
        best = None
        for _ in range(reps):
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            sec = time.time() - t0
            best = sec if best is None or sec < best else best
        spark.sparkContext.setJobDescription(None)
        out[name] = {"sec": round(best, 3)}
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out))
    spark.stop()


def dump_explains(names: "list[str]", outdir: str, suffix: str) -> None:
    from trace_aware_reservoir_otel_spark.contract import contract_queries

    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    qs = contract_queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


def profile_streaming() -> None:
    """The bench's _streaming_rollover shape with per-phase timers.

    Uses the SAME cached transcripts + stream slices as bench.py (read-only
    reuse of its cache dirs) and monkeypatches streaming.pipeline internals
    with wall-clock accumulators, so the phase split of the 40-60s headline
    number is on record."""
    import shutil
    import tempfile

    import bench as B  # frozen harness: reuse its cache builders verbatim
    import trace_aware_reservoir_otel_spark.streaming.pipeline as sp
    from trace_aware_reservoir_otel_spark.config import PipelineConfig

    spark = _spark()
    path = B._ensure_bench_transcripts(spark)
    in_dir = B._ensure_stream_files(spark, path)

    acc: dict = {}

    def wrap(mod, name):
        orig = getattr(mod, name)

        def f(*a, **k):
            t0 = time.time()
            r = orig(*a, **k)
            acc[name] = round(acc.get(name, 0.0) + time.time() - t0, 3)
            acc[f"{name}_n"] = acc.get(f"{name}_n", 0) + 1
            return r

        setattr(mod, name, f)
        return orig

    saved = {
        n: wrap(sp, n)
        for n in (
            "prepare",
            "_route_buckets",
            "_roll",
            "_read_state_buckets",
            "_revacuum_done",
            "_vacuum_exported",
            "compact_manifests",
        )
    }
    cfg = PipelineConfig(
        size_k=64, window_duration_s=60, seed=42, late_tolerance_s=None,
        export_bucket_windows=128,
    )
    work = tempfile.mkdtemp(prefix="taro_stream_prof_")
    try:
        t0 = time.time()
        sp.run_incremental_routed(
            spark, in_dir, cfg, f"{work}/state", f"{work}/ck", f"{work}/out"
        )
        t_run = time.time() - t0
        t1 = time.time()
        sp.flush_incremental(spark, cfg, f"{work}/state", f"{work}/out")
        t_flush = time.time() - t1
        rows_in, rows_out = sp.incremental_conservation(
            spark, f"{work}/state", f"{work}/out"
        )
        acc.update(
            {
                "run_sec": round(t_run, 3),
                "flush_sec": round(t_flush, 3),
                "total_sec": round(t_run + t_flush, 3),
                "rows": rows_in,
                "conserved": rows_in == rows_out,
            }
        )
        print("RESULT " + json.dumps(acc))
    finally:
        for n, fn in saved.items():
            setattr(sp, n, fn)
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def codegen_probe(runs: int = 4, seed: int = 1) -> None:
    """Codegen working set of the batch job, run after run in one session.

    `compiled` counts CodegenMetrics' compilation-time histogram updates
    (one per generated class Janino compiled, i.e. per codegen-cache miss),
    `compile_ms` is the delta of CodeGenerator.compileTime, and `jobs` the
    jobs the status store holds for the run's job group. Warm runs that
    still compile classes mean the cache
    (spark.sql.codegen.cache.maxEntries) is smaller than the job's
    working set."""
    import shutil
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
    import workloads as W  # perfbench's batch_skewed config and input shape

    from trace_aware_reservoir_otel_spark.plans.pipeline import run_pipeline, write_sinks
    from trace_aware_reservoir_otel_spark.session import get_spark
    from trace_aware_reservoir_otel_spark.synth import generate_transcripts

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    spark = get_spark(
        app_name="taro-codegen-probe", cores=cores,
        extra_conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
    )
    jvm, sc = spark._jvm, spark.sparkContext
    histogram = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    work = tempfile.mkdtemp(prefix="taro_codegen_probe_")
    try:
        transcripts = f"{work}/transcripts"
        generate_transcripts(
            spark, n_convs=W.CONVS, seed=seed, span_s=W.SPAN_S
        ).write.parquet(transcripts)
        cfg = W.BatchSkewed().config()
        out: list = []
        for i in range(runs):
            group = f"codegen-probe-{i}"
            sc.setJobGroup(group, group)
            n0, ns0, t0 = histogram.getCount(), codegen.compileTime(), time.time()
            res = run_pipeline(spark.read.parquet(transcripts), cfg)
            write_sinks(res, f"{work}/out{i}")
            rec = {
                "run": i,
                "wall_s": round(time.time() - t0, 3),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "compiled": histogram.getCount() - n0,
                "compile_ms": round((codegen.compileTime() - ns0) / 1e6, 1),
            }
            out.append(rec)
            print(json.dumps(rec), flush=True)
        print("RESULT " + json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    if mode == "--queries":
        time_queries(
            sys.argv[2].split(","),
            int(sys.argv[3]) if len(sys.argv) > 3 else 2,
        )
    elif mode == "--noop":
        noop_queries(sys.argv[2].split(","))
    elif mode == "--explain":
        dump_explains(
            sys.argv[2].split(","),
            sys.argv[3],
            sys.argv[4] if len(sys.argv) > 4 else "before",
        )
    elif mode == "--streaming-profile":
        profile_streaming()
    elif mode == "--codegen-probe":
        codegen_probe(*(int(a) for a in sys.argv[2:4]))
    else:
        sys.exit(__doc__)
