"""One benchmark process: `gen` or `measure`.

Started by ``run.py`` as a fresh Python process, so each measurement pays
its own interpreter start, JVM launch and session set-up. Both modes load
the same modules before the session starts, so their set-up times sample
the same code path. The last stdout line is ``PERFBENCH {json}``; Spark's
own logging goes to stderr.

    worker.py gen     <args.json>   generate and seal one input cache
    worker.py measure <args.json>   cold run, warm repeats, optional traced run
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())  # the library, from the checkout root

import cache  # noqa: E402
import workloads  # noqa: E402
from machine import MachineContext, session_cpu_s  # noqa: E402
from tracer import Tracer, layer_totals  # noqa: E402

# Warm repeats per run: at least this many, then more until --seconds pass.
WARM_MIN = 2
# Driver JVM options the benchmark adds ahead of the library's own
# (spark.driver.defaultJavaOptions, which the library does not set), so
# that the CPU seconds a run reports follow the engine's work rather than
# the host's load. Tiered compilation stops at C1: C2's own compile work was
# about half of a job's CPU at these input sizes, and how much of it fell
# inside a timed execution moved with the host's load. The serial
# collector with a fixed young generation runs no concurrent GC threads
# and collects at the same points on every run; with a full collection
# after every execution (`_run_once`), each execution starts from the same
# compacted heap, so the resident peak follows what the job allocates.
JVM_OPTIONS = "-XX:+UseSerialGC -Xmn256m -XX:TieredStopAtLevel=1"


def session(args: dict):
    """The engine's own session factory, sized to the CPUs this process may
    use (never the library's 32-core default) with scratch inside the benchmark's work
    directory. Returns (spark, set-up wall seconds since the parent spawned
    us, set-up CPU seconds of this process tree)."""
    from trace_aware_reservoir_otel_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=args["cores"],
        extra_conf={
            "spark.driver.memory": args["driver_memory"],
            "spark.driver.defaultJavaOptions": JVM_OPTIONS,
            "spark.local.dir": os.path.join(args["work"], "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(args["work"], "warehouse"),
            # the status store keeps every job and stage of the run, so the
            # traced run can read them back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.time() - args["t0"], session_cpu_s()


def _emit(obj: dict) -> None:
    """Print the result and end the process at once: the JVM exits with
    its Python parent (and run.py reaps the process group), so a graceful
    session stop would only add seconds to every run."""
    print("PERFBENCH " + json.dumps(obj), flush=True)
    os._exit(0)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def jvm_retained_mb(spark) -> float:
    """Heap plus non-heap MB in use after a full collection: what the JVM
    keeps between executions (cached data, status store, classes, code)."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mem.getHeapMemoryUsage().getUsed()
            + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def jvm_pool_peaks_mb(spark) -> "dict[str, float]":
    """Each JVM memory pool's (heap generations, metaspace, code cache)
    peak used MB since the JVM started."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in pools}


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def do_gen(args: dict) -> None:
    """Generate and seal the input of every (seed, cache directory) in
    `args["gen"]`: one JVM launch serves the whole block."""
    spark, setup_s, setup_cpu_s = session(args)
    for seed, final in args["gen"]:
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        info = workloads.generate_inputs(spark, seed, args["scale"], tmp)
        cache.seal(tmp, info)
        if cache.load(tmp) is None:
            raise RuntimeError(f"generated input at {tmp} does not verify")
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    _emit({"setup_s": setup_s, "setup_cpu_s": setup_cpu_s})


def _run_once(spark, wl, ctx, out: str) -> "tuple[float, float, float, list[str]]":
    """One timed execution into a fresh output directory, reading its input
    (file listing included) like a one-shot job, then its output checks
    and a full collection, untimed. Returns its wall and CPU seconds, the
    MB the JVM retains after it and the failed checks. Earlier outputs are
    deleted only after the process ends, so no deletion overlaps a timed
    run."""
    c = session_cpu_s()
    t = time.perf_counter()
    result = wl.run(spark, ctx, out)
    wall = time.perf_counter() - t
    cpu = session_cpu_s() - c
    fails = wl.check(spark, ctx, out, result)
    return wall, cpu, jvm_retained_mb(spark), fails


def do_measure(args: dict) -> None:
    spark, setup_s, setup_cpu_s = session(args)
    machine = MachineContext()
    wl = workloads.WORKLOADS[args["workload"]]()
    info = cache.load(args["cache"])
    if info is None:
        raise RuntimeError(f"input cache {args['cache']} missing or corrupt")
    ctx = wl.open(args["cache"], info)
    out = os.path.join(args["work"], "out")  # one subdirectory per execution
    failures: "list[str]" = []
    attempted = failed = 0

    def account(label: str, fails: "list[str]") -> None:
        nonlocal attempted, failed
        attempted += 1
        if fails:
            failed += 1
            failures.extend(f"{label}: {f}" for f in fails)

    cold_s, cold_cpu_s, retained, fails = _run_once(spark, wl, ctx, f"{out}/cold")
    account("cold", fails)
    warm: "list[float]" = []
    warm_cpu: "list[float]" = []
    retained_mb = [retained]
    t_loop = time.time()
    while len(warm) < WARM_MIN or time.time() - t_loop < args["seconds"]:
        wall, cpu, retained, fails = _run_once(spark, wl, ctx, f"{out}/warm{len(warm)}")
        warm.append(wall)
        warm_cpu.append(cpu)
        retained_mb.append(retained)
        account(f"warm {len(warm)}", fails)
    peak_rss = jvm_peak_rss_mb(spark)
    pool_peaks = jvm_pool_peaks_mb(spark)
    once = wl.check_once(spark, ctx, f"{out}/warm{len(warm) - 1}")
    if once:
        # counted against the last repeat, whose output it inspected
        if not fails:
            failed += 1
        failures.extend(once)
    res = {
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "cold_run_s": cold_s,
        "cold_run_cpu_s": cold_cpu_s,
        "warm_s": warm,
        "warm_cpu_s": warm_cpu,
        "rows": info["rows"],
        "peak_rss_mb": peak_rss,
        "retained_mb": retained_mb,
        "pool_peaks_mb": {k: round(v, 1) for k, v in pool_peaks.items()},
        "info": info,
    }
    if args["trace"]:
        res["layers"] = traced_run(spark, wl, ctx, args, statistics.median(warm), account)
    res.update(attempted=attempted, failed=failed, failures=failures[:20],
               machine=machine.finish())
    _emit(res)


def traced_run(spark, wl, ctx, args: dict, warm_median: float, account) -> dict:
    """The workload's job once more under span wrappers, then any chain
    `TRACED_EXTRA` adds (run once untraced first, so its layers are timed
    warm like the job's). Every execution's output is checked and passed
    to `account`. Returns the per-layer metrics."""
    out = os.path.join(args["work"], "out", "traced")
    chains = [("run", wl, ctx)]
    extra = workloads.TRACED_EXTRA.get(wl.name)
    if extra is not None:
        chain = extra()
        chain_ctx = chain.open(args["cache"], ctx["info"])
        chains.append((chain.name, chain, chain_ctx))
    tracer = Tracer(spark)
    hooks = workloads.Hooks(tracer)
    metrics: dict = {}
    roots = []
    gc_s = 0.0
    for root_name, job, job_ctx in chains:
        job_out = os.path.join(out, root_name)
        if job is not wl:
            warmup = os.path.join(out, f"{root_name}-warmup")
            account(f"{root_name} warm-up",
                    job.check(spark, job_ctx, warmup, job.run(spark, job_ctx, warmup)))
        job.install(hooks, job_out)
        gc0 = jvm_gc_s(spark)
        try:
            with tracer.span(root_name) as root:
                result = job.run(spark, job_ctx, job_out)
        finally:
            hooks.restore()
            spark.sparkContext.setJobGroup("perfbench", "untraced")
        gc_s += jvm_gc_s(spark) - gc0
        roots.append(root)
        account(f"traced {root_name}", job.check(spark, job_ctx, job_out, result))
        spark.catalog.clearCache()
    totals = layer_totals(tracer, tracer.attribute_spark())
    for (root_name, job, _), root in zip(chains, roots):
        metrics.update(job.layer_metrics(totals, os.path.join(out, root_name), hooks.state))
    traced_wall = sum(r.end - r.start for r in roots)
    layer_self = sum(v for k, v in metrics.items() if k.endswith(".wall_s"))
    metrics["jvm.gc_s"] = gc_s
    metrics["trace.overhead_s"] = (roots[0].end - roots[0].start) - warm_median
    metrics["trace.remainder_s"] = traced_wall - layer_self
    metrics["trace.wall_s"] = traced_wall
    tracer.write_jsonl(args["spans"])
    return metrics


def main() -> None:
    mode = sys.argv[1]
    with open(sys.argv[2]) as f:
        args = json.load(f)
    {"gen": do_gen, "measure": do_measure}[mode](args)


if __name__ == "__main__":
    main()
