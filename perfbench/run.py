#!/usr/bin/env python3
"""Benchmark of the reservoir engine: two workloads, end to end and per layer.

    python3 perfbench/run.py --workload batch_skewed --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run, in order:
  1. makes sure the seeded input exists and verifies (`cache.py`),
     generating it in its own process if not;
  2. starts one measuring process: a cold run, at least two warm
     repeats (more until `--seconds` pass), output checks after every
     execution, and with `--trace 1` one traced run whose spans give the
     per-layer metrics.
End-to-end metrics count CPU seconds of the benchmark's process tree
(Python, the Spark driver JVM and its Python workers), not wall seconds,
so they follow the engine's work rather than the host's load; the wall
times go to the `record` line. `setup_s` is the median set-up CPU time of
the fresh processes the run started (the generator, if it ran, and the
measuring process).
The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
traced). The exit code is non-zero when any output check fails or the
library is missing. `--workload all` runs every workload and prints each
metric by name and unit.

Everything the benchmark writes stays under `.perfbench/` in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOAD_NAMES = ("batch_skewed", "stream_rollover")
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "cold_run_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}
DRIVER_MEMORY = "2g"
# Inputs are generated in aligned blocks of seeds: one generator JVM launch
# (~15 s on a 4-core VM) then serves the next runs of nearby seeds, whichever
# workload.
GEN_BLOCK = 4
WORKER_TIMEOUT_S = 170

UNITS = {"wall_s": "s", "jobs": "count", "cpu_s": "s", "shuffle_mb": "MB",
         "out_mb": "MB", "rows_in": "count", "rows_out": "count", "files": "count",
         "calls": "count", "p50_s": "s", "max_s": "s", "useful_ratio": "ratio",
         "driver_path": "count", "state_peak_mb": "MB", "gc_s": "s",
         "overhead_s": "s", "remainder_s": "s"}
# per-layer metrics; every workload reports the whole set, so a layer that
# a workload's traced run does not reach reads 0 there
LAYERS = [
    ("parse_enrich", "wall_s jobs cpu_s rows_out"),
    ("unit_preagg", "wall_s jobs cpu_s shuffle_mb rows_out"),
    ("late_classify", "wall_s jobs shuffle_mb rows_out"),
    ("reservoir", "wall_s jobs shuffle_mb rows_in rows_out"),
    ("route", "wall_s jobs cpu_s rows_out"),
    ("sink_write", "wall_s jobs files out_mb"),
    ("stream.batch", "calls p50_s max_s"),
    ("stream.spill", "wall_s jobs out_mb"),
    ("stream.pre", "wall_s jobs out_mb"),
    ("stream.roll", "wall_s jobs calls rows_out"),
    ("stream.manifest", "wall_s calls"),
    ("stream.vacuum", "wall_s calls"),
    ("stream.compact", "wall_s calls"),
    ("stream.flush", "wall_s jobs"),
    ("stream", "state_peak_mb"),
    # the dedup chain, timed in batch_skewed's traced run
    ("minhash", "wall_s jobs cpu_s shuffle_mb rows_out"),
    ("lsh_pairs", "wall_s jobs cpu_s shuffle_mb rows_out"),
    ("jaccard_verify", "wall_s jobs shuffle_mb rows_out useful_ratio"),
    ("components", "wall_s jobs rows_out driver_path"),
    ("survivors", "wall_s jobs rows_out"),
    ("jvm", "gc_s"),
    ("trace", "wall_s overhead_s remainder_s"),
]
PER_LAYER = {f"{layer}.{m}": UNITS[m] for layer, ms in LAYERS for m in ms.split()}


class WorkerError(RuntimeError):
    pass


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (Python and its JVM) and wait
    until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reap the leader: a zombie still counts as a member
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_worker(mode: str, args: dict, work: str, deadline: float) -> dict:
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.path.join(work, f"{mode}.json")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.getcwd(),
    )
    args = dict(args, work=work, t0=time.time())
    with open(path, "w") as f:
        json.dump(args, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), mode, path],
        stdout=subprocess.PIPE, env=env, start_new_session=True, text=True,
    )
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        _stop_group(proc)
        proc.communicate()
        raise WorkerError(f"{mode} worker exceeded the time limit")
    finally:
        _stop_group(proc)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        raise WorkerError(f"{mode} worker failed with exit code {proc.returncode}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def run_workload(name: str, seed: int, seconds: int, trace: bool, scale: int,
                 root: str, deadline: float) -> dict:
    import cache

    base = os.path.join(root, ".perfbench")
    # a miss generates the seed's whole aligned block of GEN_BLOCK seeds
    first = seed - seed % GEN_BLOCK
    dirs = {s: cache.key_dir(os.path.join(base, "cache"), root, s, scale)
            for s in range(first, first + GEN_BLOCK)}
    missing = [(s, d) for s, d in dirs.items() if cache.load(d) is None]
    cache_dir = dirs[seed]
    common = {"workload": name, "seed": seed, "scale": scale, "cache": cache_dir,
              "cores": len(os.sched_getaffinity(0)), "driver_memory": DRIVER_MEMORY}
    work = os.path.join(base, "work", str(os.getpid()))
    spans = os.path.join(base, "spans", f"{name}-s{seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    setups: "list[float]" = []  # CPU seconds
    setup_walls: "list[float]" = []
    phases: "dict[str, float]" = {}

    def timed(phase: str, mode: str, args: dict) -> dict:
        t = time.time()
        out = run_worker(mode, args, work, deadline)
        phases[phase] = phases.get(phase, 0.0) + time.time() - t
        return out

    try:
        if any(s == seed for s, _ in missing):
            gen = timed("gen_s", "gen", dict(common, gen=missing))
            setups.append(gen["setup_cpu_s"])
            setup_walls.append(gen["setup_s"])
        res = timed("measure_s", "measure", dict(
            common, seconds=seconds, trace=int(trace), spans=spans))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    setups.append(res["setup_cpu_s"])
    setup_walls.append(res["setup_s"])
    if trace:
        units = PER_LAYER
        metrics = {k: res["layers"].get(k, 0) for k in units}
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "cold_run_cpu_s": res["cold_run_cpu_s"],
            "rows_per_cpu_s": res["rows"] / statistics.median(res["warm_cpu_s"]),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        units = END_TO_END
    record = {
        "workload": name, "seed": seed, "scale": scale, "trace": int(trace),
        "setup_cpu_samples_s": setups, "setup_wall_samples_s": setup_walls,
        "cold_run_cpu_s": res["cold_run_cpu_s"], "cold_run_wall_s": res["cold_run_s"],
        "warm_cpu_s": res["warm_cpu_s"], "warm_wall_s": res["warm_s"],
        "retained_mb": res["retained_mb"], "pool_peaks_mb": res["pool_peaks_mb"],
        "peak_rss_mb": res["peak_rss_mb"],
        "input": res["info"], "machine": res["machine"], "phases_s": phases,
        "failures": res["failures"],
    }
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "record": record,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=1,
                    help="input size multiplier (1 = the recorded workload size)")
    a = ap.parse_args()
    # on SIGTERM unwind normally, so run_worker stops the worker group it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "trace_aware_reservoir_otel_spark", "__init__.py")):
        print("perfbench: run from the repository root (library not found)", file=sys.stderr)
        return 2
    names = WORKLOAD_NAMES if a.workload == "all" else (a.workload,)
    started = time.time()
    results = {}
    for name in names:
        deadline = time.time() + WORKER_TIMEOUT_S
        try:
            res = run_workload(name, a.seed, a.seconds, bool(a.trace), a.scale,
                               root, deadline)
        except WorkerError as e:
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            return 3
        rec = res.pop("record")
        print(json.dumps({"record": rec}))
        for f in rec["failures"]:
            print(f"perfbench: {name}: check failed: {f}", file=sys.stderr)
        results[name] = res
    if a.workload == "all":
        for name, res in results.items():
            for k, m in res["metrics"].items():
                print(f"{name:16s} {k:28s} {m['value']:>16.6g} {m['unit']}")
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": m for n, r in results.items()
                        for k, m in r["metrics"].items()},
        }
    else:
        final = results[a.workload]
    print(f"perfbench: {time.time() - started:.1f}s", file=sys.stderr)
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
