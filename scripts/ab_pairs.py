#!/usr/bin/env python3
"""Alternated A/B pairs of perfbench runs: a parent revision against a change.

    python3 scripts/ab_pairs.py --parent <rev> [--change <rev>|<dir>] \
        --work /tmp/ab --workload batch_skewed --seeds 0-9 [--pairs 1]

Each side runs from a plain `git archive` tree under --work (--change may
name a checkout directory instead). Inputs are generated once in the parent
tree and copied with `cp -a`: the stream workload replays files in mtime
order, so fresh mtimes would reorder it. A pair runs one seed on both
sides; which side goes first alternates. Prints each run's end-to-end
metrics, `failed` and `steal_pct`, then per metric each side's median and
quartiles and the change's pair wins; runs are logged to <work>/runs.jsonl.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tree(rev_or_dir: str, dest: str) -> str:
    if os.path.isdir(rev_or_dir):
        return os.path.abspath(rev_or_dir)
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.run(["git", "-C", REPO, "archive", rev_or_dir],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run(root: str, workload: str, seed: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed)], cwd=root, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        raise SystemExit(f"perfbench failed in {root} (exit {p.returncode}):\n{p.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["steal_pct"] = json.loads(lines[-2])["record"]["machine"]["steal_pct"]
    return out


def share_inputs(parent: str, change: str, workload: str, seed: int) -> None:
    src = os.path.join(parent, ".perfbench", "cache")
    if not glob.glob(os.path.join(src, f"s{seed}-x1-*", "manifest.json")):
        run(parent, workload, seed)  # generates the seed's block; result discarded
    dst = os.path.join(change, ".perfbench", "cache")
    os.makedirs(dst, exist_ok=True)
    for d in glob.glob(os.path.join(src, "s*-x1-*")):
        if not os.path.exists(os.path.join(dst, os.path.basename(d))):
            subprocess.run(["cp", "-a", d, dst], check=True)


def quartiles(xs: "list[float]") -> "tuple[float, float, float]":
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]


def pairs(workload, seeds, n_pairs, parent, change, log) -> "dict[str, list[dict]]":
    runs: "dict[str, list[dict]]" = {"parent": [], "change": []}
    n = 0
    for seed in seeds:
        share_inputs(parent, change, workload, seed)
        for _ in range(n_pairs):
            order = [("parent", parent), ("change", change)][:: 1 if n % 2 == 0 else -1]
            n += 1
            for side, root in order:
                r = run(root, workload, seed)
                vals = {k: m["value"] for k, m in r["metrics"].items()}
                runs[side].append(vals)
                log.write(json.dumps({"workload": workload, "seed": seed, "side": side,
                                      "pair": n, **r}) + "\n")
                log.flush()
                shown = " ".join(f"{k}={v:.4g}" for k, v in vals.items())
                print(f"{workload} seed={seed} pair={n} {side:6s} {shown} "
                      f"failed={r['failed']} steal_pct={r['steal_pct']}", flush=True)
    return runs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent")
    ap.add_argument("--change", default="HEAD", help="git revision or checkout directory")
    ap.add_argument("--work", required=True, help="scratch directory for the trees")
    ap.add_argument("--workload", default="batch_skewed",
                    help="batch_skewed, stream_rollover, or both comma-separated")
    ap.add_argument("--seeds", default="0-3", help="'a-b' range or comma list")
    ap.add_argument("--pairs", type=int, default=1, help="pairs per workload and seed")
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in a.seeds.split(",")]
    parent = tree(a.parent, os.path.join(a.work, "parent"))
    change = tree(a.change, os.path.join(a.work, "change"))
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    for workload in a.workload.split(","):
        with open(os.path.join(a.work, "runs.jsonl"), "a") as log:
            runs = pairs(workload, seeds, a.pairs, parent, change, log)
        for metric, direction in better.items():
            p = [v[metric] for v in runs["parent"]]
            c = [v[metric] for v in runs["change"]]
            wins = sum((y < x) if direction == "lower" else (y > x) for x, y in zip(p, c))
            (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
            print(f"{workload} {metric}: parent {pm:.4g} ({p1:.4g}-{p3:.4g}) -> change "
                  f"{cm:.4g} ({c1:.4g}-{c3:.4g}), {cm / pm - 1:+.1%}, change wins "
                  f"{wins}/{len(p)}, median gap {abs(cm - pm):.4g} vs parent IQR {p3 - p1:.4g}")


if __name__ == "__main__":
    main()
