"""Steadiness and sensitivity runs of the benchmark, recorded under results/.

    python3 perfbench/steadiness.py spread [--runs 10] [--workloads a,b]
    python3 perfbench/steadiness.py sensitivity [--seed 1]

``spread`` runs ``run.py --trace 0`` once per seed (seeds 1..runs) on each
workload and records, per end-to-end metric, the median and the
interquartile range as a share of the median (``statistics.quantiles(n=4)``),
next to the metric's bound and each run's host steal share. With
``--against`` an earlier ``spread`` file, it also records how far each
median moved from that file's. ``sensitivity`` runs the traced ``mix-sf0.1``
at one seed three times — as is, with ``SPARK_GRAFT_LEAF_PAR=<k>`` and with
``SPARK_GRAFT_NO_MEMO=1`` — plus the untraced run under each setting, and
records the per-layer metrics each switch is predicted to move.

Run from the root of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, stats  # noqa: E402

RESULTS = os.path.join(inputs.HERE, "results")
#: The walls an untraced run logs next to its CPU metrics.
WALLS = ("first_pass_s", "pass_s", "op_p50_s")
BENCHMARK = os.path.join(inputs.ROOT, "BENCHMARK.json")


def run(workload: str, seed: int, seconds: int, trace: int, env: dict | None = None) -> dict:
    """One run's result line, plus its duration and what it logged: the host
    steal share and, untraced, the walls behind the CPU metrics. The log is
    kept under ``.bench_build/perfbench/logs``."""
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(inputs.HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=inputs.ROOT, env={**os.environ, **(env or {})}, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, check=True,
    )
    logs = os.path.join(inputs.DATA, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = "-".join(f"{k}={v}" for k, v in sorted((env or {}).items()))
    with open(os.path.join(logs, f"{workload}-{seed}-t{trace}{tag and '-' + tag}.err"), "w") as fh:
        fh.write(out.stderr)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["run_s"] = time.perf_counter() - t0
    steal = re.search(r"# host steal: ([\d.]+)%", out.stderr)
    result["steal_pct"] = float(steal.group(1)) if steal else None
    wall = re.search(r"# wall: first pass ([\d.]+) s, pass ([\d.]+) s, op p50 ([\d.]+) s",
                     out.stderr)
    if wall:
        result["wall"] = dict(zip(WALLS, map(float, wall.groups())))
    return result


def summarize(results: list[dict], bounds: dict) -> dict:
    """Per end-to-end metric: every run's value, their median and spread."""
    per_metric = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name]["value"] for r in results]
        per_metric[name] = {
            "values": values,
            "median": stats.median(values),
            "spread": stats.spread(values),
            "bound": bound,
        }
    walls = {
        name: {"median": stats.median(values), "spread": stats.spread(values)}
        for name in WALLS
        for values in [[r["wall"][name] for r in results if "wall" in r]]
        if len(values) >= 2
    }
    return {
        "steal_pct": [r["steal_pct"] for r in results],
        "run_s": [round(r["run_s"], 1) for r in results],
        "wall": walls,
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": per_metric,
    }


def spread(args, bench: dict) -> dict:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    doc = {"run_seconds": bench["run_seconds"], "k": inputs.cores(), "workloads": {}}
    for w in workloads:
        results = []
        for seed in range(1, args.runs + 1):
            results.append(run(w, seed, bench["run_seconds"], 0))
            print(w, seed, json.dumps(results[-1]), file=sys.stderr, flush=True)
        doc["workloads"][w] = {"seeds": list(range(1, args.runs + 1)),
                               **summarize(results, bounds)}
    if args.against:
        with open(args.against) as fh:
            before = json.load(fh)["workloads"]
        for w, cur in doc["workloads"].items():
            for name, m in cur["metrics"].items():
                m["shift"] = m["median"] / before[w]["metrics"][name]["median"] - 1
    return doc


def sensitivity(args, bench: dict) -> dict:
    k = str(inputs.cores())
    variants = {
        "as_is": {},
        f"leaf_par_{k}": {"SPARK_GRAFT_LEAF_PAR": k},
        "no_memo": {"SPARK_GRAFT_NO_MEMO": "1"},
    }
    doc = {"workload": "mix-sf0.1", "seed": args.seed, "k": int(k), "variants": {}}
    for name, env in variants.items():
        traced = run("mix-sf0.1", args.seed, bench["run_seconds"], 1, env)
        plain = run("mix-sf0.1", args.seed, bench["run_seconds"], 0, env)
        doc["variants"][name] = {
            "env": env,
            "per_layer": {m: v["value"] for m, v in traced["metrics"].items()},
            "end_to_end": {m: v["value"] for m, v in plain["metrics"].items()},
            "failed": traced["failed"] + plain["failed"],
        }
        print(name, json.dumps(doc["variants"][name]), file=sys.stderr, flush=True)
    return doc


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("spread", "sensitivity"))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--against", default="", help="an earlier spread file")
    args = ap.parse_args()
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    doc = spread(args, bench) if args.mode == "spread" else sensitivity(args, bench)
    os.makedirs(RESULTS, exist_ok=True)
    path = args.out or os.path.join(RESULTS, f"{args.mode}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
