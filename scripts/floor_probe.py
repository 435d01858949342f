#!/usr/bin/env python
"""Round-13 invocation-floor probe (guide §1 — measure first).

For every registered query, runs the bench.py protocol once and records
  - wall_build  : seconds spent in q.fn() (plan construction, py4j, any
                  eager actions the operator performs)
  - wall_exec   : seconds spent in the noop materialize
  - n_jobs      : Spark jobs launched while the query's job group was active
  - n_stages    : distinct stages across those jobs
  - n_tasks     : total tasks across those stages

The 8-core bench beating the 32-core bench (BENCH_r12_c8 204.9 s vs
BENCH_r12 237.1 s) proved the sub-second majority is per-job/per-stage
scheduling cost, not compute. This table is the "before" evidence for
round 13's floor attack: it ranks queries by job count so the cuts target
actions/stage barriers, not compute.

    python scripts/floor_probe.py [--out FLOOR_PROBE.json] [q_a q_b ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import genesapi_cli_spark  # noqa: E402
from genesapi_cli_spark.registry import REGISTRY  # noqa: E402

from bench import build_bench_session, materialize, warmup  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out", default=os.path.join(HERE, "FLOOR_PROBE.json"))
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    genesapi_cli_spark.load_all()
    spark = build_bench_session("genesapi-floor-probe")
    warmup(spark, sf_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    names = args.queries or sorted(REGISTRY)
    out = {}
    for name in names:
        q = REGISTRY[name]
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            df = q.fn(spark, sf_dir)
            t1 = time.perf_counter()
            materialize(df)
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            print(f"# ERROR {name}: {type(e).__name__}: {e}", file=sys.stderr)
            out[name] = {"error": f"{type(e).__name__}: {e}"}
            continue
        finally:
            sc.setJobGroup("", "")
        job_ids = tracker.getJobIdsForGroup(name)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        n_tasks = 0
        for sid in stage_ids:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                n_tasks += sinfo.numTasks
        out[name] = {
            "wall_build": round(t1 - t0, 3),
            "wall_exec": round(t2 - t1, 3),
            "wall": round(t2 - t0, 3),
            "n_jobs": len(job_ids),
            "n_stages": len(stage_ids),
            "n_tasks": n_tasks,
        }

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    ok = {k: v for k, v in out.items() if "n_jobs" in v}
    tot_jobs = sum(v["n_jobs"] for v in ok.values())
    tot_wall = sum(v["wall"] for v in ok.values())
    print(json.dumps({
        "n_queries": len(ok),
        "total_jobs": tot_jobs,
        "total_stages": sum(v["n_stages"] for v in ok.values()),
        "total_tasks": sum(v["n_tasks"] for v in ok.values()),
        "total_wall": round(tot_wall, 1),
        "total_build": round(sum(v["wall_build"] for v in ok.values()), 1),
        "total_exec": round(sum(v["wall_exec"] for v in ok.values()), 1),
    }))
    worst = sorted(ok.items(), key=lambda kv: -kv[1]["n_jobs"])[:25]
    for k, v in worst:
        print(f"{k:40s} jobs={v['n_jobs']:3d} stages={v['n_stages']:3d} "
              f"tasks={v['n_tasks']:4d} build={v['wall_build']:.2f} exec={v['wall_exec']:.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
