#!/usr/bin/env python
"""Round-13 invocation-floor config A/B (guide §1 — measure first; §2.2/§6).

Hypothesis: on local[32] with sf0.1 inputs (every parquet file ≤ 11 MB),
`spark.sql.leafNodeDefaultParallelism` — the fallback for
`spark.sql.files.minPartitionNum` AND the slice count of local-relation /
range leaves — defaults to defaultParallelism (= 32), so every scan stage
fans out to 32 micro-tasks of ~300 KB each. FLOOR_PROBE measured 19,385
tasks across the 459-query suite at ~2.7 ms marginal cost per task, and the
8-core driver bench beating the 32-core one (204.9 vs 237.1 s) is exactly
the per-task-floor signature. At 100 TB this knob is inert for fact scans
(split count = bytes / maxPartitionBytes >> any floor); it only governs
small-input parallelism.

PAIRED protocol (block-level A/B was drift-poisoned: the control block
re-run at the end of the first attempt measured 36.2 s vs 45.2 s at the
start, a 25% host swing inside 12 minutes): for EACH query the variants run
back-to-back interleaved [v0, v1, ..., v0, v1, ...] and the per-variant
min-of-2 is compared PER QUERY — host drift hits all variants of a query
equally.

    python scripts/floor_ab.py [--stride 7] [--variants v0_control,v2_leaf1_max4m]
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
from genesapi_cli_spark.io import load  # noqa: E402
from genesapi_cli_spark.registry import REGISTRY  # noqa: E402

from bench import build_bench_session, materialize, warmup  # noqa: E402

#: Every io.load re-derives spark.sql.leafNodeDefaultParallelism from lake
#: size, so a leaf variant sets the env override that derivation honors;
#: the control runs the engine-derived value.
LEAF_ENV = "SPARK_GRAFT_LEAF_PAR"
MAXPB = "spark.sql.files.maxPartitionBytes"
SHUF = "spark.sql.shuffle.partitions"

VARIANTS = {
    "v0_control": {},
    "v1_leaf1": {LEAF_ENV: "1"},
    "v2_leaf1_max4m": {LEAF_ENV: "1", MAXPB: str(4 * 1024 * 1024)},
    "v3_leaf4": {LEAF_ENV: "4"},
    # VERDICT r12 item 8: is bench.py's shuffle=3 (r5/r6-tuned on local[32])
    # hurting the driver's 8-core contract run? Run with SPARK_GRAFT_CPUS=8:
    # control inherits the session's shuffle=3, these probe the obvious
    # alternatives at that core count.
    "v4_shuffle8": {SHUF: "8"},
    "v5_shuffle2": {SHUF: "2"},
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stride", type=int, default=7)
    ap.add_argument("--variants", default="v0_control,v2_leaf1_max4m")
    ap.add_argument("--cycles", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    genesapi_cli_spark.load_all()
    spark = build_bench_session("genesapi-floor-ab")
    warmup(spark, sf_dir)
    all_keys = sorted({k for v in VARIANTS.values() for k in v} - {LEAF_ENV})
    defaults = {k: spark.conf.get(k, None) for k in all_keys}

    def apply(variant: dict) -> None:
        if LEAF_ENV in variant:
            os.environ[LEAF_ENV] = variant[LEAF_ENV]
        else:
            os.environ.pop(LEAF_ENV, None)
        load(spark, sf_dir, "region")  # re-applies the leaf conf now
        for k, dv in defaults.items():
            v = variant.get(k, dv)
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    vtags = args.variants.split(",")
    names = sorted(REGISTRY)[:: args.stride]
    per: dict[str, dict[str, float]] = {v: {} for v in vtags}
    for name in names:
        q = REGISTRY[name]
        runs: dict[str, list[float]] = {v: [] for v in vtags}
        for _ in range(args.cycles):
            for vtag in vtags:
                apply(VARIANTS[vtag])
                t0 = time.perf_counter()
                materialize(q.fn(spark, sf_dir))
                runs[vtag].append(time.perf_counter() - t0)
        for vtag in vtags:
            per[vtag][name] = round(min(runs[vtag]), 3)
    summary = {v: round(sum(m.values()), 2) for v, m in per.items()}
    print(json.dumps({"totals_min": summary, "n_queries": len(names)}), flush=True)
    out = args.out or os.path.join(HERE, "FLOOR_AB.json")
    with open(out, "w") as fh:
        json.dump({"stride": args.stride, "cycles": args.cycles,
                   "totals_min": summary, "per_query": per}, fh,
                  indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
