#!/usr/bin/env python
"""Optimization measurement harness (rounds 12-13, guide §1).

Times named queries with the EXACT bench.py protocol (same session confs,
same warmup, noop sink, min-of-N) and optionally dumps .explain("formatted")
to plans/r12/<query>_<tag>.txt.

    python scripts/opt_measure.py [--runs 3] [--explain TAG] q_a q_b ...
    python scripts/opt_measure.py --explain before q_multimodal_dedup_clusters

Timing = full wall per invocation: q.fn(spark, sf_dir) + noop materialize,
exactly what bench.py charges a query.
"""

from __future__ import annotations

import argparse
import contextlib
import io
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
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain", default=None, help="dump plans/<dir>/<q>_<TAG>.txt")
    ap.add_argument("--plandir", default="r13", help="subdir of plans/ for --explain dumps")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    genesapi_cli_spark.load_all()
    spark = build_bench_session("genesapi-opt-measure")
    warmup(spark, sf_dir)

    out = {}
    for name in args.queries:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(name)
        runs = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            materialize(q.fn(spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(runs), "runs": runs}
        if args.explain:
            df = q.fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(HERE, "plans", args.plandir, f"{name}_{args.explain}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
