"""Regenerate ``fingerprints.json``: the expected output of every query the
query workloads may sample, certified by the DuckDB oracle.

For each eligible registry query on the benchmark's lake this runs the
engine in four passes like the benchmark's (cold memos, then warm),
fingerprints the outputs of the first two, and runs
``genesapi_cli_spark.oracle.check_query`` on the same lake. A query enters
the pool only if the oracle passes and both fingerprints agree. The
first-pass wall (``cold_s``) and the median of the three later walls
(``warm_s``) are the cost table that stratifies and balances the sample;
``udf`` marks plans that cross the Python/Arrow UDF boundary.
Rows-only queries (no oracle SQL) keep their row count only.

    python3 perfbench/make_fingerprints.py [q_a q_b ...]

Run from the root of the repository; the lake is generated first if absent.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import engine, inputs, sampling, trace, verify  # noqa: E402

OUT = os.path.join(inputs.HERE, "fingerprints.json")
#: Every STRIDE-th eligible query of each family is fingerprinted, so the
#: pool keeps every family while fingerprinting stays within minutes.
STRIDE = 3


def thin(names: list[str]) -> list[str]:
    by_family: dict[str, list[str]] = {}
    for name in sorted(names):
        by_family.setdefault(sampling.family(name), []).append(name)
    return sorted(q for qs in by_family.values() for q in qs[::STRIDE])


def duckdb_views(lake: str):
    """The oracle's views, over the part files gen_scale.py writes per table."""
    import duckdb

    from genesapi_cli_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet/*.parquet')")
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="default: every STRIDE-th query of each family")
    args = ap.parse_args()

    inputs.confine_env()
    lake = inputs.ensure_lake()
    spark, _ = engine.setup("query", inputs.cores())
    from genesapi_cli_spark.oracle import check_query
    from genesapi_cli_spark.registry import REGISTRY

    names = args.queries or thin(engine.eligible(REGISTRY))
    walls: dict[str, list] = {n: [] for n in names}
    prints: dict[str, list] = {n: [] for n in names}
    udf: dict[str, bool] = {}
    failed: dict[str, str] = {}
    for pass_no in range(4):
        for name in names:
            if name in failed:
                continue
            try:
                t0 = time.perf_counter()
                df = REGISTRY[name].fn(spark, lake)
                engine.materialize(df)
                walls[name].append(time.perf_counter() - t0)
                if pass_no < 2:
                    prints[name].append(verify.fingerprint(df))
                    udf[name] = trace.uses_python(df)
            except Exception as e:  # noqa: BLE001 - recorded as excluded
                failed[name] = f"{type(e).__name__}: {str(e)[:200]}"
            print(name, pass_no, walls[name][-1:], file=sys.stderr, flush=True)

    con = duckdb_views(lake)
    pool, excluded = {}, dict(failed)
    for name in names:
        if name in failed:
            continue
        cold, warm = walls[name][0], statistics.median(walls[name][1:])
        fp0, fp1 = prints[name]
        if fp0 != fp1:
            excluded[name] = "output differs between two runs"
            continue
        try:
            res = check_query(spark, REGISTRY[name], lake, con)
        except Exception as e:  # noqa: BLE001
            excluded[name] = f"oracle: {type(e).__name__}: {str(e)[:200]}"
            continue
        if not res.ok:
            excluded[name] = "oracle: " + "; ".join(res.errors)[:300]
            continue
        pool[name] = {
            "rows": fp1["rows"],
            "hash": fp1["hash"] if REGISTRY[name].oracle else None,
            "cold_s": round(cold, 4),
            "warm_s": round(warm, 4),
            "udf": udf[name],
        }
    con.close()
    engine.shutdown(spark)

    entry = {"queries": {}, "excluded": {}}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            entry = json.load(fh)
    entry["lake_bytes"] = inputs.lake_bytes(lake)
    for name in names:
        entry["queries"].pop(name, None)
        entry["excluded"].pop(name, None)
    entry["queries"].update(pool)
    entry["excluded"].update(excluded)
    with open(OUT, "w") as fh:
        json.dump(entry, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(pool)} in pool, {len(excluded)} excluded", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
