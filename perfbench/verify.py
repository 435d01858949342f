"""Output checks, run after each operation and outside its timed window."""

from __future__ import annotations

import glob
import json
import os


def fingerprint(df) -> dict:
    """Row count plus an order-insensitive value hash, computed in the JVM:
    the exact decimal sum of ``xxhash64(to_json(row))`` over the columns in
    sorted-name order."""
    from pyspark.sql import functions as F

    row = F.to_json(F.struct(*[df[c] for c in sorted(df.columns)]))
    r = (
        df.select(F.xxhash64(row).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()[0]
    )
    return {"rows": int(r["n"]), "hash": str(r["s"] if r["s"] is not None else 0)}


def matches(got: dict, want: dict) -> bool:
    """Rows-only queries (no oracle SQL, ``want["hash"]`` is None) compare
    the row count only."""
    if got["rows"] != want["rows"]:
        return False
    return want.get("hash") is None or got["hash"] == want["hash"]


def check_etl(out_dir: str, schema_json: str, truth: dict) -> list[str]:
    """Problems with one cube's NDJSON documents and schema.json (empty when
    both match what the generator wrote)."""
    problems = []
    ids = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            ids.extend(json.loads(line)["fact_id"] for line in fh if line.strip())
    if len(ids) != truth["facts"]:
        problems.append(f"{len(ids)} documents for {truth['facts']} facts")
    if len(set(ids)) != len(ids):
        problems.append(f"{len(ids) - len(set(ids))} duplicate fact_id")
    with open(schema_json, encoding="utf-8") as fh:
        schema = json.load(fh)
    stats = schema.get("statistics", {})
    if list(stats) != [truth["statistic"]]:
        problems.append(f"statistics {sorted(stats)} != {[truth['statistic']]}")
    else:
        measures = stats[truth["statistic"]]["measures"]
        if measures != truth["measures"]:
            problems.append(f"schema measures differ: {sorted(measures)}")
    return problems


def ndjson_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(out_dir, "part-*")))
