"""Command-line surface mirroring the reference's subcommands
(``genesapi/cli.py`` upstream: sync / serialize / schema / index), Spark-first.

    python -m genesapi_cli_spark.cli serialize CUBE_PATH OUT_DIR
    python -m genesapi_cli_spark.cli schema    CUBE_PATH OUT_JSON
    python -m genesapi_cli_spark.cli query     NAME [--sf-dir DIR] [--limit N]
    python -m genesapi_cli_spark.cli sql       "SELECT ..." [--sf-dir DIR] [--limit N]
    python -m genesapi_cli_spark.cli explain   NAME [--sf-dir DIR]
    python -m genesapi_cli_spark.cli list

- ``serialize``: cube text → typed facts → nested JSON documents with
  content-hash fact ids → NDJSON directory (the reference's jsonify path).
- ``schema``: cube text → catalog aggregation → one schema.json document
  (the reference's schema build).
- ``query``/``list``: run/enumerate any registered engine query — the
  generalization the reference never had.
- ``sql``: ad-hoc ANSI SQL over the lake tables (region nation customer
  supplier part orders lineitem events documents embeddings), registered
  as temp views; the full Spark SQL surface, Catalyst-optimized.
- ``explain``: the formatted physical plan of any registered query — the
  tool for verifying pushdown/broadcast/shuffle shape before a 100 TB run.
- ``sync``/``index`` are intentionally absent: the SOAP download client and
  the Elasticsearch transport are out of scope (SURVEY.md §7.4); their
  relational semantics live on as q_incremental_sync and sinks.bulk_sink.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _session() -> SparkSession:
    from genesapi_cli_spark.session import build_session

    return build_session(app_name="genesapi-cli-spark")


def _facts(spark: SparkSession, cube_path: str) -> tuple:
    """(layout, fact rows) of the cube at ``cube_path``; nothing runs yet."""
    from genesapi_cli_spark.sources.cube import parse_cube_file

    return parse_cube_file(spark, cube_path)


def cmd_serialize(args: argparse.Namespace) -> int:
    spark = _session()
    _layout, facts = _facts(spark, args.cube_path)
    # fact_id is the sha256 of the document's JSON bytes (field order as
    # listed), so equal facts get equal ids on every run.
    docs = facts.selectExpr(
        "to_json(struct(region_id, statistic, year, measure, value, quality, dims)) AS doc"
    ).selectExpr("sha2(doc, 256) AS fact_id", "doc")
    # observe(): row count rides along the write job itself — no second
    # full scan/serialize just to print a number.
    from pyspark.sql import Observation

    obs = Observation("ndjson_write")
    docs.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").json(
        args.out_dir
    )
    print(f"wrote {obs.get['n']} documents to {args.out_dir}")
    return 0


def cmd_schema(args: argparse.Namespace) -> int:
    """One aggregate (``sources.cube.schema_rows``) and one collect over one
    scan of the cube.

    The collected rows are the CATALOG, not the facts: one row per
    (statistic, measure) — bounded by the GENESIS schema surface (upstream:
    a few thousand statistics), never by fact volume. The artifact is one
    JSON document, so a driver materialization of the catalog is the
    contract here.
    """
    from genesapi_cli_spark.sources.cube import schema_rows

    spark = _session()
    layout, facts = _facts(spark, args.cube_path)
    schema = {
        "statistics": {},
    }
    for row in schema_rows(facts, layout).collect():
        schema["statistics"].setdefault(row.statistic, {"measures": {}})
        schema["statistics"][row.statistic]["measures"][row.measure] = {
            "n_facts": row.n_facts,
            "n_regions": row.n_regions,
            "years": [row.year_min, row.year_max],
            "dimensions": row.dim_domains,
        }
    with open(args.out_json, "w") as fh:
        json.dump(schema, fh, indent=2, sort_keys=True)
    print(f"wrote schema for {len(schema['statistics'])} statistic(s) to {args.out_json}")
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    import genesapi_cli_spark

    genesapi_cli_spark.load_all()
    from genesapi_cli_spark.registry import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _session()
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    from genesapi_cli_spark.io import TABLES, load

    spark = _session()
    for t in TABLES:
        load(spark, args.sf_dir, t).createOrReplaceTempView(t)
    df = spark.sql(args.query)
    df.show(args.limit, truncate=False)
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    import genesapi_cli_spark

    genesapi_cli_spark.load_all()
    from genesapi_cli_spark.plans.inspect import formatted_plan
    from genesapi_cli_spark.registry import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _session()
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    print(formatted_plan(df))
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    import genesapi_cli_spark

    genesapi_cli_spark.load_all()
    from genesapi_cli_spark.registry import REGISTRY

    for name, q in sorted(REGISTRY.items()):
        kind = "oracle" if q.oracle else "rows-only"
        first = (q.doc or "").strip().splitlines()[0] if q.doc else ""
        print(f"{name:28s} [{kind}] {first}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="genesapi-cli-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("serialize", help="cube text → NDJSON documents")
    s.add_argument("cube_path")
    s.add_argument("out_dir")
    s.set_defaults(fn=cmd_serialize)

    s = sub.add_parser("schema", help="cube text → schema.json catalog")
    s.add_argument("cube_path")
    s.add_argument("out_json")
    s.set_defaults(fn=cmd_schema)

    s = sub.add_parser("query", help="run a registered engine query")
    s.add_argument("name")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    s.add_argument("--limit", type=int, default=20)
    s.set_defaults(fn=cmd_query)

    s = sub.add_parser("sql", help="ad-hoc SQL over the lake tables")
    s.add_argument("query")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    s.add_argument("--limit", type=int, default=20)
    s.set_defaults(fn=cmd_sql)

    s = sub.add_parser("explain", help="formatted physical plan of a registered query")
    s.add_argument("name")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    s.set_defaults(fn=cmd_explain)

    s = sub.add_parser("list", help="list registered queries")
    s.set_defaults(fn=cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
