"""The engine's public entry points, as the benchmark drives them."""

from __future__ import annotations

import os
import time

#: Shuffle partitions of the query workloads: bench.py's local setting.
QUERY_SHUFFLE = 3

#: Modules whose queries write to fixed paths outside the checkout.
WRITES_OUTSIDE = ("genesapi_cli_spark.sources.layout", "genesapi_cli_spark.sources.sinks")
WRITES_OUTSIDE_NAMES = ("q_scan_dpp", "q_source_cube_ds")


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warmup(spark, kind: str) -> None:
    """The session's first job, plus the one-off cost a workload's first
    operation would otherwise pay: the Python worker pool for the query
    workloads, the sha2/JSON expressions of ``cli serialize`` / ``cli
    schema`` for the CLI session. Operator code paths warm in the first
    pass, which ``first_pass_s`` measures: warming them here as well cost
    each setup 6 s at k=4 and saved the later passes less than that."""
    materialize(spark.range(1000).selectExpr("sum(id) AS s"))
    if kind == "query":
        def _identity(it):
            yield from it

        materialize(spark.range(256).mapInPandas(_identity, schema="id long"))
        return
    from pyspark.sql import functions as F

    warm = spark.range(256).selectExpr("id % 7 AS k", "sha2(to_json(struct(id)), 256) AS s")
    materialize(
        warm.groupBy("k").agg(F.sort_array(F.collect_set("s")).alias("xs"))
        .select("k", F.explode("xs").alias("x"))
    )


def setup(kind: str, k: int) -> tuple[object, dict]:
    """Build the session, populate the registry and warm up. ``kind`` is
    ``"query"`` (bench.py's session) or ``"etl"`` (the CLI's session).
    Returns the session and the wall of each step."""
    t0 = time.perf_counter()
    from genesapi_cli_spark.session import build_session

    if kind == "query":
        spark = build_session(
            app_name="genesapi-bench", master=f"local[{k}]", shuffle_partitions=QUERY_SHUFFLE
        )
    else:
        spark = build_session(app_name="genesapi-cli-spark", master=f"local[{k}]")
    t1 = time.perf_counter()
    import genesapi_cli_spark

    genesapi_cli_spark.load_all()
    t2 = time.perf_counter()
    warmup(spark, kind)
    t3 = time.perf_counter()
    return spark, {
        "session.build_s": t1 - t0,
        "registry.load_all_s": t2 - t1,
        "session.warmup_s": t3 - t2,
    }


def eligible(registry) -> list[str]:
    """Registry queries the benchmark may run: all but those writing to
    fixed paths outside the checkout."""
    return sorted(
        name
        for name, q in registry.items()
        if q.fn.__module__ not in WRITES_OUTSIDE and name not in WRITES_OUTSIDE_NAMES
    )


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM behind the session, in MiB."""
    total = 0
    for pid in (os.getpid(), spark.sparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()
