"""SparkSession construction and runtime configuration.

Two paths:

- ``build_session()`` — used by tests and ``bench.py`` (local mode).
- ``ensure_runtime_confs(spark)`` — used by every query entry point, because the
  driver hands us *its* SparkSession; all confs we depend on are runtime-settable
  SQL confs (verified on PySpark 4.1.2), so we set them idempotently per call.

Scale notes (100 TB / 1000-executor target):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic join
  strategy selection — this is the mechanism that keeps the same declarative
  plans viable at 1000x data.
- ``spark.sql.shuffle.partitions`` here is sized for local bench sanity; on a
  real cluster leave it to AQE (``spark.sql.adaptive.coalescePartitions``)
  with a high initial partition number.
- UTC session timezone pins event-time semantics (GENESIS data is date/year
  based; the events stream is UTC epoch-ns).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs required for correct reads + stable plans; all runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); Spark 4.1.2 refuses it unless the
    # legacy conf maps it to LONG nanos (SURVEY.md §7.5 #1).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow for pandas_udf / toPandas exchange (vectorized Python boundary).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Recursive-CTE row valve: the default 1M trips on legitimate full-table
    # walks (q_cte_recursive materializes every customer once — 1.5M rows at
    # sf10). Raised here as declared session policy rather than mutated
    # ad-hoc inside an operator; termination for our recursive queries is
    # guaranteed structurally (depth bounded by key length), and the valve
    # still guards against runaway recursion at 100M.
    "spark.sql.cteRecursionRowLimit": str(100_000_000),
    # Leaf-node parallelism is NOT a static conf here: io.load derives
    # spark.sql.leafNodeDefaultParallelism from lake size per sf_dir (see
    # io._ensure_scale_partitions). Override via SPARK_GRAFT_LEAF_PAR.
}


def apply_confs(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """Set each conf whose session value differs (get-compare-set), so a
    value changed behind the engine's back is restored on the next call."""
    for k, v in confs.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Static confs on an exotic session: proceed, reads may still work.
            pass
    return spark


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply required runtime confs to an existing session."""
    return apply_confs(spark, RUNTIME_CONFS)


def build_session(
    app_name: str = "genesapi-cli-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized for the testdata scale factors."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)
