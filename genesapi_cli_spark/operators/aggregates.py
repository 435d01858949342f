"""Aggregation operators (SURVEY.md §2.4).

Reference analog: the per-(region, year) fact aggregation and catalog/schema
statistics of ``genesapi/serialize.py`` / ``genesapi/schema.py`` (upstream) —
there they are Python dict loops; here every one is a hash aggregate with
map-side partial aggregation, chosen by Catalyst.

Scale notes: groupBy().agg() compiles to partial (map-side) + final hash
aggregation, so the shuffle carries one row per (partition × group), not per
input row. Group cardinalities here (return flags, segments, nations) are tiny
and skew-free; at 100 TB the same plans hold because the shuffled volume is
bounded by distinct-group count. ``count(distinct)`` adds one extra shuffle
(expand + two-phase agg) — acceptable for low-cardinality outer groups;
``approx_count_distinct`` (HLL++) is the 100-TB alternative and is also
declared. Exact-parity statistics (stddev/var/corr) are computed from exact
decimal moments so results are partition-order independent (see registry.DEC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genesapi_cli_spark.io import (
    CACHE,
    load,
    spread,
    source_stamps,
)
from genesapi_cli_spark.registry import DEC, dec_avg, dec_sum, oracle_dec_avg, oracle_dec_sum, register

# ---------------------------------------------------------------------------
# q_agg_pricing_summary — the flagship (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

_Q1_CUTOFF = "1998-09-02 00:00:00"

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {oracle_dec_sum('l_quantity', 'sum_qty')},
  {oracle_dec_sum('l_extendedprice', 'sum_base_price')},
  {oracle_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {oracle_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  {oracle_dec_avg('l_quantity', 'avg_qty')},
  {oracle_dec_avg('l_extendedprice', 'avg_price')},
  {oracle_dec_avg('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


@register("q_agg_pricing_summary", oracle=_Q1_ORACLE)
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: group lineitem by (returnflag, linestatus).

    Ref analog: per-(region, year) fact aggregation in genesapi/serialize.py
    (upstream). Physical plan: Parquet scan with pushed timestamp filter →
    partial HashAggregate → shuffle on 2 low-card keys → final HashAggregate,
    all inside whole-stage codegen.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(charge, "sum_charge"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q_agg_distinct
# ---------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT c_mktsegment,
       COUNT(DISTINCT o_custkey) AS n_custs,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("q_agg_distinct", oracle=_DISTINCT_ORACLE)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) per market segment (distinct customers in catalog build,
    genesapi/schema.py upstream). Two-phase distinct aggregate; customer side
    is broadcast (small dim)."""
    orders, customer = load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# q_agg_stats — exact-decimal moment statistics
# ---------------------------------------------------------------------------

# Shared formula text: computed from exact decimal sums (order-independent),
# then identical double arithmetic on both engines.
_STATS_ORACLE = """
WITH m AS (
  SELECT c_nationkey,
         COUNT(*) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,7))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(18,7))) AS DOUBLE) AS sxx,
         MIN(c_acctbal) AS min_bal,
         MAX(c_acctbal) AS max_bal
  FROM customer
  GROUP BY c_nationkey
)
SELECT c_nationkey,
       n AS n_customers,
       sx / n AS avg_bal,
       SQRT((sxx - sx * sx / n) / (n - 1)) AS stddev_bal,
       (sxx - sx * sx / n) / (n - 1) AS var_bal,
       min_bal,
       max_bal
FROM m
"""

_STATS_SPARK_SQL = _STATS_ORACLE  # identical ANSI text runs on Spark SQL too


@register("q_agg_stats", oracle=_STATS_ORACLE)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation statistics over customer balances.

    stddev/var are derived from exact decimal moments instead of the built-in
    streaming aggregators: double `stddev_samp` results depend on partition
    merge order, which would break bit-parity with the oracle. Same SQL text
    runs on both engines.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_STATS_SPARK_SQL)


# ---------------------------------------------------------------------------
# q_agg_grouping_sets / rollup / cube
# ---------------------------------------------------------------------------

_GSETS_SQL = f"""
SELECT l_returnflag,
       l_linestatus,
       GROUPING(l_returnflag) AS g_rf,
       GROUPING(l_linestatus) AS g_ls,
       COUNT(*) AS n_rows,
       {oracle_dec_sum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("q_agg_grouping_sets", oracle=_GSETS_SQL)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() indicators (schema rollup across levels,
    genesapi/schema.py upstream). Expand + single hash aggregate."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GSETS_SQL)


_ROLLUP_ORACLE = f"""
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
       EXTRACT(month FROM o_orderdate) AS o_month,
       COUNT(*) AS n_orders,
       {oracle_dec_sum('o_totalprice', 'sum_total')}
FROM orders
GROUP BY ROLLUP (EXTRACT(year FROM o_orderdate), EXTRACT(month FROM o_orderdate))
"""


@register("q_agg_rollup", oracle=_ROLLUP_ORACLE)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (year, month) of order totals — the reference's
    year/period rollups in the catalog build."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .withColumn("o_month", F.month("o_orderdate"))
        .rollup("o_year", "o_month")
        .agg(F.count(F.lit(1)).alias("n_orders"), dec_sum("o_totalprice", "sum_total"))
    )


_CUBE_ORACLE = """
SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderstatus)
"""


@register("q_agg_cube", oracle=_CUBE_ORACLE)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (segment, status) — all 2^2 grouping combinations."""
    orders, customer = load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# q_agg_having
# ---------------------------------------------------------------------------

_HAVING_ORACLE = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
GROUP BY c_nationkey
HAVING COUNT(*) > 55
"""


@register("q_agg_having", oracle=_HAVING_ORACLE)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING). Catalyst keeps the filter above the
    final aggregate; no extra shuffle."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .filter(F.col("n_customers") > 55)
    )


# ---------------------------------------------------------------------------
# q_agg_approx_distinct — HLL++ estimate checked against exact bounds
# ---------------------------------------------------------------------------

_APPROX_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS approx_within_5pct,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""


@register("q_agg_approx_distinct", oracle=_APPROX_ORACLE)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct(user_id) per event_type (HLL++) — the scale path
    for distinct counting at 100 TB: fixed-size sketch, single shuffle,
    mergeable. The raw estimate is engine-specific by design, so the oracle
    checks the ESTIMATE'S CONTRACT instead of its value: the exact distinct
    count hash-matches, and `approx_within_5pct` asserts |approx−exact| ≤
    5%·exact (HLL++ rsd default 5%; Spark's sketch is deterministic for
    fixed data, so the flag is stable) — upgrading this from a rows-only
    check to a value-checked accuracy bound.
    """
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n"),
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= F.col("exact_users") * F.lit(0.05)
    )
    return agg.select(
        "event_type", "exact_users", within.alias("approx_within_5pct"), "n"
    )


# ---------------------------------------------------------------------------
# q_agg_median_udaf — grouped pandas UDAF surface
# ---------------------------------------------------------------------------

_MEDIAN_ORACLE = """
SELECT event_type,
       MEDIAN(value) AS median_value,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""


@register("q_agg_median_udaf", oracle=_MEDIAN_ORACLE)
def q_agg_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type median via grouped-map pandas UDAF (applyInPandas).

    Demonstrates the Arrow-batched custom-aggregate surface (SNIPPETS.md
    grouped-agg pattern). Median interpolation ((lo+hi)/2 on even counts) is
    identical double arithmetic in numpy and DuckDB, so an exact oracle holds.
    Scale note: one shuffle on event_type; each group must fit in one worker's
    memory — fine for bounded group counts; for unbounded groups prefer
    percentile_approx (sketch-based, mergeable).
    """
    import pandas as pd

    ev = load(spark, sf_dir, "events").select("event_type", "value")

    def median_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "median_value": [float(pdf["value"].median())],
                "n": [len(pdf)],
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        median_fn, schema="event_type string, median_value double, n long"
    )


# ---------------------------------------------------------------------------
# q_agg_cascade
# ---------------------------------------------------------------------------

_CASCADE_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n_ev,
         SUM(CAST(value AS DECIMAL(18,7))) AS sum_v
  FROM events
  GROUP BY 1
)
SELECT CAST(date_trunc('month', day) AS DATE) AS month,
       COUNT(*) AS n_days,
       CAST(SUM(n_ev) AS BIGINT) AS n_events,
       CAST(SUM(sum_v) AS DOUBLE) AS sum_value,
       CAST(MAX(sum_v) AS DOUBLE) AS max_daily
FROM daily
GROUP BY 1
"""


@register("q_agg_cascade", oracle=_CASCADE_ORACLE)
def q_agg_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup cascade: daily pre-aggregate reused for the monthly rollup —
    the reference's hierarchical time rollup (day→month→year) done as one
    scan + two cheap aggregations instead of re-scanning facts per level.

    The monthly agg consumes the daily output (≤ days-of-history rows), so
    level 2 is effectively free; at 100 TB this is the materialized-rollup
    pattern where each coarser level reads the previous level, never the
    fact table. Decimal partials (not doubles) keep the cascade's re-summed
    totals order-independent across both hops.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.sum(F.col("value").cast("decimal(18,7)")).alias("sum_v"),
    )
    return daily.groupBy(F.trunc("day", "month").alias("month")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_ev").alias("n_events"),
        F.sum("sum_v").cast("double").alias("sum_value"),
        F.max("sum_v").cast("double").alias("max_daily"),
    )


# ---------------------------------------------------------------------------
# q_agg_sketch_merge (rows-only)
# ---------------------------------------------------------------------------


_SKETCH_ORACLE = """
SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS merged_within_5pct,
       COUNT(*) AS n_events,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
FROM events
GROUP BY 1
"""


@register("q_agg_sketch_merge", oracle=_SKETCH_ORACLE)
def q_agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count rollup: per-day HLL sketches of user_id
    merged into per-month estimates (Apache DataSketches via hll_sketch_agg /
    hll_union_agg / hll_sketch_estimate).

    THE 100 TB distinct-count pattern: exact COUNT(DISTINCT) re-shuffles raw
    keys at every rollup level, while sketches make every level above the
    first a byte-blob merge — the daily sketch table is a few KB/day and the
    month/quarter/year cascade never touches facts again. The DataSketches
    estimate itself is Spark-specific, so the oracle checks the MERGE
    CONTRACT: exact per-month distincts hash-match and `merged_within_5pct`
    asserts the day→month sketch union lands within 5% of exact — the
    property that makes the cascade trustworthy (vs rows-only before).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_ev"),
        F.countDistinct("user_id").alias("n_exact_day"),
    )
    merged = daily.groupBy(F.trunc("day", "month").alias("month")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = (
        ev.groupBy(F.trunc(F.to_date("ts"), "month").alias("month"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    j = merged.join(exact, "month")
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= F.col("exact_users") * F.lit(0.05)
    )
    return j.select(
        F.col("month").cast("date").alias("month"),
        "exact_users",
        within.alias("merged_within_5pct"),
        "n_events",
        "n_days",
    )


# ---------------------------------------------------------------------------
# q_agg_argmax
# ---------------------------------------------------------------------------

_ARGMAX_ORACLE = """
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id DESC) AS rd,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS ra
  FROM events
)
SELECT event_type,
       MAX(CASE WHEN rd = 1 THEN event_id END) AS top_event_id,
       MAX(CASE WHEN ra = 1 THEN event_id END) AS bottom_event_id,
       MAX(value) AS max_value,
       MIN(value) AS min_value
FROM r
GROUP BY event_type
"""


@register("q_agg_argmax", oracle=_ARGMAX_ORACLE)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min per group: which event carried the extreme value —
    the reference's "latest/largest fact per cell" selection
    (genesapi/storage.py (upstream) picks the newest cube version the same
    way) without a window pass.

    max_by/min_by with a struct ordering key gives deterministic tie-breaks
    (lexicographic (value, event_id)) in ONE hash aggregate — no sort, no
    per-group row_number shuffle. At 100 TB this replaces the
    rank-then-filter pattern whenever only the argmax row (not the top-k)
    is needed: shuffled bytes drop from all rows to one row per group.
    DuckDB 1.0's arg_max lacks composite ordering keys, so the oracle spells
    the same semantics with row_number.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("max_by(event_id, struct(value, event_id))").alias("top_event_id"),
        F.expr("min_by(event_id, struct(value, event_id))").alias("bottom_event_id"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
    )


# ---------------------------------------------------------------------------
# q_agg_histogram
# ---------------------------------------------------------------------------

_HIST_ORACLE = f"""
SELECT LEAST(GREATEST(CAST(FLOOR(l_extendedprice / 10000) AS INT), 0), 9) AS bucket,
       COUNT(*) AS n_items,
       {oracle_dec_sum('l_extendedprice', 'sum_price')}
FROM lineitem
GROUP BY 1
"""


@register("q_agg_histogram", oracle=_HIST_ORACLE)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (10 × 10k price buckets, clamped overflow
    bucket): the GANZ/FEST value-distribution diagnostics the reference
    prints per cube, as one hash aggregate.

    Bucketing is plain floor arithmetic (identical IEEE semantics in both
    engines) rather than width_bucket — DuckDB 1.0 lacks it, and an explicit
    expression keeps the bucket id inside whole-stage codegen. Shuffle
    volume is 10 rows × partitions regardless of input size: the canonical
    map-side-combine win.
    """
    li = load(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.greatest(F.floor(F.col("l_extendedprice") / 10000).cast("int"), F.lit(0)),
        F.lit(9),
    )
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum("l_extendedprice", "sum_price"),
    )


# ---------------------------------------------------------------------------
# q_agg_bitwise
# ---------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT event_type,
       CAST(bit_or(user_id) AS BIGINT) AS users_bor,
       CAST(bit_and(user_id) AS BIGINT) AS users_band,
       CAST(bit_xor(user_id) AS BIGINT) AS users_bxor,
       CAST(bit_count(CAST(bit_or(user_id) AS BIGINT)) AS INT) AS bor_bits
FROM events
GROUP BY event_type
"""


@register("q_agg_bitwise", oracle=_BITWISE_ORACLE)
def q_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_or / bit_and / bit_xor + popcount): the
    fixed-width roll-your-own-bitmap primitive — OR of per-row bit positions
    is how small-domain membership bitmaps merge without a sketch library,
    the 100 TB trick for "which of ≤64 flags appeared in this group" in
    8 bytes of shuffle per group. Integer-exact, so the oracle matches
    bit-for-bit.
    """
    ev = load(spark, sf_dir, "events")
    bor = F.expr("bit_or(user_id)")
    return ev.groupBy("event_type").agg(
        bor.cast("long").alias("users_bor"),
        F.expr("bit_and(user_id)").cast("long").alias("users_band"),
        F.expr("bit_xor(user_id)").cast("long").alias("users_bxor"),
        F.bit_count(bor).cast("int").alias("bor_bits"),
    )


# ---------------------------------------------------------------------------
# q_agg_mode
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
WITH per AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), r AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type ASC) AS rn
  FROM per
)
SELECT r.user_id,
       MAX(CASE WHEN rn = 1 THEN event_type END) AS mode_type,
       MAX(CASE WHEN rn = 1 THEN cnt END) AS n_mode,
       CAST(SUM(cnt) AS BIGINT) AS n_events
FROM r
GROUP BY r.user_id
"""


@register("q_agg_mode", oracle=_MODE_ORACLE)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: each user's most frequent event type, ties broken
    lexicographically. Built-in mode() is tie-nondeterministic in BOTH
    engines — a hash-parity trap — so the engine spells it as
    min_by(type, struct(-cnt, type)): two chained hash aggregates, no window
    over raw rows, deterministic by construction. With AQE the second agg
    reuses the first's hash partitioning on user_id (no extra exchange).
    """
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return per.groupBy("user_id").agg(
        F.expr("min_by(event_type, struct(-cnt, event_type))").alias("mode_type"),
        F.max("cnt").alias("n_mode"),
        F.sum("cnt").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q_agg_boolean
# ---------------------------------------------------------------------------

_BOOL_ORACLE = """
SELECT event_type,
       bool_and(value > 5)  AS all_above5,
       bool_or(value > 95)  AS any_above95,
       CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_above50,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""


@register("q_agg_boolean", oracle=_BOOL_ORACLE)
def q_agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (bool_and/bool_or/count-if): the quality-flag
    routing of the reference as predicates folded into ONE hash aggregate —
    "were ALL values in this cell unlocked? was ANY confidential?" — instead
    of separate filtered scans. 1 bit per group per predicate shuffles.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bool_and(F.col("value") > 5).alias("all_above5"),
        F.bool_or(F.col("value") > 95).alias("any_above95"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).cast("long").alias("n_above50"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q_agg_corr — bivariate statistics from exact integer-cents co-moments
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_quantity      * 100 + 0.5) AS BIGINT) AS xc,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
  FROM lineitem
), m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(xc)      AS DOUBLE) AS sx,
         CAST(SUM(yc)      AS DOUBLE) AS sy,
         CAST(SUM(xc * xc) AS DOUBLE) AS sxx,
         CAST(SUM(yc * yc) AS DOUBLE) AS syy,
         CAST(SUM(xc * yc) AS DOUBLE) AS sxy
  FROM c
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       n AS n_rows,
       (n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
         AS corr_qty_price,
       (sxy - sx * sy / n) / (n - 1) / 10000.0 AS covar_qty_price,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_price_per_qty,
       (sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx / n) / 100.0
         AS intercept
FROM m
"""


@register("q_agg_corr", oracle=_CORR_ORACLE)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (corr / covar_samp / OLS slope+intercept): the
    drift-detection profile of a data pipeline — is price still linear in
    quantity per return class?

    Parity discipline, one step stricter than q_agg_stats: Spark's builtin
    corr() is a distributed streaming co-moment whose float result is
    partition-order dependent, and even decimal(18,7) sums of double
    SQUARES can differ across engines by one rounding tie (observed on
    l_extendedprice² at sf0.01). So both engines first snap the 2-decimal
    money/quantity values to exact integer cents — floor(x*100+0.5), bit-
    identical IEEE — and accumulate co-moments in exact DECIMAL integer
    arithmetic (one hash aggregate, map-side partials intact; decimal(38,0)
    products hold to ~1e38, far past 100 TB row counts). The closed-form
    double arithmetic on top is identical in both engines, so corr/slope
    hash-match at any parallelism. Scale factors cancel in corr and slope;
    covar and intercept divide back by 1e4 / 1e2.
    """
    li = load(spark, sf_dir, "lineitem")
    # floor() yields LONG; per-row products stay in cheap codegen'd long
    # arithmetic (cents² ≤ ~1.2e14, no ANSI overflow); only the SUM itself is
    # widened to decimal — long×long + decimal-sum runs ~4× faster than
    # BigDecimal×BigDecimal per row (measured), same exact result. DuckDB
    # mirrors with hugeint-backed SUM(BIGINT).
    xc = F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
    yc = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
    c = li.select("l_returnflag", xc.alias("xc"), yc.alias("yc"))
    dbl = lambda col: F.sum(col.cast("decimal(27,0)")).cast("double")  # noqa: E731
    m = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dbl(F.col("xc")).alias("sx"),
        dbl(F.col("yc")).alias("sy"),
        dbl(F.col("xc") * F.col("xc")).alias("sxx"),
        dbl(F.col("yc") * F.col("yc")).alias("syy"),
        dbl(F.col("xc") * F.col("yc")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        n.alias("n_rows"),
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "corr_qty_price"
        ),
        ((sxy - sx * sy / n) / (n - 1) / 10000.0).alias("covar_qty_price"),
        slope.alias("slope_price_per_qty"),
        ((sy / n - slope * sx / n) / 100.0).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# q_agg_multi_distinct
# ---------------------------------------------------------------------------

_MULTI_DISTINCT_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey)  AS n_parts,
       COUNT(DISTINCT l_suppkey)  AS n_supps,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 25) AS n_supps_bulk,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register("q_agg_multi_distinct", oracle=_MULTI_DISTINCT_ORACLE)
def q_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates (plus a FILTERed one) in a single query —
    the cardinality dashboard every pipeline runs (distinct parts/suppliers/
    orders per flag in one pass).

    Catalyst plans N distinct columns as ONE Expand (each input row fans out
    to N+1 tagged copies) feeding a two-level aggregate, instead of N
    separate scans+joins — the scan happens once at 100 TB. The filtered
    distinct rides the same Expand via a null-out projection. When distinct
    cardinality itself explodes, the documented relief valve is
    approx_count_distinct (q_agg_approx_distinct). spread() parallelizes the
    5-way Expand on local single-row-group files; no-op on pre-split inputs.
    """
    li = spread(load(spark, sf_dir, "lineitem"))
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count_distinct(F.when(F.col("l_quantity") > 25, F.col("l_suppkey"))).alias(
            "n_supps_bulk"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q_agg_decay — exponentially time-decayed score
# ---------------------------------------------------------------------------

_DECAY_ORACLE = """
WITH mx AS (
  SELECT MAX(epoch_us(ts)) AS tmax FROM events
), w AS (
  SELECT user_id, value,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(FLOOR(EXP(-CAST((tmax - epoch_us(ts)) // 86400000000 AS DOUBLE) / 7.0)
               * 1000000 + 0.5) AS BIGINT) AS w6
  FROM events, mx
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(cents * w6) AS DOUBLE) / 100000000 AS decayed_score,
       CAST(SUM(CAST(value AS DECIMAL(18,7))) AS DOUBLE) AS raw_score
FROM w
GROUP BY user_id
"""


@register("q_agg_decay", oracle=_DECAY_ORACLE)
def q_agg_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score (half-life ≈ 7·ln2 days):
    the recency weighting behind feature stores, trending rankers, and
    freshness-weighted sampling of training data.

    Parity engineering: exp() goes through libm and may differ in the last
    ulp across engines, so the decay weight is snapped to integer MICROS
    (floor(exp·1e6+0.5); age is first quantized to whole days → only ~30
    distinct exp arguments, so a snap-boundary collision needs both engines
    within 1e-16 of a 1e-6 edge — negligible and fixed for given data). The
    2-decimal value likewise snaps to integer cents, making the weighted sum
    EXACT integer arithmetic (cents·w6 ≤ 1e10/row, decimal-summed) — no
    float rounding ties anywhere (a decimal(18,7) cast of the product was
    observed to tie-round differently across engines on ~10%% of rows); one
    double division by 1e8 at the end. Global T_max comes from a 1-row agg
    cross-joined (broadcast) onto the scan — one extra tiny stage, no second
    pass over the data.
    """
    ev = load(spark, sf_dir, "events")
    tmax = ev.agg(F.max("ts_us").alias("tmax"))
    w = ev.crossJoin(F.broadcast(tmax)).select(
        "user_id",
        "value",
        F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        F.floor(
            F.exp(-F.expr("cast((tmax - ts_us) div 86400000000 as double)") / 7.0)
            * 1000000
            + F.lit(0.5)
        ).alias("w6"),
    )
    return w.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum((F.col("cents") * F.col("w6")).cast("decimal(27,0)")).cast("double")
            / 100000000
        ).alias("decayed_score"),
        F.sum(F.col("value").cast("decimal(18,7)")).cast("double").alias("raw_score"),
    )


# ---------------------------------------------------------------------------
# q_events_anomaly — z-score outlier profiling
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,7))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * value AS DECIMAL(18,7))) AS DOUBLE) AS sxx
  FROM events
  GROUP BY event_type
), s AS (
  SELECT event_type, n,
         sx / n AS mean_v,
         SQRT((sxx - sx * sx / n) / (n - 1)) AS sd_v
  FROM m
), z AS (
  SELECT e.event_type,
         (e.value - s.mean_v) / s.sd_v AS zv
  FROM events e JOIN s USING (event_type)
)
SELECT event_type,
       CAST(SUM(CASE WHEN ABS(zv) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n,
       FLOOR(MAX(ABS(zv)) * 10000 + 0.5) / 10000 AS max_abs_z
FROM z
GROUP BY event_type
"""


@register("q_events_anomaly", oracle=_ANOMALY_ORACLE)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier profiling: group moments → per-row
    standardization → outlier counts. The data-quality tripwire run over
    every ingest batch (value drift, sensor glitches, corrupted shards).

    Two-pass shape done the scale-correct way: pass 1 is a tiny hash agg
    (one row per event_type); pass 2 re-joins those stats via BROADCAST —
    the 100 TB scan streams once, no shuffle of the fact table at all.
    Moments use exact decimal sums (order-independent); mean/sd/z are then
    identical double arithmetic in both engines, so even the >2 threshold
    compare is deterministic; max |z| is floor-rounded for output.
    """
    ev = load(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,7)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,7)"))
        .cast("double")
        .alias("sxx"),
    )
    s = m.select(
        "event_type",
        "n",
        (F.col("sx") / F.col("n")).alias("mean_v"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias(
            "sd_v"
        ),
    )
    z = ev.join(F.broadcast(s), "event_type").select(
        "event_type", ((F.col("value") - F.col("mean_v")) / F.col("sd_v")).alias("zv")
    )
    return z.groupBy("event_type").agg(
        F.sum(F.when(F.abs("zv") > 2, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.max(F.abs("zv")) * 10000 + F.lit(0.5)) / 10000).alias("max_abs_z"),
    )


# ---------------------------------------------------------------------------
# q_agg_skewkurt — higher-moment drift statistics
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH c AS (
  SELECT l_returnflag, CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS xc
  FROM lineitem
), m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(xc) AS DOUBLE) AS s1,
         CAST(SUM(xc * xc) AS DOUBLE) AS s2,
         CAST(SUM(xc * xc * xc) AS DOUBLE) AS s3,
         CAST(SUM(xc * xc * xc * xc) AS DOUBLE) AS s4
  FROM c GROUP BY l_returnflag
), mom AS (
  SELECT l_returnflag, n,
         s1 / n AS m1,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM m
)
SELECT l_returnflag,
       n AS n_rows,
       FLOOR(m1 / 100 * 10000 + 0.5) / 10000 AS mean_qty,
       FLOOR(m3 / (m2 * SQRT(m2)) * 10000 + 0.5) / 10000 AS skewness,
       FLOOR((m4 / (m2 * m2) - 3) * 10000 + 0.5) / 10000 AS excess_kurtosis
FROM mom
"""


@register("q_agg_skewkurt", oracle=_SKEW_ORACLE)
def q_agg_skewkurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness + excess kurtosis per group — the higher-moment drift profile
    (a shifted tail or new outlier mass moves 3rd/4th moments long before the
    mean). Spark's builtin skewness()/kurtosis() are streaming co-moments
    (partition-order-dependent floats), so the same exact-cents discipline as
    q_agg_corr applies: integer powers (qty-cents⁴ ≤ 6.3e14/row — fits a
    long), decimal-exact sums, then one identical closed-form central-moment
    expansion on both engines, floor-rounded for output. One hash aggregate,
    map-side combined; scale factors cancel in the standardized moments.
    """
    li = load(spark, sf_dir, "lineitem")
    xc = F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
    c = li.select("l_returnflag", xc.alias("xc"))
    x = F.col("xc")
    # decimal(38,0) power sums (↔ DuckDB's auto-HUGEINT SUM): at 100 TB a
    # returnflag group holds ~2e11 rows and Σxc⁴ ≈ 1.3e26 — decimal(27,0)
    # left only ~8× headroom; 38,0 holds to n ≈ 1.6e23 rows/group. The
    # per-ROW xc⁴ long bound is xc ≤ 55108 cents (TPC-H qty ≤ 5000 cents);
    # richer domains must widen the per-row product too (SCALE.md §8).
    dbl = lambda col: F.sum(col.cast("decimal(38,0)")).cast("double")  # noqa: E731
    m = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dbl(x).alias("s1"),
        dbl(x * x).alias("s2"),
        dbl(x * x * x).alias("s3"),
        dbl(x * x * x * x).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2 = F.col("s2") / n - m1 * m1
    m3 = F.col("s3") / n - 3 * m1 * (F.col("s2") / n) + 2 * m1 * m1 * m1
    m4 = (
        F.col("s4") / n
        - 4 * m1 * (F.col("s3") / n)
        + 6 * m1 * m1 * (F.col("s2") / n)
        - 3 * m1 * m1 * m1 * m1
    )
    r4f = lambda col: F.floor(col * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return m.select(
        "l_returnflag",
        n.alias("n_rows"),
        r4f(m1 / 100).alias("mean_qty"),
        r4f(m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        r4f(m4 / (m2 * m2) - 3).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# q_agg_concentration — top-decile share / inequality profile
# ---------------------------------------------------------------------------

_CONC_ORACLE = """
WITH cust AS (
  SELECT c_nationkey, o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey
), ranked AS (
  SELECT c_nationkey, cents,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY cents DESC, o_custkey)
           AS rk,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n_cust,
         SUM(cents) OVER (PARTITION BY c_nationkey) AS total_cents
  FROM cust
)
SELECT c_nationkey,
       CAST(MAX(n_cust) AS BIGINT) AS n_customers,
       CAST(MAX(total_cents) AS DOUBLE) / 100 AS total_revenue,
       FLOOR(CAST(SUM(CASE WHEN rk * 10 <= n_cust THEN cents ELSE 0 END) AS DOUBLE)
             / MAX(total_cents) * 10000 + 0.5) / 10000 AS top_decile_share
FROM ranked
GROUP BY c_nationkey
"""


@register("q_agg_concentration", oracle=_CONC_ORACLE)
def q_agg_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration profile: the revenue share of each nation's top-decile
    customers — the inequality measure behind whale detection, source-quota
    balancing (is 90% of a training source 10 domains?), and risk reports.

    Per-entity totals (exact cents) → one ranking window per nation (rank,
    group size, and group total share a single Sort) → integer cross-multiply
    decile membership (rk·10 ≤ n, no float percentile) → exact share ratio,
    floor-rounded once. Two shuffles total: entity agg, nation window.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    per_cust = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(cents.cast("decimal(27,0)")).cast("bigint").alias("cents"))
    )
    w = Window.partitionBy("c_nationkey")
    wo = w.orderBy(F.col("cents").desc(), F.col("o_custkey"))
    ranked = per_cust.select(
        "c_nationkey",
        "cents",
        F.row_number().over(wo).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n_cust"),
        F.sum("cents").over(w).alias("total_cents"),
    )
    return ranked.groupBy("c_nationkey").agg(
        F.max("n_cust").cast("bigint").alias("n_customers"),
        (F.max("total_cents").cast("double") / 100).alias("total_revenue"),
        (
            F.floor(
                F.sum(F.when(F.col("rk") * 10 <= F.col("n_cust"), F.col("cents")).otherwise(0))
                .cast("double")
                / F.max("total_cents")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("top_decile_share"),
    )


# ---------------------------------------------------------------------------
# q_agg_weighted — quantity-weighted average price
# ---------------------------------------------------------------------------

_WEIGHTED_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(l_quantity AS BIGINT)) AS BIGINT) AS wsum_cents,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wtot,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / CAST(SUM(CAST(l_quantity AS BIGINT)) * 100 AS DOUBLE) AS wavg_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("q_agg_weighted", oracle=_WEIGHTED_ORACLE)
def q_agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean (quantity-weighted average price per return flag) — the
    VWAP / exposure-weighted-metric aggregate.

    Parity engineering: price snaps to integer cents and quantity is already
    integral, so the weighted numerator and denominator are EXACT int64 sums
    (cents·qty ≤ ~10^7 per row — no overflow until ~10^12 rows per group;
    the decimal(27,0) escalation is the documented relief valve). The mean
    itself is ONE double division of identical integers — bit-exact across
    engines. Single hash aggregate, map-side partials.
    """
    li = load(spark, sf_dir, "lineitem")
    wsum = F.sum(
        (F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint"))
        * F.col("l_quantity").cast("bigint")
    )
    wtot = F.sum(F.col("l_quantity").cast("bigint"))
    return li.groupBy("l_returnflag").agg(
        wsum.alias("wsum_cents"),
        wtot.alias("wtot"),
        (wsum.cast("double") / (wtot * 100).cast("double")).alias("wavg_price"),
    )


# ---------------------------------------------------------------------------
# q_agg_weighted_median — quantity-weighted median price
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH per_price AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
         SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem
  GROUP BY l_returnflag, price_cents
), cum AS (
  SELECT l_returnflag, price_cents, qty,
         SUM(qty) OVER (PARTITION BY l_returnflag ORDER BY price_cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_qty,
         SUM(qty) OVER (PARTITION BY l_returnflag) AS tot_qty
  FROM per_price
)
SELECT l_returnflag,
       MIN(price_cents) AS wmedian_cents,
       CAST(MAX(tot_qty) AS BIGINT) AS tot_qty
FROM cum
WHERE 2 * cum_qty >= tot_qty
GROUP BY l_returnflag
"""


@register("q_agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted MEDIAN price per return flag (the robust sibling of
    q_agg_weighted's weighted mean): the smallest price at which cumulative
    quantity reaches half the total — the 50%-of-volume price point.

    Parity: prices snap to integer cents, weights are integral quantities,
    and the defining inequality 2·cum ≥ tot is pure integer comparison — no
    interpolation, no floats anywhere, bit-exact across engines.

    Scale shape: fourth consumer of the shared ranked-cents relation
    (build_ranked_cents) — the per-flag sorted pass with row-level
    quantity cumulatives runs ONCE per session for the whole
    robust-statistics family. Row-level cumulation is equivalent to the
    oracle's per-price aggregation: within a tie block of equal cents the
    threshold 2·cum ≥ tot can only first hold at that block's price, so
    MIN(price) picks the identical crossing. At measured sf the distinct
    (flag, cents) relation is ~99% of the fact count (prices are
    near-continuous), so collapsing first buys nothing — sharing the sort
    does.
    """
    ranked = shared_ranked_cents(spark, sf_dir)
    return (
        ranked.filter(2 * F.col("cum_qty") >= F.col("tot_qty"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("wmedian_cents"),
            F.max("tot_qty").cast("bigint").alias("tot_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q_agg_approx_quantile — accuracy contract for percentile_approx
# ---------------------------------------------------------------------------

_APPROXQ_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS p50_ok, TRUE AS p90_ok
FROM events
GROUP BY event_type
"""


@register("q_agg_approx_quantile", oracle=_APPROXQ_ORACLE)
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy contract for approximate quantiles (the q_agg_approx_distinct
    pattern applied to percentile_approx): the KLL/GK-style sketch with
    accuracy=1000 guarantees rank error ≤ 1/1000, so its p50/p90 estimates
    MUST land inside the exact [p−0.05, p+0.05] quantile envelope. The
    query emits the booleans; the oracle states them TRUE — a hash match is
    a machine-checked accuracy certificate, which is how you oracle-test an
    approximation whose internals no second engine reproduces.

    Scale: percentile_approx is the 100 TB quantile path (mergeable sketch,
    map-side partials, O(accuracy) state); the exact percentiles used as the
    envelope here are the small-data verification harness.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile_approx(value, 0.5, 1000) >= percentile(value, 0.45) AND "
            "percentile_approx(value, 0.5, 1000) <= percentile(value, 0.55)"
        ).alias("p50_ok"),
        F.expr(
            "percentile_approx(value, 0.9, 1000) >= percentile(value, 0.85) AND "
            "percentile_approx(value, 0.9, 1000) <= percentile(value, 0.95)"
        ).alias("p90_ok"),
    )


# ---------------------------------------------------------------------------
# q_agg_gini — revenue concentration (Gini coefficient)
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH per_cust AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey,
         SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY seg, o.o_custkey
), ranked AS (
  SELECT seg, cents,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, o_custkey) AS i
  FROM per_cust
)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS tot_cents,
       FLOOR((CAST(2 * SUM(i * cents) AS DOUBLE)
              / (COUNT(*) * SUM(cents))
              - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*)) * 10000 + 0.5) / 10000
         AS gini_r4
FROM ranked
GROUP BY seg
"""


@register("q_agg_gini", oracle=_GINI_ORACLE)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per market segment — the
    inequality/concentration metric (0 = uniform, →1 = one whale) that
    complements q_agg_concentration's top-decile share.

    Uses the rank formulation G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over
    ascending-sorted exact cents (ties broken by custkey — same order both
    engines, and ties don't change the statistic's value beyond that fixed
    order). Σ(i·xᵢ) stays < 2⁶³ up to ~10⁸ customers·10⁶-cent revenues; the
    documented relief valve at 100 TB is the decimal cast. One shuffle to
    the per-customer aggregate, one ranking window per segment, one rollup.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    per_cust = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("seg").orderBy("cents", "o_custkey")
    ranked = per_cust.select("seg", "cents", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    gini = (
        (2 * F.sum(F.col("i") * F.col("cents"))).cast("double")
        / (n * F.sum("cents"))
        - (n + 1).cast("double") / n
    )
    return ranked.groupBy("seg").agg(
        n.cast("bigint").alias("n_customers"),
        F.sum("cents").alias("tot_cents"),
        (F.floor(gini * 10000 + F.lit(0.5)) / 10000).alias("gini_r4"),
    )


# ---------------------------------------------------------------------------
# q_agg_theil — Theil T inequality index (decomposable entropy measure)
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH per_cust AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey,
         SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY seg, o.o_custkey
), m AS (
  SELECT seg,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS tot_cents,
         CAST(SUM(cents * CAST(FLOOR(LN(CAST(cents AS DOUBLE)) * 1000000 + 0.5)
                               AS BIGINT)) AS DECIMAL(38,0)) AS sxl
  FROM per_cust GROUP BY seg
)
SELECT seg, n_customers, tot_cents,
       FLOOR((CAST(sxl AS DOUBLE) / CAST(tot_cents AS DOUBLE) / 1000000.0
              - CAST(CAST(FLOOR(LN(CAST(tot_cents AS DOUBLE) / n_customers)
                                * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
                / 1000000.0) * 10000 + 0.5) / 10000 AS theil_r4
FROM m
ORDER BY seg
"""


@register("q_agg_theil", oracle=_THEIL_ORACLE)
def q_agg_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer revenue per market segment — the THIRD
    inequality lens next to q_agg_gini (rank-based) and q_agg_hhi
    (share-squares): T = (1/n)·Σ(xᵢ/μ)·ln(xᵢ/μ), the entropy-based measure
    whose defining property the other two lack — it decomposes EXACTLY into
    between-group + within-group terms, which is why large-corpus ablations
    report it per slice. 0 = perfect equality, ln(n) = one whale.

    Identity used: T = Σxᵢ·ln(xᵢ) / S − ln(S/n) with S = Σxᵢ, so ONE hash
    aggregate per segment suffices — no sort, no window (Gini needs the
    ranking pass; Theil deliberately doesn't). Parity: per-customer ln is
    MICRO-SNAPPED to an integer (floor(ln·1e6 + 0.5), the text-family lp
    convention — libm ulp differences between engines die at the snap), the
    Σx·lnm cross-sum runs exact (bigint terms, DECIMAL(38,0) total — the
    q_agg_hhi escalation discipline), the one remaining ln(S/n) is snapped
    the same way, and the final statistic is one identically-associated
    double expression rounded to 4 decimals.

    Scale shape: two chained map-side-combining hash aggregates
    (segment×customer, then segment) over a broadcast customer dim — the
    cheapest of the three inequality queries at 100 TB; cents > 0 always
    (totalprice is positive), so the ln domain guard is structural.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    per_cust = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    lnm = (
        F.floor(F.log(F.col("cents").cast("double")) * 1000000 + F.lit(0.5))
        .cast("bigint")
    )
    m = per_cust.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("tot_cents"),
        F.sum((F.col("cents") * lnm).cast("decimal(38,0)")).alias("sxl"),
    )
    s_d = F.col("tot_cents").cast("double")
    ln_sn = (
        F.floor(
            F.log(s_d / F.col("n_customers")) * 1000000 + F.lit(0.5)
        )
        .cast("bigint")
        .cast("double")
        / 1000000.0
    )
    theil = F.col("sxl").cast("double") / s_d / 1000000.0 - ln_sn
    return m.select(
        "seg",
        "n_customers",
        "tot_cents",
        (F.floor(theil * 10000 + F.lit(0.5)) / 10000).alias("theil_r4"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# q_agg_lorenz — cumulative revenue-share curve (Lorenz deciles)
# ---------------------------------------------------------------------------

_LORENZ_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
), deciled AS (
  SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
  FROM per_cust
), per_decile AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM deciled GROUP BY decile
)
SELECT decile, n_customers, cents,
       CAST(SUM(cents) OVER (ORDER BY decile
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_cents,
       FLOOR(CAST(SUM(cents) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(cents) OVER () AS DOUBLE) * 10000 + 0.5) / 10000
         AS cum_share_r4
FROM per_decile
"""


@register("q_agg_lorenz", oracle=_LORENZ_ORACLE)
def q_agg_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve deciles: customers sorted by revenue, bucketed into ten
    equal-count groups, with each decile's cumulative share of total
    revenue — the curve behind q_agg_gini's scalar (a 25%-revenue bottom
    half reads straight off this output).

    All integer cents until the final share division; NTILE ordering is
    made total with the custkey tiebreak; the cumulative window runs over
    exactly 10 post-aggregate rows. One full shuffle (per-customer agg) +
    one ranking window over |customers| + constant-size rest.
    """
    orders = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    per_cust = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    deciled = per_cust.select(
        "cents",
        F.ntile(10).over(Window.orderBy("cents", "o_custkey")).alias("decile"),
    )
    per_decile = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").alias("cents"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = F.sum("cents").over(w_cum)
    tot = F.sum("cents").over(w_all)
    return per_decile.select(
        "decile",
        "n_customers",
        "cents",
        cum.alias("cum_cents"),
        (F.floor(cum.cast("double") / tot.cast("double") * 10000 + F.lit(0.5)) / 10000).alias(
            "cum_share_r4"
        ),
    )


# ---------------------------------------------------------------------------
# q_agg_heavy_hitters — frequent items above a support threshold
# ---------------------------------------------------------------------------

_HH_PCT = 4  # support threshold: > 4% of all lineitems

_HH_ORACLE = f"""
WITH tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM lineitem
), cnt AS (
  SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
)
SELECT p_brand, n, n_total,
       FLOOR(CAST(n AS DOUBLE) / n_total * 10000 + 0.5) / 10000 AS share_r4
FROM cnt, tot
WHERE n * 100 > {_HH_PCT} * n_total
"""


@register("q_agg_heavy_hitters", oracle=_HH_ORACLE)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: brands carrying more than 4% of all lineitems —
    the frequent-items profile that drives hot-key salting decisions
    (q_join_skew_salted) and cache/denormalization choices. The brand level
    keeps shares scale-stable (per-part shares dilute as the corpus grows;
    a share threshold must target a bounded key domain).

    The support predicate is pure integer cross-multiplication
    (n·100 > 4·total), no float threshold. One broadcast-joined count
    aggregate + a broadcast 1-row total. When the key domain itself
    explodes, the documented sketch relief is count-min/space-saving with
    this query as its verification harness (the q_agg_approx_* contract
    pattern).
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    tot = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    cnt = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * 100 > _HH_PCT * F.col("n_total"))
        .select(
            "p_brand",
            "n",
            "n_total",
            (
                F.floor(F.col("n").cast("double") / F.col("n_total") * 10000 + F.lit(0.5))
                / 10000
            ).alias("share_r4"),
        )
    )


# ---------------------------------------------------------------------------
# q_agg_benford — first-digit distribution screen
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d
)
SELECT digit,
       CAST(COUNT(*) AS BIGINT) AS n,
       FLOOR(CAST(COUNT(*) AS DOUBLE) / MAX(n_total) * 10000 + 0.5) / 10000
         AS share_r4
FROM d, tot
GROUP BY digit
"""


@register("q_agg_benford", oracle=_BENFORD_ORACLE)
def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) distribution of order totals — the forensic
    data-quality screen: fabricated or truncated monetary data drifts from
    the log-uniform first-digit law, and a synthetic-uniform generator (like
    this testdata) shows its own telltale signature. Output is the observed
    digit histogram with exact shares; the expected-law comparison is a
    driver-side lookup against log10(1+1/d).

    One codegen projection (floor → string → first char) + one 9-group hash
    aggregate with the total folded in as a broadcast 1-row count.
    """
    orders = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    d = orders.filter(F.col("o_totalprice") >= 1).select(digit.alias("digit"))
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("digit")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (
                F.floor(
                    F.count(F.lit(1)).cast("double") / F.max("n_total") * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("share_r4"),
        )
    )


# ---------------------------------------------------------------------------
# q_agg_countmin — Count-Min sketch with an exact-count certificate
# ---------------------------------------------------------------------------

CMS_W = 64   # counters per row
CMS_D = 4    # independent hash rows
_CMS_PROBE_MOD = 149  # deterministic probe-key subset: custkey % 149 == 7


def _cms_hash_sql(j: int, key: str) -> str:
    return (
        f"('0x' || substr(sha256({j} || ':' || CAST({key} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {CMS_W}"
    )


_CMS_ORACLE = f"""
WITH hashed AS (
  SELECT o_custkey, j,
         CASE j {' '.join(f"WHEN {j} THEN {_cms_hash_sql(j, 'o_custkey')}" for j in range(CMS_D))}
         END AS bucket
  FROM orders, LATERAL (SELECT unnest(generate_series(0, {CMS_D - 1})) AS j)
), counters AS (
  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM hashed GROUP BY j, bucket
), probes AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM orders WHERE o_custkey % {_CMS_PROBE_MOD} = 7
  GROUP BY o_custkey
), probe_buckets AS (
  SELECT p.o_custkey, p.exact_n, j,
         CASE j {' '.join(f"WHEN {j} THEN {_cms_hash_sql(j, 'p.o_custkey')}" for j in range(CMS_D))}
         END AS bucket
  FROM probes p, LATERAL (SELECT unnest(generate_series(0, {CMS_D - 1})) AS j)
)
SELECT pb.o_custkey, pb.exact_n,
       CAST(MIN(c.c) AS BIGINT) AS cms_est,
       CAST(MIN(c.c) - pb.exact_n AS BIGINT) AS overcount
FROM probe_buckets pb JOIN counters c ON pb.j = c.j AND pb.bucket = c.bucket
GROUP BY pb.o_custkey, pb.exact_n
"""


@register("q_agg_countmin", oracle=_CMS_ORACLE)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows × w=64 counters) over order counts per
    customer, with an exact-count CERTIFICATE: every probe key reports its
    true count next to the sketch estimate, so the CMS guarantee
    (est ≥ exact, overcount bounded by collisions) is checkable row by row —
    the same pattern as q_sim_recall's ANN certificate.

    Portable by construction: the d hash functions are sha256 prefixes of
    "j:key" (byte-identical in DuckDB), so the oracle rebuilds the ENTIRE
    sketch, not just the estimates. Plan shape: the bucket index depends
    only on o_custkey, so a per-custkey count pre-aggregate (map-side
    combined) runs FIRST and the d sha256 hashes run once per DISTINCT key
    instead of once per fact row (~15× fewer at TPC-H order multiplicity —
    guide §2.3, aggregate before the expensive projection); counters are
    then the cnt-weighted sum over a ×4 in-row explode of the key relation,
    collapsing map-side to the ≤ d·w-cell sketch (why CMS works at 100 TB),
    and the probe arm reads the same per-key aggregate (its %-filter pushes
    below the aggregate to the scan). Broadcast join of probes against the
    tiny counter table + a MIN rollup finish. The sketch table is mergeable
    across partitions/streams by cell-wise addition — the distributed-sketch
    property q_agg_sketch_merge proves for HLL.
    """
    orders = load(spark, sf_dir, "orders")

    def h(j: int, key):
        return (
            F.conv(
                F.substring(
                    F.sha2(F.concat(F.lit(f"{j}:"), key.cast("string")), 256), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % CMS_W
        )

    key = F.col("o_custkey")
    # cnt per distinct key: both arms derive from this shape (re-derived per
    # arm — 2 column-pruned scans, each map-side combined; a checkpoint here
    # would materialize a |custkeys|-sized relation for no scan savings).
    per_key = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("j"), h(j, key).alias("bucket"))
                for j in range(CMS_D)
            ]
        )
    ).alias("r")
    counters = (
        per_key.select("cnt", rows)
        .select("r.j", "r.bucket", "cnt")
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    probes = per_key.filter(key % _CMS_PROBE_MOD == 7).select(
        "o_custkey", F.col("cnt").alias("exact_n")
    )
    pk = F.col("o_custkey")
    probe_buckets = probes.select(
        "o_custkey",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), h(j, pk).alias("bucket"))
                    for j in range(CMS_D)
                ]
            )
        ).alias("r"),
    ).select("o_custkey", "exact_n", "r.j", "r.bucket")
    return (
        probe_buckets.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("o_custkey", "exact_n")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
        .select(
            "o_custkey",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overcount"),
        )
    )


# --- q_agg_hll_portable (from-scratch HyperLogLog, register-exact) ----------

_HLL_M = 256   # 2^8 buckets
_HLL_W = 24    # rho bits (32-bit hash minus 8 bucket bits)

#: HLL raw-estimate text shared verbatim by Spark and DuckDB: alpha_m·m²/Z.
#: decimal literals type as DECIMAL on both engines but under DIFFERENT
#: precision rules — cast to DOUBLE before any arithmetic touches them.
_HLL_EST = (
    f"(CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / {_HLL_M}))"
    f" * {_HLL_M} * {_HLL_M} / sum_inv"
)

_HLL_ORACLE = f"""
WITH h AS (
  SELECT l_returnflag,
         ('0x' || substr(sha256(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS h32
  FROM lineitem
), pos AS (
  SELECT l_returnflag, h32 % {_HLL_M} AS bucket, h32 // {_HLL_M} AS suffix
  FROM h
), rho AS (
  SELECT l_returnflag, bucket,
         CASE WHEN suffix = 0 THEN {_HLL_W + 1}
              ELSE instr(lpad(bin(suffix), {_HLL_W}, '0'), '1') END AS r
  FROM pos
), regs AS (
  SELECT l_returnflag, bucket, MAX(r) AS r
  FROM rho GROUP BY l_returnflag, bucket
), summ AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_regs,
         CAST(SUM(r) AS BIGINT) AS reg_sum,
         CAST(SUM(r * (bucket + 1)) AS BIGINT) AS reg_check,
         SUM(CAST(1 AS DOUBLE) / (1::BIGINT << r)) AS sum_present
  FROM regs GROUP BY l_returnflag
), ex AS (
  SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
  FROM lineitem GROUP BY l_returnflag
), est AS (
  SELECT s.l_returnflag, e.n_exact, s.reg_sum, s.reg_check,
         CAST({_HLL_M} - s.n_regs AS BIGINT) AS v_zeros,
         ({_HLL_M} - s.n_regs) + s.sum_present AS sum_inv
  FROM summ s JOIN ex e USING (l_returnflag)
)
SELECT l_returnflag, n_exact, v_zeros, reg_sum, reg_check,
       FLOOR({_HLL_EST} * 10000 + 0.5) / 10000 AS est_r4,
       CASE WHEN v_zeros > 0
            THEN FLOOR({_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE) / v_zeros)
                   * 10000 + 0.5) / 10000
            ELSE NULL END AS lc_r4
FROM est
"""


@register("q_agg_hll_portable", oracle=_HLL_ORACLE)
def q_agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch PORTABLE HyperLogLog (m={_HLL_M} buckets, sha256-prefix
    hashing) estimating distinct parts per returnflag, proved register-exact:
    the oracle rebuilds the IDENTICAL register array in DuckDB, and the
    output hash-matches register checksums (sum and position-weighted sum),
    the zero-register count, the raw alpha·m²/Z estimate, AND the
    linear-counting fallback next to the exact distinct count — a sketch
    whose every internal is certified, not just eyeballed (companion to
    q_agg_approx_distinct, which certifies Spark's built-in HLL++ only by
    its error envelope).

    Parity engineering: rho (leading-zero rank) is integer string work on
    the same 24-bit suffix; Z sums 2⁻ʳ terms — exact powers of two over a
    common denominator, so double addition is EXACT and order-independent
    (no dec_sum needed); the estimate text is one shared string.

    Scale shape: registers are a (group, bucket) MAX — a mergeable monoid
    built map-side with at most group×{_HLL_M} rows ever shuffled,
    duplicates collapsing before exchange. The register value and the exact
    count both depend ONLY on the distinct (group, key) set, so ONE map-side
    combined distinct-pair pre-pass feeds the whole query: sha256 runs once
    per DISTINCT key (not once per fact row), the per-bucket aggregate
    carries the key count whose per-group sum IS the exact distinct count
    (no count_distinct expansion, no second fact scan), and the certificate
    join disappears — a single linear cascade of three shrinking hash
    aggregates (the q_agg_hll_setops single-scan derivation, round 12).
    This is the mergeable-sketch pattern: per-partition register partials
    union by pairwise MAX, the same way production HLL unions shards.
    """
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    # Distinct (group, key) pairs — the only relation either arm needs.
    keys = li.distinct()
    pos = keys.select(
        "l_returnflag",
        F.expr(
            "CAST(CONV(SUBSTRING(SHA2(CAST(l_partkey AS STRING), 256), 1, 8), "
            "16, 10) AS BIGINT)"
        ).alias("h32"),
    ).select(
        "l_returnflag",
        (F.col("h32") % _HLL_M).alias("bucket"),
        F.expr(f"h32 div {_HLL_M}").alias("suffix"),
    )
    rho = pos.select(
        "l_returnflag",
        "bucket",
        F.expr(
            f"CASE WHEN suffix = 0 THEN {_HLL_W + 1} "
            f"ELSE instr(lpad(bin(suffix), {_HLL_W}, '0'), '1') END"
        ).alias("r"),
    )
    # n_keys per (group, bucket): pos rows are distinct keys by construction,
    # so Σ n_keys per group is exactly COUNT(DISTINCT l_partkey).
    regs = rho.groupBy("l_returnflag", "bucket").agg(
        F.max("r").alias("r"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    est = regs.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum("n_keys").cast("bigint").alias("n_exact"),
        F.sum("r").cast("bigint").alias("reg_sum"),
        F.sum(F.col("r") * (F.col("bucket") + 1)).cast("bigint").alias("reg_check"),
        F.sum(
            F.expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), CAST(r AS INT))")
        ).alias("sum_present"),
    ).select(
        "l_returnflag",
        "n_exact",
        "reg_sum",
        "reg_check",
        (F.lit(_HLL_M) - F.col("n_regs")).cast("bigint").alias("v_zeros"),
        ((F.lit(_HLL_M) - F.col("n_regs")) + F.col("sum_present")).alias("sum_inv"),
    )
    return est.select(
        "l_returnflag",
        "n_exact",
        "v_zeros",
        "reg_sum",
        "reg_check",
        F.expr(f"FLOOR({_HLL_EST} * 10000 + 0.5) / 10000").alias("est_r4"),
        F.expr(
            f"CASE WHEN v_zeros > 0 "
            f"THEN FLOOR({_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE) / v_zeros) "
            f"* 10000 + 0.5) / 10000 ELSE NULL END"
        ).alias("lc_r4"),
    )


# --- q_agg_hll_setops (sketch-union + audience-overlap estimation) -----------

_HLL_EST_A = _HLL_EST.replace("sum_inv", "sum_inv_a")
_HLL_EST_B = _HLL_EST.replace("sum_inv", "sum_inv_b")
_HLL_EST_U = _HLL_EST.replace("sum_inv", "sum_inv_u")

_HLL_SETOPS_ORACLE = f"""
WITH h AS (
  SELECT l_returnflag AS flag,
         ('0x' || substr(sha256(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS h32
  FROM lineitem WHERE l_returnflag IN ('A', 'R')
), rho AS (
  SELECT flag, h32 % {_HLL_M} AS bucket,
         CASE WHEN h32 // {_HLL_M} = 0 THEN {_HLL_W + 1}
              ELSE instr(lpad(bin(h32 // {_HLL_M}), {_HLL_W}, '0'), '1') END AS r
  FROM h
), regs AS (
  SELECT flag, bucket, MAX(r) AS r FROM rho GROUP BY flag, bucket
), uni AS (
  SELECT bucket, MAX(r) AS r FROM regs GROUP BY bucket
), dir AS (
  SELECT bucket, MAX(r) AS r FROM rho GROUP BY bucket
), per AS (
  SELECT
    CAST(COUNT(CASE WHEN flag = 'A' THEN 1 END) AS BIGINT) AS n_regs_a,
    CAST(COUNT(CASE WHEN flag = 'R' THEN 1 END) AS BIGINT) AS n_regs_b,
    SUM(CASE WHEN flag = 'A' THEN CAST(1 AS DOUBLE) / (1::BIGINT << r) ELSE 0 END)
      AS sp_a,
    SUM(CASE WHEN flag = 'R' THEN CAST(1 AS DOUBLE) / (1::BIGINT << r) ELSE 0 END)
      AS sp_b
  FROM regs
), us AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_regs_u,
         SUM(CAST(1 AS DOUBLE) / (1::BIGINT << r)) AS sp_u,
         CAST(SUM(r) AS BIGINT) AS u_sum,
         CAST(SUM(r * (bucket + 1)) AS BIGINT) AS u_check
  FROM uni
), ds AS (
  SELECT CAST(SUM(r) AS BIGINT) AS d_sum,
         CAST(SUM(r * (bucket + 1)) AS BIGINT) AS d_check
  FROM dir
), ex AS (
  SELECT
    CAST(COUNT(DISTINCT CASE WHEN l_returnflag = 'A' THEN l_partkey END)
         AS BIGINT) AS n_exact_a,
    CAST(COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_partkey END)
         AS BIGINT) AS n_exact_b,
    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact_union
  FROM lineitem WHERE l_returnflag IN ('A', 'R')
), j AS (
  SELECT *,
         ({_HLL_M} - n_regs_a) + sp_a AS sum_inv_a,
         ({_HLL_M} - n_regs_b) + sp_b AS sum_inv_b,
         ({_HLL_M} - n_regs_u) + sp_u AS sum_inv_u
  FROM per CROSS JOIN us CROSS JOIN ds CROSS JOIN ex
)
SELECT n_exact_a, n_exact_b, n_exact_union,
       CAST(n_exact_a + n_exact_b - n_exact_union AS BIGINT) AS n_exact_intersect,
       FLOOR(({_HLL_EST_A}) * 10000 + 0.5) / 10000 AS est_a_r4,
       FLOOR(({_HLL_EST_B}) * 10000 + 0.5) / 10000 AS est_b_r4,
       FLOOR(({_HLL_EST_U}) * 10000 + 0.5) / 10000 AS est_union_r4,
       FLOOR(GREATEST(CAST(0 AS DOUBLE),
             ({_HLL_EST_A}) + ({_HLL_EST_B}) - ({_HLL_EST_U}))
             * 10000 + 0.5) / 10000 AS est_intersect_r4,
       (u_sum = d_sum AND u_check = d_check) AS merge_ok
FROM j
"""


@register("q_agg_hll_setops", oracle=_HLL_SETOPS_ORACLE)
def q_agg_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET OPERATIONS over the portable sketch (q_agg_hll_portable's
    machinery): estimate the union and the OVERLAP of two part audiences
    (returnflag 'A' vs 'R') from their registers alone — union = pairwise
    register MAX (the lossless HLL monoid), intersection = inclusion-
    exclusion est(A)+est(B)−est(A∪B), clamped at 0. This is the
    audience-overlap / cross-corpus-contamination estimator that runs at
    100 TB precisely because sketches merge without revisiting rows.

    The MERGE CERTIFICATE is the point: the union registers are computed
    BOTH ways — max over the two STORED per-audience register arrays
    (sketch merge, what production does with persisted shards) and max over
    the key stream directly (what a recount would build; the register value
    is a pure function of the key, so max over rows ≡ max over distinct
    keys — HLL's multiset insensitivity) — and ``merge_ok`` pins their
    checksum equality, proving the monoid identity max-of-maxes =
    max-of-stream on real data, not by assertion. Exact distinct counts
    ride along per set so the estimator's error is readable off the row.

    Parity: identical sha256-prefix registers on both engines (the
    q_agg_hll_portable convention), Z sums exact powers of two (order-free
    double addition), one shared estimate text per set, snapped once.

    Scale shape: ONE fact scan. Because the hash depends only on
    l_partkey, the scan collapses to distinct keys first (map-side-combined
    (key, in_a, in_b) aggregate — sha256 then runs once per DISTINCT key,
    not per row), and a single (bucket)-keyed aggregate derives the
    per-audience registers, the direct-stream registers, AND the exact
    distinct counts (per-bucket key counts sum to the distinct totals).
    Everything downstream is one register-sized one-row aggregate — the
    former 3 fact scans (registers, direct arm, exact Expand arm) and the
    crossJoin fan-in are gone.
    """
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(F.col("l_returnflag").alias("flag"), "l_partkey")
    )
    keys = li.groupBy("l_partkey").agg(
        F.max(F.col("flag") == "A").alias("in_a"),
        F.max(F.col("flag") == "R").alias("in_b"),
    )
    hashed = keys.select(
        "in_a",
        "in_b",
        F.expr(
            "CAST(CONV(SUBSTRING(SHA2(CAST(l_partkey AS STRING), 256), 1, 8), "
            "16, 10) AS BIGINT)"
        ).alias("h32"),
    ).select(
        "in_a",
        "in_b",
        (F.col("h32") % _HLL_M).alias("bucket"),
        F.expr(
            f"CASE WHEN h32 div {_HLL_M} = 0 THEN {_HLL_W + 1} "
            f"ELSE instr(lpad(bin(h32 div {_HLL_M}), {_HLL_W}, '0'), '1') END"
        ).alias("r"),
    )
    # one bucket-keyed relation carries every downstream arm: per-audience
    # register maxima, the direct-stream maxima, and exact per-bucket
    # distinct-key counts.
    bregs = hashed.groupBy("bucket").agg(
        F.max(F.when(F.col("in_a"), F.col("r"))).alias("r_a"),
        F.max(F.when(F.col("in_b"), F.col("r"))).alias("r_b"),
        F.max("r").alias("r_dir"),
        F.sum(F.col("in_a").cast("int")).alias("k_a"),
        F.sum(F.col("in_b").cast("int")).alias("k_b"),
        F.count(F.lit(1)).alias("k_u"),
    ).withColumn("r_u", F.greatest("r_a", "r_b"))
    inv = (
        lambda c: f"CASE WHEN {c} IS NULL THEN NULL ELSE "
        f"CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), CAST({c} AS INT)) END"
    )
    j = bregs.agg(
        F.count("r_a").cast("bigint").alias("n_regs_a"),
        F.count("r_b").cast("bigint").alias("n_regs_b"),
        F.sum(F.expr(inv("r_a"))).alias("sp_a"),
        F.sum(F.expr(inv("r_b"))).alias("sp_b"),
        F.count("r_u").cast("bigint").alias("n_regs_u"),
        F.sum(F.expr(inv("r_u"))).alias("sp_u"),
        F.sum("r_u").cast("bigint").alias("u_sum"),
        F.sum(F.col("r_u") * (F.col("bucket") + 1)).cast("bigint").alias("u_check"),
        F.sum("r_dir").cast("bigint").alias("d_sum"),
        F.sum(F.col("r_dir") * (F.col("bucket") + 1)).cast("bigint").alias("d_check"),
        F.sum("k_a").cast("bigint").alias("n_exact_a"),
        F.sum("k_b").cast("bigint").alias("n_exact_b"),
        F.sum("k_u").cast("bigint").alias("n_exact_union"),
    ).select(
        "*",
        F.expr(f"({_HLL_M} - n_regs_a) + sp_a").alias("sum_inv_a"),
        F.expr(f"({_HLL_M} - n_regs_b) + sp_b").alias("sum_inv_b"),
        F.expr(f"({_HLL_M} - n_regs_u) + sp_u").alias("sum_inv_u"),
    )
    return j.select(
        "n_exact_a",
        "n_exact_b",
        "n_exact_union",
        (F.col("n_exact_a") + F.col("n_exact_b") - F.col("n_exact_union"))
        .cast("bigint")
        .alias("n_exact_intersect"),
        F.expr(f"FLOOR(({_HLL_EST_A}) * 10000 + 0.5) / 10000").alias("est_a_r4"),
        F.expr(f"FLOOR(({_HLL_EST_B}) * 10000 + 0.5) / 10000").alias("est_b_r4"),
        F.expr(f"FLOOR(({_HLL_EST_U}) * 10000 + 0.5) / 10000").alias(
            "est_union_r4"
        ),
        F.expr(
            f"FLOOR(GREATEST(CAST(0 AS DOUBLE), "
            f"({_HLL_EST_A}) + ({_HLL_EST_B}) - ({_HLL_EST_U})) "
            f"* 10000 + 0.5) / 10000"
        ).alias("est_intersect_r4"),
        (
            (F.col("u_sum") == F.col("d_sum"))
            & (F.col("u_check") == F.col("d_check"))
        ).alias("merge_ok"),
    )


# --- q_agg_log2_histogram (power-of-two / HDR-style histogram) ---------------

_LOG2_HIST_ORACLE = """
WITH c AS (
  SELECT o_orderstatus,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), b AS (
  SELECT o_orderstatus,
         CAST(length(bin(cents)) AS BIGINT) AS bucket,
         cents
  FROM c
)
SELECT o_orderstatus, bucket,
       CAST(1::BIGINT << (bucket - 1) AS BIGINT) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM b GROUP BY o_orderstatus, bucket
"""


@register("q_agg_log2_histogram", oracle=_LOG2_HIST_ORACLE)
def q_agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (HDR-histogram-style) value histogram of order totals per
    status: bucket k holds values in [2^(k-1), 2^k) — constant relative
    error at every magnitude with a FIXED tiny bucket count (≤64), the
    log-scale shape latency/money distributions need where q_agg_histogram's
    equi-width buckets collapse the long tail into one bar.

    Parity: the bucket index is the value's binary bit length — pure integer
    string work (length(bin(x))), no log() float anywhere, so bucket edges
    can never disagree by an ulp between engines; per-bucket min/max prove
    the containment [2^(k-1), 2^k) row by row.

    Scale shape: one map-side-combined hash aggregate; ≤64 buckets per group
    regardless of input size makes this the mergeable fixed-state histogram
    of the sketch family (merge = add counts, min/max of extrema).
    """
    c = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    b = c.select(
        "o_orderstatus",
        F.length(F.bin("cents")).cast("bigint").alias("bucket"),
        "cents",
    )
    return b.groupBy("o_orderstatus", "bucket").agg(
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT)) AS BIGINT)")
        .alias("bucket_lo"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )


# --- q_agg_bridge (two-period revenue bridge / waterfall decomposition) ------

_BRIDGE_Y0 = 1996
_BRIDGE_Y1 = 1997

_BRIDGE_ORACLE = f"""
WITH tagged AS (
  SELECT p.p_brand,
         CASE WHEN year(l.l_shipdate) = {_BRIDGE_Y0} THEN 0 ELSE 1 END AS period,
         CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(l.l_shipdate) IN ({_BRIDGE_Y0}, {_BRIDGE_Y1})
), per_brand AS (
  SELECT p_brand,
         CAST(SUM(CASE WHEN period = 0 THEN cents ELSE 0 END) AS BIGINT) AS y0_cents,
         CAST(SUM(CASE WHEN period = 1 THEN cents ELSE 0 END) AS BIGINT) AS y1_cents
  FROM tagged GROUP BY p_brand
), tot AS (
  SELECT CAST(SUM(y1_cents - y0_cents) AS BIGINT) AS total_delta FROM per_brand
)
SELECT b.p_brand, b.y0_cents, b.y1_cents,
       CAST(b.y1_cents - b.y0_cents AS BIGINT) AS delta_cents,
       t.total_delta,
       FLOOR(CAST(b.y1_cents - b.y0_cents AS DOUBLE) / t.total_delta
             * 10000 + 0.5) / 10000 AS share_r4,
       CAST(RANK() OVER (ORDER BY ABS(b.y1_cents - b.y0_cents) DESC, b.p_brand)
            AS BIGINT) AS mover_rank
FROM per_brand b CROSS JOIN tot t
"""


@register("q_agg_bridge", oracle=_BRIDGE_ORACLE)
def q_agg_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-period revenue BRIDGE (waterfall): the {_BRIDGE_Y0}→{_BRIDGE_Y1}
    total revenue change decomposed into per-brand contributions that sum
    exactly to the total delta — the "what moved the number" chart of every
    business review, with movers ranked by absolute contribution
    (complements q_rank_movers' rank jumps with the money decomposition).

    Parity: both period sums come from ONE conditional aggregate pass over
    exact cents; the decomposition identity Σ delta = total is integer-exact
    by construction, not approximately true; shares are one double division
    snapped r4; the mover rank is tie-broken by brand.

    Scale shape: the year predicate pushes to the scan, part broadcasts,
    and the whole bridge is one (brand) hash aggregate + a single-row
    broadcast total + a 25-row window — fact rows are touched once.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(_BRIDGE_Y0, _BRIDGE_Y1)
    )
    part = load(spark, sf_dir, "part")
    tagged = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.when(F.year("l_shipdate") == _BRIDGE_Y0, 0).otherwise(1).alias("period"),
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    per_brand = tagged.groupBy("p_brand").agg(
        F.sum(F.when(F.col("period") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("y0_cents"),
        F.sum(F.when(F.col("period") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("y1_cents"),
    )
    tot = per_brand.agg(
        F.sum(F.col("y1_cents") - F.col("y0_cents")).cast("bigint").alias("total_delta")
    )
    delta = F.col("y1_cents") - F.col("y0_cents")
    w = Window.orderBy(F.abs(delta).desc(), F.col("p_brand"))
    return (
        per_brand.crossJoin(F.broadcast(tot))
        .select(
            "p_brand",
            "y0_cents",
            "y1_cents",
            delta.cast("bigint").alias("delta_cents"),
            "total_delta",
            (
                F.floor(delta.cast("double") / F.col("total_delta") * 10000 + F.lit(0.5))
                / 10000
            ).alias("share_r4"),
            F.rank().over(w).cast("bigint").alias("mover_rank"),
        )
    )


# --- q_agg_means (Pythagorean mean family) -----------------------------------

_MEANS_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
         CAST(SUM(CAST(FLOOR(LN(l_quantity) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS s_lnq_micro,
         CAST(SUM(CAST(CAST(1000000 AS DOUBLE) / l_quantity AS DECIMAL(18,7)))
              AS DOUBLE) AS s_inv_micro
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       FLOOR(CAST(sq AS DOUBLE) / n * 10000 + 0.5) / 10000 AS amean_r4,
       FLOOR((CAST(FLOOR(EXP(CAST(s_lnq_micro AS DOUBLE) / n / 1000000.0)
                    * 1000000 + 0.5) AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000 AS gmean_r4,
       FLOOR(CAST(n AS DOUBLE) * 1000000 / s_inv_micro * 10000 + 0.5) / 10000
         AS hmean_r4
FROM s
ORDER BY l_returnflag
"""


@register("q_agg_means", oracle=_MEANS_ORACLE)
def q_agg_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean mean family per group — arithmetic, geometric, and
    harmonic means of line quantities — in ONE single-pass aggregate (the
    AM for level, the GM for multiplicative/ratio data, the HM for rate
    averaging; AM ≥ GM ≥ HM is the sanity invariant).

    Parity engineering: AM divides an exact integer sum; GM sums
    micro-snapped ln() as exact bigints (quantity has ≤50 distinct values,
    so libm ulp drift cannot straddle a snap boundary) and micro-snaps the
    final exp(); HM sums MICRO-SCALED reciprocals (10⁶/q) as 7-place decimals —
    plain 1/q at scale-7 loses relative precision for large q — so the
    stored summands carry 13 significant digits at q ≤ 10⁶. All three means come from the same hash
    aggregate — one scan, one shuffle of 6 numbers per group."""
    li = load(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sq"),
        F.sum(
            F.floor(F.log(F.col("l_quantity")) * 1000000 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("s_lnq_micro"),
        F.sum((F.lit(1000000.0) / F.col("l_quantity")).cast("decimal(18,7)"))
        .cast("double")
        .alias("s_inv_micro"),
    )
    return s.select(
        "l_returnflag",
        "n",
        F.expr("FLOOR(CAST(sq AS DOUBLE) / n * 10000 + 0.5) / 10000").alias(
            "amean_r4"
        ),
        F.expr(
            "FLOOR((CAST(FLOOR(EXP(CAST(s_lnq_micro AS DOUBLE) / n / 1000000.0)"
            " * 1000000 + 0.5) AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000"
        ).alias("gmean_r4"),
        F.expr(
            "FLOOR(CAST(n AS DOUBLE) * 1000000 / s_inv_micro * 10000 + 0.5) / 10000"
        ).alias("hmean_r4"),
    ).orderBy("l_returnflag")


# --- q_agg_trimmed (10% two-sided trimmed mean) ------------------------------

_TRIM_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
), ranked AS (
  SELECT l_returnflag, cents,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rk,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM c
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       FLOOR(CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100 * 10000 + 0.5) / 10000
         AS trimmed_mean_r4
FROM ranked
WHERE rk * 10 > n AND (n - rk) * 10 >= n
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# Session memo of the rank-statistics family's common prefix: lineitem
# prices as exact cents, ranked per return flag with the group size and
# the quantity-weight cumulatives — (l_returnflag, cents, rk, n, qty,
# cum_qty, tot_qty); all five window columns ride ONE per-flag sort.
# Consumed by q_agg_trimmed, (twice, caps + clamp) q_agg_winsorized, and
# q_agg_weighted_median; the 600k-row per-group sort runs once per
# (session, sf_dir) instead of four times. At 100 TB this is the
# sorted/ranked projection a warehouse materializes once for its
# robust-statistics suite. Results identical with or without the memo.
def build_ranked_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed ranked-cents plan — separate from the memoizing
    wrapper so the plan-snapshot gate can fingerprint the shared subtree
    itself (consumers only hash the post-checkpoint stump)."""
    li = load(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy("l_returnflag")
    return c.select(
        "l_returnflag",
        "cents",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
        "qty",
        F.sum("qty").over(wc).alias("cum_qty"),
        F.sum("qty").over(wn).alias("tot_qty"),
    )


def shared_ranked_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CACHE.get_or_build(
        spark, "ranked_cents", lambda: build_ranked_cents(spark, sf_dir), sf_dir,
        source_stamps(sf_dir, "lineitem"), checkpoint=True,
    )


@register("q_agg_trimmed", oracle=_TRIM_ORACLE)
def q_agg_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of line prices per return flag — the
    outlier-robust location estimate that (unlike the median) still uses
    80% of the data, and (unlike MAD clipping) needs no scale parameter.

    Parity engineering: trim boundaries are pure integer rank arithmetic
    (rk·10 > n drops the bottom decile, (n−rk)·10 ≥ n the top) over exact
    integer cents; ties across the cut are interchangeable equal values,
    so row_number's arbitrary tie order cannot change the kept multiset.
    The mean is one exact integer sum and one division.

    Scale shape: one per-group window sort (rank + count share the
    Exchange), then a map-side-combined aggregate riding the same
    partitioning. For a whale group the exact rank pass is replaced by
    approx-quantile cut values at scale — the engine carries both idioms
    (see q_agg_approx_quantile's certificate)."""
    ranked = shared_ranked_cents(spark, sf_dir)
    return (
        ranked.filter(
            (F.col("rk") * 10 > F.col("n"))
            & ((F.col("n") - F.col("rk")) * 10 >= F.col("n"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            (
                F.floor(
                    F.sum("cents").cast("double")
                    / F.count(F.lit(1))
                    / 100
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("trimmed_mean_r4"),
        )
        .orderBy("l_returnflag")
    )


# --- q_agg_moments_merge (mergeable-partials certificate) --------------------

_MERGE_CERT_ORACLE = """
WITH c AS (
  SELECT o_orderkey % 2 AS shard,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), partials AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s1,
         CAST(SUM(CAST(cents * cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
  FROM c GROUP BY shard
), merged AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s1) AS BIGINT) AS s1,
         CAST(SUM(s2) AS DECIMAL(38,0)) AS s2
  FROM partials
), direct AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s1,
         CAST(SUM(CAST(cents * cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
  FROM c
)
SELECT m.n AS n_rows,
       CASE WHEN m.n = d.n AND m.s1 = d.s1 AND m.s2 = d.s2
            THEN 1 ELSE 0 END AS partials_merge_exact,
       FLOOR((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
             / (m.n - 1) / 10000 * 100 + 0.5) / 100 AS var_dollars2_r2
FROM merged m CROSS JOIN direct d
"""


@register("q_agg_moments_merge", oracle=_MERGE_CERT_ORACLE)
def q_agg_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-partials certificate: the (n, Σx, Σx²) moment state is
    computed per shard, MERGED by plain addition, and proved bit-equal to
    the direct single-pass computation — the algebraic property (moments
    form a commutative monoid) that makes every distributed variance /
    stddev / z-score in this engine correct under ANY partitioning, here
    pinned as an executable fact rather than an assumption. The sample
    variance derives from the merged state to show the state is
    sufficient, not just consistent.

    Parity engineering: cents are exact bigints, Σx² rides DECIMAL(38,0)
    (overflow-free at any shard size), and the equality flag compares the
    exact integers/decimals — 1 means EXACT, not approximately equal.

    Scale shape: this is literally what Spark's partial aggregation does
    inside one query; materializing it across an explicit shard column is
    the cross-JOB form (incremental daily partials merged into monthly
    stats — q_incremental_agg_merge applies the same algebra as a
    pipeline)."""
    orders = load(spark, sf_dir, "orders")
    c = orders.select(
        (F.col("o_orderkey") % 2).alias("shard"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    partials = c.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(cents * cents AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    merged = partials.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s1"),
        F.sum("s2").cast("decimal(38,0)").alias("s2"),
    )
    direct = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("dn"),
        F.sum("cents").cast("bigint").alias("ds1"),
        F.sum(F.expr("CAST(cents * cents AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("ds2"),
    )
    return merged.crossJoin(F.broadcast(direct)).select(
        F.col("n").alias("n_rows"),
        F.when(
            (F.col("n") == F.col("dn"))
            & (F.col("s1") == F.col("ds1"))
            & (F.col("s2") == F.col("ds2")),
            1,
        )
        .otherwise(0)
        .alias("partials_merge_exact"),
        F.expr(
            "FLOOR((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)"
            " / (n - 1) / 10000 * 100 + 0.5) / 100"
        ).alias("var_dollars2_r2"),
    )


# --- q_orders_basket_dist ----------------------------------------------------

_BASKET_ORACLE = """
WITH sizes AS (
  SELECT o_orderkey, CAST(COUNT(l_orderkey) AS BIGINT) AS n_lines
  FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_orderkey
)
SELECT n_lines,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       FLOOR(CAST(COUNT(*) * 100 AS DOUBLE)
             / (SELECT COUNT(*) FROM sizes) * 10000 + 0.5) / 10000 AS pct_r4
FROM sizes
GROUP BY n_lines
ORDER BY n_lines
"""


@register("q_orders_basket_dist", oracle=_BASKET_ORACLE)
def q_orders_basket_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: how many orders have 0, 1, 2, … line
    items (the LEFT join keeps empty orders at size 0) with the share of
    each size — the first merchandising profile of any order fact, and the
    fan-out histogram that predicts every orders⋈lineitem join's cost
    (q_affinity_pairs' Σk² basket fan-out reads directly off this table).

    Plan: count per order, then the two-level count-of-counts aggregate
    (same shape as TPC-H Q13 / q_tpch_q13, which filters the join; this is
    the unfiltered physical profile). The share divides exact counts with
    the denominator derived from the same relation, broadcast."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    sizes = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").cast("bigint").alias("n_lines"))
    )
    dist = sizes.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    total = dist.agg(F.sum("n_orders").alias("n_total"))
    return (
        dist.join(F.broadcast(total))
        .select(
            "n_lines",
            "n_orders",
            (
                F.floor(
                    (F.col("n_orders") * 100).cast("double")
                    / F.col("n_total")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("pct_r4"),
        )
        .orderBy("n_lines")
    )


# --- q_agg_winsorized --------------------------------------------------------

_WINSOR_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
), ranked AS (
  SELECT l_returnflag, cents,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents, 1) AS rk,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM c
), caps AS (
  SELECT l_returnflag,
         CAST(MIN(CASE WHEN rk * 10 > n THEN cents END) AS BIGINT) AS lo_cap,
         CAST(MAX(CASE WHEN (n - rk) * 10 >= n THEN cents END) AS BIGINT) AS hi_cap
  FROM ranked GROUP BY l_returnflag
)
SELECT r.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN r.cents < c.lo_cap OR r.cents > c.hi_cap
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       FLOOR(CAST(SUM(LEAST(GREATEST(r.cents, c.lo_cap), c.hi_cap)) AS DOUBLE)
             / COUNT(*) / 100 * 10000 + 0.5) / 10000 AS winsor_mean_r4
FROM ranked r JOIN caps c ON c.l_returnflag = r.l_returnflag
GROUP BY r.l_returnflag
ORDER BY r.l_returnflag
"""


@register("q_agg_winsorized", oracle=_WINSOR_ORACLE)
def q_agg_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided WINSORIZED mean (q_agg_trimmed's sibling): instead of
    dropping the tails, each tail value is CLAMPED to the decile boundary
    — keeping n constant (so downstream variance math stays honest) while
    still bounding outlier influence; the estimator of choice when row
    weights must be preserved.

    Parity engineering: the clamp caps are the exact decile boundary cents
    from the same integer rank-band rule as the trimmed mean (lo = first
    kept value, hi = last kept value; equal values interchangeable under
    arbitrary tie order), and the clamped sum is pure integer LEAST/
    GREATEST before one division.

    Scale shape: one per-group window (rank + count share the Exchange), a
    5-row cap table broadcast back, one rollup riding the same grouping."""
    ranked = shared_ranked_cents(spark, sf_dir)
    caps = ranked.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("rk") * 10 > F.col("n"), F.col("cents")))
        .cast("bigint")
        .alias("lo_cap"),
        F.max(
            F.when((F.col("n") - F.col("rk")) * 10 >= F.col("n"), F.col("cents"))
        )
        .cast("bigint")
        .alias("hi_cap"),
    )
    joined = ranked.join(F.broadcast(caps), "l_returnflag")
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo_cap")), F.col("hi_cap"))
    out_of_band = (F.col("cents") < F.col("lo_cap")) | (
        F.col("cents") > F.col("hi_cap")
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(out_of_band, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clamped"),
            (
                F.floor(
                    F.sum(clamped).cast("double")
                    / F.count(F.lit(1))
                    / 100
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("winsor_mean_r4"),
        )
        .orderBy("l_returnflag")
    )


# --- q_agg_iqr ---------------------------------------------------------------

_IQR_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
), ranked AS (
  SELECT l_returnflag, cents,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rk,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM c
), q AS (
  SELECT l_returnflag,
         MIN(CASE WHEN 4 * rk >= n THEN cents END) AS q1_cents,
         MIN(CASE WHEN 2 * rk >= n THEN cents END) AS med_cents,
         MIN(CASE WHEN 4 * rk >= 3 * n THEN cents END) AS q3_cents
  FROM ranked GROUP BY l_returnflag
)
SELECT c.l_returnflag,
       CAST(MAX(q.q1_cents) AS BIGINT) AS q1_cents,
       CAST(MAX(q.med_cents) AS BIGINT) AS med_cents,
       CAST(MAX(q.q3_cents) AS BIGINT) AS q3_cents,
       CAST(MAX(q.q3_cents - q.q1_cents) AS BIGINT) AS iqr_cents,
       CAST(SUM(CASE WHEN 2 * c.cents < 2 * q.q1_cents - 3 * (q.q3_cents - q.q1_cents)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(SUM(CASE WHEN 2 * c.cents > 2 * q.q3_cents + 3 * (q.q3_cents - q.q1_cents)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
FROM c JOIN q ON c.l_returnflag = q.l_returnflag
GROUP BY c.l_returnflag
ORDER BY c.l_returnflag
"""


@register("q_agg_iqr", oracle=_IQR_ORACLE)
def q_agg_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles + Tukey-fence outlier counts per return flag — the box-plot
    aggregate (Q1/median/Q3/IQR and how many points sit beyond the 1.5·IQR
    fences), the robust dispersion profile next to the trimmed/winsorized
    means and the MAD screen.

    Parity: type-1 (smallest-value-reaching-the-rank) quartiles are pure
    integer threshold scans (4·rk ≥ n etc.) over the shared ranked-cents
    relation, and the 1.5·IQR fences stay integral by comparing DOUBLED
    cents against 2·q1 − 3·IQR / 2·q3 + 3·IQR — no floats anywhere.

    Scale shape: fifth consumer of the shared per-flag sorted pass
    (build_ranked_cents); quartiles are one conditional-min aggregate over
    it, the 3-row fence table broadcasts back onto the same relation, and
    the outlier counts ride one grouped pass."""
    ranked = shared_ranked_cents(spark, sf_dir)
    q = ranked.groupBy("l_returnflag").agg(
        F.min(F.when(4 * F.col("rk") >= F.col("n"), F.col("cents")))
        .cast("bigint")
        .alias("q1_cents"),
        F.min(F.when(2 * F.col("rk") >= F.col("n"), F.col("cents")))
        .cast("bigint")
        .alias("med_cents"),
        F.min(F.when(4 * F.col("rk") >= 3 * F.col("n"), F.col("cents")))
        .cast("bigint")
        .alias("q3_cents"),
    )
    iqr = F.col("q3_cents") - F.col("q1_cents")
    joined = ranked.select("l_returnflag", "cents").join(
        F.broadcast(q), "l_returnflag"
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.max("q1_cents").cast("bigint").alias("q1_cents"),
            F.max("med_cents").cast("bigint").alias("med_cents"),
            F.max("q3_cents").cast("bigint").alias("q3_cents"),
            F.max(iqr).cast("bigint").alias("iqr_cents"),
            F.sum(
                F.when(2 * F.col("cents") < 2 * F.col("q1_cents") - 3 * iqr, 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_low_outliers"),
            F.sum(
                F.when(2 * F.col("cents") > 2 * F.col("q3_cents") + 3 * iqr, 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_high_outliers"),
        )
        .orderBy("l_returnflag")
    )


# --- q_agg_hhi ---------------------------------------------------------------

_HHI_ORACLE = """
WITH s AS (
  SELECT n_name AS nation, s_suppkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  GROUP BY n_name, s_suppkey
), m AS (
  SELECT nation,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(cents) AS BIGINT) AS tot,
         CAST(SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sq
  FROM s GROUP BY nation
)
SELECT nation, n_suppliers,
       FLOOR(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot) * 10000
             * 10000 + 0.5) / 10000 AS hhi_bp_r4
FROM m
ORDER BY nation
"""


@register("q_agg_hhi", oracle=_HHI_ORACLE)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue within
    each nation, in basis points (10000 = monopoly; 10000/n = perfectly
    even) — the antitrust-grade concentration number that complements
    q_agg_concentration's top-decile share and q_agg_gini's inequality
    coefficient: HHI = Σ shareᵢ² = Σcᵢ² / (Σcᵢ)², so it needs only TWO
    exact sums per group and no sorting at all (unlike Gini/Lorenz).

    Parity engineering: per-supplier cents are exact; each c² is a DECIMAL(19,0)×DECIMAL(19,0) product (per-supplier
    totals overflow a bigint square even at sf0.01) summed as
    DECIMAL(38,0); ONE double division of the two
    exact totals, scaled to bp and snapped.

    Scale shape: two chained hash aggregates (nation×supplier, then
    nation) — both map-side combined, no window, no skew beyond real
    market structure."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    s = (
        li.join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(
            F.sum(F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    m = s.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum(
            F.expr("CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))")
        )
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    return m.select(
        "nation",
        "n_suppliers",
        F.expr(
            "FLOOR(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot) * 10000"
            " * 10000 + 0.5) / 10000"
        ).alias("hhi_bp_r4"),
    ).orderBy("nation")


# --- q_agg_topn_coverage -----------------------------------------------------

_COVERAGE_BP = 5000  # how many suppliers cover 50% of nation revenue

_TOPN_COV_ORACLE = f"""
WITH s AS (
  SELECT n_name, s_suppkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  GROUP BY n_name, s_suppkey
), ranked AS (
  SELECT n_name, cents,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY cents DESC, s_suppkey) AS rk,
         SUM(cents) OVER (PARTITION BY n_name
                          ORDER BY cents DESC, s_suppkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cents) OVER (PARTITION BY n_name) AS tot,
         COUNT(*) OVER (PARTITION BY n_name) AS n_supp
  FROM s
)
SELECT n_name AS nation,
       CAST(MAX(n_supp) AS BIGINT) AS n_suppliers,
       CAST(MIN(CASE WHEN cum::HUGEINT * 10000 >= {_COVERAGE_BP} * tot::HUGEINT
                THEN rk END) AS BIGINT) AS k_half,
       FLOOR(CAST(MIN(CASE WHEN cum::HUGEINT * 10000 >= {_COVERAGE_BP} * tot::HUGEINT
                      THEN rk END)
                  * 100 AS DOUBLE) / MAX(n_supp) * 10000 + 0.5) / 10000
         AS k_half_pct_r4
FROM ranked
GROUP BY n_name
ORDER BY n_name
"""


@register("q_agg_topn_coverage", oracle=_TOPN_COV_ORACLE)
def q_agg_topn_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k coverage: the MINIMUM number of suppliers whose revenue
    covers half of each nation's total (and what share of the supplier
    base that is) — the inverse question to q_agg_hhi/q_agg_concentration
    ("how concentrated" vs "how few actors do I depend on"), the number a
    supply-chain risk review actually asks for.

    Parity engineering: k_half = MIN rank where cum·10⁴ ≥ 5000·tot —
    integer cross-multiplied over exact cents with the deterministic
    (cents DESC, suppkey) rank order; only the final share divides. The
    cross-multiply runs in 128-bit integers (Spark decimal(38,0), DuckDB
    HUGEINT): at SF 10⁵ a nation's total cents ≈ 6e15 and ×10⁴ passes
    int64 — the q_events_bot_screen span-overflow class.

    Scale shape: one (nation, supplier) aggregate, one per-nation ranked
    window, one rollup sharing the partitioning."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    s = (
        li.join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w_rank = Window.partitionBy("n_name").orderBy(F.desc("cents"), "s_suppkey")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("n_name")
    ranked = s.select(
        "n_name",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_all).alias("tot"),
        F.count(F.lit(1)).over(w_all).alias("n_supp"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")
    k_half = F.min(
        F.when(d38("cum") * 10000 >= _COVERAGE_BP * d38("tot"), F.col("rk"))
    )
    return (
        ranked.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("n_supp").cast("bigint").alias("n_suppliers"),
            k_half.cast("bigint").alias("k_half"),
            (
                F.floor(
                    (k_half * 100).cast("double")
                    / F.max("n_supp")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("k_half_pct_r4"),
        )
        .orderBy("nation")
    )


# --- q_agg_histogram_quantile (mergeable-summary quantile estimates) ---------

_HQ_ORACLE = """
WITH c AS (
  SELECT o_orderstatus,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), b AS (
  SELECT o_orderstatus, CAST(length(bin(cents)) AS BIGINT) AS bucket
  FROM c
), hist AS (
  SELECT o_orderstatus, bucket, CAST(COUNT(*) AS BIGINT) AS nb
  FROM b GROUP BY o_orderstatus, bucket
), cum AS (
  SELECT o_orderstatus, bucket, nb,
         CAST(SUM(nb) OVER (PARTITION BY o_orderstatus ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cume,
         CAST(SUM(nb) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
  FROM hist
), ranked AS (
  SELECT o_orderstatus, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM c
), est AS (
  SELECT o_orderstatus, MAX(n) AS n,
         MAX(CASE WHEN cume - nb < (n * 50 + 99) // 100
                   AND (n * 50 + 99) // 100 <= cume
              THEN FLOOR(((1::BIGINT << (bucket - 1))
                   + CAST((n * 50 + 99) // 100 - (cume - nb) AS DOUBLE) / nb
                     * (1::BIGINT << (bucket - 1))) * 10000 + 0.5) / 10000
              END) AS est_p50_r4,
         MAX(CASE WHEN cume - nb < (n * 99 + 99) // 100
                   AND (n * 99 + 99) // 100 <= cume
              THEN FLOOR(((1::BIGINT << (bucket - 1))
                   + CAST((n * 99 + 99) // 100 - (cume - nb) AS DOUBLE) / nb
                     * (1::BIGINT << (bucket - 1))) * 10000 + 0.5) / 10000
              END) AS est_p99_r4
  FROM cum GROUP BY o_orderstatus
), exact AS (
  SELECT o_orderstatus,
         CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END)
              AS BIGINT) AS exact_p50,
         CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END)
              AS BIGINT) AS exact_p99
  FROM ranked GROUP BY o_orderstatus
)
SELECT e.o_orderstatus, e.n, e.est_p50_r4, x.exact_p50, e.est_p99_r4, x.exact_p99
FROM est e JOIN exact x USING (o_orderstatus)
"""


@register("q_agg_histogram_quantile", oracle=_HQ_ORACLE)
def q_agg_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILES FROM A MERGEABLE SUMMARY: p50/p99 estimated by linear
    interpolation inside the power-of-two histogram of q_agg_log2_histogram
    (bucket [2^(k-1), 2^k): est = lo + in-bucket-rank-fraction × width),
    reported NEXT TO the exact rank-selected percentiles so every group
    carries its own error. This is how quantiles are actually served at
    100 TB: the ≤64-bucket histogram is a monoid (merge = add counts —
    q_agg_moments_merge proves the pattern), so shards build summaries
    independently and ANY quantile is answered from the merged counts
    without re-touching data — the HDR-histogram/latency-SLO design,
    with constant relative error by construction of the log buckets.

    The exact arm is one ranking window (the q_orders_ship_latency
    machinery); at scale it runs on samples to CALIBRATE the histogram,
    exactly as reported here. Parity: bucket index is the integer bit
    length (no float log); ceil-rank targets are integer div; the one
    interpolation division is a double snapped r4 on both engines.
    """
    c = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    hist = c.select(
        "o_orderstatus", F.expr("CAST(length(bin(cents)) AS BIGINT)").alias("bucket")
    ).groupBy("o_orderstatus", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    wcum = (
        Window.partitionBy("o_orderstatus")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = (
        Window.partitionBy("o_orderstatus")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cum = hist.select(
        "o_orderstatus",
        "bucket",
        "nb",
        F.sum("nb").over(wcum).cast("bigint").alias("cume"),
        F.sum("nb").over(wall).cast("bigint").alias("n"),
    )

    def interp(pct: int):
        target = f"(n * {pct} + 99) div 100"
        return F.max(
            F.when(
                F.expr(f"cume - nb < {target} AND {target} <= cume"),
                F.expr(
                    f"FLOOR((shiftleft(1L, CAST(bucket AS INT) - 1)"
                    f" + CAST({target} - (cume - nb) AS DOUBLE) / nb"
                    f" * shiftleft(1L, CAST(bucket AS INT) - 1)) * 10000 + 0.5)"
                    f" / 10000"
                ),
            )
        )

    est = cum.groupBy("o_orderstatus").agg(
        F.max("n").alias("n"),
        interp(50).alias("est_p50_r4"),
        interp(99).alias("est_p99_r4"),
    )
    wr = Window.partitionBy("o_orderstatus").orderBy("cents")
    wn = wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = c.select(
        "o_orderstatus",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    exact = ranked.groupBy("o_orderstatus").agg(
        F.max(F.when(F.expr("rn = (n * 50 + 99) div 100"), F.col("cents")))
        .cast("bigint")
        .alias("exact_p50"),
        F.max(F.when(F.expr("rn = (n * 99 + 99) div 100"), F.col("cents")))
        .cast("bigint")
        .alias("exact_p99"),
    )
    return est.join(exact, "o_orderstatus").select(
        "o_orderstatus", "n", "est_p50_r4", "exact_p50", "est_p99_r4", "exact_p99"
    )


# --- q_agg_topk_mergeable (sharded truncated-counter top-k with bounds) ------

_TKM_SHARDS = 8   # independent summary builders (per-executor at scale)
_TKM_M = 5        # counters kept per shard summary
_TKM_OUT = 10     # merged candidates reported

_TKM_ORACLE = f"""
WITH fact AS (
  SELECT l_orderkey % {_TKM_SHARDS} AS shard, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pc AS (
  SELECT shard, p_brand, CAST(COUNT(*) AS BIGINT) AS n
  FROM fact GROUP BY shard, p_brand
), ranked AS (
  SELECT shard, p_brand, n,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n DESC, p_brand) AS rn
  FROM pc
), kept AS (
  SELECT * FROM ranked WHERE rn <= {_TKM_M}
), thr AS (
  SELECT shard,
         CAST(COALESCE(MAX(CASE WHEN rn = {_TKM_M} THEN n END), 0) AS BIGINT)
           AS t
  FROM ranked GROUP BY shard
), tot_thr AS (
  SELECT CAST(SUM(t) AS BIGINT) AS tt FROM thr
), est AS (
  SELECT k.p_brand,
         CAST(SUM(k.n) AS BIGINT) AS est_lo,
         CAST(SUM(th.t) AS BIGINT) AS thr_present
  FROM kept k JOIN thr th USING (shard)
  GROUP BY k.p_brand
), exact AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS exact_n FROM fact GROUP BY p_brand
), merged AS (
  SELECT e.p_brand, e.est_lo, tt.tt - e.thr_present AS err_bound, x.exact_n,
         ROW_NUMBER() OVER (ORDER BY e.est_lo DESC, e.p_brand) AS rk
  FROM est e CROSS JOIN tot_thr tt JOIN exact x USING (p_brand)
)
SELECT p_brand, est_lo, err_bound, exact_n,
       (est_lo <= exact_n AND exact_n <= est_lo + err_bound) AS bound_holds
FROM merged WHERE rk <= {_TKM_OUT}
"""


@register("q_agg_topk_mergeable", oracle=_TKM_ORACLE)
def q_agg_topk_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE TOP-K with PROVABLE bounds — the sharded relief valve
    q_agg_heavy_hitters' docstring promises: each of {_TKM_SHARDS} shards
    keeps only its {_TKM_M} largest exact counters (a truncated-counter
    summary, the deterministic cousin of SpaceSaving — no sequential
    eviction order, so it stays declarative AND mergeable), summaries
    merge by addition, and a dropped counter can hide at most the shard's
    m-th count — so for every merged candidate: est_lo ≤ exact ≤ est_lo +
    Σ(absent shards' thresholds). The certificate reports the bound AND
    the exact count per candidate with `bound_holds` pinned — the
    Mergeable-Summaries frequent-items guarantee, measured.

    Scale shape: the summary build is one (shard, key) hash aggregate +
    a per-shard top-m window — each executor ships m rows, not a key
    domain; merge touches shards×m rows. The exact arm exists as the
    calibration harness (the q_agg_approx_* contract pattern). All
    arithmetic is exact integers; ties break lexicographically on both
    engines.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    fact = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
    ).select((F.col("l_orderkey") % _TKM_SHARDS).alias("shard"), "p_brand")
    pc = fact.groupBy("shard", "p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wr = Window.partitionBy("shard").orderBy(F.col("n").desc(), "p_brand")
    ranked = pc.withColumn("rn", F.row_number().over(wr)).localCheckpoint(
        eager=False
    )
    kept = ranked.filter(F.col("rn") <= _TKM_M)
    thr = ranked.groupBy("shard").agg(
        F.coalesce(F.max(F.when(F.col("rn") == _TKM_M, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("t")
    )
    tot_thr = thr.agg(F.sum("t").cast("bigint").alias("tt"))
    est = (
        kept.join(F.broadcast(thr), "shard")
        .groupBy("p_brand")
        .agg(
            F.sum("n").cast("bigint").alias("est_lo"),
            F.sum("t").cast("bigint").alias("thr_present"),
        )
    )
    # Exact arm from the checkpointed per-(shard, brand) counters, not a
    # second fact pass (round 13, guide §2.3): shard = l_orderkey % SHARDS
    # partitions the fact rows disjointly, so Σ over shards of the exact
    # per-shard counts IS the exact per-brand total — same integers, one
    # lineitem scan + one part join instead of two of each at any scale.
    exact = ranked.groupBy("p_brand").agg(
        F.sum("n").cast("bigint").alias("exact_n")
    )
    merged = (
        est.crossJoin(F.broadcast(tot_thr))
        .join(exact, "p_brand")
        .select(
            "p_brand",
            "est_lo",
            (F.col("tt") - F.col("thr_present")).alias("err_bound"),
            "exact_n",
        )
    )
    wk = Window.orderBy(F.col("est_lo").desc(), "p_brand")
    return (
        merged.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _TKM_OUT)
        .select(
            "p_brand",
            "est_lo",
            "err_bound",
            "exact_n",
            (
                (F.col("est_lo") <= F.col("exact_n"))
                & (F.col("exact_n") <= F.col("est_lo") + F.col("err_bound"))
            ).alias("bound_holds"),
        )
    )


# --- q_agg_split_gain -------------------------------------------------------

_SPLIT_ORACLE = """
WITH thr AS (
  SELECT unnest([CAST(10.0 AS DOUBLE), CAST(50.0 AS DOUBLE),
                 CAST(150.0 AS DOUBLE)]) AS thr
), sides AS (
  SELECT t.thr, e.value < t.thr AS is_left, e.event_type,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events e CROSS JOIN thr t
  GROUP BY t.thr, is_left, e.event_type
), sided AS (
  SELECT thr, is_left, c,
         FLOOR((CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY thr, is_left))
               * LN(CAST(SUM(c) OVER (PARTITION BY thr, is_left) AS DOUBLE)
                    / c) * 10000 + 0.5) / 10000 AS term
  FROM sides
), side_h AS (
  SELECT thr, is_left,
         CAST(SUM(c) AS BIGINT) AS n_side,
         CAST(SUM(CAST(term AS DECIMAL(18,7))) AS DOUBLE) AS h_side
  FROM sided GROUP BY thr, is_left
), pcls AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type
), pterms AS (
  SELECT c,
         FLOOR((CAST(c AS DOUBLE) / SUM(c) OVER ())
               * LN(CAST(SUM(c) OVER () AS DOUBLE) / c) * 10000 + 0.5)
           / 10000 AS term
  FROM pcls
), parent AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CAST(term AS DECIMAL(18,7))) AS DOUBLE) AS h_parent
  FROM pterms
)
SELECT thr,
       MAX(CASE WHEN is_left THEN n_side ELSE 0 END) AS n_left,
       MAX(CASE WHEN NOT is_left THEN n_side ELSE 0 END) AS n_right,
       FLOOR((MAX(h_parent) - CAST(SUM(wterm) AS DOUBLE)) * 10000 + 0.5)
         / 10000 AS gain_r
FROM (
  SELECT s.thr, s.is_left, s.n_side, p.h_parent,
         CAST(CAST(s.n_side AS DOUBLE) / p.n * s.h_side AS DECIMAL(18,7))
           AS wterm
  FROM side_h s CROSS JOIN parent p
) GROUP BY thr
"""


@register("q_agg_split_gain", oracle=_SPLIT_ORACLE)
def q_agg_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split scoring: information gain of candidate value
    thresholds against the event_type label — the inner loop of GBDT /
    decision-tree training that feature-engineering pipelines run at full
    data scale to pick split points before fitting. For each threshold t:
    gain = H(label) − Σ_side (n_side/n)·H(label | side).

    Parity: every entropy term (c/n)·ln(n/c) is computed with one identical
    IEEE op sequence, snapped to 4 decimals (last-ulp LN differences are
    measure-zero at the boundary), and summed through the exact-decimal
    path; the weighted-child combination is itself a snapped decimal sum,
    so the final gain is bit-identical.

    Scale shape: the data-scale work is ONE pass producing (threshold,
    side, class) counts — a hash aggregate with 3·2·|classes| groups; all
    entropy math happens on that tiny relation (window sums over ≤ 30
    rows). Adding thresholds multiplies the aggregate key space, not the
    number of data passes.
    """
    ev = load(spark, sf_dir, "events")
    sides = (
        ev.select(
            "event_type",
            "value",
            F.explode(
                F.array(F.lit(10.0), F.lit(50.0), F.lit(150.0))
            ).alias("thr"),
        )
        .withColumn("is_left", F.col("value") < F.col("thr"))
        .groupBy("thr", "is_left", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wside = Window.partitionBy("thr", "is_left")
    term = (
        F.floor(
            (F.col("c").cast("double") / F.sum("c").over(wside))
            * F.log(F.sum("c").over(wside).cast("double") / F.col("c"))
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    side_h = (
        sides.withColumn("term", term)
        .groupBy("thr", "is_left")
        .agg(
            F.sum("c").cast("bigint").alias("n_side"),
            F.sum(F.col("term").cast(DEC)).cast("double").alias("h_side"),
        )
    )
    cls = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wall = Window.partitionBy()
    pterm = (
        F.floor(
            (F.col("c").cast("double") / F.sum("c").over(wall))
            * F.log(F.sum("c").over(wall).cast("double") / F.col("c"))
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    parent = (
        cls.withColumn("pterm", pterm)
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(F.col("pterm").cast(DEC)).cast("double").alias("h_parent"),
        )
    )
    return (
        side_h.crossJoin(F.broadcast(parent))
        .withColumn(
            "wterm",
            (
                F.col("n_side").cast("double") / F.col("n") * F.col("h_side")
            ).cast(DEC),
        )
        .groupBy("thr")
        .agg(
            F.max(F.when(F.col("is_left"), F.col("n_side")).otherwise(0)).alias(
                "n_left"
            ),
            F.max(F.when(~F.col("is_left"), F.col("n_side")).otherwise(0)).alias(
                "n_right"
            ),
            (
                F.floor(
                    (F.max("h_parent") - F.sum("wterm").cast("double"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("gain_r"),
        )
    )


# --- q_agg_capture_recapture ------------------------------------------------

_CAPREC_ORACLE = """
WITH h AS (
  SELECT user_id,
         ('0x' || substr(sha256(CAST(event_id AS VARCHAR) || '|cr'), 1, 8))
           ::BIGINT AS hv
  FROM events
), sa AS (
  SELECT DISTINCT user_id FROM h WHERE hv % 2 = 0
), sb AS (
  SELECT DISTINCT user_id FROM h WHERE hv % 3 = 0
), stats AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sa) AS n_a,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM sb) AS n_b,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM sa JOIN sb USING (user_id)) AS m,
         (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
           AS n_true
)
SELECT n_a, n_b, m,
       CAST((n_a * n_b) // m AS BIGINT) AS est_users,
       n_true
FROM stats
"""


@register("q_agg_capture_recapture", oracle=_CAPREC_ORACLE)
def q_agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture estimate of the distinct-user
    population from two overlapping deterministic hash samples of the
    event stream (capture = events whose salted id-hash ≡ 0 mod 2,
    recapture = ≡ 0 mod 3): N̂ = n_a·n_b / |A∩B| — the ecology estimator
    data pipelines use to audit dedup/join completeness when scanning the
    full key space twice is too expensive. The true distinct count rides
    along as the error certificate.

    Exactness: sample membership is a pure hash predicate (reproducible
    across engines/runs/layouts), all counts are integers, and the
    estimator is one integer floor division on positive operands.

    Scale shape (round 13, guide §2.4 — the q_events_esd certificate-arm
    fold): ONE per-user aggregate carries both sample memberships
    (ua = ∃ event with hv ≡ 0 mod 2, ub = ∃ with hv ≡ 0 mod 3 — max of the
    per-event predicates), and every output counter falls out of one
    single-row rollup over that relation: n_a = Σ ua, n_b = Σ ub,
    m = Σ (ua ∧ ub), n_true = COUNT(user_id) (the per-user relation IS
    the distinct-user set). NULL user_id follows the oracle counter by
    counter: ``SELECT DISTINCT`` keeps it as one row, so the NULL group
    counts once in n_a and n_b; the overlap join and ``COUNT(DISTINCT)``
    drop it, so m and n_true skip it. Identical integers to the former
    four-arm plan (two distinct-filtered sets + overlap join +
    countDistinct), which scanned events twice, checkpointed an
    events-sized projection, and fanned four jobs plus three broadcasts
    into the result row — now one map-side-combined fact pass feeds two
    shrinking aggregates, no join, no checkpoint, at any scale.
    """
    ev = load(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(
            F.sha2(F.concat(F.col("event_id").cast("string"), F.lit("|cr")), 256),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    per_user = (
        ev.select("user_id", hv.alias("hv"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("hv") % 2 == 0).cast("int")).alias("ua"),
            F.max((F.col("hv") % 3 == 0).cast("int")).alias("ub"),
        )
    )
    return per_user.agg(
        F.sum("ua").cast("bigint").alias("n_a"),
        F.sum("ub").cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("user_id").isNotNull(), F.col("ua") * F.col("ub")))
        .cast("bigint")
        .alias("m"),
        F.count("user_id").cast("bigint").alias("n_true"),
    ).select(
        "n_a",
        "n_b",
        "m",
        F.expr("cast((n_a * n_b) div m as bigint)").alias("est_users"),
        "n_true",
    )


# --- q_agg_bitmap_distinct ---------------------------------------------------

_BITMAP_ORACLE = """
WITH base AS (
  SELECT date_trunc('month', o_orderdate) AS month, o_custkey AS k
  FROM orders
), words AS (
  SELECT month, k // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(k % 32 AS INTEGER)) AS word
  FROM base GROUP BY month, word_idx
), bm AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(bit_count(word)) AS BIGINT) AS n_bitmap
  FROM words GROUP BY month
), ex AS (
  SELECT month, CAST(COUNT(DISTINCT k) AS BIGINT) AS n_exact
  FROM base GROUP BY month
)
SELECT bm.month, n_words, n_bitmap, n_exact
FROM bm JOIN ex ON bm.month = ex.month
"""


@register("q_agg_bitmap_distinct", oracle=_BITMAP_ORACLE)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count via mergeable integer bitmaps: customers active
    per order month, counted by OR-ing per-key bit positions (word_idx =
    key/32, bit = key%32) and popcounting the words — the roaring-bitmap
    pattern reduced to its relational core. Unlike HLL (q_agg_approx_distinct,
    q_agg_hll_portable) the bitmap is EXACT, and unlike COUNT(DISTINCT) the
    per-(group, word) partials are mergeable: a lake can keep the word table
    as an incremental aggregate and merge across partitions/days with bit_or
    — no re-scan of history. The n_exact column is the self-certificate: both
    engines compute the direct distinct too, and the value hash proves
    bitmap == exact on every group.

    Scale shape: one shuffle on (month, word_idx) with map-side bit_or
    combine — the word table is |keys|/32 rows max per group; the popcount
    rollup is a second tiny aggregate. Dense key spaces make this strictly
    cheaper than COUNT(DISTINCT)'s full key shuffle; sparse key spaces
    graduate to roaring containers, same plan shape.
    """
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        F.trunc("o_orderdate", "month").alias("month"),
        F.col("o_custkey").alias("k"),
    )
    words = base.groupBy(
        "month", F.expr("k div 32").alias("word_idx")
    ).agg(F.expr("bit_or(shiftleft(cast(1 as bigint), cast(k % 32 as int)))").alias("word"))
    bm = words.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.expr("bit_count(word)")).cast("bigint").alias("n_bitmap"),
    )
    ex = base.groupBy("month").agg(
        F.countDistinct("k").cast("bigint").alias("n_exact")
    )
    return bm.join(ex, "month").select("month", "n_words", "n_bitmap", "n_exact")


# --- q_agg_mix_shift ----------------------------------------------------------

_MIX_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
_MIX_SPLIT_YEAR = 1999  # period A < 1999 <= period B (data spans 1995-2001)


_MIX_SHIFT_ORACLE = f"""
WITH base AS (
  SELECT c_mktsegment AS segment,
         CASE WHEN EXTRACT(year FROM o_orderdate) < {_MIX_SPLIT_YEAR}
              THEN 0 ELSE 1 END AS period,
         {_MIX_CENTS} AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
), seg AS (
  SELECT segment,
         CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN period = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN period = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_b
  FROM base GROUP BY segment
), tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS t_a, CAST(SUM(n_b) AS BIGINT) AS t_b
  FROM seg
)
SELECT segment, n_a, n_b,
       CAST(FLOOR((CAST(n_b AS DOUBLE) / t_b - CAST(n_a AS DOUBLE) / t_a)
                  * (CAST(s_a AS DOUBLE) / n_a) * 1000000 + 0.5)
            AS BIGINT) AS mix_micro,
       CAST(FLOOR((CAST(n_b AS DOUBLE) / t_b)
                  * (CAST(s_b AS DOUBLE) / n_b - CAST(s_a AS DOUBLE) / n_a)
                  * 1000000 + 0.5)
            AS BIGINT) AS rate_micro
FROM seg, tot
"""


@register("q_agg_mix_shift", oracle=_MIX_SHIFT_ORACLE)
def q_agg_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift decomposition of a period-over-period metric change — the
    analyst's answer to "did the average order value move because segments
    changed their spend (RATE) or because the segment mix changed (MIX)?":
    for periods A (< {_MIX_SPLIT_YEAR}) and B, per-segment
    mix effect = (w_B − w_A)·r_A and rate effect = w_B·(r_B − r_A), whose
    totals sum to the overall average delta (the standard two-factor
    decomposition / Oaxaca-Blinder shape).

    Parity: weights and rates are ratios of exact integer counts/cents
    (bit-identical doubles); products snap to micro-cents at output.

    Scale shape: ONE scan — both periods aggregate in the same segment-keyed
    groupBy via conditional sums (no per-period scans, no self-join); the
    2-value totals row fans back via broadcast. At 100 TB this is the
    textbook single-pass sliced-aggregate plan.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.year("o_orderdate") < _MIX_SPLIT_YEAR, 0).otherwise(1).alias(
            "period"
        ),
        F.expr(_MIX_CENTS).alias("cents"),
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    seg = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("period") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("period") == 0, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("s_a"),
            F.sum(F.when(F.col("period") == 1, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("s_b"),
        )
    )
    tot = seg.agg(
        F.sum("n_a").cast("bigint").alias("t_a"),
        F.sum("n_b").cast("bigint").alias("t_b"),
    )
    w_a = F.col("n_a").cast("double") / F.col("t_a")
    w_b = F.col("n_b").cast("double") / F.col("t_b")
    r_a = F.col("s_a").cast("double") / F.col("n_a")
    r_b = F.col("s_b").cast("double") / F.col("n_b")
    snap = lambda c: F.floor(c * 1000000 + F.lit(0.5)).cast("bigint")  # noqa: E731
    return seg.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_a",
        "n_b",
        snap((w_b - w_a) * r_a).alias("mix_micro"),
        snap(w_b * (r_b - r_a)).alias("rate_micro"),
    )


# --- q_agg_hill ---------------------------------------------------------------

_HILL_K = 50  # tail order statistics per priority class


_HILL_ORACLE = f"""
WITH o AS (
  SELECT o_orderpriority AS priority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         o_orderkey
  FROM orders
), ranked AS (
  SELECT priority, cents,
         row_number() OVER (
           PARTITION BY priority ORDER BY cents DESC, o_orderkey
         ) AS rn
  FROM o
), thresh AS (
  SELECT priority,
         CAST(MAX(CASE WHEN rn = {_HILL_K} + 1 THEN cents END) AS BIGINT)
           AS thresh_cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ranked GROUP BY priority
), terms AS (
  SELECT r.priority, t.thresh_cents, t.n,
         CAST(LN(CAST(r.cents AS DOUBLE) / t.thresh_cents) AS DECIMAL(18,7))
           AS term
  FROM ranked r JOIN thresh t ON r.priority = t.priority
  WHERE r.rn <= {_HILL_K}
)
SELECT priority, n, thresh_cents,
       CAST(SUM(term) AS DOUBLE) AS sum_log_ratio,
       FLOOR({_HILL_K} / CAST(SUM(term) AS DOUBLE) * 10000 + 0.5) / 10000
         AS alpha_r4
FROM terms
GROUP BY priority, n, thresh_cents
"""


@register("q_agg_hill", oracle=_HILL_ORACLE)
def q_agg_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index α per priority class —
    the heavy-tail diagnostic behind capacity planning and whale-risk
    screens (α < 2: infinite variance, means mislead; q_agg_trimmed /
    q_agg_winsorized are then the right summaries, and this query is the
    certificate telling you so): α̂ = k / Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎) over each
    class's top-k order values.

    Parity engineering: order statistics rank on exact integer cents with
    key tie-break; each log-ratio is ONE double op sequence (int→double
    divide, then LN) identical on both engines, snapped to decimal(18,7)
    per term so the k-term sum is order-independent; α snaps r4.

    Scale shape: the top-(k+1) per class comes from one ranking window —
    at 100 TB this becomes the bounded per-group top-k pattern
    (q_topk_per_group), never a global sort; the estimator itself touches
    only 5·k rows.
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("priority").orderBy(F.desc("cents"), "o_orderkey")
    ranked = o.select("priority", "cents", F.row_number().over(w).alias("rn"))
    thresh = ranked.groupBy("priority").agg(
        F.max(F.when(F.col("rn") == _HILL_K + 1, F.col("cents")))
        .cast("bigint")
        .alias("thresh_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    terms = (
        ranked.filter(F.col("rn") <= _HILL_K)
        .join(F.broadcast(thresh), "priority")
        .select(
            "priority",
            "thresh_cents",
            "n",
            F.log(F.col("cents").cast("double") / F.col("thresh_cents"))
            .cast("decimal(18,7)")
            .alias("term"),
        )
    )
    return terms.groupBy("priority", "n", "thresh_cents").agg(
        F.sum("term").cast("double").alias("sum_log_ratio"),
        (
            F.floor(
                _HILL_K / F.sum("term").cast("double") * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("alpha_r4"),
    )


# --- q_agg_eb_shrinkage --------------------------------------------------------

_EB_ORACLE = """
WITH base AS (
  SELECT p_brand AS brand,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
  FROM lineitem JOIN part ON l_partkey = p_partkey
), g AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(ret) AS BIGINT) AS s_g
  FROM base GROUP BY brand
), tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS nn, CAST(SUM(s_g) AS BIGINT) AS ss,
         CAST(SUM(CAST(CAST(s_g AS DOUBLE) * s_g / n_g AS DECIMAL(27,7)))
              AS DOUBLE) AS rate_term
  FROM g
), prior AS (
  SELECT nn, ss,
         CAST(ss AS DOUBLE) / nn AS mu,
         (rate_term - CAST(ss AS DOUBLE) * ss / nn) / nn AS var_hat
  FROM tot
), m AS (
  SELECT nn, ss, mu,
         CASE WHEN var_hat > 0
              THEN GREATEST(mu * (1.0 - mu) / var_hat - 1.0, 1.0)
              ELSE 1000000.0 END AS big_m
  FROM prior
)
SELECT g.brand, g.n_g AS n, g.s_g AS s,
       FLOOR(CAST(g.s_g AS DOUBLE) / g.n_g * 10000 + 0.5) / 10000 AS raw_r4,
       FLOOR((g.s_g + m.big_m * m.mu) / (g.n_g + m.big_m) * 10000 + 0.5)
         / 10000 AS post_r4,
       FLOOR(g.n_g / (g.n_g + m.big_m) * 10000 + 0.5) / 10000 AS weight_r4
FROM g, m
"""


@register("q_agg_eb_shrinkage", oracle=_EB_ORACLE)
def q_agg_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-brand return rates —
    the estimator every scorecard needs when group sizes vary by orders of
    magnitude: small groups' raw rates are noise, so each rate is pulled
    toward the global mean with strength learned FROM THE DATA by method
    of moments (prior pseudo-count M = µ(1−µ)/var̂ − 1, where var̂ is the
    weighted between-group rate variance). Complements
    q_feature_target_encode (fixed prior m) with the learned-prior
    version, and q_agg_raking (margin calibration) on the estimation side.

    Parity engineering: per-group (n, s) are exact bigints; the variance
    crossing Σ s²/n rides the q_docs_anova decimal(27,7) pattern; µ, var̂,
    M are one shared double sequence (degenerate zero-variance case pinned
    to a shared literal M = 10⁶); posterior and shrink weight snap r4.

    Scale shape: one hash aggregate to |groups| rows, a 1-row prior
    crossed back broadcast — the two-pass sufficient-statistics shape that
    holds at any scale; the fact table is read once.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    part = load(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    g = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum("ret").cast("bigint").alias("s_g"),
        )
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("nn"),
        F.sum("s_g").cast("bigint").alias("ss"),
        F.sum(
            F.expr("CAST(CAST(s_g AS DOUBLE) * s_g / n_g AS DECIMAL(27,7))")
        )
        .cast("double")
        .alias("rate_term"),
    )
    mu = F.col("ss").cast("double") / F.col("nn")
    var_hat = (
        F.col("rate_term") - F.col("ss").cast("double") * F.col("ss") / F.col("nn")
    ) / F.col("nn")
    m = tot.select(
        mu.alias("mu"),
        F.when(
            var_hat > 0,
            F.greatest(
                mu * (1.0 - mu) / var_hat - 1.0, F.lit(1.0)
            ),
        )
        .otherwise(F.lit(1000000.0))
        .alias("big_m"),
    )
    j = g.crossJoin(F.broadcast(m))
    return j.select(
        "brand",
        F.col("n_g").alias("n"),
        F.col("s_g").alias("s"),
        (
            F.floor(F.col("s_g").cast("double") / F.col("n_g") * 10000 + F.lit(0.5))
            / 10000
        ).alias("raw_r4"),
        (
            F.floor(
                (F.col("s_g") + F.col("big_m") * F.col("mu"))
                / (F.col("n_g") + F.col("big_m"))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("post_r4"),
        (
            F.floor(
                F.col("n_g") / (F.col("n_g") + F.col("big_m")) * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("weight_r4"),
    )


# --- q_agg_ols2 ----------------------------------------------------------------

_OLS2_ORACLE = """
WITH x AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS x1,
         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS x2
  FROM lineitem GROUP BY l_orderkey
), base AS (
  SELECT o.o_orderpriority AS priority,
         x.x1, x.x2,
         CAST(FLOOR(o.o_totalprice + 0.5) AS BIGINT) AS y
  FROM orders o JOIN x ON o.o_orderkey = x.l_orderkey
), m AS (
  SELECT priority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS sx1, CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS sx1x1,
         CAST(SUM(x2 * x2) AS BIGINT) AS sx2x2,
         CAST(SUM(x1 * x2) AS BIGINT) AS sx1x2,
         CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
         CAST(SUM(x2 * y) AS BIGINT) AS sx2y,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM base GROUP BY priority
), s AS (
  SELECT priority, n, sx1, sx2, sy,
         CAST(n AS HUGEINT) * sx1x1 - CAST(sx1 AS HUGEINT) * sx1 AS s11,
         CAST(n AS HUGEINT) * sx2x2 - CAST(sx2 AS HUGEINT) * sx2 AS s22,
         CAST(n AS HUGEINT) * sx1x2 - CAST(sx1 AS HUGEINT) * sx2 AS s12,
         CAST(n AS HUGEINT) * sx1y - CAST(sx1 AS HUGEINT) * sy AS s1y,
         CAST(n AS HUGEINT) * sx2y - CAST(sx2 AS HUGEINT) * sy AS s2y,
         CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS syy_c
  FROM m
), b AS (
  SELECT priority, n, sx1, sx2, sy, s1y, s2y, syy_c,
         CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12 AS det,
         (CAST(s1y AS DOUBLE) * s22 - CAST(s2y AS DOUBLE) * s12) AS b1n,
         (CAST(s2y AS DOUBLE) * s11 - CAST(s1y AS DOUBLE) * s12) AS b2n
  FROM s
)
SELECT priority, n,
       FLOOR(b1n / det * 10000 + 0.5) / 10000 AS b1_r4,
       FLOOR(b2n / det * 10000 + 0.5) / 10000 AS b2_r4,
       FLOOR((sy - b1n / det * sx1 - b2n / det * sx2) / n * 10000 + 0.5)
         / 10000 AS b0_r4,
       FLOOR((b1n / det * s1y + b2n / det * s2y) / syy_c * 10000 + 0.5)
         / 10000 AS r2_r4
FROM b
WHERE ABS(det) > 0.5 AND syy_c > 0
"""


@register("q_agg_ols2", oracle=_OLS2_ORACLE)
def q_agg_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS per priority class — order value regressed on
    line-item count and total quantity via the 2×2 normal equations
    (Cramer solve), the multiple-regression upgrade of q_agg_linreg and
    the closed-form core of distributed GLM fitting: everything reduces
    to ONE pass of sufficient statistics (Σx, Σx², Σxy cross-moments) per
    group, merged associatively — the same mergeable-moments contract
    q_agg_moments_merge certifies.

    Parity engineering: y in whole dollars and integer regressors keep
    every n-scaled centered moment (n·Σab − Σa·Σb) EXACT — the raw
    per-group sums stay bigint, and the centered cross products compute
    in decimal(38,0) (Spark) ↔ HUGEINT (DuckDB), both exact integer
    arithmetic with identical values (round-11: the sf10 rehearsal
    caught the previous all-bigint cross products overflowing at
    n ≈ 3·10⁶ per class — sx2·sy ≈ 1.7·10²⁰ > int64; decimal(38,0)
    headroom reaches n ≈ 10¹⁰ per class, and the q_agg_spearman
    decimal-crossed-moments precedent applies verbatim); only Σy²
    crosses to double (Sy² would overflow any fixed width), and
    determinant / coefficients / R² are one shared IEEE sequence over
    exact integers, snapped r4. Near-singular classes are dropped by
    |det| > 0.5 — for integer moments a true-zero det is the only value
    below 1.

    Scale shape: one per-order aggregate (map-side combined), one
    per-class moments aggregate, then constant algebra — two shuffles of
    narrow rows regardless of data size; at 100 TB with k regressors the
    same plan carries the k(k+3)/2 moment columns.
    """
    li = load(spark, sf_dir, "lineitem")
    x = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("x1"),
        F.sum(F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("x2"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)").alias("y"),
    )
    base = orders.join(x, orders.o_orderkey == x.l_orderkey).select(
        "priority", "x1", "x2", "y"
    )
    m = base.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n = F.col("n")
    s = m.select(
        "priority",
        "n",
        "sx1",
        "sx2",
        "sy",
        (F.col("n").cast("decimal(38,0)") * F.col("sx1x1")
         - F.col("sx1").cast("decimal(38,0)") * F.col("sx1")).alias("s11"),
        (F.col("n").cast("decimal(38,0)") * F.col("sx2x2")
         - F.col("sx2").cast("decimal(38,0)") * F.col("sx2")).alias("s22"),
        (F.col("n").cast("decimal(38,0)") * F.col("sx1x2")
         - F.col("sx1").cast("decimal(38,0)") * F.col("sx2")).alias("s12"),
        (F.col("n").cast("decimal(38,0)") * F.col("sx1y")
         - F.col("sx1").cast("decimal(38,0)") * F.col("sy")).alias("s1y"),
        (F.col("n").cast("decimal(38,0)") * F.col("sx2y")
         - F.col("sx2").cast("decimal(38,0)") * F.col("sy")).alias("s2y"),
        (
            n.cast("double") * F.col("syy")
            - F.col("sy").cast("double") * F.col("sy")
        ).alias("syy_c"),
    )
    det = F.col("s11").cast("double") * F.col("s22") - F.col("s12").cast(
        "double"
    ) * F.col("s12")
    b1n = F.col("s1y").cast("double") * F.col("s22") - F.col("s2y").cast(
        "double"
    ) * F.col("s12")
    b2n = F.col("s2y").cast("double") * F.col("s11") - F.col("s1y").cast(
        "double"
    ) * F.col("s12")
    b = s.select(
        "priority",
        "n",
        "sx1",
        "sx2",
        "sy",
        "s1y",
        "s2y",
        "syy_c",
        det.alias("det"),
        b1n.alias("b1n"),
        b2n.alias("b2n"),
    )
    b1 = F.col("b1n") / F.col("det")
    b2 = F.col("b2n") / F.col("det")
    return b.filter((F.abs(F.col("det")) > 0.5) & (F.col("syy_c") > 0)).select(
        "priority",
        "n",
        (F.floor(b1 * 10000 + F.lit(0.5)) / 10000).alias("b1_r4"),
        (F.floor(b2 * 10000 + F.lit(0.5)) / 10000).alias("b2_r4"),
        (
            F.floor(
                (F.col("sy") - b1 * F.col("sx1") - b2 * F.col("sx2"))
                / F.col("n")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("b0_r4"),
        (
            F.floor(
                (b1 * F.col("s1y") + b2 * F.col("s2y")) / F.col("syy_c") * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("r2_r4"),
    )


# --- q_feature_vif ------------------------------------------------------------

_VIF_ORACLE = """
WITH x AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS x1,
         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS x2
  FROM lineitem GROUP BY l_orderkey
), base AS (
  SELECT x1, x2, CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x3
  FROM orders JOIN x ON o_orderkey = l_orderkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x3) AS BIGINT) AS s3,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11, CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x3 * x3) AS BIGINT) AS s33, CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x1 * x3) AS BIGINT) AS s13, CAST(SUM(x2 * x3) AS BIGINT) AS s23
  FROM base
), c AS (
  SELECT n,
         CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1 AS c11,
         CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2 AS c22,
         CAST(n AS DOUBLE) * s33 - CAST(s3 AS DOUBLE) * s3 AS c33,
         CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2 AS c12,
         CAST(n AS DOUBLE) * s13 - CAST(s1 AS DOUBLE) * s3 AS c13,
         CAST(n AS DOUBLE) * s23 - CAST(s2 AS DOUBLE) * s3 AS c23
  FROM m
), r AS (
  SELECT n, feature, r2
  FROM c, LATERAL (VALUES
    ('f_n_lines',
     (c13 * c13 * c22 + c12 * c12 * c33 - 2 * c12 * c13 * c23)
       / (c11 * (c22 * c33 - c23 * c23))),
    ('f_qty_units',
     (c23 * c23 * c11 + c12 * c12 * c33 - 2 * c12 * c23 * c13)
       / (c22 * (c11 * c33 - c13 * c13))),
    ('f_price_whole',
     (c13 * c13 * c22 + c23 * c23 * c11 - 2 * c13 * c23 * c12)
       / (c33 * (c11 * c22 - c12 * c12)))
  ) AS t(feature, r2)
)
SELECT feature, n,
       CAST(FLOOR(r2 * 1000000 + 0.5) AS BIGINT) AS r2_micro,
       FLOOR(1.0 / (1.0 - r2) * 10000 + 0.5) / 10000 AS vif_r4
FROM r
WHERE r2 < 0.999999
"""


@register("q_feature_vif", oracle=_VIF_ORACLE)
def q_feature_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance Inflation Factor for each of three order-level features —
    the multicollinearity screen a feature store runs before shipping a
    linear/GLM feature set (VIF_j = 1/(1−R²_j), R²_j from regressing
    feature j on the others; VIF > 5-10 means the coefficient for j is
    unstable and the feature is redundant). Completes the feature-screen
    family: q_feature_auc (signal), q_feature_ece (calibration),
    q_feature_lift (targeting), this (redundancy).

    Closed form, one pass: for two regressors + intercept,
    R²_j = (c_aj²·c_bb + c_bj²·c_aa − 2·c_aj·c_bj·c_ab) /
           (c_jj·(c_aa·c_bb − c_ab²)) over the centered cross-moment matrix
    c_pq = n·Σx_p x_q − Σx_p·Σx_q — six moments from ONE aggregate serve
    all three rotations (the q_agg_ols2 machinery, rotated).

    Parity: raw moments are exact bigints (whole-dollar price keeps Σx3²
    ≤ 5·10¹⁶ at sf0.1); the centered matrix and the R² combination run as
    one shared IEEE double sequence on both engines, micro-snapped.
    Near-perfect collinearity (R² → 1) is filtered identically before the
    VIF division.

    Scale shape: one per-order aggregate (map-side combined), one global
    10-column moments row, then constant algebra — at 100 TB with k
    features the same plan carries k(k+3)/2 moment columns and the
    rotation count grows, the data passes do not.
    """
    li = load(spark, sf_dir, "lineitem")
    x = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("x1"),
        F.sum(F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("x2"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)").alias("x3")
    )
    base = orders.join(x, orders.o_orderkey == x.l_orderkey).select("x1", "x2", "x3")
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("x3").cast("bigint").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x3") * F.col("x3")).cast("bigint").alias("s33"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).cast("bigint").alias("s13"),
        F.sum(F.col("x2") * F.col("x3")).cast("bigint").alias("s23"),
    )
    nD = F.col("n").cast("double")
    c = m.select(
        "n",
        (nD * F.col("s11") - F.col("s1").cast("double") * F.col("s1")).alias("c11"),
        (nD * F.col("s22") - F.col("s2").cast("double") * F.col("s2")).alias("c22"),
        (nD * F.col("s33") - F.col("s3").cast("double") * F.col("s3")).alias("c33"),
        (nD * F.col("s12") - F.col("s1").cast("double") * F.col("s2")).alias("c12"),
        (nD * F.col("s13") - F.col("s1").cast("double") * F.col("s3")).alias("c13"),
        (nD * F.col("s23") - F.col("s2").cast("double") * F.col("s3")).alias("c23"),
    )
    rows = c.selectExpr(
        "n",
        "stack(3,"
        " 'f_n_lines',"
        " (c13 * c13 * c22 + c12 * c12 * c33 - 2 * c12 * c13 * c23)"
        "   / (c11 * (c22 * c33 - c23 * c23)),"
        " 'f_qty_units',"
        " (c23 * c23 * c11 + c12 * c12 * c33 - 2 * c12 * c23 * c13)"
        "   / (c22 * (c11 * c33 - c13 * c13)),"
        " 'f_price_whole',"
        " (c13 * c13 * c22 + c23 * c23 * c11 - 2 * c13 * c23 * c12)"
        "   / (c33 * (c11 * c22 - c12 * c12))"
        ") AS (feature, r2)",
    )
    return rows.filter(F.col("r2") < 0.999999).select(
        "feature",
        "n",
        F.floor(F.col("r2") * 1000000 + F.lit(0.5)).cast("bigint").alias("r2_micro"),
        (F.floor(1.0 / (1.0 - F.col("r2")) * 10000 + F.lit(0.5)) / 10000).alias(
            "vif_r4"
        ),
    )


# --- q_agg_discount_lift --------------------------------------------------------

_DLIFT_ORACLE = """
WITH tagged AS (
  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS disc_pts,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
), base AS (
  SELECT CAST(SUM(qty) AS BIGINT) AS q0, CAST(COUNT(*) AS BIGINT) AS n0
  FROM tagged WHERE disc_pts = 0
)
SELECT disc_pts,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(qty) AS BIGINT) AS qty_units,
       CAST(FLOOR((CAST(SUM(qty) AS DOUBLE) / COUNT(*))
                  / (CAST(MAX(q0) AS DOUBLE) / MAX(n0))
                  * 1000000 + 0.5) AS BIGINT) AS qty_lift_micro
FROM tagged CROSS JOIN base
GROUP BY disc_pts
"""


@register("q_agg_discount_lift", oracle=_DLIFT_ORACLE)
def q_agg_discount_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity lift per discount level — the promotion-effectiveness curve
    (a discrete demand-elasticity readout): average units per line at each
    integer discount point, expressed as a ratio against the zero-discount
    baseline. The table a pricing team reads to see where discounting
    stops buying volume.

    Parity: quantities are integral and discounts snap to integer
    percentage points, so every group reduces to exact bigint (n, Σqty);
    the lift is a ratio of two exact averages — one fixed double sequence,
    micro-snapped.

    Scale shape: one map-side-combined aggregate over the fact scan keyed
    by the ~11-value discount domain; the 1-row baseline broadcasts back.
    At 100 TB per-brand/per-season curves add the keys to BOTH groupings —
    same plan."""
    li = load(spark, sf_dir, "lineitem")
    tagged = li.select(
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("disc_pts"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    base = tagged.filter(F.col("disc_pts") == 0).agg(
        F.sum("qty").cast("bigint").alias("q0"),
        F.count(F.lit(1)).cast("bigint").alias("n0"),
    )
    return (
        tagged.crossJoin(F.broadcast(base))
        .groupBy("disc_pts")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("qty").cast("bigint").alias("qty_units"),
            F.floor(
                (F.sum("qty").cast("double") / F.count(F.lit(1)))
                / (F.max("q0").cast("double") / F.max("n0"))
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("qty_lift_micro"),
        )
    )


# --- q_agg_spearman -------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem
), xd AS (
  SELECT flag, x,
         CAST(2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY flag ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + COUNT(*) + 1 AS BIGINT) AS rx2
  FROM base GROUP BY flag, x
), yd AS (
  SELECT flag, y,
         CAST(2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY flag ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + COUNT(*) + 1 AS BIGINT) AS ry2
  FROM base GROUP BY flag, y
), ranked AS (
  SELECT base.flag, xd.rx2, yd.ry2
  FROM base
  JOIN xd ON base.flag = xd.flag AND base.x = xd.x
  JOIN yd ON base.flag = yd.flag AND base.y = yd.y
), m AS (
  SELECT flag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS DECIMAL(19,0)) AS sx,
         CAST(SUM(ry2) AS DECIMAL(19,0)) AS sy,
         CAST(SUM(CAST(rx2 AS DECIMAL(19,0)) * ry2) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(rx2 AS DECIMAL(19,0)) * rx2) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(ry2 AS DECIMAL(19,0)) * ry2) AS DECIMAL(38,0)) AS syy
  FROM ranked GROUP BY flag
)
SELECT flag AS l_returnflag, n,
       CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                  / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                     * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) AS spearman_micro
FROM m
WHERE n * sxx > sx * sx AND n * syy > sy * sy
ORDER BY flag
"""


@register("q_agg_spearman", oracle=_SPEARMAN_ORACLE)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between price and quantity
    per return flag — the monotone-association screen that catches the
    nonlinear relationships q_agg_corr's Pearson misses (the standard pair
    every feature-screen suite reports side by side). With ties, Spearman
    = Pearson over tie-averaged fractional ranks; ranks are kept EXACT by
    doubling: rank2 = 2·(rows strictly below) + (ties) + 1, an integer.

    Parity: rank2 values come from the per-group VALUE DISTRIBUTIONS (the
    q_events_mannwhitney machinery — no row-level sort anywhere), the
    moments are decimal(38,0)-crossed exact integers (the q_agg_hhi
    escalation discipline), and the correlation is one identical double
    formula, micro-snapped. Constant columns drop via the variance guard
    in both engines.

    Scale bound (decimal saturation): rx2, ry2 ≤ 2n per group, so the
    largest moment sxy ≤ n·(2n)² = 4n³ must fit decimal(38,0) → holds for
    any per-group n < ~2.9×10^12 rows (≈ a full 100 TB lineitem in ONE
    flag group). Beyond that Spark's allowPrecisionLoss yields NULL
    moments silently — a NULL sxx/syy makes the variance filter drop the
    group and a NULL sxy yields a NULL (never a wrong) correlation; the
    escalation is the q_agg_hhi
    split-sum idiom (partial sums per sub-bucket, re-summed in two tiers),
    not a wider decimal (38 is Spark's ceiling).

    Scale shape: sixth consumer of the shared ranked-cents relation —
    the price side's doubled rank derives from the memoized per-flag
    row_number with ONE tie-group hash window (rx2 = 2·(min rk in the
    cents tie block − 1) + block size + 1; no new sort, the identity
    row_number ↔ tie-averaged rank), and the quantity side is a
    ~50-value distribution aggregate broadcast back. One moment rollup,
    decimal-crossed."""
    ranked_src = shared_ranked_cents(spark, sf_dir).select(
        F.col("l_returnflag").alias("flag"),
        F.col("cents").alias("x"),
        "rk",
        F.col("qty").alias("y"),
    )
    w_tie = Window.partitionBy("flag", "x")
    with_rx = ranked_src.select(
        "flag",
        "y",
        (
            2 * (F.min("rk").over(w_tie) - 1)
            + F.count(F.lit(1)).over(w_tie)
            + 1
        )
        .cast("bigint")
        .alias("rx2"),
    )
    w_y = (
        Window.partitionBy("flag")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    yd_rel = (
        ranked_src.groupBy("flag", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .select(
            "flag",
            "y",
            (2 * F.coalesce(F.sum("t").over(w_y), F.lit(0)) + F.col("t") + 1)
            .cast("bigint")
            .alias("ry2"),
        )
    )
    ranked = with_rx.join(F.broadcast(yd_rel), ["flag", "y"])
    xd = F.col("rx2").cast("decimal(19,0)")
    yd = F.col("ry2").cast("decimal(19,0)")
    m = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("decimal(19,0)").alias("sx"),
        F.sum("ry2").cast("decimal(19,0)").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.filter((varx > 0) & (vary > 0))
        .select(
            F.col("flag").alias("l_returnflag"),
            "n",
            F.floor(
                num.cast("double")
                / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("spearman_micro"),
        )
        .orderBy("l_returnflag")
    )
