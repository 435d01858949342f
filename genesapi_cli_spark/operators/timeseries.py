"""Time-series operators over the events stream: OHLC resampling, windowed
exponential smoothing, rolling medians, and RFM cohort scoring.

Reference analog: the reference's time axis handling (JAHR/STAG parsing and
per-period fact aggregation, ``genesapi/util.py`` + ``serialize.py``
upstream) generalized to the standard time-series toolkit a metrics pipeline
runs over an event stream.

Scale notes (100 TB): resampling is a plain hash aggregate on
(series, bucket) — map-side partials do the heavy lifting and no sort is
needed (min_by/max_by carry the ordering key into the agg buffer). The
window operators shuffle once per entity key and stream within partitions;
frames are ROWS-bounded so state is O(frame), not O(partition). All time
arithmetic is integer epoch-µs; all money flows as integer cents until one
final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genesapi_cli_spark.io import (
    CACHE,
    load,
    source_stamps,
)
from genesapi_cli_spark.registry import DEC, dec_sum, oracle_dec_sum, register

#: integer cents snap for the 2-decimal `value` column — exact cross-engine.
_CENTS = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"

_DAY_US = 86_400_000_000

# --- q_time_resample (OHLC bars) --------------------------------------------

_RESAMPLE_ORACLE = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         epoch_us(ts) AS us, event_id, value
  FROM events
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_idx
                            ORDER BY us, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_idx
                            ORDER BY us DESC, event_id DESC) AS rn_d
  FROM e
)
SELECT event_type, day_idx,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events,
       {oracle_dec_sum('value', 'volume')}
FROM r
GROUP BY event_type, day_idx
"""


@register("q_time_resample", oracle=_RESAMPLE_ORACLE)
def q_time_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to daily OHLC bars per event_type — the
    canonical time-series resample (metrics rollups, candlestick feeds,
    downsampled feature series).

    Spark-first: ONE aggregate, one shuffle. open/close use min_by/max_by
    with the (ts_us, event_id) struct as the total ordering key — the agg
    buffer tracks the extreme key and its value, so no window pass and no
    second shuffle. Physical note: the struct-keyed buffer is not mutable-
    primitive, so Spark plans SortAggregate (in-partition sort by group key
    on both sides of the exchange) instead of HashAggregate; partial
    aggregation still runs map-side, so shuffle volume is identical — the
    alternative (ROW_NUMBER windows, as the oracle does) would cost a FULL
    extra shuffle+sort by (series, bucket, time) and is strictly worse at
    100 TB. open/high/low/close are raw doubles copied from input rows (no
    arithmetic → bit-exact); volume is a decimal sum.
    """
    ev = load(spark, sf_dir, "events")
    key = F.struct(F.col("ts_us"), F.col("event_id"))
    return (
        ev.withColumn("day_idx", F.expr(f"ts_us div {_DAY_US}"))
        .groupBy("event_type", "day_idx")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "volume"),
        )
    )


# --- q_time_m4 (pixel-exact M4 line downsampling) ----------------------------

_M4_BUCKETS = 16

_M4_ORACLE = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us, event_id, value FROM events
), rng AS (
  SELECT event_type, MIN(us) AS t0, MAX(us) AS t1
  FROM e GROUP BY event_type
), b AS (
  SELECT e.event_type,
         ((us - t0) * {_M4_BUCKETS}) // (t1 - t0 + 1) AS bucket,
         us, event_id, value
  FROM e JOIN rng ON e.event_type = rng.event_type
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                            ORDER BY us, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                            ORDER BY us DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       MAX(CASE WHEN rn_a = 1 THEN us END) AS t_first,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS v_first,
       MAX(CASE WHEN rn_d = 1 THEN us END) AS t_last,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS v_last,
       MIN(value) AS v_min,
       MAX(value) AS v_max
FROM r GROUP BY event_type, bucket
"""


@register("q_time_m4", oracle=_M4_ORACLE)
def q_time_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per series and per
    pixel-column time bucket, keep the FOUR extremal points — first, last,
    min, max — which is provably sufficient for a pixel-perfect line
    rendering at that width. The visualization companion to q_time_lttb:
    LTTB optimizes perceived shape with a heuristic, M4 guarantees the
    rasterized image; dashboards over 100 TB of telemetry downsample with
    exactly this before anything leaves the cluster.

    Spark-first: per-series time ranges are a 5-row aggregate broadcast
    back onto the fact scan; the bucket index is EXACT integer arithmetic
    ((us − t0)·16 div (t1 − t0 + 1), safe: µs spans × 16 ≪ 2⁶³); then ONE
    hash aggregate per (series, bucket) computes all four points —
    first/last via min_by/max_by on the (us, event_id) total-order key
    (the q_time_resample OHLC discipline — no ROW_NUMBER window, no second
    shuffle), min/max directly. Values are raw doubles copied from input
    rows (no arithmetic → bit-exact both engines).

    Scale shape: one fact scan, one broadcast join, one shuffle on
    (series, bucket) with map-side partials. The oracle mirrors the same
    selections via ranked windows (DuckDB's min_by lacks the compound
    tie-break key).
    """
    ev = load(spark, sf_dir, "events")
    rng = ev.groupBy("event_type").agg(
        F.min("ts_us").alias("t0"), F.max("ts_us").alias("t1")
    )
    key = F.struct(F.col("ts_us"), F.col("event_id"))
    return (
        ev.join(F.broadcast(rng), "event_type")
        .withColumn(
            "bucket",
            F.expr(f"((ts_us - t0) * {_M4_BUCKETS}) div (t1 - t0 + 1)"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("ts_us").alias("t_first"),
            F.min_by("value", key).alias("v_first"),
            F.max("ts_us").alias("t_last"),
            F.max_by("value", key).alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
    )


# --- q_window_ewma ----------------------------------------------------------

_EWMA_DEPTH = 8  # α = 1/2 over the trailing 8 events: weights 2^7 .. 2^0

_EWMA_NUM = " + ".join(
    f"COALESCE(LAG(cents, {k}) OVER w, 0) * {1 << (_EWMA_DEPTH - 1 - k)}"
    for k in range(_EWMA_DEPTH)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN LAG(cents, {k}) OVER w IS NOT NULL THEN {1 << (_EWMA_DEPTH - 1 - k)} ELSE 0 END)"
    for k in range(_EWMA_DEPTH)
)

_EWMA_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, {_CENTS} AS cents
  FROM events
), s AS (
  SELECT user_id, event_id, us,
         {_EWMA_NUM} AS num,
         {_EWMA_DEN} AS den
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id, event_id, us, num, den,
       CAST(num AS DOUBLE) / CAST(den * 100 AS DOUBLE) AS ewma
FROM s
"""


@register("q_window_ewma", oracle=_EWMA_ORACLE)
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed exponential smoothing (EWMA, α=1/2, depth 8) of each user's
    event values — the trend/denoise primitive of monitoring and feature
    pipelines.

    Parity engineering: α=1/2 makes every weight a power of two, so the
    numerator (cents · 2^k) and denominator are EXACT integers — emitted
    as columns — and the smoothed value is ONE double division of identical
    integers on both engines: bit-exact, no float tolerance, no rounding.
    A ROWS-bounded depth keeps window state O(8) per partition (the true
    recursive EWMA is order-dependent float accumulation — not exactly
    reproducible across engines, and its tail weights are < 0.4%% here).
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", F.col("ts_us").alias("us"), F.expr(_CENTS).alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    num = None
    den = None
    for k in range(_EWMA_DEPTH):
        wt = 1 << (_EWMA_DEPTH - 1 - k)
        lagc = F.lag("cents", k).over(w) if k else F.col("cents")
        nterm = F.coalesce(lagc, F.lit(0)) * wt
        dterm = F.when(lagc.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = nterm if num is None else num + nterm
        den = dterm if den is None else den + dterm
    return e.select(
        "user_id",
        "event_id",
        "us",
        num.alias("num"),
        den.alias("den"),
        (num.cast("double") / (den * 100).cast("double")).alias("ewma"),
    )


# --- q_window_rolling_median ------------------------------------------------

_ROLLMED_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
)
SELECT user_id, event_id, us,
       FLOOR(median(value) OVER (
         PARTITION BY user_id ORDER BY us, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ) * 10000 + 0.5) / 10000 AS med_r4
FROM e
"""


@register("q_window_rolling_median", oracle=_ROLLMED_ORACLE)
def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-event rolling median per user — the robust (outlier-proof)
    smoother monitoring pipelines prefer over rolling means.

    Spark evaluates the exact ``percentile`` aggregate over a ROWS frame
    (O(frame) state); DuckDB mirrors with windowed ``median``. Both engines
    interpolate even-count medians as the midpoint of the two middle DOUBLEs;
    input values are cent-quantized, so medians land on cent/half-cent
    boundaries and the 4-decimal floor-snap is ulp-robust (the *1e4 product
    sits next to an integer, never next to a rounding boundary).
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    e = ev.select("user_id", "event_id", F.col("ts_us").alias("us"), "value")
    med = F.expr("percentile(value, 0.5)").over(w)
    return e.select(
        "user_id",
        "event_id",
        "us",
        (F.floor(med * 10000 + F.lit(0.5)) / 10000).alias("med_r4"),
    )


# --- q_events_rfm -----------------------------------------------------------

_RFM_ORACLE = f"""
WITH mx AS (
  SELECT MAX(epoch_us(ts)) AS tmax FROM events
), per_user AS (
  SELECT user_id,
         (tmax - MAX(epoch_us(ts))) // {_DAY_US} AS rec_days,
         COUNT(*) AS freq,
         CAST(SUM({_CENTS}) AS BIGINT) AS mon_cents
  FROM events, mx
  GROUP BY user_id, tmax
)
SELECT user_id, rec_days, freq, mon_cents,
       NTILE(4) OVER (ORDER BY rec_days ASC, user_id) AS r_score,
       NTILE(4) OVER (ORDER BY freq DESC, user_id) AS f_score,
       NTILE(4) OVER (ORDER BY mon_cents DESC, user_id) AS m_score
FROM per_user
"""


@register("q_events_rfm", oracle=_RFM_ORACLE)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile scoring per user — the
    classic behavioral segmentation rollup.

    Plan: one hash aggregate per user (integer recency days + exact cents),
    then three NTILE windows over the ~|users| aggregate — each ordering is
    made total with a user_id tiebreak so quartile assignment is
    deterministic on both engines. The reference-time max broadcasts back
    as a 1-row aggregate inside the plan (no driver round-trip).
    """
    ev = load(spark, sf_dir, "events")
    tmax = ev.agg(F.max("ts_us").alias("tmax"))
    per_user = (
        ev.crossJoin(F.broadcast(tmax))
        .groupBy("user_id", "tmax")
        .agg(
            F.max("ts_us").alias("umax"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.expr(_CENTS)).alias("mon_cents"),
        )
        .select(
            "user_id",
            F.expr(f"(tmax - umax) div {_DAY_US}").alias("rec_days"),
            "freq",
            "mon_cents",
        )
    )
    return per_user.select(
        "user_id",
        "rec_days",
        "freq",
        "mon_cents",
        F.ntile(4).over(Window.orderBy(F.asc("rec_days"), "user_id")).alias("r_score"),
        F.ntile(4).over(Window.orderBy(F.desc("freq"), "user_id")).alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("mon_cents"), "user_id"))
        .alias("m_score"),
    )


# --- q_intervals_active -----------------------------------------------------

_ACTIVE_ORACLE = """
WITH iv AS (
  SELECT date_diff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE)) AS open_day,
         date_diff('day', DATE '1992-01-01', CAST(l.l_shipdate AS DATE)) AS close_day
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), deltas AS (
  SELECT day_idx, CAST(SUM(delta) AS BIGINT) AS delta
  FROM (
    SELECT open_day AS day_idx, 1 AS delta FROM iv
    UNION ALL
    SELECT close_day AS day_idx, -1 AS delta FROM iv
  )
  GROUP BY day_idx
)
SELECT day_idx, delta,
       CAST(SUM(delta) OVER (ORDER BY day_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS active
FROM deltas
"""


@register("q_intervals_active", oracle=_ACTIVE_ORACLE)
def q_intervals_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting: how many shipments are in transit
    (shipped, not yet received) on each day — the interval→delta→prefix-sum
    pattern behind concurrency curves, active-session counts, and
    inventory-in-flight metrics.

    Scale shape: the NAIVE plan (join every interval to every day it covers)
    fans out by interval length; the delta encoding emits exactly TWO rows
    per interval (+1 open, −1 close), aggregates them per day (map-side
    partials), and reconstructs the running count with one ordered prefix
    sum over the ~|days| aggregate — fan-out O(1) per row regardless of
    interval length. The single-partition final window is over post-agg
    day rows only (thousands), never the raw facts. A line is "active"
    (ordered, not yet shipped) during [order_day, ship_day).
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    iv = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    epoch0 = F.lit("1992-01-01").cast("date")
    opens = iv.select(
        F.datediff(F.col("o_orderdate").cast("date"), epoch0).alias("day_idx"),
        F.lit(1).alias("d"),
    )
    closes = iv.select(
        F.datediff(F.col("l_shipdate").cast("date"), epoch0).alias("day_idx"),
        F.lit(-1).alias("d"),
    )
    deltas = (
        opens.unionAll(closes)
        .groupBy("day_idx")
        .agg(F.sum("d").cast("bigint").alias("delta"))
    )
    w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day_idx", "delta", F.sum("delta").over(w).alias("active")
    )


# --- q_window_drawdown ------------------------------------------------------

_DRAWDOWN_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, {_CENTS} AS cents FROM events
)
SELECT user_id, event_id, us, cents,
       MAX(cents) OVER w AS runmax_cents,
       MAX(cents) OVER w - cents AS dd_cents
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("q_window_drawdown", oracle=_DRAWDOWN_ORACLE)
def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running maximum and drawdown (distance below the historical peak) of
    each user's value series — the degradation/regression monitor (equity
    drawdown, throughput-below-peak alerts).

    One window shuffle per user; the running MAX is streaming-evaluable
    (O(1) state, no frame buffer), and everything is integer cents —
    bit-exact across engines with zero float ops.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.col("ts_us").alias("us"),
        F.expr(_CENTS).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runmax = F.max("cents").over(w)
    return e.select(
        "user_id",
        "event_id",
        "us",
        "cents",
        runmax.alias("runmax_cents"),
        (runmax - F.col("cents")).alias("dd_cents"),
    )


# --- q_window_seasonality ---------------------------------------------------

_SEASONALITY_ORACLE = f"""
WITH e AS (
  SELECT event_type,
         (epoch_us(ts) // {_DAY_US}) % 7 AS dow,
         {_CENTS} AS cents
  FROM events
), per_dow AS (
  SELECT event_type, dow,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM e GROUP BY event_type, dow
), tot AS (
  SELECT event_type,
         SUM(n) AS tot_n, SUM(cents) AS tot_cents
  FROM per_dow GROUP BY event_type
)
SELECT p.event_type, p.dow, p.n, p.cents,
       FLOOR((CAST(p.cents AS DOUBLE) / p.n)
             / (CAST(t.tot_cents AS DOUBLE) / t.tot_n) * 10000 + 0.5) / 10000
         AS seasonal_idx
FROM per_dow p JOIN tot t ON p.event_type = t.event_type
"""


@register("q_window_seasonality", oracle=_SEASONALITY_ORACLE)
def q_window_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event_type: each weekday's mean
    value relative to the series mean (seasonal index > 1 = above-trend
    day) — the decomposition step behind anomaly baselines and
    load forecasting.

    Weekday = epoch-day mod 7, NOT the engines' dayofweek() (their
    numbering conventions differ — SURVEY.md §5.3); integer cents
    throughout, two divisions at the end on identical integers. The
    seasonal index is computed from a per-(type,dow) aggregate joined to
    its per-type rollup — both tiny; facts shuffle once.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (F.expr(f"ts_us div {_DAY_US}") % 7).alias("dow"),
        F.expr(_CENTS).alias("cents"),
    )
    per_dow = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").alias("cents"),
    )
    tot = per_dow.groupBy("event_type").agg(
        F.sum("n").alias("tot_n"), F.sum("cents").alias("tot_cents")
    )
    joined = per_dow.join(F.broadcast(tot), "event_type")
    idx = (F.col("cents").cast("double") / F.col("n")) / (
        F.col("tot_cents").cast("double") / F.col("tot_n")
    )
    return joined.select(
        "event_type",
        "dow",
        "n",
        "cents",
        (F.floor(idx * 10000 + F.lit(0.5)) / 10000).alias("seasonal_idx"),
    )


# --- q_events_churn ---------------------------------------------------------

_CHURN_IDLE_DAYS = 14

_CHURN_ORACLE = f"""
WITH mx AS (
  SELECT MAX(epoch_us(ts)) AS tmax FROM events
), per_user AS (
  SELECT user_id,
         MIN(epoch_us(ts)) // ({_DAY_US} * 7) AS cohort_week,
         MAX(epoch_us(ts)) AS last_us
  FROM events
  GROUP BY user_id
)
SELECT cohort_week,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN last_us < tmax - {_CHURN_IDLE_DAYS} * {_DAY_US}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
       FLOOR(CAST(SUM(CASE WHEN last_us < tmax - {_CHURN_IDLE_DAYS} * {_DAY_US}
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 10000 + 0.5) / 10000 AS churn_rate_r4
FROM per_user, mx
GROUP BY cohort_week, tmax
"""


@register("q_events_churn", oracle=_CHURN_ORACLE)
def q_events_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn by acquisition cohort: users grouped by first-seen week, churned
    = no activity in the trailing 14 days of the observation window. The
    retention counterpart of q_window_retention's matrix, collapsed to the
    churn-rate readout a dashboard tracks per cohort.

    One per-user aggregate (min/max epoch-µs, exact ints), the corpus max
    folded in as a broadcast 1-row aggregate, then a tiny per-cohort rollup.
    Facts shuffle once.
    """
    ev = load(spark, sf_dir, "events")
    tmax = ev.agg(F.max("ts_us").alias("tmax"))
    per_user = (
        ev.groupBy("user_id")
        .agg(F.min("ts_us").alias("first_us"), F.max("ts_us").alias("last_us"))
        .crossJoin(F.broadcast(tmax))
        .select(
            F.expr(f"first_us div ({_DAY_US} * 7)").alias("cohort_week"),
            (
                F.col("last_us") < F.col("tmax") - _CHURN_IDLE_DAYS * _DAY_US
            ).cast("int").alias("churned"),
        )
    )
    return per_user.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("churned").cast("bigint").alias("n_churned"),
        (
            F.floor(
                F.sum("churned").cast("double") / F.count(F.lit(1)) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("churn_rate_r4"),
    )


# --- q_window_bollinger -----------------------------------------------------

_BOLL_N = 20  # trailing frame length

_BOLL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, {_CENTS} AS cents FROM events
), m AS (
  SELECT user_id, event_id, us, cents,
         SUM(cents)         OVER w AS s1,
         SUM(cents * cents) OVER w AS s2,
         COUNT(*)           OVER w AS n
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN {_BOLL_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, us, cents, n,
       FLOOR(CAST(s1 AS DOUBLE) / n * 10000 + 0.5) / 10000 AS mean_r4,
       CASE WHEN n > 1 AND cents * n > s1 + 2 * SQRT(CAST(n AS DOUBLE)
                 * (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
            THEN 1 ELSE 0 END AS above_band
FROM m
"""


@register("q_window_bollinger", oracle=_BOLL_ORACLE)
def q_window_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-style volatility bands: trailing-20 mean and an
    upper-band breakout flag (value > mean + 2σ) per user series — the
    adaptive-threshold alerting primitive (static thresholds misfire when
    baseline volatility shifts).

    Parity engineering: rolling stddev is NOT computed with the engines'
    windowed stddev (Welford/segment-tree evaluation order differs across
    engines) but reconstructed from integer power sums — SUM(cents) and
    SUM(cents²) over the frame are EXACT int64 window sums on both engines
    (cents² ≤ 2.5e9 × frame 20 ≪ 2⁵³), and the band comparison is the same
    closed-form IEEE expression of those exact integers. The breakout test
    multiplies through by n (cents·n > s1 + 2·√(...)) to avoid an extra
    division.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", F.col("ts_us").alias("us"), F.expr(_CENTS).alias("cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-(_BOLL_N - 1), Window.currentRow)
    )
    s1 = F.sum("cents").over(w)
    s2 = F.sum(F.col("cents") * F.col("cents")).over(w)
    n = F.count(F.lit(1)).over(w)
    sd = F.sqrt(
        n.cast("double")
        * (s2.cast("double") - s1.cast("double") * s1 / n)
        / (n - 1)
    )
    return e.select(
        "user_id",
        "event_id",
        "us",
        "cents",
        n.alias("n"),
        (F.floor(s1.cast("double") / n * 10000 + F.lit(0.5)) / 10000).alias("mean_r4"),
        F.when((n > 1) & (F.col("cents") * n > s1 + 2 * sd), 1)
        .otherwise(0)
        .alias("above_band"),
    )


# --- q_events_paths ---------------------------------------------------------

_PATHS_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
), flagged AS (
  SELECT user_id, us, event_id, event_type,
         CASE WHEN us - LAG(us) OVER w > 1800000000
              OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sess AS (
  SELECT user_id, us, event_id, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), ranked AS (
  SELECT user_id, sid, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS rn
  FROM sess
), paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3
  GROUP BY user_id, sid
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 15
"""


@register("q_events_paths", oracle=_PATHS_ORACLE)
def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths: the first three event types of each 30-minute-gap
    session, joined into a path string and ranked by frequency — the
    clickstream path-analysis rollup (entry-flow dashboards, funnel
    discovery).

    Composition of proven pieces: gaps-and-islands sessionization (one
    shuffle, shared sort serves the gap LAG, the session id running sum and
    the in-session ROW_NUMBER), then an in-session top-3 truncation BEFORE
    the path aggregate so the group state is O(3) per session, and a final
    count. Ties in the top-15 break on the path string.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select("user_id", F.col("ts_us").alias("us"), "event_id", "event_type")
    w_seq = Window.partitionBy("user_id").orderBy("us", "event_id")
    new_s = F.when(
        (F.col("us") - F.lag("us").over(w_seq) > 1_800_000_000)
        | F.lag("us").over(w_seq).isNull(),
        1,
    ).otherwise(0)
    sess = e.select(
        "user_id",
        "us",
        "event_id",
        "event_type",
        F.sum(new_s).over(w_seq.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    ranked = sess.select(
        "user_id",
        "sid",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id", "sid").orderBy("us", "event_id"))
        .alias("rn"),
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                ),
                lambda s: s.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(15)
    )


# --- q_window_autocorr ------------------------------------------------------

_AUTOCORR_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, {_CENTS} AS c FROM events
), lagged AS (
  SELECT user_id, c,
         LAG(c) OVER (PARTITION BY user_id ORDER BY us, event_id) AS cp
  FROM e
), pairs AS (
  SELECT user_id, c, cp FROM lagged WHERE cp IS NOT NULL
), moms AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(c) AS sx, SUM(cp) AS sy,
         SUM(c * c) AS sxx, SUM(cp * cp) AS syy, SUM(c * cp) AS sxy
  FROM pairs GROUP BY user_id
)
SELECT user_id, n,
       FLOOR((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 10000 + 0.5) / 10000 AS autocorr_r4
FROM moms
WHERE n > 1
  AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
  AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
"""


@register("q_window_autocorr", oracle=_AUTOCORR_ORACLE)
def q_window_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's value series — the temporal-
    dependence diagnostic (is the series trending/mean-reverting or noise?)
    behind forecastability scoring and sampling-rate decisions.

    Exact path: one LAG window pairs consecutive values, then the Pearson
    co-moments over (x_t, x_{t-1}) accumulate as exact int64 sums of cents
    products (≪ 2⁵³), and the correlation is one closed-form IEEE expression
    of identical integers — bit-exact, degenerate (zero-variance) series
    filtered by exact integer predicates. Same skeleton as q_agg_corr, one
    window + one hash agg.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.col("ts_us").alias("us"), "event_id", F.expr(_CENTS).alias("c")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = e.select("user_id", "c", F.lag("c").over(w).alias("cp")).filter(
        F.col("cp").isNotNull()
    )
    moms = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").alias("sx"),
        F.sum("cp").alias("sy"),
        F.sum(F.col("c") * F.col("c")).alias("sxx"),
        F.sum(F.col("cp") * F.col("cp")).alias("syy"),
        F.sum(F.col("c") * F.col("cp")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return (
        moms.filter((F.col("n") > 1) & (vx > 0) & (vy > 0))
        .select(
            "user_id",
            "n",
            (F.floor(cov / F.sqrt(vx * vy) * 10000 + F.lit(0.5)) / 10000).alias(
                "autocorr_r4"
            ),
        )
    )


# --- q_window_cusum ---------------------------------------------------------

_CUSUM_ORACLE = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us, event_id, {_CENTS} AS c FROM events
), mu AS (
  SELECT event_type, SUM(c) AS tot, CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY event_type
), dev AS (
  -- deviation scaled by n so everything stays integer: n*c - tot
  SELECT e.event_type, e.us, e.event_id,
         CAST(m.n AS BIGINT) * e.c - m.tot AS d_scaled, m.n, m.tot
  FROM e JOIN mu m ON e.event_type = m.event_type
)
SELECT event_type,
       MAX(n) AS n,
       CAST(MAX(cus) AS BIGINT) AS max_cusum_scaled,
       CAST(MIN(cus) AS BIGINT) AS min_cusum_scaled
FROM (
  SELECT event_type, n,
         SUM(d_scaled) OVER (PARTITION BY event_type ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cus
  FROM dev
)
GROUP BY event_type
"""


@register("q_window_cusum", oracle=_CUSUM_ORACLE)
def q_window_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection: the running sum of deviations from the series
    mean, reduced to its per-series extremes — a drifting mean walks the
    cumulative sum away from zero long before any single point trips a
    threshold (the change-point screen of process monitoring).

    Parity: the deviation is pre-scaled by n (n·x − Σx) so the running sum
    is EXACT int64 arithmetic end to end — no float mean, no rounding,
    bit-exact extremes. Worst magnitude ≈ n²·cents ≈ 1e14 at sf0.1 ≪ 2⁶³
    (decimal escalation documented for extreme scale). One tiny per-series
    mean aggregate broadcast back, one ordered window, one rollup.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_type", F.col("ts_us").alias("us"), "event_id", F.expr(_CENTS).alias("c")
    )
    mu = e.groupBy("event_type").agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    dev = e.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "us",
        "event_id",
        "n",
        (F.col("n") * F.col("c") - F.col("tot")).alias("d_scaled"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cus = dev.select("event_type", "n", F.sum("d_scaled").over(w).alias("cus"))
    return cus.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("cus").alias("max_cusum_scaled"),
        F.min("cus").alias("min_cusum_scaled"),
    )


# --- q_window_slope (rolling regression) -------------------------------------

_SLOPE_WIN = 7  # trailing rows per series


_SLOPE_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), s AS (
  SELECT event_type, day_idx, cents,
         CAST(COUNT(*)        OVER w AS BIGINT) AS n,
         CAST(SUM(day_idx)    OVER w AS BIGINT) AS sx,
         CAST(SUM(cents)      OVER w AS BIGINT) AS sy,
         CAST(SUM(day_idx * cents)   OVER w AS BIGINT) AS sxy,
         CAST(SUM(day_idx * day_idx) OVER w AS BIGINT) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN {_SLOPE_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, day_idx, cents, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) * 10000 + 0.5) / 10000
       END AS slope_r4
FROM s
"""


@register("q_window_slope", oracle=_SLOPE_ORACLE)
def q_window_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling linear-regression slope of daily revenue per event_type over a
    trailing 7-row window — the trend detector behind "is this metric
    rising" alerts, computed from closed-form least squares:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Parity engineering: x (epoch day) and y (exact cents) are integers, so
    all five window sums are EXACT bigint arithmetic; the slope itself is one
    double division of identical integers, rounded r4 — bit-exact across
    engines (a naive rolling regr_slope of doubles would be partition-order
    dependent). Magnitudes: day_idx ~2·10⁴, daily cents ≲10⁹ → n·Σxy ≲ 10¹⁵,
    far under 2⁶³.

    Scale shape: facts collapse to one row per (series, day) first — the
    only full-data shuffle — then the five sums ride ONE window pass over
    the tiny daily table (same frame → one sort, one WindowExec).
    """
    daily = shared_daily_cents(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-(_SLOPE_WIN - 1), 0)
    )
    n = F.count(F.lit(1)).over(w).cast("bigint")
    sx = F.sum("day_idx").over(w).cast("bigint")
    sy = F.sum("cents").over(w).cast("bigint")
    sxy = F.sum(F.col("day_idx") * F.col("cents")).over(w).cast("bigint")
    sxx = F.sum(F.col("day_idx") * F.col("day_idx")).over(w).cast("bigint")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    return daily.select(
        "event_type",
        "day_idx",
        "cents",
        n.alias("n"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.floor(num.cast("double") / den.cast("double") * 10000 + F.lit(0.5)) / 10000)
        .alias("slope_r4"),
    )


# --- q_window_hampel (rolling median/MAD outlier screen) ---------------------

_HAMPEL_WIN = 7       # trailing rows per series
_HAMPEL_K_BP = 44478  # 3 · 1.4826 (the Hampel constant) in basis points


_HAMPEL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), arrs AS (
  SELECT event_type, day_idx, cents,
         list_sort(list(cents) OVER (
           PARTITION BY event_type ORDER BY day_idx
           ROWS BETWEEN {_HAMPEL_WIN - 1} PRECEDING AND CURRENT ROW)) AS arr
  FROM daily
), med AS (
  SELECT event_type, day_idx, cents, arr, len(arr) AS k,
         arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1] AS m2
  FROM arrs
), mad AS (
  SELECT event_type, day_idx, cents, k, m2,
         list_sort(list_transform(arr, v -> abs(2 * v - m2))) AS sdev
  FROM med
)
SELECT event_type, day_idx, cents, CAST(k AS BIGINT) AS k,
       CAST(m2 AS BIGINT) AS med2,
       CAST(sdev[(k + 1) // 2] + sdev[k // 2 + 1] AS BIGINT) AS mad4,
       abs(2 * cents - m2) * 20000
         > {_HAMPEL_K_BP} * (sdev[(k + 1) // 2] + sdev[k // 2 + 1]) AS is_outlier
FROM mad
"""


@register("q_window_hampel", oracle=_HAMPEL_ORACLE)
def q_window_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over daily revenue per event_type: flag days whose value
    deviates from the trailing 7-day rolling MEDIAN by more than
    3·1.4826·MAD — the robust outlier screen that survives the spikes a
    z-score screen (q_events_anomaly) gets dragged by.

    Spark-first trick: a windowed exact median-of-medians needs NO self-join
    — collect_list over the ROWS-bounded frame yields a ≤7-element array,
    and median, per-member absolute deviations, and the MAD all come from
    in-row sort_array/transform projections. ONE window pass, O(frame)
    state, fully codegen'd array ops.

    Parity engineering: doubled medians (m2 = 2·median) and quadrupled MADs
    (mad4 = 4·MAD) keep every quantity integer — even-count medians land on
    halves, so ×2/×4 clears the fractions — and the Hampel threshold
    compares scaled integers (basis points), so the boolean is bit-exact
    across engines with zero float ops anywhere.
    """
    daily = shared_daily_cents(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-(_HAMPEL_WIN - 1), 0)
    )
    arrs = daily.select(
        "event_type",
        "day_idx",
        "cents",
        F.sort_array(F.collect_list("cents").over(w)).alias("arr"),
    )
    k = F.size("arr")
    m2 = F.element_at("arr", ((k + 1) / 2).cast("int")) + F.element_at(
        "arr", (k / 2).cast("int") + 1
    )
    med = arrs.select(
        "event_type", "day_idx", "cents", "arr", k.alias("k"), m2.alias("m2")
    )
    sdev = F.sort_array(
        F.transform(F.col("arr"), lambda v: F.abs(2 * v - F.col("m2")))
    )
    mad = med.select(
        "event_type", "day_idx", "cents", "k", "m2", sdev.alias("sdev")
    )
    mad4 = F.element_at("sdev", ((F.col("k") + 1) / 2).cast("int")) + F.element_at(
        "sdev", (F.col("k") / 2).cast("int") + 1
    )
    return mad.select(
        "event_type",
        "day_idx",
        "cents",
        F.col("k").cast("bigint").alias("k"),
        F.col("m2").cast("bigint").alias("med2"),
        mad4.cast("bigint").alias("mad4"),
        (F.abs(2 * F.col("cents") - F.col("m2")) * 20000 > _HAMPEL_K_BP * mad4).alias(
            "is_outlier"
        ),
    )


# --- q_window_mann_kendall (robust trend: MK S statistic + Theil-Sen) --------

_MK_WIN = 7  # trailing rows per series


_MK_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), r AS (
  SELECT event_type, day_idx, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day_idx) AS rn
  FROM daily
), pairs AS (
  SELECT j.event_type, j.day_idx, j.cents,
         CASE WHEN b.cents > a.cents THEN 1
              WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn,
         CAST(b.cents - a.cents AS DOUBLE) / (b.day_idx - a.day_idx) AS slope
  FROM r j
  JOIN r a ON a.event_type = j.event_type
          AND a.rn BETWEEN j.rn - {_MK_WIN - 1} AND j.rn - 1
  JOIN r b ON b.event_type = j.event_type
          AND b.rn BETWEEN a.rn + 1 AND j.rn
), sel AS (
  SELECT event_type, day_idx, cents,
         CAST(SUM(sgn) AS BIGINT) AS s_mk,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         list_sort(list(slope)) AS sl
  FROM pairs GROUP BY event_type, day_idx, cents
)
SELECT event_type, day_idx, cents, s_mk, n_pairs,
       FLOOR((sl[(n_pairs + 1) // 2] + sl[n_pairs // 2 + 1]) / 2 * 10000 + 0.5)
         / 10000 AS ts_slope_r4
FROM sel
"""


@register("q_window_mann_kendall", oracle=_MK_ORACLE)
def q_window_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (S statistic) + Theil-Sen slope estimator over
    a trailing {_MK_WIN}-row window of daily revenue per event_type — the
    nonparametric companion to q_window_slope's least squares: S counts
    concordant minus discordant pairs (monotone-trend evidence immune to
    outliers), and the Theil-Sen slope is the MEDIAN of all pairwise slopes
    (a single spiked day cannot drag it the way it drags OLS).

    Parity engineering: the pairwise machinery is exact — sgn() compares
    exact bigint cents, each pairwise slope is ONE double division of exact
    integers, and the median picks (sorts + middle-two average) identically
    on both engines; output snapped r4. Rows whose window holds fewer than
    2 points have no pairs and are dropped on both sides.

    Scale shape / differential value: Spark builds the O(w²)=21 pairs per
    row INSIDE one window pass — collect_list over a ROWS frame, then pure
    codegen array HOFs (transform×slice → flatten) with no extra shuffle or
    join — while the oracle derives the same pairs as a quadratic triple
    self-join. One (series) shuffle total; per-row state is O(w), so the
    same plan streams at 100 TB where the oracle's self-join would not.
    """
    daily = shared_daily_cents(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-(_MK_WIN - 1), 0)
    )
    arrs = daily.select(
        "event_type",
        "day_idx",
        "cents",
        F.collect_list(F.struct("day_idx", "cents")).over(w).alias("arr"),
    ).filter(F.size("arr") >= 2)
    # all i<j pairs of the frame-ordered window array, as codegen HOFs
    sgns = F.expr(
        "flatten(transform(arr, (a, i) -> "
        "transform(slice(arr, i + 2, size(arr)), b -> "
        "CASE WHEN b.cents > a.cents THEN 1 "
        "WHEN b.cents < a.cents THEN -1 ELSE 0 END)))"
    )
    slopes = F.expr(
        "array_sort(flatten(transform(arr, (a, i) -> "
        "transform(slice(arr, i + 2, size(arr)), b -> "
        "CAST(b.cents - a.cents AS DOUBLE) / (b.day_idx - a.day_idx)))))"
    )
    paired = arrs.select(
        "event_type",
        "day_idx",
        "cents",
        F.aggregate(sgns, F.lit(0).cast("bigint"), lambda acc, v: acc + v).alias(
            "s_mk"
        ),
        sgns.alias("_sgns"),
        slopes.alias("_sl"),
    ).withColumn("n_pairs", F.size("_sgns").cast("bigint"))
    mid_hi = F.element_at("_sl", ((F.col("n_pairs") + 1) / 2).cast("int"))
    mid_lo = F.element_at("_sl", (F.col("n_pairs") / 2).cast("int") + 1)
    return paired.select(
        "event_type",
        "day_idx",
        "cents",
        "s_mk",
        "n_pairs",
        (F.floor((mid_hi + mid_lo) / 2 * 10000 + F.lit(0.5)) / 10000).alias(
            "ts_slope_r4"
        ),
    )


# --- q_window_snaive_backtest (seasonal-naive forecast + error backtest) -----

_SNAIVE_LAG = 7  # seasonal period in rows (daily data, weekly season)


_SNAIVE_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), fc AS (
  SELECT event_type, day_idx, cents,
         lag(cents, {_SNAIVE_LAG}) OVER (
           PARTITION BY event_type ORDER BY day_idx) AS yhat
  FROM daily
)
SELECT event_type,
       CAST(COUNT(yhat) AS BIGINT) AS n_forecasts,
       CAST(SUM(ABS(cents - yhat)) AS BIGINT) AS sum_abs_err,
       CAST(MAX(ABS(cents - yhat)) AS BIGINT) AS max_abs_err,
       FLOOR(CAST(SUM(ABS(cents - yhat)) AS DOUBLE) / SUM(ABS(cents))
             * 10000 + 0.5) / 10000 AS wape_r4
FROM fc
WHERE yhat IS NOT NULL
GROUP BY event_type
"""


@register("q_window_snaive_backtest", oracle=_SNAIVE_ORACLE)
def q_window_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue with the
    value {_SNAIVE_LAG} rows earlier (same weekday last week) and score the
    forecaster per series with MAE components and WAPE — the baseline every
    real forecasting pipeline must beat, and the backtest harness shape
    (lag-as-forecast → residual aggregate) that fancier models reuse.

    Parity: residuals are exact bigint cents; WAPE is one double division of
    exact integer sums, snapped r4. Warmup rows (first {_SNAIVE_LAG} per
    series) have no forecast and drop on both sides.

    Scale shape: facts collapse to the daily table (one shuffle), the lag is
    one ROWS window on the tiny series table, and the scorecard is a
    map-side-combinable aggregate — same single-window discipline as the
    rest of the timeseries family.
    """
    daily = shared_daily_cents(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day_idx")
    fc = daily.withColumn("yhat", F.lag("cents", _SNAIVE_LAG).over(w)).filter(
        F.col("yhat").isNotNull()
    )
    err = F.abs(F.col("cents") - F.col("yhat"))
    return fc.groupBy("event_type").agg(
        F.count("yhat").cast("bigint").alias("n_forecasts"),
        F.sum(err).cast("bigint").alias("sum_abs_err"),
        F.max(err).cast("bigint").alias("max_abs_err"),
        F.expr(
            "FLOOR(CAST(SUM(ABS(cents - yhat)) AS DOUBLE) / SUM(ABS(cents)) "
            "* 10000 + 0.5) / 10000"
        ).alias("wape_r4"),
    )


# --- q_cohort_ltv (cumulative revenue by acquisition cohort age) -------------

_WEEK_US = 7 * _DAY_US


_LTV_ORACLE = f"""
WITH firsts AS (
  SELECT user_id, MIN(epoch_us(ts) // {_WEEK_US}) AS cohort_week
  FROM events GROUP BY user_id
), rev AS (
  SELECT e.user_id, f.cohort_week,
         (epoch_us(e.ts) // {_WEEK_US}) - f.cohort_week AS age_weeks,
         {_CENTS} AS c
  FROM events e JOIN firsts f USING (user_id)
  WHERE e.event_type = 'purchase'
), cw AS (
  SELECT cohort_week, age_weeks,
         CAST(SUM(c) AS BIGINT) AS week_cents
  FROM rev GROUP BY cohort_week, age_weeks
), sized AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
  FROM firsts GROUP BY cohort_week
)
SELECT c.cohort_week, c.age_weeks, s.cohort_users, c.week_cents,
       CAST(SUM(c.week_cents) OVER (
         PARTITION BY c.cohort_week ORDER BY c.age_weeks) AS BIGINT)
         AS cum_cents,
       FLOOR(CAST(SUM(c.week_cents) OVER (
         PARTITION BY c.cohort_week ORDER BY c.age_weeks) AS DOUBLE)
         / s.cohort_users * 10000 + 0.5) / 10000 AS ltv_per_user_r4
FROM cw c JOIN sized s USING (cohort_week)
"""


@register("q_cohort_ltv", oracle=_LTV_ORACLE)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value by acquisition cohort: users cohort by
    first-seen week, purchase revenue buckets by cohort age, and a running
    sum yields the LTV curve per cohort (the money companion to
    q_window_retention's count matrix — the pair of charts every growth
    team reads together).

    Parity: cohorting and ages are integer epoch-week arithmetic; revenue
    is exact cents; the per-user LTV is one double division snapped r4.

    Scale shape: first-seen is one per-user MIN (map-side); the cohort tag
    joins back on user_id (at 100 TB both sides hash-partition by user —
    the natural key); weekly buckets collapse to a tiny (cohort, age)
    table before the cumulative window, so the running sum never touches
    fact-level rows. Cohort sizes ride a broadcast join.
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.expr(f"MIN(ts_us div {_WEEK_US})").alias("cohort_week")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_week",
            (F.expr(f"ts_us div {_WEEK_US}") - F.col("cohort_week")).alias(
                "age_weeks"
            ),
            F.expr(_CENTS).alias("c"),
        )
    )
    cw = rev.groupBy("cohort_week", "age_weeks").agg(
        F.sum("c").cast("bigint").alias("week_cents")
    )
    sized = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    cum = F.sum("week_cents").over(w).cast("bigint")
    return (
        cw.join(F.broadcast(sized), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "cohort_users",
            "week_cents",
            cum.alias("cum_cents"),
            (
                F.floor(
                    cum.cast("double") / F.col("cohort_users") * 10000 + F.lit(0.5)
                )
                / 10000
            ).alias("ltv_per_user_r4"),
        )
    )


# --- q_events_interarrival (inter-event gap distribution per type) -----------

_IA_ORACLE = """
WITH ordered AS (
  SELECT event_type, user_id, epoch_us(ts) AS t_us, event_id
  FROM events
), gaps AS (
  SELECT event_type,
         t_us - lag(t_us) OVER (
           PARTITION BY event_type, user_id ORDER BY t_us, event_id) AS gap_us
  FROM ordered
  QUALIFY gap_us IS NOT NULL
), arr AS (
  SELECT event_type, list_sort(list(gap_us)) AS g, CAST(COUNT(*) AS BIGINT) AS n
  FROM gaps GROUP BY event_type
)
SELECT event_type, n,
       CAST(g[1] AS BIGINT) AS min_gap_us,
       CAST(g[(n + 1) // 2] + g[n // 2 + 1] AS BIGINT) AS med2_gap_us,
       CAST(g[(n * 9 + 9) // 10] AS BIGINT) AS p90_gap_us,
       CAST(g[n] AS BIGINT) AS max_gap_us
FROM arr
"""


@register("q_events_interarrival", oracle=_IA_ORACLE)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type: the time between each
    user's consecutive events of a type, summarized by exact order
    statistics (min / median×2 / p90 ceil-rank / max in integer µs) — the
    metric behind session-timeout tuning (q_window_sessionize's 30-min gap
    is exactly a quantile of THIS distribution) and arrival-process QA.

    Parity: gaps are exact integer µs from LAG with a tie-broken ordering
    (ts, event_id); quantiles are exact RANK SELECTIONS — the median is
    reported as the middle-two SUM (no /2, stays integer) and p90 as the
    ceil-rank element, so no interpolation arithmetic exists to disagree.
    The oracle materializes each type's sorted gap list; Spark selects the
    same ranks with row_number over the sorted gap stream.

    Scale shape: one (type, user) window for the LAG, one (type) sort for
    the ranking window — rank selection streams (no per-group list is ever
    materialized engine-side, unlike the oracle's list_sort), then a
    5-rows-per-group conditional aggregate.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.select("event_type", "user_id", "ts_us", "event_id")
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("gap_us").isNotNull())
    )
    wr = Window.partitionBy("event_type").orderBy("gap_us", "user_id", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    hit = ranked.filter(
        (F.col("rn") == 1)
        | (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("n div 2 + 1"))
        | (F.col("rn") == F.expr("(n * 9 + 9) div 10"))
        | (F.col("rn") == F.col("n"))
    )
    return hit.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.when(F.col("rn") == 1, F.col("gap_us")))
        .cast("bigint")
        .alias("min_gap_us"),
        (
            F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("gap_us")))
            + F.max(F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col("gap_us")))
        )
        .cast("bigint")
        .alias("med2_gap_us"),
        F.max(F.when(F.col("rn") == F.expr("(n * 9 + 9) div 10"), F.col("gap_us")))
        .cast("bigint")
        .alias("p90_gap_us"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("gap_us")))
        .cast("bigint")
        .alias("max_gap_us"),
    )


# --- q_window_rolling_corr (rolling cross-series correlation) ----------------

_RC_WIN = 14  # trailing rows (aligned days)

#: shared closed-form text: Pearson r from exact integer window sums.
_RC_CORR = (
    "(CAST(n * sxy - sx * sy AS DOUBLE) "
    "/ (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) "
    " * SQRT(CAST(n * syy - sy * sy AS DOUBLE))))"
)

_RC_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events
  WHERE event_type IN ('purchase', 'view')
  GROUP BY event_type, day_idx
), aligned AS (
  SELECT p.day_idx, p.cents AS x, v.cents AS y
  FROM daily p JOIN daily v
    ON p.day_idx = v.day_idx
   AND p.event_type = 'purchase' AND v.event_type = 'view'
), sums AS (
  SELECT day_idx, x, y,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy
  FROM aligned
  WINDOW w AS (ORDER BY day_idx ROWS BETWEEN {_RC_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT day_idx, x, y, n,
       FLOOR({_RC_CORR} * 10000 + 0.5) / 10000 AS corr_r4
FROM sums
WHERE n >= 3 AND n * sxx > sx * sx AND n * syy > sy * sy
"""


@register("q_window_rolling_corr", oracle=_RC_ORACLE)
def q_window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {_RC_WIN}-day Pearson correlation between the purchase and
    view revenue series — the co-movement monitor behind "did engagement
    decouple from sales this week" alerts, and the cross-SERIES window the
    single-series family (q_window_autocorr correlates a series with its
    own lag) doesn't cover.

    Parity: the two series align by exact epoch day (inner join), the five
    rolling sums are exact bigint windows over one shared frame, and the
    Pearson closed form is a single shared expression text (identical IEEE
    trees, correctly-rounded SQRT), snapped r4; degenerate windows (either
    series constant, n<3) are excluded by exact INTEGER predicates, never
    by a float epsilon. Magnitudes: at this data's ≲10⁷ daily cents the
    window products stay ≲10¹⁶, far under 2⁶³; if daily cents ever neared
    10⁹ (where 14·c² ≈ 1.4·10¹⁹ crowds 9.2·10¹⁸), rescale to whole
    currency units before the window — the overflow margin is documented,
    not assumed.

    Scale shape: facts collapse to the daily table (one shuffle); the join
    aligns two 60-row series; all five sums ride ONE window frame (one
    sort, one WindowExec). The global day ordering is a single partition
    BY DESIGN — the aligned series is one row per day, tiny at any corpus
    scale.
    """
    # event_type is a group key, so filtering AFTER the shared daily agg is
    # identical to filtering the facts first — and reuses the family memo.
    daily = shared_daily_cents(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "view")
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        "day_idx", F.col("cents").alias("x")
    )
    v = daily.filter(F.col("event_type") == "view").select(
        F.col("day_idx").alias("v_day"), F.col("cents").alias("y")
    )
    aligned = p.join(v, p.day_idx == v.v_day).select("day_idx", "x", "y")
    w = Window.orderBy("day_idx").rowsBetween(-(_RC_WIN - 1), 0)
    sums = aligned.select(
        "day_idx",
        "x",
        "y",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    return sums.filter(
        (F.col("n") >= 3)
        & (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
    ).select(
        "day_idx",
        "x",
        "y",
        "n",
        F.expr(f"FLOOR({_RC_CORR} * 10000 + 0.5) / 10000").alias("corr_r4"),
    )


# --- q_events_active_users (DAU / WAU / stickiness) --------------------------

_AU_WIN = 7  # WAU window in days


_AU_ORACLE = f"""
WITH user_days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day_idx FROM events
), dau AS (
  SELECT day_idx, CAST(COUNT(*) AS BIGINT) AS dau FROM user_days GROUP BY day_idx
), support AS (
  SELECT user_id, day_idx + d.d AS day_idx
  FROM user_days, (SELECT unnest(range(0, {_AU_WIN})) AS d) d
), wau AS (
  SELECT day_idx, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM support GROUP BY day_idx
), grid AS (
  SELECT d.day_idx, d.dau, w.wau FROM dau d JOIN wau w USING (day_idx)
)
SELECT day_idx, dau, wau,
       FLOOR(CAST(dau AS DOUBLE) / wau * 10000 + 0.5) / 10000
         AS stickiness_r4
FROM grid
"""


@register("q_events_active_users", oracle=_AU_ORACLE)
def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness per day — the growth dashboard's first row.
    WAU(d) counts distinct users active in (d-{_AU_WIN - 1} … d]; stickiness
    = DAU/WAU (how much of the weekly audience shows up daily).

    Scale formulation: sliding DISTINCT counts don't decompose (a user
    active twice in the window must count once), so instead of a windowed
    distinct — which Spark can't stream — each (user, day) activity row is
    EXPANDED to the {_AU_WIN} window-end days it supports (a narrow ×{_AU_WIN}
    fan-out, no shuffle) and WAU becomes a plain per-day distinct aggregate
    with map-side partial distinct. This is the standard exact rewrite; at
    extreme scale swap the distinct for the mergeable HLL registers of
    q_agg_hll_portable and the fan-out stays the only cost. Days at the
    corpus edge (no DAU that day) drop via the grid join on both sides.

    Parity: day arithmetic is exact epoch-day integers; stickiness is one
    double division snapped r4.
    """
    ev = load(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.expr(f"ts_us div {_DAY_US}").alias("day_idx")
    ).distinct()
    dau = user_days.groupBy("day_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    support = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day_idx"), F.col("day_idx") + (_AU_WIN - 1))
        ).alias("day_idx"),
    )
    wau = support.groupBy("day_idx").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau")
    )
    return dau.join(wau, "day_idx").select(
        "day_idx",
        "dau",
        "wau",
        F.expr("FLOOR(CAST(dau AS DOUBLE) / wau * 10000 + 0.5) / 10000").alias(
            "stickiness_r4"
        ),
    )


# --- q_orders_ship_latency (order→first-ship latency SLA percentiles) --------

_SL_ORACLE = f"""
WITH lat AS (
  SELECT o.o_orderpriority,
         (MIN(epoch_us(l.l_shipdate)) - epoch_us(o.o_orderdate)) // {_DAY_US}
           AS days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
), arr AS (
  SELECT o_orderpriority, list_sort(list(days)) AS g,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lat GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       CAST(g[(n + 1) // 2] + g[n // 2 + 1] AS BIGINT) AS med2_days,
       CAST(g[(n * 9 + 9) // 10] AS BIGINT) AS p90_days,
       CAST(g[(n * 99 + 99) // 100] AS BIGINT) AS p99_days,
       CAST(g[n] AS BIGINT) AS max_days
FROM arr
"""


@register("q_orders_ship_latency", oracle=_SL_ORACLE)
def q_orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→first-shipment latency SLA percentiles per priority class —
    the fulfillment scorecard (does URGENT actually ship faster, and what
    does the p99 tail look like): exact median×2 / p90 / p99 ceil-rank /
    max in whole days.

    Parity & shape: latency is exact integer epoch-day arithmetic from the
    per-order MIN aggregate run BEFORE the orders join (round 12, guide
    §2.3 — the join input shrinks from |lineitem| to |orderkeys|, the
    aggregate's output partitioning feeds the join key, and the former
    post-join 3-key re-aggregate disappears since orderkey is unique in
    orders); quantiles are exact RANK SELECTIONS via a ranking window over
    the per-order latency table (the streaming shape — no engine-side
    per-group list, unlike the oracle's list_sort pick), then a
    4-ranks-per-group conditional aggregate. Same machinery as
    q_events_interarrival pointed at an operational SLA.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lat = per_order.join(orders, per_order.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.expr(
            f"(unix_micros(CAST(first_ship AS TIMESTAMP)) "
            f"- unix_micros(CAST(o_orderdate AS TIMESTAMP))) div {_DAY_US}"
        ).alias("days"),
    )
    # ONE window pass: rn and n share the same partition AND order spec (n
    # just widens the frame to unbounded), so Catalyst folds both into a
    # single WindowExec — one Exchange + one Sort over lineitem-sized data
    # instead of two (round-3 review flagged the two-pass plan).
    wr = Window.partitionBy("o_orderpriority").orderBy("days")
    wn = wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = lat.select(
        "o_orderpriority",
        "days",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    hit = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("n div 2 + 1"))
        | (F.col("rn") == F.expr("(n * 9 + 9) div 10"))
        | (F.col("rn") == F.expr("(n * 99 + 99) div 100"))
        | (F.col("rn") == F.col("n"))
    )
    return hit.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n"),
        (
            F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("days")))
            + F.max(F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col("days")))
        )
        .cast("bigint")
        .alias("med2_days"),
        F.max(F.when(F.col("rn") == F.expr("(n * 9 + 9) div 10"), F.col("days")))
        .cast("bigint")
        .alias("p90_days"),
        F.max(F.when(F.col("rn") == F.expr("(n * 99 + 99) div 100"), F.col("days")))
        .cast("bigint")
        .alias("p99_days"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("days")))
        .cast("bigint")
        .alias("max_days"),
    )


# --- q_window_rsi ------------------------------------------------------------

_RSI_N = 14  # trailing frame length (days with activity)

_RSI_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY day_idx
), delta AS (
  SELECT day_idx, cents,
         cents - LAG(cents) OVER (ORDER BY day_idx) AS d
  FROM daily
), gl AS (
  SELECT day_idx,
         CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END)
              OVER w AS BIGINT) AS sum_gain,
         CAST(SUM(CASE WHEN d < 0 THEN -d ELSE 0 END)
              OVER w AS BIGINT) AS sum_loss,
         COUNT(d) OVER w AS n_d
  FROM delta
  WINDOW w AS (ORDER BY day_idx
               ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT day_idx, sum_gain, sum_loss,
       FLOOR(CAST(100 * sum_gain AS DOUBLE) / (sum_gain + sum_loss) * 10000 + 0.5)
         / 10000 AS rsi_r4
FROM gl
WHERE n_d = {_RSI_N} AND sum_gain + sum_loss > 0
"""


@register("q_window_rsi", oracle=_RSI_ORACLE)
def q_window_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period RSI (relative strength index, simple-average variant)
    over the daily purchase-revenue series — the bounded momentum
    oscillator (RSI = 100·gain/(gain+loss) over the trailing frame, the
    algebraic identity for 100 − 100/(1+RS)).

    Parity engineering: daily revenue is exact integer cents; day index is
    integer µs floor-division (no timezone/date rendering); deltas, gains
    and losses stay bigint through the window sums, and the only float op
    is the final shared division before the r4 snap. Rows with fewer than
    14 trailing deltas, or an all-flat frame, are excluded on both sides.

    Scale shape: the fact collapses to one row per day in a map-side
    combined aggregate, so the single ordered window runs over a tiny
    series (range-partitionable by coarse time blocks with frame overlap
    if the series itself were huge)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        (F.col("ts_us") / F.lit(86400000000)).cast("long").alias("day_idx")
    ).agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("cents"))
    w_lag = Window.orderBy("day_idx")
    delta = daily.select(
        "day_idx",
        (F.col("cents") - F.lag("cents").over(w_lag)).alias("d"),
    )
    w = Window.orderBy("day_idx").rowsBetween(-(_RSI_N - 1), Window.currentRow)
    gl = delta.select(
        "day_idx",
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("sum_gain"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("sum_loss"),
        F.count("d").over(w).alias("n_d"),
    )
    return gl.filter(
        (F.col("n_d") == _RSI_N) & (F.col("sum_gain") + F.col("sum_loss") > 0)
    ).select(
        "day_idx",
        "sum_gain",
        "sum_loss",
        (
            F.floor(
                (F.lit(100) * F.col("sum_gain")).cast("double")
                / (F.col("sum_gain") + F.col("sum_loss"))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("rsi_r4"),
    )


# --- q_window_holt -----------------------------------------------------------

_HOLT_ALPHA = 0.5  # level weight (exactly representable double)
_HOLT_BETA = 0.3   # trend weight

_HOLT_SERIES_MOD = 3  # user-cohort sharding: one independent series per cohort

_HOLT_ORACLE = f"""
WITH d0 AS (
  SELECT user_id % {_HOLT_SERIES_MOD} AS series,
         epoch_us(ts) // 86400000000 AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY series, day_idx
), daily AS (
  SELECT ROW_NUMBER() OVER (PARTITION BY series ORDER BY day_idx) AS rn,
         series, day_idx, cents
  FROM d0
), hw AS (
  WITH RECURSIVE rec(series, rn, day_idx, cents, l, b) AS (
    SELECT series, rn, day_idx, cents, CAST(cents AS DOUBLE), CAST(0 AS DOUBLE)
    FROM daily WHERE rn = 1
    UNION ALL
    SELECT d.series, d.rn, d.day_idx, d.cents,
           {_HOLT_ALPHA} * d.cents + {1 - _HOLT_ALPHA} * (rec.l + rec.b),
           {_HOLT_BETA} * (({_HOLT_ALPHA} * d.cents
                            + {1 - _HOLT_ALPHA} * (rec.l + rec.b)) - rec.l)
             + {1 - _HOLT_BETA} * rec.b
    FROM rec JOIN daily d ON d.series = rec.series AND d.rn = rec.rn + 1
  )
  SELECT * FROM rec
)
SELECT series, day_idx, cents,
       FLOOR(l / 100 * 10000 + 0.5) / 10000 AS level_r4,
       FLOOR(b / 100 * 10000 + 0.5) / 10000 AS trend_r4
FROM hw
ORDER BY series, day_idx
"""


@register("q_window_holt", oracle=_HOLT_ORACLE)
def q_window_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) over the daily
    purchase-revenue series — the genuinely SEQUENTIAL time-series operator
    (each day's state depends on the previous day's smoothed state, so no
    window frame can express it). The Spark-native shape for sequential
    per-series state is `applyInPandas` per series key: the state loop runs
    in Arrow-batched Python WITHIN each series while Spark parallelizes
    ACROSS series — here ``_HOLT_SERIES_MOD`` user-cohort series (user_id
    mod 3), each smoothed independently in its own group; at
    100 TB one group per (metric, entity) key, which is exactly how
    per-entity smoothing/EKF pipelines shard (the round-3 review flagged
    the former single-series demo as the registry's only intentionally
    serial applyInPandas plan). The oracle replays the same per-series
    recursion as a DuckDB recursive CTE partitioned on the same key,
    proving the iterative state machine end-to-end.

    Parity engineering: inputs are exact integer day-cents; α=0.5 is an
    exactly representable double and every step applies the IDENTICAL
    IEEE expression tree (l' = α·y + (1−α)·(l+b); b' = β·(l'−l) + (1−β)·b)
    in both engines, so the trajectories match bit-for-bit before the r4
    snap (verified over 500+ sequential steps — drift would compound and
    fail the hash immediately)."""
    import pandas as pd

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        (F.col("user_id") % _HOLT_SERIES_MOD).alias("series"),
        (F.col("ts_us") / F.lit(86400000000)).cast("long").alias("day_idx"),
    ).agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("cents"))

    a, b_w = _HOLT_ALPHA, _HOLT_BETA

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_idx").reset_index(drop=True)
        ls, bs = [], []
        l = float(pdf["cents"].iloc[0])
        b = 0.0
        ls.append(l)
        bs.append(b)
        for y in pdf["cents"].iloc[1:]:
            l_new = a * y + (1 - a) * (l + b)
            b = b_w * (l_new - l) + (1 - b_w) * b
            l = l_new
            ls.append(l)
            bs.append(b)
        import math

        return pd.DataFrame(
            {
                "series": pdf["series"],
                "day_idx": pdf["day_idx"],
                "cents": pdf["cents"],
                "level_r4": [math.floor(x / 100 * 10000 + 0.5) / 10000 for x in ls],
                "trend_r4": [math.floor(x / 100 * 10000 + 0.5) / 10000 for x in bs],
            }
        )

    return (
        daily.groupBy("series")
        .applyInPandas(
            holt,
            schema="series long, day_idx long, cents long, "
            "level_r4 double, trend_r4 double",
        )
        .orderBy("series", "day_idx")
    )


# --- q_window_croston ---------------------------------------------------------

_CROSTON_ALPHA = 0.5  # smoothing weight (exactly representable double)
_CROSTON_MOD = 20  # sparser cohorts than Holt's 3 → genuinely intermittent gaps

_CROSTON_ORACLE = f"""
WITH d0 AS (
  SELECT user_id % {_CROSTON_MOD} AS series,
         epoch_us(ts) // 86400000000 AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY series, day_idx
), demand AS (
  SELECT ROW_NUMBER() OVER (PARTITION BY series ORDER BY day_idx) AS rn,
         series, day_idx, cents
  FROM d0 WHERE cents > 0
), cr AS (
  WITH RECURSIVE rec(series, rn, day_idx, cents, z, p) AS (
    SELECT series, rn, day_idx, cents, CAST(cents AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM demand WHERE rn = 1
    UNION ALL
    SELECT d.series, d.rn, d.day_idx, d.cents,
           {_CROSTON_ALPHA} * d.cents + {1 - _CROSTON_ALPHA} * rec.z,
           CASE WHEN rec.p IS NULL
                THEN CAST(d.day_idx - rec.day_idx AS DOUBLE)
                ELSE {_CROSTON_ALPHA} * (d.day_idx - rec.day_idx)
                     + {1 - _CROSTON_ALPHA} * rec.p END
    FROM rec JOIN demand d ON d.series = rec.series AND d.rn = rec.rn + 1
  )
  SELECT * FROM rec
)
SELECT series, day_idx, cents,
       FLOOR(z / 100 * 10000 + 0.5) / 10000 AS size_r4,
       FLOOR(p * 10000 + 0.5) / 10000 AS interval_r4,
       FLOOR(z / p / 100 * 10000 + 0.5) / 10000 AS forecast_r4
FROM cr WHERE rn >= 2
ORDER BY series, day_idx
"""


@register("q_window_croston", oracle=_CROSTON_ORACLE)
def q_window_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand — the forecasting standard
    where most periods are zero (spare parts, long-tail SKUs, rare events)
    and plain exponential smoothing decays toward zero between demands:
    smooth the demand SIZES (z' = α·y + (1−α)·z) and the inter-demand
    INTERVALS (p' = α·q + (1−α)·p) as two separate recursions updated only
    AT demand points, forecast = z/p demand per period. Completes the
    smoothing family next to q_window_ewma (dense), q_window_holt
    (level+trend) and q_window_snaive_backtest (seasonal).

    Spark-first (the q_window_holt discipline): the genuinely sequential
    per-series state runs in ONE Arrow-batched applyInPandas per series —
    {_CROSTON_MOD} user-cohort series here, one (SKU, site) key in a real
    deployment — while Spark parallelizes across series; zero-days never
    materialize (the recursion consumes demand POINTS and integer day
    GAPS, so the pipeline scales with nonzero demand, not calendar span).
    The oracle replays the identical IEEE expression tree as a DuckDB
    recursive CTE; both drop the seed row (z defined, p not yet) and snap
    at 4 decimals.
    """
    import pandas as pd

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    demand = (
        ev.groupBy(
            (F.col("user_id") % _CROSTON_MOD).alias("series"),
            F.expr(f"ts_us div {_DAY_US}").alias("day_idx"),
        )
        .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("cents"))
        .filter(F.col("cents") > 0)
    )
    a = _CROSTON_ALPHA

    def croston(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("day_idx").reset_index(drop=True)
        out = {"series": [], "day_idx": [], "cents": [], "size_r4": [],
               "interval_r4": [], "forecast_r4": []}
        z = float(pdf["cents"].iloc[0])
        p = None
        prev_day = int(pdf["day_idx"].iloc[0])
        for i in range(1, len(pdf)):
            day = int(pdf["day_idx"].iloc[i])
            y = int(pdf["cents"].iloc[i])
            q = day - prev_day
            z = a * y + (1 - a) * z
            p = float(q) if p is None else a * q + (1 - a) * p
            out["series"].append(int(pdf["series"].iloc[0]))
            out["day_idx"].append(day)
            out["cents"].append(y)
            out["size_r4"].append(math.floor(z / 100 * 10000 + 0.5) / 10000)
            out["interval_r4"].append(math.floor(p * 10000 + 0.5) / 10000)
            out["forecast_r4"].append(
                math.floor(z / p / 100 * 10000 + 0.5) / 10000
            )
            prev_day = day
        return pd.DataFrame(out)

    return demand.groupBy("series").applyInPandas(
        croston,
        schema=(
            "series long, day_idx long, cents long, size_r4 double,"
            " interval_r4 double, forecast_r4 double"
        ),
    )


# --- q_window_stl ------------------------------------------------------------

_STL_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY day_idx
), trend AS (
  SELECT day_idx, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS tr_sum,
         COUNT(*) OVER w AS tr_n
  FROM daily
  WINDOW w AS (ORDER BY day_idx ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detr AS (
  SELECT day_idx, cents, tr_sum, tr_n,
         day_idx % 7 AS dow,
         cents * tr_n - tr_sum AS resid_scaled
  FROM trend WHERE tr_n = 7
), seas AS (
  SELECT dow,
         CAST(SUM(resid_scaled) AS BIGINT) AS s_sum,
         CAST(COUNT(*) AS BIGINT) AS s_n
  FROM detr GROUP BY dow
)
SELECT d.dow,
       s.s_n AS n_days,
       FLOOR(CAST(s.s_sum AS DOUBLE) / s.s_n / 7 / 100 * 10000 + 0.5) / 10000
         AS seasonal_r4,
       CAST(SUM(CASE WHEN ABS(CAST(d.resid_scaled AS DOUBLE) / 7
                              - CAST(s.s_sum AS DOUBLE) / s.s_n / 7) > 100000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM detr d JOIN seas s USING (dow)
GROUP BY d.dow, s.s_n, s.s_sum
ORDER BY d.dow
"""


@register("q_window_stl", oracle=_STL_ORACLE)
def q_window_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of the daily revenue series: trend = centered
    7-day moving average, seasonal = mean detrended value per day-of-week,
    anomaly = |detrended − seasonal| beyond $1000 — trend/seasonal/residual
    split in two windowed passes, the decomposition every metrics stack
    runs before alerting on raw values (a Sunday dip is seasonality, not an
    incident).

    Parity engineering: the centered average is kept as the exact integer
    pair (sum, count) and the detrended value as the cross-multiplied
    integer cents·n − sum (no division until output), so seasonal means
    and the anomaly cut both evaluate from exact integers; edge days
    without a full 7-day window are excluded on both sides (tr_n = 7).

    Scale shape: one day-level aggregate collapses the fact table, then
    one ordered window and a 7-group rollup — the window runs over the
    tiny daily series (range-partitionable with frame overlap if it were
    not)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        (F.col("ts_us") / F.lit(86400000000)).cast("long").alias("day_idx")
    ).agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("cents"))
    w = Window.orderBy("day_idx").rowsBetween(-3, 3)
    trend = daily.select(
        "day_idx",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("tr_sum"),
        F.count(F.lit(1)).over(w).alias("tr_n"),
    )
    detr = trend.filter(F.col("tr_n") == 7).select(
        "day_idx",
        (F.col("day_idx") % 7).alias("dow"),
        (F.col("cents") * F.col("tr_n") - F.col("tr_sum")).alias("resid_scaled"),
    )
    seas = detr.groupBy("dow").agg(
        F.sum("resid_scaled").cast("bigint").alias("s_sum"),
        F.count(F.lit(1)).cast("bigint").alias("s_n"),
    )
    joined = detr.join(F.broadcast(seas), "dow")
    anom = (
        F.abs(
            F.col("resid_scaled").cast("double") / 7
            - F.col("s_sum").cast("double") / F.col("s_n") / 7
        )
        > 100000
    )
    return (
        joined.groupBy("dow", "s_n", "s_sum")
        .agg(
            F.sum(F.when(anom, 1).otherwise(0)).cast("bigint").alias("n_anomalies")
        )
        .select(
            "dow",
            F.col("s_n").alias("n_days"),
            F.expr(
                "FLOOR(CAST(s_sum AS DOUBLE) / s_n / 7 / 100 * 10000 + 0.5) / 10000"
            ).alias("seasonal_r4"),
            "n_anomalies",
        )
        .orderBy("dow")
    )


# --- q_events_survival -------------------------------------------------------

_SURV_ORACLE = f"""
WITH life AS (
  SELECT user_id,
         epoch_us(MIN(ts)) // 86400000000 AS d0,
         epoch_us(MAX(ts)) // 86400000000 AS d1
  FROM events GROUP BY user_id
), spans AS (
  SELECT user_id, CAST((d1 - d0) // 7 AS BIGINT) AS weeks FROM life
), at_risk AS (
  SELECT w.week,
         CAST(SUM(CASE WHEN s.weeks >= w.week THEN 1 ELSE 0 END) AS BIGINT) AS n_risk,
         CAST(SUM(CASE WHEN s.weeks = w.week THEN 1 ELSE 0 END) AS BIGINT) AS n_die
  FROM (SELECT unnest(range(0, 8)) AS week) w
  CROSS JOIN spans s
  GROUP BY w.week
), hazard AS (
  SELECT week, n_risk, n_die,
         FLOOR(LN(CAST(n_risk - n_die AS DOUBLE) / n_risk) * 1000000 + 0.5)
           AS lnsurv_micro
  FROM at_risk WHERE n_risk > n_die
)
SELECT week, n_risk, n_die,
       FLOOR(EXP(CAST(SUM(lnsurv_micro)
                      OVER (ORDER BY week ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / 1000000.0) * 10000 + 0.5) / 10000 AS survival_r4
FROM hazard
ORDER BY week
"""


@register("q_events_survival", oracle=_SURV_ORACLE)
def q_events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style survival curve over user lifetimes (weeks from
    first to last activity): for each week, the at-risk and churned counts
    and the cumulative survival probability S(w) = Π (1 − d_i/n_i) — the
    retention curve read every subscription/engagement review starts with,
    computed from event history alone.

    Parity engineering: the product becomes a SUM of micro-snapped
    ln(1 − d/n) terms inside one cumulative window, exp'd once at output —
    the module's standard libm-drift guard (each ln argument is a ratio of
    exact integers, each term snapped to 1e-6 BEFORE accumulation; weeks
    where everyone at risk churns — S hits exactly 0 — are excluded on
    both sides, the curve is reported up to extinction). The
    8-week grid is a literal sequence on both engines.

    Scale shape: one user-keyed aggregate collapses the fact table;
    the week grid fan-out is 8 rows per user folded immediately into an
    8-group aggregate (map-side combined); the cumulative window runs over
    8 rows."""
    ev = load(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        (F.min("ts_us") / F.lit(86400000000)).cast("long").alias("d0"),
        (F.max("ts_us") / F.lit(86400000000)).cast("long").alias("d1"),
    )
    spans = life.select(
        F.expr("CAST((d1 - d0) div 7 AS BIGINT)").alias("weeks")
    )
    grid = spans.select(
        "weeks", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("week")
    )
    at_risk = grid.groupBy("week").agg(
        F.sum(F.when(F.col("weeks") >= F.col("week"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_risk"),
        F.sum(F.when(F.col("weeks") == F.col("week"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_die"),
    )
    hazard = at_risk.filter(F.col("n_risk") > F.col("n_die")).select(
        "week",
        "n_risk",
        "n_die",
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("n_die")).cast("double") / F.col("n_risk")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("lnsurv_micro"),
    )
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    return hazard.select(
        "week",
        "n_risk",
        "n_die",
        (
            F.floor(
                F.exp(F.sum("lnsurv_micro").over(w).cast("double") / 1000000.0)
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("survival_r4"),
    ).orderBy("week")


# --- q_window_vwap -----------------------------------------------------------

_VWAP_ORACLE = """
WITH t AS (
  SELECT CAST(l_orderkey AS BIGINT) AS seq,
         CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT) AS day_idx,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
), cum AS (
  SELECT day_idx, seq,
         CAST(SUM(cents * q) OVER w AS BIGINT) AS cum_pq,
         CAST(SUM(q) OVER w AS BIGINT) AS cum_q,
         ROW_NUMBER() OVER (PARTITION BY day_idx ORDER BY seq DESC,
                            cum_rn DESC) AS rn_last
  FROM (SELECT day_idx, seq, cents, q,
               ROW_NUMBER() OVER (PARTITION BY day_idx ORDER BY seq) AS cum_rn
        FROM t) x
  WINDOW w AS (PARTITION BY day_idx ORDER BY seq, cum_rn
               ROWS UNBOUNDED PRECEDING)
)
SELECT day_idx, cum_q AS day_qty,
       FLOOR(CAST(cum_pq AS DOUBLE) / cum_q / 100 * 10000 + 0.5) / 10000
         AS vwap_r4
FROM cum
WHERE rn_last = 1
ORDER BY day_idx
"""


@register("q_window_vwap", oracle=_VWAP_ORACLE)
def q_window_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily VWAP (volume-weighted average price) over one ship month: the
    running Σ(price·qty)/Σ(qty) evaluated at each day's close — the
    execution-quality benchmark price, here as the end-of-day value per
    day (the intraday running curve is the same window without the last-row
    filter). Complements q_agg_weighted (global weighted mean) with the
    windowed running-ratio form.

    Parity engineering: price·qty products and both running sums are exact
    bigints partitioned per day and ordered by the deterministic
    (orderkey, within-day row) key; the single division and cents→dollar
    rescale happen once at output.

    Scale shape: one day-partitioned window over the pruned month, the
    day's last row selected by a companion reverse rank on the SAME
    Exchange; at 100 TB days partition naturally and the ordered scan per
    day is the textbook cumulative pattern."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp_ntz"))
    )
    t = li.select(
        F.col("l_orderkey").cast("bigint").alias("seq"),
        F.expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
        .cast("bigint")
        .alias("day_idx"),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w_rn = Window.partitionBy("day_idx").orderBy("seq")
    x = t.select(
        "day_idx", "seq", "cents", "q", F.row_number().over(w_rn).alias("cum_rn")
    )
    w_cum = (
        Window.partitionBy("day_idx")
        .orderBy("seq", "cum_rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_last = Window.partitionBy("day_idx").orderBy(
        F.desc("seq"), F.desc("cum_rn")
    )
    cum = x.select(
        "day_idx",
        F.sum(F.col("cents") * F.col("q")).over(w_cum).cast("bigint").alias("cum_pq"),
        F.sum("q").over(w_cum).cast("bigint").alias("cum_q"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    return (
        cum.filter(F.col("rn_last") == 1)
        .select(
            "day_idx",
            F.col("cum_q").alias("day_qty"),
            (
                F.floor(
                    F.col("cum_pq").cast("double") / F.col("cum_q") / 100 * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("vwap_r4"),
        )
        .orderBy("day_idx")
    )


# --- q_orders_repeat_rate ----------------------------------------------------

_REPEAT_ORACLE = """
WITH per_cust AS (
  SELECT c_mktsegment AS segment, o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                        MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS span_days
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY segment, o_custkey
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_buyers,
       CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       FLOOR(CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 100
                  AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
         AS repeat_pct_r4,
       CAST(SUM(CASE WHEN n_orders >= 2 THEN span_days ELSE 0 END) AS BIGINT)
         AS repeat_span_days,
       CAST(SUM(CASE WHEN n_orders >= 2 THEN n_orders - 1 ELSE 0 END) AS BIGINT)
         AS n_repeat_gaps
FROM per_cust
GROUP BY segment
ORDER BY segment
"""


@register("q_orders_repeat_rate", oracle=_REPEAT_ORACLE)
def q_orders_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase profile per market segment: buyer counts, the
    repeat-buyer share, and the aggregate active span vs gap count of
    repeat buyers (their ratio is the mean inter-order interval — the two
    integers are reported separately so the oracle stays division-free
    until the one snapped percentage) — the loyalty readout between
    one-off RFM scoring (q_events_rfm) and full cohort LTV (q_cohort_ltv).

    Plan: one (segment, customer) aggregate with integer first/last-day
    span, then the segment rollup — two map-side-combined shuffles, the
    customer dim broadcast onto orders.

    At 100 TB nothing grows past the per-customer aggregate."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    per_cust = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            )
            .cast("bigint")
            .alias("span_days"),
        )
    )
    rep = F.col("n_orders") >= 2
    return (
        per_cust.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buyers"),
            F.sum(F.when(rep, 1).otherwise(0)).cast("bigint").alias("n_repeat"),
            (
                F.floor(
                    (F.sum(F.when(rep, 1).otherwise(0)) * 100).cast("double")
                    / F.count(F.lit(1))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("repeat_pct_r4"),
            F.sum(F.when(rep, F.col("span_days")).otherwise(0))
            .cast("bigint")
            .alias("repeat_span_days"),
            F.sum(F.when(rep, F.col("n_orders") - 1).otherwise(0))
            .cast("bigint")
            .alias("n_repeat_gaps"),
        )
        .orderBy("segment")
    )


# --- q_events_error_budget ---------------------------------------------------

_SLO_BP = 9700  # SLO: 97.00% of events non-error (basis points)

_BUDGET_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_idx,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM events GROUP BY day_idx
), cum AS (
  SELECT day_idx, n_events, n_errors,
         CAST(SUM(n_events) OVER w AS BIGINT) AS cum_events,
         CAST(SUM(n_errors) OVER w AS BIGINT) AS cum_errors
  FROM daily
  WINDOW w AS (ORDER BY day_idx ROWS UNBOUNDED PRECEDING)
)
SELECT day_idx, n_events, n_errors,
       FLOOR(CAST(n_errors * 100 AS DOUBLE) / n_events * 10000 + 0.5) / 10000
         AS day_error_pct_r4,
       CAST(cum_events * (10000 - {_SLO_BP}) - cum_errors * 10000 AS BIGINT)
         AS budget_scaled,
       CASE WHEN cum_errors * 10000 > cum_events * (10000 - {_SLO_BP})
            THEN 1 ELSE 0 END AS budget_exhausted
FROM cum
ORDER BY day_idx
"""


@register("q_events_error_budget", oracle=_BUDGET_ORACLE)
def q_events_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn-down: daily error rate plus the CUMULATIVE
    budget position against a 97% non-error SLO — the SRE accounting that
    turns "errors happened" into "how much failure allowance remains
    before the SLO is breached" (and the exhausted flag is the
    freeze-deploys signal).

    Parity engineering: the budget is held as the scaled INTEGER
    cum_events·(10000−SLO_bp) − cum_errors·10⁴ (positive = budget left) —
    the breach comparison never touches a float; only the display rate is
    divided and snapped.

    Scale shape: one day aggregate (map-side combined) and one 8-hundred-
    row cumulative window; the fact table is read once."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("CAST(ts_us div 86400000000 AS BIGINT)").alias("day_idx")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day_idx",
        "n_events",
        "n_errors",
        F.sum("n_events").over(w).cast("bigint").alias("cum_events"),
        F.sum("n_errors").over(w).cast("bigint").alias("cum_errors"),
    )
    slack_bp = 10000 - _SLO_BP
    return cum.select(
        "day_idx",
        "n_events",
        "n_errors",
        (
            F.floor(
                (F.col("n_errors") * 100).cast("double")
                / F.col("n_events")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("day_error_pct_r4"),
        (F.col("cum_events") * slack_bp - F.col("cum_errors") * 10000)
        .cast("bigint")
        .alias("budget_scaled"),
        F.when(
            F.col("cum_errors") * 10000 > F.col("cum_events") * slack_bp, 1
        )
        .otherwise(0)
        .alias("budget_exhausted"),
    ).orderBy("day_idx")


# --- q_window_interval_merge -------------------------------------------------

_IM_DAY_US = 86_400_000_000

_INTERVAL_MERGE_ORACLE = """
WITH iv AS (
  SELECT o_custkey AS c,
         epoch_us(o_orderdate) // 86400000000 AS s,
         epoch_us(o_orderdate) // 86400000000 + 30 AS e
  FROM orders
), marked AS (
  SELECT c, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY c ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -9223372036854775808)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), grp AS (
  SELECT c, s, e,
         CAST(SUM(new_island) OVER (PARTITION BY c ORDER BY s, e
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
  FROM marked
), merged AS (
  SELECT c, island, MIN(s) AS m_start, MAX(e) AS m_end
  FROM grp GROUP BY c, island
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(COUNT(DISTINCT c) AS BIGINT) AS n_customers,
       CAST(SUM(m_end - m_start) AS BIGINT) AS covered_days,
       CAST(MAX(m_end - m_start) AS BIGINT) AS longest_days
FROM merged
"""


@register("q_window_interval_merge", oracle=_INTERVAL_MERGE_ORACLE)
def q_window_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (merge overlapping spans): each order opens a 30-day
    activity window per customer; overlapping windows merge into coverage
    islands and the result reports island count and total covered days —
    the gaps-and-islands MERGE (union length) that complements
    q_intervals_active's concurrency counting: "how long was the customer
    covered at all", the dedup rule for entitlement/subscription overlap.

    Parity engineering: the island boundary is the textbook running
    MAX(end) over all PRECEDING intervals (ties ordered (s, e) on both
    engines; the empty frame coalesces to LONG_MIN so the first interval
    opens island 1), the island id a running sum of boundary flags —
    all exact integer day arithmetic.

    Scale shape: one customer-partitioned ordered window + one island
    aggregate on the same partitioning; intervals never cross-join."""
    orders = load(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_custkey").alias("c"),
        F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_IM_DAY_US}")
        .alias("s"),
    ).select("c", "s", (F.col("s") + 30).alias("e"))
    w_prev = (
        Window.partitionBy("c")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "c",
        "s",
        "e",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(w_prev), F.lit(-(2**63))),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("c")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = marked.select(
        "c",
        "s",
        "e",
        F.sum("new_island").over(w_run).cast("bigint").alias("island"),
    )
    merged = grp.groupBy("c", "island").agg(
        F.min("s").alias("m_start"), F.max("e").alias("m_end")
    )
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.count_distinct("c").cast("bigint").alias("n_customers"),
        F.sum(F.col("m_end") - F.col("m_start")).cast("bigint").alias("covered_days"),
        F.max(F.col("m_end") - F.col("m_start")).cast("bigint").alias("longest_days"),
    )


# --- q_window_peaks ----------------------------------------------------------

_PEAK_MIN_CENTS = 100_000  # a peak must exceed both neighbors by $1000

_PEAKS_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY day_idx
), nb AS (
  SELECT day_idx, cents,
         LAG(cents)  OVER (ORDER BY day_idx) AS prev_c,
         LEAD(cents) OVER (ORDER BY day_idx) AS next_c
  FROM daily
)
SELECT day_idx, cents, prev_c, next_c
FROM nb
WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
  AND cents >= prev_c + {_PEAK_MIN_CENTS}
  AND cents >= next_c + {_PEAK_MIN_CENTS}
ORDER BY day_idx
"""


@register("q_window_peaks", oracle=_PEAKS_ORACLE)
def q_window_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prominence-thresholded peak detection on the daily revenue series: a
    day is a peak when it exceeds BOTH neighbors by at least $1000 — the
    local-extremum screen behind spike alerting and campaign-attribution
    ("which days stick out of their immediate neighborhood", robust to the
    level shifts that break global thresholds). Endpoints are excluded
    (no two-sided neighborhood).

    Parity engineering: exact integer day cents, one lag + one lead on the
    same ordered window, integer comparisons only.

    Scale shape: the fact collapses to the daily series first; the
    neighbor window is one sort of that tiny series (coarse-time
    partitioning with 1-row frame overlap at scale)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        F.expr("CAST(ts_us div 86400000000 AS BIGINT)").alias("day_idx")
    ).agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("cents"))
    w = Window.orderBy("day_idx")
    nb = daily.select(
        "day_idx",
        "cents",
        F.lag("cents").over(w).alias("prev_c"),
        F.lead("cents").over(w).alias("next_c"),
    )
    return (
        nb.filter(
            F.col("prev_c").isNotNull()
            & F.col("next_c").isNotNull()
            & (F.col("cents") >= F.col("prev_c") + _PEAK_MIN_CENTS)
            & (F.col("cents") >= F.col("next_c") + _PEAK_MIN_CENTS)
        )
        .orderBy("day_idx")
    )


# --- q_window_kalman (1-D Kalman filter per series) --------------------------

_KAL_Q = 0.25  # process variance (exactly representable)
_KAL_R = 4.0   # observation variance
_KAL_MOD = 3   # user-cohort series key (same sharding as q_window_holt)

_KALMAN_ORACLE = f"""
WITH d0 AS (
  SELECT user_id % {_KAL_MOD} AS series,
         epoch_us(ts) // 86400000000 AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY series, day_idx
), daily AS (
  SELECT ROW_NUMBER() OVER (PARTITION BY series ORDER BY day_idx) AS rn,
         series, day_idx, cents
  FROM d0
), hw AS (
  WITH RECURSIVE rec(series, rn, day_idx, cents, x, p) AS (
    SELECT series, rn, day_idx, cents, CAST(cents AS DOUBLE), CAST(1 AS DOUBLE)
    FROM daily WHERE rn = 1
    UNION ALL
    SELECT d.series, d.rn, d.day_idx, d.cents,
           rec.x + (rec.p + {_KAL_Q}) / ((rec.p + {_KAL_Q}) + {_KAL_R})
                   * (d.cents - rec.x),
           (1 - (rec.p + {_KAL_Q}) / ((rec.p + {_KAL_Q}) + {_KAL_R}))
             * (rec.p + {_KAL_Q})
    FROM rec JOIN daily d ON d.series = rec.series AND d.rn = rec.rn + 1
  )
  SELECT * FROM rec
)
SELECT series, day_idx, cents,
       FLOOR(x / 100 * 10000 + 0.5) / 10000 AS level_r4,
       FLOOR(p * 10000 + 0.5) / 10000 AS var_r4
FROM hw
ORDER BY series, day_idx
"""


@register("q_window_kalman", oracle=_KALMAN_ORACLE)
def q_window_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D KALMAN FILTER (random-walk state, noisy observation) over the
    daily purchase-revenue series per user cohort — the optimal-gain
    cousin of Holt smoothing (q_window_holt) and the third member of the
    sequential-state family (with q_stream_throttle): each day's
    posterior (level x, variance p) feeds the next day's gain
    K = (p+Q)/((p+Q)+R), so no window frame can express it. Filtered
    level and posterior variance are reported per day — the variance
    column is what Holt can't give: a calibrated uncertainty that
    downstream anomaly gates threshold against.

    Spark shape: ``applyInPandas`` per cohort series, the state loop in
    Arrow-batched Python within each series, Spark parallelizing across
    series (at 100 TB: one group per entity, or user-bucketed groups as
    in q_stream_throttle). The oracle replays the IDENTICAL recursion as
    a recursive CTE — both engines evaluate the same IEEE expression
    tree (Q=0.25, R=4 exactly representable; one division per step), so
    the trajectories match bit-for-bit before the r4 snap, variance
    included.
    """
    import pandas as pd

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        (F.col("user_id") % _KAL_MOD).alias("series"),
        (F.col("ts_us") / F.lit(86400000000)).cast("long").alias("day_idx"),
    ).agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("cents"))

    def kalman(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("day_idx").reset_index(drop=True)
        xs, ps = [], []
        x = float(pdf["cents"].iloc[0])
        p = 1.0
        xs.append(x)
        ps.append(p)
        for y in pdf["cents"].iloc[1:]:
            p_pred = p + _KAL_Q
            k = p_pred / (p_pred + _KAL_R)
            x = x + k * (y - x)
            p = (1 - k) * p_pred
            xs.append(x)
            ps.append(p)
        return pd.DataFrame(
            {
                "series": pdf["series"],
                "day_idx": pdf["day_idx"],
                "cents": pdf["cents"],
                "level_r4": [math.floor(v / 100 * 10000 + 0.5) / 10000 for v in xs],
                "var_r4": [math.floor(v * 10000 + 0.5) / 10000 for v in ps],
            }
        )

    return (
        daily.groupBy("series")
        .applyInPandas(
            kalman,
            schema="series long, day_idx long, cents long, "
            "level_r4 double, var_r4 double",
        )
        .orderBy("series", "day_idx")
    )


# --- q_events_bot_screen (machine-periodicity detection) ---------------------

_BOT_MIN_EVENTS = 20      # screen only users with enough arrivals
_BOT_CV2_BP = 1000        # flag CV² of inter-arrival < 0.10 (basis points)

_BOT_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS rn
  FROM events
), gaps AS (
  SELECT e.user_id, (e.us - p.us) // 60000000 AS gap
  FROM e JOIN e p ON p.user_id = e.user_id AND p.rn = e.rn - 1
), stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap) AS BIGINT) AS s1,
         CAST(SUM(gap * gap) AS BIGINT) AS s2
  FROM gaps GROUP BY user_id
), screened AS (
  SELECT user_id, n_gaps,
         CASE WHEN (CAST(n_gaps AS HUGEINT) * s2
                    - CAST(s1 AS HUGEINT) * s1) * 10000
                   < {_BOT_CV2_BP} * CAST(s1 AS HUGEINT) * s1
              THEN 1 ELSE 0 END AS is_bot
  FROM stats WHERE n_gaps >= {_BOT_MIN_EVENTS}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_screened,
       CAST(SUM(is_bot) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN is_bot = 1 THEN n_gaps ELSE 0 END) AS BIGINT)
         AS flagged_events
FROM screened
"""


@register("q_events_bot_screen", oracle=_BOT_ORACLE)
def q_events_bot_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOT / AUTOMATION screen by inter-arrival REGULARITY: humans are
    bursty (inter-arrival CV² ≈ 1 for Poisson-ish behavior, higher with
    sessions), schedulers are metronomes — a user whose inter-arrival
    coefficient of variation squared falls below 0.10 is flagged. The
    periodicity axis complements q_events_velocity (rate ceiling): a slow
    but perfectly regular probe passes every rate limit and fails this.

    Parity & shape: gaps from one LAG-equivalent self-join on the
    arrival rank (ties broken by event_id on both engines); CV² =
    (n·Σg² − (Σg)²)/(Σg)² is evaluated as ONE integer cross-multiplied
    predicate — exact bigint sums, 128-bit exact products (decimal(38,0)
    / HUGEINT), no division, no float anywhere. One
    window + two hash aggregates; the per-user gap state is the
    q_events_interarrival machinery pointed at abuse detection.
    """
    ev = load(spark, sf_dir, "events")
    # Gaps quantized to whole MINUTES: the regularity verdict is unchanged
    # (scheduler periods are minutes-scale) and every moment stays in exact
    # bigint range — raw-µs squares overflow int64 (gap² ~ 1e22), and both
    # engines would (correctly) throw on it under ANSI semantics.
    gaps = (
        ev.select(
            "user_id",
            F.expr("(ts_us - lag(ts_us) OVER (PARTITION BY user_id "
                   "ORDER BY ts_us, event_id)) div 60000000").alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap").cast("bigint").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("s2"),
    )
    # The cross-multiplied predicate runs in 128-bit exact integers on both
    # engines (Spark decimal(38,0) compact-Int128 path, DuckDB HUGEINT):
    # minute quantization alone is NOT enough at the tails — a multi-year
    # span with ~1e5 events puts n·s2·10⁴ past int64 (9.2e18), and ANSI
    # would throw. 38 digits covers n·max_gap²·10⁴ to ~1e9 events/user over
    # a century; no realistic stream overflows it.
    d38 = lambda c: F.col(c).cast("decimal(38,0)")
    screened = stats.filter(F.col("n_gaps") >= _BOT_MIN_EVENTS).select(
        "n_gaps",
        (
            (d38("n_gaps") * d38("s2") - d38("s1") * d38("s1")) * 10000
            < _BOT_CV2_BP * d38("s1") * d38("s1")
        )
        .cast("int")
        .alias("is_bot"),
    )
    return screened.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_screened"),
        F.sum("is_bot").cast("bigint").alias("n_flagged"),
        F.sum(F.when(F.col("is_bot") == 1, F.col("n_gaps")).otherwise(0))
        .cast("bigint")
        .alias("flagged_events"),
    )


# --- q_events_markov --------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
), trans AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
         AS p_micro
FROM trans
"""


@register("q_events_markov", oracle=_MARKOV_ORACLE)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for every (from_type, to_type) pair, the transition count and the
    row-normalized probability in exact integer MICRO units
    ((n * 1e6) div row_total — Spark ``div`` truncates toward zero and
    DuckDB ``//`` floors, identical on these positive operands). The
    transition matrix is the sufficient statistic for next-event
    prediction, session simulation, and funnel-shortcut detection.

    Ordering is (ts_us, event_id) within user — the event_id tie-break
    makes LEAD deterministic under same-timestamp bursts (the oracle
    orders by raw ts, which maps 1:1 to ts_us).

    Scale shape: one window shuffle keyed by user_id (sequences stay
    whole-user local), then a hash aggregate on the tiny (from, to) key
    space and a broadcast-size row-marginal window. No joins, no skew —
    user_id is uniform and the transition key space is |types|^2.
    """
    ev = load(spark, sf_dir, "events")
    nxt = F.lead("event_type").over(
        Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    )
    trans = (
        ev.select(F.col("event_type").alias("from_type"), nxt.alias("to_type"))
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_total = F.sum("n").over(Window.partitionBy("from_type"))
    return trans.withColumn("row_total", row_total).select(
        "from_type",
        "to_type",
        "n",
        F.expr("(n * 1000000) div row_total").alias("p_micro"),
    )


# --- q_events_seq_pairs -----------------------------------------------------

_SEQ_PAIRS_ORACLE = """
WITH per_user AS (
  SELECT user_id, event_type,
         MIN(epoch_us(ts)) AS first_us,
         MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY user_id, event_type
), users AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events
)
SELECT a.event_type AS type_a,
       b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_users_ab,
       CAST((COUNT(*) * 1000000) // MAX(u.n_users) AS BIGINT) AS support_micro
FROM per_user a
JOIN per_user b
  ON a.user_id = b.user_id
 AND a.event_type <> b.event_type
 AND a.first_us < b.last_us
CROSS JOIN users u
GROUP BY a.event_type, b.event_type
"""


@register("q_events_seq_pairs", oracle=_SEQ_PAIRS_ORACLE)
def q_events_seq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support for ordered event-type pairs: how many
    users perform type A at some point BEFORE type B (first A strictly
    before last B) — the 2-item sequence-mining support count behind
    "viewed then purchased"-style product analytics. Complements
    q_events_markov (ADJACENT transitions) with the order-anywhere
    pattern, and q_events_funnel (one fixed path) with all |types|²
    ordered pairs at once. Support is exact integer micro-share of the
    user base.

    Scale shape: the raw stream collapses to the per-(user, type)
    first/last summary — ONE hash aggregate, |users|x|types| rows — and
    the pair join is a self-join on user_id with |types|² bounded fan-out
    per user, never an event-level self-join. The user count is a
    broadcast 1-row aggregate inside the plan.
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.min("ts_us").alias("first_us"), F.max("ts_us").alias("last_us")
    )
    users = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    a = per_user.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("first_us").alias("a_first"),
    )
    b = per_user.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("last_us").alias("b_last"),
    )
    return (
        a.join(b, "user_id")
        .filter(
            (F.col("type_a") != F.col("type_b"))
            & (F.col("a_first") < F.col("b_last"))
        )
        .crossJoin(F.broadcast(users))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users_ab"),
            F.expr(
                "cast((count(1) * 1000000) div max(n_users) as bigint)"
            ).alias("support_micro"),
        )
    )


# --- q_orders_backlog -------------------------------------------------------

_BACKLOG_ORACLE = """
WITH bounds AS (
  SELECT o.o_orderkey,
         CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_open,
         CAST(MAX(CAST(l.l_shipdate AS DATE)) - DATE '1970-01-01' AS BIGINT)
           AS day_close
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
), deltas AS (
  SELECT day_open AS day, CAST(1 AS BIGINT) AS delta FROM bounds
  UNION ALL
  SELECT day_close + 1 AS day, CAST(-1 AS BIGINT) AS delta FROM bounds
), daily AS (
  SELECT day, SUM(delta) AS d FROM deltas GROUP BY day
), curve AS (
  SELECT day, CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS backlog
  FROM daily
)
SELECT day // 30 AS period,
       MAX(backlog) AS max_backlog,
       MIN(backlog) AS min_backlog,
       CAST(COUNT(*) AS BIGINT) AS n_change_days
FROM curve GROUP BY period
"""


@register("q_orders_backlog", oracle=_BACKLOG_ORACLE)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time — how many orders are placed but not
    yet fully shipped on each day — the operations/supply-chain WIP curve,
    summarized per 30-day period (max/min backlog + change-day count).
    Built with the ±1-delta encoding (open day +1, day after last ship
    −1): O(1) rows per order regardless of how long it stays open, never
    an order×day explode.

    Exactness: day indices are exact DATE−epoch integers, the curve is an
    integer prefix sum, and the period key is integer division on
    non-negative days (Spark ``div`` == DuckDB ``//`` there).

    Scale shape: one (order, max shipdate) aggregate keyed by orderkey,
    one hash aggregate on day, then a running sum over the DAY-granular
    relation — calendar-bounded (~thousands of rows no matter the data
    size), so the single-partition window is a non-issue; the final
    rollup is on the tiny period key.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    bounds = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("max_ship"))
        .select(
            F.unix_date(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("day_open"),
            (F.unix_date(F.col("max_ship")) + 1).cast("bigint").alias("day_after"),
        )
        # consumed by BOTH delta branches — materialize the join+agg once
        .localCheckpoint(eager=False)
    )
    deltas = bounds.select(
        F.col("day_open").alias("day"), F.lit(1).cast("bigint").alias("delta")
    ).unionAll(
        bounds.select(
            F.col("day_after").alias("day"), F.lit(-1).cast("bigint").alias("delta")
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    curve = daily.withColumn(
        "backlog",
        F.sum("d")
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint"),
    )
    return curve.groupBy(F.expr("day div 30").alias("period")).agg(
        F.max("backlog").alias("max_backlog"),
        F.min("backlog").alias("min_backlog"),
        F.count(F.lit(1)).cast("bigint").alias("n_change_days"),
    )


# --- q_time_lttb ------------------------------------------------------------

_LTTB_ORACLE = """
WITH pts AS (
  SELECT event_type, event_id,
         epoch_us(ts) AS tus,
         epoch_us(ts) // 1000000 AS xs,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS ym,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY epoch_us(ts), event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), bucketed AS (
  SELECT *, ((rn - 1) * 12) // n AS bucket FROM pts
), bstats AS (
  SELECT event_type, bucket,
         SUM(xs) // COUNT(*) AS ax,
         SUM(ym) // COUNT(*) AS ay
  FROM bucketed GROUP BY event_type, bucket
), scored AS (
  SELECT b.event_type, b.bucket, b.xs, b.ym, b.rn,
         abs((p.ax - x.ax) * (b.ym - p.ay) - (p.ax - b.xs) * (x.ay - p.ay))
           AS area2
  FROM bucketed b
  JOIN bstats p ON p.event_type = b.event_type AND p.bucket = b.bucket - 1
  JOIN bstats x ON x.event_type = b.event_type AND x.bucket = b.bucket + 1
  WHERE b.bucket BETWEEN 1 AND 10
), picked AS (
  SELECT event_type, bucket, xs, ym, CAST(area2 AS BIGINT) AS area2
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                 ORDER BY area2 DESC, rn) AS pick
    FROM scored
  ) WHERE pick = 1
), ends AS (
  SELECT event_type, bucket, xs, ym, CAST(0 AS BIGINT) AS area2
  FROM bucketed WHERE rn = 1 OR rn = n
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket, xs, ym, area2
FROM picked
UNION ALL
SELECT event_type, CAST(bucket AS BIGINT) AS bucket, xs, ym, area2
FROM ends
"""


@register("q_time_lttb", oracle=_LTTB_ORACLE)
def q_time_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (fixed-anchor variant)
    of each event_type's value series into 12 points: endpoints are kept,
    and every interior bucket keeps the point forming the LARGEST triangle
    against the neighboring buckets' centroids — the standard
    visualization/telemetry downsampler, in its non-recursive form (anchors
    are bucket averages, not the previously selected point, so the whole
    selection is one declarative plan instead of a sequential scan —
    the variant's quality is near-identical and it parallelizes).

    Exactness: x is quantized to whole epoch seconds and y to 1e-4 units,
    centroids use integer floor division, and the doubled triangle area is
    exact int64 cross-multiplication (|Δx| ≤ series span in seconds, |Δy|
    ≤ 5e6 units — products ≤ ~1e13); ties break by position. Bit-exact
    oracle, no float anywhere.

    Scale shape: one window shuffle keyed by event_type assigns ranks and
    buckets, the centroid table is buckets-sized (series x 12), and the
    per-bucket argmax is a window over the same partitioning. Per-series
    work is independent — 1M series downsample in parallel with ONE
    partitioning end to end.
    """
    ev = load(spark, sf_dir, "events")
    wse = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    wsz = Window.partitionBy("event_type")
    pts = (
        ev.select(
            "event_type",
            "event_id",
            "ts_us",
            F.expr("ts_us div 1000000").alias("xs"),
            F.floor(F.col("value") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("ym"),
        )
        .withColumn("rn", F.row_number().over(wse))
        .withColumn("n", F.count(F.lit(1)).over(wsz))
        .withColumn("bucket", F.expr("((rn - 1) * 12) div n"))
        .localCheckpoint(eager=False)
    )
    bstats = (
        pts.groupBy("event_type", "bucket")
        .agg(
            F.expr("sum(xs) div count(1)").alias("ax"),
            F.expr("sum(ym) div count(1)").alias("ay"),
        )
        .localCheckpoint(eager=False)
    )
    prev = bstats.select(
        "event_type",
        (F.col("bucket") + 1).alias("bucket"),
        F.col("ax").alias("axp"),
        F.col("ay").alias("ayp"),
    )
    nxt = bstats.select(
        "event_type",
        (F.col("bucket") - 1).alias("bucket"),
        F.col("ax").alias("axn"),
        F.col("ay").alias("ayn"),
    )
    scored = (
        pts.filter(F.col("bucket").between(1, 10))
        .join(prev, ["event_type", "bucket"])
        .join(nxt, ["event_type", "bucket"])
        .withColumn(
            "area2",
            F.abs(
                (F.col("axp") - F.col("axn")) * (F.col("ym") - F.col("ayp"))
                - (F.col("axp") - F.col("xs")) * (F.col("ayn") - F.col("ayp"))
            ).cast("bigint"),
        )
    )
    wpick = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("area2").desc(), "rn"
    )
    picked = (
        scored.withColumn("pick", F.row_number().over(wpick))
        .filter(F.col("pick") == 1)
        .select(
            "event_type", F.col("bucket").cast("bigint").alias("bucket"),
            "xs", "ym", "area2",
        )
    )
    ends = pts.filter((F.col("rn") == 1) | (F.col("rn") == F.col("n"))).select(
        "event_type",
        F.col("bucket").cast("bigint").alias("bucket"),
        "xs",
        "ym",
        F.lit(0).cast("bigint").alias("area2"),
    )
    return picked.unionAll(ends)


# --- q_events_circadian -----------------------------------------------------

_CIRCADIAN_ORACLE = """
WITH ang AS (
  SELECT event_type,
         (CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000)
           * 6.283185307179586 AS theta
  FROM events
), terms AS (
  SELECT event_type,
         FLOOR(SIN(theta) * 10000 + 0.5) / 10000 AS s,
         FLOOR(COS(theta) * 10000 + 0.5) / 10000 AS c
  FROM ang
), sums AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(s AS DECIMAL(18,7))) AS DOUBLE) AS ss,
         CAST(SUM(CAST(c AS DECIMAL(18,7))) AS DOUBLE) AS sc
  FROM terms GROUP BY event_type
)
SELECT event_type, n,
       FLOOR(SQRT(ss * ss + sc * sc) / n * 10000 + 0.5) / 10000
         AS resultant_r,
       FLOOR(ATAN2(ss, sc) * 10000 + 0.5) / 10000 AS mean_angle_r
FROM sums
"""


@register("q_events_circadian", oracle=_CIRCADIAN_ORACLE)
def q_events_circadian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics of event time-of-day per
    event_type: the resultant length R (0 = uniform around the clock,
    1 = perfectly synchronized) and the mean angle — the von-Mises-style
    diurnal profile that bot detection and send-time optimization use,
    where a plain mean of hours is wrong (23:00 and 01:00 average to
    midnight, not noon).

    Parity: the hour angle is exact integer µs-mod mapped through one
    double division and a shared 2π literal; each sin/cos is snapped to 4
    decimals before the exact-decimal sum (libm last-ulp differences are
    measure-zero at the boundary), and the final sqrt/atan2 runs on
    identical doubles, r4-rounded on output.

    Scale shape: pure per-row projection + one hash aggregate keyed by
    event_type. No windows, no joins.
    """
    ev = load(spark, sf_dir, "events")
    theta = (
        (F.col("ts_us") % 86400000000).cast("double") / 86400000000
    ) * 6.283185307179586
    terms = ev.select(
        "event_type",
        (F.floor(F.sin(theta) * 10000 + F.lit(0.5)) / 10000).alias("s"),
        (F.floor(F.cos(theta) * 10000 + F.lit(0.5)) / 10000).alias("c"),
    )
    sums = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("s").cast(DEC)).cast("double").alias("ss"),
        F.sum(F.col("c").cast(DEC)).cast("double").alias("sc"),
    )
    return sums.select(
        "event_type",
        "n",
        (
            F.floor(
                F.sqrt(F.col("ss") * F.col("ss") + F.col("sc") * F.col("sc"))
                / F.col("n")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("resultant_r"),
        (
            F.floor(F.atan2(F.col("ss"), F.col("sc")) * 10000 + F.lit(0.5)) / 10000
        ).alias("mean_angle_r"),
    )


# --- q_orders_littles_law ---------------------------------------------------

_LITTLE_ORACLE = """
WITH bounds AS (
  SELECT o.o_orderkey,
         CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_open,
         CAST(MAX(CAST(l.l_shipdate AS DATE)) - DATE '1970-01-01' AS BIGINT)
           AS day_close
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
), per_order AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(day_close - day_open + 1) AS BIGINT) AS order_days_direct
  FROM bounds
), deltas AS (
  SELECT day_open AS day, CAST(1 AS BIGINT) AS delta FROM bounds
  UNION ALL
  SELECT day_close + 1 AS day, CAST(-1 AS BIGINT) AS delta FROM bounds
), daily AS (
  SELECT day, SUM(delta) AS d FROM deltas GROUP BY day
), curve AS (
  SELECT day,
         CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS backlog,
         CAST(LEAD(day) OVER (ORDER BY day) - day AS BIGINT) AS span
  FROM daily
), integrated AS (
  SELECT CAST(SUM(backlog * span) AS BIGINT) AS order_days_curve
  FROM curve WHERE span IS NOT NULL
)
SELECT p.n_orders,
       p.order_days_direct,
       i.order_days_curve,
       CAST(p.order_days_direct = i.order_days_curve AS INTEGER)
         AS conservation_holds,
       CAST((p.order_days_direct * 1000) // p.n_orders AS BIGINT)
         AS avg_open_days_milli
FROM per_order p CROSS JOIN integrated i
"""


@register("q_orders_littles_law", oracle=_LITTLE_ORACLE)
def q_orders_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law conservation certificate: the area under the backlog
    curve (Σ backlog·days, the time-integral L̄·T) must EXACTLY equal the
    per-order open-duration sum (Σ W_i = λ̄·T·W̄) — the L = λW identity in
    its exact finite-horizon form. This cross-validates the ±1-delta
    encoding of q_orders_backlog against the direct per-order computation:
    any off-by-one in the delta endpoints, a lost day in the prefix sum,
    or a dropped order breaks INTEGER EQUALITY, not an approximate bound
    — the `conservation_holds` column is pinned to 1 by the oracle.

    Exactness: all integer (DATE−epoch days, counts, an integer-milli
    average). The curve integral weights each backlog level by the span to
    the next change day (LEAD), so the sparse day-granular relation
    integrates exactly without day-level enumeration.

    Scale shape: identical to q_orders_backlog (one orderkey aggregate,
    one day aggregate, one calendar-bounded running sum) plus a second
    1-row reduction per branch. The two branches share the bounds subtree
    via one lazy checkpoint.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    bounds = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("max_ship"))
        .select(
            F.unix_date(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("day_open"),
            F.unix_date(F.col("max_ship")).cast("bigint").alias("day_close"),
        )
        .localCheckpoint(eager=False)
    )
    per_order = bounds.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("day_close") - F.col("day_open") + 1)
        .cast("bigint")
        .alias("order_days_direct"),
    )
    deltas = bounds.select(
        F.col("day_open").alias("day"), F.lit(1).cast("bigint").alias("delta")
    ).unionAll(
        bounds.select(
            (F.col("day_close") + 1).alias("day"),
            F.lit(-1).cast("bigint").alias("delta"),
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    wday = Window.orderBy("day")
    curve = daily.select(
        "day",
        F.sum("d")
        .over(wday.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("backlog"),
        (F.lead("day").over(wday) - F.col("day")).cast("bigint").alias("span"),
    )
    integrated = curve.filter(F.col("span").isNotNull()).agg(
        F.sum(F.col("backlog") * F.col("span"))
        .cast("bigint")
        .alias("order_days_curve")
    )
    return (
        per_order.crossJoin(F.broadcast(integrated)).select(
            "n_orders",
            "order_days_direct",
            "order_days_curve",
            (F.col("order_days_direct") == F.col("order_days_curve"))
            .cast("int")
            .alias("conservation_holds"),
            F.expr(
                "cast((order_days_direct * 1000) div n_orders as bigint)"
            ).alias("avg_open_days_milli"),
        )
    )


# --- q_window_theil_sen -----------------------------------------------------

_THEILSEN_ORACLE = """
WITH monthly AS (
  SELECT p.p_brand AS brand,
         YEAR(l.l_shipdate) * 12 + MONTH(l.l_shipdate) AS m,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY brand, m
), slopes AS (
  SELECT a.brand,
         FLOOR(CAST(b.rev_cents - a.rev_cents AS DOUBLE)
               / (b.m - a.m) / 100 * 10000 + 0.5) / 10000 AS slope_r
  FROM monthly a JOIN monthly b
    ON b.brand = a.brand AND b.m > a.m
), ranked AS (
  SELECT brand, slope_r,
         ROW_NUMBER() OVER (PARTITION BY brand ORDER BY slope_r) AS rn,
         COUNT(*) OVER (PARTITION BY brand) AS n_pairs
  FROM slopes
), med AS (
  SELECT brand, CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
         FLOOR(AVG(slope_r) * 10000 + 0.5) / 10000 AS ts_slope_r
  FROM ranked
  WHERE rn IN ((n_pairs + 1) // 2, (n_pairs + 2) // 2)
  GROUP BY brand
)
SELECT m.brand, c.n_months, m.n_pairs, m.ts_slope_r
FROM med m JOIN (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly GROUP BY brand
) c ON c.brand = m.brand
"""


@register("q_window_theil_sen", oracle=_THEILSEN_ORACLE)
def q_window_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per brand: the MEDIAN of all pairwise slopes
    of the monthly-revenue series — the estimator that shrugs off the
    outlier months that wreck q_window_slope's OLS fit (breakdown point
    29.3% vs 0%). The robust/parametric pair is the standard trend-audit
    toolkit for revenue series.

    Exactness: monthly revenue is exact integer cents; each pairwise slope
    divides two exact integers in IEEE double (identical on both engines)
    and is snapped to 4 decimals BEFORE the median, so the median selects
    among identical doubles; the median of an even count averages two
    snapped values and re-snaps.

    Scale shape: the O(T²) pair join is per-series and T is bounded by the
    CALENDAR (~84 months), not the data — so pair fan-out is a constant
    ≤3.5k rows per brand no matter how many lineitems feed a month. One
    brand-keyed shuffle for the monthly rollup (map-side partials absorb
    the volume), one brand-keyed self-join, one window median.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    monthly = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m"),
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .cast("bigint")
            .alias("rev_cents")
        )
        .localCheckpoint(eager=False)
    )
    a = monthly.select(
        F.col("brand"), F.col("m").alias("m1"), F.col("rev_cents").alias("r1")
    )
    b = monthly.select(
        F.col("brand").alias("brand_b"),
        F.col("m").alias("m2"),
        F.col("rev_cents").alias("r2"),
    )
    # monthly is calendar-bounded (brands x months ~ 2.1k rows at ANY scale):
    # broadcast both consumers so the only shuffle left is the median window.
    slopes = (
        a.join(F.broadcast(b),
               (F.col("brand_b") == F.col("brand")) & (F.col("m2") > F.col("m1")))
        .select(
            "brand",
            (
                F.floor(
                    (F.col("r2") - F.col("r1")).cast("double")
                    / (F.col("m2") - F.col("m1"))
                    / 100
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("slope_r"),
        )
    )
    wrank = Window.partitionBy("brand").orderBy("slope_r")
    wcnt = Window.partitionBy("brand")
    ranked = slopes.select(
        "brand",
        "slope_r",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("n_pairs"),
    )
    med = (
        ranked.filter(
            F.expr("rn = (n_pairs + 1) div 2 OR rn = (n_pairs + 2) div 2")
        )
        .groupBy("brand")
        .agg(
            F.max("n_pairs").cast("bigint").alias("n_pairs"),
            (F.floor(F.avg("slope_r") * 10000 + F.lit(0.5)) / 10000).alias(
                "ts_slope_r"
            ),
        )
    )
    n_months = monthly.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months")
    )
    return med.join(F.broadcast(n_months), "brand").select(
        "brand", "n_months", "n_pairs", "ts_slope_r"
    )


# --- q_window_changepoint ---------------------------------------------------

_CHGPT_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS xc
  FROM events GROUP BY event_type, day_idx
), cum AS (
  SELECT event_type, day_idx, xc,
         ROW_NUMBER() OVER w AS k,
         CAST(SUM(xc) OVER w AS BIGINT) AS sl,
         SUM(CAST(xc AS DECIMAL(27,7)) * xc) OVER w AS s2l,
         CAST(SUM(xc) OVER (PARTITION BY event_type) AS BIGINT) AS st,
         SUM(CAST(xc AS DECIMAL(27,7)) * xc)
           OVER (PARTITION BY event_type) AS s2t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
               ROWS UNBOUNDED PRECEDING)
), scored AS (
  SELECT event_type, day_idx, k, n,
         FLOOR((1.0 - (
             (CAST(s2l AS DOUBLE) - CAST(sl AS DOUBLE) * sl / k)
           + (CAST(s2t - s2l AS DOUBLE)
              - CAST(st - sl AS DOUBLE) * (st - sl) / (n - k))
         ) / (CAST(s2t AS DOUBLE) - CAST(st AS DOUBLE) * st / n))
           * 10000 + 0.5) / 10000 AS gain_r
  FROM cum
  WHERE k < n
    AND CAST(s2t AS DOUBLE) - CAST(st AS DOUBLE) * st / n > 0
), ranked AS (
  SELECT event_type, day_idx AS split_day, CAST(k AS BIGINT) AS k,
         CAST(n AS BIGINT) AS n_days, gain_r,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY gain_r DESC, k) AS rank
  FROM scored
)
SELECT event_type, split_day, k, n_days, gain_r, rank
FROM ranked WHERE rank <= 3
"""


@register("q_window_changepoint", oracle=_CHGPT_ORACLE)
def q_window_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection (binary segmentation, first split) on
    each event type's daily-revenue series: the split k that maximizes the
    variance explained, gain(k) = 1 − (SSE_left + SSE_right)/SSE_total,
    top-3 candidate splits per series — the level-shift detector behind
    deploy-impact and regime-change review of metric series (the first
    round of the standard binary-segmentation recursion).

    Parity engineering: daily totals are exact integer cents; Σx is exact
    bigint and Σx² exact decimal(27,7) (product widened BEFORE the sum, so
    money-scale squares cannot overflow — the DEC_WIDE discipline), both
    accumulated in ONE cumulative window; every SSE term is then a single
    identical IEEE-double expression on both engines, and gain is snapped
    to 4 decimals before ranking with the split index as tie-break.

    Scale shape: the fact table collapses to (series, day) in one map-side
    combined aggregate; the cumulative window is per-series over
    calendar-bounded rows (the O(T) prefix-sum trick — evaluating all T−1
    candidate splits needs no per-split pass); ranking is a second tiny
    window. Recursing into segments = re-running this plan on day ranges."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr(f"ts_us div {_DAY_US}").alias("day_idx")
    ).agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("xc"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    x2 = F.col("xc").cast("decimal(27,7)") * F.col("xc")
    cum = daily.select(
        "event_type",
        "day_idx",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day_idx")).alias("k"),
        F.sum("xc").over(wc).cast("bigint").alias("sl"),
        F.sum(x2).over(wc).alias("s2l"),
        F.sum("xc").over(wt).cast("bigint").alias("st"),
        F.sum(x2).over(wt).alias("s2t"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    sse_total = F.col("s2t").cast("double") - F.col("st").cast("double") * F.col("st") / F.col("n")
    obj = (
        F.col("s2l").cast("double")
        - F.col("sl").cast("double") * F.col("sl") / F.col("k")
    ) + (
        (F.col("s2t") - F.col("s2l")).cast("double")
        - (F.col("st") - F.col("sl")).cast("double")
        * (F.col("st") - F.col("sl"))
        / (F.col("n") - F.col("k"))
    )
    scored = (
        cum.filter((F.col("k") < F.col("n")) & (sse_total > 0))
        .select(
            "event_type",
            "day_idx",
            "k",
            "n",
            (F.floor((F.lit(1.0) - obj / sse_total) * 10000 + F.lit(0.5)) / 10000).alias(
                "gain_r"
            ),
        )
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("gain_r"), "k")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select(
            "event_type",
            F.col("day_idx").alias("split_day"),
            F.col("k").cast("bigint").alias("k"),
            F.col("n").cast("bigint").alias("n_days"),
            "gain_r",
            "rank",
        )
    )


# --- q_window_xcorr_lag -----------------------------------------------------

_XCORR_MAX_LAG = 3

_XCORR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS xc
  FROM events GROUP BY event_type, day_idx
), lags AS (
  SELECT unnest(generate_series(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG})) AS lag
), paired AS (
  SELECT x.event_type AS type_x, y.event_type AS type_y, l.lag,
         x.xc AS xv, y.xc AS yv
  FROM daily x
  CROSS JOIN lags l
  JOIN daily y ON y.event_type > x.event_type
              AND y.day_idx = x.day_idx + l.lag
), stats AS (
  SELECT type_x, type_y, lag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xv) AS BIGINT) AS sx,
         CAST(SUM(yv) AS BIGINT) AS sy,
         SUM(CAST(xv AS DECIMAL(27,7)) * yv) AS sxy,
         SUM(CAST(xv AS DECIMAL(27,7)) * xv) AS sxx,
         SUM(CAST(yv AS DECIMAL(27,7)) * yv) AS syy
  FROM paired
  GROUP BY type_x, type_y, lag
), corr AS (
  SELECT type_x, type_y, lag, n,
         FLOOR((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                      * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
               * 10000 + 0.5) / 10000 AS corr_r
  FROM stats
  WHERE n >= 3
    AND n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx > 0
    AND n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy > 0
)
SELECT type_x, type_y, lag, n, corr_r,
       ROW_NUMBER() OVER (PARTITION BY type_x, type_y
                          ORDER BY corr_r DESC, lag) AS rank
FROM corr
"""


@register("q_window_xcorr_lag", oracle=_XCORR_ORACLE)
def q_window_xcorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between every pair of event types' daily
    revenue series: Pearson correlation of (x_t, y_{t+lag}) for lags
    −3..+3 days, ranked per pair — the diagnostic that finds which metric
    LEADS which (errors today → churned purchases in 2 days), the pair
    companion to q_window_rolling_corr's same-time view.

    Parity: daily totals are exact cents; all five sufficient statistics
    are exact (bigint sums; products widened to decimal(27,7) BEFORE
    summing — money-scale squares can't overflow); the corr formula is
    then one identical IEEE-double expression, snapped to 4 decimals
    before ranking with the lag as tie-break. Degenerate-variance and
    short-overlap (n<3) lags are excluded identically on both sides.

    Scale shape: the fact table collapses to (series, day) once
    (map-side combined); the lag alignment is a self-join of the tiny
    calendar-bounded daily relation fanned by 7 literal lags; stats are
    one hash aggregate per (pair, lag). Series count drives cost, not
    event volume."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.expr(f"ts_us div {_DAY_US}").alias("day_idx"))
        .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("xc"))
        .localCheckpoint(eager=False)
    )
    x = daily.select(
        F.col("event_type").alias("type_x"),
        F.col("day_idx").alias("dx"),
        F.col("xc").alias("xv"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.lit(-_XCORR_MAX_LAG), F.lit(_XCORR_MAX_LAG))
        ).alias("lag"),
    )
    y = daily.select(
        F.col("event_type").alias("type_y"),
        F.col("day_idx").alias("dy"),
        F.col("xc").alias("yv"),
    )
    paired = x.join(
        F.broadcast(y),
        (F.col("type_y") > F.col("type_x"))
        & (F.col("dy") == F.col("dx") + F.col("lag")),
    )
    wide = F.col("xv").cast("decimal(27,7)")
    widey = F.col("yv").cast("decimal(27,7)")
    stats = paired.groupBy("type_x", "type_y", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xv").cast("bigint").alias("sx"),
        F.sum("yv").cast("bigint").alias("sy"),
        F.sum(wide * F.col("yv")).alias("sxy"),
        F.sum(wide * F.col("xv")).alias("sxx"),
        F.sum(widey * F.col("yv")).alias("syy"),
    )
    varx = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    vary = F.col("n") * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy")
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")
    corr = stats.filter((F.col("n") >= 3) & (varx > 0) & (vary > 0)).select(
        "type_x",
        "type_y",
        "lag",
        "n",
        (F.floor(num / F.sqrt(varx * vary) * 10000 + F.lit(0.5)) / 10000).alias(
            "corr_r"
        ),
    )
    wr = Window.partitionBy("type_x", "type_y").orderBy(F.desc("corr_r"), "lag")
    return corr.withColumn("rank", F.row_number().over(wr))


# --- q_events_sprt ----------------------------------------------------------

#: SPRT design literals: H0 p=0.18 vs H1 p=0.22, alpha = beta = 0.05.
#: Per-event Bernoulli log-likelihood-ratio terms, snapped to integer
#: MICRO-nats at import so both engines accumulate exact bigints.
import math as _math

_SPRT_P0, _SPRT_P1 = 0.18, 0.22
_SPRT_POS = int(_math.floor(_math.log(_SPRT_P1 / _SPRT_P0) * 1e6 + 0.5))
_SPRT_NEG = int(_math.floor(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1e6 + 0.5))
_SPRT_BOUND = int(_math.floor(_math.log(19.0) * 1e6 + 0.5))  # ln((1-b)/a), a=b=.05

_SPRT_ORACLE = f"""
WITH e AS (
  SELECT user_id % 2 AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
         epoch_us(ts) AS us, event_id
  FROM events
), walk AS (
  SELECT variant, x,
         ROW_NUMBER() OVER w AS rn,
         CAST(SUM(CASE WHEN x = 1 THEN {_SPRT_POS} ELSE {_SPRT_NEG} END)
              OVER w AS BIGINT) AS llr
  FROM e
  WINDOW w AS (PARTITION BY variant ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING)
), agg AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(x) AS BIGINT) AS n_purchases,
         CAST(MAX(CASE WHEN rn = (SELECT MAX(rn) FROM walk w2
                                  WHERE w2.variant = walk.variant)
                       THEN llr END) AS BIGINT) AS final_llr_micro,
         CAST(MIN(CASE WHEN llr >= {_SPRT_BOUND} THEN rn END) AS BIGINT) AS rn_up,
         CAST(MIN(CASE WHEN llr <= -{_SPRT_BOUND} THEN rn END) AS BIGINT) AS rn_dn
  FROM walk
  GROUP BY variant
)
SELECT variant, n_events, n_purchases, final_llr_micro,
       CASE
         WHEN rn_up IS NOT NULL AND (rn_dn IS NULL OR rn_up < rn_dn)
           THEN rn_up
         WHEN rn_dn IS NOT NULL THEN rn_dn
       END AS cross_rn,
       CASE
         WHEN rn_up IS NOT NULL AND (rn_dn IS NULL OR rn_up < rn_dn)
           THEN 'accept_h1'
         WHEN rn_dn IS NOT NULL THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM agg
"""


@register("q_events_sprt", oracle=_SPRT_ORACLE)
def q_events_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over each variant's event
    stream (H0: purchase rate 0.18 vs H1: 0.22, α=β=0.05): the cumulative
    log-likelihood ratio walks per event in arrival order, and the test
    reports WHERE it first crossed ±ln(19) and which hypothesis it
    accepted — sequential testing, the always-valid complement to the
    fixed-horizon A/B family (q_events_abtest / q_events_power_mde decide
    sample size up front; SPRT stops as soon as the evidence suffices).

    Parity: the two per-event LLR increments are import-time Python
    literals snapped to integer micro-nats, so the entire walk — cumsum,
    boundary comparisons, crossing index — is EXACT bigint on both
    engines; no float enters the plan at all.

    Scale shape: one shuffle on variant, one ordered window per variant
    (streaming within partition — this is literally a streaming operator
    run on the batch table; the Structured Streaming mount would carry
    llr as applyInPandasWithState per variant), then a per-variant
    aggregate. Crossing detection is conditional MIN aggregates, not a
    second pass."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        F.col("ts_us").alias("us"),
        "event_id",
    )
    w = (
        Window.partitionBy("variant")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = e.select(
        "variant",
        "x",
        F.row_number().over(Window.partitionBy("variant").orderBy("us", "event_id")).alias("rn"),
        F.sum(
            F.when(F.col("x") == 1, F.lit(_SPRT_POS)).otherwise(F.lit(_SPRT_NEG))
        )
        .over(w)
        .cast("bigint")
        .alias("llr"),
    )
    wmax = Window.partitionBy("variant")
    walk = walk.withColumn("max_rn", F.max("rn").over(wmax))
    agg = walk.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("x").cast("bigint").alias("n_purchases"),
        F.max(F.when(F.col("rn") == F.col("max_rn"), F.col("llr")))
        .cast("bigint")
        .alias("final_llr_micro"),
        F.min(F.when(F.col("llr") >= _SPRT_BOUND, F.col("rn")))
        .cast("bigint")
        .alias("rn_up"),
        F.min(F.when(F.col("llr") <= -_SPRT_BOUND, F.col("rn")))
        .cast("bigint")
        .alias("rn_dn"),
    )
    up_first = F.col("rn_up").isNotNull() & (
        F.col("rn_dn").isNull() | (F.col("rn_up") < F.col("rn_dn"))
    )
    return agg.select(
        "variant",
        "n_events",
        "n_purchases",
        "final_llr_micro",
        F.when(up_first, F.col("rn_up"))
        .otherwise(F.col("rn_dn"))
        .cast("bigint")
        .alias("cross_rn"),
        F.when(up_first, F.lit("accept_h1"))
        .when(F.col("rn_dn").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# --- q_events_pchart ----------------------------------------------------------

_PCHART_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errors
  FROM events GROUP BY day_idx
), pbar AS (
  SELECT CAST(SUM(errors) AS DOUBLE) / SUM(n) AS pb FROM daily
), lim AS (
  SELECT day_idx, n, errors,
         FLOOR(CAST(errors AS DOUBLE) / n * 1000000 + 0.5) AS p_micro,
         FLOOR((pb + 3 * SQRT(pb * (1 - pb) / n)) * 1000000 + 0.5) AS ucl_micro,
         GREATEST(
           FLOOR((pb - 3 * SQRT(pb * (1 - pb) / n)) * 1000000 + 0.5),
           0) AS lcl_micro
  FROM daily, pbar
)
SELECT CAST(day_idx AS BIGINT) AS day_idx, n, errors,
       CAST(p_micro AS BIGINT) AS p_micro,
       CAST(ucl_micro AS BIGINT) AS ucl_micro,
       CAST(lcl_micro AS BIGINT) AS lcl_micro,
       CAST(CASE WHEN p_micro > ucl_micro OR p_micro < lcl_micro
                 THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
FROM lim
"""


@register("q_events_pchart", oracle=_PCHART_ORACLE)
def q_events_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC p-chart over the daily error proportion (Shewhart control chart):
    center line p̄ = total errors / total events, per-day 3σ binomial control
    limits p̄ ± 3·√(p̄(1−p̄)/n_day), and an out-of-control flag per day — the
    statistical-process-control screen ops teams run on error rates, one rung
    more principled than fixed thresholds (q_events_error_budget) because the
    limits widen on low-traffic days instead of paging on noise.

    Parity: p̄ is a ratio of exact integers (bit-identical double), sqrt is
    IEEE-exact, and every reported value is snapped to integer micro units
    BEFORE the flag comparison, so both engines flag from identical integers.

    Scale shape: one day-keyed aggregate with map-side combine collapses the
    fact table; the single p̄ row fans back via broadcast cross join; the
    limit math is a stateless projection. At 100 TB the chart usually keys
    (service, day) — same plan with a wider group key.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr(f"ts_us div {_DAY_US}").alias("day_idx")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("errors"),
    )
    pbar = daily.agg(
        (F.sum("errors").cast("double") / F.sum("n")).alias("pb")
    )
    sig = F.sqrt(F.col("pb") * (1 - F.col("pb")) / F.col("n"))
    snap = lambda c: F.floor(c * 1000000 + F.lit(0.5)).cast("bigint")  # noqa: E731
    lim = daily.crossJoin(F.broadcast(pbar)).select(
        F.col("day_idx").cast("bigint").alias("day_idx"),
        "n",
        "errors",
        snap(F.col("errors").cast("double") / F.col("n")).alias("p_micro"),
        snap(F.col("pb") + 3 * sig).alias("ucl_micro"),
        F.greatest(snap(F.col("pb") - 3 * sig), F.lit(0).cast("bigint")).alias(
            "lcl_micro"
        ),
    )
    return lim.select(
        "day_idx",
        "n",
        "errors",
        "p_micro",
        "ucl_micro",
        "lcl_micro",
        F.when(
            (F.col("p_micro") > F.col("ucl_micro"))
            | (F.col("p_micro") < F.col("lcl_micro")),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("out_of_control"),
    )


# --- q_events_ewma_chart --------------------------------------------------------

#: steady-state EWMA variance constants for the depth-8 λ=1/2 window:
#: Σw = 255, Σw² = (4^8 − 1)/3 = 21845; limit factor c = √(Σw²)/Σw.
_EWMA_SUM_W = (1 << _EWMA_DEPTH) - 1
_EWMA_SUM_W2 = ((1 << (2 * _EWMA_DEPTH)) - 1) // 3

_EWMA_CHART_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(cents * cents) AS DECIMAL(38,0)) AS q
  FROM daily GROUP BY event_type
), z AS (
  SELECT event_type, day_idx, cents,
         {_EWMA_NUM} AS num,
         {_EWMA_DEN} AS den
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
), lim AS (
  SELECT event_type, n, s,
         CAST(s AS DOUBLE) / n AS mu,
         SQRT((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
              / (CAST(n AS DOUBLE) * (n - 1))) AS sigma
  FROM m WHERE n > 1
    AND CAST(n AS DOUBLE) * CAST(q AS DOUBLE) > CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
), rows_ AS (
  SELECT z.event_type, z.day_idx, z.cents,
         FLOOR(CAST(num AS DOUBLE) / den / 100 * 10000 + 0.5) / 10000 AS z_r4,
         FLOOR((mu + 3 * sigma * (SQRT(CAST({_EWMA_SUM_W2} AS DOUBLE))
                                  / {_EWMA_SUM_W}))
               / 100 * 10000 + 0.5) / 10000 AS ucl_r4,
         FLOOR((mu - 3 * sigma * (SQRT(CAST({_EWMA_SUM_W2} AS DOUBLE))
                                  / {_EWMA_SUM_W}))
               / 100 * 10000 + 0.5) / 10000 AS lcl_r4
  FROM z JOIN lim ON z.event_type = lim.event_type
)
SELECT event_type, day_idx, cents, z_r4, ucl_r4, lcl_r4,
       (z_r4 > ucl_r4 OR z_r4 < lcl_r4) AS out_of_control
FROM rows_
"""


@register("q_events_ewma_chart", oracle=_EWMA_CHART_ORACLE)
def q_events_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA CONTROL CHART (the variables-data SPC monitor, companion to
    q_events_pchart's attribute chart): each stream's daily revenue is
    exponentially smoothed (the q_window_ewma depth-8 λ=1/2 integer-weight
    window) and flagged when the smoothed value escapes μ ± 3σ·√(Σw²)/Σw —
    the steady-state EWMA limits (Σw=255, Σw²=21845 exact), the common
    production simplification of the time-varying early-window form (which
    is a constant-table variant of the same plan). EWMA charts catch small
    sustained shifts that Shewhart-style per-point charts miss.

    Parity: the smoothed value is an exact integer-weight rational (num/den
    of bigints); μ, σ come from exact integer/decimal moments (q summed as
    DECIMAL(38,0) — daily cents square sums pass int64 at year scale) with
    one identically-associated double expression; chart lines and the
    statistic are snapped to r4 BEFORE the flag comparison, so the boolean
    is computed on bit-identical snapped values in both engines.

    Scale shape: eighth consumer of the shared daily rollup — one fact
    shuffle lives in the memoized relation; here one window pass and a
    5-row moments broadcast over the tiny daily table.
    """
    daily = shared_daily_cents(spark, sf_dir)
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias("q"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    lim = (
        m.filter((F.col("n") > 1) & (nd * qd > sd * sd))
        .select(
            "event_type",
            (sd / F.col("n")).alias("mu"),
            F.sqrt((nd * qd - sd * sd) / (nd * (F.col("n") - 1))).alias("sigma"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day_idx")
    num = sum(
        F.coalesce(F.lag("cents", k).over(w), F.lit(0))
        * (1 << (_EWMA_DEPTH - 1 - k))
        for k in range(_EWMA_DEPTH)
    )
    den = sum(
        F.when(F.lag("cents", k).over(w).isNotNull(), 1 << (_EWMA_DEPTH - 1 - k))
        .otherwise(0)
        for k in range(_EWMA_DEPTH)
    )
    c = F.sqrt(F.lit(_EWMA_SUM_W2).cast("double")) / _EWMA_SUM_W
    snap = lambda col: F.floor(col / 100 * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    rows = (
        daily.select("event_type", "day_idx", "cents", num.alias("num"), den.alias("den"))
        .join(F.broadcast(lim), "event_type")
        .select(
            "event_type",
            "day_idx",
            "cents",
            snap(F.col("num").cast("double") / F.col("den")).alias("z_r4"),
            snap(F.col("mu") + 3 * F.col("sigma") * c).alias("ucl_r4"),
            snap(F.col("mu") - 3 * F.col("sigma") * c).alias("lcl_r4"),
        )
    )
    return rows.withColumn(
        "out_of_control",
        (F.col("z_r4") > F.col("ucl_r4")) | (F.col("z_r4") < F.col("lcl_r4")),
    )


# --- q_window_conformal ---------------------------------------------------------

_CONF_ALPHA_BP = 2000  # miscoverage 20% in basis points → 80% intervals


_CONFORMAL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), fc AS (
  SELECT event_type, day_idx, cents,
         LAG(cents, {_SNAIVE_LAG}) OVER (
           PARTITION BY event_type ORDER BY day_idx
         ) AS yhat
  FROM daily
), resid AS (
  SELECT event_type, day_idx, ABS(cents - yhat) AS r,
         (MIN(day_idx) OVER (PARTITION BY event_type)
          + MAX(day_idx) OVER (PARTITION BY event_type) + 1) // 2 AS mid
  FROM fc WHERE yhat IS NOT NULL
), cal AS (
  SELECT event_type, r,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY r, day_idx
         ) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_cal
  FROM resid WHERE day_idx < mid
), qhat AS (
  SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal, r AS q_hat_cents
  FROM cal
  WHERE rk = LEAST(
    CAST(CEIL((10000 - {_CONF_ALPHA_BP}) / 10000.0 * (n_cal + 1)) AS BIGINT),
    n_cal)
), test AS (
  SELECT event_type, r FROM resid WHERE day_idx >= mid
)
SELECT t.event_type, q.n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       q.q_hat_cents,
       CAST(SUM(CASE WHEN t.r <= q.q_hat_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covered,
       FLOOR(CAST(SUM(CASE WHEN t.r <= q.q_hat_cents THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS coverage_r4
FROM test t JOIN qhat q ON q.event_type = t.event_type
GROUP BY t.event_type, q.n_cal, q.q_hat_cents
"""


@register("q_window_conformal", oracle=_CONFORMAL_ORACLE)
def q_window_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around the seasonal-naive
    forecaster: calibrate on each series' first half (the ceil((n+1)(1−α))
    smallest absolute residual is the distribution-free 80% band half-width),
    then certify EMPIRICAL COVERAGE on the held-out second half — the
    finite-sample-valid uncertainty wrapper (conformal prediction) that turns
    any point forecaster (q_window_snaive_backtest) into calibrated
    intervals without distributional assumptions.

    Exactness: residuals are exact bigint cents; the conformal quantile is an
    ORDER STATISTIC (rank selection, day tie-break), not an interpolated
    percentile, so the band edge is an exact integer both engines agree on;
    the temporal split point is integer midpoint arithmetic.

    Scale shape: facts collapse to the daily table once; ranking and
    counting ride windows over the same series partitioning; the per-series
    q̂ relation (|series| rows) joins back broadcast-sized. Conformal
    calibration at 100 TB is exactly this: order statistics per series,
    embarrassingly parallel.
    """
    daily = shared_daily_cents(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day_idx")
    wp = Window.partitionBy("event_type")
    resid = (
        daily.withColumn("yhat", F.lag("cents", _SNAIVE_LAG).over(w))
        .filter(F.col("yhat").isNotNull())
        .select(
            "event_type",
            "day_idx",
            F.abs(F.col("cents") - F.col("yhat")).alias("r"),
            F.expr(
                "(MIN(day_idx) OVER (PARTITION BY event_type)"
                " + MAX(day_idx) OVER (PARTITION BY event_type) + 1) div 2"
            ).alias("mid"),
        )
    )
    cal = (
        resid.filter(F.col("day_idx") < F.col("mid"))
        .withColumn(
            "rk", F.row_number().over(w.orderBy("r", "day_idx"))
        )
        .withColumn("n_cal", F.count(F.lit(1)).over(wp))
    )
    target = F.least(
        F.ceil(
            (10000 - _CONF_ALPHA_BP) / 10000.0 * (F.col("n_cal") + 1)
        ).cast("bigint"),
        F.col("n_cal").cast("bigint"),
    )
    qhat = cal.filter(F.col("rk") == target).select(
        F.col("event_type").alias("qet"),
        F.col("n_cal").cast("bigint").alias("n_cal"),
        F.col("r").alias("q_hat_cents"),
    )
    test = resid.filter(F.col("day_idx") >= F.col("mid"))
    covered = F.when(F.col("r") <= F.col("q_hat_cents"), 1).otherwise(0)
    return (
        test.join(F.broadcast(qhat), F.col("event_type") == F.col("qet"))
        .groupBy("event_type", "n_cal", "q_hat_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(covered).cast("bigint").alias("n_covered"),
            (
                F.floor(
                    F.sum(covered).cast("double")
                    / F.count(F.lit(1))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("coverage_r4"),
        )
        .select(
            "event_type",
            "n_cal",
            "n_test",
            "q_hat_cents",
            "n_covered",
            "coverage_r4",
        )
    )


# --- q_window_sax ---------------------------------------------------------------

_SAX_BP_MICRO = 674_500  # ±0.6745 = standard-normal quartile breakpoints


_SAX_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), st AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS s2
  FROM daily GROUP BY event_type
), z AS (
  SELECT d.event_type, d.day_idx,
         FLOOR((d.cents - CAST(s1 AS DOUBLE) / n)
               / SQRT((CAST(n * s2 - s1 * s1 AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (n - 1)))
               * 1000000 + 0.5) AS z_micro
  FROM daily d JOIN st USING (event_type)
), sym AS (
  SELECT event_type, day_idx,
         CASE WHEN z_micro < -{_SAX_BP_MICRO} THEN 'a'
              WHEN z_micro < 0 THEN 'b'
              WHEN z_micro < {_SAX_BP_MICRO} THEN 'c'
              ELSE 'd' END AS sym
  FROM z
), words AS (
  SELECT event_type,
         sym || LEAD(sym, 1) OVER w || LEAD(sym, 2) OVER w AS word
  FROM sym
  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
), wc AS (
  SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS c
  FROM words WHERE word IS NOT NULL GROUP BY event_type, word
), top AS (
  SELECT event_type, word, c,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY c DESC, word
         ) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_motifs,
         SUM(c) OVER (PARTITION BY event_type) AS n_words
  FROM wc
)
SELECT event_type, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_motifs AS BIGINT) AS n_motifs,
       word AS top_word, c AS top_count
FROM top WHERE rk = 1
"""


@register("q_window_sax", oracle=_SAX_ORACLE)
def q_window_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Symbolic Aggregate approXimation) of each revenue
    series: z-normalize per series, quantize into the 4-symbol normal-
    quartile alphabet a|b|c|d, slide a 3-symbol word over the sequence, and
    report each series' motif vocabulary and dominant motif — the
    dimensionality-reduction front end of classic time-series motif/anomaly
    mining (a recurring 'ccc' means a flat regime; a dominant 'ada' is a
    spike habit).

    Exactness: moments are exact decimal(38,0) sums (cents² at 100 TB
    exceeds bigint); z snaps to integer micros BEFORE the alphabet CASE, and
    the breakpoints are the SAME integer literals (±674500 micros) on both
    engines — symbolization is pure integer comparison. Word assembly is
    LEAD over the day ordering; motif ranking ties break lexicographically.

    Scale shape: facts → daily table (one shuffle); the z pass joins the
    per-series moment row back broadcast-sized; words/motifs ride the series
    partitioning end to end. Millions of independent series parallelize
    embarrassingly — SAX at scale is exactly this plan.
    """
    daily = shared_daily_cents(spark, sf_dir)
    st = daily.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("s2"),
    )
    z_micro = F.floor(
        (F.col("cents") - F.col("s1").cast("double") / F.col("n"))
        / F.sqrt(
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        )
        * 1000000
        + F.lit(0.5)
    )
    sym = (
        daily.join(F.broadcast(st), F.col("event_type") == F.col("et"))
        .select("event_type", "day_idx", z_micro.alias("zm"))
        .select(
            "event_type",
            "day_idx",
            F.when(F.col("zm") < -_SAX_BP_MICRO, "a")
            .when(F.col("zm") < 0, "b")
            .when(F.col("zm") < _SAX_BP_MICRO, "c")
            .otherwise("d")
            .alias("sym"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day_idx")
    words = sym.select(
        "event_type",
        F.concat(
            F.col("sym"), F.lead("sym", 1).over(w), F.lead("sym", 2).over(w)
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    wc = words.groupBy("event_type", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wp = Window.partitionBy("event_type")
    top = wc.select(
        "event_type",
        "word",
        "c",
        F.row_number().over(wp.orderBy(F.desc("c"), "word")).alias("rk"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_motifs"),
        F.sum("c").over(wp).cast("bigint").alias("n_words"),
    )
    return top.filter(F.col("rk") == 1).select(
        "event_type",
        "n_words",
        "n_motifs",
        F.col("word").alias("top_word"),
        F.col("c").alias("top_count"),
    )


# --- q_window_hurst -------------------------------------------------------------

_HURST_SIZES = (4, 8, 16)


_HURST_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), ranked AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY day_idx
         ) - 1 AS rnk
  FROM daily
), blocks AS (
  SELECT event_type, n, rnk // n AS block_id, rnk % n AS t, cents
  FROM ranked, (SELECT unnest([{", ".join(str(n) for n in _HURST_SIZES)}]) AS n)
), full_blocks AS (
  SELECT event_type, n, block_id, t, cents,
         CAST(SUM(cents) OVER (
           PARTITION BY event_type, n, block_id ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum,
         CAST(SUM(cents) OVER (
           PARTITION BY event_type, n, block_id
         ) AS BIGINT) AS s_blk,
         COUNT(*) OVER (PARTITION BY event_type, n, block_id) AS blk_len
  FROM blocks
), z AS (
  SELECT event_type, n, block_id,
         n * cum - (t + 1) * s_blk AS nz,
         n * cents - s_blk AS dev
  FROM full_blocks WHERE blk_len = n
), rs AS (
  SELECT event_type, n, block_id,
         CAST(MAX(nz) - MIN(LEAST(nz, 0)) AS BIGINT) AS rn,
         CAST(SUM(CAST(dev AS DECIMAL(38,0)) * dev) AS DECIMAL(38,0)) AS q
  FROM z GROUP BY event_type, n, block_id
), rs_val AS (
  SELECT event_type, n,
         FLOOR(rn * SQRT(CAST(n AS DOUBLE) / CAST(q AS DOUBLE))
               * 10000 + 0.5) / 10000 AS rs_r
  FROM rs WHERE q > 0
), pts AS (
  SELECT event_type, n,
         FLOOR(LN(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS x,
         FLOOR(LN(
           CAST(SUM(CAST(rs_r AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*)
         ) * 1000000 + 0.5) / 1000000 AS y
  FROM rs_val GROUP BY event_type, n
), ols AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS k,
         CAST(SUM(CAST(x AS DECIMAL(18,7))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,7))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(18,7))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(18,7))) AS DOUBLE) AS sxx
  FROM pts GROUP BY event_type
)
SELECT event_type, CAST(k AS BIGINT) AS n_sizes,
       FLOOR((k * sxy - sx * sy) / (k * sxx - sx * sx) * 10000 + 0.5) / 10000
         AS hurst_r4
FROM ols
"""


@register("q_window_hurst", oracle=_HURST_ORACLE)
def q_window_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis per revenue series:
    split each series into non-overlapping blocks of n ∈ {_HURST_SIZES},
    per block compute the rescaled range R/S of cumulative deviations, and
    fit H as the OLS slope of ln(mean R/S) against ln(n) — the long-memory
    diagnostic (H≈0.5 random walk, H>0.5 trending/persistent, H<0.5
    mean-reverting) that decides whether naive CIs on a metric are lies.

    Exactness: the cumulative deviation is carried as n·Z_t = n·cumsum −
    t·blocksum (EXACT bigint — no mean division inside the range), the
    dispersion as Σ(n·x − blocksum)² in decimal(38,0); R/S = Rn·√(n/Q)
    collapses the n's exactly, snapped to 4 decimals per block before the
    exact-decimal mean; the 3-point OLS reuses the q_text_zipf closed form
    on micro-snapped lns. Partial trailing blocks drop on both engines
    (blk_len = n), zero-dispersion blocks are excluded (Q > 0).

    Scale shape: the fact table collapses to daily once; block assignment is
    integer math on the series rank; every window partitions by (series, n,
    block) — bounded, parallel; the fit runs on ≤3 rows per series. R/S at
    100 TB is exactly this plan with more sizes.
    """
    daily = shared_daily_cents(spark, sf_dir)
    ranked = daily.select(
        "event_type",
        "cents",
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day_idx")
            )
            - 1
        ).alias("rnk"),
    )
    sizes = ",".join(str(n) for n in _HURST_SIZES)
    blocks = ranked.select(
        "event_type",
        "cents",
        "rnk",
        F.explode(F.expr(f"array({sizes})")).alias("n"),
    ).select(
        "event_type",
        "n",
        F.expr("rnk div n").alias("block_id"),
        (F.col("rnk") % F.col("n")).alias("t"),
        "cents",
    )
    wb = Window.partitionBy("event_type", "n", "block_id")
    wcum = wb.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    fb = blocks.select(
        "event_type",
        "n",
        "block_id",
        "t",
        "cents",
        F.sum("cents").over(wcum).cast("bigint").alias("cum"),
        F.sum("cents").over(wb).cast("bigint").alias("s_blk"),
        F.count(F.lit(1)).over(wb).alias("blk_len"),
    ).filter(F.col("blk_len") == F.col("n"))
    z = fb.select(
        "event_type",
        "n",
        "block_id",
        (F.col("n") * F.col("cum") - (F.col("t") + 1) * F.col("s_blk")).alias(
            "nz"
        ),
        (F.col("n") * F.col("cents") - F.col("s_blk")).alias("dev"),
    )
    rs = z.groupBy("event_type", "n", "block_id").agg(
        (F.max("nz") - F.min(F.least(F.col("nz"), F.lit(0))))
        .cast("bigint")
        .alias("rn"),
        F.sum(F.col("dev").cast("decimal(38,0)") * F.col("dev")).alias("q"),
    )
    rs_r = (
        F.floor(
            F.col("rn")
            * F.sqrt(F.col("n").cast("double") / F.col("q").cast("double"))
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    snap6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    pts = (
        rs.filter(F.col("q") > 0)
        .select("event_type", "n", rs_r.alias("rs_r"))
        .groupBy("event_type", "n")
        .agg(
            F.sum(F.col("rs_r").cast(DEC)).cast("double").alias("sum_rs"),
            F.count(F.lit(1)).alias("nb"),
        )
        .select(
            "event_type",
            snap6(F.log(F.col("n").cast("double"))).alias("x"),
            snap6(F.log(F.col("sum_rs") / F.col("nb"))).alias("y"),
        )
    )
    ols = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double").alias("sxx"),
    )
    return ols.select(
        "event_type",
        F.col("k").cast("bigint").alias("n_sizes"),
        (
            F.floor(
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("hurst_r4"),
    )


# --- q_window_matrix_profile ------------------------------------------------------

_MP_M = 7        # subsequence length (one week of daily points)
_MP_EXCL = 4     # exclusion zone: ignore overlapping trivial matches |i-j| < 4


def _mp_pair_sums(prefix_a: str, prefix_b: str) -> str:
    return " + ".join(f"{prefix_a}{k} * {prefix_b}{k}" for k in range(_MP_M))


_MP_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), seq AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY day_idx
         ) - 1 AS i
  FROM daily
), win AS (
  SELECT event_type, i,
         {", ".join(f"LEAD(cents, {k}) OVER (PARTITION BY event_type ORDER BY i) AS v{k}" for k in range(_MP_M))}
  FROM (SELECT event_type, i, cents FROM seq) t
  QUALIFY v{_MP_M - 1} IS NOT NULL
), st AS (
  SELECT event_type, i,
         {" + ".join(f"v{k}" for k in range(_MP_M))} AS s1,
         {" + ".join(f"v{k} * v{k}" for k in range(_MP_M))} AS s2,
         {", ".join(f"v{k}" for k in range(_MP_M))}
  FROM win
), pairs AS (
  SELECT a.event_type, a.i AS ia, b.i AS ib,
         {_MP_M} * ({_mp_pair_sums("a.v", "b.v")}) - a.s1 * b.s1 AS num,
         CAST({_MP_M} * a.s2 - a.s1 * a.s1 AS DOUBLE)
           * ({_MP_M} * b.s2 - b.s1 * b.s1) AS dd
  FROM st a JOIN st b
    ON a.event_type = b.event_type AND b.i - a.i >= {_MP_EXCL}
), dist AS (
  SELECT event_type, ia, ib,
         FLOOR(SQRT(GREATEST(
                 2 * {_MP_M} * (1 - num / SQRT(dd)), 0))
               * 10000 + 0.5) / 10000 AS d_r4
  FROM pairs WHERE dd > 0
), motif AS (
  SELECT event_type, ia AS motif_i, ib AS motif_j, d_r4 AS motif_dist,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY d_r4, ia, ib
         ) AS rk
  FROM dist
), profile AS (
  SELECT event_type, i, MIN(d_r4) AS p
  FROM (
    SELECT event_type, ia AS i, d_r4 FROM dist
    UNION ALL
    SELECT event_type, ib AS i, d_r4 FROM dist
  ) GROUP BY event_type, i
), discord AS (
  SELECT event_type, i AS discord_i, p AS discord_dist,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY p DESC, i
         ) AS rk
  FROM profile
), nw AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_windows FROM st
  GROUP BY event_type
)
SELECT m.event_type, nw.n_windows,
       CAST(m.motif_i AS BIGINT) AS motif_i,
       CAST(m.motif_j AS BIGINT) AS motif_j,
       m.motif_dist,
       CAST(d.discord_i AS BIGINT) AS discord_i,
       d.discord_dist
FROM motif m
JOIN discord d ON d.event_type = m.event_type AND d.rk = 1
JOIN nw ON nw.event_type = m.event_type
WHERE m.rk = 1
"""


@register("q_window_matrix_profile", oracle=_MP_ORACLE)
def q_window_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile of each revenue series (subsequence length {_MP_M},
    exclusion zone {_MP_EXCL}): for every window position, the z-normalized
    distance to its nearest non-trivial neighbor — reporting the MOTIF (the
    closest repeating weekly pattern) and the DISCORD (the week most unlike
    every other) per series. The matrix-profile primitive underlies modern
    motif discovery, anomaly detection and regime segmentation; here it is
    expressed as a windowed self-join, not a specialized index.

    Exactness: windows are {_MP_M} integer-cents columns (LEAD projections);
    the pair distance d² = 2m(1 − corr) is computed from EXACT integer
    sufficient statistics (m·Σxy − ΣxΣy over bigints), with only the final
    sqrt/divide in double, snapped to 4 decimals BEFORE min/argmin; ties
    break on integer positions. Zero-variance windows are excluded on both
    engines (dd > 0).

    Scale shape: the pair join is per-series (equi-key event_type) with a
    band predicate — O(L²/2) pairs per series of length L, embarrassingly
    parallel across millions of series, each pair a flat 7-term codegen
    projection (no arrays, no UDFs). For single very-long series the
    exclusion-band join graduates to the STOMP recurrence over tiled
    diagonal blocks — same sufficient statistics, blocked differently.
    """
    daily = shared_daily_cents(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day_idx")
    seq = daily.select(
        "event_type", "cents", (F.row_number().over(w) - 1).alias("i")
    )
    wi = Window.partitionBy("event_type").orderBy("i")
    win = seq.select(
        "event_type",
        "i",
        *[F.lead("cents", k).over(wi).alias(f"v{k}") for k in range(_MP_M)],
    ).filter(F.col(f"v{_MP_M - 1}").isNotNull())
    st = win.select(
        "event_type",
        "i",
        F.expr(" + ".join(f"v{k}" for k in range(_MP_M))).alias("s1"),
        F.expr(" + ".join(f"v{k} * v{k}" for k in range(_MP_M))).alias("s2"),
        *[F.col(f"v{k}") for k in range(_MP_M)],
    ).localCheckpoint(eager=False)
    b = st.select(
        F.col("event_type").alias("bet"),
        F.col("i").alias("ib"),
        F.col("s1").alias("t1"),
        F.col("s2").alias("t2"),
        *[F.col(f"v{k}").alias(f"w{k}") for k in range(_MP_M)],
    )
    num = F.expr(
        f"{_MP_M} * ({_mp_pair_sums('v', 'w')}) - s1 * t1"
    )
    dd = F.expr(
        f"CAST({_MP_M} * s2 - s1 * s1 AS DOUBLE) * ({_MP_M} * t2 - t1 * t1)"
    )
    pairs = st.join(
        b,
        (F.col("event_type") == F.col("bet"))
        & (F.col("ib") - F.col("i") >= _MP_EXCL),
    ).select(
        "event_type",
        F.col("i").alias("ia"),
        "ib",
        num.alias("num"),
        dd.alias("dd"),
    )
    d_r4 = (
        F.floor(
            F.sqrt(
                F.greatest(
                    2 * _MP_M * (1 - F.col("num") / F.sqrt(F.col("dd"))),
                    F.lit(0.0),
                )
            )
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    dist = (
        pairs.filter(F.col("dd") > 0)
        .select("event_type", "ia", "ib", d_r4.alias("d_r4"))
        .localCheckpoint(eager=False)
    )
    wmot = Window.partitionBy("event_type").orderBy("d_r4", "ia", "ib")
    motif = (
        dist.withColumn("rk", F.row_number().over(wmot))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("ia").cast("bigint").alias("motif_i"),
            F.col("ib").cast("bigint").alias("motif_j"),
            F.col("d_r4").alias("motif_dist"),
        )
    )
    profile = (
        dist.select("event_type", F.col("ia").alias("i"), "d_r4")
        .unionAll(dist.select("event_type", F.col("ib").alias("i"), "d_r4"))
        .groupBy("event_type", "i")
        .agg(F.min("d_r4").alias("p"))
    )
    wdis = Window.partitionBy("event_type").orderBy(F.desc("p"), "i")
    discord = (
        profile.withColumn("rk", F.row_number().over(wdis))
        .filter(F.col("rk") == 1)
        .select(
            F.col("event_type").alias("det"),
            F.col("i").cast("bigint").alias("discord_i"),
            F.col("p").alias("discord_dist"),
        )
    )
    nw = st.groupBy(F.col("event_type").alias("net")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows")
    )
    return (
        motif.join(discord, F.col("event_type") == F.col("det"))
        .join(F.broadcast(nw), F.col("event_type") == F.col("net"))
        .select(
            "event_type",
            "n_windows",
            "motif_i",
            "motif_j",
            "motif_dist",
            "discord_i",
            "discord_dist",
        )
    )


# --- q_window_periodogram ---------------------------------------------------------

_PGRAM_PERIODS = (7, 30)

# Session memo of the family's common prefix — the daily revenue series
# (event_type, day_idx, cents = Σ floor(value·100+0.5)) — consumed by ten
# window/timeseries queries (hampel, mann_kendall, snaive, conformal, sax,
# hurst, matrix_profile, periodogram, slope, beta). One events scan + one
# hash aggregate per (session, sf_dir) instead of one per query; at 100 TB
# this relation is precisely the persisted daily-rollup table a metrics
# pipeline materializes ahead of its analytics. Results are identical with
# or without the memo (same expressions, same values).
def build_daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed daily-rollup plan — separate from the memoizing
    wrapper so the plan-snapshot gate fingerprints the shared subtree."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr(f"ts_us div {_DAY_US}").alias("day_idx"),
            F.expr(_CENTS).alias("c"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )


def shared_daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CACHE.get_or_build(
        spark, "daily_cents", lambda: build_daily_cents(spark, sf_dir), sf_dir,
        source_stamps(sf_dir, "events"), checkpoint=True,
    )


def _pgram_trig_rows(period: int) -> list[tuple[int, int, int]]:
    """(phase, cos_micro, sin_micro) literals for one period — the SAME
    snapped integers are embedded in the Spark plan and the oracle SQL, so
    trig enters both engines as identical constants."""
    import math

    rows = []
    for ph in range(period):
        ang = 2.0 * math.pi * ph / period
        rows.append(
            (
                ph,
                math.floor(math.cos(ang) * 1000000 + 0.5),
                math.floor(math.sin(ang) * 1000000 + 0.5),
            )
        )
    return rows


def _pgram_values_sql() -> str:
    rows = []
    for p in _PGRAM_PERIODS:
        for ph, c, s in _pgram_trig_rows(p):
            rows.append(f"({p}, {ph}, {c}, {s})")
    return ",\n  ".join(rows)


_PGRAM_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), seq AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY day_idx
         ) - 1 AS t
  FROM daily
), st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s1
  FROM seq GROUP BY event_type
), trig(period, phase, c_micro, s_micro) AS (
  VALUES
  {_pgram_values_sql()}
), proj AS (
  SELECT q.event_type, g.period,
         CAST(SUM((q.cents * st.n - st.s1) * g.c_micro) AS BIGINT) AS sc,
         CAST(SUM((q.cents * st.n - st.s1) * g.s_micro) AS BIGINT) AS ss,
         MAX(st.n) AS n
  FROM seq q
  JOIN st ON st.event_type = q.event_type
  JOIN trig g ON g.phase = q.t % g.period
  GROUP BY q.event_type, g.period
)
SELECT event_type, CAST(period AS BIGINT) AS period, n,
       FLOOR((CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
             / (CAST(n AS DOUBLE) * n * n * 1e12) * 10 + 0.5) / 10
         AS power_r1
FROM proj
"""


@register("q_window_periodogram", oracle=_PGRAM_ORACLE)
def q_window_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-frequency periodogram (Goertzel-style single-bin DFT) of each
    revenue series at the calendar periods that matter (weekly, monthly):
    spectral power |Σ (x_t − x̄)·e^{{-2πi·t/P}}|² per series and period — the
    frequency-domain seasonality detector next to the lag-domain
    q_window_seasonality/q_window_autocorr (a strong weekly line with a flat
    monthly one says: deseasonalize by 7, don't fit a 30-day term).

    Portability: cos/sin enter BOTH engines as the same 1e-6-snapped integer
    LITERALS — because t·2π/P only takes P distinct angles (t mod P), each
    period contributes a P-row trig table joined on the phase, and the
    projection is exact integer arithmetic ((x·n − Σx)·c_micro sums in
    bigint); only the final normalized power is floated, snapped to 0.1.

    Scale shape: the trig table is a ≤30-row broadcast; centering uses the
    per-series (n, Σx) row — no second pass over the data; the projection is
    one hash aggregate keyed by (series, period). A full FFT at 100 TB is a
    different machine — but pipelines almost always want POWER AT KNOWN
    CALENDAR PERIODS, and that is exactly this one-pass join.
    """
    daily = shared_daily_cents(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day_idx")
    wp = Window.partitionBy("event_type")
    # (n, Σx) as plain window aggregates over the SAME event_type partition
    # the ranking already shuffles on — no separate per-series aggregate, no
    # broadcast join back, no duplicated window subtree (3 fewer stage
    # barriers; measured 1.39 s → sub-second at sf0.1).
    seq = daily.select(
        "event_type",
        "cents",
        (F.row_number().over(w) - 1).alias("t"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
        F.sum("cents").over(wp).cast("bigint").alias("s1"),
    )
    # session memo of the constant ≤37-row trig table (createDataFrame costs
    # ~0.15 s of driver serialization per call; it never changes)
    trig = CACHE.get_or_build(
        spark, "pgram_trig",
        lambda: spark.createDataFrame(
            [(p, ph, c, s) for p in _PGRAM_PERIODS for (ph, c, s) in _pgram_trig_rows(p)],
            "period int, phase int, c_micro long, s_micro long",
        ),
    )
    proj = (
        seq.join(
            F.broadcast(trig),
            F.col("phase") == F.col("t") % F.col("period"),
        )
        .groupBy("event_type", "period")
        .agg(
            F.sum(
                (F.col("cents") * F.col("n") - F.col("s1")) * F.col("c_micro")
            )
            .cast("bigint")
            .alias("sc"),
            F.sum(
                (F.col("cents") * F.col("n") - F.col("s1")) * F.col("s_micro")
            )
            .cast("bigint")
            .alias("ss"),
            F.max("n").alias("n"),
        )
    )
    power = (
        F.floor(
            (
                F.col("sc").cast("double") * F.col("sc")
                + F.col("ss").cast("double") * F.col("ss")
            )
            / (F.col("n").cast("double") * F.col("n") * F.col("n") * 1e12)
            * 10
            + F.lit(0.5)
        )
        / 10
    )
    return proj.select(
        "event_type",
        F.col("period").cast("bigint").alias("period"),
        "n",
        power.alias("power_r1"),
    )


# --- q_events_survival_ci ----------------------------------------------------------

_SURVCI_ORACLE = f"""
WITH life AS (
  SELECT user_id,
         (MAX(epoch_us(ts)) // {_DAY_US} - MIN(epoch_us(ts)) // {_DAY_US}) // 7
           AS weeks
  FROM events GROUP BY user_id
), grid AS (
  SELECT weeks, w FROM life, UNNEST(range(0, 8)) AS t(w)
), risk AS (
  SELECT w AS week,
         CAST(SUM(CASE WHEN weeks >= w THEN 1 ELSE 0 END) AS BIGINT) AS n_risk,
         CAST(SUM(CASE WHEN weeks = w THEN 1 ELSE 0 END) AS BIGINT) AS n_die
  FROM grid GROUP BY w
), haz AS (
  SELECT week, n_risk, n_die,
         FLOOR(LN(CAST(n_risk - n_die AS DOUBLE) / n_risk) * 1000000 + 0.5)
           AS ln_micro,
         FLOOR(CAST(n_die AS DOUBLE) / (CAST(n_risk AS DOUBLE) * (n_risk - n_die))
               * 1000000000 + 0.5) AS g_nano
  FROM risk WHERE n_risk > n_die
), cum AS (
  SELECT week, n_risk, n_die,
         SUM(ln_micro) OVER (
           ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cln,
         SUM(g_nano) OVER (
           ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cg
  FROM haz
)
SELECT week, n_risk, n_die,
       FLOOR(EXP(CAST(cln AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000
         AS survival_r4,
       GREATEST(FLOOR((EXP(CAST(cln AS DOUBLE) / 1000000)
                       - 1.959964 * EXP(CAST(cln AS DOUBLE) / 1000000)
                         * SQRT(CAST(cg AS DOUBLE) / 1000000000))
                      * 10000 + 0.5) / 10000, 0.0) AS lo_r4,
       LEAST(FLOOR((EXP(CAST(cln AS DOUBLE) / 1000000)
                    + 1.959964 * EXP(CAST(cln AS DOUBLE) / 1000000)
                      * SQRT(CAST(cg AS DOUBLE) / 1000000000))
                   * 10000 + 0.5) / 10000, 1.0) AS hi_r4
FROM cum
"""


@register("q_events_survival_ci", oracle=_SURVCI_ORACLE)
def q_events_survival_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival with the GREENWOOD 95% confidence band: S(w)
    via the micro-snapped ln-sum (q_events_survival's product trick) and
    var(S) = S²·Σ d/(n(n−d)) via a nano-snapped cumulative Greenwood term —
    the uncertainty the plain curve hides (a retention 'drop' inside the
    band is noise, not churn). Both cumulative terms ride ONE window; the
    band is a stateless projection; extinction weeks are excluded on both
    engines (n_risk > n_die, where the variance is undefined anyway).

    Parity: each ln and each Greenwood increment is an exact-integer ratio
    snapped to a fixed grid BEFORE the cumulative sums, so both engines
    accumulate identical integers; the normal quantile is the shared
    1.959964 literal; the band clamps to [0, 1] with identical snapped
    comparisons.

    Scale shape: identical to q_events_survival — one user aggregate, an
    8-row grid fold, windows over 8 rows. The CI adds one column, not one
    pass.
    """
    ev = load(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.expr(
            f"CAST((MAX(ts_us) div {_DAY_US} - MIN(ts_us) div {_DAY_US}) div 7"
            " AS BIGINT)"
        ).alias("weeks")
    )
    grid = life.select(
        "weeks", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("week")
    )
    risk = grid.groupBy("week").agg(
        F.sum(F.when(F.col("weeks") >= F.col("week"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_risk"),
        F.sum(F.when(F.col("weeks") == F.col("week"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_die"),
    )
    haz = risk.filter(F.col("n_risk") > F.col("n_die")).select(
        "week",
        "n_risk",
        "n_die",
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("n_die")).cast("double")
                / F.col("n_risk")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("ln_micro"),
        F.floor(
            F.col("n_die").cast("double")
            / (F.col("n_risk").cast("double") * (F.col("n_risk") - F.col("n_die")))
            * 1000000000
            + F.lit(0.5)
        ).alias("g_nano"),
    )
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    cum = haz.select(
        "week",
        "n_risk",
        "n_die",
        F.sum("ln_micro").over(w).alias("cln"),
        F.sum("g_nano").over(w).alias("cg"),
    )
    s_hat = F.exp(F.col("cln").cast("double") / 1000000)
    half = F.lit(1.959964) * s_hat * F.sqrt(F.col("cg").cast("double") / 1000000000)
    r4_ = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return cum.select(
        "week",
        "n_risk",
        "n_die",
        r4_(s_hat).alias("survival_r4"),
        F.greatest(r4_(s_hat - half), F.lit(0.0)).alias("lo_r4"),
        F.least(r4_(s_hat + half), F.lit(1.0)).alias("hi_r4"),
    )


# --- q_orders_trading_day ------------------------------------------------------------

_TDAY_ORACLE = """
WITH daily AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         dayofweek(o_orderdate) AS dow,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY month, dow
), dow_w AS (
  -- global weekday intensity: mean order count per calendar occurrence
  SELECT dow,
         CAST(FLOOR(CAST(SUM(n) AS DOUBLE)
                    / COUNT(DISTINCT month) * 1000000 + 0.5) AS BIGINT)
           AS w_micro
  FROM daily GROUP BY dow
), m AS (
  SELECT d.month,
         CAST(SUM(d.cents) AS BIGINT) AS cents,
         CAST(SUM(d.n) AS BIGINT) AS n_orders,
         CAST(SUM(w.w_micro) AS BIGINT) AS expected_micro
  FROM daily d JOIN dow_w w ON w.dow = d.dow
  GROUP BY d.month
), g AS (
  SELECT CAST(SUM(expected_micro) AS BIGINT) AS tot_exp,
         CAST(COUNT(*) AS BIGINT) AS n_months
  FROM m
)
SELECT month, cents, n_orders,
       FLOOR(CAST(cents AS DOUBLE)
             / (CAST(expected_micro AS DOUBLE) * n_months / tot_exp)
             * 10 + 0.5) / 10 AS adjusted_cents_r1
FROM m, g
"""


@register("q_orders_trading_day", oracle=_TDAY_ORACLE)
def q_orders_trading_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trading-day adjustment of monthly revenue (the X-13-ARIMA-SEATS
    calendar-effect step, reduced to its relational core — and a GENESIS
    domain staple: official monthly statistics are published calendar-
    adjusted): estimate each weekday's intensity from the whole span, score
    every month by the weekday composition it actually contained
    (Σ intensity over its (dow, occurrences)), and divide revenue by the
    month's normalized calendar score — so "March beat February" stops being
    "March had five Fridays".

    Parity: weekday intensities snap to integer micros; each month's
    expected score is an exact integer sum of those micros; the final
    adjustment is one double division of exact operands, snapped to 0.1
    cents.

    Scale shape: facts collapse to (month, dow) — at most 12·7 rows per year
    of data — then two tiny aggregates and a broadcast normalization. The
    100 TB version is identical; calendar adjustment is never the expensive
    part, which is exactly why it belongs IN the engine rather than a
    post-processing script.
    """
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.trunc("o_orderdate", "month").alias("month"),
        F.dayofweek("o_orderdate").alias("dow"),
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dow_w = daily.groupBy(F.col("dow").alias("dw")).agg(
        F.floor(
            F.sum("n").cast("double")
            / F.countDistinct("month")
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w_micro")
    )
    m = (
        daily.join(F.broadcast(dow_w), F.col("dow") == F.col("dw"))
        .groupBy("month")
        .agg(
            F.sum("cents").cast("bigint").alias("cents"),
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("w_micro").cast("bigint").alias("expected_micro"),
        )
    )
    g = m.agg(
        F.sum("expected_micro").cast("bigint").alias("tot_exp"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    adj = (
        F.floor(
            F.col("cents").cast("double")
            / (
                F.col("expected_micro").cast("double")
                * F.col("n_months")
                / F.col("tot_exp")
            )
            * 10
            + F.lit(0.5)
        )
        / 10
    )
    return m.crossJoin(F.broadcast(g)).select(
        "month", "cents", "n_orders", adj.alias("adjusted_cents_r1")
    )


# --- q_window_macd -----------------------------------------------------------

# Dyadic/quarternary EWMA weights keep every smoothed numerator an EXACT
# bigint: fast line α=1/2 over 8 days (weights 2^7..2^0, full-window sum 255),
# slow line α=1/4 over 8 days (weights 3^k·4^(7−k), full-window sum
# 4^8 − 3^8 = 58975), signal α=1/2 over 4 MACD values (weights 8 4 2 1,
# sum 15). Rows are emitted only once ALL lags exist (rn ≥ 11), so the
# denominators are compile-time literals and the only float op is the final
# division of identical integers — bit-exact on both engines.
_MACD_DEPTH = 8
_MACD_FAST_W = [1 << (_MACD_DEPTH - 1 - k) for k in range(_MACD_DEPTH)]
_MACD_SLOW_W = [3**k * 4 ** (_MACD_DEPTH - 1 - k) for k in range(_MACD_DEPTH)]
_MACD_SIG_W = [8, 4, 2, 1]
_MACD_FD = sum(_MACD_FAST_W)   # 255
_MACD_SD = sum(_MACD_SLOW_W)   # 58975
_MACD_GD = sum(_MACD_SIG_W)    # 15

_MACD_FAST_NUM = " + ".join(
    f"LAG(cents, {k}) OVER w * {_MACD_FAST_W[k]}" for k in range(_MACD_DEPTH)
)
_MACD_SLOW_NUM = " + ".join(
    f"LAG(cents, {k}) OVER w * {_MACD_SLOW_W[k]}" for k in range(_MACD_DEPTH)
)
_MACD_SIG_NUM = " + ".join(
    f"LAG(macd_num, {j}) OVER w2 * {_MACD_SIG_W[j]}" for j in range(4)
)

_MACD_ORACLE = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority, o_orderdate AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_orderpriority, o_orderdate
), lines AS (
  SELECT priority, d,
         ROW_NUMBER() OVER w AS rn,
         ({_MACD_FAST_NUM}) * {_MACD_SD}
           - ({_MACD_SLOW_NUM}) * {_MACD_FD} AS macd_num
  FROM daily
  WINDOW w AS (PARTITION BY priority ORDER BY d)
), sig AS (
  SELECT priority, d, rn, macd_num,
         {_MACD_SIG_NUM} AS sig_num
  FROM lines
  WINDOW w2 AS (PARTITION BY priority ORDER BY d)
)
SELECT priority, d, macd_num, sig_num,
       CAST(macd_num AS DOUBLE) / {_MACD_FD * _MACD_SD * 100} AS macd,
       CAST(sig_num AS DOUBLE) / {_MACD_FD * _MACD_SD * _MACD_GD * 100}
         AS signal,
       CAST(macd_num * {_MACD_GD} - sig_num AS DOUBLE)
         / {_MACD_FD * _MACD_SD * _MACD_GD * 100} AS histogram
FROM sig
WHERE rn >= {_MACD_DEPTH + 3}
"""


@register("q_window_macd", oracle=_MACD_ORACLE)
def q_window_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (moving-average convergence/divergence) over each priority
    class's daily revenue series: fast EWMA minus slow EWMA, a signal EWMA
    of that difference, and the histogram (momentum) — the classic
    crossover/trend indicator, here as the finance-flavored member of the
    indicator family next to q_window_bollinger and q_window_rsi.

    Parity engineering: dyadic (α=1/2) and quarternary (α=1/4) weight
    ladders make the fast/slow numerators exact bigints, and the MACD line
    is put over the common denominator 255·58975 so the SIGNAL smoothing
    (α=1/2 over 4 MACD values) stays in exact integer arithmetic too —
    max |sig_num| ≈ 15·(255·59k·max daily cents) ≈ 1e17, inside int64.
    Rows emit only once every lag exists (rn ≥ 11), so denominators are
    literals and each float column is ONE division of identical integers:
    bit-exact, no tolerance.

    Scale shape: one map-side-combined daily aggregate (rows bounded by
    |priority|·|days|, not order count), then TWO window projections over
    the SAME (priority, date) sort — Spark plans one Exchange+Sort and the
    second Window reuses the order. State is O(depth) per series; at 100 TB
    with per-(ticker, day) bars this is the same plan keyed by ticker."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("priority").orderBy("d")
    fast = None
    slow = None
    for k in range(_MACD_DEPTH):
        lagc = F.lag("cents", k).over(w) if k else F.col("cents")
        fterm = lagc * _MACD_FAST_W[k]
        sterm = lagc * _MACD_SLOW_W[k]
        fast = fterm if fast is None else fast + fterm
        slow = sterm if slow is None else slow + sterm
    lines = daily.select(
        "priority",
        "d",
        F.row_number().over(w).alias("rn"),
        (fast * _MACD_SD - slow * _MACD_FD).alias("macd_num"),
    )
    w2 = Window.partitionBy("priority").orderBy("d")
    sig = None
    for j in range(4):
        lagm = F.lag("macd_num", j).over(w2) if j else F.col("macd_num")
        term = lagm * _MACD_SIG_W[j]
        sig = term if sig is None else sig + term
    out = lines.select("priority", "d", "rn", "macd_num", sig.alias("sig_num"))
    d_macd = float(_MACD_FD * _MACD_SD * 100)
    d_sig = float(_MACD_FD * _MACD_SD * _MACD_GD * 100)
    return out.filter(F.col("rn") >= _MACD_DEPTH + 3).select(
        "priority",
        "d",
        "macd_num",
        "sig_num",
        (F.col("macd_num").cast("double") / d_macd).alias("macd"),
        (F.col("sig_num").cast("double") / d_sig).alias("signal"),
        (
            (F.col("macd_num") * _MACD_GD - F.col("sig_num")).cast("double")
            / d_sig
        ).alias("histogram"),
    )


# --- q_window_pacf -----------------------------------------------------------

_PACF_MIN_N = 12  # series shorter than this don't support a lag-3 fit


_PACF_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, {_CENTS} AS c FROM events
), lagged AS (
  SELECT user_id, c,
         LAG(c, 1) OVER w AS l1,
         LAG(c, 2) OVER w AS l2,
         LAG(c, 3) OVER w AS l3
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), moms AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS HUGEINT) AS q,
         CAST(SUM(CASE WHEN l1 IS NOT NULL THEN c * l1 ELSE 0 END) AS HUGEINT) AS p1,
         CAST(SUM(CASE WHEN l1 IS NOT NULL THEN c + l1 ELSE 0 END) AS BIGINT) AS ab1,
         CAST(SUM(CASE WHEN l2 IS NOT NULL THEN c * l2 ELSE 0 END) AS HUGEINT) AS p2,
         CAST(SUM(CASE WHEN l2 IS NOT NULL THEN c + l2 ELSE 0 END) AS BIGINT) AS ab2,
         CAST(SUM(CASE WHEN l3 IS NOT NULL THEN c * l3 ELSE 0 END) AS HUGEINT) AS p3,
         CAST(SUM(CASE WHEN l3 IS NOT NULL THEN c + l3 ELSE 0 END) AS BIGINT) AS ab3
  FROM lagged GROUP BY user_id
), nums AS (
  SELECT user_id, n,
         CAST(n AS HUGEINT) * n * p1 - CAST(n AS HUGEINT) * s * ab1
           + CAST(n - 1 AS HUGEINT) * s * s AS c1s,
         CAST(n AS HUGEINT) * n * p2 - CAST(n AS HUGEINT) * s * ab2
           + CAST(n - 2 AS HUGEINT) * s * s AS c2s,
         CAST(n AS HUGEINT) * n * p3 - CAST(n AS HUGEINT) * s * ab3
           + CAST(n - 3 AS HUGEINT) * s * s AS c3s,
         CAST(n AS HUGEINT) * n * q - CAST(n AS HUGEINT) * s * s AS c0s
  FROM moms
  WHERE n >= {_PACF_MIN_N}
), rho AS (
  SELECT user_id, n,
         CAST(c1s AS DOUBLE) / c0s AS r1,
         CAST(c2s AS DOUBLE) / c0s AS r2,
         CAST(c3s AS DOUBLE) / c0s AS r3
  FROM nums
  WHERE c0s > 0 AND ABS(c1s) < c0s
), lvl2 AS (
  SELECT user_id, n, r1, r2, r3,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS f22
  FROM rho
), lvl3 AS (
  SELECT user_id, n, r1, r2, r3, f22,
         r1 * (1.0 - f22) AS f21,
         1.0 - r1 * (1.0 - f22) * r1 - f22 * r2 AS d3
  FROM lvl2
)
SELECT user_id, n,
       FLOOR(r1 * 10000 + 0.5) / 10000 AS pacf1_r4,
       FLOOR(f22 * 10000 + 0.5) / 10000 AS pacf2_r4,
       FLOOR((r3 - f21 * r2 - f22 * r1) / d3 * 10000 + 0.5) / 10000 AS pacf3_r4
FROM lvl3
WHERE FLOOR(ABS(d3) * 1000000000) >= 1
"""


@register("q_window_pacf", oracle=_PACF_ORACLE)
def q_window_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) of each user's value series via
    Durbin-Levinson — the AR-order identification tool (the PACF cutoff
    picks p in AR(p)) completing the dependence family over
    q_window_autocorr: PACF at lag k is the correlation left AFTER the
    shorter lags are regressed out.

    Exact path: one window projection carries 3 lags; all autocovariances
    reduce to integer co-moment sums scaled by n² —
    n²·c_k = n²·P_k − n·S·(A_k+B_k) + (n−k)·S² — exact 128-bit integers
    (decimal(38,0) ↔ HUGEINT; int64 would cap series length at ~970 rows
    at cents ≤ 1e5, the round-12 overflow audit — SCALE.md §8). ρ_k is one
    int→double division, the
    Durbin-Levinson recursion (φ22, then φ33) is a fixed closed-form double
    sequence identical on both engines, snapped r4. Degenerate series are
    excluded by INTEGER predicates (c0 > 0, |c1| < c0); the level-3
    denominator guard snaps to nano-units so both engines drop the same
    near-singular rows.

    Scale shape: one Exchange+Sort serving 3 LAGs, one hash aggregate to
    per-series sufficient statistics, then pure projection — the mergeable
    co-moment pattern; series count, not length, bounds the output.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.col("ts_us").alias("us"), "event_id", F.expr(_CENTS).alias("c")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    lagged = e.select(
        "user_id",
        "c",
        F.lag("c", 1).over(w).alias("l1"),
        F.lag("c", 2).over(w).alias("l2"),
        F.lag("c", 3).over(w).alias("l3"),
    )

    def pair_sums(lcol: str):
        # product sums aggregate in decimal(38,0) (per-row long product is
        # safe to cents ≤ 3e9; the SUM is what breaches int64 first —
        # at n ≈ 9.2e8 rows/series with cents ≤ 1e5)
        prod = F.sum(
            F.when(
                F.col(lcol).isNotNull(), F.col("c") * F.col(lcol)
            ).otherwise(0).cast("decimal(38,0)")
        )
        both = F.sum(
            F.when(F.col(lcol).isNotNull(), F.col("c") + F.col(lcol)).otherwise(0)
        ).cast("bigint")
        return prod, both

    p1, ab1 = pair_sums("l1")
    p2, ab2 = pair_sums("l2")
    p3, ab3 = pair_sums("l3")
    moms = lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("q"),
        p1.alias("p1"),
        ab1.alias("ab1"),
        p2.alias("p2"),
        ab2.alias("ab2"),
        p3.alias("p3"),
        ab3.alias("ab3"),
    )
    n, s = F.col("n"), F.col("s")
    # 128-bit centered moments (decimal(38,0) ↔ DuckDB HUGEINT): each term
    # is ≤ ~2·n³·C² for series length n and cents ceiling C — int64 would
    # overflow past n ≈ 970 at C = 1e5; decimal(38,0) holds to n ≈ 2.1e9
    # (SCALE.md §8 headroom table, the q_agg_ols2 widening pattern).
    nD = n.cast("decimal(38,0)")
    nums = moms.filter(n >= _PACF_MIN_N).select(
        "user_id",
        "n",
        (nD * n * F.col("p1") - nD * s * F.col("ab1")
         + (n - 1).cast("decimal(38,0)") * s * s).alias("c1s"),
        (nD * n * F.col("p2") - nD * s * F.col("ab2")
         + (n - 2).cast("decimal(38,0)") * s * s).alias("c2s"),
        (nD * n * F.col("p3") - nD * s * F.col("ab3")
         + (n - 3).cast("decimal(38,0)") * s * s).alias("c3s"),
        (nD * n * F.col("q") - nD * s * s).alias("c0s"),
    )
    rho = nums.filter(
        (F.col("c0s") > 0) & (F.abs(F.col("c1s")) < F.col("c0s"))
    ).select(
        "user_id",
        "n",
        (F.col("c1s").cast("double") / F.col("c0s")).alias("r1"),
        (F.col("c2s").cast("double") / F.col("c0s")).alias("r2"),
        (F.col("c3s").cast("double") / F.col("c0s")).alias("r3"),
    )
    lvl2 = rho.select(
        "user_id",
        "n",
        "r1",
        "r2",
        "r3",
        ((F.col("r2") - F.col("r1") * F.col("r1")) / (1.0 - F.col("r1") * F.col("r1"))).alias(
            "f22"
        ),
    )
    lvl3 = lvl2.select(
        "user_id",
        "n",
        "r1",
        "r2",
        "r3",
        "f22",
        (F.col("r1") * (1.0 - F.col("f22"))).alias("f21"),
        (
             1.0
            - F.col("r1") * (1.0 - F.col("f22")) * F.col("r1")
            - F.col("f22") * F.col("r2")
        ).alias("d3"),
    )
    return lvl3.filter(F.floor(F.abs(F.col("d3")) * 1000000000) >= 1).select(
        "user_id",
        "n",
        (F.floor(F.col("r1") * 10000 + F.lit(0.5)) / 10000).alias("pacf1_r4"),
        (F.floor(F.col("f22") * 10000 + F.lit(0.5)) / 10000).alias("pacf2_r4"),
        (
            F.floor(
                (F.col("r3") - F.col("f21") * F.col("r2") - F.col("f22") * F.col("r1"))
                / F.col("d3")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("pacf3_r4"),
    )


# --- q_window_ar2 -----------------------------------------------------------

_AR2_MIN_N = 12  # series shorter than this don't support an AR(2) fit


_AR2_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, {_CENTS} AS c FROM events
), lagged AS (
  SELECT user_id, c,
         LAG(c, 1) OVER wa AS l1,
         LAG(c, 2) OVER wa AS l2,
         ROW_NUMBER() OVER wd AS rnd
  FROM e
  WINDOW wa AS (PARTITION BY user_id ORDER BY us, event_id),
         wd AS (PARTITION BY user_id ORDER BY us DESC, event_id DESC)
), moms AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS HUGEINT) AS q,
         CAST(SUM(CASE WHEN l1 IS NOT NULL THEN c * l1 ELSE 0 END) AS HUGEINT) AS p1,
         CAST(SUM(CASE WHEN l1 IS NOT NULL THEN c + l1 ELSE 0 END) AS BIGINT) AS ab1,
         CAST(SUM(CASE WHEN l2 IS NOT NULL THEN c * l2 ELSE 0 END) AS HUGEINT) AS p2,
         CAST(SUM(CASE WHEN l2 IS NOT NULL THEN c + l2 ELSE 0 END) AS BIGINT) AS ab2,
         CAST(SUM(CASE WHEN rnd = 1 THEN c ELSE 0 END) AS BIGINT) AS x_last,
         CAST(SUM(CASE WHEN rnd = 1 THEN l1 ELSE 0 END) AS BIGINT) AS x_prev
  FROM lagged GROUP BY user_id
), nums AS (
  SELECT user_id, n, s, x_last, x_prev,
         CAST(n AS HUGEINT) * n * p1 - CAST(n AS HUGEINT) * s * ab1
           + CAST(n - 1 AS HUGEINT) * s * s AS c1s,
         CAST(n AS HUGEINT) * n * p2 - CAST(n AS HUGEINT) * s * ab2
           + CAST(n - 2 AS HUGEINT) * s * s AS c2s,
         CAST(n AS HUGEINT) * n * q - CAST(n AS HUGEINT) * s * s AS c0s
  FROM moms
  WHERE n >= {_AR2_MIN_N}
), rho AS (
  SELECT user_id, n, s, x_last, x_prev,
         CAST(c1s AS DOUBLE) / c0s AS r1,
         CAST(c2s AS DOUBLE) / c0s AS r2
  FROM nums
  WHERE c0s > 0 AND ABS(c1s) < c0s
), fit AS (
  SELECT user_id, n, s, x_last, x_prev, r1, r2,
         r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
  FROM rho
  WHERE FLOOR(ABS(1.0 - r1 * r1) * 1000000000) >= 1
)
SELECT user_id, n,
       FLOOR(phi1 * 10000 + 0.5) / 10000 AS phi1_r4,
       FLOOR(phi2 * 10000 + 0.5) / 10000 AS phi2_r4,
       FLOOR((1.0 - phi1 * r1 - phi2 * r2) * 10000 + 0.5) / 10000
         AS resid_ratio_r4,
       FLOOR((CAST(s AS DOUBLE) / n
              + phi1 * (CAST(x_last AS DOUBLE) - CAST(s AS DOUBLE) / n)
              + phi2 * (CAST(x_prev AS DOUBLE) - CAST(s AS DOUBLE) / n))
             * 10000 + 0.5) / 10000 AS forecast_r4
FROM fit
"""


@register("q_window_ar2", oracle=_AR2_ORACLE)
def q_window_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit per user series + one-step-ahead forecast — the
    parametric follow-through to q_window_pacf's order identification:
    φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²), in-sample residual
    variance RATIO 1 − φ₁r₁ − φ₂r₂ (the fit-quality certificate: ≈1 means
    AR(2) explains nothing), and the forecast μ + φ₁(xₙ−μ) + φ₂(xₙ₋₁−μ)
    from the series' last two values.

    Exact path: same n²-scaled integer co-moments as q_window_pacf
    (bigints throughout); the last two observations come from a desc
    ROW_NUMBER in the SAME window projection (one Exchange, two Sorts —
    no join-back pass over the series). The Yule-Walker solve and the
    forecast are one fixed double sequence, identical on both engines,
    snapped r4; near-unit-root series are dropped by the nano-snapped
    1−r₁² guard so both engines exclude identical rows.

    Scale shape: Exchange(user) → Sort asc (2 LAGs) + Sort desc (rn) →
    one hash aggregate to sufficient statistics → projection. Forecast
    backtesting over history re-uses the identical plan with a cutoff
    filter; series count bounds every relation after the aggregate.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.col("ts_us").alias("us"), "event_id", F.expr(_CENTS).alias("c")
    )
    wa = Window.partitionBy("user_id").orderBy("us", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    lagged = e.select(
        "user_id",
        "c",
        F.lag("c", 1).over(wa).alias("l1"),
        F.lag("c", 2).over(wa).alias("l2"),
        F.row_number().over(wd).alias("rnd"),
    )

    def _pair(lcol: str):
        prod = F.sum(
            F.when(F.col(lcol).isNotNull(), F.col("c") * F.col(lcol))
            .otherwise(0)
            .cast("decimal(38,0)")
        )
        both = F.sum(
            F.when(F.col(lcol).isNotNull(), F.col("c") + F.col(lcol)).otherwise(0)
        ).cast("bigint")
        return prod, both

    p1, ab1 = _pair("l1")
    p2, ab2 = _pair("l2")
    moms = lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("q"),
        p1.alias("p1"),
        ab1.alias("ab1"),
        p2.alias("p2"),
        ab2.alias("ab2"),
        F.sum(F.when(F.col("rnd") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("x_last"),
        F.sum(F.when(F.col("rnd") == 1, F.col("l1")).otherwise(0))
        .cast("bigint")
        .alias("x_prev"),
    )
    n, s = F.col("n"), F.col("s")
    # 128-bit centered moments — same widening + bound as q_window_pacf
    # (decimal(38,0) ↔ HUGEINT; int64 caps series length at ~970 rows at
    # cents ≤ 1e5 — SCALE.md §8).
    nD = n.cast("decimal(38,0)")
    nums = moms.filter(n >= _AR2_MIN_N).select(
        "user_id",
        "n",
        "s",
        "x_last",
        "x_prev",
        (nD * n * F.col("p1") - nD * s * F.col("ab1")
         + (n - 1).cast("decimal(38,0)") * s * s).alias("c1s"),
        (nD * n * F.col("p2") - nD * s * F.col("ab2")
         + (n - 2).cast("decimal(38,0)") * s * s).alias("c2s"),
        (nD * n * F.col("q") - nD * s * s).alias("c0s"),
    )
    rho = nums.filter(
        (F.col("c0s") > 0) & (F.abs(F.col("c1s")) < F.col("c0s"))
    ).select(
        "user_id",
        "n",
        "s",
        "x_last",
        "x_prev",
        (F.col("c1s").cast("double") / F.col("c0s")).alias("r1"),
        (F.col("c2s").cast("double") / F.col("c0s")).alias("r2"),
    )
    r1, r2 = F.col("r1"), F.col("r2")
    fit = rho.filter(
        F.floor(F.abs(1.0 - r1 * r1) * 1000000000) >= 1
    ).select(
        "user_id",
        "n",
        "s",
        "x_last",
        "x_prev",
        "r1",
        "r2",
        (r1 * (1.0 - r2) / (1.0 - r1 * r1)).alias("phi1"),
        ((r2 - r1 * r1) / (1.0 - r1 * r1)).alias("phi2"),
    )
    mu = s.cast("double") / n
    phi1, phi2 = F.col("phi1"), F.col("phi2")
    return fit.select(
        "user_id",
        "n",
        (F.floor(phi1 * 10000 + F.lit(0.5)) / 10000).alias("phi1_r4"),
        (F.floor(phi2 * 10000 + F.lit(0.5)) / 10000).alias("phi2_r4"),
        (
            F.floor((1.0 - phi1 * r1 - phi2 * r2) * 10000 + F.lit(0.5)) / 10000
        ).alias("resid_ratio_r4"),
        (
            F.floor(
                (
                    mu
                    + phi1 * (F.col("x_last").cast("double") - mu)
                    + phi2 * (F.col("x_prev").cast("double") - mu)
                )
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("forecast_r4"),
    )


# --- q_events_page_hinkley ------------------------------------------------------

_PH_LAMBDA_MICRO = 100_000_000_000  # alarm threshold: 1e5 value-cents of excursion, micro
_PH_DELTA_CENTS = 0  # drift magnitude hyper-parameter (0 = pure mean-shift)

_PH_ORACLE = f"""
WITH seq AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY epoch_us(ts), event_id) AS t,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
           PARTITION BY event_type ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM events
), term AS (
  SELECT event_type, t, s,
         CAST(FLOOR(CAST(s AS DOUBLE) / t * 1000000 + 0.5) AS BIGINT)
           AS mean_micro
  FROM seq
), mstat AS (
  SELECT event_type, t,
         s * 1000000 - {_PH_DELTA_CENTS} * 1000000 * t
           - SUM(mean_micro) OVER (PARTITION BY event_type ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM term
), ph AS (
  SELECT event_type, t, m,
         m - MIN(m) OVER (PARTITION BY event_type ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
  FROM mstat
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN ph > {_PH_LAMBDA_MICRO} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       CAST(MIN(CASE WHEN ph > {_PH_LAMBDA_MICRO} THEN t END) AS BIGINT)
         AS first_alarm_t,
       CAST(MAX(ph) AS BIGINT) AS max_ph_micro
FROM ph GROUP BY event_type
"""


@register("q_events_page_hinkley", oracle=_PH_ORACLE)
def q_events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift detector over each event type's value stream —
    the sequential drift test a data-quality pipeline runs on a metric feed
    (the streaming sibling of q_window_cusum / q_window_changepoint):
    m_T = Σ_{{t≤T}} (x_t − x̄_t − δ) with x̄_t the running mean, alarm when
    m_T − min_{{s≤T}} m_s exceeds λ. Reports per stream: alarms fired, the
    first alarm's position, and the maximum excursion.

    Parity engineering: the only division (the running mean S_t/t) is
    micro-snapped PER TERM to an exact bigint before the cumulative sum, so
    m and the running minimum are EXACT integers on both engines — no float
    accumulation anywhere (the dec_sum discipline applied to a sequential
    statistic). Order is the deterministic (ts, event_id) tie-break.

    Scale shape: two stacked cumulative windows per stream (one sort,
    shared partition spec — Spark plans a single Exchange+Sort and chained
    WindowExecs), then a map-side-combined rollup. Per-stream micro-sums
    stay under int64 to ~10¹⁰ events/stream; past that the relief valve is
    the decimal(38,0) cast (q_events_bot_screen pattern). In Structured
    Streaming the same statistic is the applyInPandasWithState per-key
    fold (q_stream_stateful_profile's slot).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    seq = ev.select(
        "event_type",
        F.expr(_CENTS).alias("c"),
        F.row_number().over(w).alias("t"),
        F.sum(F.expr(_CENTS)).over(wcum).cast("bigint").alias("s"),
    )
    term = seq.select(
        "event_type",
        "t",
        "s",
        F.floor(F.col("s").cast("double") / F.col("t") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("mean_micro"),
    )
    w2 = Window.partitionBy("event_type").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    mstat = term.select(
        "event_type",
        "t",
        (
            F.col("s") * 1000000
            - F.lit(_PH_DELTA_CENTS) * 1000000 * F.col("t")
            - F.sum("mean_micro").over(w2)
        ).alias("m"),
    )
    ph = mstat.select(
        "event_type",
        "t",
        (F.col("m") - F.min("m").over(w2)).alias("ph"),
    )
    return ph.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("ph") > _PH_LAMBDA_MICRO, 1).otherwise(0))
        .cast("bigint")
        .alias("n_alarms"),
        F.min(F.when(F.col("ph") > _PH_LAMBDA_MICRO, F.col("t")))
        .cast("bigint")
        .alias("first_alarm_t"),
        F.max("ph").cast("bigint").alias("max_ph_micro"),
    )


# --- q_window_ljung_box --------------------------------------------------------

_LB_LAGS = 5
_LB_CRIT_MICRO = 11_070_498  # chi-square(5) 0.95 critical value, micro-snapped


def _lb_oracle() -> str:
    nd, sd, qd = "CAST(n AS DOUBLE)", "CAST(s AS DOUBLE)", "CAST(q AS DOUBLE)"
    terms = []
    for k in range(1, _LB_LAGS + 1):
        num = (
            f"({nd} * {nd} * CAST(p{k} AS DOUBLE)"
            f" - {nd} * {sd} * CAST(b{k} AS DOUBLE)"
            f" + ({nd} - {k}) * {sd} * {sd})"
        )
        terms.append(f"({num} / den) * ({num} / den) / ({nd} - {k})")
    tsum = " + ".join(terms)
    pcols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN CAST(cents AS HUGEINT) * l{k}"
        f" ELSE 0 END) AS HUGEINT) AS p{k},\n         "
        f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN cents + l{k} ELSE 0 END)"
        f" AS BIGINT) AS b{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    lcols = ",\n         ".join(
        f"LAG(cents, {k}) OVER (PARTITION BY event_type ORDER BY day_idx) AS l{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
), lagged AS (
  SELECT event_type, cents,
         {lcols}
  FROM daily
), moms AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q,
         {pcols}
  FROM lagged GROUP BY event_type
), d AS (
  SELECT *, {nd} * {nd} * {qd} - {nd} * {sd} * {sd} AS den
  FROM moms WHERE n > {2 * _LB_LAGS}
)
SELECT event_type, n AS n_days,
       CAST(FLOOR({nd} * ({nd} + 2) * ({tsum}) * 1000000 + 0.5) AS BIGINT)
         AS q_micro,
       CAST(FLOOR({nd} * ({nd} + 2) * ({tsum}) * 1000000 + 0.5) AS BIGINT)
         > {_LB_CRIT_MICRO} AS autocorrelated
FROM d WHERE den > 0
"""


@register("q_window_ljung_box", oracle=_lb_oracle())
def q_window_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test (m=5 lags) on each event
    stream's daily-revenue series — the residual-diagnostics gate every
    forecasting pipeline runs after a fit (and before trusting
    q_window_holt/q_window_ar2 outputs): Q = n(n+2)·Σ_k r_k²/(n−k),
    rejected against the chi-square(5) 95% critical value. Completes the
    inferential family's time-series corner (trend: Mann-Kendall;
    whiteness: this).

    Parity: each lag-k autocorrelation is the ratio of n²-scaled co-moments
    (n²P_k − nSB_k + (n−k)S² over n²Q − nS²) whose inputs are EXACT bigint
    sums; the scaling products exceed int64 for long rich series, so the
    scaled expressions evaluate in doubles — the IDENTICAL fixed IEEE
    sequence on both engines (same casts, same association order), then
    one micro snap of Q. The critical value enters both engines as the
    same micro-snapped literal. Degenerate series (n ≤ 2m or zero
    variance) are dropped identically.

    Scale shape: third consumer of the shared daily rollup
    (build_daily_cents); all five LAGs ride ONE per-stream day-ordered
    window sort, then one hash aggregate to sufficient statistics — the
    q_window_ar2 plan with more lags. Relations after the rollup are
    bounded by streams × days.
    """
    daily = shared_daily_cents(spark, sf_dir)
    wa = Window.partitionBy("event_type").orderBy("day_idx")
    lag_cols = [
        F.lag("cents", k).over(wa).alias(f"l{k}")
        for k in range(1, _LB_LAGS + 1)
    ]
    lagged = daily.select("event_type", "cents", *lag_cols)
    # per-row DAILY-cents products widen to decimal(38,0) ↔ HUGEINT: one
    # stream-day of revenue can exceed 3e9 cents at warehouse scale, and
    # cents² then breaches int64 per ROW, not just in the sum (round-12
    # overflow audit — SCALE.md §8).
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("q"),
    ]
    for k in range(1, _LB_LAGS + 1):
        lk = F.col(f"l{k}")
        aggs.append(
            F.sum(
                F.when(
                    lk.isNotNull(), F.col("cents").cast("decimal(38,0)") * lk
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias(f"p{k}")
        )
        aggs.append(
            F.sum(F.when(lk.isNotNull(), F.col("cents") + lk).otherwise(0))
            .cast("bigint")
            .alias(f"b{k}")
        )
    moms = lagged.groupBy("event_type").agg(*aggs).filter(
        F.col("n") > 2 * _LB_LAGS
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    den = nd * nd * qd - nd * sd * sd
    d = moms.withColumn("den", den).filter(F.col("den") > 0)
    tsum = None
    for k in range(1, _LB_LAGS + 1):
        num = (
            nd * nd * F.col(f"p{k}").cast("double")
            - nd * sd * F.col(f"b{k}").cast("double")
            + (nd - F.lit(float(k))) * sd * sd
        )
        term = (num / F.col("den")) * (num / F.col("den")) / (
            nd - F.lit(float(k))
        )
        tsum = term if tsum is None else tsum + term
    q_micro = F.floor(nd * (nd + 2) * tsum * 1000000 + F.lit(0.5)).cast(
        "bigint"
    )
    return d.select(
        "event_type",
        F.col("n").alias("n_days"),
        q_micro.alias("q_micro"),
        (q_micro > _LB_CRIT_MICRO).alias("autocorrelated"),
    )


# --- q_events_esd -----------------------------------------------------------------

_ESD_ROUNDS = 3


def _esd_oracle() -> str:
    """Three unrolled ESD rounds: each stage ranks the remaining days by
    n-scaled absolute deviation (exact integers), removes the per-stream
    argmax, and updates the moments by subtraction — the same fixed
    structure the Spark plan unrolls."""
    stage = """, m{r} AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(cents * cents) AS BIGINT) AS q
  FROM c{r} GROUP BY event_type
), rk{r} AS (
  SELECT c{r}.event_type, day_idx, cents, n, s, q,
         ROW_NUMBER() OVER (PARTITION BY c{r}.event_type
             ORDER BY ABS(n * cents - s) DESC, day_idx) AS rn
  FROM c{r} JOIN m{r} ON c{r}.event_type = m{r}.event_type
), p{r} AS (
  SELECT event_type, day_idx, cents, n,
         CAST(FLOOR(ABS(n * cents - s)
              / SQRT(CAST(n AS DOUBLE)
                     * (CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                     / (n - 1))
              * 1000000 + 0.5) AS BIGINT) AS r_micro,
         {r} AS round
  FROM rk{r}
  WHERE rn = 1 AND CAST(n AS DOUBLE) * q > CAST(s AS DOUBLE) * s AND n > 2
), c{nxt} AS (
  SELECT c{r}.* FROM c{r}
  LEFT JOIN p{r} ON c{r}.event_type = p{r}.event_type
                AND c{r}.day_idx = p{r}.day_idx
  WHERE p{r}.day_idx IS NULL
)"""
    sql = f"""
WITH c1 AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day_idx
)"""
    for r in range(1, _ESD_ROUNDS + 1):
        sql += stage.format(r=r, nxt=r + 1)
    unions = "\nUNION ALL\n".join(
        f"SELECT event_type, CAST(round AS BIGINT) AS round, day_idx, cents,"
        f" r_micro, n AS n_at_round FROM p{r}"
        for r in range(1, _ESD_ROUNDS + 1)
    )
    return sql + "\n" + unions


@register("q_events_esd", oracle=_esd_oracle())
def q_events_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-ESD outlier screen (Rosner's test, 3 unrolled rounds) on
    each stream's daily-revenue series — the MULTI-outlier companion to the
    single-shot z-score/Hampel screens: each round studentizes the most
    extreme remaining day (R = |x − x̄|/s over the CURRENT remaining set),
    removes it, and recomputes the moments — masking-proof where a naive
    3-sigma rule lets one huge outlier hide another. Output: per (stream,
    round) the flagged day, its R statistic, and the set size the round
    tested; the caller compares R against the standard λ table for their α
    (the one t-quantile piece that is a lookup, not data math).

    Parity: the per-round argmax ranks EXACT n-scaled integer deviations
    |n·x − s| (ties to the earliest day), the removal updates integer
    moments by subtraction, and only the reported R is one snapped double
    per round. Degenerate rounds (zero variance or n ≤ 2) emit nothing in
    both engines.

    Scale shape (round-12 rewrite, guide §2.4 — remove shuffles outright):
    fourth consumer of the shared daily rollup (build_daily_cents). A
    stream's daily series is CALENDAR-BOUNDED (one row per stream-day —
    years of history is a few thousand elements), so all three rounds run
    IN-ROW over a per-stream collected array: one hash aggregate gathers
    each stream's (day, cents) list, and each unrolled round is pure
    codegen'd higher-order-function work — moments via aggregate(), the
    per-round argmax via an associative (dev DESC, day ASC) reduce (order-
    independent, so collect order never matters), removal via filter().
    The former shape paid 3 × (5-row aggregate + broadcast join + per-
    stream window + anti-join + checkpoint) ≈ 14 stages over the same
    collapsed relation; this is the rollup + ONE aggregate + a projection,
    with identical integer/double arithmetic per round (the same long
    moments, the same double cast sequence in guard and studentization).
    At 100 TB the rollup is the only fact-scale pass, unchanged.
    """
    daily = shared_daily_cents(spark, sf_dir)
    grouped = daily.groupBy("event_type").agg(
        F.collect_list(F.struct("day_idx", "cents")).alias("a1")
    )
    cur = grouped
    pick_cols = []
    for r in range(1, _ESD_ROUNDS + 1):
        a = f"a{r}"
        # round moments (exact longs — the former 5-row aggregate)
        cur = cur.withColumns(
            {
                f"n{r}": F.expr(f"CAST(size({a}) AS BIGINT)"),
                f"s{r}": F.expr(
                    f"aggregate({a}, CAST(0 AS BIGINT), (acc, x) -> acc + x.cents)"
                ),
                f"q{r}": F.expr(
                    f"aggregate({a}, CAST(0 AS BIGINT),"
                    f" (acc, x) -> acc + x.cents * x.cents)"
                ),
            }
        )
        # argmax by (|n·x − s| DESC, day_idx ASC) — an associative reduce,
        # the former per-stream row_number window's rn = 1 row
        cur = cur.withColumn(
            f"b{r}",
            F.expr(
                f"aggregate({a},"
                f" named_struct('dev', CAST(-1 AS BIGINT),"
                f"               'day_idx', CAST(-1 AS BIGINT),"
                f"               'cents', CAST(0 AS BIGINT)),"
                f" (acc, x) -> CASE WHEN abs(n{r} * x.cents - s{r}) > acc.dev"
                f"   OR (abs(n{r} * x.cents - s{r}) = acc.dev"
                f"       AND x.day_idx < acc.day_idx)"
                f"   THEN named_struct('dev', abs(n{r} * x.cents - s{r}),"
                f"                     'day_idx', x.day_idx, 'cents', x.cents)"
                f"   ELSE acc END)"
            ),
        )
        # n·q exceeds int64 for long rich series — the guard and the
        # denominator run in doubles, the IDENTICAL cast/association
        # sequence in both engines (the q_window_ljung_box rationale)
        cur = cur.withColumn(
            f"ok{r}",
            F.expr(
                f"CAST(n{r} AS DOUBLE) * q{r} > CAST(s{r} AS DOUBLE) * s{r}"
                f" AND n{r} > 2"
            ),
        )
        pick_cols.append(
            F.expr(
                f"CASE WHEN ok{r} THEN named_struct("
                f" 'round', CAST({r} AS BIGINT),"
                f" 'day_idx', b{r}.day_idx,"
                f" 'cents', b{r}.cents,"
                f" 'r_micro', CAST(FLOOR(CAST(b{r}.dev AS DOUBLE)"
                f"   / SQRT(CAST(n{r} AS DOUBLE)"
                f"          * (CAST(n{r} AS DOUBLE) * q{r}"
                f"             - CAST(s{r} AS DOUBLE) * s{r})"
                f"          / (n{r} - 1))"
                f"   * 1000000 + 0.5) AS BIGINT),"
                f" 'n_at_round', n{r}) END"
            )
        )
        if r < _ESD_ROUNDS:
            # remove the pick only when it was emitted — a failed guard
            # leaves the set unchanged, exactly like the former anti-join
            # against an empty pick relation
            cur = cur.withColumn(
                f"a{r + 1}",
                F.expr(
                    f"CASE WHEN ok{r}"
                    f" THEN filter({a}, x -> x.day_idx != b{r}.day_idx)"
                    f" ELSE {a} END"
                ),
            )
    picks = cur.select(
        "event_type",
        F.explode(
            F.filter(F.array(*pick_cols), lambda p: p.isNotNull())
        ).alias("p"),
    )
    return picks.select(
        "event_type",
        F.col("p.round").alias("round"),
        F.col("p.day_idx").alias("day_idx"),
        F.col("p.cents").alias("cents"),
        F.col("p.r_micro").alias("r_micro"),
        F.col("p.n_at_round").alias("n_at_round"),
    )


# --- q_window_ohlc ------------------------------------------------------------

_OHLC_ORACLE = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day_idx,
         epoch_us(ts) AS us, event_id, value
  FROM events
), ranked AS (
  SELECT event_type, day_idx, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_idx
                            ORDER BY us, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_idx
                            ORDER BY us DESC, event_id DESC) AS rn_d
  FROM e
)
SELECT event_type, day_idx,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS volume
FROM ranked GROUP BY event_type, day_idx
"""


@register("q_window_ohlc", oracle=_OHLC_ORACLE)
def q_window_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick resample — the canonical downsampled view of any
    metric stream (finance bars, SLO dashboards, sensor rollups): per
    (event_type, day), the first / max / min / last value plus the tick
    count. First/last are defined by the total order (ts_us, event_id) —
    the unique-key tie-break every windowed query in this module uses, so
    the bars are engine-stable even at equal timestamps.

    Plan shape: one shuffle on (event_type, day_idx) serves BOTH window
    directions (same partition spec; Spark stacks the two row_numbers in
    one Window exec over one sort) and the final aggregate reuses the
    partitioning under AQE. open/high/low/close are selections of EXISTING
    doubles (no arithmetic), so cross-engine equality is byte-level. At
    100 TB the day bucket bounds every partition; a skewed hot metric
    still splits across days, and the bar count (types × days) stays tiny
    relative to the input — the classic M4/LTTB-family reduction, here as
    the exact-by-construction variant."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.expr(f"ts_us div {_DAY_US}").alias("day_idx"),
        "ts_us",
        "event_id",
        "value",
    )
    w_a = Window.partitionBy("event_type", "day_idx").orderBy("ts_us", "event_id")
    w_d = Window.partitionBy("event_type", "day_idx").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    ranked = e.select(
        "event_type",
        "day_idx",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "day_idx").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("volume"),
    )
