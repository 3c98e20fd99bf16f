"""Event-stream operators in batch form: JSON extraction, tumbling /
sliding windows, gaps-and-islands sessionization. The streaming module
runs the same shapes through Structured Streaming; these batch variants
are the DuckDB-oracle-able twins (SURVEY.md §5, FIXTURES.md §3).

Windows: ``_window_agg`` is the one windowed aggregate (group by a
``window``/``session_window`` column and keys, render the window start
as text). ``_tumbling_counts`` and ``_sliding_counts`` are functions of
their input frame, so ``events_tumbling_window`` and
``events_sliding_window`` run them on the events table and the
streaming module's twins run the same functions on the watermarked
event stream. ``_SQL_SESSION_ID`` is the one running-sum session id of
the gaps-and-islands oracles.

Drift: ``_psi`` is the one integer-pico PSI stage (``_sql_psi`` its
oracle twin), used by ``events_drift_psi``, ``value_drift_continuous``
and the streaming module's ``streaming_drift_monitor``.

Scale notes: time-window aggregation shuffles once on (window, keys);
sessionization shuffles once on user_id, then the lag/cumsum windows run
within partitions. Both survive 100x data: the shuffle key is the
natural partition key and there is no driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.operators.base import (
    QueryFn,
    barrier,
    ln_micros,
    ppm,
    table,
)
from spark_kafka_airflow_pipeline_spark.operators.relational import dsum, SQL_DSUM


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pull a typed value out of the JSON props column and aggregate —
    the reference's to_json wire format read back (`from_json`
    counterpart of PipelineProcessor.scala:150)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("k").alias("sum_k"),
             F.max("k").alias("max_k"))
    )


EVENTS_JSON_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
"""


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the VARIANT type (Spark 4): ``parse_json``
    decodes each JSON document ONCE into Spark's binary variant encoding;
    every subsequent ``variant_get`` is a cheap binary path lookup, not a
    re-parse — at 100 TB with many extractions per document that is the
    difference between one JSON parse and N of them
    (``get_json_object`` re-parses per call; cf. ``events_json_extract``).

    Shape: decile histogram of props.k per event_type."""
    e = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        e.select("event_type", (F.floor(k / 10) * 10).alias("k_decile"),
                 k.alias("k"))
        .groupBy("event_type", "k_decile")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    )


EVENTS_VARIANT_SQL = """
WITH x AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events
)
SELECT event_type,
       CAST(floor(k / 10.0) * 10 AS BIGINT) AS k_decile,
       COUNT(*) AS n_events, MIN(k) AS min_k, MAX(k) AS max_k
FROM x
GROUP BY 1, 2
"""


def _window_agg(df: DataFrame, window: Column, keys: list[str | Column],
                aggs: list[Column], start: str = "window_start") -> DataFrame:
    """``aggs`` per (``window``, ``keys``) of ``df``: the window start
    rendered as ``yyyy-MM-dd HH:mm:ss`` text in column ``start``, then
    the keys and the aggregates, in that order. ``window`` is a
    ``window`` or ``session_window`` column; on a stream the frame's
    watermark bounds the aggregate's state."""
    agg = df.groupBy(window.alias("w"), *keys).agg(*aggs)
    return agg.select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                      .alias(start), *agg.columns[1:])


def _tumbling_counts(e: DataFrame) -> DataFrame:
    """Events and decimal value sums per 1-hour window and event type."""
    return _window_agg(e, F.window("ts", "1 hour"), ["event_type"],
                       [F.count(F.lit(1)).alias("n_events"),
                        dsum(F.col("value"), "sum_value")])


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts per event type (batch twin of the
    streaming window aggregation)."""
    return _tumbling_counts(table(spark, sf_dir, "events"))


EVENTS_TUMBLING_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events,
       {SQL_DSUM.format(expr='value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


def _sliding_counts(e: DataFrame) -> DataFrame:
    """Events per 1-hour window sliding every 30 minutes."""
    return _window_agg(e, F.window("ts", "1 hour", "30 minutes"), [],
                       [F.count(F.lit(1)).alias("n_events")])


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes — each event lands in two
    windows. Spark's window() generates them directly; the oracle unions
    the two aligned bucketings."""
    return _sliding_counts(table(spark, sf_dir, "events"))


EVENTS_SLIDING_SQL = """
WITH starts AS (
  -- make_timestamp(micros) keeps the timestamp naive; to_timestamp would
  -- return TIMESTAMPTZ and drift with the session timezone
  SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000)
         AS window_start FROM events
  UNION ALL
  SELECT make_timestamp((CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) - 1800) * 1000000)
  FROM events
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events
FROM starts
GROUP BY 1
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a session breaks after a 30-min
    silence per user. Returns per-user session counts + event counts.

    One shuffle on user_id; lag + cumulative-sum windows share the same
    partitioning so Catalyst plans a single exchange.
    """
    e = table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast to double (fractional seconds) — a long cast truncates to
    # whole seconds and disagrees with DuckDB's epoch() at boundaries
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(by_user)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sessions = (
        e.select("user_id", "event_id", "ts")
        .withColumn("is_new", new_session)
        .withColumn("session_id", F.sum("is_new").over(
            by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return (
        sessions.groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
    )


EVENTS_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged
GROUP BY user_id
"""


#: The session id of the gaps-and-islands oracles: the running sum of
#: the ``is_new`` flags in each user's (ts, event_id) order.
_SQL_SESSION_ID = """SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid"""


def events_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum of value over event time."""
    e = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return e.select(
        "user_id", "event_id",
        F.sum(F.col("value").cast("decimal(20,6)")).over(w)
        .cast("double").alias("running_value"),
    )


EVENTS_RUNNING_SQL = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(20,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_value
FROM events
"""


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per purchase, count/sum the same user's clicks in the
    preceding hour ([ts-1h, ts)).

    A naive inequality join plans as BroadcastNestedLoopJoin — quadratic
    per user-pairing and a 100 TB non-starter. This BUCKETS time into
    1-hour grains: a click at t can only match purchases in its own or
    the next bucket, so each click emits <= 2 (user, bucket) keys, the
    join becomes an EQUALITY join on (user_id, bucket) (hash-join,
    shuffle on bounded keys), and the exact interval predicate filters
    the residue. Left outer + coalesce keeps zero-click purchases.
    Bucket width == range width bounds fan-out at 2x regardless of data.
    """
    e = table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    bucket = (F.unix_micros("ts") / hour_us).cast("long")
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("p_ts"), bucket.alias("bucket")))
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", F.col("ts").alias("c_ts"),
                      F.col("value").alias("c_value"),
                      F.explode(F.array(bucket, bucket + 1)).alias("bucket")))
    in_range = ((F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
                & (F.col("c_ts") < F.col("p_ts")))
    joined = (purchases.join(clicks, ["user_id", "bucket"], "left_outer")
              .withColumn("hit", F.when(in_range, 1).otherwise(0)))
    return (
        joined.groupBy("purchase_id")
        .agg(F.sum("hit").alias("n_clicks_1h"),
             dsum(F.when(in_range, F.col("c_value")).otherwise(F.lit(None)),
                  "click_value_1h"))
        .select("purchase_id", "n_clicks_1h",
                F.coalesce("click_value_1h", F.lit(0.0)).alias("click_value_1h"))
    )


EVENTS_RANGE_JOIN_SQL = f"""
SELECT p.event_id AS purchase_id,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_1h,
       COALESCE({SQL_DSUM.format(expr='c.value')}, 0.0) AS click_value_1h
FROM events p
LEFT OUTER JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
"""




def events_hourly_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per event, the sum/count of the same user's
    values over the PRECEDING HOUR of event time — the moving-window
    analytic a ROWS frame cannot express (peers are selected by time
    distance, not row position).

    The frame key is integer epoch-MICROSECONDS in both engines (Spark
    rangeBetween needs a numeric orderBy; micros keep the comparison
    exact — a seconds cast would truncate and disagree with an INTERVAL
    frame). One shuffle on user_id; decimal sums keep the frame
    aggregation order-independent.
    """
    e = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"))
         .rangeBetween(-3_600_000_000, 0))
    return e.select(
        "user_id", "event_id",
        F.sum(F.col("value").cast("decimal(20,6)")).over(w)
        .cast("double").alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("n_events_hour"),
    )


EVENTS_RANGE_FRAME_SQL = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(20,6)))
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS hour_sum,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS n_events_hour
FROM events
"""


def _asof_cogroup_kernel(purchases, clicks):
    """Cogrouped-applyInPandas kernel (runs per HASH BUCKET of users on
    executors): replay both event sets in (user, ts, event_id) order,
    forward-fill the click value within each user, and emit each
    purchase with the value carried from the user's previous row —
    bitwise the same semantics as the window-based
    ``asof_last_click_before_purchase``. All pandas ops are vectorized
    groupby transforms; no per-row Python."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    if not len(purchases):
        return pd.DataFrame({"user_id": pd.Series(dtype="int64"),
                             "event_id": pd.Series(dtype="int64"),
                             "last_click_value": pd.Series(dtype="float64")})
    purchases = purchases.assign(is_purchase=True)
    clicks = clicks.assign(is_purchase=False)
    both = (pd.concat([purchases, clicks], ignore_index=True)
            .sort_values(["user_id", "ts", "event_id"], kind="mergesort")
            .reset_index(drop=True))
    vals = both["value"].where(~both["is_purchase"])
    grouped = vals.groupby(both["user_id"])
    carried = grouped.ffill().groupby(both["user_id"]).shift(1)
    out = both[both["is_purchase"]]
    return pd.DataFrame({"user_id": out["user_id"],
                         "event_id": out["event_id"],
                         "last_click_value": carried[out.index]})


def _asof_cogroup_arrow_kernel(purchases, clicks):  # noqa: ANN001, ANN201
    """Arrow-native twin of ``_asof_cogroup_kernel`` (cogrouped
    ``applyInArrow``): the same replay — lexsort both event sets by
    (user, ts, event_id), forward-fill click values within each user
    via segmented maximum.accumulate over source indices, shift by one
    row within the user segment, emit purchases. Pure numpy on Arrow
    buffers; NaN carried values are emitted as Arrow NULLs to match
    the oracle's NULL semantics."""
    import numpy as np
    import pyarrow as pa

    def col(t, name):
        return t.column(name).to_numpy(zero_copy_only=False)

    if purchases.num_rows == 0:
        return pa.table({"user_id": pa.array([], pa.int64()),
                         "event_id": pa.array([], pa.int64()),
                         "last_click_value": pa.array([], pa.float64())})
    u = np.concatenate([col(purchases, "user_id"), col(clicks, "user_id")])
    ts = np.concatenate([col(purchases, "ts"), col(clicks, "ts")])
    eid = np.concatenate([col(purchases, "event_id"),
                          col(clicks, "event_id")])
    isp = np.concatenate([np.ones(purchases.num_rows, bool),
                          np.zeros(clicks.num_rows, bool)])
    val = np.concatenate([np.full(purchases.num_rows, np.nan),
                          col(clicks, "value")])
    order = np.lexsort((eid, ts, u))
    u, ts, eid, isp, val = u[order], ts[order], eid[order], isp[order], \
        val[order]
    n = len(u)
    new_user = np.ones(n, bool)
    new_user[1:] = u[1:] != u[:-1]
    seg_start = np.maximum.accumulate(
        np.where(new_user, np.arange(n), -1))
    valid = ~np.isnan(val)
    acc = np.maximum.accumulate(np.where(valid, np.arange(n), -1))
    ffilled = np.where(acc >= seg_start, acc, -1)
    prev = np.arange(n) - 1
    shift_src = np.where(prev >= seg_start, ffilled[np.clip(prev, 0, None)],
                         -1)
    carried = np.where(shift_src >= 0, val[np.clip(shift_src, 0, None)],
                       np.nan)
    out = isp
    cv = carried[out]
    return pa.table({
        "user_id": pa.array(u[out], pa.int64()),
        "event_id": pa.array(eid[out], pa.int64()),
        "last_click_value": pa.array(cv, pa.float64(),
                                     mask=np.isnan(cv)),
    })


def asof_cogroup_arrow(spark: SparkSession, sf_dir: str,
                       n_buckets: int | None = None) -> DataFrame:
    """AS-OF join via COGROUPED ``applyInArrow`` — the Arrow-native
    cogroup cell of the Python-UDF matrix (see
    ``textops.doc_source_arrow_stats`` for the grouped cell). Same
    bucketed-key amortization as ``asof_cogroup_pandas`` and the same
    window-twin oracle, so both cogroup APIs are held to one
    hash-exact gate.

    The two cogroup sides are built from SEPARATE scans of the events
    table (distinct attribute ids), not two filters of one DataFrame:
    with a shared scan, Spark 4.1's attribute dedup binds the right
    side's kernel arguments to the LEFT side's ids, and under a
    pruning consumer (``df.count()``, a noop write) column pruning then
    strips the right side to just the grouping key — the Arrow kernel
    receives a clicks table whose only column is ``bkt`` and crashes.
    A collecting consumer keeps all columns, which is why the oracle
    harness never saw it (r17 found it the first time the timing sweep
    ran this query under ``count()``)."""
    n_buckets = n_buckets or 2 * spark.sparkContext.defaultParallelism
    purchases = (table(spark, sf_dir, "events")
                 .filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts", "value",
                         F.pmod("user_id", F.lit(n_buckets)).alias("bkt")))
    clicks = (table(spark, sf_dir, "events")
              .filter(F.col("event_type") == "click")
              .select("user_id", "event_id", "ts", "value",
                      F.pmod("user_id", F.lit(n_buckets)).alias("bkt")))
    return (purchases.groupBy("bkt")
            .cogroup(clicks.groupBy("bkt"))
            .applyInArrow(
                _asof_cogroup_arrow_kernel,
                schema="user_id long, event_id long, last_click_value double"))


def asof_cogroup_pandas(spark: SparkSession, sf_dir: str,
                        n_buckets: int | None = None) -> DataFrame:
    """AS-OF join via COGROUPED ``applyInPandas`` — the pandas-UDF
    escape hatch for per-key merge logic Spark can't express natively
    (SURVEY.md §2.2 UDF surface). Shares the window-based twin's DuckDB
    oracle, so the exotic API is held to the same hash-exact gate.

    COGROUP GRANULARITY: the key is ``pmod(user_id, n_buckets)``, NOT
    the raw user — every Python kernel invocation costs an Arrow
    round-trip plus interpreter dispatch (~1-3 ms), so keying on raw
    user_id paid that thousands of times (measured 8-10 s at sf0.1);
    ~2 buckets per core amortizes it (~1 s) while the kernel stays
    fully vectorized across the users inside a bucket. The same trick
    is the difference between hours and minutes for grouped pandas
    UDFs on a 100 TB key space; bucket memory is bounded at
    events/n_buckets rows, tunable.

    Cogroup sides from SEPARATE scans (r18, defensive): this variant
    happened to run clean under pruning consumers with a shared scan,
    but it is the same hazard class ``asof_cogroup_arrow`` crashed on
    (attribute dedup + column pruning stripping one side to the
    grouping key), so both variants now use the separate-scan shape
    and both are pinned under ``df.count()`` by
    tests/test_round18_opt.py."""
    n_buckets = n_buckets or 2 * spark.sparkContext.defaultParallelism
    purchases = (table(spark, sf_dir, "events")
                 .filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts", "value",
                         F.pmod("user_id", F.lit(n_buckets)).alias("bkt")))
    clicks = (table(spark, sf_dir, "events")
              .filter(F.col("event_type") == "click")
              .select("user_id", "event_id", "ts", "value",
                      F.pmod("user_id", F.lit(n_buckets)).alias("bkt")))
    return (purchases.groupBy("bkt")
            .cogroup(clicks.groupBy("bkt"))
            .applyInPandas(
                _asof_cogroup_kernel,
                schema="user_id long, event_id long, last_click_value double"))


ASOF_COGROUP_SQL = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type, value
  FROM events WHERE event_type IN ('click', 'purchase')
),
carried AS (
  SELECT user_id, event_id, event_type,
         last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_value
  FROM tagged
)
SELECT user_id, event_id, last_click_value
FROM carried WHERE event_type = 'purchase'
"""




def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel: first view -> click within 1 h ->
    purchase within 1 h of that click, per user; emits users surviving
    each stage. Each stage is an aggregate anchored on the previous
    stage's MIN timestamp (deterministic — no row-order dependence),
    joined on user_id: three shuffles on the same key, which AQE plans
    as consecutive co-partitioned joins."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter((F.col("ts") >= F.col("v_ts"))
                 & (F.col("ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")))
         .groupBy("user_id").agg(F.min("ts").alias("c_ts")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") >= F.col("c_ts"))
                 & (F.col("ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")))
         .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    return (
        v.agg(F.lit("1_view").alias("funnel_stage"),
              F.count(F.lit(1)).alias("n_users"))
        .unionByName(c.agg(F.lit("2_click").alias("funnel_stage"),
                           F.count(F.lit(1)).alias("n_users")))
        .unionByName(p.agg(F.lit("3_purchase").alias("funnel_stage"),
                           F.count(F.lit(1)).alias("n_users")))
    )


EVENTS_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts >= v.v_ts AND e.ts < v.v_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts >= c.c_ts AND e.ts < c.c_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
)
SELECT '1_view' AS funnel_stage, COUNT(*) AS n_users FROM v
UNION ALL
SELECT '2_click', COUNT(*) FROM c
UNION ALL
SELECT '3_purchase', COUNT(*) FROM p
"""


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion LATENCY per funnel stage [EXT] — how long the
    surviving users of ``events_funnel_conversion`` took to advance
    (first view -> first in-window click, that click -> first in-window
    purchase): count, exact median (x2 trick) and interpolated p90 of
    the stage latency in whole seconds.

    Same anchored-MIN stage chain as the funnel (deterministic, no
    row-order dependence), so the per-user latency is a pure integer:
    epoch-microsecond difference DIV 1e6. The stage aggregate groups on
    the 2-value stage literal but the percentile aggregates are
    MERGEABLE (partial buffers merge associatively), so the latency
    frame never funnels through one task pre-aggregation; p90 uses
    interpolated ``percentile`` / ``quantile_cont`` (the
    ``order_price_quantiles`` portability precedent)."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter((F.col("ts") >= F.col("v_ts"))
                 & (F.col("ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")))
         .groupBy("user_id").agg(F.min("ts").alias("c_ts"),
                                 F.min("v_ts").alias("v_ts0")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") >= F.col("c_ts"))
                 & (F.col("ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")))
         .groupBy("user_id").agg(F.min("ts").alias("p_ts"),
                                 F.min("c_ts").alias("c_ts0")))
    sec_vc = F.expr(
        "(unix_micros(c_ts) - unix_micros(v_ts0)) div 1000000")
    sec_cp = F.expr(
        "(unix_micros(p_ts) - unix_micros(c_ts0)) div 1000000")
    lat = (c.select(F.lit("view_to_click").alias("stage"),
                    sec_vc.alias("s"))
           .unionByName(p.select(F.lit("click_to_purchase").alias("stage"),
                                 sec_cp.alias("s"))))
    return (lat.groupBy("stage")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.expr("CAST(median(2 * s) AS BIGINT)").alias("med_x2_s"),
                 F.expr("percentile(s, 0.9D)").alias("p90_s")))


FUNNEL_LATENCY_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts, MIN(v.v_ts) AS v_ts0
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts >= v.v_ts AND e.ts < v.v_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts, MIN(c.c_ts) AS c_ts0
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts >= c.c_ts AND e.ts < c.c_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
), lat AS (
  SELECT 'view_to_click' AS stage,
         (epoch_us(c_ts) - epoch_us(v_ts0)) // 1000000 AS s FROM c
  UNION ALL
  SELECT 'click_to_purchase',
         (epoch_us(p_ts) - epoch_us(c_ts0)) // 1000000 FROM p
)
SELECT stage, COUNT(*) AS n_users,
       CAST(median(2 * s) AS BIGINT) AS med_x2_s,
       quantile_cont(s, 0.9) AS p90_s
FROM lat GROUP BY stage
"""


def events_zscore_outliers(spark: SparkSession, sf_dir: str,
                           z_cut: float = 3.0) -> DataFrame:
    """Per-type z-score outlier detection [EXT]: events whose ``value``
    deviates more than ``z_cut`` standard deviations from their event
    type's mean. mean and variance are derived from ORDER-INDEPENDENT
    decimal sums (sum, sum-of-squares), not stddev_samp — a naive
    double accumulation differs between engines and between
    partitionings, which would make the z boundary flap; the two-pass
    broadcast-join shape (tiny per-type stats joined back to the fact)
    is the standard scale topology for global-statistic filters.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "event_type",
                                               "value")
    stats = (ev.groupBy("event_type")
             .agg(F.sum(F.col("value").cast("decimal(20,6)")).alias("s1"),
                  F.sum((F.col("value") * F.col("value"))
                        .cast("decimal(24,6)")).alias("s2"),
                  F.count(F.lit(1)).alias("n"))
             .select("event_type",
                     (F.col("s1").cast("double") / F.col("n")).alias("mean"),
                     F.sqrt((F.col("s2").cast("double")
                             - F.col("s1").cast("double")
                             * F.col("s1").cast("double") / F.col("n"))
                            / (F.col("n") - 1)).alias("sd")))
    z = F.round((F.col("value") - F.col("mean")) / F.col("sd"), 4)
    return (ev.join(F.broadcast(stats), "event_type")
            .select("event_id", "event_type", z.alias("z"))
            .filter(F.abs(F.col("z")) > z_cut))


EVENTS_ZSCORE_SQL = """
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS mean,
         sqrt((CAST(SUM(CAST(value * value AS DECIMAL(24,6))) AS DOUBLE)
               - CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                 * CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*))
              / (COUNT(*) - 1)) AS sd
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       round((value - mean) / sd, 4) AS z
FROM events e JOIN stats USING (event_type)
WHERE abs(round((value - mean) / sd, 4)) > 3.0
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix [EXT]: users are cohorted by first-seen
    day; each later active day counts toward (cohort_day, day_offset)
    distinct-user retention — the canonical product-analytics rollup.

    Shape: per-user min(ts) is ONE aggregation (not a window over raw
    events), re-joined to the per-(user, day) activity set; both sides
    shuffle on user_id once and the cohort join is AQE-broadcastable
    (user-count rows, not event-count). Offsets beyond 6 days are
    clamped into a 7+ bucket so the matrix width is bounded no matter
    the time span."""
    ev = (table(spark, sf_dir, "events")
          .select("user_id", F.to_date("ts").alias("day")).distinct())
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    off = F.datediff(F.col("day"), F.col("cohort_day"))
    return (ev.join(first, "user_id")
            .select(F.date_format("cohort_day", "yyyy-MM-dd")
                    .alias("cohort_day"),
                    F.least(off, F.lit(7)).alias("day_offset"),
                    "user_id")
            .groupBy("cohort_day", "day_offset")
            .agg(F.countDistinct("user_id").alias("n_users")))


EVENTS_RETENTION_SQL = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohorts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(least(datediff('day', cohort_day, day), 7) AS INT) AS day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM activity JOIN cohorts USING (user_id)
GROUP BY 1, 2
"""


# ----------------------------------------------------------------------
# distribution drift: first-half vs second-half chi-square distance
# ----------------------------------------------------------------------

def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curve [EXT] — the revenue twin of
    ``events_retention_cohorts``: users grouped by first-seen WEEK,
    purchase revenue accumulated per cohort across week offsets, and
    the headline per-user LTV (cumulative cents / cohort size, integer
    micro-cents) a growth team tracks curve-over-curve.

    Scale: user first-seen is one aggregate on user_id; offsets join
    purchases back to it on the same key (co-partitioned); the weekly
    rollup collapses to a (cohort x offset) frame bounded by the
    CALENDAR squared — the cumulative window runs post-aggregate on
    that bounded frame (the repo's low-cardinality-window rule: the
    window input must not scale with data). Revenue is integer cents;
    the per-user LTV divides through DECIMAL(38,0) (``base.ppm``
    armor, Spark side only)."""
    e = table(spark, sf_dir, "events")
    first = (e.groupBy("user_id")
             .agg(F.date_trunc("week", F.min("ts")).alias("cw")))
    sizes = first.groupBy("cw").agg(F.count(F.lit(1)).alias("cohort_users"))
    weekly = (e.filter(F.col("event_type") == "purchase")
              .join(first, "user_id")
              .select("cw",
                      F.expr("datediff(date_trunc('week', ts), cw) div 7")
                      .alias("offset_w"),
                      F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                      .alias("cents"))
              .groupBy("cw", "offset_w")
              .agg(F.count(F.lit(1)).alias("n_purchases"),
                   F.sum("cents").alias("week_cents")))
    cum = Window.partitionBy("cw").orderBy("offset_w").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (weekly
            .withColumn("cum_cents", F.sum("week_cents").over(cum)
                        .cast("bigint"))
            .join(sizes, "cw")
            .select(F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
                    "offset_w", "n_purchases", "week_cents", "cum_cents",
                    "cohort_users",
                    F.expr("CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000"
                           " DIV cohort_users AS BIGINT)")
                    .alias("ltv_micro")))


COHORT_LTV_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cw
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cw, COUNT(*) AS cohort_users FROM first GROUP BY cw
), weekly AS (
  SELECT f.cw,
         datediff('day', f.cw, date_trunc('week', e.ts)) // 7 AS offset_w,
         COUNT(*) AS n_purchases,
         CAST(SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS week_cents
  FROM events e JOIN first f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT strftime(w.cw, '%Y-%m-%d') AS cohort_week, w.offset_w,
       w.n_purchases, w.week_cents,
       CAST(SUM(w.week_cents) OVER (
         PARTITION BY w.cw ORDER BY w.offset_w
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
       s.cohort_users,
       CAST(CAST(SUM(w.week_cents) OVER (
              PARTITION BY w.cw ORDER BY w.offset_w
              ROWS UNBOUNDED PRECEDING) AS BIGINT)
            * 1000000 // s.cohort_users AS BIGINT) AS ltv_micro
FROM weekly w JOIN sizes s ON w.cw = s.cw
"""


def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding [EXT] — the leakage-safe
    categorical encoder feature pipelines use: each event's type is
    replaced by the mean purchase value of all OTHER events of that
    type, so a row never sees its own target. Encoded in integer
    micro-cents: ``(type_sum − own) * 1e6 DIV (type_n − 1)``, NULL for
    singleton types (no peers to borrow from — the caller decides the
    fallback, usually the global prior).

    Scale: one mergeable per-type aggregate broadcast back over the
    fact — no window, no self-join; output is per-row (a feature
    column, like ``user_value_ewma``)."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "event_id", "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"))
    per = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"))
    return (base.join(F.broadcast(per), "event_type")
            .select("event_id", "event_type", "cents",
                    F.expr(
                        "CASE WHEN n = 1 THEN CAST(NULL AS BIGINT) "
                        "ELSE CAST((CAST(sum_cents AS DECIMAL(38,0))"
                        " - cents) * 1000000 DIV (n - 1) AS BIGINT) END")
                    .alias("loo_micro")))


TARGET_LOO_SQL = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), per AS (
  SELECT event_type, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
  FROM base GROUP BY 1
)
SELECT b.event_id, b.event_type, b.cents,
       CASE WHEN p.n = 1 THEN CAST(NULL AS BIGINT)
            ELSE CAST((p.s - b.cents) * 1000000 // (p.n - 1) AS BIGINT)
       END AS loo_micro
FROM base b JOIN per p ON b.event_type = p.event_type
"""


def freshness_sla_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion FRESHNESS audit [EXT]: per event type, when did we
    last hear from it, how far behind the stream head is it, and which
    fixed SLA band does that lag fall into — the staleness report an
    ingestion on-call reads before believing any downstream metric.
    The reference point is the corpus max event time (the stream
    head), NOT wall clock, so the result is deterministic and
    oracle-able.

    Scale: one mergeable groupBy for per-type max, a 1-row broadcast
    for the head; output <= |event types|."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"))
    head = e.agg(F.max(F.unix_micros("ts")).alias("head_us"))
    return (per.crossJoin(F.broadcast(head))
            .select("event_type", "n_events",
                    F.expr("(head_us - last_us) DIV 60000000")
                    .alias("lag_minutes"),
                    F.expr("CASE WHEN head_us - last_us <= 3600000000"
                           " THEN 'fresh'"
                           " WHEN head_us - last_us <= 21600000000"
                           " THEN 'stale' ELSE 'breached' END")
                    .alias("sla_band")))


FRESHNESS_SQL = """
WITH per AS (
  SELECT event_type, MAX(epoch_us(ts)) AS last_us,
         COUNT(*) AS n_events
  FROM events GROUP BY 1
), head AS (
  SELECT MAX(epoch_us(ts)) AS head_us FROM events
)
SELECT event_type, n_events,
       CAST((head_us - last_us) // 60000000 AS BIGINT) AS lag_minutes,
       CASE WHEN head_us - last_us <= 3600000000 THEN 'fresh'
            WHEN head_us - last_us <= 21600000000 THEN 'stale'
            ELSE 'breached' END AS sla_band
FROM per CROSS JOIN head
"""


#: candidate watermark delays the planner evaluates (label, micros)
_WM_CANDIDATES: tuple[tuple[str, int], ...] = (
    ("0s", 0),
    ("60s", 60_000_000),
    ("600s", 600_000_000),
    ("3600s", 3_600_000_000),
)


def watermark_delay_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark DELAY sizing audit [EXT] — the measurement a streaming
    engineer runs before picking ``withWatermark``'s delay: per event,
    its DISORDER = how far its event time lags the maximum event time
    already seen on its key's arrival order (event_id, the per-key
    arrival sequence a partitioned log preserves); then for each
    candidate delay, how many events would arrive LATER than the
    watermark and be dropped. The drop-rate-vs-state-size tradeoff,
    quantified.

    Scale: the running max is a window on user_id (high-cardinality
    key — per-key disorder is what per-key watermarking actually
    sees); candidates are a 4-row literal frame and map-side partial
    aggregation collapses the fan-out. Shares ride the DECIMAL ppm
    armor."""
    e = table(spark, sf_dir, "events")
    w_prev = (Window.partitionBy("user_id").orderBy("event_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    us = F.unix_micros(F.col("ts"))
    lates = (e.select("user_id", "event_id", us.alias("us"))
             .withColumn("late_us",
                         F.greatest(F.coalesce(
                             F.max("us").over(w_prev) - F.col("us"),
                             F.lit(0)), F.lit(0))))
    cands = spark.createDataFrame(list(_WM_CANDIDATES),
                                  "delay string, d_us long")
    return (lates.crossJoin(F.broadcast(cands))
            .groupBy("delay", "d_us")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.when(F.col("late_us") > F.col("d_us"), 1)
                       .otherwise(0)).alias("n_dropped"),
                 F.max("late_us").alias("max_late_us"))
            .select("delay", F.col("d_us").alias("delay_us"),
                    "n_events", "n_dropped",
                    F.expr(ppm("n_dropped", "n_events")).alias("drop_ppm"),
                    "max_late_us"))


_WM_CANDS_SQL = ", ".join(f"('{c}', {d})" for c, d in _WM_CANDIDATES)

WATERMARK_PLANNER_SQL = f"""
WITH lates AS (
  SELECT user_id, event_id,
         GREATEST(COALESCE(
           MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING)
           - epoch_us(ts), 0), 0) AS late_us
  FROM events
), cands AS (
  SELECT * FROM (VALUES {_WM_CANDS_SQL}) AS t(delay, d_us)
)
SELECT c.delay, CAST(c.d_us AS BIGINT) AS delay_us,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN l.late_us > c.d_us THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN l.late_us > c.d_us THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS drop_ppm,
       CAST(MAX(l.late_us) AS BIGINT) AS max_late_us
FROM lates l CROSS JOIN cands c
GROUP BY 1, 2
"""


def session_dwell_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session QUALITY profile by entry event type [EXT]: bounce rate
    (single-event sessions), events per session and mean dwell time,
    keyed by the session's FIRST event type — the landing-page
    analytics cut (which entry points produce engaged sessions?).

    Sessions are ``events_sessionize``'s exact 30-minute
    gaps-and-islands; the entry type is FIRST_VALUE over the same
    (ts, event_id) total order, so it is deterministic under ties.
    Dwell is integer microseconds (unix_micros/epoch_us — exact in
    both engines); session-count-sized sums ride DECIMAL(38,0).

    Scale: the lag/cumsum/first_value windows all share the user_id
    partitioning (one exchange); per-session and per-entry-type
    aggregates are plain mergeable groupBys. Output <= |event types|.
    """
    e = table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("double")
           - F.lag(F.col("ts").cast("double")).over(by_user))
    rows = (e.select("user_id", "event_id", "ts", "event_type")
            .withColumn("is_new",
                        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
            .withColumn("sid", F.sum("is_new").over(
                by_user.rowsBetween(Window.unboundedPreceding,
                                    Window.currentRow))))
    w2 = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    sess = (rows.withColumn("entry", F.first("event_type").over(w2))
            .groupBy("user_id", "sid")
            .agg(F.min("entry").alias("entry"),
                 F.count(F.lit(1)).alias("n_ev"),
                 (F.max(F.unix_micros("ts"))
                  - F.min(F.unix_micros("ts"))).alias("dwell_us")))
    return (sess.groupBy(F.col("entry").alias("entry_type"))
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
                 .alias("n_bounce"),
                 F.sum("n_ev").alias("n_events"),
                 F.sum(F.col("dwell_us").cast("decimal(38,0)"))
                 .alias("dwell_sum"))
            .select("entry_type", "n_sessions", "n_bounce",
                    F.expr(ppm("n_bounce", "n_sessions"))
                    .alias("bounce_ppm"),
                    "n_events",
                    F.expr(ppm("n_events", "n_sessions", mult=1000))
                    .alias("events_per_session_milli"),
                    F.expr("CAST(dwell_sum DIV n_sessions AS BIGINT)")
                    .alias("mean_dwell_us")))


SESSION_DWELL_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess_rows AS (
  SELECT user_id, event_id, event_type, ts,
         {_SQL_SESSION_ID}
  FROM flagged
), with_entry AS (
  SELECT *, FIRST_VALUE(event_type) OVER (
      PARTITION BY user_id, sid ORDER BY ts, event_id) AS entry
  FROM sess_rows
), sess AS (
  SELECT user_id, sid, MIN(entry) AS entry, COUNT(*) AS n_ev,
         MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dwell_us
  FROM with_entry GROUP BY 1, 2
)
SELECT entry AS entry_type, COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounce,
       CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS bounce_ppm,
       CAST(SUM(n_ev) AS BIGINT) AS n_events,
       CAST(SUM(n_ev) * 1000 // COUNT(*) AS BIGINT)
         AS events_per_session_milli,
       CAST(SUM(dwell_us) // COUNT(*) AS BIGINT) AS mean_dwell_us
FROM sess GROUP BY 1
"""


def seasonal_adjusted_anomalies(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Seasonality-AWARE daily anomaly detection [EXT]: raw daily
    volume is first normalized by its day-of-week expectation (Monday
    traffic compared to typical Mondays), THEN the median/MAD outlier
    rule runs on the residuals — so a quiet-Sunday pattern stops
    masquerading as an incident and a truly anomalous Tuesday still
    fires. The composition of ``orders_seasonality_index`` and
    ``events_anomaly_mad`` that an on-call dashboard actually wants.

    Integer exactness: the dow expectation is the per-dow MEDIAN daily
    count (x2 integral trick) — a mean expectation would let one spiked
    Tuesday drag every normal Tuesday below threshold (found by the
    planted-spike test); residual = count vs that median in ppm
    (DECIMAL armor, counts are data-sized); the x2/x4 median/MAD trick
    keeps the k=3.5 rule a pure integer comparison (``4*d2 > 7*mad4``).
    Day-of-week is Monday=0 in both engines (Spark ``weekday``, DuckDB
    ``isodow - 1``).

    Scale: everything post-daily-aggregate is calendar-bounded; all
    three medians are mergeable percentile aggregates broadcast back."""
    e = table(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd")
                       .alias("day"),
                       F.expr("weekday(to_date(ts))").alias("dow"))
             .agg(F.count(F.lit(1)).alias("c")))
    dowagg = daily.groupBy("dow").agg(
        F.percentile(2 * F.col("c"), F.lit(0.5)).cast("bigint")
        .alias("med2c"))
    res = (daily.join(F.broadcast(dowagg), "dow")
           .withColumn("res_ppm", F.expr(ppm("c * 2", "med2c")))
           .withColumn("r2", 2 * F.col("res_ppm")))
    med = res.agg(F.percentile(F.col("r2"), F.lit(0.5)).cast("bigint")
                  .alias("med2"))
    dev = (res.crossJoin(F.broadcast(med))
           .withColumn("d2", F.abs(F.col("r2") - F.col("med2"))))
    mad = dev.agg((F.percentile(F.col("d2"), F.lit(0.5)) * 2)
                  .cast("bigint").alias("mad4"))
    return (dev.crossJoin(F.broadcast(mad))
            .select("day", "dow", F.col("c").alias("n_events"),
                    "res_ppm", "med2", "mad4",
                    (F.col("d2") * 4 > F.col("mad4") * 7).cast("int")
                    .alias("is_anomaly")))


SEASONAL_ANOMALY_SQL = """
WITH daily AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(isodow(CAST(ts AS DATE)) - 1 AS INT) AS dow,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
), dowagg AS (
  SELECT dow, CAST(median(2 * c) AS BIGINT) AS med2c
  FROM daily GROUP BY 1
), res AS (
  SELECT d.day, d.dow, d.c,
         CAST(d.c * 2 * 1000000 // a.med2c AS BIGINT) AS res_ppm,
         2 * CAST(d.c * 2 * 1000000 // a.med2c AS BIGINT) AS r2
  FROM daily d JOIN dowagg a ON d.dow = a.dow
), med AS (
  SELECT CAST(median(r2) AS BIGINT) AS med2 FROM res
), dev AS (
  SELECT r.*, m.med2, abs(r.r2 - m.med2) AS d2
  FROM res r CROSS JOIN med m
), mad AS (
  SELECT CAST(median(d2) * 2 AS BIGINT) AS mad4 FROM dev
)
SELECT d.day, d.dow, d.c AS n_events, d.res_ppm, d.med2, m.mad4,
       CAST(CASE WHEN d.d2 * 4 > m.mad4 * 7 THEN 1 ELSE 0 END AS INT)
         AS is_anomaly
FROM dev d CROSS JOIN mad m
"""


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detector per event type [EXT]: the day where
    the cumulative deviation of daily volume from the type's mean
    peaks — the classic Page/CUSUM "when did behavior shift" readout
    an on-call analyst runs after a drift alert (PSI/chi² say THAT the
    stream changed; this says WHEN).

    Exact integer arithmetic throughout: with k = day rank, s_k = the
    running event count and ``total``/``n_days`` the per-type sums,
    the mean-centered CUSUM scaled by n_days is
    ``cusum_k = n_days * s_k - k * total`` — no float ever appears, so
    argmax (ties -> earliest day) is deterministic in both engines.

    Scale: the window input is the (event_type x day) DAILY aggregate —
    calendar-bounded, never data-sized (the repo's
    low-cardinality-window rule); per-type totals are a bounded
    broadcast; pre/post means ride the DECIMAL ppm armor."""
    e = table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type",
                       F.date_format(F.to_date("ts"), "yyyy-MM-dd")
                       .alias("day"))
             .agg(F.count(F.lit(1)).alias("c")))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("total"))
    w = Window.partitionBy("event_type").orderBy("day")
    run = (daily
           .withColumn("k", F.row_number().over(w).cast("bigint"))
           .withColumn("s", F.sum("c").over(
               w.rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))))
    scored = (run.join(F.broadcast(tot), "event_type")
              .withColumn("cusum",
                          F.expr("n_days * s - k * total")))
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day")
    return (scored.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("event_type", F.col("day").alias("cp_day"),
                    "n_days", F.col("total").alias("total_events"),
                    F.col("k").alias("k_days"),
                    F.col("cusum").alias("cusum_scaled"),
                    F.expr(ppm("s", "k")).alias("pre_mean_micro"),
                    F.expr(ppm("total - s", "GREATEST(n_days - k, 1)"))
                    .alias("post_mean_micro")))


CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, COUNT(*) AS n_days, CAST(SUM(c) AS BIGINT) AS total
  FROM daily GROUP BY 1
), run AS (
  SELECT event_type, day, c,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
), scored AS (
  SELECT r.event_type, r.day, r.k, r.s, t.n_days, t.total,
         CAST(t.n_days * r.s - r.k * t.total AS BIGINT) AS cusum
  FROM run r JOIN tot t ON r.event_type = t.event_type
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum) DESC, day) AS rn
  FROM scored
)
SELECT event_type, day AS cp_day, n_days, total AS total_events,
       k AS k_days, cusum AS cusum_scaled,
       CAST(s * 1000000 // k AS BIGINT) AS pre_mean_micro,
       CAST((total - s) * 1000000 // GREATEST(n_days - k, 1) AS BIGINT)
         AS post_mean_micro
FROM ranked WHERE rn = 1
"""


def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout [EXT]: Welch's unequal-variance t
    statistic (+ Satterthwaite degrees of freedom) comparing purchase
    values between two deterministically-assigned arms (user_id
    parity — the hash-bucket assignment every experimentation platform
    uses, stated so the oracle can restate it).

    Float discipline follows ``lineitem_moment_stats``: power sums are
    accumulated as EXACT decimals (order-independent under any
    partitioning), cast to double once, then the t/df formulas run in
    identical operand order in both engines and round to 6dp.

    Scale: ONE conditional-aggregation pass over the fact — no join,
    no shuffle beyond the final 1-row reduce."""
    e = (table(spark, sf_dir, "events")
         .filter(F.col("event_type") == "purchase")
         .select((F.col("user_id") % 2 == 0).alias("ctl"),
                 F.col("value").alias("v")))
    agg = e.agg(
        F.sum(F.when(F.col("ctl"), 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(~F.col("ctl"), 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("ctl"), F.col("v")).cast("decimal(24,6)"))
        .cast("double").alias("s_c"),
        F.sum(F.when(F.col("ctl"), F.col("v") * F.col("v"))
              .cast("decimal(30,6)")).cast("double").alias("ss_c"),
        F.sum(F.when(~F.col("ctl"), F.col("v")).cast("decimal(24,6)"))
        .cast("double").alias("s_t"),
        F.sum(F.when(~F.col("ctl"), F.col("v") * F.col("v"))
              .cast("decimal(30,6)")).cast("double").alias("ss_t"))
    nc, nt = F.col("n_c"), F.col("n_t")
    vc = (F.col("ss_c") - F.col("s_c") * F.col("s_c") / nc) / (nc - 1)
    vt = (F.col("ss_t") - F.col("s_t") * F.col("s_t") / nt) / (nt - 1)
    se2 = vc / nc + vt / nt
    t = (F.col("s_t") / nt - F.col("s_c") / nc) / F.sqrt(se2)
    df = (se2 * se2) / ((vc / nc) * (vc / nc) / (nc - 1)
                        + (vt / nt) * (vt / nt) / (nt - 1))
    return agg.select(
        "n_c", "n_t",
        F.round(F.col("s_c") / nc, 6).alias("mean_c"),
        F.round(F.col("s_t") / nt, 6).alias("mean_t"),
        F.round(F.col("s_t") / nt - F.col("s_c") / nc, 6).alias("diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"))


AB_WELCH_SQL = """
WITH s AS (
  SELECT SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_c,
         SUM(CASE WHEN user_id % 2 != 0 THEN 1 ELSE 0 END) AS n_t,
         CAST(SUM(CASE WHEN user_id % 2 = 0
                       THEN CAST(value AS DECIMAL(24,6)) END)
              AS DOUBLE) AS s_c,
         CAST(SUM(CASE WHEN user_id % 2 = 0
                       THEN CAST(value * value AS DECIMAL(30,6)) END)
              AS DOUBLE) AS ss_c,
         CAST(SUM(CASE WHEN user_id % 2 != 0
                       THEN CAST(value AS DECIMAL(24,6)) END)
              AS DOUBLE) AS s_t,
         CAST(SUM(CASE WHEN user_id % 2 != 0
                       THEN CAST(value * value AS DECIMAL(30,6)) END)
              AS DOUBLE) AS ss_t
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT n_c, n_t, s_c, s_t,
         (ss_c - s_c * s_c / n_c) / (n_c - 1) AS vc,
         (ss_t - s_t * s_t / n_t) / (n_t - 1) AS vt
  FROM s
)
SELECT CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
       round(s_c / n_c, 6) AS mean_c,
       round(s_t / n_t, 6) AS mean_t,
       round(s_t / n_t - s_c / n_c, 6) AS diff,
       round((s_t / n_t - s_c / n_c) / sqrt(vc / n_c + vt / n_t), 6)
         AS t_stat,
       round((vc / n_c + vt / n_t) * (vc / n_c + vt / n_t)
             / ((vc / n_c) * (vc / n_c) / (n_c - 1)
                + (vt / n_t) * (vt / n_t) / (n_t - 1)), 6) AS welch_df
FROM v
"""


def event_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level event-type CO-OCCURRENCE with PMI and lift [EXT]
    — the collocation-mining primitive (pointwise mutual information
    over contexts) applied to behavioral sessions: which event types
    appear in the SAME session more (or less) often than independence
    predicts. The classic recommender/affinity signal.

    Sessions reuse ``events_sessionize``'s exact 30-minute
    gaps-and-islands definition, so the two queries agree row-for-row
    on what a session is. PMI(a,b) = ln(N_ab * S / (N_a * N_b)) where
    counts are sessions containing the type; the single per-row ln
    follows the bm25 idiom (round 6dp, then floor-micros), and
    lift_ppm is integral arithmetic through DECIMAL(38,0) (``base.ppm``
    armor: both factors are data-sized, so their product overflows
    BIGINT at 100 TB; the oracle keeps the plain ``//`` form).

    Scale: sessionization is one user_id shuffle (lag + cumsum share
    the window spec); the (session, type) frame is a distinct over
    data, and the pair self-join fans out at most |types|² = 25 rows
    per session — bounded. The per-type marginals and the 1-row
    session total are broadcast aggregates; output is <= |types|²."""
    e = table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("double")
           - F.lag(F.col("ts").cast("double")).over(by_user))
    s = (e.select("user_id", "event_id", "ts", "event_type")
         .withColumn("is_new",
                     F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
         .withColumn("sid", F.sum("is_new").over(
             by_user.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))))
    st = (s.groupBy("user_id", "sid", "event_type")
          .agg(F.count(F.lit(1)).alias("_n")).drop("_n"))
    tot = (st.groupBy("user_id", "sid").agg(F.count(F.lit(1)).alias("_t"))
           .agg(F.count(F.lit(1)).alias("n_sessions")))
    per = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_a"))
    a, b = st.alias("a"), st.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.sid") == F.col("b.sid"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.count(F.lit(1)).alias("n_both")))
    pa = F.broadcast(per.select(F.col("event_type").alias("type_a"),
                                F.col("n_a").alias("n_sess_a")))
    pb = F.broadcast(per.select(F.col("event_type").alias("type_b"),
                                F.col("n_a").alias("n_sess_b")))
    return (pairs.join(pa, "type_a").join(pb, "type_b")
            .crossJoin(F.broadcast(tot))
            .select(
                "type_a", "type_b", "n_both", "n_sess_a", "n_sess_b",
                "n_sessions",
                F.expr(
                    "CAST(CAST(n_both AS DECIMAL(38,0)) * n_sessions"
                    " * 1000000 DIV (CAST(n_sess_a AS DECIMAL(38,0))"
                    " * n_sess_b) AS BIGINT)").alias("lift_ppm"),
                F.expr(ln_micros(
                    "(CAST(n_both AS DOUBLE) * n_sessions)"
                    " / (CAST(n_sess_a AS DOUBLE) * n_sess_b)"))
                .alias("pmi_micro")))


EVENT_PMI_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_type,
         {_SQL_SESSION_ID}
  FROM flagged
), st AS (
  SELECT DISTINCT user_id, sid, event_type FROM sess
), tot AS (
  SELECT COUNT(*) AS n_sessions
  FROM (SELECT DISTINCT user_id, sid FROM st)
), per AS (
  SELECT event_type, COUNT(*) AS n_a FROM st GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_both
  FROM st a
  JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
           AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, CAST(p.n_both AS BIGINT) AS n_both,
       CAST(pa.n_a AS BIGINT) AS n_sess_a,
       CAST(pb.n_a AS BIGINT) AS n_sess_b,
       CAST(t.n_sessions AS BIGINT) AS n_sessions,
       CAST(p.n_both * t.n_sessions * 1000000
            // (pa.n_a * pb.n_a) AS BIGINT) AS lift_ppm,
       {ln_micros("(CAST(p.n_both AS DOUBLE) * t.n_sessions)"
                  " / (CAST(pa.n_a AS DOUBLE) * pb.n_a)")} AS pmi_micro
FROM pairs p
JOIN per pa ON p.type_a = pa.event_type
JOIN per pb ON p.type_b = pb.event_type
CROSS JOIN tot t
"""


def events_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift detector: per event type, compare the ``value``
    distribution of the stream's first half against its second half
    (split at the epoch midpoint) with a chi-square distance over
    fixed bins — the monitoring check a feature pipeline runs to catch
    upstream shifts before they poison training data.

    Determinism rules: fixed bin edges (``floor(value/50)`` clamped to
    [0,9] — data-independent, unlike quantile bins), the time midpoint
    is integer epoch-micros arithmetic, every per-bin term is built
    from exact-rounded IEEE ops only (+ - * /; no ln/exp, whose libm
    implementations differ between engines), and the per-type term sum
    runs as an order-independent decimal(30,15) accumulation. One scan,
    two aggregations (bin counts, then per-type reduce); the midpoint
    is a broadcast 1-row aggregate."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    mid = e.agg(F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")
                .alias("mid"))
    b = (e.crossJoin(F.broadcast(mid))
         .select("event_type",
                 F.least(F.greatest(F.expr("floor(value / 50)"), F.lit(0)),
                         F.lit(9)).cast("int").alias("bin"),
                 (us <= F.col("mid")).alias("h1")))
    counts = (b.groupBy("event_type", "bin")
              .agg(F.sum(F.when(F.col("h1"), 1).otherwise(0)).alias("c1"),
                   F.sum(F.when(~F.col("h1"), 1).otherwise(0)).alias("c2")))
    tot = Window.partitionBy("event_type")
    p = F.col("c1") / F.sum("c1").over(tot)
    q = F.col("c2") / F.sum("c2").over(tot)
    term = F.when(F.col("c1") + F.col("c2") > 0,
                  (p - q) * (p - q) / (p + q)).otherwise(F.lit(0.0))
    return (counts.withColumn("term", term)
            .groupBy("event_type")
            .agg(F.sum("c1").alias("n_h1"), F.sum("c2").alias("n_h2"),
                 F.round(F.sum(F.col("term").cast("decimal(30,15)"))
                         .cast("double"), 8).alias("chi2_drift")))


EVENTS_DRIFT_SQL = """
WITH mid AS (
  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
), b AS (
  SELECT event_type,
         CAST(least(greatest(floor(value / 50), 0), 9) AS INT) AS bin,
         epoch_us(ts) <= (SELECT mid FROM mid) AS h1
  FROM events
), counts AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN h1 THEN 0 ELSE 1 END) AS BIGINT) AS c2
  FROM b GROUP BY event_type, bin
), terms AS (
  SELECT event_type, c1, c2,
         CASE WHEN c1 + c2 > 0
              THEN (c1 / (SUM(c1) OVER w) - c2 / (SUM(c2) OVER w))
                   * (c1 / (SUM(c1) OVER w) - c2 / (SUM(c2) OVER w))
                   / (c1 / (SUM(c1) OVER w) + c2 / (SUM(c2) OVER w))
              ELSE 0.0 END AS term
  FROM counts
  WINDOW w AS (PARTITION BY event_type)
)
SELECT event_type,
       CAST(SUM(c1) AS BIGINT) AS n_h1, CAST(SUM(c2) AS BIGINT) AS n_h2,
       round(CAST(SUM(CAST(term AS DECIMAL(30,15))) AS DOUBLE), 8)
         AS chi2_drift
FROM terms GROUP BY event_type
"""


# ----------------------------------------------------------------------
# regression aggregate: per-type value trend (deterministic OLS)
# ----------------------------------------------------------------------

def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of ``value`` over time — the
    regression-aggregate family (regr_slope/regr_intercept) rebuilt
    from ORDER-INDEPENDENT moments, because the built-in regr_*
    aggregates accumulate doubles in partition order (engine- and
    partitioning-dependent): x = whole seconds since 2024-01-01
    (integer — epoch-micros squared would overflow bigint and a double
    x would divide differently per engine), per-row products x*x
    (exact bigint) and x*y (one double multiply) summed as decimals,
    then slope/intercept as one fixed double expression. Plan: one
    scan, one 5-group aggregation."""
    e = table(spark, sf_dir, "events")
    x = F.expr("(unix_micros(ts) - unix_micros(timestamp '2024-01-01 00:00:00')) div 1000000")
    m = e.select("event_type", x.alias("x"), F.col("value").alias("y"))
    agg = (m.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
                F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
                .alias("sxx"),
                F.sum(F.col("y").cast("decimal(30,15)")).alias("sy"),
                F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)"))
                .alias("sxy")))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.select(
        "event_type", "n",
        F.round(slope * 86400.0, 8).alias("slope_per_day"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"))


VALUE_TREND_SQL = """
WITH m AS (
  SELECT event_type,
         (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) // 1000000 AS x,
         value AS y
  FROM events
), agg AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(y AS DECIMAL(30,15))) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy
  FROM m GROUP BY event_type
)
SELECT event_type, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * 86400.0, 8) AS slope_per_day,
       round((CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
         AS intercept
FROM agg
"""


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen ROBUST trend per event type [EXT] — the median of all
    pairwise day-to-day slopes of daily revenue, the estimator that
    shrugs off the outlier days that drag ``value_trend_by_type``'s
    least-squares slope around (up to ~29% contamination).

    Scale shape: the corpus first collapses to (type, day, cents) —
    one map-side-combining aggregation — so the all-pairs step runs on
    a CALENDAR-bounded frame: C(days, 2) pairs per type grows with the
    observation window squared, NOT with event volume (10 years is
    ~6.6M pairs/type; 100 TB of events in those years is still ~6.6M
    pairs). This collapse-then-pair shape is the standard way Theil-Sen
    is kept tractable; the pair join shuffles the tiny daily frame on
    the 5-value type key, which is fine BECAUSE it is post-aggregate.

    Determinism: daily revenue is exact integer cents; each pairwise
    slope is quantized to integer MICRO-cents/day through DECIMAL(38,0)
    (``base.ppm`` overflow discipline; DIV truncates toward zero
    identically in both engines, including negative slopes); the median
    runs over DOUBLED slopes so the even-count midpoint stays integral
    (the rolling-median x2 trick). Output slope_x2_micro is therefore
    2 x median slope in micro-cents/day, exactly.
    """
    e = table(spark, sf_dir, "events")
    daily = (e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
             .alias("c")))
    a, b = daily.alias("a"), daily.alias("b")
    slope_u = F.expr(
        "CAST(CAST(b.c - a.c AS DECIMAL(38,0)) * 1000000"
        " DIV (b.d - a.d) AS BIGINT)")
    pairs = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                    & (F.col("a.d") < F.col("b.d")))
             .select(F.col("a.event_type").alias("event_type"),
                     slope_u.alias("s")))
    return (pairs.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.expr("CAST(median(2 * s) AS BIGINT)")
                 .alias("slope_x2_micro")))


THEIL_SEN_SQL = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
pairs AS (
  -- plain BIGINT // (truncating, like Spark DIV): the DECIMAL cast is
  -- Spark-side overflow armor only — DuckDB's // on a DECIMAL operand
  -- degrades to float division (base.ppm convention: oracles keep the
  -- simple form)
  SELECT a.event_type,
         CAST((b.c - a.c) * 1000000 // (b.d - a.d) AS BIGINT) AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
)
SELECT event_type, COUNT(*) AS n_pairs,
       CAST(median(2 * s) AS BIGINT) AS slope_x2_micro
FROM pairs GROUP BY event_type
"""


# ----------------------------------------------------------------------
# behavior model: event-type Markov transition matrix
# ----------------------------------------------------------------------

def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    timeline: P(next event type | current). One shuffle on user_id for
    the lead window (ties broken on event_id so the successor is
    unique), then a count aggregation; probabilities are one double
    division rounded at fixed scale. The per-user window and the
    (from, to) aggregation both scale with event volume — no global
    ordering anywhere."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (e.select("user_id", "event_type",
                      F.lead("event_type").over(w).alias("next_type"))
             .filter(F.col("next_type").isNotNull()))
    counts = (trans.groupBy(F.col("event_type").alias("from_type"),
                            "next_type")
              .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "next_type", "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"))


EVENT_TRANSITION_SQL = """
WITH trans AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), counts AS (
  SELECT from_type, next_type, COUNT(*) AS n
  FROM trans WHERE next_type IS NOT NULL
  GROUP BY from_type, next_type
)
SELECT from_type, next_type, n,
       round(n / (SUM(n) OVER (PARTITION BY from_type)), 6) AS p
FROM counts
"""


def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ORDER-STATISTIC window: per event type, the median of the
    last 7 values (current + 6 preceding, event-time order) — the
    robust-smoothing pass a monitoring pipeline prefers over rolling
    means when values spike. A new window-function class beside the
    sum/rank/lag families: the frame aggregate is a percentile, which
    Spark evaluates per frame without materializing a per-row sort of
    the whole partition.

    Portability: values go to integer cents FIRST; a 7-row median is
    either an exact cent value or a .5 interpolation (even frames at
    the partition head), so ``median * 2`` is exactly integral in both
    engines — emitted as BIGINT ``med_x2_cents``. Ties in event-time
    order break on event_id.

    Scale caveat (inherent to the SEMANTICS, not this plan): a rolling
    metric ordered per event type partitions the window by a
    low-cardinality key, so each type's history is sequential on one
    task. Per-row work is constant (7-row frames), but at 100 TB the
    production formulation buckets time first — rolling within (type,
    day) partitions, accepting a 6-row warm-up at each day boundary —
    or keys the window by a high-cardinality column (per user, per
    entity) the way ``events_sessionize`` does.
    """
    e = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    w = (Window.partitionBy("event_type")
         .orderBy(F.col("ts"), F.col("event_id"))
         .rowsBetween(-6, 0))
    return (e.select("event_id", "event_type", "ts",
                     cents.alias("cents"))
            .withColumn("med_x2_cents",
                        (F.percentile(F.col("cents"), F.lit(0.5)).over(w)
                         * 2).cast("bigint"))
            .select("event_id", "event_type", "med_x2_cents"))


EVENTS_ROLLING_MEDIAN_SQL = """
SELECT event_id, event_type,
       CAST(median(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 2 AS BIGINT)
         AS med_x2_cents
FROM events
"""


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD (median
    absolute deviation) instead of mean / stddev — the detector that
    does not let the outliers it hunts inflate its own threshold
    (complements ``events_zscore_outliers``, whose moments an extreme
    value can drag).

    Exactness: values go to integer cents; a median of integers is at
    worst a .5 interpolation, so with ``c2 = 2*cents``:
    ``med2 = median(c2)``, ``d2 = |c2 - med2|`` and
    ``mad4 = 2*median(d2)`` all stay integral, and the
    k=3.5 outlier rule becomes the pure integer comparison
    ``4*|2c - med2| > 7*mad4``.

    Scale shape: both medians are ``percentile`` GROUP-BY aggregates
    (mergeable buffers, partial aggregation on every core), joined back
    via tiny broadcast frames — NOT whole-partition windows, which
    would funnel each event type's entire history through one task
    (event_type is a ~5-value key; a window partitioned by it cannot
    parallelize). Three shuffles, every one of them wide."""
    e = table(spark, sf_dir, "events")
    c2 = (F.floor(F.col("value") * 100 + 0.5).cast("bigint") * 2)
    base = e.select("event_type", c2.alias("c2"))
    med = (base.groupBy("event_type")
           .agg(F.percentile(F.col("c2"), F.lit(0.5)).cast("bigint")
                .alias("med2")))
    dev = (base.join(F.broadcast(med), "event_type")
           .withColumn("d2", F.abs(F.col("c2") - F.col("med2"))))
    mad = (dev.groupBy("event_type")
           .agg((F.percentile(F.col("d2"), F.lit(0.5)) * 2)
                .cast("bigint").alias("mad4")))
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("med2").alias("med2_cents"),
                 F.max("mad4").alias("mad4_cents"),
                 F.sum((F.col("d2") * 4 > F.col("mad4") * 7).cast("int"))
                 .cast("bigint").alias("n_outliers")))


EVENTS_MAD_SQL = """
WITH base AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) * 2 AS c2
  FROM events
), med AS (
  SELECT event_type, c2,
         CAST(median(c2) OVER (PARTITION BY event_type) AS BIGINT) AS med2
  FROM base
), dev AS (
  SELECT event_type, med2, abs(c2 - med2) AS d2 FROM med
), mad AS (
  SELECT event_type, med2, d2,
         CAST(median(d2) OVER (PARTITION BY event_type) * 2 AS BIGINT)
           AS mad4
  FROM dev
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(MAX(med2) AS BIGINT) AS med2_cents,
       CAST(MAX(mad4) AS BIGINT) AS mad4_cents,
       CAST(SUM(CASE WHEN d2 * 4 > mad4 * 7 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM mad GROUP BY event_type
"""


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user truncated EWMA of event values — the exponentially
    weighted rolling feature a behavioral model consumes (recent
    activity dominates, old activity decays). alpha = 1/2 truncated at
    8 lags makes every weight a power of two, so the smoothed value is
    EXACT integer arithmetic: ``ewma_x256 = sum_i cents_{t-i} *
    2^(7-i)`` (weights 128,64,...,1 over lags 0..7), emitted in scaled
    cents with the divisor left to the consumer.

    Scale: the window partitions by user_id — high-cardinality, so the
    sequential-per-key cost parallelizes across users (the same reason
    ``events_sessionize`` scales and a per-TYPE rolling metric does
    not; see ``events_rolling_median``'s caveat). 8 ``lag`` reads from
    one window pass, one shuffle total.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    base = e.select("event_id", "user_id", "ts", cents.alias("c"))
    ewma = sum(
        (F.coalesce(F.lag("c", i).over(w), F.lit(0)) * (1 << (7 - i))
         for i in range(1, 8)),
        F.col("c") * 128)
    return (base.withColumn("ewma_x256", ewma.cast("bigint"))
            .select("event_id", "user_id", "ewma_x256"))


USER_EWMA_SQL = """
SELECT event_id, user_id,
       CAST(
         c * 128
         + COALESCE(lag(c, 1) OVER w, 0) * 64
         + COALESCE(lag(c, 2) OVER w, 0) * 32
         + COALESCE(lag(c, 3) OVER w, 0) * 16
         + COALESCE(lag(c, 4) OVER w, 0) * 8
         + COALESCE(lag(c, 5) OVER w, 0) * 4
         + COALESCE(lag(c, 6) OVER w, 0) * 2
         + COALESCE(lag(c, 7) OVER w, 0) * 1
       AS BIGINT) AS ewma_x256
FROM (SELECT event_id, user_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def events_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative DISTINCT users per day (audience reach curve) — the
    op where the naive formulation (`COUNT(DISTINCT user) OVER` an
    expanding window) re-deduplicates the entire prefix for every day
    and dies quadratically at scale. The scale-correct identity: a
    user contributes exactly once, on their FIRST day — so reach(d) is
    the running SUM of first-appearance counts. One argmin aggregate
    (user-cardinality shuffle) + one cumulative window over the
    calendar-sized day frame.

    String days (temporal-output lint), integer counts; the oracle
    states the same identity."""
    e = table(spark, sf_dir, "events")
    first = (e.select("user_id", F.to_date("ts").alias("day"))
             .groupBy("user_id").agg(F.min("day").alias("first_day")))
    per_day = (first.groupBy("first_day")
               .agg(F.count(F.lit(1)).alias("new_users")))
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, 0)
    return (per_day
            .withColumn("cumulative_reach",
                        F.sum("new_users").over(w).cast("bigint"))
            .select(F.date_format("first_day", "yyyy-MM-dd").alias("day"),
                    "new_users", "cumulative_reach"))


EVENTS_REACH_SQL = """
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
), per_day AS (
  SELECT first_day, COUNT(*) AS new_users FROM first GROUP BY first_day
)
SELECT strftime(first_day, '%Y-%m-%d') AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_reach
FROM per_day
"""


def event_path_topk(spark: SparkSession, sf_dir: str,
                    topk: int = 10) -> DataFrame:
    """Sequence-pattern mining: the most common length-3 event-type
    paths (user journeys) — the n-gram extension of
    ``event_transition_matrix`` (first-order chains cannot see that
    view->click->purchase outranks click->view->purchase). Two ``lead``
    reads per event over the per-user time order, then a global count
    and top-k with ties on the path string.

    Scale: the window partitions by user_id (high-cardinality), the
    path aggregate is an ordinary hash groupBy over a frame bounded by
    |event types|^3, and the top-k windows over that bounded frame."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (e.select("user_id", "ts", "event_id", "event_type")
             .withColumn("t2", F.lead("event_type", 1).over(w))
             .withColumn("t3", F.lead("event_type", 2).over(w))
             .filter(F.col("t3").isNotNull())
             .select(F.concat_ws(">", "event_type", "t2", "t3")
                     .alias("path"))
             .groupBy("path").agg(F.count(F.lit(1)).alias("n_paths")))
    w_top = Window.orderBy(F.desc("n_paths"), "path")
    return (paths.withColumn("rank", F.row_number().over(w_top)
                             .cast("int"))
            .filter(F.col("rank") <= topk)
            .select("rank", "path", "n_paths"))


EVENT_PATH_SQL = """
WITH paths AS (
  SELECT event_type || '>' || t2 || '>' || t3 AS path
  FROM (SELECT event_type,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
  WHERE t3 IS NOT NULL
), counts AS (
  SELECT path, COUNT(*) AS n_paths FROM paths GROUP BY path
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_paths DESC, path) AS INT)
         AS rank,
       path, n_paths
FROM counts
QUALIFY rank <= 10
"""


def bot_rate_flags(spark: SparkSession, sf_dir: str,
                   epm_threshold: int = 5) -> DataFrame:
    """Rate-based bot/abuse detection: per user, the peak events-per-
    minute burst and a flag when it exceeds the threshold — the traffic
    filter web-scale ingestion runs before any content filter (bot
    sessions poison both dedup statistics and quality percentiles).

    Scale: one (user, minute) hash aggregate (linear, high-cardinality)
    then one user-level aggregate — no windows, no self-joins. Integer
    output."""
    e = table(spark, sf_dir, "events")
    per_min = (e.select("user_id",
                        F.date_trunc("minute", F.col("ts")).alias("m"))
               .groupBy("user_id", "m")
               .agg(F.count(F.lit(1)).alias("epm")))
    return (per_min.groupBy("user_id")
            .agg(F.max("epm").cast("int").alias("peak_epm"),
                 F.sum("epm").cast("bigint").alias("n_events"),
                 F.count(F.lit(1)).cast("int").alias("active_minutes"))
            .withColumn("is_bot",
                        (F.col("peak_epm") >= epm_threshold).cast("int")))


BOT_RATE_SQL = """
WITH per_min AS (
  SELECT user_id, date_trunc('minute', ts) AS m, COUNT(*) AS epm
  FROM events GROUP BY 1, 2
)
SELECT user_id, CAST(MAX(epm) AS INT) AS peak_epm,
       CAST(SUM(epm) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS INT) AS active_minutes,
       CAST(MAX(epm) >= 5 AS INT) AS is_bot
FROM per_min GROUP BY user_id
"""


#: One bin's PSI term over the integer-ppm shares ``p_ppm``/``q_ppm``,
#: clamped to >= 1 inside the ln. The same text runs in Spark and DuckDB.
_PSI_TERM = "(p_ppm - q_ppm) * " + ln_micros(
    "CAST(GREATEST(p_ppm, 1) AS DOUBLE) / GREATEST(q_ppm, 1)")


def _psi(counts: DataFrame, keys: list[str]) -> DataFrame:
    """The integer-pico PSI stage of ``events_drift_psi``,
    ``value_drift_continuous`` and ``streaming_drift_monitor``: per
    ``keys`` group of ``(keys..., bin, a, b)`` raw counts,
    ``PSI = sum((p-q) * ln(p/q))`` in pico-units, returned as
    ``keys..., psi_pico, n_bins, n_a, n_b``. Shares are integer ppm,
    each bin's ln is ``ln_micros``, and the product ppm x micros sums
    exactly in BIGINT — no float reduction. Empty bins get the standard
    +1 smoothing, and the ppm shares inside the ln are clamped to
    >= 1: smoothing alone guarantees a count of >= 1, but once a side
    exceeds 1M rows a rare bin's integer-ppm share still truncates to
    0, and ln(0)/division-by-zero would drop the term (Spark NULL) or
    diverge between engines (DuckDB -inf) — the clamp caps a sub-ppm
    share's ln at ln(1/ppm) on both sides. ``_sql_psi`` is the
    oracle's twin."""
    w = Window.partitionBy(*keys)
    return (counts
            .select(*keys, "a", "b",
                    F.sum(F.col("a") + 1).over(w).alias("ta"),
                    F.sum(F.col("b") + 1).over(w).alias("tb"))
            .select(*keys, "a", "b",
                    F.expr("(a + 1) * 1000000 DIV ta").alias("p_ppm"),
                    F.expr("(b + 1) * 1000000 DIV tb").alias("q_ppm"))
            .groupBy(*keys)
            .agg(F.sum(F.expr(_PSI_TERM)).cast("bigint").alias("psi_pico"),
                 F.count(F.lit(1)).cast("int").alias("n_bins"),
                 F.sum("a").cast("bigint").alias("n_a"),
                 F.sum("b").cast("bigint").alias("n_b")))


def _sql_psi(keys: list[str]) -> str:
    """``_psi`` for the oracles: CTEs ending in ``psi``, read from a
    ``counts`` relation of ``(keys..., bin, a, b)``."""
    k = ", ".join(keys)
    sel = f"{k}, " if keys else ""
    by = f"PARTITION BY {k}" if keys else ""
    grp = f" GROUP BY {k}" if keys else ""
    return f"""sm AS (
  SELECT {sel}a, b,
         (a + 1) * 1000000 // SUM(a + 1) OVER ({by}) AS p_ppm,
         (b + 1) * 1000000 // SUM(b + 1) OVER ({by}) AS q_ppm
  FROM counts
), psi AS (
  SELECT {sel}CAST(SUM({_PSI_TERM}) AS BIGINT) AS psi_pico,
         CAST(COUNT(*) AS INT) AS n_bins,
         CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b
  FROM sm{grp}
)"""


def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type — the industry-named
    drift metric beside ``events_drift_chi2``: the value distributions
    of odd (reference ``a``) vs even (``b``) ``event_id`` compared over
    the same fixed bins by ``_psi``, in integer pico-units.

    Scale: one scan into a (type, bin) aggregate, then arithmetic over
    the bins-x-types frame."""
    e = table(spark, sf_dir, "events")
    half = (F.col("event_id") % 2 == 0).cast("int").alias("half")
    bin_ = F.least(F.floor(F.col("value") / 100), F.lit(9)).cast("int")
    counts = (e.select("event_type", half, bin_.alias("bin"))
              .groupBy("event_type", "bin")
              .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
                   .alias("a"),
                   F.sum("half").alias("b")))
    return _psi(counts, ["event_type"]).select("event_type", "psi_pico",
                                               "n_bins")


EVENTS_PSI_SQL = f"""
WITH counts AS (
  SELECT event_type,
         CAST(LEAST(floor(value / 100), 9) AS INT) AS bin,
         SUM(CASE WHEN event_id % 2 != 0 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS b
  FROM events GROUP BY 1, 2
), {_sql_psi(["event_type"])}
SELECT event_type, psi_pico, n_bins FROM psi
"""


DRIFT_NBINS = 10


def value_drift_continuous(spark: SparkSession, sf_dir: str,
                           n_bins: int = DRIFT_NBINS) -> DataFrame:
    """PSI drift on a CONTINUOUS feature [EXT] — the ML-monitoring
    companion to ``events_drift_psi`` (categorical): the ``value``
    column's odd-``event_id`` (reference) vs even-``event_id``
    (current) distributions compared over EQUI-DEPTH bins fitted on the
    REFERENCE side only — the standard monitoring protocol (bins from
    the training/reference window, candidate traffic scored against
    them), so a pure location shift that leaves category counts alone
    still shows up.

    Composition of two pinned disciplines: the reference bin cuts are
    the ``orders_equidepth_bins`` mergeable-percentile + broadcast
    join-back idiom (9 scalar cuts; swap percentile_approx in at
    extreme cardinality); the PSI arithmetic is the ``_psi`` stage.
    Output is one global row (psi_pico, n_bins, n_ref, n_cur).
    """
    e = table(spark, sf_dir, "events")
    w = e.select(
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        (F.col("event_id") % 2 == 0).cast("int").alias("half"))
    qs = [i / n_bins for i in range(1, n_bins)]
    # one array-percentile aggregate instead of n_bins-1 separate
    # buffers — bit-identical cuts, ~4x less agg work (see
    # scaleops.orders_equidepth_bins, r17)
    arr = ", ".join(f"{q}D" for q in qs)
    cuts = (w.filter(F.col("half") == 0)
            .agg(F.expr(f"percentile(cents, array({arr}))").alias("cs"))
            .select(*[F.col("cs")[i - 1].alias(f"c{i}")
                      for i in range(1, n_bins)]))
    bin_ = sum((F.col("cents") > F.col(f"c{i}")).cast("int")
               for i in range(1, n_bins))
    counts = (w.crossJoin(F.broadcast(cuts))
              .select(bin_.alias("bin"), "half")
              .groupBy("bin")
              .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
                   .alias("a"),
                   F.sum("half").alias("b")))
    return _psi(counts, []).select("psi_pico", "n_bins",
                                   F.col("n_a").alias("n_ref"),
                                   F.col("n_b").alias("n_cur"))


VALUE_DRIFT_SQL = """
WITH w AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS half
  FROM events
), cuts AS (
  SELECT {cut_list} FROM w WHERE half = 0
), counts AS (
  SELECT ({bin_expr}) AS bin,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS a,
         SUM(half) AS b
  FROM w, cuts GROUP BY 1
), {psi}
SELECT psi_pico, n_bins, n_a AS n_ref, n_b AS n_cur FROM psi
""".format(
    cut_list=", ".join(f"quantile_cont(cents, {i / DRIFT_NBINS}) AS c{i}"
                       for i in range(1, DRIFT_NBINS)),
    bin_expr=" + ".join(f"CAST(cents > c{i} AS INT)"
                        for i in range(1, DRIFT_NBINS)),
    psi=_sql_psi([]))


def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — the product-analytics engagement ratio:
    per day, the count of distinct active users (DAU) over the count
    of users active in the trailing 7 days (WAU), in integer ppm.

    Scale: the naive WAU is an expanding/sliding COUNT(DISTINCT)
    window (quadratic state); instead each (user, day) activity row
    fans out to the <= 7 future days whose trailing window contains it
    (a bounded explode), and WAU is one plain distinct aggregate per
    target day — linear with a 7x constant, the same rewrite family as
    ``events_cumulative_reach``'s first-seen identity."""
    e = table(spark, sf_dir, "events")
    du = (e.groupBy(F.to_date("ts").alias("day"), "user_id")
          .agg(F.count(F.lit(1)).alias("_c")).drop("_c"))
    bounds = e.agg(F.max(F.to_date("ts")).alias("dmax"))
    fan = (du.select("user_id", "day",
                     F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"))
           .select("user_id", F.expr("date_add(day, o)").alias("tday"))
           .crossJoin(F.broadcast(bounds))
           .filter(F.col("tday") <= F.col("dmax")))
    wau = (fan.groupBy("tday")
           .agg(F.countDistinct("user_id").alias("n_wau")))
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("n_dau"))
    return (dau.join(wau, dau.day == wau.tday)
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "n_dau", "n_wau",
                    F.expr(ppm("n_dau", "n_wau"))
                    .alias("stickiness_ppm")))


DAU_WAU_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), bounds AS (
  SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events
), fan AS (
  SELECT du.day + CAST(o AS INT) AS tday, du.user_id
  FROM du, (SELECT unnest(range(0, 7)) AS o) offs
), wau AS (
  SELECT tday, COUNT(DISTINCT user_id) AS n_wau
  FROM fan, bounds WHERE tday <= dmax GROUP BY tday
), dau AS (
  SELECT day, COUNT(*) AS n_dau FROM du GROUP BY day
)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, n_dau, n_wau,
       CAST(n_dau * 1000000 // n_wau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau ON dau.day = wau.tday
"""


DECAY_HALF_LIFE_DAYS = 14


def decayed_type_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed popularity score per event type [EXT] — the
    trending/feature-store scoring primitive: recent events count
    fully, older events half per ``DECAY_HALF_LIFE_DAYS`` — except the
    decay is DYADIC (step-wise powers of two per whole half-life
    elapsed, ``weight = 1e6 >> (age_days div half_life)`` micros)
    instead of the usual ``2^(-age/half)``: libm ``pow`` is not
    correctly rounded and may differ by an ulp between engines, while
    bit shifts are engine-exact (the ``_zorder_expr`` precedent). The
    score is therefore a plain SUM of per-event integer weights —
    fully mergeable (map-side combine, per-source partials add), which
    recursive EWMA formulations (``user_value_ewma``) are not.

    "Now" is the corpus max event date (broadcast 1-row aggregate), so
    the score is a pure function of the data. Weights vanish (0) after
    20 half-lives. Output: event_type, n_events, live_events (weight >
    0), decayed_micro (DECIMAL(38,0) armor Spark-side — the sum is
    data-sized)."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("dmax"))
    wgt = F.expr(
        f"CASE WHEN datediff(dmax, CAST(ts AS DATE))"
        f" div {DECAY_HALF_LIFE_DAYS} > 20 THEN CAST(0 AS BIGINT)"
        f" ELSE 1000000 DIV shiftleft(CAST(1 AS BIGINT), "
        f"CAST(datediff(dmax, CAST(ts AS DATE))"
        f" div {DECAY_HALF_LIFE_DAYS} AS INT)) END")
    return (e.select("event_type", "ts")
            .crossJoin(F.broadcast(mx))
            .select("event_type", wgt.alias("w"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum((F.col("w") > 0).cast("int")).cast("bigint")
                 .alias("live_events"),
                 F.sum(F.col("w").cast("decimal(38,0)")).cast("bigint")
                 .alias("decayed_micro")))


DECAYED_POP_SQL = f"""
WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
w AS (
  SELECT event_type,
         CASE WHEN datediff('day', CAST(ts AS DATE), dmax)
                   // {DECAY_HALF_LIFE_DAYS} > 20 THEN 0
              ELSE 1000000 // (CAST(1 AS BIGINT) <<
                   (datediff('day', CAST(ts AS DATE), dmax)
                    // {DECAY_HALF_LIFE_DAYS})) END AS w
  FROM events, mx
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS live_events,
       CAST(SUM(w) AS BIGINT) AS decayed_micro
FROM w GROUP BY event_type
"""


ATTRIB_LOOKBACK_S = 7 * 86400
_TOUCH_TYPES = ("click", "signup", "view")


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution [EXT]: every purchase's revenue is
    credited to the LAST TOUCH — the same user's most recent
    non-purchase event within a 7-day lookback; purchases with no
    in-window touch credit the 'direct' channel. Output is the
    channel-level report (purchases attributed, revenue in cents) a
    spend dashboard consumes.

    Spark-first shape: the as-of lookup is NOT an inequality join (a
    range join on [ts-7d, ts) would re-shuffle both sides and blow up
    on hot users) but the repo's union + ordered-window idiom
    (``asof_last_click_before_purchase``): one shuffle on user_id, two
    ``last(..., ignorenulls=True)`` carries over the same window (one
    exchange — same-spec windows collapse), then the channel decision
    and the final channel aggregate (5-row frame). Timestamps compare
    as fractional epoch seconds (``events_sessionize`` discipline);
    revenue is integer cents; ties at identical ts break on event_id
    (the later event wins, stated by the window order both sides).
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    is_touch = F.col("event_type").isin(*_TOUCH_TYPES)
    carried = e.withColumns({
        "touch_type": F.last(F.when(is_touch, F.col("event_type")),
                             ignorenulls=True).over(w),
        "touch_ts": F.last(F.when(is_touch, F.col("ts").cast("double")),
                           ignorenulls=True).over(w)})
    attributed = (carried.filter(F.col("event_type") == "purchase")
                  .select(
                      F.when(F.col("touch_ts").isNotNull()
                             & (F.col("ts").cast("double")
                                - F.col("touch_ts") <= ATTRIB_LOOKBACK_S),
                             F.col("touch_type"))
                      .otherwise(F.lit("direct")).alias("channel"),
                      F.floor(F.col("value") * 100 + 0.5)
                      .cast("bigint").alias("cents")))
    return (attributed.groupBy("channel")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.sum("cents").alias("revenue_cents")))


ATTRIBUTION_SQL = f"""
WITH carried AS (
  SELECT user_id, event_id, ts, event_type, value,
         last_value(CASE WHEN event_type IN {_TOUCH_TYPES!r}
                         THEN event_type END IGNORE NULLS)
           OVER w AS touch_type,
         last_value(CASE WHEN event_type IN {_TOUCH_TYPES!r}
                         THEN epoch(ts) END IGNORE NULLS)
           OVER w AS touch_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT CASE WHEN touch_ts IS NOT NULL
                 AND epoch(ts) - touch_ts <= {ATTRIB_LOOKBACK_S}
            THEN touch_type ELSE 'direct' END AS channel,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM carried WHERE event_type = 'purchase'
GROUP BY 1
"""


def attribution_position_based(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution [EXT] — the
    standard companion to ``attribution_last_touch``: each purchase's
    revenue is split across ALL its journey touches, 40% to the first,
    40% to the last, 20% shared by the middles (k=1 -> 100%, k=2 ->
    50/50). A journey = the touches whose NEXT purchase (same user) is
    this one and that fall inside the 7-day lookback; touchless
    purchases credit 'direct'.

    Exactness spec (documented, both engines): shares are integer ppm;
    each middle gets ``200000 DIV m`` and the division remainder goes
    to the LAST touch, so every journey's shares sum to exactly 1e6
    and channel revenue is conserved in micro-cents.

    Spark-first shape: no touch x purchase range join — one user_id
    shuffle; a FORWARD-looking window carries each event's next
    purchase (id, ts, cents); journeys group on (user, purchase id);
    first/last/middle come from one rank + one count over the
    journey-partitioned window. All windows partition on
    user/journey keys."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value")
    w_next = (Window.partitionBy("user_id").orderBy("ts", "event_id")
              .rowsBetween(1, Window.unboundedFollowing))
    is_p = F.col("event_type") == "purchase"
    carried = e.withColumns({
        "np_id": F.first(F.when(is_p, F.col("event_id")),
                         ignorenulls=True).over(w_next),
        "np_ts": F.first(F.when(is_p, F.col("ts").cast("double")),
                         ignorenulls=True).over(w_next)})
    # materialized once: BOTH the journey ranking and the journeyed-id
    # set consume this frame, and its lineage holds the expensive
    # user-partitioned carry window — without the checkpoint each
    # branch re-runs that window (10x soak measured 3.7x; 2.0x after)
    touches = barrier(
        carried
        .filter(F.col("event_type").isin(*_TOUCH_TYPES)
                & F.col("np_id").isNotNull()
                & (F.col("np_ts") - F.col("ts").cast("double")
                   <= ATTRIB_LOOKBACK_S))
        .select("user_id", "event_id", "ts", "event_type", "np_id"))
    wj = Window.partitionBy("user_id", "np_id").orderBy("ts", "event_id")
    wjn = Window.partitionBy("user_id", "np_id")
    placed = (touches
              .withColumn("pos", F.row_number().over(wj))
              .withColumn("k", F.count(F.lit(1)).over(wjn)))
    shares = placed.withColumn("share_ppm", F.expr(
        "CASE WHEN k = 1 THEN 1000000 "
        "WHEN k = 2 THEN 500000 "
        "WHEN pos = 1 THEN 400000 "
        "WHEN pos = k THEN 400000 + (200000 - (k - 2) "
        "* (200000 DIV (k - 2))) "
        "ELSE 200000 DIV (k - 2) END"))
    purchases = (e.filter(is_p)
                 .select(F.col("event_id").alias("p_id"),
                         F.floor(F.col("value") * 100 + 0.5)
                         .cast("bigint").alias("cents")))
    credited = (shares.join(purchases, shares.np_id == purchases.p_id)
                .select(F.col("event_type").alias("channel"),
                        F.expr("CAST(share_ppm AS BIGINT) * cents")
                        .alias("micro")))
    # 'direct' needs no second pass over the carry window: it is the
    # plain purchases frame anti-joined against the journeyed-id set
    direct = (purchases
              .join(touches.select(F.col("np_id").alias("j_id")).distinct(),
                    F.col("p_id") == F.col("j_id"), "left_anti")
              .select(F.lit("direct").alias("channel"),
                      F.expr("cents * 1000000").alias("micro")))
    return (credited.unionByName(direct)
            .groupBy("channel")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_credits"),
                 F.sum("micro").cast("bigint")
                 .alias("revenue_microcents")))


ATTRIBUTION_POSITION_SQL = f"""
WITH carried AS (
  SELECT user_id, event_id, ts, event_type, value,
         first_value(CASE WHEN event_type = 'purchase'
                          THEN event_id END IGNORE NULLS)
           OVER wn AS np_id,
         first_value(CASE WHEN event_type = 'purchase'
                          THEN epoch(ts) END IGNORE NULLS)
           OVER wn AS np_ts
  FROM events
  WINDOW wn AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), touches AS (
  SELECT user_id, event_id, ts, event_type, np_id
  FROM carried
  WHERE event_type IN {_TOUCH_TYPES!r} AND np_id IS NOT NULL
    AND np_ts - epoch(ts) <= {ATTRIB_LOOKBACK_S}
), placed AS (
  SELECT event_type, np_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, np_id
                            ORDER BY ts, event_id) AS pos,
         COUNT(*) OVER (PARTITION BY user_id, np_id) AS k
  FROM touches
), shares AS (
  SELECT event_type AS channel, np_id,
         CASE WHEN k = 1 THEN 1000000
              WHEN k = 2 THEN 500000
              WHEN pos = 1 THEN 400000
              WHEN pos = k THEN 400000 + (200000 - (k - 2)
                   * (200000 // (k - 2)))
              ELSE 200000 // (k - 2) END AS share_ppm
  FROM placed
), purchases AS (
  SELECT event_id AS p_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), credited AS (
  SELECT channel, CAST(share_ppm AS BIGINT) * cents AS micro
  FROM shares JOIN purchases ON np_id = p_id
  UNION ALL
  SELECT 'direct' AS channel,
         CAST(floor(value * 100 + 0.5) AS BIGINT) * 1000000 AS micro
  FROM carried
  WHERE event_type = 'purchase'
    AND event_id NOT IN (SELECT DISTINCT np_id FROM placed)
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(micro) AS BIGINT) AS revenue_microcents
FROM credited GROUP BY channel
"""


def retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort RETENTION TRIANGLE [EXT] — the month-over-month grid
    every growth dashboard starts from: users are cohorted by their
    FIRST active month; cell (cohort, k) counts how many of them were
    active again k months later, with retention in ppm of cohort
    size.  Complements ``cohort_ltv_curve`` (value accumulation) with
    the presence/absence grid.  Distinct from
    ``events_retention_cohorts`` (day-grain, offsets clamped into a
    7+ bucket, raw counts): this is the MONTH-grain triangle with
    UNCLAMPED offsets and size-normalized ``retained_ppm`` — the form
    a retention curve is actually read from.

    Month arithmetic is integer (year*12+month), so offsets are exact
    in both engines; cohort labels are min'd as 'yyyy-MM' strings
    (lexicographic == chronological for this format).

    Scale: distinct (user, month) first — one shuffle on user_id for
    the per-user min — then a user-keyed join back and a bounded
    (cohort x offset) aggregate. No window at all."""
    e = table(spark, sf_dir, "events")
    um = (e.select(
        "user_id",
        (F.year("ts") * 12 + F.month("ts")).alias("midx"),
        F.date_format("ts", "yyyy-MM").alias("mlabel"))
        .distinct())
    cohort = um.groupBy("user_id").agg(
        F.min("midx").alias("cidx"), F.min("mlabel").alias("cohort_month"))
    cells = (um.join(cohort, "user_id")
             .groupBy("cohort_month", "cidx",
                      (F.col("midx") - F.col("cidx")).alias("offset_months"))
             .agg(F.countDistinct("user_id").alias("active_users")))
    sizes = cohort.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    return (cells.join(sizes, "cohort_month")
            .select("cohort_month",
                    F.col("offset_months").cast("int").alias("offset_months"),
                    "cohort_size", "active_users",
                    F.expr(ppm("active_users", "cohort_size"))
                    .alias("retained_ppm"))
            .orderBy("cohort_month", "offset_months"))


RETENTION_TRIANGLE_SQL = """
WITH um AS (
  SELECT DISTINCT user_id,
         year(ts) * 12 + month(ts) AS midx,
         strftime(ts, '%Y-%m') AS mlabel
  FROM events
), cohort AS (
  SELECT user_id, MIN(midx) AS cidx, MIN(mlabel) AS cohort_month
  FROM um GROUP BY user_id
), cells AS (
  SELECT c.cohort_month, u.midx - c.cidx AS offset_months,
         COUNT(DISTINCT u.user_id) AS active_users
  FROM um u JOIN cohort c USING (user_id)
  GROUP BY 1, 2
), sizes AS (
  SELECT cohort_month, COUNT(*) AS cohort_size
  FROM cohort GROUP BY cohort_month
)
SELECT c.cohort_month, CAST(c.offset_months AS INT) AS offset_months,
       s.cohort_size, c.active_users,
       CAST(c.active_users * 1000000 // s.cohort_size AS BIGINT)
         AS retained_ppm
FROM cells c JOIN sizes s USING (cohort_month)
ORDER BY cohort_month, offset_months
"""


QUERIES: dict[str, QueryFn] = {
    "retention_triangle": retention_triangle,
    "dau_wau_stickiness": dau_wau_stickiness,
    "attribution_last_touch": attribution_last_touch,
    "attribution_position_based": attribution_position_based,
    "theil_sen_trend": theil_sen_trend,
    "value_drift_continuous": value_drift_continuous,
    "decayed_type_popularity": decayed_type_popularity,
    "funnel_time_to_convert": funnel_time_to_convert,
    "event_cooccurrence_pmi": event_cooccurrence_pmi,
    "ab_test_welch": ab_test_welch,
    "events_cusum_changepoint": events_cusum_changepoint,
    "seasonal_adjusted_anomalies": seasonal_adjusted_anomalies,
    "session_dwell_bounce": session_dwell_bounce,
    "watermark_delay_planner": watermark_delay_planner,
    "freshness_sla_audit": freshness_sla_audit,
    "target_encode_loo": target_encode_loo,
    "cohort_ltv_curve": cohort_ltv_curve,
    "events_drift_psi": events_drift_psi,
    "bot_rate_flags": bot_rate_flags,
    "event_path_topk": event_path_topk,
    "events_cumulative_reach": events_cumulative_reach,
    "user_value_ewma": user_value_ewma,
    "events_anomaly_mad": events_anomaly_mad,
    "events_rolling_median": events_rolling_median,
    "events_drift_chi2": events_drift_chi2,
    "event_transition_matrix": event_transition_matrix,
    "value_trend_by_type": value_trend_by_type,
    "events_retention_cohorts": events_retention_cohorts,
    "events_zscore_outliers": events_zscore_outliers,
    "events_funnel_conversion": events_funnel_conversion,
    "events_hourly_range_sum": events_hourly_range_sum,
    "asof_cogroup_pandas": asof_cogroup_pandas,
    "asof_cogroup_arrow": asof_cogroup_arrow,
    "events_range_join": events_range_join,
    "events_json_extract": events_json_extract,
    "events_tumbling_window": events_tumbling_window,
    "events_sliding_window": events_sliding_window,
    "events_sessionize": events_sessionize,
    "events_running_value": events_running_value,
    "events_variant_extract": events_variant_extract,
}

ORACLES: dict[str, str] = {
    "retention_triangle": RETENTION_TRIANGLE_SQL,
    "dau_wau_stickiness": DAU_WAU_SQL,
    "attribution_last_touch": ATTRIBUTION_SQL,
    "attribution_position_based": ATTRIBUTION_POSITION_SQL,
    "theil_sen_trend": THEIL_SEN_SQL,
    "value_drift_continuous": VALUE_DRIFT_SQL,
    "decayed_type_popularity": DECAYED_POP_SQL,
    "funnel_time_to_convert": FUNNEL_LATENCY_SQL,
    "event_cooccurrence_pmi": EVENT_PMI_SQL,
    "ab_test_welch": AB_WELCH_SQL,
    "events_cusum_changepoint": CUSUM_SQL,
    "seasonal_adjusted_anomalies": SEASONAL_ANOMALY_SQL,
    "session_dwell_bounce": SESSION_DWELL_SQL,
    "watermark_delay_planner": WATERMARK_PLANNER_SQL,
    "freshness_sla_audit": FRESHNESS_SQL,
    "target_encode_loo": TARGET_LOO_SQL,
    "cohort_ltv_curve": COHORT_LTV_SQL,
    "events_drift_psi": EVENTS_PSI_SQL,
    "bot_rate_flags": BOT_RATE_SQL,
    "event_path_topk": EVENT_PATH_SQL,
    "events_cumulative_reach": EVENTS_REACH_SQL,
    "user_value_ewma": USER_EWMA_SQL,
    "events_anomaly_mad": EVENTS_MAD_SQL,
    "events_rolling_median": EVENTS_ROLLING_MEDIAN_SQL,
    "events_drift_chi2": EVENTS_DRIFT_SQL,
    "event_transition_matrix": EVENT_TRANSITION_SQL,
    "value_trend_by_type": VALUE_TREND_SQL,
    "events_retention_cohorts": EVENTS_RETENTION_SQL,
    "events_zscore_outliers": EVENTS_ZSCORE_SQL,
    "events_funnel_conversion": EVENTS_FUNNEL_SQL,
    "events_hourly_range_sum": EVENTS_RANGE_FRAME_SQL,
    "asof_cogroup_pandas": ASOF_COGROUP_SQL,
    "asof_cogroup_arrow": ASOF_COGROUP_SQL,
    "events_range_join": EVENTS_RANGE_JOIN_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    "events_tumbling_window": EVENTS_TUMBLING_SQL,
    "events_sliding_window": EVENTS_SLIDING_SQL,
    "events_sessionize": EVENTS_SESSIONIZE_SQL,
    "events_running_value": EVENTS_RUNNING_SQL,
    "events_variant_extract": EVENTS_VARIANT_SQL,
}
