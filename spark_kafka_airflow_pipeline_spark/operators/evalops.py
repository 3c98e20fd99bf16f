"""Model-evaluation / inequality / time-series diagnostics [EXT].

The reference pipeline (``PipelineProcessor.scala:13-42``) validates and
routes records; the day those records feed a model or a report, the
platform needs the evaluation layer: feature-screening scores (WoE/IV),
ranking-quality metrics (AUC via the Mann-Whitney rank-sum), inequality
audits (Gini / Lorenz deciles), autocorrelation diagnostics on the
revenue series (ACF), and censored time-to-event estimates
(Kaplan-Meier). Each is expressed as Spark aggregates + the repo's
two-phase global-ranking primitives so no un-partitioned window ever
touches a data-sized frame, and each carries a full DuckDB oracle
(integer/ppm arithmetic; ln/exp rounded to 6dp — the repo's proven
cross-engine float discipline).

Scale notes (100 TB):
- WoE/IV: one orders-sized aggregate into a 5-row (segment) frame.
- AUC: score-level aggregate, then ``scaleops.global_running_sum``
  (range-repartition prefix sum) — the rank-sum needs a global
  cumulative count, never a global sort on one task.
- Gini: ``global_row_number`` + exact-ntile arithmetic (the r6-RFM
  lesson); the only global structure is the partition-offset broadcast.
- ACF / Kaplan-Meier: windows run over CALENDAR-BOUNDED level frames
  (daily aggregate; gap-day levels) — bounded at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.functions import text as T
from spark_kafka_airflow_pipeline_spark.operators.base import (
    QueryFn,
    barrier,
    ln_micros,
    ppm,
    table,
)

_CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"


def _labelled_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame the classifier evaluations score: per customer
    ``(c_custkey, score, is_pos)``, the account balance in floored
    cents, and 1 when the customer ever placed a 1-URGENT order.
    ``_SQL_LABELLED`` is its oracle CTE ``lab``."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    urgent = (table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey").distinct())
    return (c.join(urgent, c.c_custkey == urgent.o_custkey, "left")
            .select("c_custkey",
                    F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
                    .alias("score"),
                    F.expr("CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END")
                    .alias("is_pos")))


_SQL_LABELLED = """lab AS (
  SELECT c_custkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS score,
         CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS is_pos
  FROM customer
  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderpriority = '1-URGENT') u
    ON c_custkey = u.o_custkey
)"""


# ---------------------------------------------------------------------------
# 1. Weight of Evidence / Information Value
# ---------------------------------------------------------------------------

def woe_iv_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WoE / IV feature screening — the credit-scoring standard for
    "does this categorical feature separate the target?": target is
    order urgency (priority 1-URGENT/2-HIGH vs rest), feature is the
    customer market segment. Per segment: WoE = ln((pos_i/P)/(neg_i/N))
    and the IV contribution (pos_i/P - neg_i/N) * WoE.

    Determinism: WoE is ln of an exact integer cross-ratio
    (pos_i*N)/(neg_i*P) computed in double and rounded 6dp; IV reuses
    the ROUNDED WoE so both engines multiply identical doubles. All
    segments carry both classes at every SF (priorities are uniform).

    Scale: orders x broadcast(customer-dim join) -> 5-row aggregate;
    totals are a 1-row broadcast. Nothing beyond one fact-sized
    shuffle keyed on the segment."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    flagged = (o.join(c, o.o_custkey == c.c_custkey)
               .select("c_mktsegment",
                       F.expr("CASE WHEN o_orderpriority IN "
                              "('1-URGENT','2-HIGH') THEN 1 ELSE 0 END")
                       .alias("is_pos")))
    seg = (flagged.groupBy("c_mktsegment")
           .agg(F.sum("is_pos").alias("n_pos"),
                F.sum(F.expr("1 - is_pos")).alias("n_neg")))
    tot = seg.agg(F.sum("n_pos").alias("p_tot"),
                  F.sum("n_neg").alias("n_tot"))
    woe = ("round(ln((CAST(n_pos AS DOUBLE) * n_tot) / "
           "(CAST(n_neg AS DOUBLE) * p_tot)), 6)")
    return (seg.crossJoin(F.broadcast(tot))
            .select("c_mktsegment",
                    F.col("n_pos").cast("bigint").alias("n_pos"),
                    F.col("n_neg").cast("bigint").alias("n_neg"),
                    F.expr(woe).alias("woe_r6"),
                    F.expr(f"round((CAST(n_pos AS DOUBLE) / p_tot - "
                           f"CAST(n_neg AS DOUBLE) / n_tot) * {woe}, 6)")
                    .alias("iv_r6")))


WOE_IV_SQL = """
WITH flagged AS (
  SELECT c_mktsegment,
         CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
              THEN 1 ELSE 0 END AS is_pos
  FROM orders JOIN customer ON o_custkey = c_custkey
), seg AS (
  SELECT c_mktsegment, SUM(is_pos) AS n_pos,
         SUM(1 - is_pos) AS n_neg
  FROM flagged GROUP BY 1
), tot AS (
  SELECT SUM(n_pos) AS p_tot, SUM(n_neg) AS n_tot FROM seg
)
SELECT c_mktsegment,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       round(ln((CAST(n_pos AS DOUBLE) * n_tot) /
                (CAST(n_neg AS DOUBLE) * p_tot)), 6) AS woe_r6,
       round((CAST(n_pos AS DOUBLE) / p_tot -
              CAST(n_neg AS DOUBLE) / n_tot) *
             round(ln((CAST(n_pos AS DOUBLE) * n_tot) /
                      (CAST(n_neg AS DOUBLE) * p_tot)), 6), 6) AS iv_r6
FROM seg CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# 2. AUC via the Mann-Whitney rank-sum (distributed, tie-correct)
# ---------------------------------------------------------------------------

def score_auc_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-metric evaluation: AUC of "account balance predicts
    whether the customer ever places a 1-URGENT order", via the
    Mann-Whitney identity AUC = P(s_pos > s_neg) + P(s_pos = s_neg)/2.

    Tie-correct integer form over score LEVELS: with per-level counts
    (pos_i, neg_i) and the exclusive negative prefix cumneg_i,
    2*AUC*P*N = sum_i pos_i * (2*cumneg_i + neg_i) — all integers, so
    the metric is value-hash exact (auc_ppm = floor of the ppm ratio).

    Scale: the level frame is data-sized (near-distinct balances), so
    the prefix count uses ``global_running_sum`` — range-repartition +
    offset broadcast, never an un-partitioned window (the r6 RFM
    class). DECIMAL(38,0) keeps 2*P*N*10^6 exact at any row count."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_running_sum,
    )

    lab = _labelled_scores(spark, sf_dir)
    lev = (lab.groupBy("score")
           .agg(F.sum("is_pos").alias("pos"),
                F.sum(F.expr("1 - is_pos")).alias("neg")))
    run = global_running_sum(lev, "neg", F.col("score"), out="cumneg_incl")
    num2 = (run.agg(
        F.sum(F.expr("CAST(pos AS DECIMAL(19,0)) * "
                     "CAST(2 * (cumneg_incl - neg) + neg AS DECIMAL(19,0))"))
        .cast("decimal(38,0)").alias("num2"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).alias("n_levels")))
    return (num2.select(
        "n_pos", "n_neg", "n_levels",
        F.expr(ppm("num2", "2 * CAST(n_pos AS DECIMAL(19,0)) * "
                           "CAST(n_neg AS DECIMAL(19,0))"))
        .alias("auc_ppm"))
        .withColumn("gini_ppm",
                    F.expr("2 * auc_ppm - 1000000").cast("bigint")))


AUC_SQL = f"""
WITH {_SQL_LABELLED}, lev AS (
  SELECT score, SUM(is_pos) AS pos, SUM(1 - is_pos) AS neg
  FROM lab GROUP BY score
), run AS (
  SELECT *, SUM(neg) OVER (ORDER BY score
                           ROWS UNBOUNDED PRECEDING) AS cumneg_incl
  FROM lev
), agg AS (
  SELECT SUM(pos * (2 * (cumneg_incl - neg) + neg)) AS num2,
         SUM(pos) AS n_pos, SUM(neg) AS n_neg, COUNT(*) AS n_levels
  FROM run
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST(n_levels AS BIGINT) AS n_levels,
       CAST(num2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm,
       CAST(2 * (num2 * 1000000 // (2 * n_pos * n_neg)) - 1000000
            AS BIGINT) AS gini_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# 3. Gini coefficient + Lorenz deciles of customer revenue
# ---------------------------------------------------------------------------

def gini_lorenz_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: the Gini coefficient of per-customer
    revenue (zero-order customers included at 0) plus the Lorenz curve
    at decile grain — "the bottom 10% of customers hold cum_share_ppm
    of revenue". Gini uses the rank identity
    G = (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x)) over the ascending
    total order (cents, custkey) — all-integer, hence hash-exact.

    Scale: the rank comes from ``scaleops.global_row_number``
    (range-repartition two-phase, r6-RFM-safe); deciles are exact-ntile
    ARITHMETIC on (rank, n); the only window runs over the 10-row
    decile frame. DECIMAL(38,0) holds rank*cents sums at any SF."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_row_number,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders")
    per = (c.join(o, c.c_custkey == o.o_custkey, "left")
           .groupBy("c_custkey")
           .agg(F.coalesce(F.sum(F.expr(_CENTS)), F.lit(0))
                .cast("bigint").alias("cents")))
    ranked = global_row_number(per, F.col("cents").asc(),
                               F.col("c_custkey").asc(), out="rn")
    # totals from the MATERIALIZED ranked frame (global_row_number's
    # barrier) — aggregating `per` again would recompute the whole
    # customer-revenue join+groupBy (the 10x soak showed the doubled
    # scan)
    tot = ranked.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("cents").cast("decimal(19,0)")
                     .alias("tot_cents"))
    wt = ranked.crossJoin(F.broadcast(tot))
    gini = (wt.agg(
        F.sum(F.expr("CAST(rn AS DECIMAL(19,0)) * "
                     "CAST(cents AS DECIMAL(19,0))"))
        .cast("decimal(38,0)").alias("s_rnx"),
        F.first("n").alias("n"), F.first("tot_cents").alias("tot"))
        .select(F.expr(
            ppm("2 * s_rnx - (n + 1) * tot",
                "CAST(n AS DECIMAL(19,0)) * tot")).alias("gini_ppm")))
    # exact ntile(10) arithmetic on (global rank, n) — the RFM primitive
    dec = wt.withColumn("decile", F.expr(
        "CAST(CASE WHEN rn <= (n % 10) * (n DIV 10 + 1) "
        "THEN (rn + n DIV 10) DIV (n DIV 10 + 1) "
        "ELSE n % 10 + (rn - (n % 10) * (n DIV 10 + 1) "
        "+ n DIV 10 - 1) DIV (n DIV 10) END AS INT)"))
    per_dec = (dec.groupBy("decile")
               .agg(F.count(F.lit(1)).alias("n_customers"),
                    F.sum("cents").cast("bigint").alias("decile_cents"),
                    F.first("tot_cents").alias("tot")))
    w10 = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (per_dec
            .withColumn("cum_cents", F.sum("decile_cents").over(w10))
            .select("decile", "n_customers", "decile_cents",
                    F.expr(ppm("cum_cents", "tot")).alias("cum_share_ppm"))
            .crossJoin(F.broadcast(gini)))


GINI_SQL = """
WITH per AS (
  SELECT c_custkey,
         CAST(COALESCE(SUM(CAST(floor(o_totalprice * 100 + 0.5)
                                AS BIGINT)), 0) AS BIGINT) AS cents
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
), ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS rn,
         NTILE(10) OVER (ORDER BY cents, c_custkey) AS decile
  FROM per
), tot AS (
  SELECT COUNT(*) AS n, SUM(CAST(cents AS HUGEINT)) AS tot_cents FROM per
), gini AS (
  SELECT CAST((2 * SUM(CAST(rn AS HUGEINT) * cents)
               - (n + 1) * tot_cents) * 1000000
              // (n * tot_cents) AS BIGINT) AS gini_ppm
  FROM ranked CROSS JOIN tot GROUP BY n, tot_cents
), per_dec AS (
  SELECT decile, COUNT(*) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS decile_cents
  FROM ranked GROUP BY decile
)
SELECT decile, n_customers, decile_cents,
       CAST(CAST(SUM(decile_cents) OVER (ORDER BY decile
                 ROWS UNBOUNDED PRECEDING) AS HUGEINT)
            * 1000000 // tot_cents AS BIGINT) AS cum_share_ppm,
       gini_ppm
FROM per_dec CROSS JOIN tot CROSS JOIN gini
"""


# ---------------------------------------------------------------------------
# 4. Autocorrelation function of the daily-revenue series
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 10


def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily order revenue at lags 1..10 —
    the seasonality/memory diagnostic run before any forecast
    (complements ``holt_forecast_monthly`` / ``orders_seasonality_index``
    with the model-free view).

    Exact integer moments: with n days, S = sum(x), the centered value
    scaled by n is c_t = n*x_t - S (an integer); r_k =
    sum(c_t*c_{t+k}) / sum(c_t^2) — the n^2 factors cancel, so both
    engines form IDENTICAL DECIMAL(38,0) numerators/denominators and
    only the final ratio is floated (rounded 6dp). Positions t are
    row_number over the day sequence, so calendar gaps do not produce
    phantom zero days.

    Scale: one orders-sized aggregate into a CALENDAR-BOUNDED daily
    frame (~2.5k rows at any SF); the position window and lag self-join
    run on that bounded frame. DECIMAL(19,0) per-factor casts keep the
    (38,0) products exact at 100 TB daily-revenue magnitudes."""
    o = table(spark, sf_dir, "orders")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.expr(_CENTS)).cast("decimal(19,0)").alias("x")))
    tot = daily.agg(F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
                    F.sum("x").cast("decimal(19,0)").alias("s"))
    # bounded frame: row_number over the day-grain aggregate
    pos = (daily.crossJoin(F.broadcast(tot))
           .select(F.row_number().over(Window.orderBy("day")).alias("t"),
                   F.expr("CAST(n * x - s AS DECIMAL(19,0))").alias("c")))
    den = pos.agg(F.sum(F.expr("c * c")).cast("decimal(38,0)")
                  .alias("den"))
    a = pos.select("t", F.col("c").alias("ca"),
                   F.explode(F.array(*[F.lit(k) for k in
                                       range(1, ACF_MAX_LAG + 1)]))
                   .alias("lag"))
    b = pos.select(F.col("t").alias("tb"), F.col("c").alias("cb"))
    return (a.join(b, a.t + a.lag == b.tb)
            .groupBy("lag")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.expr("ca * cb")).cast("decimal(38,0)")
                 .alias("num"))
            .crossJoin(F.broadcast(den))
            .select(F.col("lag").cast("int").alias("lag"), "n_pairs",
                    F.expr("round(CAST(num AS DOUBLE) / "
                           "CAST(den AS DOUBLE), 6)").alias("acf_r6")))


ACF_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS DECIMAL(19,0)) AS x
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS DECIMAL(19,0)) AS n,
         CAST(SUM(x) AS DECIMAL(19,0)) AS s
  FROM daily
), pos AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
         CAST(n * x - s AS DECIMAL(19,0)) AS c
  FROM daily CROSS JOIN tot
), den AS (
  SELECT CAST(SUM(c * c) AS DECIMAL(38,0)) AS den FROM pos
), lags AS (SELECT UNNEST(range(1, {ACF_MAX_LAG + 1})) AS lag)
SELECT CAST(a.lag AS INT) AS lag, COUNT(*) AS n_pairs,
       round(CAST(CAST(SUM(a.c * b.c) AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(den AS DOUBLE), 6) AS acf_r6
FROM (SELECT pos.*, lag FROM pos CROSS JOIN lags) a
JOIN pos b ON a.t + a.lag = b.t
CROSS JOIN den
GROUP BY a.lag, den
"""


# ---------------------------------------------------------------------------
# 5. Kaplan-Meier time-to-reorder with right-censoring
# ---------------------------------------------------------------------------

def _reorder_risk_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared risk-set level frame of the reorder time-to-event
    study: per gap-day level t_days, the event count d, censored count
    cens, and the at-risk count n_risk — consumed by BOTH
    ``kaplan_meier_reorder`` (product-limit survival) and
    ``nelson_aalen_hazard`` (cumulative hazard), so the two estimators
    cannot drift apart on subject/censoring definitions. Subject =
    customer with >= 1 order; event = second order at t = days between
    first and second order; no second order = right-censored at
    (corpus max date - first date)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate",
                                              "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    fs = (o.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= 2)
          .groupBy("o_custkey")
          .agg(F.min(F.when(F.col("rn") == 1, F.col("o_orderdate")))
               .alias("first_dt"),
               F.min(F.when(F.col("rn") == 2, F.col("o_orderdate")))
               .alias("second_dt")))
    cmax = o.agg(F.max("o_orderdate").alias("cmax"))
    obs = (fs.crossJoin(F.broadcast(cmax))
           .select(F.coalesce(F.datediff("second_dt", "first_dt"),
                              F.datediff("cmax", "first_dt"))
                   .alias("t_days"),
                   F.expr("CASE WHEN second_dt IS NULL THEN 0 ELSE 1 END")
                   .alias("is_event")))
    # CALENDAR-BOUNDED (~thousands of gap-day levels at any SF):
    # materialize ONCE — n_tot and the estimator both consume it, and
    # without this the per-customer rank pipeline is planned 4x (8
    # orders scans measured)
    lev = barrier(obs.groupBy("t_days")
                  .agg(F.sum("is_event").alias("d"),
                       F.sum(F.expr("1 - is_event")).alias("cens")))
    n_tot = lev.agg(F.sum(F.expr("d + cens")).alias("n_tot"))
    return (lev.crossJoin(F.broadcast(n_tot))
            .withColumn("n_risk",
                        F.expr("n_tot - (SUM(d + cens) OVER (ORDER BY t_days "
                               "ROWS UNBOUNDED PRECEDING) - (d + cens))")
                        .cast("bigint")))


#: shared SQL CTE prefix of the reorder time-to-event study — the
#: oracle twin of ``_reorder_risk_levels`` (KM and Nelson-Aalen both
#: interpolate it, so the oracles share one risk-set definition too).
_RISK_LEVELS_CTES = """
WITH ranked AS (
  SELECT o_custkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
), fs AS (
  SELECT o_custkey,
         MIN(CASE WHEN rn = 1 THEN o_orderdate END) AS first_dt,
         MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS second_dt
  FROM ranked WHERE rn <= 2 GROUP BY o_custkey
), cmax AS (SELECT MAX(o_orderdate) AS cmax FROM orders),
obs AS (
  SELECT COALESCE(date_diff('day', CAST(first_dt AS DATE),
                            CAST(second_dt AS DATE)),
                  date_diff('day', CAST(first_dt AS DATE),
                            CAST(cmax AS DATE))) AS t_days,
         CASE WHEN second_dt IS NULL THEN 0 ELSE 1 END AS is_event
  FROM fs CROSS JOIN cmax
), lev AS (
  SELECT t_days, SUM(is_event) AS d, SUM(1 - is_event) AS cens
  FROM obs GROUP BY t_days
), n_tot AS (SELECT SUM(d + cens) AS n_tot FROM lev),
km AS (
  SELECT t_days, d, cens,
         CAST(n_tot - (SUM(d + cens) OVER (ORDER BY t_days
                       ROWS UNBOUNDED PRECEDING) - (d + cens))
              AS BIGINT) AS n_risk
  FROM lev CROSS JOIN n_tot
)"""


def kaplan_meier_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of customer time-to-reorder —
    the censoring-correct answer to "how long until a customer comes
    back?" (a plain average over repeat customers is biased: customers
    who never reordered are evidence, not missing data). Subject =
    customer with >= 1 order; event = second order, at t = days between
    first and second order dates; subjects with no second order are
    right-censored at (corpus max date - first date).

    S(t) = prod_{t_i <= t} (1 - d_i / n_i) over event times, computed
    as exp of the cumulative sum of round(ln(1 - d/n), 6) — the repo's
    proven cross-engine ln/exp discipline, so the curve is value-hash
    pinned. A terminal level with d = n_risk (survival hits zero) maps
    to 0.0 explicitly (ln(0) never evaluated); nothing follows it.

    Scale: one partitioned-by-customer rank window finds first/second
    orders (one shuffle); the KM table itself lives on the gap-day
    level frame — CALENDAR-BOUNDED (~thousands of levels at any SF),
    so its ordering windows are bounded-frame by construction."""
    wlev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    km = (_reorder_risk_levels(spark, sf_dir)
          .withColumn("ln_term",
                      F.expr("CASE WHEN d > 0 AND d < n_risk THEN "
                             "round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 6) "
                             "END"))
          .withColumn("cum_ln", F.sum("ln_term").over(wlev)))
    return (km.filter(F.col("d") >= 1)
            .select(F.col("t_days").cast("int").alias("t_days"),
                    "n_risk",
                    F.col("d").cast("bigint").alias("d_events"),
                    F.col("cens").cast("bigint").alias("n_censored"),
                    F.expr("CASE WHEN d >= n_risk THEN 0.0 ELSE "
                           "round(exp(coalesce(cum_ln, 0.0)), 6) END")
                    .alias("surv_r6")))


KM_SQL = _RISK_LEVELS_CTES + """, terms AS (
  SELECT *, CASE WHEN d > 0 AND d < n_risk THEN
                 round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 6)
            END AS ln_term
  FROM km
), cum AS (
  SELECT *, SUM(ln_term) OVER (ORDER BY t_days
                               ROWS UNBOUNDED PRECEDING) AS cum_ln
  FROM terms
)
SELECT CAST(t_days AS INT) AS t_days, n_risk,
       CAST(d AS BIGINT) AS d_events,
       CAST(cens AS BIGINT) AS n_censored,
       CASE WHEN d >= n_risk THEN 0.0
            ELSE round(exp(COALESCE(cum_ln, 0.0)), 6) END AS surv_r6
FROM cum WHERE d >= 1
"""


def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimate of customer
    time-to-reorder [EXT] — the counting-process companion to
    ``kaplan_meier_reorder`` on the SAME risk-set frame
    (``_reorder_risk_levels``): H(t) = sum_{t_i <= t} d_i / n_i.
    Where KM answers "what fraction survives past t", the hazard curve
    answers "how intense is the reorder rate AT t" — the quantity a
    retention team actually intervenes on, and the standard
    cross-check on KM (-ln S(t) ~ H(t)).

    ALL-INTEGER (stronger than KM's ln/exp discipline): each increment
    is floor(d * 1e6 / n_risk) micros (exact — d and n_risk are
    integers), cumulated in a BIGINT prefix sum. No float enters the
    estimator, so the curve is value-hash exact.

    Scale: identical to KM — one customer-partitioned rank window,
    then everything on the CALENDAR-BOUNDED gap-day level frame (its
    un-partitioned prefix window runs on ~thousands of rows at any
    corpus size)."""
    wlev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    na = (_reorder_risk_levels(spark, sf_dir)
          .withColumn("h_micro", F.expr(ppm("d", "n_risk")))
          .withColumn("cum_h", F.sum("h_micro").over(wlev)))
    return (na.filter(F.col("d") >= 1)
            .select(F.col("t_days").cast("int").alias("t_days"),
                    "n_risk",
                    F.col("d").cast("bigint").alias("d_events"),
                    F.col("cens").cast("bigint").alias("n_censored"),
                    F.col("cum_h").cast("bigint")
                    .alias("cum_hazard_micros")))


NELSON_AALEN_SQL = _RISK_LEVELS_CTES + """, terms AS (
  SELECT *, d * 1000000 // n_risk AS h_micro FROM km
), cum AS (
  SELECT *, SUM(h_micro) OVER (ORDER BY t_days
                               ROWS UNBOUNDED PRECEDING) AS cum_h
  FROM terms
)
SELECT CAST(t_days AS INT) AS t_days, n_risk,
       CAST(d AS BIGINT) AS d_events,
       CAST(cens AS BIGINT) AS n_censored,
       CAST(cum_h AS BIGINT) AS cum_hazard_micros
FROM cum WHERE d >= 1
"""


# ---------------------------------------------------------------------------
# 6. Cumulative gains / lift by score decile
# ---------------------------------------------------------------------------

def score_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table — the campaign-targeting companion
    to ``score_auc_acctbal``: rank customers by account balance
    (best first), cut into deciles, and report per decile the cumulative
    share of all positives captured (gain) and the precision multiple
    over the base rate (lift). Target: customer ever places a 1-URGENT
    order.

    All-integer: gain_ppm = cum_pos*1e6 DIV P and lift_ppm =
    (cum_pos*N)*1e6 DIV (cum_rows*P) — hash-exact, no floats.

    Scale: the rank is ``global_row_number`` over (score DESC, custkey)
    — range-repartition two-phase, never one task; deciles are the
    exact-ntile ARITHMETIC on (rank, n) (bit-equal to SQL NTILE, the
    r6-RFM-safe form); the only window runs over the 10-row frame."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_row_number,
    )

    lab = _labelled_scores(spark, sf_dir)
    ranked = global_row_number(lab, F.col("score").desc(),
                               F.col("c_custkey").asc(), out="rn")
    # totals from the materialized ranked frame (not `lab` — see the
    # gini_lorenz_customers scan-doubling note)
    tot = ranked.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("is_pos").cast("bigint").alias("p"))
    dec = (ranked.crossJoin(F.broadcast(tot))
           .withColumn("decile", F.expr(
               "CAST(CASE WHEN rn <= (n % 10) * (n DIV 10 + 1) "
               "THEN (rn + n DIV 10) DIV (n DIV 10 + 1) "
               "ELSE n % 10 + (rn - (n % 10) * (n DIV 10 + 1) "
               "+ n DIV 10 - 1) DIV (n DIV 10) END AS INT)")))
    per = (dec.groupBy("decile")
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.sum("is_pos").cast("bigint").alias("n_pos"),
                F.first("n").alias("n"), F.first("p").alias("p")))
    w10 = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (per.withColumn("cum_rows", F.sum("n_rows").over(w10))
            .withColumn("cum_pos", F.sum("n_pos").over(w10))
            .select("decile", "n_rows", "n_pos",
                    F.expr(ppm("cum_pos", "p")).alias("gain_ppm"),
                    F.expr(ppm("CAST(cum_pos AS DECIMAL(19,0)) * n",
                               "CAST(cum_rows AS DECIMAL(19,0)) * p"))
                    .alias("lift_ppm")))


LIFT_SQL = f"""
WITH {_SQL_LABELLED}, ranked AS (
  SELECT is_pos,
         NTILE(10) OVER (ORDER BY score DESC, c_custkey) AS decile
  FROM lab
), tot AS (SELECT COUNT(*) AS n, SUM(is_pos) AS p FROM lab),
per AS (
  SELECT decile, COUNT(*) AS n_rows, SUM(is_pos) AS n_pos
  FROM ranked GROUP BY decile
)
SELECT decile, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            * 1000000 // p AS BIGINT) AS gain_ppm,
       CAST(SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            * n * 1000000
            // (SUM(n_rows) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                * p) AS BIGINT) AS lift_ppm
FROM per CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# 7. Calibration / reliability bins
# ---------------------------------------------------------------------------

CALIB_BINS = 10


def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table — does a higher account balance actually mean
    a higher urgent-order propensity? Scores are cut into 10 EQUAL-WIDTH
    integer-cents bins over the observed [min, max] range and each bin
    reports its observed positive rate beside the corpus base rate (the
    reliability-diagram data a calibration review plots).

    Bin id is pure integer arithmetic — (score-mn)*10 DIV (mx-mn+1) —
    so binning is hash-exact; empty bins carry no row (documented).

    Scale: one customer-sized aggregate after a broadcast of the 1-row
    (min, max, base-rate) frame; no windows, no data-sized joins beyond
    the one distinct-semijoin the label needs."""
    lab = _labelled_scores(spark, sf_dir)
    rng = lab.agg(F.min("score").alias("mn"), F.max("score").alias("mx"),
                  F.count(F.lit(1)).alias("n_all"),
                  F.sum("is_pos").alias("p_all"))
    return (lab.crossJoin(F.broadcast(rng))
            .withColumn("bin", F.expr(
                f"CAST((score - mn) * {CALIB_BINS} DIV (mx - mn + 1) "
                "AS INT)"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("is_pos").cast("bigint").alias("n_pos"),
                 F.first("n_all").alias("n_all"),
                 F.first("p_all").alias("p_all"))
            .select("bin", "n_rows", "n_pos",
                    F.expr(ppm("n_pos", "n_rows")).alias("pos_rate_ppm"),
                    F.expr(ppm("p_all", "n_all")).alias("base_rate_ppm")))


CALIB_SQL = f"""
WITH {_SQL_LABELLED}, rng AS (
  SELECT MIN(score) AS mn, MAX(score) AS mx,
         COUNT(*) AS n_all, SUM(is_pos) AS p_all
  FROM lab
)
SELECT CAST((score - mn) * {CALIB_BINS} // (mx - mn + 1) AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(is_pos) AS BIGINT) AS n_pos,
       CAST(SUM(is_pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
       CAST(p_all * 1000000 // n_all AS BIGINT) AS base_rate_ppm
FROM lab CROSS JOIN rng
GROUP BY 1, p_all, n_all
"""


# ---------------------------------------------------------------------------
# 8. Jensen-Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------------

_LN2_MICROS = 693147  # round(ln(2), 6) * 1e6 — the absent-term KL term


def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every source pair — the corpus-mixture diagnostic
    ("which sources are interchangeable, which bring novel text?") run
    before weighting a pre-training mix. 0 = identical distributions,
    ln(2) = disjoint vocabularies.

    Decomposition that needs ONLY the shared-term join: for a term in
    both sources, KL terms use the exact integer ratio 2·c1·t2 /
    (c1·t2 + c2·t1); a term present in one source only contributes
    p·ln2 exactly, so those fold into (t1 − shared_mass1)·ln2 — no
    full-outer join, no per-source vocab materialization twice.

    Portability (the entropy-op idiom): each term's ln is rounded 6dp
    and scaled to integer micros BEFORE the count-weighted BIGINT sum;
    the per-pair normalization (S1/t1 + S2/t2)/2 is one DECIMAL(38,0)
    integer division. Products c·t are formed in DECIMAL(38,0) (BIGINT
    c·t overflows at ~1e12-token sources).

    Pair universe (r8 ADVICE): the output row set is seeded from the
    cross join of DISTINCT sources (a bounded broadcast frame), not
    from the shared-term join — so a source pair with zero shared
    vocabulary still appears, with shared_terms = 0 and
    jsd_micronats = ln(2) in micros (693147), exactly the disjoint
    extreme the docstring promises.

    Scale: one (source, term) hash aggregate, a term-keyed self-join
    (<= C(n_sources,2) rows per term — sources are a bounded set), a
    190-row pair aggregate. Never doc x doc, never term x term."""
    from spark_kafka_airflow_pipeline_spark.operators.corpusops import (
        _tokens,
    )

    tf = (_tokens(table(spark, sf_dir, "documents"))
          .select("source", F.explode("toks").alias("w"))
          .groupBy("source", "w")
          .agg(F.count(F.lit(1)).alias("cnt")))
    tots = tf.groupBy("source").agg(F.sum("cnt").alias("t"))
    a = tf.select(F.col("source").alias("sa"), "w", F.col("cnt").alias("ca"))
    b = tf.select(F.col("source").alias("sb"), F.col("w").alias("wb"),
                  F.col("cnt").alias("cb"))
    ta = tots.select(F.col("source").alias("sa"), F.col("t").alias("ta"))
    tb = tots.select(F.col("source").alias("sb"), F.col("t").alias("tb"))
    shared = (a.join(b, (a.w == b.wb) & (a.sa < b.sb))
              .join(F.broadcast(ta), "sa").join(F.broadcast(tb), "sb")
              .select("sa", "sb", "ca", "cb", "ta", "tb",
                      F.expr("CAST(ca AS DECIMAL(38,0)) * tb").alias("xa"),
                      F.expr("CAST(cb AS DECIMAL(38,0)) * ta").alias("xb")))
    per_pair = (shared
                .select("sa", "sb", "ca", "cb",
                        F.expr("ca * " + ln_micros(
                            "2.0 * CAST(xa AS DOUBLE)"
                            " / CAST(xa + xb AS DOUBLE)")).alias("ma"),
                        F.expr("cb * " + ln_micros(
                            "2.0 * CAST(xb AS DOUBLE)"
                            " / CAST(xa + xb AS DOUBLE)")).alias("mb"))
                .groupBy("sa", "sb")
                .agg(F.count(F.lit(1)).alias("shared_terms"),
                     F.sum("ma").alias("s_a"), F.sum("mb").alias("s_b"),
                     F.sum("ca").alias("shc_a"), F.sum("cb").alias("shc_b")))
    spine = ta.join(F.broadcast(tb), F.col("sa") < F.col("sb"))
    full = (spine.join(per_pair, ["sa", "sb"], "left")
            .select("sa", "sb", "ta", "tb",
                    F.coalesce("shared_terms", F.lit(0))
                    .alias("shared_terms"),
                    F.coalesce("s_a", F.lit(0)).alias("s_a"),
                    F.coalesce("s_b", F.lit(0)).alias("s_b"),
                    F.coalesce("shc_a", F.lit(0)).alias("shc_a"),
                    F.coalesce("shc_b", F.lit(0)).alias("shc_b")))
    return (full.select(
        F.col("sa").alias("source_a"), F.col("sb").alias("source_b"),
        F.col("shared_terms").cast("bigint").alias("shared_terms"),
        F.expr(
            f"CAST((CAST(s_a + (ta - shc_a) * {_LN2_MICROS} "
            f"AS DECIMAL(38,0)) * tb "
            f" + CAST(s_b + (tb - shc_b) * {_LN2_MICROS} "
            f"AS DECIMAL(38,0)) * ta) "
            "DIV (2 * CAST(ta AS DECIMAL(38,0)) * tb) AS BIGINT)")
        .alias("jsd_micronats")))


JSD_SQL = rf"""
WITH tf AS (
  SELECT source, w, COUNT(*) AS cnt
  FROM (SELECT source,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY source, w
), tots AS (
  SELECT source, SUM(cnt) AS t FROM tf GROUP BY source
), shared AS (
  -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL operands degrades to
  -- float division (the theil_sen gotcha), breaking the exact floor
  SELECT a.source AS sa, b.source AS sb, a.cnt AS ca, b.cnt AS cb,
         ta.t AS ta, tb.t AS tb,
         CAST(a.cnt AS HUGEINT) * tb.t AS xa,
         CAST(b.cnt AS HUGEINT) * ta.t AS xb
  FROM tf a JOIN tf b ON a.w = b.w AND a.source < b.source
  JOIN tots ta ON ta.source = a.source
  JOIN tots tb ON tb.source = b.source
), per_pair AS (
  SELECT sa, sb, COUNT(*) AS shared_terms,
         SUM(ca * {ln_micros("2.0 * CAST(xa AS DOUBLE)"
                            " / CAST(xa + xb AS DOUBLE)")}) AS s_a,
         SUM(cb * {ln_micros("2.0 * CAST(xb AS DOUBLE)"
                            " / CAST(xa + xb AS DOUBLE)")}) AS s_b,
         SUM(ca) AS shc_a, SUM(cb) AS shc_b
  FROM shared GROUP BY sa, sb
), spine AS (
  -- every source pair, so zero-shared-vocabulary pairs surface with
  -- jsd = ln(2) micros instead of silently vanishing (r8 ADVICE)
  SELECT a.source AS sa, b.source AS sb, a.t AS ta, b.t AS tb
  FROM tots a JOIN tots b ON a.source < b.source
)
SELECT sa AS source_a, sb AS source_b,
       CAST(COALESCE(shared_terms, 0) AS BIGINT) AS shared_terms,
       CAST((CAST(COALESCE(s_a, 0)
                  + (ta - COALESCE(shc_a, 0)) * {_LN2_MICROS}
             AS HUGEINT) * tb
             + CAST(COALESCE(s_b, 0)
                    + (tb - COALESCE(shc_b, 0)) * {_LN2_MICROS}
               AS HUGEINT) * ta)
            // (2 * CAST(ta AS HUGEINT) * tb) AS BIGINT)
       AS jsd_micronats
FROM spine LEFT JOIN per_pair USING (sa, sb)
"""


# ---------------------------------------------------------------------------
# 9. Fano factor / burstiness of daily event arrivals
# ---------------------------------------------------------------------------

def daily_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion diagnostics of the per-type daily event-arrival
    process: the Fano factor (variance/mean of daily counts; 1 =
    Poisson, >1 = over-dispersed/bursty) and the Goh-Barabasi
    burstiness index B = (sigma - mu)/(sigma + mu) in [-1, 1). The
    capacity-planning answer to "are these arrivals smooth or bursty?".

    Exactness: over days with counts x_i, num = n*sum(x^2) - sum(x)^2
    is an exact integer; Fano = num/(n*sum(x)) and sigma = sqrt(num)/n
    — sqrt is IEEE-correctly-rounded (engine-identical), so B =
    (sqrt(num) - s)/(sqrt(num) + s) rounds 6dp identically. Moments
    are formed in DECIMAL(38,0)/HUGEINT (the ``interarrival_dispersion``
    pattern, r8 ADVICE: n_events^2 exceeds BIGINT well before 100 TB —
    ~3e9 events of one type is enough). Days with zero events of a
    type are NOT in the frame (observed-day convention, documented; a
    spine-join variant is one F.sequence away).

    Scale: one events-sized aggregate to the calendar-bounded
    (type x day) frame, then a per-type aggregate of integer moments —
    all mergeable, no windows."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("x")))
    num = ("CAST(n_days AS DECIMAL(38,0)) * ssq "
           "- CAST(n_events AS DECIMAL(38,0)) * n_events")
    return (daily.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum("x").cast("bigint").alias("n_events"),
                 F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
                 .cast("decimal(38,0)").alias("ssq"))
            .select("event_type", "n_days", "n_events",
                    F.expr(f"round(CAST({num} AS DOUBLE) / "
                           "CAST(CAST(n_days AS DECIMAL(38,0)) * n_events "
                           "AS DOUBLE), 6)").alias("fano_r6"),
                    F.expr(f"round((sqrt(CAST({num} AS DOUBLE)) - n_events)"
                           f" / (sqrt(CAST({num} AS DOUBLE)) + n_events)"
                           ", 6)").alias("burstiness_r6")))


FANO_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), mom AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(x) AS BIGINT) AS n_events,
         SUM(CAST(x AS HUGEINT) * x) AS ssq
  FROM daily GROUP BY event_type
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days, n_events,
       round(CAST(CAST(n_days AS HUGEINT) * ssq
                  - CAST(n_events AS HUGEINT) * n_events AS DOUBLE)
             / CAST(CAST(n_days AS HUGEINT) * n_events AS DOUBLE), 6)
         AS fano_r6,
       round((sqrt(CAST(CAST(n_days AS HUGEINT) * ssq
                        - CAST(n_events AS HUGEINT) * n_events AS DOUBLE))
              - n_events)
             / (sqrt(CAST(CAST(n_days AS HUGEINT) * ssq
                          - CAST(n_events AS HUGEINT) * n_events AS DOUBLE))
                + n_events), 6) AS burstiness_r6
FROM mom
"""


# ---------------------------------------------------------------------------
# 10. Herfindahl-Hirschman revenue concentration per nation
# ---------------------------------------------------------------------------

def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit per nation: the Herfindahl-Hirschman
    index of customer revenue shares (sum of squared shares; 1e6 ppm =
    monopoly), the implied effective customer count 1/HHI, and the top
    customer's share — the antitrust-style complement to the Gini/
    Lorenz view (HHI weights the head, Gini the whole curve).

    All-integer: HHI_ppm = sum(c^2)*1e6 DIV sum(c)^2 with both products
    in DECIMAL(38,0) (a 100 TB customer's cents^2 alone is ~1e22).

    Scale: customer-revenue aggregate (one orders shuffle), broadcast
    nation dim join, 25-row output. Zero-revenue nations are dropped
    (division guard; cannot occur in TPC-H data, documented)."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (c.join(o, c.c_custkey == o.o_custkey, "left")
           .groupBy("c_custkey", "c_nationkey")
           .agg(F.coalesce(F.sum(F.expr(_CENTS)), F.lit(0))
                .cast("bigint").alias("cents")))
    return (per.join(F.broadcast(n), per.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("cents").cast("bigint").alias("tot_cents"),
                 F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents"))
                 .alias("ssq"),
                 F.max("cents").alias("max_cents"))
            .filter(F.col("tot_cents") > 0)
            .select(F.col("n_name").alias("nation"), "n_customers",
                    "tot_cents",
                    F.expr("CAST(CAST(ssq AS DECIMAL(38,0)) * 1000000 DIV "
                           "(CAST(tot_cents AS DECIMAL(38,0)) * tot_cents) "
                           "AS BIGINT)").alias("hhi_ppm"),
                    F.expr("CAST(CAST(tot_cents AS DECIMAL(38,0)) "
                           "* tot_cents * 1000 DIV ssq AS BIGINT)")
                    .alias("effective_customers_x1000"),
                    F.expr(ppm("max_cents", "tot_cents"))
                    .alias("top_share_ppm")))


HHI_SQL = """
WITH per AS (
  SELECT c_custkey, c_nationkey,
         CAST(COALESCE(SUM(CAST(floor(o_totalprice * 100 + 0.5)
                                AS BIGINT)), 0) AS BIGINT) AS cents
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey, c_nationkey
), agg AS (
  SELECT n_name AS nation, COUNT(*) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS tot_cents,
         SUM(CAST(cents AS HUGEINT) * cents) AS ssq,
         MAX(cents) AS max_cents
  FROM per JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT nation, CAST(n_customers AS BIGINT) AS n_customers, tot_cents,
       CAST(ssq * 1000000 // (CAST(tot_cents AS HUGEINT) * tot_cents)
            AS BIGINT) AS hhi_ppm,
       CAST(CAST(tot_cents AS HUGEINT) * tot_cents * 1000 // ssq
            AS BIGINT) AS effective_customers_x1000,
       CAST(max_cents * 1000000 // tot_cents AS BIGINT) AS top_share_ppm
FROM agg WHERE tot_cents > 0
"""


# ---------------------------------------------------------------------------
# 11. Precision / recall / F1 threshold sweep
# ---------------------------------------------------------------------------

def threshold_sweep_pr_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection table: precision / recall / F1 of the
    rule "predict positive when the balance-score lands in bin >= t"
    for every candidate threshold t over the 10 equal-width score bins
    — the sweep behind choosing a deployment cutoff once the AUC says
    the score ranks at all.

    All-integer: TP/FP/FN come from high-side prefix sums over the
    10-row bin frame; f1_ppm = 2*tp*1e6 DIV (2*tp + fp + fn) exactly.

    Scale: one customer-sized aggregate to the 10-bin frame (the
    calibration op's binning); every window runs on <= 10 rows."""
    lab = _labelled_scores(spark, sf_dir)
    rng = lab.agg(F.min("score").alias("mn"), F.max("score").alias("mx"),
                  F.sum("is_pos").cast("bigint").alias("p_all"))
    per_bin = (lab.crossJoin(F.broadcast(rng))
               .withColumn("bin", F.expr(
                   f"CAST((score - mn) * {CALIB_BINS} DIV (mx - mn + 1) "
                   "AS INT)"))
               .groupBy("bin")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum("is_pos").cast("bigint").alias("n_pos"),
                    F.first("p_all").alias("p_all")))
    whigh = (Window.orderBy(F.col("bin").desc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (per_bin
            .withColumn("pred_pos", F.sum("n_rows").over(whigh))
            .withColumn("tp", F.sum("n_pos").over(whigh))
            .select(F.col("bin").alias("threshold_bin"), "pred_pos",
                    F.col("tp").cast("bigint").alias("tp"),
                    F.expr("CAST(pred_pos - tp AS BIGINT)").alias("fp"),
                    F.expr("CAST(p_all - tp AS BIGINT)").alias("fn"),
                    F.expr(ppm("tp", "pred_pos")).alias("precision_ppm"),
                    F.expr(ppm("tp", "p_all")).alias("recall_ppm"),
                    F.expr(ppm("2 * tp",
                               "2 * tp + (pred_pos - tp) + (p_all - tp)"))
                    .alias("f1_ppm")))


PRF1_SQL = f"""
WITH {_SQL_LABELLED}, rng AS (
  SELECT MIN(score) AS mn, MAX(score) AS mx, SUM(is_pos) AS p_all FROM lab
), per_bin AS (
  SELECT CAST((score - mn) * {CALIB_BINS} // (mx - mn + 1) AS INT) AS bin,
         COUNT(*) AS n_rows, SUM(is_pos) AS n_pos, MAX(p_all) AS p_all
  FROM lab CROSS JOIN rng GROUP BY 1
), sweep AS (
  SELECT bin, p_all,
         SUM(n_rows) OVER (ORDER BY bin DESC
                           ROWS UNBOUNDED PRECEDING) AS pred_pos,
         SUM(n_pos) OVER (ORDER BY bin DESC
                          ROWS UNBOUNDED PRECEDING) AS tp
  FROM per_bin
)
SELECT bin AS threshold_bin, CAST(pred_pos AS BIGINT) AS pred_pos,
       CAST(tp AS BIGINT) AS tp,
       CAST(pred_pos - tp AS BIGINT) AS fp,
       CAST(p_all - tp AS BIGINT) AS fn,
       CAST(tp * 1000000 // pred_pos AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // p_all AS BIGINT) AS recall_ppm,
       CAST(2 * tp * 1000000
            // (2 * tp + (pred_pos - tp) + (p_all - tp)) AS BIGINT)
       AS f1_ppm
FROM sweep
"""


# ---------------------------------------------------------------------------
# 12. Mutual information segment x priority
# ---------------------------------------------------------------------------

def segment_priority_mutual_info(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Mutual information between customer market segment and order
    priority — the symmetric, multi-class counterpart to the WoE/IV
    screen ("how many nats does knowing the segment tell you about the
    priority?"), plus the normalized variant NMI = MI/min(H_x, H_y).

    Portability: every cell's ln(c*N / (r*s)) is an ln of an EXACT
    integer ratio (products in DECIMAL(38,0)/HUGEINT — N^2-sized),
    rounded 6dp, scaled to integer micros, count-weighted, BIGINT
    summed, then one integer division by N. Entropies use the same
    idiom over the 5-row marginals.

    Scale: one orders-sized aggregate to the 25-cell contingency table;
    marginals and totals are bounded broadcasts."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # 25-row contingency table consumed by both marginals, the total and
    # the MI sum: a 25-row materialization GUARANTEES the orders x
    # customer join runs once (A/B at sf0.1: steady-state parity — AQE
    # stage reuse already dedupes — but the cold first run improves
    # 2.2s -> 1.7s and the guarantee is free at this frame size)
    cell = barrier(o.join(c, o.o_custkey == c.c_custkey)
                   .groupBy("c_mktsegment", "o_orderpriority")
                   .agg(F.count(F.lit(1)).alias("cnt")))
    row_m = cell.groupBy("c_mktsegment").agg(F.sum("cnt").alias("r"))
    col_m = cell.groupBy("o_orderpriority").agg(F.sum("cnt").alias("s"))
    tot = cell.agg(F.sum("cnt").alias("n"))
    mi = (cell.join(F.broadcast(row_m), "c_mktsegment")
          .join(F.broadcast(col_m), "o_orderpriority")
          .crossJoin(F.broadcast(tot))
          .agg(F.sum(F.expr("cnt * " + ln_micros(
                   "CAST(CAST(cnt AS DECIMAL(38,0)) * n AS DOUBLE)"
                   " / CAST(CAST(r AS DECIMAL(38,0)) * s AS DOUBLE)")))
               .alias("s_mi"),
               F.first("n").alias("n")))
    ent_x = (row_m.crossJoin(F.broadcast(tot))
             .agg(F.expr("CAST(SUM(r * " + ln_micros("CAST(n AS DOUBLE) / r")
                         + ") DIV MAX(n) AS BIGINT)").alias("h_seg")))
    ent_y = (col_m.crossJoin(F.broadcast(tot))
             .agg(F.expr("CAST(SUM(s * " + ln_micros("CAST(n AS DOUBLE) / s")
                         + ") DIV MAX(n) AS BIGINT)").alias("h_pri")))
    return (mi.select(F.expr("CAST(s_mi DIV n AS BIGINT)")
                      .alias("mi_micronats"), "n")
            .crossJoin(F.broadcast(ent_x)).crossJoin(F.broadcast(ent_y))
            .select(F.col("n").cast("bigint").alias("n_orders"),
                    "mi_micronats", "h_seg", "h_pri",
                    F.expr(ppm("mi_micronats",
                               "least(h_seg, h_pri)")).alias("nmi_ppm")))


MI_SQL = f"""
WITH cell AS (
  SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), row_m AS (SELECT c_mktsegment, SUM(cnt) AS r FROM cell GROUP BY 1),
col_m AS (SELECT o_orderpriority, SUM(cnt) AS s FROM cell GROUP BY 1),
tot AS (SELECT SUM(cnt) AS n FROM cell),
mi AS (
  SELECT SUM(cnt * {ln_micros("CAST(CAST(cnt AS HUGEINT) * n AS DOUBLE)"
                              " / CAST(CAST(r AS HUGEINT) * s AS DOUBLE)")})
           AS s_mi, MAX(n) AS n
  FROM cell
  JOIN row_m USING (c_mktsegment)
  JOIN col_m USING (o_orderpriority)
  CROSS JOIN tot
), ex AS (
  SELECT CAST(SUM(r * {ln_micros("CAST(n AS DOUBLE) / r")}) // MAX(n)
              AS BIGINT) AS h_seg
  FROM row_m CROSS JOIN tot
), ey AS (
  SELECT CAST(SUM(s * {ln_micros("CAST(n AS DOUBLE) / s")}) // MAX(n)
              AS BIGINT) AS h_pri
  FROM col_m CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(s_mi // n AS BIGINT) AS mi_micronats, h_seg, h_pri,
       CAST(CAST(s_mi // n AS HUGEINT) * 1000000
            // least(h_seg, h_pri) AS BIGINT) AS nmi_ppm
FROM mi CROSS JOIN ex CROSS JOIN ey
"""


# ---------------------------------------------------------------------------
# 13. Cohen's kappa between two rule classifiers
# ---------------------------------------------------------------------------

def classifier_agreement_kappa(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Inter-rater agreement: Cohen's kappa between two deterministic
    labelers of the same customers — A: "balance above the corpus mean
    (floored cents)", B: "ever placed a 1-URGENT order" — the
    chance-corrected agreement score an annotation pipeline reports
    before trusting consensus labels.

    Exact: kappa = (agree*N - a1*b1 - a0*b0) /
    (N^2 - a1*b1 - a0*b0) is an integer ratio (ppm via DECIMAL(38,0));
    the mean-threshold is itself integer (sum DIV n).

    Scale: two passes over customer (one for the mean broadcast, one
    for the 2x2 table) — both mergeable aggregates, no windows."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cents = c.select("c_custkey",
                     F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
                     .alias("sc"))
    mean = cents.agg(F.expr("CAST(SUM(sc) DIV COUNT(*) AS BIGINT)")
                     .alias("mu"))
    urgent = (table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey").distinct())
    lab = (cents.crossJoin(F.broadcast(mean))
           .join(urgent, cents.c_custkey == urgent.o_custkey, "left")
           .select(F.expr("CASE WHEN sc > mu THEN 1 ELSE 0 END").alias("a"),
                   F.expr("CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END")
                   .alias("b")))
    agg = lab.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("a").alias("a1"), F.sum("b").alias("b1"),
                  F.sum(F.expr("CASE WHEN a = b THEN 1 ELSE 0 END"))
                  .alias("agree"))
    return (agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("a1").cast("bigint").alias("n_pos_a"),
        F.col("b1").cast("bigint").alias("n_pos_b"),
        F.col("agree").cast("bigint").alias("n_agree"),
        F.expr(ppm("agree", "n")).alias("po_ppm"),
        F.expr(ppm("CAST(a1 AS DECIMAL(38,0)) * b1 + "
                   "CAST(n - a1 AS DECIMAL(38,0)) * (n - b1)",
                   "CAST(n AS DECIMAL(38,0)) * n")).alias("pe_ppm"),
        F.expr(ppm("CAST(agree AS DECIMAL(38,0)) * n "
                   "- CAST(a1 AS DECIMAL(38,0)) * b1 "
                   "- CAST(n - a1 AS DECIMAL(38,0)) * (n - b1)",
                   "CAST(n AS DECIMAL(38,0)) * n "
                   "- CAST(a1 AS DECIMAL(38,0)) * b1 "
                   "- CAST(n - a1 AS DECIMAL(38,0)) * (n - b1)"))
        .alias("kappa_ppm")))


KAPPA_SQL = """
WITH cents AS (
  SELECT c_custkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS sc
  FROM customer
), mean AS (SELECT CAST(SUM(sc) // COUNT(*) AS BIGINT) AS mu FROM cents),
lab AS (
  SELECT CASE WHEN sc > mu THEN 1 ELSE 0 END AS a,
         CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS b
  FROM cents CROSS JOIN mean
  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderpriority = '1-URGENT') u
    ON c_custkey = u.o_custkey
), agg AS (
  SELECT COUNT(*) AS n, SUM(a) AS a1, SUM(b) AS b1,
         SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
  FROM lab
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(a1 AS BIGINT) AS n_pos_a, CAST(b1 AS BIGINT) AS n_pos_b,
       CAST(agree AS BIGINT) AS n_agree,
       CAST(agree * 1000000 // n AS BIGINT) AS po_ppm,
       CAST((CAST(a1 AS HUGEINT) * b1 + CAST(n - a1 AS HUGEINT) * (n - b1))
            * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
       CAST((CAST(agree AS HUGEINT) * n - CAST(a1 AS HUGEINT) * b1
             - CAST(n - a1 AS HUGEINT) * (n - b1)) * 1000000
            // (CAST(n AS HUGEINT) * n - CAST(a1 AS HUGEINT) * b1
                - CAST(n - a1 AS HUGEINT) * (n - b1)) AS BIGINT)
       AS kappa_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# 14. Isotonic (PAV) calibration over the reliability bins
# ---------------------------------------------------------------------------

def isotonic_calibration_bins(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Isotonic regression of the reliability table — the
    pool-adjacent-violators fit that turns the raw (possibly
    non-monotone) per-bin positive rates into the best monotone
    calibrated rates, via the closed-form minimax identity
    iso_i = max_{j<=i} min_{k>=i} weightedMean(rate, bins j..k).

    Exactness: interval means are integer prefix-sum ratios in ppm
    (floored identically by both engines); max-of-min over floored
    interval means is still integer arithmetic, hence hash-exact.
    NOTE this computes minimax over FLOORED ppm means — a fixed,
    well-defined spec both engines share (the unfloored PAV can differ
    by <= 1 ppm; the spec choice is documented here).

    Scale: everything after the one customer-sized binning aggregate
    happens on the 10-row bin frame — the j x k x i enumeration is
    <= 10^3 rows of literals. The at-scale cost is the binning scan."""
    lab = _labelled_scores(spark, sf_dir)
    rng = lab.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    bins = (lab.crossJoin(F.broadcast(rng))
            .withColumn("bin", F.expr(
                f"CAST((score - mn) * {CALIB_BINS} DIV (mx - mn + 1) "
                "AS INT)"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("is_pos").cast("bigint").alias("n_pos")))
    wpre = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    pre = (bins.withColumn("cn", F.sum("n_rows").over(wpre))
           .withColumn("cp", F.sum("n_pos").over(wpre)))
    lo = pre.select(F.col("bin").alias("j"),
                    (F.col("cn") - F.col("n_rows")).alias("cn_j0"),
                    (F.col("cp") - F.col("n_pos")).alias("cp_j0"))
    hi = pre.select(F.col("bin").alias("k"), F.col("cn").alias("cn_k"),
                    F.col("cp").alias("cp_k"))
    # explicit broadcast on the CALIB_BINS-row lattice side: constant
    # size by construction, so the cross product must never plan as a
    # partitioned nested loop (r13 verdict plan-hygiene residual)
    seg = (lo.crossJoin(F.broadcast(hi)).filter(F.col("j") <= F.col("k"))
           .select("j", "k",
                   F.expr(ppm("cp_k - cp_j0", "cn_k - cn_j0"))
                   .alias("mean_ppm")))
    i = pre.select(F.col("bin").alias("i"), "n_rows", "n_pos")
    inner = (i.join(seg, (seg.j <= i.i) & (i.i <= seg.k))
             .groupBy("i", "j", "n_rows", "n_pos")
             .agg(F.min("mean_ppm").alias("min_over_k")))
    return (inner.groupBy("i", "n_rows", "n_pos")
            .agg(F.max("min_over_k").alias("iso_rate_ppm"))
            .select(F.col("i").alias("bin"), "n_rows", "n_pos",
                    F.expr(ppm("n_pos", "n_rows")).alias("raw_rate_ppm"),
                    "iso_rate_ppm"))


ISO_SQL = f"""
WITH {_SQL_LABELLED}, rng AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM lab),
bins AS (
  SELECT CAST((score - mn) * {CALIB_BINS} // (mx - mn + 1) AS INT) AS bin,
         COUNT(*) AS n_rows, SUM(is_pos) AS n_pos
  FROM lab CROSS JOIN rng GROUP BY 1
), pre AS (
  SELECT bin, n_rows, n_pos,
         SUM(n_rows) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
         SUM(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
  FROM bins
), seg AS (
  SELECT lo.bin AS j, hi.bin AS k,
         CAST((hi.cp - (lo.cp - lo.n_pos)) * 1000000
              // (hi.cn - (lo.cn - lo.n_rows)) AS BIGINT) AS mean_ppm
  FROM pre lo CROSS JOIN pre hi WHERE lo.bin <= hi.bin
), inner_min AS (
  SELECT i.bin AS i, seg.j, i.n_rows, i.n_pos,
         MIN(mean_ppm) AS min_over_k
  FROM pre i JOIN seg ON seg.j <= i.bin AND i.bin <= seg.k
  GROUP BY i.bin, seg.j, i.n_rows, i.n_pos
)
SELECT i AS bin, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_pos * 1000000 // n_rows AS BIGINT) AS raw_rate_ppm,
       MAX(min_over_k) AS iso_rate_ppm
FROM inner_min GROUP BY i, n_rows, n_pos
"""


# ---------------------------------------------------------------------------
# 15. Lead-lag cross-correlation between daily view and purchase counts
# ---------------------------------------------------------------------------

CCF_MAX_LAG = 7


def purchase_view_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: Pearson r between daily 'view'
    counts at day t and daily 'purchase' counts at day t+lag, lags
    -7..7 — "does view volume LEAD purchase volume, and by how many
    days?" (positive-lag peak = views lead). The model-free companion
    to the funnel ops.

    Exactness: per lag the paired moments (n, Σx, Σy, Σxy, Σx², Σy²)
    are exact integers; r = round(num / sqrt(dx * dy), 6) with num, dx,
    dy exact and the double expression written identically in both
    engines (sqrt is IEEE-correctly-rounded). Products and the n*Σ..
    co-moments are formed in DECIMAL(38,0)/HUGEINT (the
    ``interarrival_dispersion`` pattern, r8 ADVICE: a 100 TB day's
    count squares past BIGINT at ~3e9 events/day).

    Scale: one events-sized aggregate to the calendar-bounded daily
    frame; the lag fan-out and self-join run on that bounded frame."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.filter(F.col("event_type").isin("view", "purchase"))
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.expr("CASE WHEN event_type = 'view' THEN 1 "
                               "ELSE 0 END")).alias("x"),
                  F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 "
                               "ELSE 0 END")).alias("y")))
    a = daily.select("day", "x",
                     F.explode(F.array(*[F.lit(k) for k in
                                         range(-CCF_MAX_LAG,
                                               CCF_MAX_LAG + 1)]))
                     .alias("lag"))
    b = daily.select(F.col("day").alias("day_b"), F.col("y").alias("yb"))
    paired = a.join(b, F.expr("date_add(day, lag) = day_b"))
    mom = (paired.groupBy("lag")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("x").cast("bigint").alias("sx"),
                F.sum("yb").cast("bigint").alias("sy"),
                F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * yb"))
                .cast("decimal(38,0)").alias("sxy"),
                F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
                .cast("decimal(38,0)").alias("sxx"),
                F.sum(F.expr("CAST(yb AS DECIMAL(38,0)) * yb"))
                .cast("decimal(38,0)").alias("syy")))
    num = ("CAST(n AS DECIMAL(38,0)) * sxy "
           "- CAST(sx AS DECIMAL(38,0)) * sy")
    dx = ("CAST(n AS DECIMAL(38,0)) * sxx "
          "- CAST(sx AS DECIMAL(38,0)) * sx")
    dy = ("CAST(n AS DECIMAL(38,0)) * syy "
          "- CAST(sy AS DECIMAL(38,0)) * sy")
    return (mom.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(f"round(CAST({num} AS DOUBLE) / "
               f"sqrt(CAST({dx} AS DOUBLE) * "
               f"CAST({dy} AS DOUBLE)), 6)").alias("ccf_r6")))


CCF_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
), lags AS (
  SELECT UNNEST(range(-{CCF_MAX_LAG}, {CCF_MAX_LAG + 1})) AS lag
), paired AS (
  SELECT lag, a.x, b.y AS yb
  FROM daily a CROSS JOIN lags
  JOIN daily b ON a.day + CAST(lag AS INT) = b.day
), mom AS (
  SELECT lag, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(yb) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * yb) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(yb AS HUGEINT) * yb) AS syy
  FROM paired GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       round(CAST(CAST(n AS HUGEINT) * sxy
                  - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / sqrt(CAST(CAST(n AS HUGEINT) * sxx
                         - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * CAST(CAST(n AS HUGEINT) * syy
                           - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6)
         AS ccf_r6
FROM mom
"""


# ---------------------------------------------------------------------------
# 16. NDCG@10 of the lexical retrieval stack
# ---------------------------------------------------------------------------

#: 1e6 / log2(rank+1), precomputed so NO transcendental runs at query
#: time — the whole DCG is integer arithmetic in both engines.
NDCG_DISC = {1: 1000000, 2: 630930, 3: 500000, 4: 430677, 5: 386853,
             6: 356207, 7: 333333, 8: 315465, 9: 301030, 10: 289065}
NDCG_TERMS = ("dup", "vector", "scan")


def _disc_case(rank_col: str) -> str:
    return ("CASE " + " ".join(f"WHEN {rank_col} = {r} THEN {d}"
                               for r, d in NDCG_DISC.items())
            + " ELSE 0 END")


def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the retrieval stack: NDCG@10 of
    the ``bm25_topk`` ranking against graded relevance = number of
    DISTINCT query terms a document contains (1..3; gain 2^g - 1) —
    the standard eval a search team runs before swapping scorers
    (complements ``ann_recall_report``'s recall view with
    position-weighted gain).

    All-integer: gains are {1,3,7}; discounts are precomputed
    1e6/log2(rank+1) literals (no transcendental at query time);
    DCG/IDCG are BIGINT sums and NDCG is one ppm division.

    Scale: reuses the bm25 pipeline (docs-with-hits frame); the ideal
    ranking's top-10 window runs on the same bounded frame with the
    raw-rank-before-cast WindowGroupLimit discipline."""
    from spark_kafka_airflow_pipeline_spark.operators.textops import (
        bm25_topk,
    )

    sys10 = bm25_topk(spark, sf_dir).select("doc_id", "rank")
    toks = (table(spark, sf_dir, "documents")
            .select("doc_id",
                    F.explode(T.split_tokens("text")).alias("term"))
            .filter(F.col("term").isin(*NDCG_TERMS)))
    grades = (toks.groupBy("doc_id")
              .agg(F.countDistinct("term").alias("g"))
              .withColumn("gain", F.expr("CAST(pow(2, g) - 1 AS BIGINT)")))
    dcg = (sys10.join(grades, "doc_id")
           .agg(F.sum(F.expr(f"gain * ({_disc_case('rank')})"))
                .cast("bigint").alias("dcg_micro")))
    wi = Window.orderBy(F.col("gain").desc(), F.col("doc_id").asc())
    ideal = (grades.withColumn("irank", F.row_number().over(wi))
             .filter(F.col("irank") <= 10)
             .agg(F.sum(F.expr(f"gain * ({_disc_case('irank')})"))
                  .cast("bigint").alias("idcg_micro")))
    n_judged = grades.agg(F.count(F.lit(1)).cast("bigint")
                          .alias("n_judged"))
    return (dcg.crossJoin(F.broadcast(ideal))
            .crossJoin(F.broadcast(n_judged))
            .select("n_judged", "dcg_micro", "idcg_micro",
                    F.expr(ppm("dcg_micro", "idcg_micro"))
                    .alias("ndcg10_ppm")))


NDCG_SQL = rf"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        FROM documents)
  WHERE t <> ''
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN {NDCG_TERMS!r}
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM dl) AS avgdl
), scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(floor(
           round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
           * ((tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micro
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats JOIN dfreq ON tf.term = dfreq.term
  GROUP BY tf.doc_id
), sys10 AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id)
              AS INT) AS rank
  FROM scored QUALIFY rank <= 10
), grades AS (
  SELECT doc_id, CAST(pow(2, COUNT(DISTINCT term)) - 1 AS BIGINT) AS gain
  FROM toks WHERE term IN {NDCG_TERMS!r} GROUP BY doc_id
), dcg AS (
  SELECT CAST(SUM(gain * ({_disc_case('rank')})) AS BIGINT) AS dcg_micro
  FROM sys10 JOIN grades USING (doc_id)
), ideal AS (
  SELECT CAST(SUM(gain * ({_disc_case('irank')})) AS BIGINT) AS idcg_micro
  FROM (SELECT gain,
               CAST(ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id)
                    AS INT) AS irank
        FROM grades QUALIFY irank <= 10)
), nj AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_judged FROM grades)
SELECT n_judged, dcg_micro, idcg_micro,
       CAST(dcg_micro * 1000000 // idcg_micro AS BIGINT) AS ndcg10_ppm
FROM dcg CROSS JOIN ideal CROSS JOIN nj
"""


# ---------------------------------------------------------------------------
# 17. Walk-forward (expanding-window) CV split planner
# ---------------------------------------------------------------------------

CV_FOLDS = 5
CV_TEST_MONTHS = 3


def walk_forward_cv_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series cross-validation planner: CV_FOLDS expanding-window
    backtest folds over the order-month sequence — each fold trains on
    everything up to its split month and tests on the next
    CV_TEST_MONTHS, the leak-free alternative to random folds for
    temporal data (complements ``cv_fold_balance``'s hash dealing).
    Output per fold: month boundaries + exact train/test row counts.

    All-integer: fold boundaries are month-INDEX arithmetic
    (train_end_idx_i = m - 3*(folds - i + 1), so the LAST fold's test
    window ends exactly at the final month); row counts come from
    prefix sums over the calendar-bounded month frame.

    PRECONDITION (r8 ADVICE, documented): the corpus must span at
    least CV_TEST_MONTHS*(CV_FOLDS + 1) + 1 distinct order months for
    all CV_FOLDS folds to exist. Shorter corpora emit FEWER rows — an
    early fold whose train-end index is < 1 has no month to join to
    and is dropped (both engines agree; the inner join on te_idx is
    the mechanism). A caller that needs exactly CV_FOLDS folds must
    check the output row count.

    Scale: one orders-sized aggregate to the month frame; the index
    and prefix windows run on that bounded frame; the fold fan-out is
    a 5-row literal cross of a bounded aggregate."""
    o = table(spark, sf_dir, "orders")
    months = (o.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                        .alias("month"))
              .agg(F.count(F.lit(1)).alias("n_rows")))
    wm = Window.orderBy("month")
    wcum = wm.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx = (months.withColumn("mi", F.row_number().over(wm))
           .withColumn("cum", F.sum("n_rows").over(wcum)))
    m_tot = idx.agg(F.max("mi").alias("m"))
    folds = spark.range(1, CV_FOLDS + 1).select(
        F.col("id").cast("int").alias("fold"))
    bounds = (folds.crossJoin(F.broadcast(m_tot))
              .select("fold",
                      F.expr(f"m - {CV_TEST_MONTHS} "
                             f"* ({CV_FOLDS} - fold + 1)")
                      .alias("te_idx")))
    b = (bounds.join(F.broadcast(idx.select(
            F.col("mi").alias("te_idx"), F.col("month").alias("train_end"),
            F.col("cum").alias("train_rows"))), "te_idx")
         .join(F.broadcast(idx.select(
            F.expr(f"mi - {CV_TEST_MONTHS}").alias("te_idx"),
            F.col("month").alias("test_end"),
            F.col("cum").alias("cum_test_end"))), "te_idx"))
    return (b.select("fold", "train_end", "train_rows", "test_end",
                     F.expr("CAST(cum_test_end - train_rows AS BIGINT)")
                     .alias("test_rows"))
            .withColumn("train_rows",
                        F.col("train_rows").cast("bigint")))


WALK_FORWARD_SQL = f"""
WITH months AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
         COUNT(*) AS n_rows
  FROM orders GROUP BY 1
), idx AS (
  SELECT month, n_rows,
         ROW_NUMBER() OVER (ORDER BY month) AS mi,
         SUM(n_rows) OVER (ORDER BY month
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM months
), m_tot AS (SELECT MAX(mi) AS m FROM idx),
folds AS (SELECT UNNEST(range(1, {CV_FOLDS + 1})) AS fold),
bounds AS (
  SELECT CAST(fold AS INT) AS fold,
         m - {CV_TEST_MONTHS} * ({CV_FOLDS} - fold + 1) AS te_idx
  FROM folds CROSS JOIN m_tot
)
SELECT fold, tr.month AS train_end,
       CAST(tr.cum AS BIGINT) AS train_rows,
       te.month AS test_end,
       CAST(te.cum - tr.cum AS BIGINT) AS test_rows
FROM bounds
JOIN idx tr ON tr.mi = bounds.te_idx
JOIN idx te ON te.mi = bounds.te_idx + {CV_TEST_MONTHS}
"""


# ---------------------------------------------------------------------------
# 17b. Pinball (quantile) loss of the seasonal-naive forecast
# ---------------------------------------------------------------------------

PINBALL_Q_PPM = (100000, 500000, 900000)


def forecast_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality evaluation by PINBALL (quantile) loss — the
    metric quantile forecasts are scored with (M5 competition /
    sklearn mean_pinball_loss): here applied to the seasonal-naive
    baseline (revenue(month) predicted by revenue(month - 12)) that
    every forecasting effort must beat before ``holt_forecast_monthly``
    earns its keep. Evaluation months = every month with a 12-back
    sibling (stated spec).

    All-integer: with q in ppm and integer cents,
    loss_micro = q*(y - f) when y >= f else (1e6 - q)*(f - y) — exact;
    the per-q mean is one integer division.

    Scale: one orders-sized aggregate to the calendar-bounded month
    frame; the lag join and the 3-way q fan-out run on that frame."""
    o = table(spark, sf_dir, "orders")
    monthly = (o.groupBy(F.trunc("o_orderdate", "month").alias("m"))
               .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("cents")))
    lagged = monthly.select(F.add_months("m", 12).alias("m"),
                            F.col("cents").alias("f_cents"))
    paired = (monthly.join(lagged, "m")
              .select(F.date_format("m", "yyyy-MM").alias("month"),
                      "cents", "f_cents"))
    q = paired.select(
        "month", "cents", "f_cents",
        F.explode(F.array(*[F.lit(v) for v in PINBALL_Q_PPM]))
        .alias("q_ppm"))
    loss = q.withColumn("loss_micro", F.expr(
        "CASE WHEN cents >= f_cents THEN CAST(q_ppm AS BIGINT) "
        "* (cents - f_cents) "
        "ELSE CAST(1000000 - q_ppm AS BIGINT) * (f_cents - cents) END"))
    return (loss.groupBy("q_ppm")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_months"),
                 F.sum("loss_micro").cast("bigint")
                 .alias("total_pinball_micro"),
                 F.expr("CAST(SUM(loss_micro) DIV COUNT(*) AS BIGINT)")
                 .alias("mean_pinball_micro"))
            .withColumn("q_ppm", F.col("q_ppm").cast("int")))


PINBALL_SQL = f"""
WITH monthly AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
), paired AS (
  SELECT strftime(a.m, '%Y-%m') AS month, a.cents, b.cents AS f_cents
  FROM monthly a JOIN monthly b ON a.m = b.m + INTERVAL 12 MONTH
), q AS (
  SELECT month, cents, f_cents,
         UNNEST(ARRAY{list(PINBALL_Q_PPM)}) AS q_ppm
  FROM paired
), loss AS (
  SELECT q_ppm,
         CASE WHEN cents >= f_cents
              THEN CAST(q_ppm AS BIGINT) * (cents - f_cents)
              ELSE CAST(1000000 - q_ppm AS BIGINT) * (f_cents - cents)
         END AS loss_micro
  FROM q
)
SELECT CAST(q_ppm AS INT) AS q_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_months,
       CAST(SUM(loss_micro) AS BIGINT) AS total_pinball_micro,
       CAST(SUM(loss_micro) // COUNT(*) AS BIGINT) AS mean_pinball_micro
FROM loss GROUP BY q_ppm
"""


# ---------------------------------------------------------------------------
# 17c. Per-user inter-arrival dispersion (gap-side burstiness)
# ---------------------------------------------------------------------------

def interarrival_dispersion(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Inter-arrival-time dispersion per event type: the coefficient of
    variation and Goh-Barabasi burstiness of the WHOLE-SECOND gaps
    between a user's consecutive events of each type — the gap-side
    complement to ``daily_burstiness_fano`` (count side): CV = 1 is the
    memoryless/Poisson signature, CV > 1 bursty sessions, CV < 1
    pacing/automation (the bot fingerprint ``bot_rate_flags`` keys on).

    Exactness: gaps are exact integer seconds (epoch-micros difference
    DIV 1e6); moments are integer sums; CV = sqrt(n*ssq - s^2)/s and
    B = (sqrt(num) - s')/(sqrt(num) + s') with num = n*ssq - s^2 exact
    and sqrt IEEE-correctly-rounded, both rounded 6dp.

    Scale: the lag runs in a window PARTITIONED BY (user, type) — the
    natural key, data-sized but fully parallel — then one mergeable
    moment aggregate per type."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id")
    gaps = (e.select("user_id", "event_type", "ts", "event_id")
            .withColumn("prev_us", F.lag(F.unix_micros("ts")).over(w))
            .filter(F.col("prev_us").isNotNull())
            .select("event_type",
                    F.expr("(unix_micros(ts) - prev_us) DIV 1000000")
                    .alias("gap_s")))
    # moments in DECIMAL(38,0): month-long gaps square to ~1e14, and
    # n*ssq overflows BIGINT at sf0.1 already (ANSI overflow caught it)
    num = ("CAST(n_gaps AS DECIMAL(38,0)) * ssq "
           "- CAST(s AS DECIMAL(38,0)) * s")
    return (gaps.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.sum("gap_s").cast("bigint").alias("s"),
                 F.sum(F.expr("CAST(gap_s AS DECIMAL(38,0)) * gap_s"))
                 .cast("decimal(38,0)").alias("ssq"))
            .filter(F.col("s") > 0)
            .select("event_type",
                    F.col("n_gaps").cast("bigint").alias("n_gaps"),
                    F.expr("CAST(s DIV n_gaps AS BIGINT)")
                    .alias("mean_gap_s"),
                    F.expr(f"round(sqrt(CAST({num} AS DOUBLE)) / s, 6)")
                    .alias("cv_r6"),
                    F.expr(f"round((sqrt(CAST({num} AS DOUBLE)) - s) / "
                           f"(sqrt(CAST({num} AS DOUBLE)) + s), 6)")
                    .alias("burstiness_r6")))


INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT event_type,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000 AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), mom AS (
  SELECT event_type, COUNT(*) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS s,
         SUM(CAST(gap_s AS HUGEINT) * gap_s) AS ssq
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY event_type
)
SELECT event_type, CAST(n_gaps AS BIGINT) AS n_gaps,
       CAST(s // n_gaps AS BIGINT) AS mean_gap_s,
       round(sqrt(CAST(CAST(n_gaps AS HUGEINT) * ssq
                       - CAST(s AS HUGEINT) * s AS DOUBLE)) / s, 6)
         AS cv_r6,
       round((sqrt(CAST(CAST(n_gaps AS HUGEINT) * ssq
                        - CAST(s AS HUGEINT) * s AS DOUBLE)) - s)
             / (sqrt(CAST(CAST(n_gaps AS HUGEINT) * ssq
                          - CAST(s AS HUGEINT) * s AS DOUBLE)) + s), 6)
         AS burstiness_r6
FROM mom WHERE s > 0
"""


# ---------------------------------------------------------------------------
# 17d. Conditional path entropy (sequence predictability)
# ---------------------------------------------------------------------------

def path_conditional_entropy(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Sequence predictability: the conditional entropy H(next | cur)
    of each user-timeline transition, per FROM state and as the
    row-weighted corpus summary row (from_type = '__overall__') — the
    one-number answer to "how predictable is the next event?" that the
    raw ``event_transition_matrix`` probabilities don't give. H = 0
    means deterministic flows (bot-like), ln(K) means uniform chaos.

    Exactness (the entropy-op idiom): per (from, to) cell the term is
    cnt * round6(ln(row_total/cnt)) in integer micros, BIGINT-summed
    per from-state and divided once; the overall row reuses the SAME
    per-cell micros weighted by nothing further (sum over all cells
    DIV total transitions) — so overall == weighted mean of rows by
    construction.

    Scale: one user-partitioned lead window + a (from, to) aggregate
    (the transition matrix's own plan); entropy arithmetic runs on the
    K x K bounded cell frame."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (e.select("user_id", "event_type",
                      F.lead("event_type").over(w).alias("next_type"))
             .filter(F.col("next_type").isNotNull()))
    cells = (trans.groupBy(F.col("event_type").alias("from_type"),
                           "next_type")
             .agg(F.count(F.lit(1)).alias("cnt")))
    wrow = Window.partitionBy("from_type")
    terms = (cells.withColumn("row_n", F.sum("cnt").over(wrow))
             .withColumn("micros", F.expr(
                 "cnt * " + ln_micros("CAST(row_n AS DOUBLE) / cnt"))))
    per_from = (terms.groupBy("from_type")
                .agg(F.max("row_n").cast("bigint").alias("n_transitions"),
                     F.count(F.lit(1)).cast("bigint").alias("n_next_types"),
                     F.expr("CAST(SUM(micros) DIV MAX(row_n) AS BIGINT)")
                     .alias("cond_entropy_micronats")))
    overall = (terms.agg(
        F.sum("cnt").cast("bigint").alias("n_transitions"),
        F.countDistinct("next_type").cast("bigint").alias("n_next_types"),
        F.expr("CAST(SUM(micros) DIV SUM(cnt) AS BIGINT)")
        .alias("cond_entropy_micronats"))
        .select(F.lit("__overall__").alias("from_type"),
                "n_transitions", "n_next_types",
                "cond_entropy_micronats"))
    return per_from.unionByName(overall)


PATH_ENTROPY_SQL = f"""
WITH trans AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), cells AS (
  SELECT from_type, next_type, COUNT(*) AS cnt
  FROM trans WHERE next_type IS NOT NULL
  GROUP BY from_type, next_type
), terms AS (
  SELECT from_type, next_type, cnt,
         SUM(cnt) OVER (PARTITION BY from_type) AS row_n,
         cnt * {ln_micros("CAST(SUM(cnt) OVER (PARTITION BY from_type)"
                          " AS DOUBLE) / cnt")} AS micros
  FROM cells
)
SELECT from_type, CAST(MAX(row_n) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS BIGINT) AS n_next_types,
       CAST(SUM(micros) // MAX(row_n) AS BIGINT)
         AS cond_entropy_micronats
FROM terms GROUP BY from_type
UNION ALL
SELECT '__overall__' AS from_type,
       CAST(SUM(cnt) AS BIGINT) AS n_transitions,
       CAST(COUNT(DISTINCT next_type) AS BIGINT) AS n_next_types,
       CAST(SUM(micros) // SUM(cnt) AS BIGINT) AS cond_entropy_micronats
FROM terms
"""


# ---------------------------------------------------------------------------
# 17e. Price-volume-mix growth decomposition
# ---------------------------------------------------------------------------

def price_volume_mix_decomposition(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """FP&A growth accounting: decompose each (segment, year)'s
    year-over-year revenue change into the VOLUME effect (order-count
    change at last year's average ticket) and the PRICE/MIX effect
    (this year's volume times the average-ticket change), per customer
    market segment — "did we grow because of more orders or bigger
    orders?".

    Exactness spec (stated): average tickets are floored integer cents
    (sum DIV n); volume = dn * avg_prev, price = n_cur * d_avg, and the
    residual reconciliation term rev_delta - volume - price is emitted
    explicitly (the flooring remainder; a decomposition that hides it
    doesn't reconcile to the ledger).

    Scale: one orders-sized aggregate to the (segment x year) frame;
    the lag join runs on that bounded frame."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    yearly = (o.join(c, o.o_custkey == c.c_custkey)
              .groupBy(F.col("c_mktsegment").alias("segment"),
                       F.year("o_orderdate").alias("yr"))
              .agg(F.count(F.lit(1)).alias("n_orders"),
                   F.sum(F.expr(_CENTS)).cast("bigint").alias("rev_cents"))
              .withColumn("avg_cents",
                          F.expr("CAST(rev_cents DIV n_orders AS BIGINT)")))
    prev = yearly.select(F.col("segment").alias("segment"),
                         (F.col("yr") + 1).alias("yr"),
                         F.col("n_orders").alias("n_prev"),
                         F.col("rev_cents").alias("rev_prev"),
                         F.col("avg_cents").alias("avg_prev"))
    return (yearly.join(prev, ["segment", "yr"])
            .select("segment", F.col("yr").cast("int").alias("yr"),
                    F.col("n_orders").cast("bigint").alias("n_orders"),
                    F.expr("CAST(rev_cents - rev_prev AS BIGINT)")
                    .alias("rev_delta_cents"),
                    F.expr("CAST((n_orders - n_prev) * avg_prev AS BIGINT)")
                    .alias("volume_effect_cents"),
                    F.expr("CAST(n_orders * (avg_cents - avg_prev) "
                           "AS BIGINT)").alias("price_mix_effect_cents"),
                    F.expr("CAST((rev_cents - rev_prev) "
                           "- (n_orders - n_prev) * avg_prev "
                           "- n_orders * (avg_cents - avg_prev) "
                           "AS BIGINT)").alias("rounding_residual_cents")))


PVM_SQL = """
WITH yearly AS (
  SELECT c_mktsegment AS segment,
         CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), enriched AS (
  SELECT *, CAST(rev_cents // n_orders AS BIGINT) AS avg_cents
  FROM yearly
)
SELECT a.segment, CAST(a.yr AS INT) AS yr,
       CAST(a.n_orders AS BIGINT) AS n_orders,
       CAST(a.rev_cents - b.rev_cents AS BIGINT) AS rev_delta_cents,
       CAST((a.n_orders - b.n_orders) * b.avg_cents AS BIGINT)
         AS volume_effect_cents,
       CAST(a.n_orders * (a.avg_cents - b.avg_cents) AS BIGINT)
         AS price_mix_effect_cents,
       CAST((a.rev_cents - b.rev_cents)
            - (a.n_orders - b.n_orders) * b.avg_cents
            - a.n_orders * (a.avg_cents - b.avg_cents) AS BIGINT)
         AS rounding_residual_cents
FROM enriched a JOIN enriched b
  ON a.segment = b.segment AND a.yr = b.yr + 1
"""


# ---------------------------------------------------------------------------
# 17f. Quantile-quantile drift table
# ---------------------------------------------------------------------------

QQ_DECILES = tuple(range(1, 10))  # p10..p90


def order_price_qq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ drift table: the order-price distribution of cohort A
    (even order keys) against cohort B (odd keys) at every decile —
    the quantile-level drift view that says WHERE a distribution moved
    (head/body/tail), which the binned PSI (``events_drift_psi`` /
    ``value_drift_continuous``) deliberately compresses away.

    Exactness: exact ``percentile`` over doubled integer cents with an
    explicit floor before the BIGINT cast (the ``weighted_median_price``
    rule — interpolated deciles land on identical doubles in both
    engines; only the cast rounding ever diverged). Both cohorts'
    deciles come from ONE aggregate row (18 mergeable percentile
    aggregates), stacked to 9 rows.

    Scale: one orders-sized mergeable aggregate, a 9-row stack — no
    windows, no joins."""
    o = table(spark, sf_dir, "orders").select(
        F.expr("CAST(o_orderkey % 2 AS INT)").alias("half"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2")
        .alias("c2"))
    # one array-percentile buffer per half instead of one per
    # (decile, half) — bit-identical values (r17, see
    # scaleops.orders_equidepth_bins)
    arr = ", ".join(f"{d / 10}D" for d in QQ_DECILES)
    one = o.agg(*[F.expr(
        f"percentile(CASE WHEN half = {h} THEN c2 END, array({arr}))")
        .alias(f"_ps{tag}") for h, tag in ((0, "a"), (1, "b"))])
    one = one.select(*[
        F.floor(F.col(f"_ps{tag}")[i]).cast("bigint").alias(f"p{d}{tag}")
        for i, d in enumerate(QQ_DECILES) for tag in ("a", "b")])
    stack = ", ".join(f"{d * 100000}, p{d}a, p{d}b" for d in QQ_DECILES)
    return (one.select(F.expr(
        f"stack({len(QQ_DECILES)}, {stack}) "
        "AS (q_ppm, p_first_x2, p_second_x2)"))
        .select(F.col("q_ppm").cast("int").alias("q_ppm"),
                "p_first_x2", "p_second_x2",
                F.expr(ppm("p_second_x2 - p_first_x2", "p_first_x2"))
                .alias("shift_ppm")))


def _qq_sql() -> str:
    rows = "\n  UNION ALL\n".join(
        f"  SELECT {d * 100000} AS q_ppm,"
        f" CAST(floor(quantile_cont(c2, {d / 10}) FILTER (half = 0))"
        f" AS BIGINT) AS p_first_x2,"
        f" CAST(floor(quantile_cont(c2, {d / 10}) FILTER (half = 1))"
        f" AS BIGINT) AS p_second_x2"
        " FROM base" for d in QQ_DECILES)
    return f"""
WITH base AS (
  SELECT CAST(o_orderkey % 2 AS INT) AS half,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2 AS c2
  FROM orders
), stacked AS (
{rows}
)
SELECT CAST(q_ppm AS INT) AS q_ppm, p_first_x2, p_second_x2,
       CAST((p_second_x2 - p_first_x2) * 1000000 // p_first_x2 AS BIGINT)
         AS shift_ppm
FROM stacked
"""


QQ_DRIFT_SQL = _qq_sql()


# ---------------------------------------------------------------------------
# 18. Differential-privacy (Laplace) noise planner
# ---------------------------------------------------------------------------

DP_EPSILONS = ("0.1", "0.5", "1.0", "2.0")
_LN20_R6 = 2.995732  # round(ln(1/0.05), 6): 95% Laplace tail bound


def laplace_noise_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy budget table for a COUNT release (the
    third leg of the privacy trio beside ``k_anonymity_audit`` /
    ``l_diversity_audit``): for candidate epsilon budgets, the Laplace
    scale b = sensitivity/epsilon (sensitivity 1 for counts), the 95%
    confidence half-width b*ln(20), and that half-width as ppm of the
    actual corpus count — the utility-vs-privacy tradeoff a data
    steward reads before releasing statistics.

    Determinism: epsilons and ln(20) are 6dp literals; the only data
    dependence is one count; the ppm is integer arithmetic on the
    micro-scaled half-width.

    Scale: one mergeable count + a 4-row literal fan-out."""
    n = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_rows"))
    eps = spark.range(1).select(
        F.explode(F.array(*[F.lit(e) for e in DP_EPSILONS]))
        .alias("epsilon_s"))
    return (eps.crossJoin(F.broadcast(n))
            .withColumn("scale_b_r6", F.expr(
                "round(1.0 / CAST(epsilon_s AS DOUBLE), 6)"))
            .withColumn("ci95_half_r6", F.expr(
                f"round(round(1.0 / CAST(epsilon_s AS DOUBLE), 6) "
                f"* {_LN20_R6}, 6)"))
            .select(F.col("epsilon_s").alias("epsilon"),
                    F.col("n_rows").cast("bigint").alias("n_rows"),
                    "scale_b_r6", "ci95_half_r6",
                    F.expr(ppm(
                        "CAST(floor(round(round(1.0 / CAST(epsilon_s AS "
                        f"DOUBLE), 6) * {_LN20_R6}, 6) * 1000000.0 + 0.5) "
                        "AS BIGINT)", "n_rows")).alias("rel_ci95_ppm")))


LAPLACE_SQL = f"""
WITH n AS (SELECT COUNT(*) AS n_rows FROM documents),
eps AS (SELECT UNNEST(ARRAY['0.1', '0.5', '1.0', '2.0']) AS epsilon)
SELECT epsilon, CAST(n_rows AS BIGINT) AS n_rows,
       round(1.0 / CAST(epsilon AS DOUBLE), 6) AS scale_b_r6,
       round(round(1.0 / CAST(epsilon AS DOUBLE), 6) * {_LN20_R6}, 6)
         AS ci95_half_r6,
       CAST(CAST(floor(round(round(1.0 / CAST(epsilon AS DOUBLE), 6)
            * {_LN20_R6}, 6) * 1000000.0 + 0.5) AS BIGINT)
            * 1000000 // n_rows AS BIGINT) AS rel_ci95_ppm
FROM eps CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# 24. Binned earth-mover (Wasserstein-1) price drift, month over month
# ---------------------------------------------------------------------------

#: fixed price-bin spine for the EMD drift monitor: 20 bins of $30,000
#: (o_totalprice spans ~$900-$600k at every SF), clamped into a 19+ top
#: bucket — literal constants so the oracle restates them verbatim.
EMD_BINS = 20
EMD_BIN_CENTS = 3_000_000


def price_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month distribution drift as the binned 1-D
    earth-mover distance (Wasserstein-1): per order month, EMD between
    this month's and the previous month's o_totalprice histograms over
    the fixed 20-bin spine. The ORDER-AWARE drift metric the PSI/JSD
    family cannot give: PSI scores a mass swap between adjacent bins
    the same as one across the whole range; EMD = sum_k |cumshare_a -
    cumshare_b| charges mass by how FAR it moved — the metric of
    choice for price/latency distributions where direction and
    distance mean something.

    All-integer: per-month bin shares in floor-ppm, cumulated over the
    20-bin spine, |difference| summed in BIGINT — hash-exact. A
    calendar month absent from the data has no row (TPC-H order dates
    are continuous, so consecutive months always pair; a gap month
    would simply not produce a pair — documented).

    Scale: one orders-sized aggregate to the calendar-bounded
    (month x 20 bin) frame; the cumulative windows partition by month
    (bounded frames); the month-to-month join is on the bounded month
    spine. Never touches row-level data twice."""
    o = table(spark, sf_dir, "orders")
    binned = (o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mdt"),
        F.expr(f"CAST(LEAST(floor({_CENTS} / {EMD_BIN_CENTS}), "
               f"{EMD_BINS - 1}) AS INT)").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n")))
    bins_lit = F.array(*[F.lit(i) for i in range(EMD_BINS)])
    spine = (binned.select("mdt").distinct()
             .select("mdt", F.explode(bins_lit).alias("bin")))
    counts = (spine.join(binned, ["mdt", "bin"], "left")
              .select("mdt", "bin", F.coalesce("n", F.lit(0)).alias("n")))
    wtot = Window.partitionBy("mdt")
    wcum = (Window.partitionBy("mdt").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # calendar-bounded (month x 20 bin) frame joined to itself:
    # materialize once so the orders aggregate runs once
    cum = barrier(counts.withColumn("tot", F.sum("n").over(wtot))
                  .withColumn("cum_n", F.sum("n").over(wcum))
                  .withColumn("cum_ppm", F.expr(ppm("cum_n", "tot")))
                  .drop("cum_n"))
    prev = cum.select(F.col("mdt").alias("pm"), "bin",
                      F.col("cum_ppm").alias("prev_cum_ppm"),
                      F.col("tot").alias("prev_n"))
    pairs = cum.join(prev, (cum.mdt == F.add_months(prev.pm, 1))
                     & (cum.bin == prev.bin))
    return (pairs.groupBy(F.date_format("mdt", "yyyy-MM").alias("month"))
            .agg(F.first("tot").alias("n_orders"),
                 F.first("prev_n").alias("n_prev"),
                 F.sum(F.abs(F.col("cum_ppm") - F.col("prev_cum_ppm")))
                 .alias("emd_ppm"))
            .select("month", F.col("n_orders").cast("bigint")
                    .alias("n_orders"),
                    F.col("n_prev").cast("bigint").alias("n_prev"),
                    F.col("emd_ppm").cast("bigint").alias("emd_ppm")))


EMD_SQL = f"""
WITH binned AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mdt,
         CAST(LEAST(floor(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          / {EMD_BIN_CENTS}), {EMD_BINS - 1}) AS INT) AS bin,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2
), spine AS (
  SELECT mdt, UNNEST(range(0, {EMD_BINS})) AS bin
  FROM (SELECT DISTINCT mdt FROM binned)
), counts AS (
  SELECT spine.mdt, spine.bin, COALESCE(n, 0) AS n
  FROM spine LEFT JOIN binned
    ON binned.mdt = spine.mdt AND binned.bin = spine.bin
), cum AS (
  SELECT mdt, bin, n,
         SUM(n) OVER (PARTITION BY mdt) AS tot,
         SUM(n) OVER (PARTITION BY mdt ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) * 1000000
           // SUM(n) OVER (PARTITION BY mdt) AS cum_ppm
  FROM counts
)
SELECT strftime(a.mdt, '%Y-%m') AS month,
       CAST(MAX(a.tot) AS BIGINT) AS n_orders,
       CAST(MAX(b.tot) AS BIGINT) AS n_prev,
       CAST(SUM(ABS(a.cum_ppm - b.cum_ppm)) AS BIGINT) AS emd_ppm
FROM cum a JOIN cum b
  ON a.mdt = b.mdt + INTERVAL 1 MONTH AND a.bin = b.bin
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 25. Mann-Kendall monotone-trend test on monthly revenue
# ---------------------------------------------------------------------------

#: z_0.975 in micros — the two-sided 5% critical value, a literal both
#: engines restate (no inverse-normal at query time).
MK_Z_CRIT_MICRO = 1_959_964


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the monthly revenue series —
    the NON-PARAMETRIC companion to ``theil_sen_trend`` (same
    robustness story: no normality or linearity assumed; the MK S
    statistic is exactly the numerator ranking Theil-Sen slopes):
    S = sum_{{i<j}} sign(c_j - c_i), Kendall tau = S / C(n,2), and the
    tie-corrected normal z with the standard continuity correction —
    the one-row "is revenue trending, and how confidently?" answer.

    Exactness: S, the tie term, and var18 = n(n-1)(2n+5) -
    sum t(t-1)(2t+5) are exact BIGINT; tau_r6 and z_r6 are single
    double divisions written identically in both engines and rounded
    6dp (sqrt is IEEE-correctly-rounded).

    Scale: one orders-sized aggregate to the CALENDAR-BOUNDED month
    frame (~80 rows at any SF); the pairwise sign join and the tie
    grouping run on that bounded frame only."""
    o = table(spark, sf_dir, "orders")
    # ~80-row calendar frame consumed 3x (pair join sides + tie
    # groups): materialize once, not 4 orders scans
    monthly = barrier(o.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                                .alias("mo"))
                      .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("c")))
    a = monthly.select(F.col("mo").alias("ma"), F.col("c").alias("ca"))
    b = monthly.select(F.col("mo").alias("mb"), F.col("c").alias("cb"))
    s = (a.join(b, F.col("ma") < F.col("mb"))
         .agg(F.sum(F.signum(F.col("cb") - F.col("ca")))
              .cast("bigint").alias("s_stat")))
    n = monthly.agg(F.count(F.lit(1)).alias("n"))
    ties = (monthly.groupBy("c").agg(F.count(F.lit(1)).alias("t"))
            .agg(F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0))
                .cast("bigint").alias("tie18")))
    z = ("CASE WHEN var18 = 0 THEN 0.0 ELSE round("
         "(s_stat - CAST(SIGN(s_stat) AS BIGINT)) / "
         "sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) END")
    return (s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ties))
            .withColumn("var18",
                        F.expr("CAST(n AS BIGINT) * (n - 1) * (2 * n + 5) "
                               "- tie18"))
            .select(F.col("n").cast("bigint").alias("n_months"), "s_stat",
                    "var18",
                    F.expr("round(CAST(s_stat AS DOUBLE) * 2 "
                           "/ (CAST(n AS BIGINT) * (n - 1)), 6)")
                    .alias("tau_r6"),
                    F.expr(z).alias("z_r6"),
                    F.expr(f"CASE WHEN {z} * 1000000 > {MK_Z_CRIT_MICRO} "
                           f"THEN 'increasing' WHEN {z} * 1000000 < "
                           f"-{MK_Z_CRIT_MICRO} THEN 'decreasing' "
                           "ELSE 'no_trend' END").alias("trend")))


MK_SQL = f"""
WITH monthly AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS mo,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS c
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(SUM(SIGN(b.c - a.c)) AS BIGINT) AS s_stat
  FROM monthly a JOIN monthly b ON a.mo < b.mo
), n AS (SELECT COUNT(*) AS n FROM monthly),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie18
  FROM (SELECT c, COUNT(*) AS t FROM monthly GROUP BY c)
), v AS (
  SELECT s_stat, n,
         CAST(n AS BIGINT) * (n - 1) * (2 * n + 5) - tie18 AS var18
  FROM s CROSS JOIN n CROSS JOIN ties
)
SELECT CAST(n AS BIGINT) AS n_months, s_stat, CAST(var18 AS BIGINT)
         AS var18,
       round(CAST(s_stat AS DOUBLE) * 2 / (CAST(n AS BIGINT) * (n - 1)), 6)
         AS tau_r6,
       CASE WHEN var18 = 0 THEN 0.0 ELSE round(
         (s_stat - CAST(SIGN(s_stat) AS BIGINT))
         / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) END AS z_r6,
       CASE WHEN (CASE WHEN var18 = 0 THEN 0.0 ELSE round(
              (s_stat - CAST(SIGN(s_stat) AS BIGINT))
              / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) END) * 1000000
              > {MK_Z_CRIT_MICRO} THEN 'increasing'
            WHEN (CASE WHEN var18 = 0 THEN 0.0 ELSE round(
              (s_stat - CAST(SIGN(s_stat) AS BIGINT))
              / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) END) * 1000000
              < -{MK_Z_CRIT_MICRO} THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM v
"""


# ---------------------------------------------------------------------------
# 26. A/B test sample-size (power) planner
# ---------------------------------------------------------------------------

#: (z_0.975 + z_0.80)^2 in micros = round((1.959964 + 0.841621)^2 * 1e6)
#: — the standard 5% two-sided / 80% power constant, precomputed so no
#: inverse-normal runs at query time (the NDCG-discount idiom).
AB_C_MICRO = 7_848_879
#: relative minimum-detectable-effect grid (percent lift over baseline).
AB_MDE_PCTS = (5, 10, 20, 50)


def ab_power_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sample-size planner — the pre-registration table an
    experimentation platform derives FROM observed baselines: per
    customer market segment, the observed base rate of the target
    behavior (customer ever places a 1-URGENT order) and, for each
    relative MDE in the fixed grid, the two-proportion-z n PER ARM at
    alpha=5% two-sided / 80% power:
    n = (z_a + z_b)^2 * (p1 q1 + p2 q2) / (p2 - p1)^2. The operator
    ``ab_test_welch`` evaluates a finished experiment; this one sizes
    the next one.

    ALL-INTEGER: rates in floor-ppm; with P in ppm the formula becomes
    n = ceil(C_micro * (P1*(1e6-P1) + P2*(1e6-P2)) / (dP^2 * 1e6))
    computed in DECIMAL(38,0)/HUGEINT — exact ceiling division, no
    float anywhere, both engines bit-identical.

    Degenerate rows are excluded (documented): a (segment, mde) row
    whose lifted rate does not exceed the base rate — base rate 0
    (zero lift), base rate 1e6 (capped), or p1 so small the integer
    lift floors to 0 — has dP <= 0 (nothing detectable; the formula's
    denominator vanishes), so it emits no row rather than dividing by
    zero. Cannot occur in TPC-H data at the shipped MDE grid.

    Scale: customer x orders semi-aggregate into the 5-row segment
    frame; the MDE fan-out is a literal 4-element explode on that
    bounded frame."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders")
    urgent = (o.filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey").distinct())
    base = (c.join(urgent, c.c_custkey == urgent.o_custkey, "left")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 F.count("o_custkey").alias("n_pos")))
    mde = F.array(*[F.lit(v) for v in AB_MDE_PCTS])
    num = (f"CAST({AB_C_MICRO} AS DECIMAL(38,0)) * "
           "(CAST(p1_ppm AS DECIMAL(38,0)) * (1000000 - p1_ppm) "
           "+ CAST(p2_ppm AS DECIMAL(38,0)) * (1000000 - p2_ppm))")
    den = ("CAST(p2_ppm - p1_ppm AS DECIMAL(38,0)) "
           "* (p2_ppm - p1_ppm) * 1000000")
    return (base
            .withColumn("p1_ppm", F.expr(ppm("n_pos", "n_cust")))
            .select(F.col("c_mktsegment").alias("segment"),
                    F.col("n_cust").cast("bigint").alias("n_cust"),
                    "p1_ppm", F.explode(mde).alias("mde_pct"))
            .withColumn("p2_ppm",
                        F.expr("LEAST(p1_ppm + CAST(CAST(p1_ppm AS "
                               "DECIMAL(38,0)) * mde_pct DIV 100 AS BIGINT)"
                               ", 999999)"))
            .filter(F.col("p2_ppm") > F.col("p1_ppm"))
            .withColumn("n_per_arm",
                        F.expr(f"CAST(({num} + {den} - 1) DIV ({den}) "
                               "AS BIGINT)"))
            .select("segment", "n_cust", "p1_ppm",
                    F.col("mde_pct").cast("int").alias("mde_pct"),
                    "p2_ppm", "n_per_arm"))


AB_POWER_SQL = f"""
WITH urgent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
), base AS (
  SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
         COUNT(o_custkey) AS n_pos
  FROM customer LEFT JOIN urgent ON c_custkey = o_custkey
  GROUP BY 1
), rates AS (
  SELECT segment, n_cust, n_pos * 1000000 // n_cust AS p1_ppm FROM base
), grid AS (
  SELECT segment, n_cust, p1_ppm, mde_pct,
         LEAST(p1_ppm + CAST(CAST(p1_ppm AS HUGEINT) * mde_pct // 100
                             AS BIGINT), 999999) AS p2_ppm
  FROM rates,
       (SELECT UNNEST(ARRAY{list(AB_MDE_PCTS)}) AS mde_pct)
)
SELECT segment, CAST(n_cust AS BIGINT) AS n_cust, p1_ppm,
       CAST(mde_pct AS INT) AS mde_pct, p2_ppm,
       CAST((CAST({AB_C_MICRO} AS HUGEINT)
               * (CAST(p1_ppm AS HUGEINT) * (1000000 - p1_ppm)
                  + CAST(p2_ppm AS HUGEINT) * (1000000 - p2_ppm))
             + CAST(p2_ppm - p1_ppm AS HUGEINT) * (p2_ppm - p1_ppm)
               * 1000000 - 1)
            // (CAST(p2_ppm - p1_ppm AS HUGEINT) * (p2_ppm - p1_ppm)
                * 1000000) AS BIGINT) AS n_per_arm
FROM grid WHERE p2_ppm > p1_ppm
"""


QUERIES: dict[str, QueryFn] = {
    "woe_iv_segment_priority": woe_iv_segment_priority,
    "score_auc_acctbal": score_auc_acctbal,
    "gini_lorenz_customers": gini_lorenz_customers,
    "acf_daily_revenue": acf_daily_revenue,
    "kaplan_meier_reorder": kaplan_meier_reorder,
    "score_lift_gain_deciles": score_lift_gain_deciles,
    "score_calibration_bins": score_calibration_bins,
    "source_js_divergence": source_js_divergence,
    "daily_burstiness_fano": daily_burstiness_fano,
    "nation_revenue_hhi": nation_revenue_hhi,
    "threshold_sweep_pr_f1": threshold_sweep_pr_f1,
    "segment_priority_mutual_info": segment_priority_mutual_info,
    "classifier_agreement_kappa": classifier_agreement_kappa,
    "isotonic_calibration_bins": isotonic_calibration_bins,
    "purchase_view_ccf": purchase_view_ccf,
    "ndcg_retrieval_eval": ndcg_retrieval_eval,
    "walk_forward_cv_splits": walk_forward_cv_splits,
    "laplace_noise_planner": laplace_noise_planner,
    "forecast_pinball_eval": forecast_pinball_eval,
    "interarrival_dispersion": interarrival_dispersion,
    "path_conditional_entropy": path_conditional_entropy,
    "price_volume_mix_decomposition": price_volume_mix_decomposition,
    "order_price_qq_drift": order_price_qq_drift,
    "nelson_aalen_hazard": nelson_aalen_hazard,
    "price_emd_drift": price_emd_drift,
    "mann_kendall_trend": mann_kendall_trend,
    "ab_power_planner": ab_power_planner,
}

ORACLES: dict[str, str] = {
    "woe_iv_segment_priority": WOE_IV_SQL,
    "score_auc_acctbal": AUC_SQL,
    "gini_lorenz_customers": GINI_SQL,
    "acf_daily_revenue": ACF_SQL,
    "kaplan_meier_reorder": KM_SQL,
    "score_lift_gain_deciles": LIFT_SQL,
    "score_calibration_bins": CALIB_SQL,
    "source_js_divergence": JSD_SQL,
    "daily_burstiness_fano": FANO_SQL,
    "nation_revenue_hhi": HHI_SQL,
    "threshold_sweep_pr_f1": PRF1_SQL,
    "segment_priority_mutual_info": MI_SQL,
    "classifier_agreement_kappa": KAPPA_SQL,
    "isotonic_calibration_bins": ISO_SQL,
    "purchase_view_ccf": CCF_SQL,
    "ndcg_retrieval_eval": NDCG_SQL,
    "walk_forward_cv_splits": WALK_FORWARD_SQL,
    "laplace_noise_planner": LAPLACE_SQL,
    "forecast_pinball_eval": PINBALL_SQL,
    "interarrival_dispersion": INTERARRIVAL_SQL,
    "path_conditional_entropy": PATH_ENTROPY_SQL,
    "price_volume_mix_decomposition": PVM_SQL,
    "order_price_qq_drift": QQ_DRIFT_SQL,
    "nelson_aalen_hazard": NELSON_AALEN_SQL,
    "price_emd_drift": EMD_SQL,
    "mann_kendall_trend": MK_SQL,
    "ab_power_planner": AB_POWER_SQL,
}
