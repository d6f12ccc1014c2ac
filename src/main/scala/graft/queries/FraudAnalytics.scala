package graft.queries

import graft.Q
import graft.functions.Scoring
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's analytics + scoring surface (SURVEY.md §2.2-2.3,
  * §2.6, §2.8) re-expressed over the driver's `events` table
  * (`ts` ≈ event_time, `value` ≈ amount, `props` JSON ≈ features).
  *
  * Reference sources: scoring loop
  * `services/fraud_service/app/main.py:219-231`, daily rollup
  * `airflow/dags/compute-daily-metrics.py:19-37`, DQ checks
  * `airflow/dags/Data_quality_checks.py:20-41`, dashboard panels
  * `grafana/dashboards/predictions.json:18,35,49,63`.
  *
  * Scale notes: every query is a single declarative plan — parquet
  * scan (filter + column pruning pushed down) → optional one shuffle
  * for the aggregate. The scoring pipeline itself is pure column
  * arithmetic (no UDF, no shuffle): at 100 TB it is an
  * embarrassingly-parallel map over scan partitions inside one
  * WholeStageCodegen stage. The one model feature `k` is read from
  * `props` by [[graft.functions.JsonNumberAt]], a codegen'd scan of
  * the string's bytes in place; Spark's `from_json` (a Jackson
  * parser, a reader and a map per row) runs only on the payloads the
  * scan does not decide ([[Scoring.jsonFeatureAt]]), and no producer
  * here writes one. `from_json` has no codegen of its own, so the
  * projection that reads `k` runs just below the scoring stage, not
  * inside it. Time-anchored predicates compare `ts` with a scalar
  * subquery on `max(ts)` and filter before scoring, so only the rows
  * inside the window are read for `k` at all. On a
  * parquet scan the [[graft.plans.FooterMinMax]] rule answers that
  * anchor from the files' footers and folds it into the filter as a
  * literal, so no job computes it; on any other source (a stream's
  * micro-batch, a filtered or cached frame) the scan answers it.
  */
object FraudAnalytics {

  // Trained-model constants for the closed-form logistic score (M1-M3).
  // Identity scaling + the generative coefficients of the reference's
  // label model (`services/training/app/training.py:23-29`):
  // logit = 0.002*amount + 1.5*risk + 0.05*night - 2.5.
  private val Means  = Seq(0.0, 0.0, 0.0)
  private val Stds   = Seq(1.0, 1.0, 1.0)
  private val Coef   = Seq(0.002, 1.5, 0.05)
  private val Intercept = -2.5

  /** Scoring pipeline over events: read the `k` feature from the
    * `props` JSON ([[Scoring.jsonFeatureAt]]), derive model inputs,
    * score with the logistic closed form; heuristic fallback kept as
    * its own column (M9). `prediction` thresholds on the raw
    * logit (`logit >= 0` ⇔ `sigmoid(logit) >= 0.5`) so the
    * classification is exact arithmetic, immune to libm ulp skew.
    */
  def scored(events: DataFrame): DataFrame =
    scoredFrom(events, Scoring.jsonFeatureAt(col("props"), "k"))

  /** [[scored]] over an already-derived risk feature `k` (a non-null
    * DOUBLE) — sources that carry it natively (the Kafka transaction
    * payload's feature map, typed Datasets) score without a JSON
    * round-trip through `props`. */
  def scoredFrom(events: DataFrame, k: Column): DataFrame = {
    val night = when(hour(col("ts")).isin(0, 1, 2, 3, 23), lit(1.0)).otherwise(lit(0.0))
    val feats = Seq(col("value"), col("k") / lit(100.0), col("night"))
    events
      .withColumn("k", k)
      .withColumn("hr", hour(col("ts")).cast("double"))
      .withColumn("night", night)
      .withColumn("logit", Scoring.logitOf(feats, Means, Stds, Coef, Intercept))
      .withColumn("proba", Scoring.sigmoid(col("logit")))
      .withColumn("heuristic_proba", Scoring.heuristicProba(col("value")))
      .withColumn("prediction", (col("logit") >= lit(0.0)).cast("int"))
  }

  /** [[scored]] plus ingest observability: an `observe()` node
    * counting total and malformed payloads per action/micro-batch —
    * the engine-native form of the reference's "log and skip" counter
    * (`main.py:233-235`). Metrics ride the existing plan (no extra
    * pass); read them from the [[org.apache.spark.sql.Observation]]
    * after an action, or from `StreamingQueryProgress.observedMetrics`
    * in streaming. */
  def scoredWithIngestMetrics(events: DataFrame,
                              obs: org.apache.spark.sql.Observation): DataFrame = {
    // the kernel answers only well-formed flat objects, so a payload
    // it decides is never malformed: Spark parses only the rest
    val malformed = col("props").isNotNull &&
      Scoring.jsonNumberAt(col("props"), "k").isNull &&
      from_json(col("props"), Scoring.FeatureMapType).isNull
    scored(events.observe(obs,
      count(lit(1)).as("n_ingested"),
      sum(when(malformed, 1L).otherwise(0L)).as("n_malformed")))
  }

  /** SQL mirror of [[scored]] for the DuckDB oracle — arithmetic is
    * written with the same shape/associativity as the Spark
    * expressions so per-row doubles are bit-identical. */
  private val scoredSql: String =
    """WITH f AS (
      |  SELECT *,
      |    COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0) AS k,
      |    CAST(hour(ts) AS DOUBLE) AS hr,
      |    CASE WHEN hour(ts) IN (0,1,2,3,23) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS night
      |  FROM events
      |), l AS (
      |  SELECT *,
      |    (((CAST(0.002 AS DOUBLE) * ((value - 0.0) / 1.0))
      |     + (CAST(1.5 AS DOUBLE) * (((k / 100.0) - 0.0) / 1.0)))
      |     + (CAST(0.05 AS DOUBLE) * ((night - 0.0) / 1.0)))
      |     + CAST(-2.5 AS DOUBLE) AS logit
      |  FROM f
      |), s AS (
      |  SELECT *,
      |    CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-logit)) AS proba,
      |    CASE WHEN value > 1000.0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.05 AS DOUBLE) END AS heuristic_proba,
      |    CASE WHEN logit >= 0.0 THEN 1 ELSE 0 END AS prediction
      |  FROM l
      |)""".stripMargin

  /** `max(ts)` as a scalar subquery — the deterministic stand-in for
    * the reference's `NOW()` predicates. A predicate on it stays a
    * plain filter on `ts`, so it can sit below the scoring projection
    * (a cross join with the 1-row aggregate would pin it above). NULL
    * on an empty table, where every window is empty.
    *
    * Over an unfiltered parquet table, as every [[Tables.events]]
    * caller has, [[graft.plans.FooterMinMax]] answers it from the
    * row-group statistics on the driver (the analog of the
    * reference's `event_time` btree, `init.sql:19-21`); elsewhere, or
    * when a footer lacks statistics, the scan and its aggregate do. */
  def anchorTs(events: DataFrame): Column = events.agg(max(col("ts"))).scalar()

  /** The rows of `events` inside the trailing `interval` (an interval
    * literal body such as `"1 HOUR"`) of [[anchorTs]] — the reference's
    * `event_time > NOW() - INTERVAL …`. Filter with this BEFORE
    * [[scored]] so only the window's payloads are parsed. */
  def trailing(events: DataFrame, interval: String): DataFrame =
    events.filter(col("ts") > anchorTs(events) - expr(s"INTERVAL $interval"))

  private def r6(c: Column): Column = round(c, 6)

  // ---------------------------------------------------------------- A1/A2
  /** Daily metrics rollup (`compute-daily-metrics.py:21-30`,
    * `init.sql:24-30`). Hourly full-recompute-of-today upsert is
    * reproduced as a deterministic recompute over all days — at scale
    * this is a partition-overwrite keyed by `day`. */
  /** FULL OUTER join — the one join type the rest of the suite does
    * not exercise: per (user, day) click activity vs purchase
    * activity, keeping users who clicked without buying AND bought
    * without a same-day click (both null sides coalesced to 0). The
    * classic activity-reconciliation shape; one shuffle per side on
    * the composite key, then the outer merge. */
  val dailyActivityFullOuter: Q = Q("fraud_daily_activity_fullouter",
    """WITH c AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_clicks
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), p AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |)
      |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
      |  COALESCE(c.day, p.day) AS day,
      |  COALESCE(n_clicks, 0) AS n_clicks,
      |  COALESCE(n_purchases, 0) AS n_purchases
      |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id AND c.day = p.day
      |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    def daily(kind: String, as: String) = ev
      .filter(col("event_type") === kind)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as(as))
    daily("click", "n_clicks")
      .join(daily("purchase", "n_purchases"), Seq("user_id", "day"), "full_outer")
      .select(col("user_id"), col("day"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy(col("user_id"), col("day"))
  }

  /** SLIDING time windows (30 min length, 10 min step): each event
    * lands in exactly 3 overlapping windows — `window(ts, len, step)`
    * explodes to the covering window set before the per-window
    * aggregate, the overlap-analytics shape tumbling windows can't
    * express. Oracle replays it by unnesting the 3 step offsets from
    * the event's 10-minute bucket (both engines align buckets to a
    * :00 epoch multiple, so the grids agree). */
  val slidingCounts: Q = Q("fraud_sliding_counts",
    """SELECT ws AS window_start, COUNT(*) AS n,
      |  ROUND(AVG(value), 6) AS avg_value
      |FROM (
      |  SELECT time_bucket(INTERVAL '10 minutes', ts) - k * INTERVAL '10 minutes' AS ws,
      |         value
      |  FROM events, unnest([0, 1, 2]) t(k))
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("win"))
      .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_value"))
      .select(col("win.start").as("window_start"), col("n"), col("avg_value"))
      .orderBy(col("window_start"))
  }

  val dailyMetrics: Q = Q("fraud_daily_metrics",
    s"""$scoredSql
       |SELECT CAST(ts AS DATE) AS day,
       |       COUNT(*) AS num_predictions,
       |       ROUND(AVG(CAST(prediction AS DOUBLE)), 6) AS fraud_rate,
       |       ROUND(AVG(value), 6) AS avg_amount,
       |       ROUND(AVG(proba), 6) AS avg_proba
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    dailyRollup(Tables.events(s, dir)).orderBy(col("day"))
  }

  /** The rows of [[dailyMetrics]] in no order — what a MERGE keyed by
    * `day` stages ([[graft.jobs.Jobs.dailyMetricsTick]]), which needs
    * no sort. The only definition of the daily rollup: on a stream of
    * events it runs unchanged in update mode
    * ([[graft.streaming.ScoringStream.dailyMetricsWriter]]), so every
    * store of it holds the same rounded values. */
  def dailyRollup(events: DataFrame): DataFrame =
    scored(events)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("num_predictions"),
        r6(avg(col("prediction").cast("double"))).as("fraud_rate"),
        r6(avg(col("value"))).as("avg_amount"),
        r6(avg(col("proba"))).as("avg_proba"))

  // ---------------------------------------------------------------- M3/P3/P4
  /** Row-level scoring output — the streaming micro-batch body as a
    * batch query (`main.py:219-231`). */
  val scoredEvents: Q = Q("fraud_scored_events",
    s"""$scoredSql
       |SELECT event_id, value AS amount, k, hr AS hour, night,
       |       ROUND(proba, 6) AS proba, prediction,
       |       heuristic_proba
       |FROM s ORDER BY event_id""".stripMargin) { (s, dir) =>
    scored(Tables.events(s, dir))
      .select(
        col("event_id"), col("value").as("amount"), col("k"),
        col("hr").as("hour"), col("night"),
        r6(col("proba")).as("proba"), col("prediction"),
        col("heuristic_proba"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- A3
  /** Freshness DQ check (`Data_quality_checks.py:20-29`): rows in the
    * trailing 15 min of the anchor. */
  val freshness: Q = Q("fraud_freshness_15m",
    """SELECT COUNT(*) AS recent_rows, COUNT(*) >= 1 AS fresh
      |FROM events
      |WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL '15 minutes'""".stripMargin) { (s, dir) =>
    trailing(Tables.events(s, dir), "15 MINUTES")
      .agg(count(lit(1)).as("recent_rows"))
      .select(col("recent_rows"), (col("recent_rows") >= 1).as("fresh"))
  }

  // ---------------------------------------------------------------- A4/P5
  /** Null-violation DQ check (`Data_quality_checks.py:32-34`). */
  val nullViolations: Q = Q("fraud_null_violations",
    """SELECT COUNT(*) AS null_id_rows
      |FROM events WHERE event_id IS NULL OR event_type IS NULL""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .filter(col("event_id").isNull || col("event_type").isNull)
      .agg(count(lit(1)).as("null_id_rows"))
  }

  // ---------------------------------------------------------------- A5
  /** Fraud-rate sanity bound over the trailing hour
    * (`Data_quality_checks.py:37-40`). */
  val rateBound: Q = Q("fraud_rate_bound_1h",
    s"""$scoredSql
       |SELECT ROUND(COALESCE(AVG(CAST(prediction AS DOUBLE)), 0.0), 6) AS fraud_rate_1h,
       |       COALESCE(AVG(CAST(prediction AS DOUBLE)), 0.0) BETWEEN 0.0 AND 1.0 AS within_bounds
       |FROM s WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL '1 hour'""".stripMargin) { (s, dir) =>
    val rate = coalesce(avg(col("prediction").cast("double")), lit(0.0))
    scored(trailing(Tables.events(s, dir), "1 HOUR"))
      .agg(rate.as("rate"))
      .select(
        r6(col("rate")).as("fraud_rate_1h"),
        (col("rate") >= 0.0 && col("rate") <= 1.0).as("within_bounds"))
  }

  // ---------------------------------------------------------------- A6/O2
  /** Per-minute prediction time series (`predictions.json:18`) — the
    * principled bucketed form of the reference's GROUP BY event_time. */
  val timeseries: Q = Q("fraud_timeseries_minute",
    s"""$scoredSql
       |SELECT date_trunc('minute', ts) AS time,
       |       ROUND(AVG(CAST(prediction AS DOUBLE)), 6) AS avg_prediction,
       |       COUNT(*) AS n
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    scored(Tables.events(s, dir))
      .groupBy(date_trunc("minute", col("ts")).as("time"))
      .agg(
        r6(avg(col("prediction").cast("double"))).as("avg_prediction"),
        count(lit(1)).as("n"))
      .orderBy(col("time"))
  }

  // ---------------------------------------------------------------- A7/P8
  /** 1-hour dashboard stats with empty-window COALESCE guard
    * (`predictions.json:35,49`). */
  val hourlyStats: Q = Q("fraud_hourly_stats",
    s"""$scoredSql
       |SELECT ROUND(COALESCE(AVG(CAST(prediction AS DOUBLE)), 0.0), 6) AS avg_prediction_1h,
       |       ROUND(COALESCE(AVG(value), 0.0), 6) AS avg_amount_1h,
       |       COUNT(*) AS n_1h
       |FROM s WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL '1 hour'""".stripMargin) { (s, dir) =>
    scored(trailing(Tables.events(s, dir), "1 HOUR"))
      .agg(
        r6(coalesce(avg(col("prediction").cast("double")), lit(0.0))).as("avg_prediction_1h"),
        r6(coalesce(avg(col("value")), lit(0.0))).as("avg_amount_1h"),
        count(lit(1)).as("n_1h"))
  }

  // ---------------------------------------------------------------- O1
  /** Recent-predictions panel: top-50 by recency
    * (`predictions.json:63`). Catalyst plans TakeOrderedAndProject —
    * a true distributed top-k, no full sort. */
  val recentTopK: Q = Q("fraud_recent_topk",
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(50)
  }

  // ---------------------------------------------------------------- P1/P2
  /** Tolerant ordered feature projection with default fill + map
    * augmentation (`main.py:64,107,176,228`): present key, absent key
    * (→ 0.0), scalar merged into the map, derived hour. */
  val featureProjection: Q = Q("fraud_feature_projection",
    """SELECT event_id,
      |       ROUND(COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0), 6) AS f_k,
      |       CAST(0.0 AS DOUBLE) AS f_missing,
      |       ROUND(value, 6) AS f_amount,
      |       CAST(hour(ts) AS DOUBLE) AS f_hour
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val parsed   = from_json(col("props"), Scoring.FeatureMapType)
    val features = Scoring.withAmount(parsed, col("value"))
    Tables.events(s, dir)
      .select(
        col("event_id"),
        r6(Scoring.featureAt(features, "k")).as("f_k"),
        Scoring.featureAt(features, "missing").as("f_missing"),
        r6(Scoring.featureAt(features, "amount")).as("f_amount"),
        hour(col("ts")).cast("double").as("f_hour"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- extra
  /** Per-event-type rollup with exact-decimal totals (sum order
    * independent) — basic categorical breakdown. */
  val typeBreakdown: Q = Q("fraud_event_type_breakdown",
    """SELECT event_type, COUNT(*) AS n,
      |       ROUND(AVG(value), 6) AS avg_value,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        r6(avg(col("value"))).as("avg_value"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- P10/S1/S2
  /** Kafka value shape: serialize each event to a JSON payload
    * (`to_json(struct(..))` — exactly the producer's value,
    * producer.py:37) and parse it back (`from_json` — the consumer,
    * main.py:205). The oracle checks both the payload bytes and the
    * roundtrip identity. */
  val kafkaRoundtrip: Q = Q("fraud_kafka_roundtrip",
    """SELECT event_id,
      |  to_json(struct_pack(event_id := event_id, event_type := event_type, user_id := user_id)) AS payload,
      |  event_id AS rt_event_id, event_type AS rt_event_type, user_id AS rt_user_id
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val payload = to_json(struct(col("event_id"), col("event_type"), col("user_id")))
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("event_id BIGINT, event_type STRING, user_id BIGINT")
    Tables.events(s, dir)
      .select(col("event_id"), payload.as("payload"))
      .withColumn("rt", from_json(col("payload"), schema))
      .select(col("event_id"), col("payload"),
        col("rt.event_id").as("rt_event_id"),
        col("rt.event_type").as("rt_event_type"),
        col("rt.user_id").as("rt_user_id"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- P12
  /** ISO local-time formatting in the producer's zone
    * (`producer.py:26-28` stamps Africa/Cairo wall-clock). Session tz
    * stays UTC; the zone applies only at the formatting boundary. */
  val tzFormat: Q = Q("fraud_tz_format",
    """SELECT event_id,
      |  strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Africa/Cairo', '%Y-%m-%d %H:%M:%S') AS cairo_time,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS utc_time
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        date_format(from_utc_timestamp(col("ts"), "Africa/Cairo"), "yyyy-MM-dd HH:mm:ss").as("cairo_time"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("utc_time"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- T4 upgrade
  /** Sessionization: 30-minute-inactivity sessions per user via
    * `session_window` — the stateful window operator the reference's
    * predicate-style lookbacks never had. Oracle reproduces the
    * semantics with gaps-and-islands SQL. Boundary: Spark's session
    * window is [start, start+gap) — end exclusive — so a gap of
    * exactly 30:00 starts a NEW session; the oracle must break on
    * `>=`, not `>`, to agree on exact-boundary gaps. */
  val sessionize: Q = Q("fraud_sessionize",
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o
      |)
      |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |       COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  // ---------------------------------------------------------------- pivot
  /** Day × event-type contingency counts via `pivot` (explicit value
    * list → deterministic schema, single shuffle). */
  val pivotTypeDaily: Q = Q("fraud_pivot_type_daily",
    """SELECT CAST(ts AS DATE) AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("day"))
  }

  /** The inverse reshape: melt the pivoted wide table back to long
    * (day, event_type, n) with the native `unpivot` operator —
    * wide↔long round-trip, both directions oracle-checked. */
  val unpivotTypeDaily: Q = Q("fraud_unpivot_type_daily",
    """WITH wide AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |    COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |    COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |  FROM events GROUP BY 1)
      |SELECT day, event_type, n FROM wide
      |UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view))
      |ORDER BY day, event_type""".stripMargin) { (s, dir) =>
    pivotTypeDaily.fn(s, dir)
      .unpivot(
        ids = Array(col("day")),
        values = Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        variableColumnName = "event_type",
        valueColumnName = "n")
      .orderBy(col("day"), col("event_type"))
  }

  // ---------------------------------------------------------------- percentiles
  /** Exact percentiles of transaction value per type (`percentile` ≡
    * `quantile_cont`, linear interpolation) plus the sketch-based
    * `approx_percentile` path for the 100 TB variant is exercised in
    * ScalaTest. */
  val valuePercentiles: Q = Q("fraud_value_percentiles",
    """SELECT event_type,
      |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
      |  ROUND(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        r6(expr("percentile(value, 0.5)")).as("p50"),
        r6(expr("percentile(value, 0.9)")).as("p90"),
        r6(expr("percentile(value, 0.99)")).as("p99"))
      .orderBy(col("event_type"))
  }

  /** Sketch-based percentiles certified against the exact path — the
    * companion of [[valuePercentiles]] the way `tpch_approx_distinct`
    * companions the exact distinct counts. `approx_percentile`
    * (Greenwald-Khanna summaries: constant memory per group,
    * mergeable partials, no per-group sort) is what runs at 100 TB;
    * this query computes it NEXT TO the exact interpolated
    * percentiles and projects the exact values plus a boolean pinning
    * the sketch inside generous rank bounds (accuracy 10⁴ → rank
    * error 10⁻⁴; the bound checked is ±0.05 quantile, 500×). The
    * oracle hash-checks the exact columns; sketch drift past the
    * bound flips the boolean and fails the match. */
  val valuePercentilesSketch: Q = Q("fraud_value_percentiles_sketch",
    """SELECT event_type,
      |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(value, 0.99), 6) AS p99,
      |  TRUE AS sketch_within_bounds
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        r6(expr("percentile(value, 0.5)")).as("p50"),
        r6(expr("percentile(value, 0.99)")).as("p99"),
        expr("approx_percentile(value, 0.5, 10000)").as("a50"),
        expr("approx_percentile(value, 0.99, 10000)").as("a99"),
        expr("percentile(value, 0.45)").as("lo50"),
        expr("percentile(value, 0.55)").as("hi50"),
        expr("percentile(value, 0.98)").as("lo99"),
        max(col("value")).as("hi99"))
      .select(col("event_type"), col("p50"), col("p99"),
        (col("a50").between(col("lo50"), col("hi50")) &&
         col("a99").between(col("lo99"), col("hi99"))).as("sketch_within_bounds"))
      .orderBy(col("event_type"))
  }

  /** Ordered conversion funnel view → click → purchase: each stage is
    * the user's FIRST qualifying event strictly after their previous
    * stage and within a 24 h conversion window (sequential pattern
    * matching, the product-analytics twin of the reference's per-user
    * event stream). Each stage pre-aggregates (min ts per user)
    * BEFORE joining, so the joins carry one row per user, not one per
    * event — the staged min-reduction that keeps funnels linear at
    * 100 TB. Output is the single-row stage-count summary. */
  val funnelCounts: Q = Q("fraud_funnel_counts",
    """WITH v AS (SELECT user_id, MIN(ts) AS vt FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.ts) AS ct FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.vt
      |        AND e.ts <= v.vt + INTERVAL 24 HOUR GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS pt FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.ct
      |        AND e.ts <= c.ct + INTERVAL 24 HOUR GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |       (SELECT COUNT(*) FROM c) AS n_click,
      |       (SELECT COUNT(*) FROM p) AS n_purchase""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val window24h = expr("INTERVAL 24 HOUR")
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vt"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("vt") && col("ts") <= col("vt") + window24h)
      .groupBy(col("user_id")).agg(min(col("ts")).as("ct"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("ct") && col("ts") <= col("ct") + window24h)
      .groupBy(col("user_id")).agg(min(col("ts")).as("pt"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
  }

  /** Gap-filled per-minute series: a generated minute SPINE (1-row
    * min/max anchor → `sequence` → explode) left-joined to the
    * aggregated counts, empty minutes coalesced to 0 — resampling to
    * a continuous time grid, the dashboard-feed form of
    * [[timeseries]]. Scale shape: the spine is bounded by the time
    * range (not the data volume), the count aggregate is the only
    * fact-table shuffle, and the spine⋈agg join is between two
    * minute-bounded frames. */
  val timeseriesFilled: Q = Q("fraud_timeseries_filled",
    """WITH b AS (SELECT MIN(date_trunc('minute', ts)) AS t0,
      |                  MAX(date_trunc('minute', ts)) AS t1 FROM events),
      |spine AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS minute FROM b),
      |agg AS (SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS n
      |        FROM events GROUP BY 1)
      |SELECT spine.minute, COALESCE(agg.n, 0) AS n
      |FROM spine LEFT JOIN agg USING (minute) ORDER BY spine.minute""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val spine = e
      .agg(min(date_trunc("minute", col("ts"))).as("t0"),
           max(date_trunc("minute", col("ts"))).as("t1"))
      .select(explode(expr("sequence(t0, t1, interval 1 minute)")).as("minute"))
    val agg = e.groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n"))
    spine.join(agg, Seq("minute"), "left_outer")
      .select(col("minute"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("minute"))
  }

  /** Semi-structured extraction through Spark 4's VARIANT type: props
    * parsed once into the binary variant encoding, fields pulled with
    * `variant_get` path expressions — the schema-on-read path for
    * props payloads whose shape drifts (vs [[scoredEvents]]'s
    * fixed-schema `from_json`). `try_parse_json` nulls malformed
    * payloads instead of failing the scan, matching the engine's
    * malformed-skip contract (P14). Variant's typed binary encoding
    * is columnar-friendly: at 100 TB the parse cost is paid once per
    * value, not once per extracted path. */
  val propsVariant: Q = Q("fraud_props_variant",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CASE WHEN json_valid(props)
      |             THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
      |      FROM events) t
      |WHERE k IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .withColumn("k", expr("variant_get(try_parse_json(props), '$.k', 'bigint')"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- as-of
  /** As-of join within the stream: each purchase attributed to the
    * user's most recent prior click — the point-in-time lookup
    * pattern (composed from an ignore-nulls running window; no
    * custom operator needed, stays sort-merge-free after the single
    * shuffle on user_id). */
  val clickAttribution: Q = Q("fraud_click_attribution",
    """SELECT event_id, user_id, ts, last_click_id
      |FROM (
      |  SELECT *, last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id
      |  FROM events) t
      |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("last_click_id"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- stats
  /** Statistical moments + correlation per event type (stddev/var
    * one-pass merge formulas agree across engines to ~1e-12; rounded
    * well above that). */
  /** SQL:2003 linear-regression aggregates — OLS of value on
    * hour-of-day per event type (slope/intercept/R²/pair count).
    * Single partial+final hash agg; the moment sums combine
    * associatively so the plan is identical to any other grouped
    * aggregate. */
  val regressionStats: Q = Q("fraud_regression_stats",
    """SELECT event_type,
      |  ROUND(regr_slope(value, hour(ts)), 6) AS slope,
      |  ROUND(regr_intercept(value, hour(ts)), 6) AS intercept,
      |  ROUND(regr_r2(value, hour(ts)), 6) AS r2,
      |  CAST(regr_count(value, hour(ts)) AS BIGINT) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        r6(regr_slope(col("value"), hour(col("ts")))).as("slope"),
        r6(regr_intercept(col("value"), hour(col("ts")))).as("intercept"),
        r6(regr_r2(col("value"), hour(col("ts")))).as("r2"),
        regr_count(col("value"), hour(col("ts"))).as("n"))
      .orderBy(col("event_type"))
  }

  val valueStats: Q = Q("fraud_value_stats",
    """SELECT event_type,
      |  ROUND(stddev_samp(value), 6) AS sd_value,
      |  ROUND(var_samp(value), 6) AS var_value,
      |  ROUND(corr(value, hour(ts)), 6) AS corr_value_hour
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        r6(stddev_samp(col("value"))).as("sd_value"),
        r6(var_samp(col("value"))).as("var_value"),
        r6(corr(col("value"), hour(col("ts")))).as("corr_value_hour"))
      .orderBy(col("event_type"))
  }

  /** GROUPING SETS through the SQL front-end (same string is the
    * oracle): per-type, per-day, and grand-total counts in one pass. */
  private val groupingSetsSql =
    """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
      |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin

  val groupingSets: Q = Q("fraud_grouping_sets", groupingSetsSql) { (s, dir) =>
    Tables.events(s, dir).createOrReplaceTempView("events")
    s.sql(groupingSetsSql)
  }

  // ---------------------------------------------------------------- drift
  /** Population-stability-index (PSI) drift monitor: the serving
    * window's feature distributions vs the first-15-day baseline —
    * the standard production-ML input-drift alarm (PSI > 0.2 ⇒
    * retrain). Two bounded aggregates: per-(feature, bin, period)
    * counts (map-side combined), then the PSI fold over ≤ 10 bins
    * per feature via a window total — no joins, no full-table sort;
    * the period anchor is the usual 1-row min(ts) broadcast. */
  val featureDrift: Q = Q("ml_feature_drift",
    """WITH h AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
      |e AS (SELECT value, hour(ts) AS hr,
      |        CASE WHEN date_diff('day', d0, CAST(ts AS DATE)) < 15 THEN 0 ELSE 1 END AS period
      |      FROM events, h),
      |binned AS (
      |  SELECT 'amount' AS feature, least(CAST(floor(value / 50) AS BIGINT), 9) AS bin, period FROM e
      |  UNION ALL
      |  SELECT 'hour' AS feature, CAST(hr // 3 AS BIGINT) AS bin, period FROM e),
      |cnt AS (SELECT feature, bin,
      |          SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS c0,
      |          SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS c1
      |        FROM binned GROUP BY 1, 2),
      |w AS (SELECT feature, c0, c1,
      |        SUM(c0) OVER (PARTITION BY feature) AS t0,
      |        SUM(c1) OVER (PARTITION BY feature) AS t1 FROM cnt),
      |p AS (SELECT feature,
      |        greatest(CAST(c0 AS DOUBLE) / t0, 1e-6) AS p,
      |        greatest(CAST(c1 AS DOUBLE) / t1, 1e-6) AS q, t0, t1 FROM w)
      |SELECT feature, ROUND(SUM((p - q) * ln(p / q)), 6) AS psi,
      |  CAST(MAX(t0) AS BIGINT) AS n_base, CAST(MAX(t1) AS BIGINT) AS n_curr
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
    val anchor = events.agg(min(to_date(col("ts"))).as("d0"))
    val e = events.crossJoin(broadcast(anchor))
      .select(col("value"), hour(col("ts")).as("hr"),
        when(datediff(to_date(col("ts")), col("d0")) < 15, 0).otherwise(1).as("period"))
    val binned =
      e.select(lit("amount").as("feature"),
          least(floor(col("value") / 50).cast("long"), lit(9L)).as("bin"), col("period"))
        .unionByName(
          e.select(lit("hour").as("feature"),
            floor(col("hr") / 3).cast("long").as("bin"), col("period")))
    val cnt = binned.groupBy(col("feature"), col("bin"))
      .agg(sum(when(col("period") === 0, 1).otherwise(0)).as("c0"),
        sum(when(col("period") === 1, 1).otherwise(0)).as("c1"))
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("feature"))
    val p = cnt
      .withColumn("t0", sum(col("c0")).over(wTot))
      .withColumn("t1", sum(col("c1")).over(wTot))
      .select(col("feature"),
        greatest(col("c0").cast("double") / col("t0"), lit(1e-6)).as("p"),
        greatest(col("c1").cast("double") / col("t1"), lit(1e-6)).as("q"),
        col("t0"), col("t1"))
    p.groupBy(col("feature"))
      .agg(r6(sum((col("p") - col("q")) * log(col("p") / col("q")))).as("psi"),
        max(col("t0")).cast("long").as("n_base"),
        max(col("t1")).cast("long").as("n_curr"))
      .orderBy(col("feature"))
  }

  // ---------------------------------------------------------------- anomalies
  /** Per-type z-score outliers (|z| > 3) — the statistical anomaly
    * flag next to the model-based fraud score. Two-pass shape: the
    * per-type moment aggregate collapses to one row per event_type
    * (a bounded, design-time cardinality — broadcast is safe at any
    * data scale, unlike user- or key-scaled frames), then the flag
    * is a map-side join + filter over the fact scan. No window over
    * the full table, no second shuffle. */
  val valueAnomalies: Q = Q("fraud_value_anomalies",
    """WITH st AS (
      |  SELECT event_type, AVG(value) AS mu, stddev_samp(value) AS sd
      |  FROM events GROUP BY 1)
      |SELECT e.event_id, e.event_type, e.value,
      |       ROUND((e.value - mu) / sd, 6) AS zscore
      |FROM events e JOIN st USING (event_type)
      |WHERE ABS((e.value - mu) / sd) > 3
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
    val st = events.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
    val z = (col("value") - col("mu")) / col("sd")
    events.join(broadcast(st), "event_type")
      .filter(abs(z) > 3)
      .select(col("event_id"), col("event_type"), col("value"),
        r6(z).as("zscore"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- cohorts
  /** Retention-cohort matrix: users grouped by first-activity day,
    * counted on each later active day — the classic growth-analytics
    * rollup (the dashboard the reference's Grafana panels
    * approximate with per-day counts, `grafana/dashboards/
    * predictions.json:18`).
    *
    * Scale shape: ONE shuffle on `user_id` builds the per-user
    * activity summary — `collect_set(day)` partial-aggregates
    * map-side and is bounded by the calendar (days in horizon), not
    * by event volume — then the cell rollup is a second bounded
    * aggregate on (cohort_day, offset); cohort sizes come from the
    * offset-0 cell via a window over the tiny cell frame, no extra
    * pass over events. No per-user join back to the fact table. */
  val retentionCohorts: Q = Q("fraud_retention_cohorts",
    """WITH u AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cells AS (
      |  SELECT u.cohort_day, date_diff('day', u.cohort_day, a.day) AS day_offset,
      |         COUNT(*) AS n_users
      |  FROM a JOIN u USING (user_id) GROUP BY 1, 2)
      |SELECT cohort_day, day_offset, n_users,
      |  ROUND(CAST(n_users AS DOUBLE)
      |        / MAX(CASE WHEN day_offset = 0 THEN n_users END)
      |            OVER (PARTITION BY cohort_day), 6) AS retention
      |FROM cells ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val cells = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"), collect_set(col("day")).as("days"))
      .select(col("cohort_day"), explode(col("days")).as("day"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cohort_day"))
    cells
      .withColumn("retention",
        r6(col("n_users").cast("double") /
          max(when(col("day_offset") === 0, col("n_users"))).over(w)))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  // ---------------------------------------------------------------- band join
  /** Non-uniform value bands (quadratic widths — the shape of real
    * pricing/risk tiers) and the unit-grid width the interval join
    * buckets on. */
  private[graft] val BandCellW = 8.0
  private[graft] val Bands: Seq[(Int, Double, Double)] =
    (0 until 8).map(k => (k, BandCellW * k * k, BandCellW * (k + 1) * (k + 1)))

  /** Interval (band) join: classify every event's `value` into a
    * non-equi band `[lo, hi)` and aggregate per band — the theta-join
    * shape (IP-range lookup, price tiers, time-validity windows)
    * that naive plans execute as BroadcastNestedLoopJoin, O(|fact| ·
    * |bands|) comparisons per row.
    *
    * Scale path — GRID-CELL BUCKETING: overlay a unit grid of width
    * `BandCellW`; each band explodes to the cells it overlaps (a
    * tiny dim-side blow-up), each event computes its single cell in
    * the map stage, and the join becomes a broadcast HASH equi-join
    * on `cell` + a residual `lo <= value < hi` filter. Per-row work
    * drops to the handful of bands sharing one cell — with 1M bands
    * (real IP-geo tables) this is the difference between a scan per
    * row and a hash probe; past the broadcast gate the same plan
    * degrades to a shuffle hash join on `cell`, still never a
    * nested loop. PlanInvariantsSpec pins BroadcastHashJoin and the
    * absence of BroadcastNestedLoopJoin. */
  val valueBandJoin: Q = Q("fraud_value_band_join",
    s"""WITH bands(band_id, lo, hi) AS (VALUES ${
        Bands.map { case (k, lo, hi) => s"($k, $lo, $hi)" }.mkString(", ")})
       |SELECT band_id, lo, hi, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       |  COUNT(DISTINCT user_id) AS n_users
       |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val cells = Bands.toDF("band_id", "lo", "hi")
      .withColumn("cell", explode(sequence(
        floor(col("lo") / BandCellW).cast("long"),
        floor(col("hi") / BandCellW).cast("long"))))
    // grid-cell rows = Σ cells per band, computable from the literal
    // band table without a job; a 1M-band IP-geo dim can exceed the
    // gate, where the same plan degrades to a shuffle hash join on
    // `cell` (pinned in ScaleTechniquesSpec) — still never a loop
    val nCells = Bands.map { case (_, lo, hi) =>
      (math.floor(hi / BandCellW) - math.floor(lo / BandCellW)).toLong + 1L
    }.sum
    Tables.events(s, dir)
      .withColumn("cell", floor(col("value") / BandCellW).cast("long"))
      .join(TextOps.maybeBroadcast(cells, nCells * 40L), "cell")
      .filter(col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("band_id"))
  }

  // ---------------------------------------------------------------- DAU/WAU
  /** Rolling active-user stickiness — DAU, trailing-7-day WAU, and
    * the DAU/WAU ratio per day, the product-analytics staple the
    * fixed sliding-window counts don't cover (WAU needs DISTINCT
    * users across a moving range, not a sum). Scale shape: ONE
    * distinct over (user, day) bounds everything by users·days (the
    * 100 TB cost, and it partial-aggregates); each (user, day) then
    * EXPLODES into the 7 window days it contributes to — a pure map,
    * so the moving-range distinct becomes an ordinary equi-keyed
    * aggregate (no range join, no nested loop, the window-explode
    * dual of a sliding window); the final inner join back to
    * observed days discards the phantom tail past the horizon. */
  val activeUsers7d: Q = Q("fraud_active_users_7d",
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |w0 AS (SELECT DISTINCT user_id, unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS wday
      |       FROM ud),
      |wau AS (SELECT CAST(wday AS DATE) AS day, COUNT(DISTINCT user_id) AS wau FROM w0 GROUP BY 1),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
      |SELECT d.day, d.dau, w.wau,
      |  ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
      |FROM dau d JOIN wau w ON d.day = w.day
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    val ud = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------- SCD2
  /** Slowly-changing-dimension TYPE 2 build — the warehouse pattern
    * the COW-merge/time-travel store family doesn't cover: collapse
    * each user's event stream into attribute VALIDITY INTERVALS.
    * Every run of equal `event_type` per user becomes one dimension
    * row with valid_from / valid_to (the next change's timestamp;
    * NULL = open) / is_current, plus a version number. ONE shuffle
    * on user_id — the change detector, the interval close, and the
    * version number all ride the same (user, ts, event_id) window
    * partitioning. */
  val scd2Dimension: Q = Q("fraud_scd2_dimension",
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |              OR event_type <> lag(event_type) OVER w
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), c AS (SELECT * FROM o WHERE chg = 1),
      |v AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    lead(ts) OVER w2 AS valid_to,
      |    ROW_NUMBER() OVER w2 AS version
      |  FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
      |  valid_from, valid_to, (valid_to IS NULL) AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin) { (s, dir) =>
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val c = Tables.events(s, dir)
      .withColumn("prev", lag(col("event_type"), 1).over(win))
      .filter(col("prev").isNull || col("event_type") =!= col("prev"))
    c.select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        lead(col("ts"), 1).over(win).as("valid_to"),
        row_number().over(win).cast("long").as("version"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val all: Seq[Q] = Seq(
    dailyMetrics, scoredEvents, freshness, nullViolations, rateBound,
    timeseries, hourlyStats, recentTopK, featureProjection, typeBreakdown,
    kafkaRoundtrip, tzFormat, sessionize, pivotTypeDaily, unpivotTypeDaily,
    valuePercentiles, valuePercentilesSketch, funnelCounts, propsVariant,
    timeseriesFilled, clickAttribution, valueStats, regressionStats, groupingSets,
    dailyActivityFullOuter, slidingCounts, valueBandJoin, retentionCohorts,
    valueAnomalies, featureDrift, scd2Dimension, activeUsers7d)
}
