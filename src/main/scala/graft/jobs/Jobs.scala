package graft.jobs

import graft.Q
import graft.queries.FraudAnalytics
import graft.sources.{Scratch, Tables}
import graft.streaming.{JdbcMetricsSink, ScoringStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's scheduler surface, runnable: its two Airflow DAGs
  * (`airflow/dags/compute-daily-metrics.py:45` — hourly rollup
  * upsert; `airflow/dags/Data_quality_checks.py:47` — DQ checks) map
  * to two job shapes here:
  *
  *  - a TICK: one deterministic batch run of the DAG body (what one
  *    cron firing does) — [[dailyMetricsTick]] recomputes the rollup
  *    and merges it into the SQL store via [[JdbcMetricsSink]];
  *    [[dataQualityTick]] evaluates the three checks into one report
  *    row set. Each tick is idempotent, so any external scheduler
  *    (Airflow, cron, k8s) can fire it at will — the DAG contract.
  *  - the engine-native SCHEDULE: Structured Streaming owns the
  *    cadence with `Trigger.ProcessingTime`, running the tick's own
  *    rollup incrementally into the same store through the same MERGE
  *    ([[scheduleDailyMetrics]]) — the upgrade path that removes the
  *    external scheduler entirely.
  *
  * [[DailyMetricsJob]] is the runnable entry point
  * (`runMain graft.jobs.DailyMetricsJob <sfDir> <jdbcUrl> [once|<interval>]`).
  */
object Jobs {

  /** One cron firing of compute-daily-metrics: full deterministic
    * recompute of the rollup (the reference recomputes today and
    * upserts; recompute-then-merge keyed by day subsumes it) of the
    * [[FraudAnalytics.dailyRollup]] the schedule runs incrementally,
    * pushed through the same MERGE body the schedule uses; the merge
    * is keyed by day, so the staged rollup is not sorted. Returns the
    * store contents after the merge, by day. */
  def dailyMetricsTick(spark: SparkSession, dir: String, url: String): DataFrame = {
    JdbcMetricsSink.upsertDailyMetrics(
      FraudAnalytics.dailyRollup(Tables.events(spark, dir)), url)
    spark.read.jdbc(url, JdbcMetricsSink.Table, new java.util.Properties)
      .orderBy(col("day"))
  }

  /** One cron firing of Data_quality_checks: the three reference
    * checks (freshness window non-empty, no null ids, fraud rate in
    * bounds — `Data_quality_checks.py:20-41`) as one (check, value,
    * ok) report. The DAG ran three separate SQL statements; here the
    * two counts share ONE pass over the unscored events (no JSON is
    * parsed), and only the trailing hour is scored for the rate. The
    * rate rides along as a scalar subquery, whose `max(ts)` anchor
    * Spark reuses from the counts pass, and `stack` reshapes the
    * 1-row summary into the report rows. */
  def dataQualityTick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val rate = FraudAnalytics.scored(FraudAnalytics.trailing(ev, "1 HOUR"))
      .agg(round(coalesce(avg(col("prediction").cast("double")), lit(0.0)), 6))
    ev.agg(
        count(when(col("ts") > FraudAnalytics.anchorTs(ev) - expr("INTERVAL 15 MINUTES"), lit(1)))
          .as("recent_rows"),
        count(when(col("event_id").isNull || col("event_type").isNull, lit(1)))
          .as("null_id_rows"))
      .withColumn("rate", rate.scalar())
      .selectExpr(
        """stack(3,
          |  'freshness_15m', cast(recent_rows AS double), recent_rows >= 1,
          |  'null_ids',      cast(null_id_rows AS double), null_id_rows = 0,
          |  'rate_bound_1h', rate,                          rate BETWEEN 0.0 AND 1.0
          |) AS (`check`, value, ok)""".stripMargin)
      .orderBy(col("check"))
  }

  /** Engine-native scheduling of the daily-metrics job: the tick's
    * [[FraudAnalytics.dailyRollup]] run incrementally by
    * [[ScoringStream.dailyMetricsWriter]] on a processing-time cadence
    * (the DAG's `schedule_interval` becomes the trigger interval; the
    * hourly production value is `"1 hour"`). Runs until stopped;
    * every interval the days that new events touched merge into the
    * same store the tick writes, with the same values.
    *
    * `checkpoint` must be a DURABLE location in production — restart
    * recovery (resume from the last committed source offsets instead
    * of reprocessing history) lives entirely in that directory. The
    * scratch-dir default is for tests/dev only. */
  def scheduleDailyMetrics(spark: SparkSession, dir: String, url: String,
                           every: String = "1 hour",
                           checkpoint: Option[String] = None): StreamingQuery =
    ScoringStream.dailyMetricsWriter(spark, dir)(JdbcMetricsSink.upsertDailyMetrics(_, url))
      .option("checkpointLocation",
        checkpoint.getOrElse(Scratch.dir("graft-sched-ckpt-").toString))
      .trigger(Trigger.ProcessingTime(every))
      .start()

  // ---------------------------------------------------------------- queries
  /** The DQ report as a verified query (all three checks pass on the
    * driver corpus; oracle recomputes each check in SQL). */
  val dqReport: Q = Q("fraud_dq_report",
    """WITH f AS (SELECT COUNT(*) AS recent_rows FROM events
      |           WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL '15 minutes'),
      |n AS (SELECT COUNT(*) AS null_id_rows FROM events
      |      WHERE event_id IS NULL OR event_type IS NULL),
      |s AS (SELECT *,
      |    (((CAST(0.002 AS DOUBLE) * ((value - 0.0) / 1.0))
      |     + (CAST(1.5 AS DOUBLE) * (((COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0) / 100.0) - 0.0) / 1.0)))
      |     + (CAST(0.05 AS DOUBLE) * ((CASE WHEN hour(ts) IN (0,1,2,3,23) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END - 0.0) / 1.0)))
      |     + CAST(-2.5 AS DOUBLE) AS logit
      |  FROM events),
      |r AS (SELECT ROUND(COALESCE(AVG(CASE WHEN logit >= 0.0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 0.0), 6) AS rate
      |      FROM s WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL '1 hour')
      |SELECT 'freshness_15m' AS "check", CAST(recent_rows AS DOUBLE) AS value, recent_rows >= 1 AS ok FROM f
      |UNION ALL
      |SELECT 'null_ids', CAST(null_id_rows AS DOUBLE), null_id_rows = 0 FROM n
      |UNION ALL
      |SELECT 'rate_bound_1h', rate, rate BETWEEN 0.0 AND 1.0 FROM r
      |ORDER BY "check"""".stripMargin) { (s, dir) =>
    dataQualityTick(s, dir)
  }

  val all: Seq[Q] = Seq(dqReport)
}

/** Runnable scheduler entry point:
  * `runMain graft.jobs.DailyMetricsJob <sfDir> [jdbcUrl] [once|<interval>]`
  * — `once` fires a single tick (external-scheduler mode; default);
  * an interval like `"1 hour"` starts the engine-native schedule and
  * blocks. */
object DailyMetricsJob {
  def main(args: Array[String]): Unit = {
    val dir  = args.headOption.getOrElse("/root/testdata/sf0.001")
    val url  = if (args.length > 1) args(1) else JdbcMetricsSink.derbyUrl()
    val mode = if (args.length > 2) args(2) else "once"
    val spark = graft.GraftSession.createLocal()
    if (mode == "once") {
      val out = Jobs.dailyMetricsTick(spark, dir, url)
      println(s"[daily-metrics-job] upserted ${out.count()} days -> $url")
    } else {
      val q = Jobs.scheduleDailyMetrics(spark, dir, url, every = mode,
        checkpoint = if (args.length > 3) Some(args(3)) else None)
      println(s"[daily-metrics-job] scheduled every $mode -> $url")
      q.awaitTermination()
    }
    spark.stop()
  }
}
