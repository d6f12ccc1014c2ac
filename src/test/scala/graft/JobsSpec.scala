package graft

import graft.jobs.Jobs
import graft.queries.FraudAnalytics
import graft.streaming.JdbcMetricsSink

/** Pins the runnable scheduler surface: a tick must be idempotent
  * (the cron-refire contract), the DQ report must pass on the driver
  * corpus, and the engine-native schedule must maintain the same
  * store on a processing-time cadence. */
class JobsSpec extends SparkSpec {

  test("daily-metrics tick is idempotent and matches the batch rollup") {
    val url = JdbcMetricsSink.derbyUrl()
    val first  = Jobs.dailyMetricsTick(spark, sf, url).collect().toSeq
    val second = Jobs.dailyMetricsTick(spark, sf, url).collect().toSeq
    assert(first.nonEmpty && first == second, "re-firing the tick must not change the store")
    val batch = FraudAnalytics.dailyMetrics.fn(spark, sf).collect().toSeq
    assert(first.map(_.getAs[java.sql.Date]("day")) == batch.map(_.getAs[java.sql.Date]("day")))
  }

  test("data-quality tick reports all checks ok on the driver corpus") {
    val report = Jobs.dataQualityTick(spark, sf).collect()
    assert(report.map(_.getString(0)).toSeq ==
      Seq("freshness_15m", "null_ids", "rate_bound_1h"))
    assert(report.forall(_.getBoolean(2)), report.mkString("; "))
  }

  test("trailing-window panels and the DQ tick on an empty events table (NULL anchor)") {
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-events-").toString
    spark.read.parquet(s"$sf/events.parquet").limit(0).write.parquet(s"$dir/events.parquet")
    def rows(name: String) = SparkEntry.queries(name)(spark, dir).collect().toSeq
    assert(rows("fraud_hourly_stats") == Seq(Row(0.0, 0.0, 0L)))
    assert(rows("fraud_rate_bound_1h") == Seq(Row(0.0, true)))
    assert(rows("fraud_freshness_15m") == Seq(Row(0L, false)))
    assert(Jobs.dataQualityTick(spark, dir).collect().toSeq == Seq(
      Row("freshness_15m", 0.0, false),
      Row("null_ids", 0.0, true),
      Row("rate_bound_1h", 0.0, true)))
  }

  test("processing-time schedule maintains the jdbc store until stopped") {
    val url = JdbcMetricsSink.derbyUrl()
    val q = Jobs.scheduleDailyMetrics(spark, sf, url, every = "1 second")
    try {
      // AvailableNow semantics don't apply here: wait for the first
      // processing-time batch to commit, then verify the store.
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.forall(_.numInputRows == 0) && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally q.stop()
    val days = spark.read.jdbc(url, JdbcMetricsSink.Table, new java.util.Properties).count()
    assert(days > 0, "schedule never committed a batch into the store")
  }
}
