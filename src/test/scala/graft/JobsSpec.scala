package graft

import graft.jobs.Jobs
import graft.queries.FraudAnalytics
import graft.streaming.JdbcMetricsSink
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Pins the runnable scheduler surface: a tick must be idempotent
  * (the cron-refire contract) and store exactly the batch rollup, the
  * DQ report must pass on the driver corpus, and the engine-native
  * schedule must maintain the same store on a processing-time cadence
  * and resume from its checkpoint without replaying input. */
class JobsSpec extends SparkSpec {

  test("daily-metrics tick is idempotent and matches the batch rollup") {
    val url = JdbcMetricsSink.derbyUrl()
    val first  = Jobs.dailyMetricsTick(spark, sf, url).collect().toSeq
    val second = Jobs.dailyMetricsTick(spark, sf, url).collect().toSeq
    assert(first.nonEmpty && first == second, "re-firing the tick must not change the store")
    val batch = FraudAnalytics.dailyMetrics.fn(spark, sf).collect().toSeq
    assert(first.map(_.toSeq) == batch.map(_.toSeq), "the store must hold exactly the batch rollup")
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
    val ckpt = graft.sources.Scratch.dir("graft-sched-ckpt-").toString
    def store() = spark.read.jdbc(url, JdbcMetricsSink.Table, new java.util.Properties)
      .orderBy("day").collect().toSeq
    // AvailableNow semantics don't apply here: run the schedule on
    // `ckpt` until `done`, stop it, and return its progress.
    def schedule(done: StreamingQuery => Boolean): Seq[StreamingQueryProgress] = {
      val q = Jobs.scheduleDailyMetrics(spark, sf, url, every = "1 second", checkpoint = Some(ckpt))
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (!done(q) && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(200)
      } finally q.stop()
      q.exception.foreach(e => throw e)
      q.recentProgress.toSeq
    }
    val first = schedule(_.recentProgress.exists(_.numInputRows > 0))
    assert(first.exists(_.numInputRows > 0), "schedule never committed a batch into the store")
    val batch = FraudAnalytics.dailyMetrics.fn(spark, sf).collect().toSeq
    val stored = store()
    assert(stored.map(_.toSeq) == batch.map(_.toSeq), "the store must hold exactly the batch rollup")
    // a restart resumes after the committed offsets: no input is
    // replayed and the store is unchanged
    val restarted = schedule(_.recentProgress.nonEmpty)
    assert(restarted.nonEmpty && restarted.forall(_.numInputRows == 0),
      restarted.map(_.numInputRows).mkString("restart read input rows: ", ", ", ""))
    assert(store() == stored, "a restart on the same checkpoint must not change the store")
  }
}
