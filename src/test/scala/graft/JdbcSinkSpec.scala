package graft

import java.sql.Date

import graft.streaming.JdbcMetricsSink

/** Pins the JDBC upsert sink (A2 against an actual SQL store,
  * embedded Derby): the MERGE body must behave exactly like the
  * reference's `INSERT … ON CONFLICT (day) DO UPDATE` — overlapping
  * keys update in place, new keys insert. Its writers' idempotence
  * and batch equality are pinned in JobsSpec. */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  test("merge body updates matched days and inserts new ones (ON CONFLICT semantics)") {
    val url = JdbcMetricsSink.derbyUrl()
    val cols = Seq("day", "num_predictions", "fraud_rate", "avg_amount", "avg_proba")
    JdbcMetricsSink.upsertDailyMetrics(
      Seq((Date.valueOf("2024-01-01"), 10L, 0.1, 100.0, 0.2)).toDF(cols: _*), url)
    JdbcMetricsSink.upsertDailyMetrics(
      Seq((Date.valueOf("2024-01-01"), 25L, 0.2, 150.0, 0.3),
          (Date.valueOf("2024-01-02"), 5L, 0.0, 50.0, 0.1)).toDF(cols: _*), url)
    val rows = spark.read.jdbc(url, JdbcMetricsSink.Table, new java.util.Properties)
      .orderBy("day")
      .as[(Date, Long, Double, Double, Double)].collect().toSeq
    assert(rows == Seq(
      (Date.valueOf("2024-01-01"), 25L, 0.2, 150.0, 0.3),   // updated, not duplicated
      (Date.valueOf("2024-01-02"), 5L, 0.0, 50.0, 0.1)))    // inserted
  }
}
