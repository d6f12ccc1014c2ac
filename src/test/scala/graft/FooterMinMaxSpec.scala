package graft

import java.nio.file.Files
import java.time.{Instant, LocalDateTime}

import scala.jdk.CollectionConverters._

import graft.plans.FooterMinMax
import graft.queries.FraudAnalytics
import graft.sources.Tables
import graft.streaming.Drain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[FooterMinMax]] answers `max`/`min` from parquet footers. Wherever
  * it fires it must return exactly the scan's answer (the session
  * without the rule gives the scan's); where the footers cannot answer, or the
  * plan is not one it may rewrite, the plan must stay as it was. */
class FooterMinMaxSpec extends SparkSpec {

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def table(): String = Files.createTempDirectory("graft-footer-").toString + "/t"

  private def write(dir: String, schema: StructType, rows: Seq[Row], opts: (String, String)*): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.options(opts.toMap).mode("append").parquet(dir)

  private def events(dir: String): DataFrame = Tables.normalizeTs(spark.read.parquet(dir))

  private def extrema(p: LogicalPlan): Seq[Aggregate] = p.collectWithSubqueries {
    case a: Aggregate if a.aggregateExpressions.exists(_.exists {
      case _: Max | _: Min => true
      case _               => false
    }) => a
  }

  /** `df`'s rows with the rule, and the scan's rows without it;
    * and whether the rule left a max/min aggregate in the plan. */
  private def onOff(df: => DataFrame): (Seq[Row], Seq[Row], Boolean) = {
    GraftSession.attach(spark)
    val on = df
    val rows = on.collect().toSeq
    (rows, withoutRules(graft.plans.FooterMinMax)(df.collect().toSeq),
      extrema(on.queryExecution.optimizedPlan).nonEmpty)
  }

  private def answered(df: => DataFrame): Seq[Row] = {
    val (on, off, scanned) = onOff(df)
    assert(!scanned, s"the rule did not fire:\n${df.queryExecution.optimizedPlan}")
    assert(on == off)
    on
  }

  private def scanned(df: => DataFrame): Seq[Row] = {
    val (on, off, scanned) = onOff(df)
    assert(scanned, s"the rule fired:\n${df.queryExecution.optimizedPlan}")
    assert(on == off)
    on
  }

  /** The rule, applied directly to `df`'s plan optimized without it,
    * returns that plan unchanged. */
  private def leftAlone(df: => DataFrame): Unit = {
    val p = withoutRules(graft.plans.FooterMinMax)(df.queryExecution.optimizedPlan)
    assert(extrema(p).nonEmpty, p)
    assert(FooterMinMax(p) == p, p)
  }

  private val ntzSchema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampNTZType)))
  private def ntzRows(from: Long, ts: String*): Seq[Row] =
    ts.zipWithIndex.map { case (t, i) => Row(from + i, LocalDateTime.parse(t)) }

  test("multi-file table: disjoint ranges, an all-null file and a zero-row file answer as the scan does") {
    val dir = table()
    write(dir, ntzSchema, ntzRows(0, "2024-01-01T00:00:00", "2024-01-03T12:00:00.000001"))
    write(dir, ntzSchema, ntzRows(10, "2024-02-01T00:00:00", "2024-02-01T00:40:00", "2024-02-01T01:30:00"))
    write(dir, ntzSchema, Seq(Row(20L, null), Row(21L, null)))
    write(dir, ntzSchema, Nil)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 4)

    val Seq(Row(hi: java.sql.Timestamp, lo: java.sql.Timestamp)) =
      answered(events(dir).agg(max("ts"), min("ts")))
    assert(hi.toInstant == Instant.parse("2024-02-01T01:30:00Z"))
    assert(lo.toInstant == Instant.parse("2024-01-01T00:00:00Z"))
    // the anchored windows, through the scalar subquery
    assert(answered(FraudAnalytics.trailing(events(dir), "1 HOUR").agg(count(lit(1))))
      == Seq(Row(2L)))
    assert(answered(FraudAnalytics.trailing(events(dir), "15 MINUTES").agg(count(lit(1))))
      == Seq(Row(1L)))
  }

  test("empty table: the anchor is NULL and every window is empty") {
    val dir = table()
    write(dir, ntzSchema, Nil)
    assert(answered(events(dir).agg(max("ts"))) == Seq(Row(null)))
    assert(answered(FraudAnalytics.trailing(events(dir), "1 HOUR").agg(count(lit(1))))
      == Seq(Row(0L)))
  }

  test("INT96 and stats-less files fall back to the scan") {
    val ltz = StructType(Seq(StructField("ts", TimestampType)))
    val rows = Seq(Row(java.sql.Timestamp.from(Instant.parse("2024-03-01T10:00:00Z"))),
      Row(java.sql.Timestamp.from(Instant.parse("2024-03-02T10:00:00Z"))))
    val int96 = table()
    withConf("spark.sql.parquet.outputTimestampType" -> "INT96")(write(int96, ltz, rows))
    assert(scanned(spark.read.parquet(int96).agg(max("ts"))) == Seq(rows.last))

    val noStats = table()
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      write(noStats, ltz, rows.take(1))
      write(noStats, ltz, rows.drop(1), "parquet.column.statistics.enabled" -> "false")
    }
    assert(scanned(spark.read.parquet(noStats).agg(max("ts"))) == Seq(rows.last))
  }

  test("nanos-as-long ts: timestamp_micros(ts div 1000) answers from the INT64 footers") {
    val dir = table()
    val nanos = Seq("2024-01-01T00:00:00.000001Z", "2024-01-05T07:30:00.5Z")
      .map(t => Instant.parse(t)).map(i => i.getEpochSecond * 1000000000L + i.getNano)
    write(dir, StructType(Seq(StructField("ts", LongType))), nanos.map(Row(_)))
    val ev = events(dir)
    assert(ev.queryExecution.analyzed.toString.contains("timestamp_micros"), ev.queryExecution.analyzed)
    val Seq(Row(hi: java.sql.Timestamp, lo: java.sql.Timestamp)) =
      answered(events(dir).agg(max("ts"), min("ts")))
    assert(hi.toInstant == Instant.parse("2024-01-05T07:30:00.5Z"))
    assert(lo.toInstant == Instant.parse("2024-01-01T00:00:00.000001Z"))
  }

  test("min(ts) answers from TIMESTAMP_MICROS footers") {
    val ltz = StructType(Seq(StructField("ts", TimestampType)))
    val dir = table()
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      write(dir, ltz, Seq(Row(java.sql.Timestamp.from(Instant.parse("2024-04-02T00:00:00.125Z")))))
      write(dir, ltz, Seq(Row(java.sql.Timestamp.from(Instant.parse("2024-04-01T23:59:59.875Z")))))
    }
    val Seq(Row(lo: java.sql.Timestamp)) = answered(spark.read.parquet(dir).agg(min("ts")))
    assert(lo.toInstant == Instant.parse("2024-04-01T23:59:59.875Z"))
  }

  test("a filtered scan is left to the scan") {
    val dir = table()
    write(dir, ntzSchema, ntzRows(0, "2024-01-01T00:00:00", "2024-01-02T00:00:00"))
    leftAlone(events(dir).filter(col("id") === 0L).agg(max("ts")))
    assert(scanned(events(dir).filter(col("id") === 0L).agg(max("ts")))
      == Seq(Row(java.sql.Timestamp.from(Instant.parse("2024-01-01T00:00:00Z")))))
  }

  test("an NTZ to LTZ cast under a DST time zone is left to the scan") {
    val dir = table()
    write(dir, ntzSchema, ntzRows(0, "2024-03-10T02:30:00", "2024-03-10T03:00:00"))
    withConf("spark.sql.session.timeZone" -> "America/New_York") {
      leftAlone(events(dir).agg(max("ts")))
      // 02:30 does not exist in New York that day: it maps past 03:00
      val Seq(Row(hi: java.sql.Timestamp)) = scanned(events(dir).agg(max("ts")))
      assert(hi.toInstant == Instant.parse("2024-03-10T07:30:00Z"))
    }
  }

  test("a micro-batch frame (LogicalRDD) is left to the scan") {
    val dir = table()
    write(dir, ntzSchema, ntzRows(0, "2024-01-01T00:00:00", "2024-01-02T00:00:00"))
    GraftSession.attach(spark)
    @volatile var seen = Option.empty[(LogicalPlan, Seq[Row])]
    Drain.files(spark, ntzSchema, dir, Files.createTempDirectory("graft-footer-ckpt-").toString) {
      (batch, _) =>
        val q = batch.agg(max("ts"))
        seen = Some((q.queryExecution.optimizedPlan, q.collect().toSeq))
    }
    val (p, rows) = seen.get
    assert(p.collectLeaves().exists(_.isInstanceOf[LogicalRDD]), p)
    assert(extrema(p).nonEmpty && FooterMinMax(p) == p, p)
    assert(rows == Seq(Row(LocalDateTime.parse("2024-01-02T00:00:00"))))
  }
}
