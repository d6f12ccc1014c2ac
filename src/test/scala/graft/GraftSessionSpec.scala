package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.streaming.{ClickAttribution, Drain, ScoringStream, StreamPools}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** `GraftSession` owns every session conf: the format confs are on a
  * session from the moment it is built, and [[GraftSession.scoped]]
  * runs get their confs on a child session, so the shared one — and
  * any query planning on it meanwhile — never sees them. */
class GraftSessionSpec extends SparkSpec {

  private val Shuffle = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  test("the format confs are on a session before any engine call") {
    val fresh = spark.newSession()
    assert(fresh.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("attach sets the format confs on a session built elsewhere") {
    val user = spark.newSession()
    user.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    user.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    GraftSession.attach(user)
    assert(user.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(user.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("a stream built on a scoped session runs with its confs; the parent keeps its own") {
    val before = spark.conf.get(Shuffle)
    val ckpt = Files.createTempDirectory("graft-scoped-ckpt-").toString
    GraftSession.scoped(spark, Shuffle -> "3") { s =>
      assert(s.conf.get(Shuffle) == "3" && spark.conf.get(Shuffle) == before)
      Drain.run(ScoringStream.eventsStream(s, sf).groupBy(col("user_id")).count()
        .writeStream.outputMode("update").format("noop"), ckpt)
    }
    val statePartitions = spark.read.format("statestore").load(ckpt)
      .select("partition_id").distinct().count()
    assert(statePartitions == 3)
    assert(spark.conf.get(Shuffle) == before)
  }

  test("a scoped body that throws leaves the parent's conf unchanged") {
    val before = spark.conf.get(Shuffle)
    val e = intercept[IllegalStateException] {
      GraftSession.scoped(spark, Shuffle -> "3") { s =>
        assert(s.conf.get(Shuffle) == "3")
        throw new IllegalStateException("scoped body failed")
      }
    }
    assert(e.getMessage == "scoped body failed")
    assert(spark.conf.get(Shuffle) == before)
  }

  test("two scoped drains run concurrently; the parent's confs never change meanwhile") {
    // a parent whose shuffle partitions differ from the drains' 4, so
    // a value borrowed by either drain would show in the samples
    val parent = spark.newSession()
    parent.conf.set(Shuffle, "7")
    val want = ("7", parent.conf.get(NoData))
    assert(want._2 == "true")

    val samples = new ConcurrentLinkedQueue[(String, String)]
    val draining = new AtomicBoolean(true)
    val sampler = new Thread(() =>
      while (draining.get) {
        samples.add(parent.conf.get(Shuffle) -> parent.conf.get(NoData))
        Thread.sleep(2)
      })
    // each drain's state stores must have its scoped 4 partitions, so
    // its stream was built on its child session, not on the parent
    val statePartitions = new ConcurrentLinkedQueue[Int]
    val stages = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.name.startsWith("StateStore"))
          .foreach(r => statePartitions.add(r.numPartitions))
    }
    val daily = new AtomicReference[Set[Row]]
    val attributed = new AtomicReference[Set[Row]]
    spark.sparkContext.addSparkListener(stages)
    sampler.start()
    try StreamPools.runAll(Seq(
      () => daily.set(ScoringStream.runDailyMetricsStream(parent, sf).collect().toSet),
      () => attributed.set(ClickAttribution.runAttribution(parent, sf).collect().toSet)))
    finally {
      draining.set(false)
      sampler.join(TimeUnit.MINUTES.toMillis(1))
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(stages)
    }
    assert(!samples.isEmpty)
    val off = samples.asScala.filterNot(_ == want).toSet
    assert(off.isEmpty, s"parent conf changed during the drains: $off")
    assert(!statePartitions.isEmpty && statePartitions.asScala.forall(_ == 4),
      s"state store partitions: ${statePartitions.asScala.mkString(", ")}")

    assert(daily.get == graft.queries.FraudAnalytics.dailyMetrics.fn(spark, sf).collect().toSet)
    val ev = graft.sources.Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("click_ts"))
    val batchAttributed = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .join(clicks, col("cu") === col("user_id") && col("click_ts") < col("ts") &&
        col("click_ts") >= col("ts") - expr("INTERVAL 30 MINUTES"))
      .groupBy(col("event_id"), col("user_id"), col("ts"))
      .agg(max_by(col("click_id"), struct(col("click_ts"), col("click_id"))).as("click_id"))
      .collect().toSet
    assert(batchAttributed.nonEmpty)
    assert(attributed.get == batchAttributed)
  }
}
