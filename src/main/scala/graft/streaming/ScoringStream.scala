package graft.streaming

import java.nio.file.Files

import graft.{GraftSession, Q}
import graft.queries.FraudAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The real-time surface (SURVEY.md §2.10, §3.1): the same scoring
  * `select` the batch queries use, wrapped in Structured Streaming.
  *
  * Reference pipeline: Kafka consumer thread → per-record JSON parse
  * → score → per-row INSERT (`services/fraud_service/app/main.py:
  * 202-254`). Spark shape: `readStream` → `from_json`/scoring
  * projection (one stateless WholeStageCodegen map stage, no
  * shuffle) → sink. At scale the source partitions (Kafka partitions
  * / files) are the parallelism unit; there is no other boundary.
  *
  * The driver testdata is files, so these run the file source with
  * `AvailableNow` semantics ([[Drain]], bounded backfill); the
  * same plans bind to a Kafka source unchanged (S1/S2: subscribe +
  * `from_json(value)`).
  *
  * Delivery: file source + parquet sink is exactly-once via the
  * checkpoint + file-commit log (an upgrade over the reference's
  * at-least-once auto-commit consumer, T1).
  */
object ScoringStream {

  /** events.parquet schema AS STORED, probed from the batch reader at
    * stream-build time: the file source requires a user-supplied
    * schema, the stored physical types have drifted across testdata
    * generations (ts: int64 nanos → TIMESTAMP(MICROS)/NTZ), and a
    * LongType/TimestampNTZ mismatch against the footer silently
    * reinterprets the raw int64 — so never hardcode it. */
  def eventsFileSchema(spark: SparkSession, dir: String): StructType =
    spark.read.parquet(s"$dir/events.parquet").schema

  /** Unbounded raw event stream over a directory of events parquet,
    * normalized to the declared engine schema (same handling as the
    * batch [[graft.sources.Tables.events]]). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.normalizeEvents(
      spark.readStream
        .schema(eventsFileSchema(spark, dir))
        .option("pathGlobFilter", "events.parquet") // the sf dir holds all tables
        .parquet(dir))

  /** Unbounded scored stream over a directory of events parquet. */
  def scoredStream(spark: SparkSession, dir: String): DataFrame =
    FraudAnalytics.scored(eventsStream(spark, dir))

  /** Run the scoring stream to completion (bounded input), landing
    * scored rows in `outDir` as parquet; returns the result re-read.
    * This is the streaming twin of `fraud_scored_events` and shares
    * its DuckDB oracle. */
  def runScoredBackfill(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    Drain.run(scoredStream(spark, dir)
      .select(
        col("event_id"), col("value").as("amount"), col("k"),
        col("hr").as("hour"), col("night"),
        round(col("proba"), 6).as("proba"), col("prediction"),
        col("heuristic_proba"))
      .writeStream
      .format("parquet")
      .option("path", outDir), ckpt)
    spark.read.parquet(outDir).orderBy(col("event_id"))
  }

  /** Streaming daily-metrics: event-time window aggregation with a
    * 1-hour watermark (T3 upgrade over the reference's hourly batch
    * recompute). Update-mode rows land via foreachBatch into an
    * in-memory store keyed by day — the A2 upsert (`ON CONFLICT
    * (day) DO UPDATE`, compute-daily-metrics.py:21-35). On a real
    * deployment the same foreachBatch body is a JDBC merge
    * ([[JdbcMetricsSink]]) or a `replaceWhere` partition overwrite. */
  def runDailyMetricsStream(spark: SparkSession, dir: String): DataFrame = {
    val store = Files.createTempDirectory("graft-daily-store-").toString
    drainDailyMetrics(spark, dir) { batch =>
      // Keyed upsert as dynamic partition overwrite: each updated
      // `day` replaces exactly its own partition — the scalable
      // analog of `INSERT .. ON CONFLICT (day) DO UPDATE`. The
      // update set is one row per touched day (~30 here; bounded by
      // days-per-batch at any scale), so collapse to one write task
      // instead of fanning 30 rows across every core.
      batch.coalesce(1).write.mode("overwrite").partitionBy("day")
        .option("partitionOverwriteMode", "dynamic").parquet(store)
    }
    roundedDailyMetrics(spark.read.parquet(store)).orderBy(col("day"))
  }

  /** The streaming daily-metrics aggregate (event-time day window,
    * 1-hour watermark). */
  private[graft] def dailyMetricsAgg(spark: SparkSession, dir: String): DataFrame =
    scoredStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(
        count(lit(1)).as("num_predictions"),
        avg(col("prediction").cast("double")).as("fraud_rate"),
        avg(col("value")).as("avg_amount"),
        avg(col("proba")).as("avg_proba"))
      .select(to_date(col("win.start")).as("day"), col("num_predictions"),
        col("fraud_rate"), col("avg_amount"), col("avg_proba"))

  /** Drain [[dailyMetricsAgg]] over `dir` once on a fresh checkpoint,
    * handing each update-mode batch of days to `sink`. ~30 daily
    * groups: a handful of state-store partitions beats the session
    * default (one state store instance per shuffle partition, each with
    * checkpoint + commit overhead per batch). In UPDATE mode every
    * batch already emits its updated groups; the trailing no-data
    * micro-batch exists to advance the watermark for APPEND-mode
    * finalization/state eviction, which this bounded backfill never
    * needs — skip a whole state-store commit cycle. */
  private[graft] def drainDailyMetrics(spark: SparkSession, dir: String)(
      sink: DataFrame => Unit): Unit =
    GraftSession.scoped(spark,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") { s =>
      Drain.run(dailyMetricsAgg(s, dir).writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) => sink(batch) },
        Files.createTempDirectory("graft-daily-ckpt-").toString)
    }

  /** The daily-metrics columns with the ratios rounded to 6 places,
    * as both stores keep them. */
  private[graft] def roundedDailyMetrics(df: DataFrame): DataFrame =
    df.select(col("day"), col("num_predictions"),
      round(col("fraud_rate"), 6).as("fraud_rate"),
      round(col("avg_amount"), 6).as("avg_amount"),
      round(col("avg_proba"), 6).as("avg_proba"))

  /** The complete real-time scoring shape (M8 in streaming form):
    * event stream → model-feature projection → `foreachBatch` that
    * re-resolves the Production model from the registry on EVERY
    * micro-batch and appends scored rows. The reference's 60 s reload
    * thread (`main.py:183-189`) collapses to per-batch freshness at
    * the cost of one pointer read per batch: [[graft.ml.FraudModel.scoreBatch]]
    * runs `PipelineModel.load` once per (write-once) version and
    * serves later batches from its memoized closed form. Falls back to
    * the heuristic while the registry is empty (M9). */
  def runModelScoredStream(spark: SparkSession, dir: String, outDir: String,
                           registry: graft.ml.ModelRegistry,
                           modelName: String): DataFrame = {
    val ckpt = Files.createTempDirectory("graft-model-ckpt-").toString
    val features = scoredStream(spark, dir)
      .select(
        col("event_id"), col("ts"),
        col("value").as("amount"),
        lit(1.0).as("num_items"),
        (col("k") / lit(100.0)).as("merchant_risk"),
        col("hr").as("hour"))
    Drain.run(features.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // batch.sparkSession, not an outer capture: the sink closure
        // must stay serializable
        graft.ml.FraudModel
          .scoreBatch(batch.sparkSession, registry, modelName, batch)
          .write.mode("append").parquet(outDir)
        ()
      }, ckpt)
    spark.read.parquet(outDir)
  }

  /** G7 + S1: rate-limited synthetic transaction stream — the
    * reference's producer (`services/producer/app/producer.py:16-46`)
    * as a rate source feeding seeded generator expressions. The
    * payload shape matches FIXTURES.md B1; `to_json(struct(*))` on
    * this frame is exactly the Kafka value the reference emits. */
  def syntheticTransactionStream(spark: SparkSession, rowsPerSecond: Int = 2): DataFrame = {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    rate.select(
        expr("uuid()").as("transaction_id"),           // P11
        col("timestamp").as("event_time"),
        round(exp(randn(42) * 1.0 + 3.0), 2).as("amount0"), // G1
        rand(43).as("spike_p"), (rand(44) * 15.0 + 5.0).as("mult"), // G2
        greatest(lit(1), (randn(45) * 1.0 + 2.0).cast("int")).cast("double").as("num_items"), // G3
        rand(46).as("merchant_risk"))                  // G4
      .withColumn("amount",
        when(col("spike_p") < 0.05, round(col("amount0") * col("mult"), 2))
          .otherwise(col("amount0")))
      .withColumn("features", map(
        lit("num_items"), col("num_items"),
        lit("merchant_risk"), col("merchant_risk"),
        lit("hour"), hour(col("event_time")).cast("double"))) // G5
      .select(col("transaction_id"), col("event_time"), col("amount"), col("features"))
  }

  /** Stream-STATIC enrichment join (§2.10): each micro-batch of the
    * event stream joins a static per-user dimension computed once
    * from the warehouse — the planner re-resolves the static side per
    * batch (no state store, unlike stream-stream joins; the dim is
    * the build side every batch). This is the standard "enrich events
    * with reference data" shape: at 100 TB the stream partitions
    * scale out while the dim broadcasts ONLY under the
    * [[enrichDim]] size gate — the dim is per-USER state, growing
    * with the user base, so past the bound the per-batch join
    * degrades to a shuffle (or a bucketed storage join when the dim
    * is persisted). Flags events spending above the user's lifetime
    * average. */
  def runEnrichedStream(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.sources.Scratch.dir("graft-enrich-").toString
    val ckpt = s"$scratch/ckpt"
    val out  = s"$scratch/rows"
    val dim = graft.sources.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_events"), avg(col("value")).as("user_avg_value"))
    val enriched = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .join(enrichDim(dim), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("user_events"),
        col("user_avg_value"),
        (col("value") > col("user_avg_value")).as("above_user_avg"))
    Drain.run(enriched.writeStream.format("parquet").option("path", out), ckpt)
    spark.read.schema(enriched.schema).parquet(out)
      .select(col("event_id"), col("user_id"), col("value"),
        col("user_events"), round(col("user_avg_value"), 6).as("user_avg_value"),
        col("above_user_avg"))
      .orderBy(col("event_id"))
  }

  /** The enrichment dimension with a GATED broadcast hint: per-user
    * lifetime aggregates grow with the user base (unbounded at the
    * 100 TB design point), so a hard `broadcast(dim)` is wrong — the
    * hint applies only while the estimated size fits
    * [[graft.queries.TextOps.maybeBroadcast]]'s bound, degrading to a
    * shuffle join past it. ~40 B/row: 8-byte key, two 8-byte
    * aggregates, row overhead; the count is one aggregate over the
    * already-reduced dim, paid once per stream start. */
  private[graft] def enrichDim(dim: DataFrame, bytesPerRow: Long = 40L): DataFrame =
    graft.queries.TextOps.maybeBroadcast(dim, dim.count() * bytesPerRow)

  /** Streaming sessionization: the batch `fraud_sessionize`
    * `session_window(ts, 30 min)` aggregate run as an APPEND-mode
    * stream under a 1-hour watermark — a session row emits exactly
    * once, when the watermark passes its gap-extended end (merge
    * semantics live in the session state store, so two micro-batches
    * landing in the same gap window collapse to one row —
    * StreamingSpec pins cross-batch behavior). Sessions still open
    * inside the trailing watermark horizon are held in state when a
    * bounded run stops, so — same scheme as the left-outer
    * attribution join — the query replays the eventual watermark from
    * the bounded input as a 1-row broadcast anchor, with a 1-second
    * guard band, and applies the SAME horizon cut to its own output
    * and to the oracle: both sides keep exactly the provably-final
    * sessions. */
  def runSessionizeStream(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = Files.createTempDirectory("graft-sess-ckpt-").toString
    val out  = Files.createTempDirectory("graft-sess-out-").toString + "/sessions"
    val sessSchema = GraftSession.scoped(spark, "spark.sql.shuffle.partitions" -> "4") { s =>
      val sess = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      // no-data micro-batches stay ENABLED: the trailing batch advances
      // the watermark to its final value and flushes closed sessions.
      Drain.run(sess.writeStream
        .outputMode("append").format("parquet").option("path", out), ckpt)
      sess.schema
    }
    val horizon = graft.sources.Tables.events(spark, dir)
      .agg((max(col("ts"))
        - expr("INTERVAL 1 HOUR") - expr("INTERVAL 1 SECOND")).as("horizon"))
    spark.read.schema(sessSchema).parquet(out)
      .crossJoin(broadcast(horizon))
      .filter(col("session_end") + expr("INTERVAL 30 MINUTES") < col("horizon"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  // ---------------------------------------------------------------- queries
  /** Streaming scoring backfill — same oracle as fraud_scored_events. */
  val streamScored: Q = Q("stream_scored_events",
    FraudAnalytics.scoredEvents.oracle.get) { (s, dir) =>
    val out = Files.createTempDirectory("graft-stream-out-").toString + "/scored"
    runScoredBackfill(s, dir, out)
  }

  /** Streaming daily metrics — same oracle as fraud_daily_metrics. */
  val streamDaily: Q = Q("stream_daily_metrics",
    FraudAnalytics.dailyMetrics.oracle.get) { (s, dir) =>
    runDailyMetricsStream(s, dir)
  }

  /** Stream-static enrichment — oracle is the equivalent batch join. */
  val streamEnriched: Q = Q("stream_enriched_events",
    """WITH dim AS (
      |  SELECT user_id, COUNT(*) AS user_events, AVG(value) AS user_avg_value
      |  FROM events GROUP BY 1
      |)
      |SELECT e.event_id, e.user_id, e.value, d.user_events,
      |  ROUND(d.user_avg_value, 6) AS user_avg_value,
      |  e.value > d.user_avg_value AS above_user_avg
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    runEnrichedStream(s, dir)
  }

  /** Streaming sessionization — the batch sessionize oracle under the
    * replayed watermark-horizon cut (applied identically on both
    * sides; see [[runSessionizeStream]]). */
  val streamSessionize: Q = Q("stream_sessionize",
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
      |), sess AS (
      |  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |         COUNT(*) AS n_events
      |  FROM s GROUP BY user_id, sid
      |), w AS (
      |  SELECT max(ts) - INTERVAL 1 HOUR - INTERVAL 1 SECOND AS horizon
      |  FROM events
      |)
      |SELECT user_id, session_start, session_end, n_events
      |FROM sess, w
      |WHERE session_end + INTERVAL 30 MINUTE < horizon
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    runSessionizeStream(s, dir)
  }

  val all: Seq[Q] = Seq(streamScored, streamDaily, streamEnriched, streamSessionize)
}
