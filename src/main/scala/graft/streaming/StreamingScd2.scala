package graft.streaming

import graft.Q
import graft.SessionCaches.pinned
import graft.queries.FraudAnalytics
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SCD Type-2 dimension MAINTAINED INCREMENTALLY — the Delta
  * Live Tables / dbt-snapshot feature: events arrive in
  * micro-batches, each user's open dimension row extends or closes
  * at arrival, and closed rows are immutable history. SCD2 is
  * prefix semantics by construction (a version's boundaries depend
  * only on EARLIER events), so for event-time-ordered arrivals the
  * closed+open rows equal the batch `fraud_scd2_dimension` exactly
  * at any slicing — the batch oracle is shared verbatim and
  * StreamingSpec pins 2/4-slice parity.
  *
  * Cross-batch state is the open row per touched user (type,
  * valid_from, origin event_id, version) in a [[FrameStore]] with
  * batch provenance: a batch merges its arrivals with the current
  * open rows (the open row sorts first — ordered arrival guarantees
  * its valid_from precedes the batch), detects type changes with
  * the same (ts, event_id) window as the batch query, APPENDS the
  * rows it closes to the immutable history sink, and appends the
  * new open rows to state; the current open row per user is the
  * max-version row, and replays filter their own stamp. Appends
  * accumulate one delta row per touched user per batch, so the
  * watermark-preserving [[snapshotState]] periodically collapses
  * state back to ≤ 2 rows per user (current + the last batch's
  * replay anchor) — run here after the drain, every N batches in
  * production. */
object StreamingScd2 {

  val OpenName = "scd2_open"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       store: FrameStore,
                       schema: org.apache.spark.sql.types.StructType)

  def prepare(spark: SparkSession, dir: String): Env = {
    val scratch = Scratch.dir("graft-scd2-").toString
    val ev = Tables.events(spark, dir)
    val store = new FrameStore(s"$scratch/store")
    store.publish(spark, OpenName,
      ev.filter(lit(false)).select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("event_id").as("from_eid"))
        .withColumn("version", lit(0L))
        .withColumn("batch_id", lit(-1L)))
    Env(s"$scratch/in", s"$scratch/closed", s"$scratch/ckpt", store, ev.schema)
  }

  /** Current open row per user from the provenance-filtered state:
    * versions strictly increase, so max-version wins. */
  private def openRows(state: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("version").desc)
    state.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Replay-safe state snapshot: collapse the per-batch open-row
    * deltas, keeping per user the CURRENT row plus the newest row
    * NOT stamped by the last applied batch. The second row is the
    * replay anchor — an at-least-once retry of the last batch
    * filters its own stamp out, and pruning the row it superseded
    * would hand the retry a wrong (or missing) anchor and corrupt
    * the recomputed history. Bounded at ≤ 2 rows per user. */
  def snapshotState(spark: SparkSession, env: Env): Unit = {
    val lastB = env.store.lastAppliedBatch(OpenName, Some(env.ckpt)).getOrElse(-1L)
    env.store.rewrite(spark, OpenName) { df =>
      val cur = openRows(df)
      val anchor = openRows(df.filter(col("batch_id") =!= lastB))
      cur.union(anchor).distinct()
    }
    ()
  }

  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = pinned { pins =>
    val bs = batch.sparkSession
    val state = env.store.production(bs, OpenName)
      .filter(col("batch_id") =!= batchId)
    val anchors = openRows(state)
      .select(col("user_id"), col("event_type"), col("valid_from").as("ts"),
        col("from_eid").as("event_id"), lit(true).as("is_state"), col("version"))
    val arriving = batch
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        lit(false).as("is_state"), lit(0L).as("version"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val chg = pins.persist(anchors.union(arriving)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("is_state") || col("prev").isNull || col("event_type") =!= col("prev"))
      .withColumn("rn", row_number().over(w))
      .withColumn("base",
        max(when(col("is_state"), col("version") - 1)).over(
          Window.partitionBy(col("user_id"))))
      .withColumn("v", coalesce(col("base"), lit(0L)) + col("rn"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w)))
    chg.filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("v").as("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"))
      .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
    env.store.appendBatch(bs, OpenName,
      chg.filter(col("valid_to").isNull && !col("is_state"))
        .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
          col("event_id").as("from_eid"), col("v").as("version"))
        .withColumn("batch_id", lit(batchId)),
      batchId = Some(batchId), streamId = Some(env.ckpt))
    ()
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeEvents(batch), batchId, env))

  /** Immutable closed history + the final open rows = the full
    * dimension, identical to the batch build. */
  def dimension(spark: SparkSession, env: Env): DataFrame = {
    val open = openRows(env.store.production(spark, OpenName))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"),
        lit(null).cast("timestamp").as("valid_to"), lit(true).as("is_current"))
    // an all-empty-batch stream never writes a batch dir: the
    // dimension is then open rows only, not a read failure
    val closed =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(env.outDir)))
        spark.read.parquet(env.outDir).drop("batch")
          .withColumn("is_current", lit(false))
          .select(col("user_id"), col("version"), col("event_type"),
            col("valid_from"), col("valid_to"), col("is_current"))
      else open.filter(lit(false))
    closed.union(open)
      .orderBy(col("user_id"), col("version"))
  }

  def runScd2Stream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val env = prepare(spark, dir)
    StreamingCuration.landOrderedSlicesOf(
      Tables.events(spark, dir), "event_id", env.inDir, slices)
    runPass(spark, env)
    snapshotState(spark, env)
    env.store.gc(OpenName, keep = 1)
    dimension(spark, env)
  }

  /** Streaming twin of `fraud_scd2_dimension` — same oracle. */
  val streamScd2: Q = Q("stream_scd2",
    FraudAnalytics.scd2Dimension.oracle.get) { (s, dir) =>
    runScd2Stream(s, dir)
  }

  val all: Seq[Q] = Seq(streamScd2)
}
