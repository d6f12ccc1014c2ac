package graft.streaming

import java.nio.file.{Files, Paths}

import graft.Q
import graft.queries.{AnnCert, AnnIndexStore, PqAnn}
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The ANN index operated as a CONTINUOUSLY-FED artifact — the
  * streaming twin of `sim_ann_index_append`: vectors arrive as a
  * stream, and every micro-batch is encoded with the PRODUCTION
  * constants (no retraining) and published through the store's
  * atomic hardlink-append ([[graft.queries.AnnIndexStore.appendBatch]]).
  * This is the reference's real-time shape applied to the index
  * artifact (`services/fraud_service/app/main.py:73-97` hot-reloads
  * the Production pointer): a search service keeps answering from
  * the promoted version while arrivals land, and each promotion is
  * one atomic pointer flip.
  *
  * Because encoding is deterministic in the constants and append is
  * a union, the drained index is BIT-IDENTICAL to a one-shot encode
  * of the full corpus NO MATTER how arrivals are sliced into
  * micro-batches — certified by the shared append certificate and
  * pinned across slicings (and across a kill/resume boundary) in
  * StreamingSpec. All state lives in the store + the checkpoint, so
  * a restarted stream resumes without re-appending processed files.
  */
object StreamingAnnIndex {

  final case class Env(inDir: String, ckpt: String, store: AnnIndexStore,
                       schema: org.apache.spark.sql.types.StructType)

  /** Fresh stream world: a store seeded with the promoted BASE index
    * (trained on the 80% slice), empty arrival dir + checkpoint. */
  def prepare(spark: SparkSession, dir: String): Env = {
    val tmp = Files.createTempDirectory("graft-stream-ann-").toString
    Env(s"$tmp/in", s"$tmp/ckpt",
      AnnIndexStore.seededBaseStore(spark, dir, "graft_stream_ann_store_"),
      Tables.embeddings(spark, dir).schema)
  }

  /** Land the held-out 20% (`vec_id % 5 = 4`) as `slices` arrival
    * files, one per future micro-batch. */
  def addArrivals(spark: SparkSession, env: Env, dir: String, slices: Int): Unit =
    Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 4)
      .repartition(slices).write.mode("append").parquet(env.inDir)

  /** One `AvailableNow` pass over the arrival files, resuming from
    * the checkpoint — already-processed files are skipped, so a
    * killed stream restarts without double-appending. Mid-batch
    * failure is covered too: the append is stamped with the
    * foreachBatch batchId, and an at-least-once replay whose append
    * already committed is skipped via the store's batch watermark —
    * a replay can never encode a vector twice. */
  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt) { (batch, batchId) =>
      // the store re-resolves PRODUCTION per batch (hot reload);
      // each append re-encodes ONLY the batch with the promoted
      // constants and flips the pointer atomically
      env.store.appendBatch(batch.sparkSession,
        AnnIndexStore.BaseIndexName, batch,
        batchId = Some(batchId), streamId = Some(env.ckpt))
      ()
    }

  /** Full loop: seed, land arrivals, drain, then run the
    * MAINTENANCE half of the lifecycle — compact the fragmented
    * codes (one file per list again) and gc superseded versions.
    * The certificate runs against the compacted production, so the
    * oracle gate covers append AND compaction soundness. */
  def runAppendStream(spark: SparkSession, dir: String, slices: Int = 3): AnnIndexStore = {
    val env = prepare(spark, dir)
    addArrivals(spark, env, dir, slices)
    runPass(spark, env)
    env.store.compact(spark, AnnIndexStore.BaseIndexName)
    env.store.gc(AnnIndexStore.BaseIndexName, keep = 1)
    env.store
  }

  /** Streaming twin of `sim_ann_index_append` — same oracle: the
    * continuously-fed index must answer exactly like a one-shot
    * build. */
  val streamAppendCert: Q = Q("stream_ann_index_append",
    s"""SELECT c.*, (SELECT COUNT(*) FROM embeddings) AS n_codes,
       |  TRUE AS append_equals_oneshot, TRUE AS one_code_per_vector
       |FROM (${AnnCert.certOracleSql("060")}) c""".stripMargin) { (s, dir) =>
    val store = memoStore(s, dir)
    val idx = store.production(s, AnnIndexStore.BaseIndexName)
    AnnIndexStore.appendCertFrame(s, dir, idx)
  }

  /** One drained stream per (application, sf dir) — bench reps reuse
    * the artifact rather than re-running the stream. */
  private val memo = graft.SessionCaches.memo[AnnIndexStore]

  private def memoStore(s: SparkSession, dir: String): AnnIndexStore =
    memo(s, dir) {
      runAppendStream(s, dir)
    }

  val all: Seq[Q] = Seq(streamAppendCert)
}
