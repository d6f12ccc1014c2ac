package graft.streaming

import graft.Q
import graft.SessionCaches.pinned
import graft.queries.TextOps
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The boilerplate line filter OPERATED CONTINUOUSLY — the prefix
  * semantics of `text_dedup_lines_prefix` is exactly what a streaming
  * ingest can decide: a line in an arriving doc is boilerplate iff
  * the documents seen SO FAR (strictly earlier docs, plus in-batch
  * docs up to this one) carry it in ≥ [[TextOps.LineMinDocs]]
  * distinct docs — decided at arrival, never retracted.
  *
  * Cross-batch state is a per-(fp, batch) distinct-doc-count artifact
  * in a [[FrameStore]] (the provenance-stamped lifecycle shared with
  * the curation indexes and the mix-pack offsets): batch B's base
  * count per line = Σ n_docs over stamps ≠ B, the in-batch prefix
  * rank comes from one window over the same fp partitioning, and the
  * sum reproduces the batch query's global prefix rank whenever
  * arrivals land in ingest order — so the streamed reports are
  * EXACTLY the batch result for any slicing, pinned in StreamingSpec
  * and by sharing the batch oracle verbatim.
  *
  * Replay safety: the decision read filters the batch's own stamp
  * out by provenance, and the count append rides the
  * identity-checked batch watermark — the same at-least-once story
  * as [[StreamingCuration]].
  */
object StreamingLineDedup {

  val CountsName = "line_counts"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       store: FrameStore,
                       schema: org.apache.spark.sql.types.StructType)

  def prepare(spark: SparkSession, dir: String): Env = {
    val scratch = Scratch.dir("graft-linededup-").toString
    val docs = Tables.documents(spark, dir)
    val store = new FrameStore(s"$scratch/store")
    store.publish(spark, CountsName,
      docs.filter(lit(false)).select(xxhash64(col("text")).as("fp"))
        .withColumn("n_docs", lit(0L))
        .withColumn("batch_id", lit(-1L)))
    Env(s"$scratch/in", s"$scratch/reports", s"$scratch/ckpt", store, docs.schema)
  }

  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = pinned { pins =>
    val bs = batch.sparkSession
    val segs = pins.persist(TextOps.lineSegments(batch).withColumn("fp", xxhash64(col("line"))))
    val firsts = segs.select(col("fp"), col("doc_id")).distinct()
    val base = env.store.production(bs, CountsName)
      .filter(col("batch_id") =!= batchId)
      .groupBy(col("fp")).agg(sum(col("n_docs")).as("base_n"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    // no broadcast hint: the line-count state grows with the corpus
    val rk = firsts.withColumn("k", row_number().over(w))
      .join(base, Seq("fp"), "left_outer")
      .withColumn("is_boiler",
        col("k") + coalesce(col("base_n"), lit(0L)) >= TextOps.LineMinDocs)
    TextOps.lineReport(
        segs.join(rk.select(col("fp"), col("doc_id"), col("is_boiler")),
          Seq("fp", "doc_id")))
      .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
    env.store.appendBatch(bs, CountsName,
      firsts.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
        .withColumn("batch_id", lit(batchId)),
      batchId = Some(batchId), streamId = Some(env.ckpt))
    ()
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeDocuments(batch), batchId, env))

  def streamedReports(spark: SparkSession, env: Env): DataFrame =
    spark.read.parquet(env.outDir).drop("batch").orderBy(col("doc_id"))

  def runLineDedupStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val env = prepare(spark, dir)
    StreamingCuration.landOrderedSlices(spark, env.inDir, dir, slices)
    runPass(spark, env)
    StreamingCuration.snapshotCounts(spark, env.store, CountsName, env.ckpt)
    env.store.gc(CountsName, keep = 1)
    streamedReports(spark, env)
  }

  /** Streaming twin of `text_dedup_lines_prefix` — same oracle. */
  val streamDedupLines: Q = Q("stream_dedup_lines",
    TextOps.dedupLinesPrefix.oracle.get) { (s, dir) =>
    runLineDedupStream(s, dir)
  }

  val all: Seq[Q] = Seq(streamDedupLines)
}
