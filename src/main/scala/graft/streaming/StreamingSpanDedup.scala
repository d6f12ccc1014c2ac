package graft.streaming

import graft.Q
import graft.SessionCaches.pinned
import graft.queries.TextOps
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ExactSubstr span filter OPERATED CONTINUOUSLY — the prefix
  * semantics of `text_dedup_spans_prefix` decided at arrival: a
  * window in an arriving doc is duplicated iff the documents seen SO
  * FAR (strictly earlier docs, plus in-batch docs up to this one)
  * already carry its fingerprint — the second and later carriers
  * lose the covered span, the first keeps it, never retracted.
  *
  * Same cross-batch state discipline as [[StreamingLineDedup]]: a
  * per-(fp, batch) distinct-doc-count artifact in a [[FrameStore]];
  * batch B's base count per window = Σ n_docs over stamps ≠ B, the
  * in-batch prefix rank comes from one window over the same fp
  * partitioning, and base + rank reproduces the batch query's global
  * prefix rank for ingest-ordered arrivals — streamed reports are
  * EXACTLY the batch result for any slicing (StreamingSpec), and the
  * batch oracle is shared verbatim.
  */
object StreamingSpanDedup {

  val CountsName = "span_counts"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       store: FrameStore,
                       schema: org.apache.spark.sql.types.StructType)

  def prepare(spark: SparkSession, dir: String): Env = {
    val scratch = Scratch.dir("graft-spandedup-").toString
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
    val starts = pins.persist(TextOps.spanStarts(batch))
    val firsts = starts.select(col("fp"), col("doc_id")).distinct()
    val base = env.store.production(bs, CountsName)
      .filter(col("batch_id") =!= batchId)
      .groupBy(col("fp")).agg(sum(col("n_docs")).as("base_n"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    // no broadcast hint: the window-count state grows with the corpus
    val dup = firsts.withColumn("k", row_number().over(w))
      .join(base, Seq("fp"), "left_outer")
      .filter(col("k") + coalesce(col("base_n"), lit(0L)) >= 2)
      .select(col("fp"), col("doc_id"))
    TextOps.spanReport(batch, starts.join(dup, Seq("fp", "doc_id")))
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

  def runSpanDedupStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val env = prepare(spark, dir)
    StreamingCuration.landOrderedSlices(spark, env.inDir, dir, slices)
    runPass(spark, env)
    StreamingCuration.snapshotCounts(spark, env.store, CountsName, env.ckpt)
    env.store.gc(CountsName, keep = 1)
    spark.read.parquet(env.outDir).drop("batch").orderBy(col("doc_id"))
  }

  /** Streaming twin of `text_dedup_spans_prefix` — same oracle. */
  val streamDedupSpans: Q = Q("stream_dedup_spans",
    TextOps.dedupSpansPrefix.oracle.get) { (s, dir) =>
    runSpanDedupStream(s, dir)
  }

  val all: Seq[Q] = Seq(streamDedupSpans)
}
