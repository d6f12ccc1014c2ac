package graft.streaming

import graft.Q
import graft.queries.{AnnCert, AnnIndexStore, PqAnn}
import graft.sources.{Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ANN SERVING path operated continuously — the query half of
  * the index lifecycle, next to [[StreamingAnnIndex]]'s build half:
  * query vectors arrive as a stream, and every micro-batch re-resolves
  * the PRODUCTION index pointer (the model registry's hot-reload move
  * applied to the ANN artifact — a promotion mid-stream serves later
  * batches from the new version, reference lifecycle
  * `services/fraud_service/app/main.py:73-97`) and answers top-k by
  * probe + ADC + exact refine against the promoted codes.
  *
  * Per-query scoring is STATELESS, so exactly-once is the file-source
  * checkpoint + per-batch deterministic sink dirs alone — no state
  * store, no replay normalization; a replayed batch recomputes
  * byte-identical answers against the same promoted version and
  * overwrites its own directory.
  *
  * The drained result is certified with the SAME oracle as
  * `sim_ann_ivfpq_cert`: recall-vs-exact-kNN over the streamed
  * answers must clear the identical bar — continuous serving cannot
  * cost retrieval quality, however arrivals are sliced.
  */
object StreamingAnnServe {

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       dir: String, store: AnnIndexStore,
                       schema: org.apache.spark.sql.types.StructType)

  /** `store` defaults to the session's shared promoted index; a
    * caller owning its OWN artifact (the mid-stream-forget spec
    * promotes new versions between passes) injects it here. The
    * serving stream only ever READS the production pointer. */
  def prepare(spark: SparkSession, dir: String,
              store: Option[AnnIndexStore] = None): Env = {
    val scratch = Scratch.dir("graft-annserve-").toString
    val emb = Tables.embeddings(spark, dir)
    Env(s"$scratch/in", s"$scratch/answers", s"$scratch/ckpt", dir,
      store.getOrElse(AnnIndexStore.forDir(spark, dir)), emb.schema)
  }

  /** Loaded index per (application, dir, version): the pointer is
    * re-resolved every batch (hot reload), but the KB-scale driver
    * constants and the codes scan only re-load when the VERSION
    * actually changed — what a serving process does between
    * promotions. */
  private val idxMemo = graft.SessionCaches.memo[PqAnn.PqIndex]

  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = {
    val bs = batch.sparkSession
    // hot reload: re-resolve the production version EVERY batch,
    // re-load only on a version change
    val v = env.store.productionVersion(AnnIndexStore.IndexName)
      .getOrElse(sys.error("no production ANN index"))
    val idx = idxMemo(bs, env.dir, env.store.root, v.toString)(
      env.store.load(bs, AnnIndexStore.IndexName, v))
    PqAnn.queryIndexFrom(
        batch.select(col("vec_id").as("q_id"), col("embedding")),
        Tables.embeddings(bs, env.dir), idx)
      .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeEmbeddings(batch), batchId, env))

  def streamedAnswers(spark: SparkSession, env: Env): DataFrame =
    spark.read.parquet(env.outDir).drop("batch")

  /** Full loop: land the certificate's 50 query vectors in `slices`
    * ordered arrivals, drain, certify the accumulated answers. */
  def runServeStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val env = prepare(spark, dir)
    StreamingCuration.landOrderedSlicesOf(
      Tables.embeddings(spark, dir).filter(col("vec_id") < AnnCert.NumQueries),
      "vec_id", env.inDir, slices)
    runPass(spark, env)
    AnnCert.certificate(Tables.embeddings(spark, dir),
      streamedAnswers(spark, env), 0.6, "060")
  }

  /** Streaming twin of the IVF-PQ serving certificate — same oracle
    * as `sim_ann_ivfpq_cert`. */
  val streamAnnQuery: Q = Q("stream_ann_query",
    AnnCert.certOracleSql("060")) { (s, dir) =>
    runServeStream(s, dir)
  }

  val all: Seq[Q] = Seq(streamAnnQuery)
}
