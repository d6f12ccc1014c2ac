package graft.streaming

import graft.Q
import graft.SessionCaches.pinned
import graft.queries.Kmeans
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup OPERATED CONTINUOUSLY — incremental semantic dedup the
  * way a serving ingest runs it: vectors arrive in micro-batches,
  * assign to the session's trained centroids (re-resolved per batch,
  * the M8 hot-reload discipline [[ScoringStream]] proves against the
  * registry; training itself is the offline job, exactly a
  * production embedding-dedup deployment), and an arriving vector is
  * dropped iff ANY earlier vector in its cluster — prior batches or
  * earlier in this batch — sits above the cosine threshold.
  *
  * `sim_semdedup`'s keep-first rule IS prefix semantics (removal
  * depends only on LOWER-id cluster-mates, removed or not), so for
  * ingest-ordered arrivals the streamed verdicts equal the batch
  * query exactly at any slicing — the batch oracle is shared
  * verbatim and StreamingSpec pins 2/4-slice parity.
  *
  * Cross-batch state is the accepted-member frame (vec_id, cluster,
  * vector) in a [[FrameStore]] with batch-id provenance — replays
  * recover pre-batch state by filtering their own stamp, the same
  * at-least-once story as every twin. ALL arriving vectors append
  * (the rule tests against earlier vectors regardless of their own
  * verdict). The per-batch join is blocked on the cluster id —
  * batch × state bounded by the largest cluster, never corpus². */
object StreamingSemDedup {

  val MembersName = "sem_members"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       store: FrameStore, dir: String,
                       schema: org.apache.spark.sql.types.StructType)

  def prepare(spark: SparkSession, dir: String): Env = {
    val scratch = Scratch.dir("graft-semdedup-").toString
    val emb = Tables.embeddings(spark, dir)
    val store = new FrameStore(s"$scratch/store")
    store.publish(spark, MembersName,
      Kmeans.vecs(emb).filter(lit(false))
        .select(col("vec_id"), col("v"), lit(0L).as("cluster"))
        .withColumn("batch_id", lit(-1L)))
    Env(s"$scratch/in", s"$scratch/verdicts", s"$scratch/ckpt", store, dir, emb.schema)
  }

  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = pinned { pins =>
    val bs = batch.sparkSession
    graft.functions.GraftFunctions.register(bs)
    // per-batch centroid re-resolve (memoized per session = the
    // production pointer staying on one version)
    val cents = Kmeans.trained(bs, env.dir)
    val arrived = pins.persist(Kmeans.assign(Kmeans.vecs(batch), cents))
    val base = env.store.production(bs, MembersName)
      .filter(col("batch_id") =!= batchId)
      .select(col("vec_id"), col("v"), col("cluster"))
    val earlier = base.union(arrived.select(col("vec_id"), col("v"), col("cluster")))
      .select(col("cluster").as("ck"), col("vec_id").as("m_id"), col("v").as("mv"))
    val dup = arrived.select(col("cluster").as("ck"), col("vec_id"), col("v"))
      .join(earlier, Seq("ck"))
      .filter(col("m_id") < col("vec_id") &&
        round(call_function("graft_cosine", col("mv"), col("v")), 6) >= Kmeans.Tau)
      .select(col("vec_id")).distinct().withColumn("d", lit(true))
    arrived.select(col("vec_id"), col("cluster"))
      .join(dup, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), !coalesce(col("d"), lit(false)))
      .toDF("vec_id", "cluster", "is_kept")
      .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
    env.store.appendBatch(bs, MembersName,
      arrived.select(col("vec_id"), col("v"), col("cluster"))
        .withColumn("batch_id", lit(batchId)),
      batchId = Some(batchId), streamId = Some(env.ckpt))
    ()
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeEmbeddings(batch), batchId, env))

  def runSemDedupStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val env = prepare(spark, dir)
    StreamingCuration.landOrderedSlicesOf(
      Tables.embeddings(spark, dir), "vec_id", env.inDir, slices)
    runPass(spark, env)
    env.store.compact(spark, MembersName)
    env.store.gc(MembersName, keep = 1)
    spark.read.parquet(env.outDir).drop("batch").orderBy(col("vec_id"))
  }

  /** Streaming twin of `sim_semdedup` — same oracle. */
  val streamSemDedup: Q = Q("stream_semdedup",
    Kmeans.semDedup.oracle.get) { (s, dir) =>
    runSemDedupStream(s, dir)
  }

  val all: Seq[Q] = Seq(streamSemDedup)
}
