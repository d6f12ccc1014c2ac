package graft.streaming

import graft.Q
import graft.queries.Kmeans
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One Lloyd update accumulated FROM A STREAM — the MLlib
  * StreamingKMeans pattern: vectors arrive in micro-batches, assign
  * to the production codebook (here the deterministic seed
  * centroids, the offline artifact), and each batch appends its
  * per-(cluster, dim) DECIMAL partial sums + member counts to a
  * [[FrameStore]]. The final update is one merge of the partials.
  *
  * The exactness story is the point: decimal partial sums are
  * ASSOCIATIVE and exact, so any slicing of the arrivals merges to
  * bit-identical cluster sums — the streamed update equals the
  * batch round-1 update exactly (StreamingSpec pins 2/4-slice
  * parity), and the DuckDB oracle replays assignment + sums from
  * the raw table. This is the mergeable-state contract every
  * distributed accumulator (sketches, counters, this codebook
  * update) rides at 100 TB: partials commute, merge is cheap,
  * nothing depends on arrival order. Replays are provenance-safe
  * the same way as every twin (batch-stamped rows, identity-checked
  * append watermark). */
object StreamingKmeansUpdate {

  val PartialsName = "kmeans_partials"

  final case class Env(inDir: String, ckpt: String, store: FrameStore,
                       cents: Array[Array[Double]],
                       schema: org.apache.spark.sql.types.StructType)

  def prepare(spark: SparkSession, dir: String): Env = {
    val scratch = Scratch.dir("graft-kmupdate-").toString
    val emb = Tables.embeddings(spark, dir)
    // the production codebook: the deterministic seeds, resolved
    // offline exactly as the oracle derives them (vec_id < K)
    val cents = Kmeans.seeds(Kmeans.vecs(emb))
    val store = new FrameStore(s"$scratch/store")
    store.publish(spark, PartialsName,
      spark.range(0).select(col("id").cast("int").as("k"),
        col("id").cast("int").as("d"),
        col("id").cast("decimal(38,6)").as("sd"),
        col("id").as("cnt"),
        col("id").as("batch_id")))
    Env(s"$scratch/in", s"$scratch/ckpt", store, cents, emb.schema)
  }

  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = {
    val bs = batch.sparkSession
    graft.functions.GraftFunctions.register(bs)
    val assigned = Kmeans.assign(Kmeans.vecs(batch), env.cents)
    val partials = assigned
      .select(col("cluster").cast("int").as("k"), posexplode(col("v")).as(Seq("d", "val")))
      .groupBy(col("k"), col("d"))
      .agg(sum(col("val").cast("decimal(28,6)")).cast("decimal(38,6)").as("sd"),
        count(lit(1)).as("cnt"))
      .withColumn("batch_id", lit(batchId))
    env.store.appendBatch(bs, PartialsName, partials,
      batchId = Some(batchId), streamId = Some(env.ckpt))
    ()
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeEmbeddings(batch), batchId, env))

  /** Merge the accumulated partials into the per-cluster update
    * report `(k, n_vecs, update_sum)` — every seed cluster reported,
    * empty ones as (0, 0.0). */
  def updateReport(spark: SparkSession, env: Env): DataFrame = {
    val merged = env.store.production(spark, PartialsName)
      .groupBy(col("k"), col("d"))
      .agg(sum(col("sd")).as("sd"), sum(col("cnt")).as("cnt"))
    val perK = merged.groupBy(col("k"))
      .agg(round(sum(col("sd")).cast("double"), 6).as("update_sum"),
        max(col("cnt")).as("n_vecs"))
    import spark.implicits._
    val allK = env.cents.indices.map(_.toLong).toDF("k")
    allK.join(perK.select(col("k").cast("long").as("k"), col("n_vecs"), col("update_sum")),
        Seq("k"), "left_outer")
      .select(col("k"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("update_sum"), lit(0.0)).as("update_sum"))
      .orderBy(col("k"))
  }

  def runUpdateStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val env = prepare(spark, dir)
    StreamingCuration.landOrderedSlicesOf(
      Tables.embeddings(spark, dir), "vec_id", env.inDir, slices)
    runPass(spark, env)
    env.store.compact(spark, PartialsName)
    env.store.gc(PartialsName, keep = 1)
    updateReport(spark, env)
  }

  /** Streamed Lloyd update vs the raw-table oracle: assignment under
    * the seed codebook + exact decimal member sums. */
  val streamKmeansUpdate: Q = Q("stream_kmeans_update",
    s"""WITH dims AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
      |               CAST(unnest(embedding) AS DOUBLE) AS val
      |             FROM embeddings),
      |c0 AS (SELECT vec_id AS k, d, val FROM dims WHERE vec_id < ${Kmeans.K}),
      |s1 AS (SELECT v.vec_id, c.k,
      |         ROUND(SUM(v.val * c.val) / (SQRT(SUM(v.val * v.val)) * SQRT(SUM(c.val * c.val))), 6) AS cos
      |       FROM dims v JOIN c0 c USING (d) GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, k FROM
      |         (SELECT s1.*, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, k) AS rn FROM s1)
      |       WHERE rn = 1),
      |m AS (SELECT a.k, SUM(CAST(v.val AS DECIMAL(28,6))) AS t, COUNT(DISTINCT a.vec_id) AS n
      |      FROM dims v JOIN a1 a USING (vec_id) GROUP BY 1)
      |SELECT CAST(ks.k AS BIGINT) AS k, COALESCE(m.n, 0) AS n_vecs,
      |  ROUND(CAST(COALESCE(m.t, 0) AS DOUBLE), 6) AS update_sum
      |FROM (SELECT DISTINCT k FROM c0) ks LEFT JOIN m USING (k)
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    runUpdateStream(s, dir)
  }

  val all: Seq[Q] = Seq(streamKmeansUpdate)
}
