package graft.streaming

import graft.Q
import graft.SessionCaches.pinned
import graft.queries.Curation
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The epoch-mix ∘ sequence-pack composition OPERATED CONTINUOUSLY —
  * the last batch-only corpus-assembly step run as a stream: arriving
  * documents are replicated per the mix weights and packed into
  * 512-token sequences per source, with the per-source RUNNING TOKEN
  * OFFSET carried across micro-batches so two replicas landing in
  * different batches still pack at exactly the offsets the batch
  * `text_mix_pack` assigns.
  *
  * The cross-batch state is a per-(batch, source) token-total
  * artifact in a [[FrameStore]] — the same versioned, promoted,
  * provenance-stamped lifecycle as the curation fp/shingle indexes:
  *
  *  - batch B's base offset per source = Σ batch_tokens over rows
  *    with batch_id < B (an aggregate over one tiny row per batch ×
  *    source — per-SOURCE state, thousands of rows at web scale,
  *    never per-doc);
  *  - replay normalization is by PROVENANCE: a replayed batch filters
  *    its own batch_id stamp out of the artifact, recovering the
  *    exact pre-batch offsets, and the append itself is skipped via
  *    the batch watermark + stream identity
  *    ([[graft.sources.VersionedStore.lastAppliedBatch]]);
  *  - a killed stream resumes from the checkpoint + the promoted
  *    artifact alone, like [[StreamingDedup]] and
  *    [[StreamingCuration]].
  *
  * Because arrivals are processed in doc_id (ingest) order, the
  * concatenation of per-batch (doc_id, rep) windows IS the batch
  * query's global per-source order, so the streamed manifest is
  * EXACTLY the batch result no matter how the corpus is sliced —
  * pinned by StreamingSpec across three slicings and by sharing
  * `text_mix_pack`'s DuckDB oracle. Sequences spanning a batch
  * boundary merge in the final manifest aggregate over the entry
  * sink (one groupBy, same plan family as the batch query's).
  */
object StreamingMixPack {

  val OffsetsName = "mix_offsets"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       store: FrameStore,
                       schema: org.apache.spark.sql.types.StructType)

  def prepare(spark: SparkSession, dir: String): Env = {
    val scratch = Scratch.dir("graft-mixpack-").toString
    val docs = Tables.documents(spark, dir)
    val store = new FrameStore(s"$scratch/store")
    store.publish(spark, OffsetsName,
      docs.filter(lit(false)).select(col("source"))
        .withColumn("batch_tokens", lit(0L))
        .withColumn("batch_id", lit(-1L)))
    Env(s"$scratch/in", s"$scratch/entries", s"$scratch/ckpt", store, docs.schema)
  }

  /** One micro-batch: mix the batch, place every emitted (doc, rep)
    * at base-offset + within-batch running sum, land the entry rows
    * batchId-deterministically, and extend the per-source totals via
    * the atomic versioned append. IDEMPOTENT under at-least-once
    * replay — own rows filtered by provenance, append skipped by the
    * identity-checked watermark — so a crash between the entry write
    * and the append replays into the committed state either way. */
  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = pinned { pins =>
    val bs = batch.sparkSession
    val mixed = pins.persist(Curation.mixFrame(
        batch.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")))
      .select(col("source"), col("doc_id"), col("rep").cast("long").as("rep"),
        col("n_tokens")))
    val base = env.store.production(bs, OffsetsName)
      .filter(col("batch_id") =!= batchId)
      .groupBy(col("source")).agg(sum(col("batch_tokens")).as("base_off"))
    graft.queries.TextOps.sourcePrefixSum(mixed, col("n_tokens"),
        order = Seq(col("doc_id"), col("rep")))
      .withColumnRenamed("start_off", "in_batch_off")
      // per-SOURCE state is broadcast-bounded by construction (one row
      // per source), unlike per-user or per-doc frames
      .join(broadcast(base), Seq("source"), "left_outer")
      .select(col("source"), col("doc_id"), col("rep"), col("n_tokens"),
        (col("in_batch_off") + coalesce(col("base_off"), lit(0L))).as("start_off"))
      .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
    env.store.appendBatch(bs, OffsetsName,
      mixed.groupBy(col("source")).agg(sum(col("n_tokens")).as("batch_tokens"))
        .withColumn("batch_id", lit(batchId)),
      batchId = Some(batchId), streamId = Some(env.ckpt))
    ()
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeDocuments(batch), batchId, env))

  /** The packed-sequence manifest over everything streamed so far —
    * the batch query's aggregate over the accumulated entry rows. */
  def manifest(spark: SparkSession, env: Env): DataFrame =
    spark.read.parquet(env.outDir).drop("batch")
      .groupBy(col("source"), floor(col("start_off") / 512).as("seq_id"))
      .agg(count(lit(1)).as("n_entries"), countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("seq_id"))

  /** Full loop: prepare, land the corpus in `slices` ordered
    * arrivals, drain, aggregate the manifest. */
  def runMixPackStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val env = prepare(spark, dir)
    StreamingCuration.landOrderedSlices(spark, env.inDir, dir, slices)
    runPass(spark, env)
    env.store.compact(spark, OffsetsName)
    env.store.gc(OffsetsName, keep = 1)
    manifest(spark, env)
  }

  /** Streaming twin of `text_mix_pack` — same oracle: the
    * continuously-assembled training corpus must pack exactly the
    * sequences the batch pipeline packs. */
  val streamMixPack: Q = Q("stream_mix_pack",
    Curation.mixPack.oracle.get) { (s, dir) =>
    runMixPackStream(s, dir)
  }

  val all: Seq[Q] = Seq(streamMixPack)
}
