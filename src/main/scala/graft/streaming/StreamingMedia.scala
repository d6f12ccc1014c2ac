package graft.streaming

import graft.Q
import graft.SessionCaches.pinned
import graft.multimodal.Multimodal
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The multimodal operators OPERATED CONTINUOUSLY.
  *
  * [[streamAudioDecode]] is a stateless per-record decode (each
  * clip's fields depend on that clip alone), so it rides
  * [[StreamingCuration.runStatelessTwin]]'s checkpoint+commit-log
  * exactly-once story and shares the batch oracle verbatim.
  *
  * [[streamImageDedup]] is STATEFUL: a near-dup pair `(d1 < d2)` is
  * emitted when its LATER member arrives, checked against every
  * image seen so far — the [[StreamingDedup]] incremental-index
  * discipline applied to the banded dHash index. Because the pair
  * list is an arrival-order-independent FACT (membership depends
  * only on the two hashes; the emit batch is the later member's),
  * the drained output equals the batch `mm_image_dedup` exactly for
  * ANY slicing, so the twin shares the batch oracle verbatim.
  * Cross-batch state is the banded hash index in a [[FrameStore]]
  * with batch provenance (replayed batches filter their own stamp —
  * the [[StreamingCuration]] normalization).
  */
object StreamingMedia {

  val BandIdx = "media_bands"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       store: FrameStore,
                       schema: org.apache.spark.sql.types.StructType,
                       hashBands: DataFrame => DataFrame) extends graft.Reapable {
    /** The whole stream world lives under the one scratch dir
      * [[prepare]] created — a MEMOIZED env (the forget certificate's)
      * must reap it on eviction per the [[graft.Reapable]] ownership
      * contract (the store is a field, so recursion alone would skip
      * it). */
    def reapRoots: Seq[String] =
      Seq(java.nio.file.Paths.get(outDir).getParent.toString)
  }

  /** Stream world for a banded-fingerprint dedup: `hashBands` maps a
    * documents frame to its `(doc_id, dh, band, bv)` band rows — the
    * image dHash and the audio frame-energy signature both fit the
    * contract, so the whole incremental machinery is shared. */
  def prepare(spark: SparkSession, dir: String,
              hashBands: DataFrame => DataFrame): Env = {
    val scratch = Scratch.dir("graft-mediadedup-").toString
    val docs = Tables.documents(spark, dir)
    val store = new FrameStore(s"$scratch/store")
    store.publish(spark, BandIdx,
      hashBands(docs.filter(lit(false))).withColumn("batch_id", lit(-1L)))
    Env(s"$scratch/in", s"$scratch/pairs", s"$scratch/ckpt", store, docs.schema,
      hashBands)
  }

  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = pinned { pins =>
    val bs = batch.sparkSession
    // one arrival file = one input split; the fingerprint pass is the
    // expensive per-row work, so spread it across the session's
    // shuffle width (the StreamingCuration.processBatch discipline)
    val bands = pins.persist(env.hashBands(
      batch.repartition(bs.sessionState.conf.numShufflePartitions)))
    val seen = env.store.production(bs, BandIdx)
      .filter(col("batch_id") =!= batchId)
    // earlier-seen side × this batch, BOTH orientations: ingest order
    // does not imply id order here (a planted twin's 1e6-offset id
    // lands before smaller later arrivals), so the pair's (d1, d2)
    // normalizes by least/greatest while the emit batch stays the
    // later ARRIVAL's — each unordered pair emitted exactly once.
    // No broadcast hint: the band index grows with the corpus.
    val vsIndex = seen.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.dh")).otherwise(col("b.dh")).as("dh1"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.dh")).otherwise(col("a.dh")).as("dh2"))
    val inBatch = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.dh").as("dh1"), col("b.dh").as("dh2"))
    Multimodal.hammingPairs(vsIndex.unionByName(inBatch).distinct())
      .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
    env.store.appendBatch(bs, BandIdx,
      bands.withColumn("batch_id", lit(batchId)),
      batchId = Some(batchId), streamId = Some(env.ckpt))
    ()
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeDocuments(batch), batchId, env))

  def runDedupStream(spark: SparkSession, dir: String,
                     hashBands: DataFrame => DataFrame, slices: Int): DataFrame = {
    val env = prepare(spark, dir, hashBands)
    StreamingCuration.landOrderedSlices(spark, env.inDir, dir, slices)
    runPass(spark, env)
    env.store.compact(spark, BandIdx)
    env.store.gc(BandIdx, keep = 1)
    spark.read.parquet(env.outDir).drop("batch")
      .orderBy(col("d1"), col("d2"))
  }

  // gate default 2 slices: slicing robustness is pinned separately in
  // MultimodalSpec (2/5 slices), so the per-round bench entry pays
  // index-vs-batch semantics once, not a third full fingerprint pass
  def runImageDedupStream(spark: SparkSession, dir: String, slices: Int = 2): DataFrame =
    runDedupStream(spark, dir,
      docs => Multimodal.imageBands(Multimodal.imageHashes(docs)), slices)

  def runAudioDedupStream(spark: SparkSession, dir: String, slices: Int = 2): DataFrame =
    runDedupStream(spark, dir,
      docs => Multimodal.audioBands(Multimodal.audioHashes(docs)), slices)

  def runVideoDedupStream(spark: SparkSession, dir: String, slices: Int = 2): DataFrame =
    runDedupStream(spark, dir,
      docs => Multimodal.imageBands(Multimodal.videoHashes(docs)), slices)

  /** Streaming twin of `mm_image_dedup` — same oracle. */
  val streamImageDedup: Q = Q("stream_image_dedup",
    Multimodal.imageDedup.oracle.get) { (s, dir) =>
    runImageDedupStream(s, dir)
  }

  // ------------------------------------------------------------ media forget
  /** Right-to-be-forgotten for the media fingerprint artifacts — the
    * GDPR takedown path the text postings / pack manifests / emitted
    * windows / ANN index already honor, applied to the band-posting
    * index this stream maintains and the pair-list release snapshot:
    * both are `deleteWhere` rewrites through the same
    * [[graft.sources.VersionedStore]] discipline (new version
    * registered atomically, promoted, old versions gc'd so the
    * withdrawal is durable on disk). `pred` must be CLOSED UNDER
    * DERIVED RECORDS — a takedown of doc X covers ids derived from X
    * (here the planted twin id X + 1e6).
    *
    * Unlike the pack/emit forget, NO propagation recompute is needed:
    * band postings are per-doc facts and a pair's membership depends
    * only on its two members' hashes, so dropping the forgotten ids'
    * rows IS the rebuild-from-scratch result — certified below. */
  def forgetMedia(spark: SparkSession, env: Env, pairsName: String,
                  forgotten: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
    env.store.rewrite(spark, BandIdx) { df => df.filter(!forgotten(col("doc_id"))) }
    env.store.rewrite(spark, pairsName) { df =>
      df.filter(!(forgotten(col("d1")) || forgotten(col("d2"))))
    }
    env.store.gc(BandIdx, keep = 0)
    env.store.gc(pairsName, keep = 0)
  }

  val PairsName = "media_pairs"

  /** The certificate's takedown set: every 20th doc — and, for
    * closure under derived records, its planted twin id (vacuously
    * empty here: twins derive only from doc_id % 10 = 0 originals,
    * and 1e6 ≡ 0 mod 20, so no twin id is ≡ 7 — but the clause is
    * what a production takedown must include). */
  private def takedown(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (id % 20 === 7) || ((id - graft.multimodal.Multimodal.TwinOffset) % 20 === 7)

  private val forgetMemo = graft.SessionCaches.memo[Env]

  /** ONE image-dedup stream ingested, its pair list snapshotted as a
    * release artifact IN THE SAME STORE, then the takedown applied —
    * memoized per (application, sf dir) so the certificate's two
    * bench reps pay the drain once (attributed by the
    * `cache_warm_media_forget` bench entry, the named-warm rule). */
  private[graft] def forgottenImageEnv(s: SparkSession, dir: String): Env =
    forgetMemo(s, dir) {
      val env = prepare(s, dir,
        docs => Multimodal.imageBands(Multimodal.imageHashes(docs)))
      StreamingCuration.landOrderedSlices(s, env.inDir, dir, 2)
      runPass(s, env)
      env.store.compact(s, BandIdx)
      env.store.publish(s, PairsName, s.read.parquet(env.outDir).drop("batch"))
      forgetMedia(s, env, PairsName, takedown)
      env
    }

  /** Media-forget certificate — `text_pack_forget`'s device on the
    * image fingerprint artifacts: after the takedown rewrite + gc,
    * the promoted band postings AND the promoted pair list must be
    * ROW-IDENTICAL to artifacts rebuilt from scratch on the reduced
    * media set — a forgotten image is indistinguishable from one
    * never ingested. Counts are oracle-recomputed through the full
    * decode → hash → band (→ pair) replay on both corpus states; the
    * equality booleans are TRUE in the oracle.
    *
    * The rebuild reuses the memoized full-corpus hash frame filtered
    * to the remaining ids — hashing is a per-doc deterministic fact,
    * so the filtered frame IS the reduced-corpus hash set (no second
    * decode pass; the equality claim is unweakened). Audio and video
    * ride the identical banded contract — [[forgetMedia]] is
    * modality-blind — pinned at spec scale in MultimodalSpec. */
  val mmDedupForget: Q = Q("mm_dedup_forget",
    s"""SELECT
       |  (SELECT c FROM ${Multimodal.imagePostingsCountSql("1 = 1")} t) AS n_postings_before,
       |  (SELECT c FROM ${Multimodal.imagePostingsCountSql("doc_id % 20 <> 7")} t) AS n_postings_after,
       |  (SELECT COUNT(*) FROM documents WHERE doc_id % 20 = 7) AS n_docs_forgotten,
       |  (SELECT c FROM ${Multimodal.imagePairsCountSql("doc_id % 20 <> 7")} t) AS n_pairs_after,
       |  TRUE AS postings_equal_rebuild,
       |  TRUE AS pairs_equal_rebuild""".stripMargin) { (s, dir) =>
    val env = forgottenImageEnv(s, dir)
    val postingsAfter = env.store.production(s, BandIdx)
    val pairsAfter = env.store.production(s, PairsName)
    val rebuiltBands = Multimodal.imageBands(
      Multimodal.imageHashesOf(s, dir).filter(!takedown(col("doc_id"))))
    val rebuiltPairs = Multimodal.hammingPairs(Multimodal.bandCandidates(rebuiltBands))
    val bandDiff = postingsAfter.as("a")
      .join(rebuiltBands.as("r"), Seq("doc_id", "band"), "full_outer")
      .filter(!(col("a.dh") <=> col("r.dh") && col("a.bv") <=> col("r.bv")))
      .agg(count(lit(1)).as("n_band_diff"))
    val pairDiff = pairsAfter.as("a")
      .join(rebuiltPairs.as("r"), Seq("d1", "d2"), "full_outer")
      .filter(!(col("a.hamming") <=> col("r.hamming")))
      .agg(count(lit(1)).as("n_pair_diff"))
    Multimodal.imageBands(Multimodal.imageHashesOf(s, dir))
      .agg(count(lit(1)).as("n_postings_before"))
      .crossJoin(broadcast(postingsAfter.agg(count(lit(1)).as("n_postings_after"))))
      .crossJoin(broadcast(Tables.documents(s, dir).filter(col("doc_id") % 20 === 7)
        .agg(count(lit(1)).as("n_docs_forgotten"))))
      .crossJoin(broadcast(pairsAfter.agg(count(lit(1)).as("n_pairs_after"))))
      .crossJoin(broadcast(bandDiff))
      .crossJoin(broadcast(pairDiff))
      .select(col("n_postings_before"), col("n_postings_after"),
        col("n_docs_forgotten"), col("n_pairs_after"),
        (col("n_band_diff") === 0).as("postings_equal_rebuild"),
        (col("n_pair_diff") === 0).as("pairs_equal_rebuild"))
  }

  /** Streaming twin of `mm_audio_dedup` — same oracle and the same
    * shared incremental band-index machinery: only the fingerprint
    * function differs, which is the point of the banded contract. */
  val streamAudioDedup: Q = Q("stream_audio_dedup",
    Multimodal.audioDedup.oracle.get) { (s, dir) =>
    runAudioDedupStream(s, dir)
  }

  /** Streaming twin of `mm_video_dedup` — same oracle and the same
    * shared incremental band-index machinery: the third modality's
    * temporal signature rides the banded contract unchanged. */
  val streamVideoDedup: Q = Q("stream_video_dedup",
    Multimodal.videoDedup.oracle.get) { (s, dir) =>
    runVideoDedupStream(s, dir)
  }

  /** Streaming twin of `mm_caption_align` — same oracle: the
    * alignment filter operated continuously. Stateless per doc (each
    * pair's score depends on that doc + the STATIC embedding store),
    * so it rides the checkpoint+commit-log exactly-once story; the
    * per-batch plan is the batch query's stream-static equi-joins. */
  val streamCaptionAlign: Q = Q("stream_caption_align",
    Multimodal.captionAlign.oracle.get) { (s, dir) =>
    StreamingCuration.runStatelessTwin(s, dir,
      docs => Multimodal.alignScores(docs, Tables.embeddings(s, dir)))
      .orderBy(col("doc_id"))
  }

  /** Streaming twin of `mm_video_align` — same oracle: the video
    * alignment gate operated continuously. Stateless per clip (each
    * pair's frame-pooled score depends on that doc + the STATIC
    * embedding store), so it rides the checkpoint+commit-log
    * exactly-once story like [[streamCaptionAlign]]; the per-batch
    * plan is the batch query's six stream-static equi-joins. */
  val streamVideoAlign: Q = Q("stream_video_align",
    Multimodal.videoAlign.oracle.get) { (s, dir) =>
    StreamingCuration.runStatelessTwin(s, dir,
      docs => Multimodal.videoAlignScores(docs, Tables.embeddings(s, dir)))
      .orderBy(col("doc_id"))
  }

  /** Streaming twin of `mm_audio_align` — same oracle: the audio
    * alignment gate operated continuously, completing the
    * three-modality continuous gate family. Stateless per clip (each
    * pair's window-pooled score depends on that doc + the STATIC
    * embedding store), so it rides the checkpoint+commit-log
    * exactly-once story like [[streamCaptionAlign]]; the per-batch
    * plan is the batch query's four stream-static equi-joins. */
  val streamAudioAlign: Q = Q("stream_audio_align",
    Multimodal.audioAlign.oracle.get) { (s, dir) =>
    StreamingCuration.runStatelessTwin(s, dir,
      docs => Multimodal.audioAlignScores(docs, Tables.embeddings(s, dir)))
      .orderBy(col("doc_id"))
  }

  /** Streaming twin of `mm_audio_decode` — same oracle; stateless
    * per-clip decode (the `stream_pii_redact` shape). */
  val streamAudioDecode: Q = Q("stream_audio_decode",
    Multimodal.audioDecode.oracle.get) { (s, dir) =>
    // a micro-batch is one arrival file = ONE input split; the
    // per-sample decode is the expensive part, so spread the batch
    // across the session's shuffle width first (the
    // StreamingCuration.processBatch discipline — without this the
    // whole decode ran single-threaded: 28 s vs ~1 s at sf0.1)
    StreamingCuration.runStatelessTwin(s, dir,
      docs => Multimodal.decodeWav(Multimodal.wavFrames(
        docs.repartition(docs.sparkSession.sessionState.conf.numShufflePartitions))))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(streamImageDedup, streamAudioDedup, streamVideoDedup,
    streamCaptionAlign, streamVideoAlign, streamAudioAlign, streamAudioDecode,
    mmDedupForget)
}
