package graft.streaming

import graft.Q
import graft.SessionCaches.{cutLineage, pinned}
import graft.multimodal.Multimodal
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The INTERLEAVED multimodal emission OPERATED CONTINUOUSLY — the
  * streaming twin of `mm_curation_emit_ids`: media-caption pairs
  * arrive as a stream, every micro-batch runs the alignment gate
  * against the static embedding store (stream-static equi-joins),
  * prices the kept pairs (media patch block + caption BPE id count
  * against the fixed release symbol table), and places them on the
  * per-shard interleaved token stream at base-offset + within-batch
  * prefix sum — the [[StreamingMixPack]] offset-carry discipline, one
  * modality level up.
  *
  * Cross-batch state is the per-(batch, shard) combined-token-total
  * artifact in a [[FrameStore]] (≤ 4 rows per batch): replay
  * normalization by PROVENANCE (own batch stamp filters out), the
  * append skipped via the batch watermark + stream identity, a killed
  * stream resumes from checkpoint + promoted artifact alone. Because
  * arrivals land in doc_id (ingest) order, per-batch placements
  * concatenate into the batch query's global per-shard order, so the
  * drained windows are EXACTLY the batch emission for any slicing —
  * the twin shares `mm_curation_emit_ids`'s DuckDB oracle verbatim.
  */
object StreamingMmEmit {

  val OffsetsName = "mm_emit_offsets"
  /** Offset state of the GATED record stream (PRODUCTION-model
    * caption decisions drive placement) — same shape, independent
    * totals. */
  val GatedOffsetsName = "mm_emit_offsets_gated"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       store: FrameStore, dir: String,
                       schema: org.apache.spark.sql.types.StructType,
                       quality: Option[FrameStore] = None)
      extends graft.Reapable {
    /** Where the GATED (learned-decision-driven) entries land. */
    def gatedOutDir: String = outDir + "-gated"
    /** Where the consolidated trimodal pass lands its BIMODAL
      * (interleaved image-caption) projection faces — the mrank=0
      * records positioned against their own offset state. */
    def mmOutDir: String = outDir + "-mm"
    def mmGatedOutDir: String = outDir + "-mm-gated"
    /** The whole stream world lives under the one scratch dir
      * [[prepare]] created — a MEMOIZED env must reap it on eviction
      * per the [[graft.Reapable]] ownership contract (the store is a
      * field, so recursion alone would skip it). */
    def reapRoots: Seq[String] =
      Seq(java.nio.file.Paths.get(outDir).getParent.toString)
  }

  def prepare(spark: SparkSession, dir: String,
              quality: Option[FrameStore] = None): Env = {
    val scratch = Scratch.dir("graft-mm-emit-").toString
    val docs = Tables.documents(spark, dir)
    val store = new FrameStore(s"$scratch/store")
    def emptyOffsets() =
      docs.filter(lit(false)).select((col("doc_id") % 4).as("shard"))
        .withColumn("batch_tokens", lit(0L))
        .withColumn("batch_id", lit(-1L))
    store.publish(spark, OffsetsName, emptyOffsets())
    if (quality.isDefined)
      store.publish(spark, GatedOffsetsName, emptyOffsets())
    Env(s"$scratch/in", s"$scratch/entries", s"$scratch/ckpt", store, dir,
      docs.schema, quality)
  }

  /** One micro-batch: gate, price, place at base + in-batch offsets,
    * land the positioned entries batchId-deterministically, extend
    * the per-shard totals. With a quality store configured, a SECOND
    * live record stream places only the records the PRODUCTION
    * model's per-batch re-resolved caption decision keeps (the
    * [[StreamingEmit]] gated-face discipline one modality up — a
    * mid-stream promotion takes effect at the next batch). IDEMPOTENT
    * under at-least-once replay — own rows filtered by provenance,
    * appends skipped by the identity-checked watermark. */
  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = pinned { pins =>
    val bs = batch.sparkSession
    // both faces read it
    val aligned = pins.cutLineage(
      Multimodal.mmEmitDocsOf(batch, Tables.embeddings(bs, env.dir)))
    // caption lens paid ONCE per batch — the gated face's records are
    // a subset of the aligned ids, so both positionings share it
    val lens = pins.cutLineage(Multimodal.mmCapLensOf(bs, env.dir, aligned))
    placeFace(bs, env, batchId, aligned, lens, OffsetsName, env.outDir)
    env.quality.foreach { qstore =>
      val model = qstore.production(bs, graft.ml.QualityModel.ModelName)
      val keep = graft.ml.QualityModel.scoreClosedForm(
        aligned.select(col("doc_id"), split(col("text"), " ").as("toks")), model)
        .filter(col("proba") >= 0.5).select(col("doc_id"))
      placeFace(bs, env, batchId, aligned.join(keep, Seq("doc_id")), lens,
        GatedOffsetsName, env.gatedOutDir)
    }
  }

  /** Position + land one gate face's records for one micro-batch
    * against its own offset state. */
  private def placeFace(bs: SparkSession, env: Env, batchId: Long,
      docs: DataFrame, lens: DataFrame, offsetsName: String, outDir: String): Unit = pinned { pins =>
    val placedRaw = pins.persist(Multimodal.mmPositionWithLens(docs, lens))
    val base = env.store.production(bs, offsetsName)
      .filter(col("batch_id") =!= batchId)
      .groupBy(col("shard")).agg(sum(col("batch_tokens")).as("base_off"))
    placedRaw
      // per-SHARD state is 4 rows by construction — broadcast-bounded
      .join(broadcast(base), Seq("shard"), "left_outer")
      .select(col("shard"), col("doc_id"),
        (col("start_off") + coalesce(col("base_off"), lit(0L))).as("start_off"),
        col("media_tokens"), col("text"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    env.store.appendBatch(bs, offsetsName,
      placedRaw.groupBy(col("shard")).agg(sum(col("tot")).as("batch_tokens"))
        .withColumn("batch_id", lit(batchId)),
      batchId = Some(batchId), streamId = Some(env.ckpt))
    ()
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeDocuments(batch), batchId, env))

  /** Full loop: prepare, land the corpus in `slices` ordered
    * arrivals, drain, return the accumulated positioned entries
    * (positions are global via the carried base, so the shared
    * window-cut / bounds aggregates reproduce the batch emission).
    * Driven directly by the slicing-parity spec; the gate twins read
    * the memoized single pass below. */
  def runMmEmitStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val world = runMmEmitStreamWorld(spark, dir, slices, quality = None)
    trackAdhoc(spark, world.env)
    world.entries
  }

  /** Ad-hoc (non-memoized) stream envs: the spec-facing slicing entry
    * points ([[runMmEmitStream]], [[runTrimodalStream]]) build a
    * fresh scratch world per call — MultimodalSpec alone runs 2- and
    * 5-slice passes — so without tracking, each call leaks a full
    * corpus copy (arrivals + landed batches + checkpoint + store) on
    * disk for the JVM lifetime. Registering each env here puts the
    * tree under the SessionCaches eviction lifecycle like the
    * memoized worlds. Keyed by checkpoint path (unique per call) so
    * repeated runs accumulate entries rather than silently orphaning
    * the previous tree on overwrite. */
  private val adhocEnvs = graft.SessionCaches.memo[Env]

  private def trackAdhoc(spark: SparkSession, env: Env): Unit =
    adhocEnvs.put(spark, env.dir, "adhoc", env.ckpt)(env)

  /** The drained positioned entries (both gate faces) PLUS the stream
    * world that produced them — the env is Reapable, so a memoized
    * world's on-disk scratch tree (arrivals, landed batches,
    * checkpoint, FrameStore) dies with the memo entry instead of
    * leaking until JVM exit. `gated`/`qmodel` are set when the run
    * carried a quality store (the consolidated per-session pass
    * does): the gated record stream and the model version it
    * resolved, pinned together for the certificate. */
  private[streaming] final case class MmEmitStreamWorld(entries: DataFrame, env: Env,
      gated: Option[DataFrame] = None, qmodel: Option[DataFrame] = None,
      mqmodel: Option[DataFrame] = None)
      extends graft.Reapable {
    def reapRoots: Seq[String] = env.reapRoots
  }

  private def runMmEmitStreamWorld(spark: SparkSession, dir: String, slices: Int,
      quality: Option[FrameStore]): MmEmitStreamWorld = {
    val vBefore = quality.map(_.productionVersion(graft.ml.QualityModel.ModelName))
    val env = prepare(spark, dir, quality)
    StreamingCuration.landOrderedSlices(spark, env.inDir, dir, slices)
    runPass(spark, env)
    env.store.compact(spark, OffsetsName)
    env.store.gc(OffsetsName, keep = 1)
    quality.foreach { _ =>
      env.store.compact(spark, GatedOffsetsName)
      env.store.gc(GatedOffsetsName, keep = 1)
    }
    // the model THIS run resolved, pinned with the artifacts: a
    // promotion landing between the (memoized) run and the cert must
    // not change the batch twin's gate (the unifiedRun rule) — and
    // the memoized world never spans a promotion, asserted here
    val qmodel = quality.map { qs =>
      require(vBefore.flatten == qs.productionVersion(graft.ml.QualityModel.ModelName),
        "quality model promoted during the memoized mm emission pass")
      cutLineage(qs.production(spark, graft.ml.QualityModel.ModelName))
    }
    MmEmitStreamWorld(spark.read.parquet(env.outDir).drop("batch"), env,
      gated = quality.map(_ => spark.read.parquet(env.gatedOutDir).drop("batch")),
      qmodel = qmodel)
  }

  private val entriesMemo = graft.SessionCaches.memo[MmEmitStreamWorld]

  /** The interleaved-emission stream artifacts per (application, sf
    * dir), memoized — the streaming twins (windows + boundary
    * manifest) and the gated certificate all read them. Since r17
    * the bimodal stream IS the consolidated trimodal pass's mrank=0
    * projection faces ([[processTrimodalBatch]]): ONE continuous pass
    * computes the three alignment gates once per micro-batch and
    * places all four faces, where a separate bimodal pass previously
    * re-ran the image gate over the whole corpus. The standalone
    * bimodal machinery ([[runMmEmitStream]]) remains the
    * slicing-parity spec's harness. */
  private def streamedWorld(spark: SparkSession, dir: String): MmEmitStreamWorld =
    entriesMemo(spark, dir) {
      val tri = streamedTrimodalWorld(spark, dir)
      val df = spark.read.parquet(tri.env.mmOutDir).drop("batch").persist()
      df.count()
      val g = spark.read.parquet(tri.env.mmGatedOutDir).drop("batch").persist()
      g.count()
      MmEmitStreamWorld(df, tri.env, gated = Some(g), qmodel = tri.qmodel)
    }

  def streamedEntries(spark: SparkSession, dir: String): DataFrame =
    streamedWorld(spark, dir).entries

  /** Streaming twin of `mm_curation_emit_ids` — same oracle: the
    * continuously-assembled interleaved training stream must cut
    * byte-identical windows to the batch emission for any ingest-
    * ordered slicing. */
  val streamMmEmitIds: Q = Q("stream_mm_emit_ids",
    Multimodal.mmEmitIds.oracle.get) { (s, dir) =>
    Multimodal.mmEmitWindows(s, dir, streamedEntries(s, dir))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** Streaming twin of `mm_emit_doc_bounds` — same oracle: the
    * record-boundary manifest is a content-determined rollup of the
    * positioned entries, so the continuously-landed entries must
    * yield the byte-identical manifest the batch emission publishes
    * beside its shards. */
  val streamMmEmitBounds: Q = Q("stream_mm_emit_bounds",
    Multimodal.mmEmitBounds.oracle.get) { (s, dir) =>
    Multimodal.mmEmitBoundsOf(streamedEntries(s, dir))
  }

  /** Streaming twin of `mm_emit_id_freq` — same oracle: the id
    * distribution a continuously-publishing multimodal release
    * monitors, weighed from the drained entries against the same
    * gate-independent symbol table. */
  val streamMmEmitIdFreq: Q = Q("stream_mm_emit_id_freq",
    Multimodal.mmEmitIdFreq.oracle.get) { (s, dir) =>
    Multimodal.mmEmitIdFreqOf(s, dir, streamedEntries(s, dir))
  }

  // --------------------------------------------------------- trimodal stream
  val TrimodalOffsetsName = "mm_trimodal_offsets"
  /** Offset state of the GATED trimodal record stream. */
  val TrimodalGatedOffsetsName = "mm_trimodal_offsets_gated"
  /** The takedown registry a LIVE trimodal stream honors: ids on the
    * production list are filtered from every later micro-batch. */
  val TrimodalTakedownsName = "trimodal_takedowns"

  /** Stream world for the CONTINUOUS trimodal emission: same
    * scratch-tree shape as the interleaved mm stream, its own
    * per-shard combined-token-total artifact (plus a gated one when a
    * quality store is configured). */
  def prepareTrimodal(spark: SparkSession, dir: String,
                      quality: Option[FrameStore] = None): Env = {
    val scratch = Scratch.dir("graft-trimodal-emit-").toString
    val docs = Tables.documents(spark, dir)
    val store = new FrameStore(s"$scratch/store")
    def emptyOffsets() =
      docs.filter(lit(false)).select((col("doc_id") % 4).as("shard"))
        .withColumn("batch_tokens", lit(0L))
        .withColumn("batch_id", lit(-1L))
    store.publish(spark, TrimodalOffsetsName, emptyOffsets())
    // the consolidated pass also places the bimodal projection face
    // against its own offset state (same store, distinct names)
    store.publish(spark, OffsetsName, emptyOffsets())
    if (quality.isDefined) {
      store.publish(spark, TrimodalGatedOffsetsName, emptyOffsets())
      store.publish(spark, GatedOffsetsName, emptyOffsets())
    }
    Env(s"$scratch/in", s"$scratch/entries", s"$scratch/ckpt", store, dir,
      docs.schema, quality)
  }

  /** One trimodal micro-batch: ALL THREE alignment gates against the
    * static embedding store, per-modality record pricing, placement
    * at base + in-batch (doc_id, modality-rank) prefix sum — the
    * [[processBatch]] offset-carry discipline over the three-family
    * record union. With a quality store configured, a SECOND live
    * record stream places only the records whose TRANSCRIPT the
    * PRODUCTION model's per-batch re-resolved decision keeps (a
    * dropped caption removes ALL of its doc's modality records — the
    * caption is the shared half of every pair). Because arrivals land
    * in doc_id order and every record of a doc rides its doc's batch,
    * per-batch placements concatenate into the batch query's
    * per-shard record order, so the drained windows are EXACTLY the
    * batch trimodal emission for any slicing — the twin shares
    * `mm_trimodal_emit_ids`'s oracle verbatim. */
  def processTrimodalBatch(batch: DataFrame, batchId: Long, env: Env): Unit = pinned { pins =>
    val bs = batch.sparkSession
    // honor the takedown registry when this world maintains one: a
    // doc on the PRODUCTION list is never ingested by later batches
    // (the post-forget arrivals contract — re-resolved per batch like
    // the quality model, so a takedown landing mid-stream takes
    // effect at the next micro-batch; absent registry = no-op). The
    // list is id-only and bounded by withdrawals, not the corpus;
    // AQE picks the join strategy at runtime.
    val live = env.store.loadProduction(bs, TrimodalTakedownsName)
      .map(td => batch.join(td.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      .getOrElse(batch)
    // Co-partition the batch's record stream on its shard key ONCE
    // before caching: the three-gate union otherwise pins 65 tiny
    // cache partitions (3 × shuffle.partitions) and every downstream
    // face stage inherits 65 near-empty tasks — pure scheduler
    // overhead at micro-batch sizes. Hash-clustering on `shard` is
    // also what every per-shard window downstream REQUIRES, so the
    // face programs reuse this one exchange instead of re-shuffling.
    // Partition count = the trimodal shard alphabet (4), the same
    // constant the offsets state is keyed by.
    // Cut, not persisted: ALL faces read it, and with persist the 2
    // writes × 4 faces each re-analyzed the whole gate pipeline
    // (250–700 plan nodes measured).
    val gated = pins.cutLineage(
      Multimodal.trimodalGatedOf(live, Tables.embeddings(bs, env.dir))
        .repartition(4, col("shard")))
    val lens = pins.cutLineage(Multimodal.trimodalCapLensOf(bs, env.dir, gated))
    // The four faces are INDEPENDENT sinks (each owns its offset
    // state + output dir) over the shared cached frames, and at
    // micro-batch sizes their placement jobs are latency-bound, not
    // data-bound — so they run CONCURRENTLY: the two aligned faces
    // start immediately and overlap the model scoring the gated
    // faces wait on (measured ~15 s/batch of serial face latency at
    // sf0.1, the bulk of the consolidated pass). FrameStore's
    // staged-rename versioning tolerates concurrent writers by
    // design, and each face's lineage is exactly the sequential
    // composition's — determinism is untouched.
    //
    // the BIMODAL (interleaved image-caption) emission is the
    // mrank=0 projection of the same gated union — the consolidated
    // pass places it against its own offset state instead of a
    // second continuous pass re-running the image gate (r17: the
    // gates were computed twice per corpus before this)
    val mmAligned = gated.filter(col("mrank") === 0)
      .select(col("doc_id"), col("shard"), col("mt").as("media_tokens"), col("text"))
    // (transcript keep-set, trimodal keep-set): persisted and scored
    // once, on the first gated face that needs it, while the aligned
    // faces place
    lazy val keepSets: (DataFrame, DataFrame) = {
      val qstore = env.quality.get
      val model = qstore.production(bs, graft.ml.QualityModel.ModelName)
      // ONE per-doc transcript decision drives both gated faces (the
      // caption is the shared half of every record family)
      val tKeep = pins.persist(graft.ml.QualityModel.scoreClosedForm(
        gated.select(col("doc_id"), col("text")).distinct()
          .select(col("doc_id"), split(col("text"), " ").as("toks")), model)
        .filter(col("proba") >= 0.5).select(col("doc_id")))
      tKeep.count()
      // the TRIMODAL gated face additionally honors the MEDIA-quality
      // model when the registry carries one: the decode-stat LR
      // (re-resolved per batch like the transcript model) drops a
      // doc's media records beside the transcript gate — the
      // LAION-style two-filter curation. A registry without the media
      // name gates transcript-only (deployment-optional).
      val triKeep = qstore.loadProduction(bs, graft.ml.MediaQualityModel.ModelName)
        .map { mmodel =>
          val k = pins.persist(tKeep.join(graft.ml.MediaQualityModel.mediaKeepIds(
            bs, env.dir, gated.select(col("doc_id")).distinct(), mmodel),
            Seq("doc_id")))
          k.count()
          k
        }.getOrElse(tKeep)
      (tKeep, triKeep)
    }
    val alignedFaces: Seq[() => Unit] = Seq(
      () => placeTrimodalFace(bs, env, batchId, gated, lens,
        TrimodalOffsetsName, env.outDir),
      () => placeFace(bs, env, batchId, mmAligned, lens, OffsetsName, env.mmOutDir))
    val gatedFaces: Seq[() => Unit] = if (env.quality.isEmpty) Nil else Seq(
      () => placeTrimodalFace(bs, env, batchId,
        gated.join(keepSets._2, Seq("doc_id")), lens,
        TrimodalGatedOffsetsName, env.gatedOutDir),
      () => placeFace(bs, env, batchId,
        mmAligned.join(keepSets._1, Seq("doc_id")), lens,
        GatedOffsetsName, env.mmGatedOutDir))
    StreamPools.runAll(alignedFaces ++ gatedFaces)
  }

  /** Position + land one trimodal gate face's records for one
    * micro-batch against its own offset state. */
  private def placeTrimodalFace(bs: SparkSession, env: Env, batchId: Long,
      recs: DataFrame, lens: DataFrame, offsetsName: String, outDir: String): Unit = pinned { pins =>
    val placedRaw = pins.persist(Multimodal.trimodalPositionWithLens(recs, lens))
    val base = env.store.production(bs, offsetsName)
      .filter(col("batch_id") =!= batchId)
      .groupBy(col("shard")).agg(sum(col("batch_tokens")).as("base_off"))
    placedRaw
      // per-SHARD state is 4 rows by construction — broadcast-bounded
      .join(broadcast(base), Seq("shard"), "left_outer")
      // `tot` (patch block + transcript ids) rides along so a
      // mid-stream takedown can recut a shard from the landed record
      // stream alone, without re-paying the vocab lens join
      .select(col("shard"), col("doc_id"), col("mrank"), col("modality"),
        col("mt"), col("tot"), col("text"),
        (col("start_off") + coalesce(col("base_off"), lit(0L))).as("start_off"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    env.store.appendBatch(bs, offsetsName,
      placedRaw.groupBy(col("shard")).agg(sum(col("tot")).as("batch_tokens"))
        .withColumn("batch_id", lit(batchId)),
      batchId = Some(batchId), streamId = Some(env.ckpt))
    ()
  }

  def runTrimodalPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processTrimodalBatch(Tables.normalizeDocuments(batch), batchId, env))

  /** Full trimodal loop: land the corpus in `slices` ordered
    * arrivals, drain, return the accumulated positioned records. */
  def runTrimodalStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame = {
    val env = prepareTrimodal(spark, dir)
    trackAdhoc(spark, env)
    StreamingCuration.landOrderedSlices(spark, env.inDir, dir, slices)
    runTrimodalPass(spark, env)
    env.store.compact(spark, TrimodalOffsetsName)
    env.store.gc(TrimodalOffsetsName, keep = 1)
    spark.read.parquet(env.outDir).drop("batch")
  }

  private val trimodalEntriesMemo = graft.SessionCaches.memo[MmEmitStreamWorld]

  /** ONE trimodal stream pass per (application, sf dir), memoized —
    * attributed by the `cache_warm_trimodal_stream` bench entry. Runs
    * with the PRODUCTION quality store, so it places BOTH faces per
    * micro-batch (the consolidated-pass rule). */
  private def streamedTrimodalWorld(spark: SparkSession, dir: String): MmEmitStreamWorld =
    trimodalEntriesMemo(spark, dir) {
      val qstore = graft.ml.QualityModel.productionStore(spark, dir)
      val vBefore = qstore.productionVersion(graft.ml.QualityModel.ModelName)
      val mvBefore = qstore.productionVersion(graft.ml.MediaQualityModel.ModelName)
      val env = prepareTrimodal(spark, dir, quality = Some(qstore))
      graft.WarmPhases.phase("land") {
        StreamingCuration.landOrderedSlices(spark, env.inDir, dir, 2)
      }
      graft.WarmPhases.phase("drain") { runTrimodalPass(spark, env) }
      graft.WarmPhases.phase("store") {
        env.store.compact(spark, TrimodalOffsetsName)
        env.store.gc(TrimodalOffsetsName, keep = 1)
        env.store.compact(spark, TrimodalGatedOffsetsName)
        env.store.gc(TrimodalGatedOffsetsName, keep = 1)
        env.store.compact(spark, OffsetsName)
        env.store.gc(OffsetsName, keep = 1)
        env.store.compact(spark, GatedOffsetsName)
        env.store.gc(GatedOffsetsName, keep = 1)
      }
      require(vBefore == qstore.productionVersion(graft.ml.QualityModel.ModelName),
        "quality model promoted during the memoized trimodal emission pass")
      require(mvBefore == qstore.productionVersion(graft.ml.MediaQualityModel.ModelName),
        "media quality model promoted during the memoized trimodal emission pass")
      val (df, g) = graft.WarmPhases.phase("artifacts") {
        val df0 = spark.read.parquet(env.outDir).drop("batch").persist()
        df0.count()
        val g0 = spark.read.parquet(env.gatedOutDir).drop("batch").persist()
        g0.count()
        (df0, g0)
      }
      MmEmitStreamWorld(df, env, gated = Some(g),
        qmodel = Some(cutLineage(qstore.production(spark, graft.ml.QualityModel.ModelName))),
        mqmodel = Some(cutLineage(qstore.production(spark, graft.ml.MediaQualityModel.ModelName))))
    }

  def streamedTrimodalEntries(spark: SparkSession, dir: String): DataFrame =
    streamedTrimodalWorld(spark, dir).entries

  /** Bench warm hook: the stream pass AND the lineage-cut drained
    * window artifact, attributed together. */
  private[graft] def warmTrimodalStream(spark: SparkSession, dir: String): Unit = {
    streamedTrimodalWindows(spark, dir); ()
  }

  /** The drained trimodal windows, memoized + LINEAGE-CUT — consumed
    * by the emission twin, the shuffle twin, and the gated
    * certificate; without the cut each rep re-pays the window cut
    * over the drained entries. */
  private val triWinMemo = graft.SessionCaches.memo[DataFrame]

  private[graft] def streamedTrimodalWindows(spark: SparkSession, dir: String): DataFrame =
    triWinMemo(spark, dir) {
      cutLineage(Multimodal.trimodalEmitWindowsOf(spark, dir,
        streamedTrimodalEntries(spark, dir)))
    }

  /** Streaming twin of `mm_trimodal_emit_ids` — same oracle: the
    * continuously-assembled THREE-MODALITY training stream must cut
    * byte-identical windows to the batch emission for any
    * ingest-ordered slicing (the speech-text mix operated the way the
    * reference's scoring loop runs: records flow, the release
    * artifact accretes). */
  val streamTrimodalEmitIds: Q = Q("stream_trimodal_emit_ids",
    Multimodal.trimodalEmitIds.oracle.get) { (s, dir) =>
    streamedTrimodalWindows(s, dir).orderBy(col("shard"), col("seq_id"))
  }

  /** Streaming twin of `mm_pack_whole_records` — same oracle
    * verbatim: the whole-record boundary-preserving pack at budget
    * 2048 is a content-determined fact of the positioned records, so
    * the operating pipeline's packs (greedy kernel over the DRAINED
    * record stream, records in the same (doc_id, mrank) encoded-key
    * order) are byte-identical to the batch recut's — the
    * `stream_pack_whole_report` pattern one modality up. Rides the
    * memoized consolidated drain; the pack adds one bounded-block
    * shuffle over the drained entries. */
  val streamMmPackWhole: Q = Q("stream_mm_pack_whole",
    Multimodal.packWholeRecords.oracle.get) { (s, dir) =>
    val enc = streamedTrimodalEntries(s, dir)
      .select(col("shard").as("source"),
        (col("doc_id") * 4 + col("mrank")).as("doc_id"),
        col("tot").as("n_tokens"))
    graft.queries.TextOps.packWholeDocs(enc, budget = 2048)
      .select(col("source").as("shard"),
        expr("doc_id div 4").as("doc_id"), (col("doc_id") % 4).as("mrank"),
        col("n_tokens").as("tot"),
        col("seq_id"), col("offset_in_seq"), col("is_split"))
      .orderBy(col("shard"), col("doc_id"), col("mrank"))
  }

  /** The trimodal gated certificate's pinned artifacts
    * ([[gatedCertArtifacts]]'s shape one level up):
    * `(streamedGatedWindows, streamedWindows, batchGated, expected,
    * flipSeq)`. */
  private val trimodalGatedCertMemo = graft.SessionCaches.memo[
    (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame)]

  private def trimodalGatedCertArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    trimodalGatedCertMemo(s, dir) {
      val world = streamedTrimodalWorld(s, dir)
      val sg = cutLineage(Multimodal.trimodalEmitWindowsOf(s, dir,
        world.gated.getOrElse(sys.error("trimodal pass ran without a quality store"))))
      val sa = streamedTrimodalWindows(s, dir) // already lineage-cut
      val qmodel = world.qmodel.get
      val mqmodel = world.mqmodel.get
      val gated = Multimodal.trimodalGated(s, dir)
      val docsWithRecords = gated.select(col("doc_id"), col("text")).distinct()
      val tKeepIds = graft.ml.QualityModel.scoreClosedForm(
        docsWithRecords.select(col("doc_id"), split(col("text"), " ").as("toks")), qmodel)
        .filter(col("proba") >= 0.5).select(col("doc_id"))
      val mKeepIds = graft.ml.MediaQualityModel.mediaKeepIds(
        s, dir, docsWithRecords.select(col("doc_id")), mqmodel)
      // the COUNTERFACTUAL media decision with the video coefficients
      // zeroed — the flips-only-video leg compares the real decision
      // against this to prove the gate's video side is load-bearing
      // (a gate blind to video would decide identically on image +
      // audio stats alone)
      val mvKeepIds = graft.ml.MediaQualityModel.mediaKeepIds(
        s, dir, docsWithRecords.select(col("doc_id")),
        mqmodel.withColumn("coef",
          when(col("idx").isin(graft.ml.MediaQualityModel.VideoFeatureIdx: _*),
            lit(0.0)).otherwise(col("coef"))))
      // batch twin composes BOTH pinned gates — the two-filter
      // decision the stream's gated face places per micro-batch
      val keepIds = tKeepIds.join(mKeepIds, Seq("doc_id"))
      val batchGated = cutLineage(Multimodal.trimodalEmitWindowsOf(s, dir,
        Multimodal.trimodalPositionOf(s, dir, gated.join(keepIds, Seq("doc_id")))))
      // expected per-DOC decision under the pinned models (a doc's
      // records all keep or all drop — the caption/media stats are
      // doc-level facts), with each gate's own verdict kept so the
      // flips-only-media leg can attribute every drop to its filter
      val expected = cutLineage(docsWithRecords.select(col("doc_id"))
        .join(tKeepIds.withColumn("tk", lit(true)), Seq("doc_id"), "left_outer")
        .join(mKeepIds.withColumn("mk", lit(true)), Seq("doc_id"), "left_outer")
        .join(mvKeepIds.withColumn("mvk", lit(true)), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("tk"), lit(false)).as("t_keep"),
          coalesce(col("mk"), lit(false)).as("m_keep"),
          coalesce(col("mvk"), lit(false)).as("m_keep_novideo"),
          (coalesce(col("tk"), lit(false)) && coalesce(col("mk"), lit(false)))
            .as("expected_keep")))
      // per-shard FIRST flip window: the dropped doc's FIRST record
      // offset in the STREAM that retains it — derived from the
      // streamed ungated entries (not the batch-positioned frame) so
      // the first-divergence leg is self-contained on the stream
      // side: a stream/batch parity regression fails
      // stream_equals_batch directly instead of misattributing a
      // secondary diverges_at_first_flip signal
      val flipSeq = cutLineage(world.entries
        .join(expected.filter(!col("expected_keep")).select(col("doc_id")), Seq("doc_id"))
        .groupBy(col("shard")).agg(min(floor(col("start_off") / 2048)).as("flip_seq")))
      (sg, sa, batchGated, expected, flipSeq)
    }

  /** THE LEARNED GATES DRIVING THE THREE-MODALITY RELEASE — the
    * [[streamMmEmitGated]] certificate one level up, now a TWO-FILTER
    * composition: the PRODUCTION transcript model's AND the
    * PRODUCTION media-quality model's per-batch re-resolved per-doc
    * decisions drive a second live trimodal record stream (a doc
    * dropped by EITHER filter loses all its modality records — the
    * LAION-style text+media curation pair), and the certificate pins
    * gated stream ≡ batch recut under the pinned model versions,
    * flips-only-quality on the composed per-doc record set,
    * flips-only-MEDIA-quality (relative to the transcript-only set,
    * the stream's extra drops are exactly the media model's) with a
    * non-vacuity leg (the media gate must drop something the
    * transcript gate kept), flips-only-VIDEO (zeroing the model's
    * video-feature coefficients must flip at least one doc's media
    * verdict — the video decode stats are deciding, not riding), and
    * per-shard first-divergence at the first dropped doc's record
    * window. The oracle recomputes the
    * gate-invariant aligned record and window counts through the full
    * three-gate + BPE emission replay. The mid-stream-promotion
    * mechanics are the [[processBatch]] gated face's, pinned at spec
    * scale in QualityGateSpec. */
  val streamTrimodalGated: Q = Q("stream_trimodal_gated",
    Multimodal.trimodalEmitOracleCtes("1 = 1") + """
      |SELECT
      |  CAST((SELECT COUNT(*) FROM o) AS BIGINT) AS n_records,
      |  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT)
      |     FROM (SELECT shard, SUM(tot) AS t FROM o GROUP BY 1))
      |    AS n_windows,
      |  TRUE AS stream_equals_batch,
      |  TRUE AS flips_only_quality,
      |  TRUE AS flips_only_media_quality,
      |  TRUE AS media_gate_active,
      |  TRUE AS video_gate_active,
      |  TRUE AS diverges_at_first_flip""".stripMargin) { (s, dir) =>
    val world = streamedTrimodalWorld(s, dir)
    val (sg, sa, batchGated, expected, flipSeq) = trimodalGatedCertArtifacts(s, dir)
    val sameWindow = col("a.n_tokens") <=> col("b.n_tokens") &&
      col("a.n_patch") <=> col("b.n_patch") && col("a.window_fp") <=> col("b.window_fp")
    val parityDiff = sg.as("a")
      .join(batchGated.as("b"), Seq("shard", "seq_id"), "full_outer")
      .filter(!sameWindow).agg(count(lit(1)).as("n_parity_diff"))
    val streamedIds = world.gated.get.select(col("doc_id")).distinct()
      .withColumn("in_stream", lit(true))
    val withStream = expected.join(streamedIds, Seq("doc_id"), "full_outer")
      .select(coalesce(col("t_keep"), lit(false)).as("tk"),
        coalesce(col("m_keep"), lit(false)).as("mk"),
        coalesce(col("m_keep_novideo"), lit(false)).as("mvk"),
        coalesce(col("expected_keep"), lit(false)).as("ek"),
        coalesce(col("in_stream"), lit(false)).as("st"))
    // one pass over the per-doc verdicts carries all three record-set
    // legs: composed-decision parity, the media filter's drops being
    // EXACTLY the transcript-kept docs missing from the stream, and
    // the media gate's non-vacuity (it must genuinely drop something
    // the transcript gate kept, or the two-filter claim is hollow)
    val flipAgg = withStream.agg(
      count(when(col("ek") =!= col("st"), 1)).as("n_flip_bad"),
      count(when((col("tk") && !col("mk")) =!= (col("tk") && !col("st")), 1))
        .as("n_media_flip_bad"),
      count(when(col("tk") && !col("mk"), 1)).as("n_media_dropped"),
      // docs whose media verdict FLIPS when the video coefficients
      // are zeroed — the gate's video features deciding, not riding
      count(when(col("mk") =!= col("mvk"), 1)).as("n_video_flipped"))
    val divSeq = sa.as("a").join(sg.as("b"), Seq("shard", "seq_id"), "full_outer")
      .filter(!sameWindow)
      .groupBy(col("shard")).agg(min(col("seq_id")).as("div_seq"))
    val srcMismatch = divSeq.join(flipSeq, Seq("shard"), "full_outer")
      .filter(!(col("div_seq") <=> col("flip_seq")))
      .agg(count(lit(1)).as("n_src_mismatch"))
    world.entries.agg(count(lit(1)).as("n_records"))
      .crossJoin(broadcast(sa.agg(count(lit(1)).as("n_windows"))))
      .crossJoin(broadcast(parityDiff))
      .crossJoin(broadcast(flipAgg))
      .crossJoin(broadcast(srcMismatch))
      .select(col("n_records"), col("n_windows"),
        (col("n_parity_diff") === 0).as("stream_equals_batch"),
        (col("n_flip_bad") === 0).as("flips_only_quality"),
        (col("n_media_flip_bad") === 0).as("flips_only_media_quality"),
        (col("n_media_dropped") > 0).as("media_gate_active"),
        (col("n_video_flipped") > 0).as("video_gate_active"),
        (col("n_src_mismatch") === 0).as("diverges_at_first_flip"))
  }

  /** Streaming twin of `mm_trimodal_doc_bounds` — same oracle: the
    * record-boundary/modality-mask manifest is a content-determined
    * rollup of the positioned records, so the continuously-landed
    * entries must publish the byte-identical manifest beside the
    * drained shards. */
  val streamTrimodalBounds: Q = Q("stream_trimodal_doc_bounds",
    Multimodal.trimodalBounds.oracle.get) { (s, dir) =>
    Multimodal.trimodalBoundsOf(streamedTrimodalEntries(s, dir))
  }

  /** Streaming twin of `mm_pack_efficiency` — same oracle: the
    * padding-loss / split-rate report is a content-determined fact of
    * the record offsets, so the continuously-landed entries must
    * publish the byte-identical report beside the drained shards (a
    * dataloader owner reads the SAME numbers off the live release as
    * off a batch recut). */
  val streamPackEfficiency: Q = Q("stream_pack_efficiency",
    Multimodal.packEfficiency.oracle.get) { (s, dir) =>
    Multimodal.packEfficiencyOf(streamedTrimodalEntries(s, dir))
  }

  /** Streaming twin of `mm_trimodal_id_freq` — same oracle: the
    * unigram distribution a continuously-publishing trimodal release
    * monitors, weighed from the drained entries against the same
    * gate-independent symbol table. */
  val streamTrimodalIdFreq: Q = Q("stream_trimodal_id_freq",
    Multimodal.trimodalIdFreq.oracle.get) { (s, dir) =>
    Multimodal.trimodalIdFreqOf(s, dir, streamedTrimodalEntries(s, dir))
  }

  /** Streaming twin of `mm_trimodal_shuffle` — same oracle: the
    * training order assigned at DRAIN over the continuously-landed
    * trimodal record stream (order is a whole-release fact, so a
    * continuous job assigns it when the shard closes) must equal the
    * batch composition's. */
  val streamTrimodalShuffle: Q = Q("stream_trimodal_shuffle",
    Multimodal.trimodalShuffle.oracle.get) { (s, dir) =>
    graft.queries.TextOps.shuffleRankTrimodal(streamedTrimodalWindows(s, dir))
  }

  /** Streaming twin of `mm_trimodal_resume` — same oracle: the
    * checkpoint-restart manifest a continuously-published release
    * hands its dataloader must come out identical whether the order
    * was ranked over the batch artifact or assigned at drain over
    * the continuously-landed windows — a resume against the live
    * pipeline's release seeks to the same per-shard position and
    * verifies the same window fingerprint. */
  val streamTrimodalResume: Q = Q("stream_trimodal_resume",
    Multimodal.trimodalResume.oracle.get) { (s, dir) =>
    graft.queries.TextOps.resumeManifest(
      graft.queries.TextOps.shuffleRankTrimodal(streamedTrimodalWindows(s, dir)), 0.6)
  }

  /** Streaming twin of `mm_trimodal_epochs` — same oracle: the
    * epoch orders are content-derived facts of the window set, so
    * the continuously-landed release must hand its dataloader the
    * byte-identical multi-epoch schedule the batch composition
    * would. */
  val streamTrimodalEpochs: Q = Q("stream_trimodal_epochs",
    Multimodal.trimodalEpochs.oracle.get) { (s, dir) =>
    graft.queries.TextOps.epochOrdersTrimodal(streamedTrimodalWindows(s, dir), 2)
  }

  /** Streaming twin of `mm_trimodal_curriculum` — same oracle: the
    * modality-mix schedule is a content-determined fact of the
    * windows, so ranking the continuously-landed release gives the
    * byte-identical curriculum. */
  val streamTrimodalCurriculum: Q = Q("stream_trimodal_curriculum",
    Multimodal.trimodalCurriculum.oracle.get) { (s, dir) =>
    Multimodal.curriculumOverWindows(streamedTrimodalWindows(s, dir))
  }

  /** Streaming twin of `mm_trimodal_card` — same oracle: the
    * per-modality release card is a content-determined rollup of the
    * gated record stream, so the continuously-landed records must
    * publish the byte-identical card. */
  val streamTrimodalCard: Q = Q("stream_trimodal_card",
    Multimodal.trimodalCard.oracle.get) { (s, dir) =>
    Multimodal.trimodalCardOf(s, dir, streamedTrimodalEntries(s, dir))
  }

  /** The gated certificate's pinned artifacts — streamed-side window
    * cuts and batch-side recut/flip frames are content-determined
    * release artifacts, memoized + lineage-cut once per session (the
    * text gate's gatedCertArtifacts rule): per bench rep the
    * certificate pays only the comparison joins. */
  private val gatedCertMemo = graft.SessionCaches.memo[
    (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame)]

  /** `(streamedGatedWindows, streamedAlignedWindows, batchGated,
    * expected, flipSeq)`. */
  private def gatedCertArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    gatedCertMemo(s, dir) {
      val world = streamedWorld(s, dir)
      val sg = cutLineage(Multimodal.mmEmitWindows(s, dir,
        world.gated.getOrElse(sys.error("mm emission pass ran without a quality store"))))
      val sa = cutLineage(Multimodal.mmEmitWindows(s, dir, world.entries))
      // batch twin gates with the MODEL THE STREAM USED (pinned in
      // the world) — the stream_curation_learned rule
      val qmodel = world.qmodel.get
      val aligned = Multimodal.mmEmitDocs(s, dir)
      val keepIds = graft.ml.QualityModel.scoreClosedForm(
        aligned.select(col("doc_id"), split(col("text"), " ").as("toks")), qmodel)
        .filter(col("proba") >= 0.5).select(col("doc_id"))
      val batchGated = cutLineage(Multimodal.mmEmitWindows(s, dir,
        Multimodal.mmPositionOf(s, dir, aligned.join(keepIds, Seq("doc_id")))))
      // expected per-record decision under the pinned model
      val expected = cutLineage(aligned.select(col("doc_id"))
        .join(keepIds.withColumn("k", lit(true)), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("k"), lit(false)).as("expected_keep")))
      // per-shard FIRST flip window: each dropped record's window
      // index in the stream that RETAINS it (the aligned STREAMED
      // entries, not the batch-positioned frame — prefixes before the
      // first drop are identical in both streams, and sourcing the
      // flip offsets stream-side keeps the first-divergence leg
      // self-contained: a stream/batch parity regression fails
      // stream_equals_batch, not this leg)
      val flipSeq = cutLineage(world.entries
        .join(expected.filter(!col("expected_keep")).select(col("doc_id")), Seq("doc_id"))
        .groupBy(col("shard")).agg(min(floor(col("start_off") / 2048)).as("flip_seq")))
      (sg, sa, batchGated, expected, flipSeq)
    }

  /** THE LEARNED GATE DRIVING THE MULTIMODAL EMISSION — the text
    * gate's active-deployment certificate one modality up
    * (`stream_curation_gated`'s device): the PRODUCTION quality
    * model's per-batch re-resolved CAPTION decisions drive a second
    * live interleaved record stream beside the alignment-only face,
    * and the certificate pins:
    *
    *  - `stream_equals_batch`: the continuously-placed gated windows
    *    ≡ a batch recut from (aligned ∧ model-keep) under the SAME
    *    model version the stream resolved — cut against the
    *    gate-independent full-vocabulary symbol table
    *    ([[Multimodal.mmCaptionSymsStats]]), so no promotion can
    *    shift the id space;
    *  - `flips_only_quality`: the gated stream's record set differs
    *    from the aligned set exactly on model-dropped captions —
    *    never adds a record, never drops a model-kept one;
    *  - `diverges_at_first_flip`: per shard, the first window where
    *    the gated emission differs from the aligned emission is the
    *    window holding that shard's first dropped record (windows
    *    before it are byte-identical), and shards diverge iff they
    *    have drops.
    *
    * The oracle recomputes the gate-invariant facts exactly (aligned
    * record count and window count through the full emission replay
    * — alignment gate, BPE train, segmentation, offsets) and pins
    * the Spark-only parity facts as booleans. Probed non-vacuous at
    * every SF: 213 / 240 / 2346 model-dropped aligned captions
    * across all 4 shards. */
  val streamMmEmitGated: Q = Q("stream_mm_emit_gated",
    Multimodal.mmEmitOracleCtes("1 = 1") + """
      |SELECT
      |  CAST((SELECT COUNT(*) FROM o) AS BIGINT) AS n_aligned_records,
      |  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT)
      |     FROM (SELECT shard, SUM(tot) AS t FROM o GROUP BY 1))
      |    AS n_windows_aligned,
      |  TRUE AS stream_equals_batch,
      |  TRUE AS flips_only_quality,
      |  TRUE AS diverges_at_first_flip""".stripMargin) { (s, dir) =>
    val world = streamedWorld(s, dir)
    val (sg, sa, batchGated, expected, flipSeq) = gatedCertArtifacts(s, dir)
    val sameWindow = col("a.n_tokens") <=> col("b.n_tokens") &&
      col("a.n_patch") <=> col("b.n_patch") && col("a.window_fp") <=> col("b.window_fp")
    val parityDiff = sg.as("a")
      .join(batchGated.as("b"), Seq("shard", "seq_id"), "full_outer")
      .filter(!sameWindow).agg(count(lit(1)).as("n_parity_diff"))
    // record-set parity: gated stream ≡ aligned ∧ model-keep (fresh
    // each run — the operating side)
    val streamedIds = world.gated.get.select(col("doc_id")).distinct()
      .withColumn("in_stream", lit(true))
    val flipBad = expected.join(streamedIds, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("expected_keep"), lit(false))
        =!= coalesce(col("in_stream"), lit(false)))
      .agg(count(lit(1)).as("n_flip_bad"))
    val divSeq = sa.as("a").join(sg.as("b"), Seq("shard", "seq_id"), "full_outer")
      .filter(!sameWindow)
      .groupBy(col("shard")).agg(min(col("seq_id")).as("div_seq"))
    val srcMismatch = divSeq.join(flipSeq, Seq("shard"), "full_outer")
      .filter(!(col("div_seq") <=> col("flip_seq")))
      .agg(count(lit(1)).as("n_src_mismatch"))
    expected.agg(count(lit(1)).as("n_aligned_records"))
      .crossJoin(broadcast(sa.agg(count(lit(1)).as("n_windows_aligned"))))
      .crossJoin(broadcast(parityDiff))
      .crossJoin(broadcast(flipBad))
      .crossJoin(broadcast(srcMismatch))
      .select(col("n_aligned_records"), col("n_windows_aligned"),
        (col("n_parity_diff") === 0).as("stream_equals_batch"),
        (col("n_flip_bad") === 0).as("flips_only_quality"),
        (col("n_src_mismatch") === 0).as("diverges_at_first_flip"))
  }

  // ------------------------------------------------- live-stream takedown
  /** The MID-STREAM takedown applied to a running trimodal emission:
    *
    *  1. the withdrawal ids are PROMOTED as the takedown registry —
    *     every later micro-batch anti-joins the production list, so
    *     post-forget arrivals of a withdrawn doc are never ingested
    *     (the [[processTrimodalBatch]] per-batch re-resolve, the
    *     model-gate discipline applied to withdrawals);
    *  2. the landed record stream is recut SHARD-PRUNED: only shards
    *     holding a withdrawn record are touched — their kept records
    *     re-derive offsets through the SAME two-level sub-sharded
    *     prefix sum that placed them (arrivals are doc_id-ordered, so
    *     shard order is (doc_id, mrank)); untouched shards' landed
    *     batches are preserved byte-for-byte (at 100 TB a takedown
    *     recuts ONE shard, never the release — the CowMerge shape);
    *  3. the offset-carry state drops the forgotten mass via the
    *     watermark-preserving [[graft.sources.FrameStore.rewrite]],
    *     so the CONTINUING stream places post-forget records exactly
    *     at the recut prefix's end.
    *
    * The recut reads `tot` off the landed records themselves — no
    * re-gating, no vocab lens re-join: the takedown's cost is the
    * affected shard's record stream, not the corpus. */
  /** Job-description tag of the takedown's single partition-overwrite
    * write, and the count of write jobs the LAST takedown ran under
    * it — the spec pins this to 1 (a regression back to the
    * one-job-per-batch-dir loop would scale with micro-batch count). */
  private[graft] val TakedownRewriteDesc = "graft-takedown-rewrite"
  @volatile private[graft] var lastTakedownRewriteJobs: Int = -1

  private[graft] def applyTrimodalStreamForget(s: SparkSession, env: Env): Unit = {
    import graft.multimodal.Multimodal.{TakedownMod, TakedownResidue}
    def forgotten(id: org.apache.spark.sql.Column) =
      id % TakedownMod === TakedownResidue
    env.store.publish(s, TrimodalTakedownsName,
      Tables.documents(s, env.dir).filter(forgotten(col("doc_id")))
        .select(col("doc_id")))
    // partition discovery types `batch` as int — pin it long so the
    // collected ids and the offset-state union stay type-stable
    val landed = s.read.parquet(env.outDir)
      .withColumn("batch", col("batch").cast("long"))
    val affected = landed.filter(forgotten(col("doc_id")))
      .select(col("shard")).distinct().collect().map(_.getLong(0)).toSeq
    if (affected.nonEmpty) pinned { pins =>
      val kept = landed.filter(col("shard").isin(affected: _*))
        .filter(!forgotten(col("doc_id")))
      val recut = graft.queries.TextOps.sourcePrefixSum(
        kept.select(col("shard").as("source"), col("batch"), col("doc_id"),
          col("mrank"), col("modality"), col("mt"), col("tot"), col("text")),
        col("tot"), order = Seq(col("doc_id"), col("mrank")))
        .withColumnRenamed("source", "shard")
      // the rewrite touches ONLY batch dirs holding an affected
      // shard's rows (recut rows keep their landed batch, so the
      // affected-batch set is closed under the recut); every other
      // landed dir is preserved byte-for-byte on disk, unread
      val affectedBatches = pins.cutLineage(landed.filter(col("shard").isin(affected: _*))
        .select(col("batch")).distinct())
      // pinned BEFORE the batch dirs it read from are overwritten;
      // unaffected shards' rows WITHIN an affected batch ride along
      // because dynamic overwrite replaces whole partitions
      val replacement = pins.cutLineage(landed
        .join(broadcast(affectedBatches), Seq("batch"), "left_semi")
        .filter(!col("shard").isin(affected: _*))
        .unionByName(recut.select(landed.columns.map(col): _*)))
      // ONE write job for the whole takedown (the PredictionsStore
      // upsert shape): dynamic partition overwrite replaces exactly
      // the affected batch dirs; repartition(batch) gives each dir
      // one writer task instead of a file per task per dir. The old
      // per-batch foreach ran one Spark job per landed micro-batch —
      // 10^4-10^5 serialized jobs on a 100 TB stream. The job count
      // is RECORDED (listener on the tagged description) so the spec
      // can pin the one-job shape against regression to a loop.
      val rewriteJobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(j.properties).flatMap(p =>
              Option(p.getProperty("spark.job.description")))
              .contains(TakedownRewriteDesc)) { rewriteJobs.incrementAndGet(); () }
      }
      s.sparkContext.addSparkListener(counter)
      try {
        s.sparkContext.setJobDescription(TakedownRewriteDesc)
        // overwrite mode scoped to THIS write (the CowMerge.writeBase
        // idiom) — a session-wide conf.set would silently flip every
        // later partitioned mode("overwrite") in the session from
        // full-replace to partial-replace semantics
        try replacement.repartition(col("batch"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch").parquet(env.outDir)
        finally s.sparkContext.setJobDescription(null)
        // every write job started (and finished) before write()
        // returned; drain the async bus deterministically, then read
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(s)
        lastTakedownRewriteJobs = rewriteJobs.get
      } finally s.sparkContext.removeSparkListener(counter)
      // a batch whose EVERY record was withdrawn is absent from the
      // write, so dynamic overwrite leaves its stale dir — drop it
      // explicitly (both lists are bounded batch-id collects)
      val keptB = replacement.select(col("batch")).distinct()
        .collect().map(_.getLong(0)).toSet
      val fs = new org.apache.hadoop.fs.Path(env.outDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      affectedBatches.collect().map(_.getLong(0)).filterNot(keptB).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"${env.outDir}/batch=$b"), true); ()
      }
      env.store.rewrite(s, TrimodalOffsetsName) { old =>
        old.filter(!col("shard").isin(affected: _*))
          .unionByName(replacement.filter(col("shard").isin(affected: _*))
            .groupBy(col("shard"), col("batch").as("batch_id"))
            .agg(sum(col("tot")).cast("long").as("batch_tokens"))
            .select(old.columns.map(col): _*))
      }
      env.store.gc(TrimodalOffsetsName, keep = 1)
    }
    ()
  }

  /** One LIVE-takedown stream world per (application, sf dir): half
    * the corpus arrives and ships, the phase-1 query dies, the
    * takedown lands against the QUIESCED artifacts, and a FRESH query
    * resumes on the same checkpoint to ingest the rest — the
    * kill/resume boundary deliberately brackets the forget. Owns its
    * scratch tree (Reapable) and pins the certificate's comparison
    * frames lineage-cut. `mid` is the series worlds' exact integer
    * midpoint and `preOffsets`/`preMmOffsets` the offset states AT
    * the phase-1 drain (pinned before the takedown rewrites them):
    * together with `preEntries` they are the complete pre-takedown
    * phase-1 state, which [[trimodalSeriesWorld]] INSTALLS instead of
    * re-draining the same half corpus through a second stream. */
  private[streaming] final case class TrimodalStreamForgetWorld(env: Env, mid: Long,
      preEntries: DataFrame, preOffsets: DataFrame, preMmOffsets: DataFrame,
      postRewriteEntries: DataFrame,
      preWindows: DataFrame, entries: DataFrame, finalWindows: DataFrame,
      affectedShards: Seq[Long], rewriteJobs: Int) extends graft.Reapable {
    def reapRoots: Seq[String] = env.reapRoots
  }

  private val triForgetStreamMemo = graft.SessionCaches.memo[TrimodalStreamForgetWorld]

  private[graft] def trimodalStreamForgetWorld(s: SparkSession,
      dir: String): TrimodalStreamForgetWorld =
    triForgetStreamMemo(s, dir) {
      import graft.multimodal.Multimodal.{TakedownMod, TakedownResidue}
      val docs = Tables.documents(s, dir)
      // the SAME exact integer midpoint the series world cuts at, so
      // the series can install this world's phase-1 state verbatim
      // (the forget facts are cut-invariant: the final drain is the
      // full corpus minus the takedown family wherever the cut lands)
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      val env = prepareTrimodal(s, dir)
      // 4 phase-1 slices (not 2) so the one-job-rewrite pin is
      // non-vacuous: the per-batch-loop form would run >= 4 jobs here
      graft.WarmPhases.phase("land") {
        StreamingCuration.landOrderedSlicesOf(
          docs.filter(col("doc_id") < mid), "doc_id", env.inDir, 4)
      }
      graft.WarmPhases.phase("drain1") {
        runTrimodalPass(s, env) // phase-1 query dies here
      }
      val pre = cutLineage(s.read.parquet(env.outDir))
      // the phase-1 offset states, pinned BEFORE the takedown rewrite —
      // the carry the series world resumes from (4-row frames per face)
      val preOff = cutLineage(env.store.production(s, TrimodalOffsetsName))
      val preMmOff = cutLineage(env.store.production(s, OffsetsName))
      graft.WarmPhases.phase("takedown") {
        applyTrimodalStreamForget(s, env) // the takedown lands mid-stream
      }
      // the listener-counted rewrite-job count is a fact of THIS
      // world's takedown — captured at build time so a session
      // touching two dataset dirs can't read the other world's count
      // off the shared volatile (the r19 ADVICE finding)
      val rewriteJobCount = lastTakedownRewriteJobs
      val post = cutLineage(s.read.parquet(env.outDir))
      graft.WarmPhases.phase("drain2") {
        StreamingCuration.landOrderedSlicesOf(
          docs.filter(col("doc_id") >= mid), "doc_id", env.inDir, 2, tag = "b")
        runTrimodalPass(s, env) // fresh query, same checkpoint + carry
        env.store.compact(s, TrimodalOffsetsName)
        env.store.gc(TrimodalOffsetsName, keep = 1)
      }
      val fin = cutLineage(s.read.parquet(env.outDir).drop("batch"))
      val affected = pre
        .filter(col("doc_id") % TakedownMod === TakedownResidue)
        .select(col("shard")).distinct().collect().map(_.getLong(0)).toSeq
      graft.WarmPhases.phase("artifacts") {
        TrimodalStreamForgetWorld(env, mid,
          preEntries = pre, preOffsets = preOff, preMmOffsets = preMmOff,
          postRewriteEntries = post,
          preWindows = cutLineage(Multimodal.trimodalEmitWindowsOf(s, dir, pre.drop("batch"))),
          entries = fin,
          finalWindows = cutLineage(Multimodal.trimodalEmitWindowsOf(s, dir, fin)),
          affectedShards = affected, rewriteJobs = rewriteJobCount)
      }
    }

  /** Bench warm hook: the two-phase drain + mid-stream rewrite,
    * attributed once. */
  private[graft] def warmTrimodalStreamForget(s: SparkSession, dir: String): Unit = {
    trimodalStreamForgetWorld(s, dir); ()
  }

  /** TAKEDOWN AGAINST THE LIVE STREAM — the right-to-be-forgotten
    * contract while the release is still ACCRETING: a withdrawal
    * lands between micro-batches of the continuous trimodal emission,
    * and the certificate pins the three facts an operator must hold
    * simultaneously:
    *
    *  - `drain_equals_batch_rebuild`: the drained union (recut
    *    phase-1 prefix + post-forget continuation) is ROW-IDENTICAL
    *    to the batch forget world's recut-from-reduced-corpus window
    *    artifact — a doc withdrawn mid-stream is indistinguishable
    *    from one never ingested, even though half the release shipped
    *    before the takedown existed;
    *  - `preforget_windows_immutable`: every COMPLETE window shipped
    *    before the forget in an untouched shard — and, in affected
    *    shards, before the shard's first withdrawn record — survives
    *    byte-identical in the final release (shipped windows are
    *    immutable facts; the recut may only change windows at or
    *    after the first withdrawal);
    *  - `untouched_shards_preserved`: the mid-stream rewrite touched
    *    ONLY the affected shards' landed batches (the shard-pruned
    *    CowMerge claim, asserted on the records themselves).
    *
    * The oracle recomputes the reduced-corpus window count through
    * the FULL three-gate + BPE emission replay, plus the withdrawal
    * counts; parity facts ride as pinned booleans. The kill/resume
    * boundary deliberately brackets the forget (phase-1 query dies,
    * takedown lands, fresh query resumes) — re-asserted with an
    * idle wake-up in MultimodalSpec. */
  val streamTrimodalForget: Q = Q("stream_trimodal_forget",
    "SELECT\n" +
      "  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT) FROM (SELECT shard, SUM(tot) AS t FROM (" +
      Multimodal.trimodalEmitOracleCtes("doc_id % 20 <> 8") +
      "\nSELECT shard, tot FROM o) ao GROUP BY 1) at2) AS n_windows_after,\n" +
      "  (SELECT COUNT(*) FROM documents WHERE doc_id % 20 = 8) AS n_docs_forgotten,\n" +
      "  (SELECT COUNT(DISTINCT doc_id % 4) FROM documents WHERE doc_id % 20 = 8) AS n_shards_affected,\n" +
      "  TRUE AS drain_equals_batch_rebuild,\n" +
      "  TRUE AS preforget_windows_immutable,\n" +
      "  TRUE AS untouched_shards_preserved,\n" +
      "  TRUE AS takedown_one_write_job") { (s, dir) =>
    import graft.multimodal.Multimodal.{TakedownMod, TakedownResidue}
    val world = trimodalStreamForgetWorld(s, dir)
    // the listener-counted rewrite jobs, a build-time fact of THIS
    // world (not the shared volatile, which a second dataset dir's
    // build would overwrite): the whole mid-stream takedown must be
    // ONE dynamic-partition-overwrite write (≤ 2 with AQE's shuffle
    // materialization) — batch-count-independent, so the 10⁴-job
    // per-batch-loop regression is locked by the ORACLE, not only by
    // the MultimodalSpec listener pin
    val rewriteJobs = world.rewriteJobs
    val sameWindow = col("a.n_tokens") <=> col("b.n_tokens") &&
      col("a.n_patch") <=> col("b.n_patch") && col("a.window_fp") <=> col("b.window_fp")
    val drainDiff = world.finalWindows.as("a")
      .join(Multimodal.trimodalForgetRebuilt(s, dir).as("b"),
        Seq("shard", "seq_id"), "full_outer")
      .filter(!sameWindow).agg(count(lit(1)).as("n_drain_diff"))
    // per-affected-shard first withdrawn record's window in the
    // PRE-forget stream — complete windows strictly before it (and
    // every complete window of untouched shards) must survive
    val flip = world.preEntries
      .filter(col("doc_id") % TakedownMod === TakedownResidue)
      .groupBy(col("shard")).agg(min(floor(col("start_off") / 2048)).as("flip_seq"))
    val immDiff = world.preWindows.filter(col("n_tokens") === 2048)
      .join(flip, Seq("shard"), "left_outer")
      .filter(col("flip_seq").isNull || col("seq_id") < col("flip_seq"))
      .select(col("shard"), col("seq_id"), col("n_tokens"), col("n_patch"), col("window_fp"))
      .as("a")
      .join(world.finalWindows.as("b"), Seq("shard", "seq_id"), "left_outer")
      .filter(!sameWindow).agg(count(lit(1)).as("n_imm_diff"))
    val untouchedKey = Seq("shard", "doc_id", "mrank")
    val untouchedDiff = world.postRewriteEntries
      .filter(!col("shard").isin(world.affectedShards: _*)).as("a")
      .join(world.preEntries
        .filter(!col("shard").isin(world.affectedShards: _*)).as("b"),
        untouchedKey, "full_outer")
      .filter(!(col("a.start_off") <=> col("b.start_off") &&
        col("a.tot") <=> col("b.tot")))
      .agg(count(lit(1)).as("n_untouched_diff"))
    world.finalWindows.agg(count(lit(1)).as("n_windows_after"))
      .crossJoin(broadcast(Tables.documents(s, dir)
        .filter(col("doc_id") % TakedownMod === TakedownResidue)
        .agg(count(lit(1)).as("n_docs_forgotten"),
          countDistinct(col("doc_id") % 4).as("n_shards_affected"))))
      .crossJoin(broadcast(drainDiff))
      .crossJoin(broadcast(immDiff))
      .crossJoin(broadcast(untouchedDiff))
      .select(col("n_windows_after"), col("n_docs_forgotten"),
        col("n_shards_affected"),
        (col("n_drain_diff") === 0).as("drain_equals_batch_rebuild"),
        (col("n_imm_diff") === 0).as("preforget_windows_immutable"),
        (col("n_untouched_diff") === 0).as("untouched_shards_preserved"),
        (lit(rewriteJobs) >= 1 && lit(rewriteJobs) <= 2).as("takedown_one_write_job"))
  }

  /** One RELEASE-SERIES world per (application, sf dir): half the
    * corpus arrives, drains, and PUBLISHES release v1; the remainder
    * lands and v2 publishes over the extended drain — the accretion
    * face of a continuously-publishing pipeline, with the query
    * kill/resume boundary deliberately bracketing the republication
    * (the v1 state comes from a DEAD query's drain — installed from
    * the live-takedown world's pre-forget pins, which cut at the same
    * midpoint — and a FRESH query resumes over the continuation with
    * the carried offsets for phase 2). Both versions register in ONE
    * store name so the series mechanics — version advance,
    * old-version readability after the flip — are pinned on the
    * release artifact itself. */
  private[streaming] final case class TrimodalSeriesWorld(env: Env, mid: Long,
      v1Windows: DataFrame, v2Windows: DataFrame,
      v1Version: Int, v2Version: Int,
      v1ReadableAfterV2: Boolean) extends graft.Reapable {
    def reapRoots: Seq[String] = env.reapRoots
  }

  val SeriesWindowsName = "trimodal_release_windows"

  private val triSeriesMemo = graft.SessionCaches.memo[TrimodalSeriesWorld]

  /** Installed phase-1 batches get ids shifted out of a fresh
    * checkpoint's id space, so the resumed pass's batch 0.. neither
    * overwrites an installed batch dir nor collides with an installed
    * offsets row's provenance stamp (the `batch_id =!= batchId`
    * replay-normalization filter in the placement). */
  private val SeriesInstallShift = 1000L

  private[graft] def trimodalSeriesWorld(s: SparkSession,
      dir: String): TrimodalSeriesWorld =
    triSeriesMemo(s, dir) {
      val docs = Tables.documents(s, dir)
      // DERIVE phase 1 from the live-takedown world's pre-forget pins
      // instead of draining the same half corpus through a second
      // stream: both worlds cut at the exact integer midpoint
      // (min + max) // 2 — which the series oracle replays
      // bit-identically — so the forget world's pre-takedown state IS
      // release v1's drain. The series pays one install write + the
      // phase-2 drain; the half-corpus gates/pricing run once per
      // session across the pair.
      val fw = trimodalStreamForgetWorld(s, dir)
      val mid = fw.mid
      val env = prepareTrimodal(s, dir)
      def shifted(off: DataFrame) =
        off.withColumn("batch_id", col("batch_id") + SeriesInstallShift)
      fw.preEntries.withColumn("batch", col("batch") + SeriesInstallShift)
        .repartition(col("batch"))
        .write.partitionBy("batch").parquet(env.outDir)
      env.store.publish(s, TrimodalOffsetsName, shifted(fw.preOffsets))
      env.store.publish(s, OffsetsName, shifted(fw.preMmOffsets))
      val v1w = cutLineage(Multimodal.trimodalEmitWindowsOf(s, dir,
        s.read.parquet(env.outDir).drop("batch")))
      val v1Ver = env.store.publish(s, SeriesWindowsName, v1w)
      StreamingCuration.landOrderedSlicesOf(
        docs.filter(col("doc_id") >= mid), "doc_id", env.inDir, 2, tag = "b")
      runTrimodalPass(s, env) // fresh query over the continuation + carry
      env.store.compact(s, TrimodalOffsetsName)
      env.store.gc(TrimodalOffsetsName, keep = 1)
      val v2w = cutLineage(Multimodal.trimodalEmitWindowsOf(s, dir,
        s.read.parquet(env.outDir).drop("batch")))
      val v2Ver = env.store.publish(s, SeriesWindowsName, v2w)
      // a training run pinned to v1 still resolves it intact AFTER
      // the v2 flip (version immutability on the release artifact)
      val v1Readable =
        env.store.load(s, SeriesWindowsName, v1Ver).count() == v1w.count()
      TrimodalSeriesWorld(env, mid, v1w, v2w, v1Ver, v2Ver, v1Readable)
    }

  /** Bench warm hook: the two-phase drain + both publications,
    * attributed once. */
  private[graft] def warmTrimodalSeries(s: SparkSession, dir: String): Unit = {
    trimodalSeriesWorld(s, dir); ()
  }

  private val SeriesMidSql: String =
    "(SELECT (MIN(doc_id) + MAX(doc_id)) // 2 FROM documents)"

  /** REPUBLISH THE ACCRETING RELEASE — the dataset-versioning
    * contract of a continuously-publishing pipeline: release v2
    * extends v1 as data lands, and a training run pinned to v1 stays
    * exactly reproducible. The certificate pins the three facts the
    * series must hold simultaneously:
    *
    *  - `shipped_windows_immutable`: every COMPLETE v1 window
    *    survives byte-identical in v2 — arrivals land in doc_id
    *    order, so accretion EXTENDS each shard's token stream at the
    *    tail and may touch only the partial tail window (a violated
    *    prefix means v2 silently rewrote data someone already
    *    trained on);
    *  - `v2_equals_batch`: the two-phase drain (kill/resume across
    *    the republication) lands the byte-identical window artifact
    *    the one-shot batch composition builds;
    *  - `v1_readable_after_republish`: the v1 version still loads
    *    intact from the release store after the v2 flip.
    *
    * The oracle independently recomputes BOTH releases' window
    * counts through the full three-gate + BPE emission replay — v1
    * over the structural half-corpus prefix (doc_id below the
    * (min+max)//2 midpoint, exact integer arithmetic on both
    * engines), v2 over the full corpus — plus the accreted-doc
    * count; the parity facts ride as pinned booleans. */
  val streamTrimodalRepublish: Q = Q("stream_trimodal_republish",
    "SELECT\n" +
      "  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT) FROM (SELECT shard, SUM(tot) AS t FROM (" +
      Multimodal.trimodalEmitOracleCtes(s"doc_id < $SeriesMidSql") +
      "\nSELECT shard, tot FROM o) v1o GROUP BY 1) v1t) AS n_windows_v1,\n" +
      "  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT) FROM (SELECT shard, SUM(tot) AS t FROM (" +
      Multimodal.trimodalEmitOracleCtes("1 = 1") +
      "\nSELECT shard, tot FROM o) v2o GROUP BY 1) v2t) AS n_windows_v2,\n" +
      s"  (SELECT COUNT(*) FROM documents WHERE doc_id >= $SeriesMidSql) AS n_docs_added,\n" +
      "  TRUE AS shipped_windows_immutable,\n" +
      "  TRUE AS v2_equals_batch,\n" +
      "  TRUE AS v1_readable_after_republish") { (s, dir) =>
    val world = trimodalSeriesWorld(s, dir)
    val sameWindow = col("a.n_tokens") <=> col("b.n_tokens") &&
      col("a.n_patch") <=> col("b.n_patch") && col("a.window_fp") <=> col("b.window_fp")
    // complete v1 windows must survive byte-identical in v2
    val immDiff = world.v1Windows.filter(col("n_tokens") === 2048).as("a")
      .join(world.v2Windows.as("b"), Seq("shard", "seq_id"), "left_outer")
      .filter(!sameWindow).agg(count(lit(1)).as("n_imm_diff"))
    val batchDiff = world.v2Windows.as("a")
      .join(Multimodal.trimodalEmitWindows(s, dir).as("b"),
        Seq("shard", "seq_id"), "full_outer")
      .filter(!sameWindow).agg(count(lit(1)).as("n_batch_diff"))
    world.v1Windows.agg(count(lit(1)).as("n_windows_v1"))
      .crossJoin(broadcast(world.v2Windows.agg(count(lit(1)).as("n_windows_v2"))))
      .crossJoin(broadcast(Tables.documents(s, dir)
        .filter(col("doc_id") >= world.mid)
        .agg(count(lit(1)).as("n_docs_added"))))
      .crossJoin(broadcast(immDiff))
      .crossJoin(broadcast(batchDiff))
      .select(col("n_windows_v1"), col("n_windows_v2"), col("n_docs_added"),
        (col("n_imm_diff") === 0).as("shipped_windows_immutable"),
        (col("n_batch_diff") === 0).as("v2_equals_batch"),
        lit(world.v1ReadableAfterV2).as("v1_readable_after_republish"))
  }

  /** RELEASE DIFF — the per-shard audit a pipeline operator reads
    * before promoting v2 over v1: how many windows the accreted
    * release ADDS, which shipped window it RECUTS (only a partial
    * tail may ever change under append-only accretion), how many
    * survive byte-identical, and the token-mass / raw-document delta
    * behind the change. The engine classifies by CONTENT — a
    * full-outer join of the two shipped window frames on
    * (shard, seq_id) with a fingerprint compare — while the oracle
    * derives the same counts ARITHMETICALLY from the two releases'
    * per-shard token totals (ceil-div window counts; recut ⟺ the v1
    * tail was partial and the shard grew; removed ≡ 0). The two
    * derivations agree ONLY if accretion strictly appended to each
    * shard's token stream, so the diff doubles as the append-only
    * certificate at per-shard granularity — a finer pin than
    * `stream_trimodal_republish`'s corpus-level booleans.
    *
    * Scale shape: the join is shard+seq_id equi (windows, not
    * tokens — the frames are already the release artifacts, memoized
    * by the series world); the doc-delta side is a 4-row broadcast.
    */
  val streamTrimodalDiff: Q = Q("mm_release_diff",
    "WITH t1 AS (SELECT shard, CAST(SUM(tot) AS BIGINT) AS t FROM (" +
      Multimodal.trimodalEmitOracleCtes(s"doc_id < $SeriesMidSql") +
      "\nSELECT shard, tot FROM o) x1 GROUP BY 1),\n" +
      "t2 AS (SELECT shard, CAST(SUM(tot) AS BIGINT) AS t FROM (" +
      Multimodal.trimodalEmitOracleCtes("1 = 1") +
      "\nSELECT shard, tot FROM o) x2 GROUP BY 1),\n" +
      s"d AS (SELECT doc_id % 4 AS shard, COUNT(*) AS n_docs_added FROM documents WHERE doc_id >= $SeriesMidSql GROUP BY 1),\n" +
      """j AS (SELECT t2.shard AS shard, COALESCE(t1.t, 0) AS ta, t2.t AS tb
        |       FROM t2 LEFT JOIN t1 USING (shard))
        |SELECT shard,
        |  CAST((ta + 2047) // 2048 AS BIGINT) AS n_windows_v1,
        |  CAST((tb + 2047) // 2048 AS BIGINT) AS n_windows_v2,
        |  CAST((tb + 2047) // 2048 - (ta + 2047) // 2048 AS BIGINT) AS n_added,
        |  CAST(CASE WHEN ta % 2048 <> 0 AND tb > ta THEN 1 ELSE 0 END AS BIGINT) AS n_recut,
        |  CAST((ta + 2047) // 2048
        |       - CASE WHEN ta % 2048 <> 0 AND tb > ta THEN 1 ELSE 0 END AS BIGINT) AS n_preserved,
        |  CAST(0 AS BIGINT) AS n_removed,
        |  CAST(tb - ta AS BIGINT) AS tokens_delta,
        |  COALESCE(d.n_docs_added, 0) AS n_docs_added
        |FROM j LEFT JOIN d USING (shard) ORDER BY shard""".stripMargin) { (s, dir) =>
    val world = trimodalSeriesWorld(s, dir)
    val a = world.v1Windows.select(col("shard"), col("seq_id"),
      col("n_tokens").as("nt1"), col("n_patch").as("np1"), col("window_fp").as("fp1"))
    val b = world.v2Windows.select(col("shard"), col("seq_id"),
      col("n_tokens").as("nt2"), col("n_patch").as("np2"), col("window_fp").as("fp2"))
    val same = col("nt1").isNotNull && col("nt2").isNotNull &&
      col("nt1") === col("nt2") && col("np1") === col("np2") &&
      col("fp1") === col("fp2")
    val docsAdded = Tables.documents(s, dir)
      .filter(col("doc_id") >= world.mid)
      .groupBy((col("doc_id") % 4).as("shard"))
      .agg(count(lit(1)).as("n_docs_added"))
    a.join(b, Seq("shard", "seq_id"), "full_outer")
      .groupBy(col("shard"))
      .agg(
        count(col("nt1")).as("n_windows_v1"),
        count(col("nt2")).as("n_windows_v2"),
        sum(when(col("nt1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("nt1").isNotNull && col("nt2").isNotNull && !same, 1L)
          .otherwise(0L)).as("n_recut"),
        sum(when(same, 1L).otherwise(0L)).as("n_preserved"),
        sum(when(col("nt2").isNull, 1L).otherwise(0L)).as("n_removed"),
        (coalesce(sum(col("nt2")), lit(0L)) -
          coalesce(sum(col("nt1")), lit(0L))).as("tokens_delta"))
      .join(broadcast(docsAdded), Seq("shard"), "left_outer")
      .na.fill(0L, Seq("n_docs_added"))
      .orderBy(col("shard"))
  }

  val all: Seq[Q] = Seq(streamMmEmitIds, streamMmEmitBounds, streamMmEmitIdFreq,
    streamMmEmitGated, streamTrimodalEmitIds, streamTrimodalBounds,
    streamPackEfficiency, streamMmPackWhole, streamTrimodalIdFreq, streamTrimodalGated,
    streamTrimodalShuffle, streamTrimodalResume, streamTrimodalEpochs,
    streamTrimodalCurriculum,
    streamTrimodalCard, streamTrimodalForget, streamTrimodalRepublish,
    streamTrimodalDiff)
}
