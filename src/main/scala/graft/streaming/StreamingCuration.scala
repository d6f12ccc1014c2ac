package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import graft.Q
import graft.queries.{Curation, TextOps}
import graft.sources.{FrameStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The curation pipeline OPERATED CONTINUOUSLY — the end-to-end
  * composition the north star describes: documents arrive as a
  * stream (in ingest order), and every micro-batch runs the full
  * published curation stack against PERSISTED promoted state:
  *
  *  1. exact dedup — content fingerprint vs the fp index artifact
  *     (+ in-batch first-seen), the streaming form of the min-id
  *     keeper rule;
  *  2. near dedup — the batch's shingles vs the growing shingle
  *     index ([[StreamingDedup.dedupBatchAgainstIndex]]): the doc on
  *     the later side of any J ≥ 0.5 pair is dropped, exactly the
  *     batch pipeline's d2 rule;
  *  3. boilerplate LINE scrub + exact-substring SPAN scrub — PREFIX
  *     semantics against per-(fp, batch) distinct-carrier count
  *     states (the [[StreamingLineDedup]] / [[StreamingSpanDedup]]
  *     artifacts), applied as a UNION position mask by the
  *     [[graft.functions.MultiScrub]] kernel;
  *  4. decontamination — 8-gram overlap vs the FIXED promoted
  *     benchmark gram index (benchmarks are known up front — the
  *     same artifact `text_decontaminate_incremental` screens
  *     against);
  *  5. language + quality gates recomputed over the SCRUBBED kept
  *     tokens, then the PII plant+redact tail on retained docs —
  *     all via the batch pipeline's own
  *     [[TextOps.scrubbedQuality]] / [[TextOps.curationDecide]].
  *
  * Decisions land per batch; after the stream drains, the retained
  * corpus is packed by the same [[TextOps.packRetained]] the batch
  * `text_curation_pack` uses. Because arrivals are processed in
  * doc_id (ingest) order, "first seen wins" coincides with the batch
  * pipeline's global min-id keeper rule, so the streamed result is
  * EXACTLY the batch result no matter how the corpus is sliced into
  * micro-batches — pinned by StreamingSpec across three slicings and
  * by sharing `text_curation_pack`'s DuckDB oracle.
  *
  * All per-batch state lives in promoted on-disk artifacts (fp
  * index, shingle index, benchmark grams) — a killed curation stream
  * resumes from the checkpoint + the artifacts, like
  * [[StreamingDedup]].
  */
object StreamingCuration {

  val ShingleIdx = "curation_shingles"
  val FpIdx = "curation_fps"
  val LineCounts = "curation_line_counts"
  val SpanCounts = "curation_span_counts"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       store: FrameStore, benchStore: FrameStore,
                       schema: org.apache.spark.sql.types.StructType,
                       quality: Option[FrameStore] = None,
                       shadow: Boolean = false) extends graft.Reapable {
    /** Where the SHADOW learned decisions land (see [[processBatch]]). */
    def learnedOutDir: String = outDir + "-learned"
    /** Eviction reaps the whole stream world (arrivals, decisions,
      * shadow record, windows, checkpoint, store) — everything lives
      * under the one temp dir [[prepare]] created. */
    def reapRoots: Seq[String] =
      Seq(java.nio.file.Paths.get(outDir).getParent.toString)
  }

  /** Stream world: empty fp + shingle indexes (the whole corpus
    * arrives as the stream), the full benchmark gram artifact (fixed
    * external input), fresh dirs.
    *
    * `quality` configures the LEARNED gate; with `shadow = true` the
    * MAIN decision path stays heuristic (so emit/pack artifacts keep
    * the batch heuristic oracle) and the learned cascade writes to
    * [[Env.learnedOutDir]] as a per-batch SHADOW record — the
    * shadow-deployment shape a pipeline runs before switching gates,
    * and what lets ONE stream pass certify all three curation modes
    * (pack, emission, learned gate). Because `low_quality` is the
    * LAST cascade stage and decisions never feed back into the
    * fp/shingle/count state, the shadow record is row-identical to a
    * learned-GATED stream's decisions (pinned in QualityGateSpec). */
  def prepare(spark: SparkSession, dir: String,
              quality: Option[FrameStore] = None,
              shadow: Boolean = false): Env = {
    val tmp = Files.createTempDirectory("graft-stream-curation-").toString
    val docs = Tables.documents(spark, dir)
    val store = new FrameStore(s"$tmp/store")
    seedState(spark, store, docs.filter(lit(false)), batchId = -1L)
    Env(s"$tmp/in", s"$tmp/decisions", s"$tmp/ckpt",
      store, TextOps.benchGramStore(spark, dir), docs.schema, quality, shadow)
  }

  /** Register + promote the four curation state artifacts (fp index,
    * shingle index, line-carrier counts, span-carrier counts) from a
    * SEED documents frame — empty for a fresh stream world, or a
    * pre-ingested corpus stamped with its batch id (the replay spec's
    * mid-stream world). Every row carries its appending batch's id
    * (PROVENANCE): a replayed micro-batch recovers the exact
    * earlier-batch state by filtering out rows stamped with its OWN
    * batch id — keyed on provenance, not doc_id, so a doc_id
    * legitimately re-delivered in a LATER batch keeps its genuine
    * earlier row and is caught as an exact dup instead of escaping
    * ([[processBatch]]). */
  def seedState(spark: SparkSession, store: FrameStore, seed: DataFrame,
                batchId: Long): Unit = {
    store.promote(ShingleIdx,
      store.register(spark, ShingleIdx,
        TextOps.hashedShingleArrays(seed).withColumn("batch_id", lit(batchId))))
    store.promote(FpIdx,
      store.register(spark, FpIdx,
        seed.select(col("doc_id"), md5(col("text")).as("fp"))
          .withColumn("batch_id", lit(batchId))))
    // per-(fp, batch) distinct-doc-count state for the two scrub
    // stages — the [[StreamingLineDedup]] / [[StreamingSpanDedup]]
    // artifact shape, collapsed at drain by [[snapshotCounts]]
    store.promote(LineCounts,
      store.register(spark, LineCounts,
        TextOps.lineSegments(seed).withColumn("fp", xxhash64(col("line")))
          .select(col("fp"), col("doc_id")).distinct()
          .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
          .withColumn("batch_id", lit(batchId))))
    store.promote(SpanCounts,
      store.register(spark, SpanCounts,
        TextOps.spanStarts(seed)
          .select(col("fp"), col("doc_id")).distinct()
          .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
          .withColumn("batch_id", lit(batchId))))
  }

  /** Land the corpus as `slices` contiguous doc_id ranges, one file
    * per future micro-batch, stamped with increasing mtimes so the
    * file source replays them in ingest order deterministically. */
  def addArrivalsOrdered(spark: SparkSession, env: Env, dir: String, slices: Int): Unit =
    landOrderedSlices(spark, env.inDir, dir, slices)

  /** [[addArrivalsOrdered]] for any arrival dir — shared with the
    * other ingest-ordered streaming twins ([[StreamingMixPack]]). */
  def landOrderedSlices(spark: SparkSession, inDir: String, dir: String, slices: Int): Unit =
    landOrderedSlicesOf(Tables.documents(spark, dir), "doc_id", inDir, slices)

  /** Replay-safe snapshot for per-(fp, batch) COUNT state (the
    * line/span dedup twins): rows not stamped by the last applied
    * batch merge into ONE base row per fp at stamp −1 — never a
    * real batchId, so base reads (`batch_id =!= B`) always include
    * it and no replay ever filters it — while the last batch's own
    * rows stay intact as its replay anchors (pruning the rows it
    * superseded would hand an at-least-once retry wrong base
    * counts — the [[StreamingScd2.snapshotState]] discipline).
    * Collapses O(fps·batches) delta rows to O(fps) + the last
    * batch's deltas; the watermark survives via
    * [[graft.sources.VersionedStore.rewrite]]. */
  def snapshotCounts(spark: SparkSession, store: FrameStore, name: String,
                     ckpt: String): Unit = {
    val lastB = store.lastAppliedBatch(name, Some(ckpt)).getOrElse(-1L)
    store.rewrite(spark, name) { df =>
      df.filter(col("batch_id") =!= lastB)
        .groupBy(col("fp")).agg(sum(col("n_docs")).as("n_docs"))
        .withColumn("batch_id", lit(-1L))
        .select(col("fp"), col("n_docs"), col("batch_id"))
        .union(df.filter(col("batch_id") === lastB)
          .select(col("fp"), col("n_docs"), col("batch_id")))
    }
    ()
  }

  /** Land ANY keyed frame as `slices` contiguous id-range files with
    * increasing mtimes — the ingest-ordered arrival layout every
    * streaming twin replays deterministically. */
  def landOrderedSlicesOf(frame: org.apache.spark.sql.DataFrame, idCol: String,
                          inDir: String, slices: Int, tag: String = ""): Unit = {
    val r = frame.agg(min(col(idCol)), max(col(idCol))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = hi - lo + 1
    Files.createDirectories(Paths.get(inDir))
    for (i <- 0 until slices) {
      val from = lo + span * i / slices
      val until = lo + span * (i + 1) / slices
      val staging = Files.createTempDirectory("graft-curation-slice-")
      frame.filter(col(idCol) >= from && col(idCol) < until)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = scala.util.Using.resource(Files.list(staging)) { files =>
        import scala.jdk.CollectionConverters._
        files.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
      }
      val dst = Paths.get(inDir, f"slice-$tag$i%04d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis((i + 1) * 1000L))
    }
  }

  /** One micro-batch of the curation stack against the promoted
    * artifacts; writes the batch's decision rows to a
    * batchId-deterministic directory and extends both indexes via
    * the atomic versioned append.
    *
    * IDEMPOTENT under foreachBatch's at-least-once contract: on a
    * replay whose index appends already committed, the batch's own
    * rows are filtered OUT of the loaded fp/shingle state by batch
    * PROVENANCE — every index row is stamped with the batch_id that
    * appended it, and the load keeps only rows from OTHER batches —
    * so the recomputed decisions are byte-identical to the first run
    * and overwrite the same directory. Each store also skips its
    * already-applied append via the batch watermark
    * ([[graft.sources.VersionedStore.lastAppliedBatch]]) — the two
    * appends carry independent watermarks, so a crash BETWEEN them
    * replays into the exact committed state either way.
    *
    * Provenance (not doc_id) keying makes the normalization exact
    * under RE-DELIVERED doc_ids: a doc_id legitimately arriving
    * again in a later batch keeps its genuine earlier fp row, so the
    * re-delivery is caught as an exact dup instead of silently
    * escaping (the doc_id anti-join this replaces would have
    * subtracted the earlier row as if it were this batch's own
    * replayed append). */
  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = {
    val bs = batch.sparkSession
    graft.functions.GraftFunctions.register(bs)
    // a micro-batch is one small arrival file = one input split;
    // spread it across the session's shuffle width so every per-row
    // text pass (quality, shingles, grams) uses the full executor
    // set, and persist: four consumers read it below
    val docs = batch.repartition(bs.sessionState.conf.numShufflePartitions).persist()
    // the shingle pass (tokenize + hash per row) is the batch's most
    // expensive column op — computed ONCE, shared by the near-dup
    // join and the index append
    val batchHs = TextOps.hashedShingleArrays(docs).persist()
    // line + span scrub masks, PREFIX semantics against the promoted
    // count state: carriers so far = Σ n_docs over OTHER batches'
    // stamps (replay-safe by provenance) + the in-batch rank; in
    // ingest order this reproduces the batch oracle's global rank —
    // the [[StreamingLineDedup]] / [[StreamingSpanDedup]] device,
    // here feeding the composed stack instead of standalone reports
    val wfp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    // doc_ids already ingested (fp index rows of OTHER batches): a
    // legitimately RE-DELIVERED doc_id must contribute NO new line/
    // span carriers — its first delivery is already in the count
    // state, and appending its fps again would fire the scrub mask
    // one distinct carrier early for every doc sharing a line/window
    // with it (batch parity break; spec-pinned below). Its own rank
    // rows drop too: its carrier status lives entirely in the base.
    val seenIds = env.store.loadProduction(bs, FpIdx)
      .getOrElse(sys.error("no production fp index"))
      .filter(col("batch_id") =!= batchId)
      .select(col("doc_id")).distinct()
    val segs = TextOps.lineSegments(docs)
      .withColumn("fp", xxhash64(col("line"))).persist()
    val lineFirsts = segs.select(col("fp"), col("doc_id")).distinct()
      .join(seenIds, Seq("doc_id"), "left_anti")
    val lineBase = env.store.loadProduction(bs, LineCounts)
      .getOrElse(sys.error("no production line counts"))
      .filter(col("batch_id") =!= batchId)
      .groupBy(col("fp")).agg(sum(col("n_docs")).as("base_n"))
    // no broadcast hint on either count state: both grow with the corpus
    val boilSegs = segs.join(
      lineFirsts.withColumn("k", row_number().over(wfp))
        .join(lineBase, Seq("fp"), "left_outer")
        .filter(col("k") + coalesce(col("base_n"), lit(0L)) >= TextOps.LineMinDocs)
        .select(col("fp"), col("doc_id")),
      Seq("fp", "doc_id")).select(col("doc_id"), col("seg_id"))
    val starts = TextOps.spanStarts(docs).persist()
    val spanFirsts = starts.select(col("fp"), col("doc_id")).distinct()
      .join(seenIds, Seq("doc_id"), "left_anti")
    val spanBase = env.store.loadProduction(bs, SpanCounts)
      .getOrElse(sys.error("no production span counts"))
      .filter(col("batch_id") =!= batchId)
      .groupBy(col("fp")).agg(sum(col("n_docs")).as("base_n"))
    val dupStarts = starts.join(
      spanFirsts.withColumn("k", row_number().over(wfp))
        .join(spanBase, Seq("fp"), "left_outer")
        .filter(col("k") + coalesce(col("base_n"), lit(0L)) >= 2)
        .select(col("fp"), col("doc_id")),
      Seq("fp", "doc_id")).select(col("doc_id"), col("i"))
    val perDoc = TextOps.scrubbedQuality(docs, boilSegs, dupStarts)
    // 1. exact: promoted fp index = "seen in an earlier batch";
    //    replayed own-batch rows are dropped by PROVENANCE (their
    //    batch_id stamp — a filter, no shuffle, and exact even when a
    //    doc_id is legitimately re-delivered later); in-batch ties
    //    resolve to the smallest doc_id (same batch ⇒ same ingest
    //    cycle ⇒ min-id keeper, matching the batch rule)
    val seen = env.store.loadProduction(bs, FpIdx)
      .getOrElse(sys.error("no production fp index"))
      .filter(col("batch_id") =!= batchId)
      .select(col("fp")).distinct().withColumn("seen", lit(true))
    val exact = perDoc.join(seen, Seq("fp"), "left_outer")
      .withColumn("batch_keeper", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .withColumn("is_exact_dup",
        coalesce(col("seen"), lit(false)) || col("doc_id") =!= col("batch_keeper"))
    // 2. near: later side of any J ≥ 0.5 pair vs index ∪ batch; own
    //    replayed rows again dropped by provenance, so the shared
    //    dedup join skips its doc_id-keyed normalization shuffle
    val idx = env.store.loadProduction(bs, ShingleIdx)
      .getOrElse(sys.error("no production shingle index"))
      .filter(col("batch_id") =!= batchId)
    val nearIds = StreamingDedup.dedupShinglesAgainstIndex(batchHs, idx,
        normalizeReplay = false)
      .select(col("d2").as("doc_id")).distinct().withColumn("is_near_dup", lit(true))
    // 3. contaminated: overlap vs the fixed benchmark gram artifact
    //    (benchmark docs themselves are never screened — batch rule)
    val bench = env.benchStore.loadProduction(bs, "bench_grams")
      .getOrElse(sys.error("no production benchmark gram index"))
      .withColumn("hit", lit(1))
    val contamIds = TextOps.hashedGrams8(docs.filter(col("doc_id") % 4 =!= 3))
      .join(bench, Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit").cast("double") / col("n_grams") >= 0.5)
      .select(col("doc_id")).withColumn("is_contam", lit(true))
    // 4.-8. the shared decision cascade + retained-docs PII tail —
    //       the SAME code path the batch pipeline runs. With a quality
    //       store configured, the low_quality stage uses the LEARNED
    //       closed-form LR score, re-resolving the PRODUCTION model
    //       EVERY batch (the stream_ann_query discipline) so a
    //       mid-stream promotion takes effect at the next batch.
    val marked = exact
      .join(nearIds, Seq("doc_id"), "left_outer")
      .join(contamIds, Seq("doc_id"), "left_outer")
    def learnedDecisions(qstore: FrameStore): DataFrame = {
      val model = qstore.loadProduction(bs, graft.ml.QualityModel.ModelName)
        .getOrElse(sys.error("no production quality model"))
      val proba = graft.ml.QualityModel.scoreClosedForm(
        marked.select(col("doc_id"), split(col("kept_text"), " ").as("toks")), model)
      TextOps.curationDecideWith(marked.join(proba, Seq("doc_id")),
        col("proba") < 0.5)
    }
    // The decision write(s) and the four index appends are INDEPENDENT
    // actions over frames the shared-cascade materialization already
    // persisted (docs/batchHs/segs/starts), each latency-bound at
    // micro-batch sizes — run them CONCURRENTLY (guide §2.6, the
    // trimodal FacePool discipline): every action keeps its exact
    // sequential lineage and output location, the appends target four
    // DISTINCT store names (staged-rename versioning tolerates
    // concurrent writers by design), and every production read either
    // resolved its version path eagerly above or filters this batch's
    // own stamp, so ordering among the actions is immaterial.
    val (decisionActs, sharedPin): (Seq[() => Unit], Option[DataFrame]) =
      env.quality match {
        case Some(qstore) if env.shadow =>
          // shadow mode lands BOTH faces: the cascade's gate-invariant
          // prefix + PII tail is computed ONCE (localCheckpoint — the
          // tail regexes were the stack's second-most-expensive pass,
          // paid twice per batch before this), then each gate is a
          // cheap projection. The learned face scores only pre-quality
          // survivors: the gate can only fire where the prefix kept the
          // doc, so the decisions are unchanged.
          val shared = TextOps.curationDecideShared(marked).localCheckpoint(true)
          val heurFace = () => {
            TextOps.decideFromShared(shared, col("quality_score") < 0.7)
              .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
            ()
          }
          val learnedFace = () => {
            val model = qstore.loadProduction(bs, graft.ml.QualityModel.ModelName)
              .getOrElse(sys.error("no production quality model"))
            val proba = graft.ml.QualityModel.scoreClosedForm(
              shared.filter(col("pre_drop").isNull)
                .select(col("doc_id"), split(col("kept_text"), " ").as("toks")), model)
            TextOps.decideFromShared(shared.join(proba, Seq("doc_id"), "left_outer"),
                col("proba") < 0.5)
              .write.mode("overwrite").parquet(s"${env.learnedOutDir}/batch=$batchId")
            ()
          }
          (Seq(heurFace, learnedFace), Some(shared))
        case Some(qstore) =>
          (Seq(() => {
            learnedDecisions(qstore)
              .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
            ()
          }), None)
        case None =>
          (Seq(() => {
            TextOps.curationDecide(marked)
              .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
            ()
          }), None)
      }
    // the indexes grow with EVERY doc (dropped docs still index —
    // the batch pipeline's pair list spans the whole corpus)
    val appendActs: Seq[() => Unit] = Seq(
      () => { env.store.appendBatch(bs, ShingleIdx,
        batchHs.withColumn("batch_id", lit(batchId)),
        batchId = Some(batchId), streamId = Some(env.ckpt)); () },
      () => { env.store.appendBatch(bs, FpIdx,
        docs.select(col("doc_id"), md5(col("text")).as("fp"))
          .withColumn("batch_id", lit(batchId)),
        batchId = Some(batchId), streamId = Some(env.ckpt)); () },
      () => { env.store.appendBatch(bs, LineCounts,
        lineFirsts.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
          .withColumn("batch_id", lit(batchId)),
        batchId = Some(batchId), streamId = Some(env.ckpt)); () },
      () => { env.store.appendBatch(bs, SpanCounts,
        spanFirsts.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
          .withColumn("batch_id", lit(batchId)),
        batchId = Some(batchId), streamId = Some(env.ckpt)); () })
    try StreamPools.runAll(decisionActs ++ appendActs)
    finally {
      // shared is dead once both faces landed (or the batch failed and
      // will replay) — free its checkpoint blocks now rather than
      // letting past batches' pins wait on driver GC + ContextCleaner
      sharedPin.foreach(org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint)
      starts.unpersist()
      segs.unpersist()
      batchHs.unpersist()
      docs.unpersist()
    }
    ()
  }

  /** One `AvailableNow` pass over the arrival files, resuming from
    * the checkpoint — the restartable unit. */
  def runPass(spark: SparkSession, env: Env): Unit = {
    val q = spark.readStream.schema(env.schema)
      .option("maxFilesPerTrigger", 1).parquet(env.inDir)
      .writeStream
      .option("checkpointLocation", env.ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) processBatch(batch, batchId, env)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  def streamedDecisions(spark: SparkSession, env: Env): DataFrame =
    spark.read.parquet(env.outDir).drop("batch")

  /** Streaming twin of `text_curation_pack` — same oracle: the
    * continuously-operated pipeline must pack exactly the sequences
    * the batch pipeline packs. Packs the landed decision records of
    * the ONE consolidated stream pass ([[StreamingEmit.unifiedRun]])
    * instead of draining its own stream; slicing robustness stays
    * pinned in StreamingSpec, which drives
    * [[prepare]]/[[addArrivalsOrdered]]/[[runPass]] directly at
    * 2/3/5 slices. */
  val streamCurationPack: Q = Q("stream_curation_pack",
    TextOps.curationPack.oracle.get) { (s, dir) =>
    TextOps.packRetained(StreamingEmit.unifiedRun(s, dir).decisions
      .filter(col("drop_reason").isNull)
      .select(col("source"), col("doc_id"), col("final_tokens").as("n_tokens")))
  }

  /** Streaming twin of `text_data_card` — same oracle: the datasheet
    * is a content-determined rollup of the decision records, so the
    * continuously-landed records of the ONE consolidated pass
    * ([[StreamingEmit.unifiedRun]]) must produce the byte-identical
    * card. In production this is the card a long-running curation
    * service publishes per release cut, straight off the landed
    * decisions — no batch replay. */
  val streamDataCard: Q = Q("stream_data_card",
    TextOps.dataCard.oracle.get) { (s, dir) =>
    TextOps.dataCardOf(StreamingEmit.unifiedRun(s, dir).decisions)
  }

  /** Streaming twin of `text_emit_doc_bounds` — same oracle: the
    * attention-mask manifest is a content-determined fact of the
    * decision records, so the consolidated pass's landed records
    * must yield the byte-identical per-window boundary list the
    * batch emission publishes beside its shards. */
  val streamEmitBounds: Q = Q("stream_emit_doc_bounds",
    TextOps.curationEmitBounds.oracle.get) { (s, dir) =>
    TextOps.emitBoundsOf(StreamingEmit.unifiedRun(s, dir).decisions)
  }

  /** Streaming twin of `text_quality_hist` — same oracle: the
    * threshold-calibration histogram computed continuously off the
    * consolidated pass's landed decision records. */
  val streamQualityHist: Q = Q("stream_quality_hist",
    TextOps.qualityHist.oracle.get) { (s, dir) =>
    TextOps.qualityHistOf(StreamingEmit.unifiedRun(s, dir).decisions)
  }

  /** Streaming twin of `text_emit_id_freq` — same oracle: the
    * continuous id-frequency monitor a long-running emission service
    * publishes, weighed from the consolidated pass's landed records
    * against the release symbol table. */
  val streamEmitIdFreq: Q = Q("stream_emit_id_freq",
    TextOps.emitIdFreq.oracle.get) { (s, dir) =>
    TextOps.emitIdFreqOf(s, dir, StreamingEmit.unifiedRun(s, dir).decisions)
  }

  /** The streamed pipeline with the LEARNED quality gate, certified
    * — the `stream_ann_query` discipline applied to curation: the
    * closed-form LR artifact ([[graft.ml.QualityModel.closedForm]])
    * is promoted in a registry store, EVERY micro-batch re-resolves
    * the PRODUCTION version (a mid-stream promotion takes effect at
    * the next batch — pinned in QualityGateSpec), and after the
    * drain the streamed decisions must be row-identical to the batch
    * learned pipeline run against the same model version. The oracle
    * recomputes the gate-invariant facts exactly (corpus size, and
    * the pre-quality drop count — identical under either quality
    * scorer because `low_quality` is the LAST cascade stage) and
    * emits the Spark-only parity facts as booleans. */
  val streamCurationLearned: Q = Q("stream_curation_learned",
    TextOps.curationOracleBody +
      """
      |SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason IS NOT NULL AND drop_reason <> 'low_quality') AS BIGINT)
      |    AS n_dropped_pre_quality,
      |  TRUE AS stream_equals_batch,
      |  TRUE AS same_model_version
      |FROM fin2""".stripMargin) { (s, dir) =>
    // the streamed learned decisions come from the ONE consolidated
    // pass's SHADOW record ([[StreamingEmit.unifiedRun]]) — identical
    // rows to a learned-GATED stream (quality is the last cascade
    // stage and decisions never feed back into state; pinned in
    // QualityGateSpec), with the same per-batch PRODUCTION re-resolve.
    // Hot-reload + slicing parity stay pinned on the standalone gated
    // runner in QualityGateSpec.
    val un = StreamingEmit.unifiedRun(s, dir)
    // batch twin scores with the MODEL THE STREAM USED (pinned in the
    // unified artifacts) — re-resolving production here would open a
    // drift window between the memoized run and this certificate
    val batchDec = TextOps.curationLearnedDecisionsCached(s, dir, un.qmodel)
    val streamed = un.learned
    val cmpCols = streamed.columns.filterNot(_ == "doc_id").toSeq
    val diff = streamed.as("a").join(batchDec.as("r"), Seq("doc_id"), "full_outer")
      .filter(!cmpCols.map(c => col(s"a.$c") <=> col(s"r.$c")).reduce(_ && _))
      .agg(count(lit(1)).as("n_diff"))
    Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(batchDec
        .filter(col("drop_reason").isNotNull && col("drop_reason") =!= "low_quality")
        .agg(count(lit(1)).as("n_dropped_pre_quality"))))
      .crossJoin(broadcast(diff))
      .select(col("n_docs"), col("n_dropped_pre_quality"),
        (col("n_diff") === 0).as("stream_equals_batch"),
        lit(un.sameModelVersion).as("same_model_version"))
  }

  /** Streaming twin of `text_chunk_windows` — the chunker run as a
    * continuous map over arriving documents. Stateless (each doc's
    * chunks depend on that doc alone), so the exactly-once story is
    * just the file-source checkpoint + parquet sink commit log: no
    * state store, no watermark, no replay normalization needed, and
    * the plan inside every micro-batch is the same shuffle-free
    * explode the batch query runs. Shares the batch oracle — the
    * continuously-operated chunker must emit exactly the chunks the
    * batch pass emits, however arrivals are sliced. */
  val streamChunkWindows: Q = Q("stream_chunk_windows",
    TextOps.chunkWindows.oracle.get) { (s, dir) =>
    runStatelessTwin(s, dir, TextOps.chunkFrame)
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Streaming twin of `text_mix_epochs` — the replication mix as a
    * continuous map over arriving documents, same stateless
    * exactly-once story as [[streamChunkWindows]] and the same batch
    * oracle: the replica multiset is per-doc deterministic (md5
    * coin), so slicing arrivals can never change what gets emitted —
    * exactly the reproducibility property a continuously-assembled
    * training corpus needs. */
  val streamMixEpochs: Q = Q("stream_mix_epochs",
    Curation.epochMix.oracle.get) { (s, dir) =>
    runStatelessTwin(s, dir, docs =>
      Curation.mixFrame(docs)
        .select(col("doc_id"), col("source"), round(col("weight"), 6).as("weight"),
          col("rep").cast("long").as("rep")))
      .orderBy(col("doc_id"), col("rep"))
  }

  /** Streaming twin of `text_pii_redact` — the privacy scrub run
    * continuously over arriving documents, the deployment shape a
    * compliance pipeline actually wants (PII never rests unredacted
    * past one micro-batch). Stateless per doc, so the same
    * checkpoint+commit-log exactly-once story as
    * [[streamChunkWindows]]; shares the batch oracle — redaction of
    * a doc can never depend on how arrivals were sliced. */
  val streamPiiRedact: Q = Q("stream_pii_redact",
    graft.queries.Privacy.piiRedact.oracle.get) { (s, dir) =>
    runStatelessTwin(s, dir, graft.queries.Privacy.redactFrame)
      .orderBy(col("doc_id"))
  }

  /** Run a STATELESS per-document transform as an `AvailableNow`
    * stream over the sf dir's documents table and read the sink
    * back. Stateless twins need no state store, watermark, or replay
    * normalization: the file-source checkpoint plus the parquet
    * commit log are the whole exactly-once story, and the per-batch
    * plan is identical to the batch query's. */
  def runStatelessTwin(s: SparkSession, dir: String,
                       transform: DataFrame => DataFrame): DataFrame = {
    val scratch = graft.sources.Scratch.dir("graft-twin-").toString
    val ckpt = s"$scratch/ckpt"
    val out  = s"$scratch/rows"
    // the stream reads the file's PHYSICAL schema, then normalizes
    // through the same transform as the batch loader — a physical-type
    // drift (int32 doc_id, …) changes both sides together instead of
    // silently de-normalizing only the streaming twin
    val frame = transform(Tables.normalizeDocuments(
      s.readStream
        .schema(s.read.parquet(s"$dir/documents.parquet").schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)))
    val q = frame.writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.schema(frame.schema).parquet(out)
  }

  val all: Seq[Q] = Seq(streamCurationPack, streamCurationLearned, streamDataCard,
    streamEmitBounds, streamEmitIdFreq, streamQualityHist, streamChunkWindows,
    streamMixEpochs, streamPiiRedact)
}
