package graft.streaming

import graft.Q
import graft.SessionCaches.{cutLineage, pinned}
import graft.queries.Curation
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus drift monitor OPERATED CONTINUOUSLY — and ACTING on the
  * pipeline. Two faces over one stream pass:
  *
  *  - `stream_corpus_drift`: documents arrive as a stream, every
  *    micro-batch buckets its rows against the STATIC structural-slice
  *    anchors and lands its partial `(slice, feature, bucket, c)`
  *    count frame; the drained partials SUM to the batch scan's exact
  *    counts (counts are additive, so the monitor composes over any
  *    slicing), and the PSI report off the summed frame is
  *    byte-identical to the batch query — shares its oracle verbatim.
  *  - `stream_drift_quarantine`: the monitor GATES the corpus — each
  *    arriving doc also lands in a per-slice staging manifest, and at
  *    the drain every slice gets a promotion verdict (BOTH feature
  *    PSIs under the moderate-shift bound 0.1 ⇒ promoted); only the
  *    clean slices' docs promote into the `corpus_clean` release
  *    artifact. A drifted crawl slice is HELD BACK, not trained on —
  *    the act the monitor exists for. The certificate's
  *    `clean_corpus_matches_manifest` leg pins the promoted artifact
  *    row count against the verdicts it claims.
  *
  * No cross-batch store is needed for the counts: each partial is
  * keyed by its batch id directory, so a replayed batch OVERWRITES
  * its own partial instead of double-counting (idempotent by
  * construction); the staging manifests ride the same discipline.
  *
  * Scale shape: the per-batch work is one map-side-combinable
  * groupBy on a bounded key alphabet (4 slices × {10 length bands +
  * |langs|}) plus a two-column manifest append; the drain-time sum,
  * PSI arithmetic, and verdict pivot run over ≤ a few dozen rows,
  * and the promotion join prunes on the ≤ 4-value slice key.
  */
object StreamingDrift {

  /** Moderate-shift PSI bound (industry convention: < 0.1 stable,
    * 0.1–0.2 moderate, > 0.2 major) — a slice must clear it on EVERY
    * feature to promote. */
  val QuarantinePsi = 0.1

  val CleanCorpusName = "corpus_clean"

  final case class Env(inDir: String, outDir: String, ckpt: String,
                       mn: Long, mx: Long, store: FrameStore,
                       schema: org.apache.spark.sql.types.StructType) {
    def docsDir: String = outDir + "-docs"
  }

  /** The drained world: summed counts, the PSI report, the per-slice
    * staging manifests, and the promoted clean-corpus artifact. */
  final case class DriftWorld(env: Env, counts: DataFrame, report: DataFrame,
                              staged: DataFrame, cleanCount: Long)
      extends graft.Reapable {
    def reapRoots: Seq[String] =
      Seq(java.nio.file.Paths.get(env.outDir).getParent.toString)
  }

  def prepare(spark: SparkSession, dir: String,
              docs: DataFrame): Env = {
    val scratch = Scratch.dir("graft-drift-").toString
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    Env(s"$scratch/in", s"$scratch/counts", s"$scratch/ckpt",
      r.getLong(0), r.getLong(1), new FrameStore(s"$scratch/store"), docs.schema)
  }

  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = {
    val sliced = Curation.driftBuckets(batch, env.mn, env.mx)
    sliced.groupBy(col("slice"), col("feature"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"${env.outDir}/batch=$batchId")
    batch.select(
        Curation.sliceCol(env.mn, env.mx).as("slice"),
        col("doc_id"))
      .write.mode("overwrite").parquet(s"${env.docsDir}/batch=$batchId")
    ()
  }

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.schema, env.inDir, env.ckpt)((batch, batchId) =>
      processBatch(Tables.normalizeDocuments(batch), batchId, env))

  /** Drained partial counts summed back to the batch scan's frame. */
  def drainedCounts(spark: SparkSession, env: Env): DataFrame =
    spark.read.parquet(env.outDir).drop("batch")
      .groupBy(col("slice"), col("feature"), col("bucket"))
      .agg(sum(col("c")).as("c"))

  /** Per-slice promotion verdicts off a PSI report: EVERY feature's
    * ROUNDED psi must clear [[QuarantinePsi]] (slice 0 is the
    * reference — vacuously clean). Emits one `psi_<feature>` column
    * per feature; `nsFeature` names the feature whose count mass is
    * the slice population. */
  private[graft] def verdicts(counts: DataFrame, report: DataFrame,
                              features: Seq[String] = Seq("len", "lang"),
                              nsFeature: String = "len"): DataFrame = {
    val ns = counts.filter(col("feature") === nsFeature)
      .groupBy(col("slice")).agg(sum(col("c")).as("n_docs"))
    val aggs = features.map(f =>
      max(when(col("feature") === f, col("psi"))).as(s"psi_$f"))
    val piv = report.groupBy(col("slice")).agg(aggs.head, aggs.tail: _*)
    ns.join(piv, Seq("slice"), "left_outer")
      .na.fill(0.0, features.map(f => s"psi_$f"))
      .withColumn("promoted",
        features.map(f => col(s"psi_$f") < QuarantinePsi).reduce(_ && _))
      .withColumn("n_docs_promoted",
        when(col("promoted"), col("n_docs")).otherwise(0L))
  }

  /** One drained drift world per (application, input): stream pass,
    * summed counts, PSI report, and the clean-corpus promotion. */
  private val worldMemo = graft.SessionCaches.memo[DriftWorld]

  private[graft] def driftWorld(s: SparkSession, dir: String): DriftWorld =
    consolidated(worldMemo, s, dir)

  /** The full pass over an arbitrary documents frame — exposed so the
    * planted-drift spec can drive a corpus whose tail slice genuinely
    * shifts. */
  private[graft] def buildWorld(s: SparkSession, dir: String, docs: DataFrame,
                                slices: Int): DriftWorld = {
    val env = prepare(s, dir, docs)
    StreamingCuration.landOrderedSlicesOf(docs, "doc_id", env.inDir, slices)
    runPass(s, env)
    val counts = cutLineage(drainedCounts(s, env))
    val report = cutLineage(Curation.psiReport(s, counts))
    val staged = s.read.parquet(env.docsDir).drop("batch")
    val clean = verdicts(counts, report)
      .filter(col("promoted")).select(col("slice"))
    // ≤ 4-row promotion key — the slice prune IS the quarantine
    val cleanDocs = staged.join(broadcast(clean), Seq("slice"))
    env.store.publish(s, CleanCorpusName, cleanDocs)
    val cleanCount = env.store.production(s, CleanCorpusName).count()
    DriftWorld(env, counts, report, staged, cleanCount)
  }

  /** The MEDIA face: same slicing + count + staging discipline, the
    * decoded loudness bucketer — the drained partials sum to
    * `mm_media_drift`'s count frame for any slicing, and the
    * quarantine gate promotes only clean slices' clips into the
    * `media_clean` artifact. */
  final case class MediaDriftWorld(env: Env, counts: DataFrame,
                                   report: DataFrame, cleanCount: Long)
      extends graft.Reapable {
    def reapRoots: Seq[String] =
      Seq(java.nio.file.Paths.get(env.outDir).getParent.toString)
  }

  val MediaCleanName = "media_clean"

  private val mediaMemo = graft.SessionCaches.memo[MediaDriftWorld]

  private[graft] def mediaDriftWorld(s: SparkSession, dir: String): MediaDriftWorld =
    consolidated(mediaMemo, s, dir)

  // ------------------------------------------ cross-release baseline face
  /** The drained cross-release world: the promoted baseline's
    * version, the new crawl's summed per-slice counts, the PSI
    * report AGAINST the promoted baseline, and the clean-corpus
    * promotion it gated. */
  final case class BaselineDriftWorld(env: Env, baseVersion: Int,
      newCounts: DataFrame, report: DataFrame, cleanCount: Long)
      extends graft.Reapable {
    def reapRoots: Seq[String] =
      Seq(java.nio.file.Paths.get(env.outDir).getParent.toString)
  }

  private val baselineMemo = graft.SessionCaches.memo[BaselineDriftWorld]

  private[graft] def baselineDriftWorld(s: SparkSession, dir: String): BaselineDriftWorld =
    consolidated(baselineMemo, s, dir)

  /** The full cross-release pass over arbitrary baseline/new-crawl
    * frames — exposed so the planted-drift spec can drive a new
    * crawl whose tail slice genuinely shifts off the baseline. */
  private[graft] def buildBaselineWorld(s: SparkSession, dir: String, base: DataFrame,
      newDocs: DataFrame, slices: Int): BaselineDriftWorld = {
    // slice anchors come from the NEW crawl (the population under
    // judgment); the reference is the PROMOTED artifact, not a slice
    val env = prepare(s, dir, newDocs)
    // the last release pinned its distribution BEFORE this crawl ran
    env.store.publish(s, Curation.DriftBaselineName, Curation.baselineCounts(base))
    StreamingCuration.landOrderedSlicesOf(newDocs, "doc_id", env.inDir, slices)
    runPass(s, env)
    val counts = cutLineage(drainedCounts(s, env))
    val (bv, report) = baselineReport(s, env, counts)
    val clean = verdicts(counts, report)
      .filter(col("promoted")).select(col("slice"))
    val cleanDocs = s.read.parquet(env.docsDir).drop("batch")
      .join(broadcast(clean), Seq("slice"))
    env.store.publish(s, CleanCorpusName, cleanDocs)
    val cleanCount = env.store.production(s, CleanCorpusName).count()
    BaselineDriftWorld(env, bv, counts, cutLineage(report), cleanCount)
  }

  /** RE-RESOLVE the production baseline and report against it — the
    * pointer read the promote-then-drift spec re-drives after
    * promoting a new baseline version. */
  private[graft] def baselineReport(s: SparkSession, env: Env,
      counts: DataFrame): (Int, DataFrame) = {
    val bv = env.store.productionVersion(Curation.DriftBaselineName)
      .getOrElse(sys.error("no promoted drift baseline"))
    val base = env.store.production(s, Curation.DriftBaselineName)
    (bv, Curation.psiVsBaseline(counts, base, bv))
  }

  /** The MEDIA face of the cross-release device: the last release's
    * decoded-loudness distribution registers + promotes as the
    * baseline, the new crawl's clips stream in and bucket per batch,
    * and the drain judges each slice against the RE-RESOLVED
    * production baseline — promoting only clearing slices' clips. */
  private val mediaBaselineMemo = graft.SessionCaches.memo[BaselineDriftWorld]

  private[graft] def mediaBaselineWorld(s: SparkSession, dir: String): BaselineDriftWorld =
    consolidated(mediaBaselineMemo, s, dir)

  /** ONE consolidated drift drain per (application, sf dir) — the
    * four sf-corpus drift worlds (within-scan text, within-scan
    * media, cross-release text, cross-release media) used to pay
    * four separate stream passes over the same corpus; per-slice
    * bucket counts are additive facts, so one AvailableNow drain
    * places ALL FOUR faces per micro-batch (the trimodal
    * consolidated-pass rule): the text face and its new-crawl
    * (doc_id ≥ mid) restriction, and the media face off ONE decode
    * pass per batch (persisted for the batch, so the full-corpus and
    * new-crawl media counts share it). Each face keeps its own count
    * dirs, its own [[FrameStore]] (the two clean-corpus artifacts
    * and the two baselines stay independently versioned), and its
    * own slice anchors — every downstream report is byte-identical
    * to what its standalone pass produced, which the unchanged
    * oracles re-certify. The planted-drift specs still drive
    * [[buildWorld]]/[[buildBaselineWorld]] standalone. */
  private def consolidated[W](memo: graft.SessionCaches.Memo[W], s: SparkSession,
                               dir: String): W = {
    if (!Seq(worldMemo, mediaMemo, baselineMemo, mediaBaselineMemo)
        .forall(_.contains(s, dir))) buildConsolidatedWorlds(s, dir)
    memo(s, dir)(sys.error(s"drift world for $dir evicted while it was read"))
  }

  private def buildConsolidatedWorlds(s: SparkSession, dir: String): Unit = {
    import graft.multimodal.Multimodal
    val docs = Tables.documents(s, dir)
    val mid = Curation.releaseMid(s, dir)
    val base = docs.filter(col("doc_id") < mid)
    val newDocs = docs.filter(col("doc_id") >= mid)
    val scratch = Scratch.dir("graft-drift-").toString
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val rn = newDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (nmn, nmx) = (rn.getLong(0), rn.getLong(1))
    // per-face inDir/ckpt even though only eT's stream runs: eB/eM/
    // eMB ride eT's drain, and a future caller driving runPass off
    // one of them must fail fast (nonexistent landing dir) instead of
    // silently streaming the full corpus through a new-crawl-anchored
    // face and double-counting
    def faceEnv(face: String, a: Long, b: Long) =
      Env(s"$scratch/in-$face", s"$scratch/$face", s"$scratch/ckpt-$face", a, b,
        new FrameStore(s"$scratch/store-$face"), docs.schema)
    val eT = faceEnv("text", mn, mx)
    val eM = faceEnv("media", mn, mx)
    val eB = faceEnv("base", nmn, nmx)
    val eMB = faceEnv("mbase", nmn, nmx)
    // the last release pinned its distributions BEFORE this crawl ran
    graft.WarmPhases.phase("baselines") {
      eB.store.publish(s, Curation.DriftBaselineName, Curation.baselineCounts(base))
      eMB.store.publish(s, Curation.DriftBaselineName,
        // rides the session-shared corpus decode (doc_id-pruned)
        Multimodal.mediaBaselineCountsOfStats(
          Multimodal.mediaLoudnessStatsCached(s, dir)
            .filter(col("doc_id") < mid)))
    }
    graft.WarmPhases.phase("land") {
      StreamingCuration.landOrderedSlicesOf(docs, "doc_id", eT.inDir, 3)
    }
    graft.WarmPhases.phase("drain") {
    Drain.files(s, eT.schema, eT.inDir, eT.ckpt) { (raw, batchId) =>
      val batch = Tables.normalizeDocuments(raw)
      processBatch(batch, batchId, eT)
      processBatch(batch.filter(col("doc_id") >= mid), batchId, eB)
      // ONE loudness decode per batch, shared by both media faces
      pinned { pins =>
        val stats = pins.persist(Multimodal.mediaLoudnessStats(batch))
        def mediaFace(st: org.apache.spark.sql.DataFrame,
                      pop: org.apache.spark.sql.DataFrame, e: Env): Unit = {
          Multimodal.mediaFeaturePairs(
              st.withColumn("slice", Curation.sliceCol(e.mn, e.mx)),
              Seq(col("slice")))
            .groupBy(col("slice"), col("feature"), col("bucket"))
            .agg(count(lit(1)).as("c"))
            .write.mode("overwrite").parquet(s"${e.outDir}/batch=$batchId")
          pop.filter(col("n_chars") > 0) // the decodable-clip population
            .select(Curation.sliceCol(e.mn, e.mx).as("slice"), col("doc_id"))
            .write.mode("overwrite").parquet(s"${e.docsDir}/batch=$batchId")
        }
        mediaFace(stats, batch, eM)
        mediaFace(stats.filter(col("doc_id") >= mid),
          batch.filter(col("doc_id") >= mid), eMB)
      }
    }
    }
    // the four face blocks are INDEPENDENT (own env, own store, own
    // memo key) and each is a short chain of latency-bound actions
    // (counts checkpoint → report checkpoint → verdict join →
    // register + promote → count) — overlap them (guide §2.6, the
    // per-batch discipline applied to the derived-artifact phase)
    graft.WarmPhases.phase("artifacts") {
    StreamPools.runAll(Seq(
    () => {
    // text face
    val tCounts = cutLineage(drainedCounts(s, eT))
    val tReport = cutLineage(Curation.psiReport(s, tCounts))
    val tStaged = s.read.parquet(eT.docsDir).drop("batch")
    val tClean = verdicts(tCounts, tReport)
      .filter(col("promoted")).select(col("slice"))
    eT.store.publish(s, CleanCorpusName, tStaged.join(broadcast(tClean), Seq("slice")))
    val tCleanCount = eT.store.production(s, CleanCorpusName).count()
    worldMemo.put(s, dir)(DriftWorld(eT, tCounts, tReport, tStaged, tCleanCount))
    },
    () => {
    // media face
    val mCounts = cutLineage(drainedCounts(s, eM))
    val mReport = cutLineage(Curation.psiReport(s, mCounts, nsFeature = "rms"))
    val mClean = verdicts(mCounts, mReport, Seq("rms", "peak"), nsFeature = "rms")
      .filter(col("promoted")).select(col("slice"))
    eM.store.publish(s, MediaCleanName,
      s.read.parquet(eM.docsDir).drop("batch")
        .join(broadcast(mClean), Seq("slice")))
    val mCleanCount = eM.store.production(s, MediaCleanName).count()
    mediaMemo.put(s, dir)(MediaDriftWorld(eM, mCounts, mReport, mCleanCount))
    },
    () => {
    // cross-release text face (baseline re-resolved from the pointer)
    val bCounts = cutLineage(drainedCounts(s, eB))
    val (bv, bReport0) = baselineReport(s, eB, bCounts)
    val bReport = cutLineage(bReport0)
    val bClean = verdicts(bCounts, bReport)
      .filter(col("promoted")).select(col("slice"))
    eB.store.publish(s, CleanCorpusName,
      s.read.parquet(eB.docsDir).drop("batch")
        .join(broadcast(bClean), Seq("slice")))
    val bCleanCount = eB.store.production(s, CleanCorpusName).count()
    baselineMemo.put(s, dir)(BaselineDriftWorld(eB, bv, bCounts, bReport, bCleanCount))
    },
    () => {
    // cross-release media face
    val mbCounts = cutLineage(drainedCounts(s, eMB))
    val mbv = eMB.store.productionVersion(Curation.DriftBaselineName)
      .getOrElse(sys.error("no promoted media drift baseline"))
    val mbBase = eMB.store.production(s, Curation.DriftBaselineName)
    val mbReport = cutLineage(
      Curation.psiVsBaseline(mbCounts, mbBase, mbv, nsFeature = "rms"))
    val mbClean = verdicts(mbCounts, mbReport, Seq("rms", "peak"), nsFeature = "rms")
      .filter(col("promoted")).select(col("slice"))
    eMB.store.publish(s, MediaCleanName,
      s.read.parquet(eMB.docsDir).drop("batch")
        .join(broadcast(mbClean), Seq("slice")))
    val mbCleanCount = eMB.store.production(s, MediaCleanName).count()
    mediaBaselineMemo.put(s, dir)(
      BaselineDriftWorld(eMB, mbv, mbCounts, mbReport, mbCleanCount))
    }))
    }
    ()
  }

  /** Bench warm hook: the drift stream passes (+ the clean-corpus
    * promotions), attributed once. */
  private[graft] def warmDriftStream(s: SparkSession, dir: String): Unit = {
    driftWorld(s, dir)
    mediaDriftWorld(s, dir)
    baselineDriftWorld(s, dir)
    mediaBaselineWorld(s, dir)
    ()
  }

  /** Streaming twin of `text_corpus_drift` — same oracle. */
  val streamCorpusDrift: Q = Q("stream_corpus_drift",
    Curation.corpusDrift.oracle.get) { (s, dir) =>
    driftWorld(s, dir).report.orderBy(col("slice"), col("feature"))
  }

  /** The quarantine gate — see the object doc. The oracle pivots the
    * shared drift chain into per-slice verdicts; the artifact-parity
    * leg rides as a pinned boolean the engine computes for real. */
  val streamDriftQuarantine: Q = Q("stream_drift_quarantine",
    Curation.driftOracleCtes + s""",
      |piv AS (SELECT slice,
      |          MAX(CASE WHEN feature = 'len' THEN psi END) AS psi_len,
      |          MAX(CASE WHEN feature = 'lang' THEN psi END) AS psi_lang
      |        FROM psi GROUP BY 1)
      |SELECT ns.slice, ns.n AS n_docs,
      |  COALESCE(piv.psi_len, 0.0) AS psi_len,
      |  COALESCE(piv.psi_lang, 0.0) AS psi_lang,
      |  (COALESCE(piv.psi_len, 0.0) < $QuarantinePsi
      |    AND COALESCE(piv.psi_lang, 0.0) < $QuarantinePsi) AS promoted,
      |  CASE WHEN COALESCE(piv.psi_len, 0.0) < $QuarantinePsi
      |            AND COALESCE(piv.psi_lang, 0.0) < $QuarantinePsi
      |       THEN ns.n ELSE 0 END AS n_docs_promoted,
      |  TRUE AS clean_corpus_matches_manifest
      |FROM ns LEFT JOIN piv USING (slice) ORDER BY slice""".stripMargin) { (s, dir) =>
    val world = driftWorld(s, dir)
    val v = verdicts(world.counts, world.report)
    val promisedTotal = v.agg(sum(col("n_docs_promoted")).as("t"))
    v.crossJoin(broadcast(promisedTotal))
      .select(col("slice"), col("n_docs"), col("psi_len"), col("psi_lang"),
        col("promoted"), col("n_docs_promoted"),
        (col("t") === world.cleanCount).as("clean_corpus_matches_manifest"))
      .orderBy(col("slice"))
  }

  /** Streaming twin of `mm_media_drift` — same oracle. */
  val streamMediaDrift: Q = Q("stream_media_drift",
    graft.multimodal.Multimodal.mediaDrift.oracle.get) { (s, dir) =>
    mediaDriftWorld(s, dir).report.orderBy(col("slice"), col("feature"))
  }

  /** The media quarantine gate — [[streamDriftQuarantine]]'s act on
    * the MEDIA monitor: per slice, both loudness PSIs must clear the
    * moderate-shift bound for the slice's clips to promote into the
    * `media_clean` artifact; a crawl slice whose audio got louder or
    * clippier is held back. Same shared CTE pivot oracle; the
    * artifact-parity leg is computed for real. */
  val streamMediaQuarantine: Q = Q("stream_media_quarantine",
    graft.multimodal.Multimodal.mediaDriftOracleCtes + s""",
      |piv AS (SELECT slice,
      |          MAX(CASE WHEN feature = 'rms' THEN psi END) AS psi_rms,
      |          MAX(CASE WHEN feature = 'peak' THEN psi END) AS psi_peak
      |        FROM psi GROUP BY 1)
      |SELECT ns.slice, ns.n AS n_docs,
      |  COALESCE(piv.psi_rms, 0.0) AS psi_rms,
      |  COALESCE(piv.psi_peak, 0.0) AS psi_peak,
      |  (COALESCE(piv.psi_rms, 0.0) < $QuarantinePsi
      |    AND COALESCE(piv.psi_peak, 0.0) < $QuarantinePsi) AS promoted,
      |  CASE WHEN COALESCE(piv.psi_rms, 0.0) < $QuarantinePsi
      |            AND COALESCE(piv.psi_peak, 0.0) < $QuarantinePsi
      |       THEN ns.n ELSE 0 END AS n_docs_promoted,
      |  TRUE AS clean_media_matches_manifest
      |FROM ns LEFT JOIN piv USING (slice) ORDER BY slice""".stripMargin) { (s, dir) =>
    val world = mediaDriftWorld(s, dir)
    val v = verdicts(world.counts, world.report, Seq("rms", "peak"), nsFeature = "rms")
    val promisedTotal = v.agg(sum(col("n_docs_promoted")).as("t"))
    v.crossJoin(broadcast(promisedTotal))
      .select(col("slice"), col("n_docs"), col("psi_rms"), col("psi_peak"),
        col("promoted"), col("n_docs_promoted"),
        (col("t") === world.cleanCount).as("clean_media_matches_manifest"))
      .orderBy(col("slice"))
  }

  /** THE CROSS-RELEASE QUARANTINE — the operational drift gate: the
    * new crawl streams in, its per-slice distributions are judged
    * against the PERSISTED baseline of the last promoted release (a
    * versioned artifact the drain RE-RESOLVES — re-promoting a new
    * baseline moves the next verdict, never a code change), and only
    * slices whose every feature clears the moderate-shift bound
    * promote into the clean-corpus artifact. The resolved baseline
    * VERSION rides every row, so a held-back slice is attributable
    * to the exact release distribution that rejected it. The oracle
    * rebuilds baseline, slices, union-domain smoothing, and PSIs
    * arithmetically; the artifact-parity leg is computed for real. */
  val streamDriftBaseline: Q = Q("stream_drift_baseline",
    Curation.baselineDriftOracleCtes + s""",
      |bpiv AS (SELECT slice,
      |           MAX(CASE WHEN feature = 'len' THEN psi END) AS psi_len,
      |           MAX(CASE WHEN feature = 'lang' THEN psi END) AS psi_lang
      |         FROM bpsi GROUP BY 1)
      |SELECT bns.slice, bns.n AS n_docs,
      |  COALESCE(bpiv.psi_len, 0.0) AS psi_len,
      |  COALESCE(bpiv.psi_lang, 0.0) AS psi_lang,
      |  (COALESCE(bpiv.psi_len, 0.0) < $QuarantinePsi
      |    AND COALESCE(bpiv.psi_lang, 0.0) < $QuarantinePsi) AS promoted,
      |  CASE WHEN COALESCE(bpiv.psi_len, 0.0) < $QuarantinePsi
      |            AND COALESCE(bpiv.psi_lang, 0.0) < $QuarantinePsi
      |       THEN bns.n ELSE 0 END AS n_docs_promoted,
      |  CAST(1 AS BIGINT) AS baseline_version,
      |  TRUE AS clean_corpus_matches_manifest
      |FROM bns LEFT JOIN bpiv USING (slice) ORDER BY slice""".stripMargin) { (s, dir) =>
    val world = baselineDriftWorld(s, dir)
    val v = verdicts(world.newCounts, world.report)
    val promisedTotal = v.agg(sum(col("n_docs_promoted")).as("t"))
    v.crossJoin(broadcast(promisedTotal))
      .select(col("slice"), col("n_docs"), col("psi_len"), col("psi_lang"),
        col("promoted"), col("n_docs_promoted"),
        lit(world.baseVersion.toLong).as("baseline_version"),
        (col("t") === world.cleanCount).as("clean_corpus_matches_manifest"))
      .orderBy(col("slice"))
  }

  /** [[streamDriftBaseline]]'s MEDIA twin — the cross-release
    * quarantine over the decoded loudness distributions: new-crawl
    * clips judged per slice against the last release's PROMOTED
    * loudness baseline (re-resolved at drain, version on every row);
    * only clearing slices' clips promote into `media_clean`. */
  val streamMediaBaseline: Q = Q("stream_media_baseline",
    graft.multimodal.Multimodal.mediaBaselineOracleCtes + s""",
      |bpiv AS (SELECT slice,
      |           MAX(CASE WHEN feature = 'rms' THEN psi END) AS psi_rms,
      |           MAX(CASE WHEN feature = 'peak' THEN psi END) AS psi_peak
      |         FROM bpsi GROUP BY 1)
      |SELECT bns.slice, bns.n AS n_docs,
      |  COALESCE(bpiv.psi_rms, 0.0) AS psi_rms,
      |  COALESCE(bpiv.psi_peak, 0.0) AS psi_peak,
      |  (COALESCE(bpiv.psi_rms, 0.0) < $QuarantinePsi
      |    AND COALESCE(bpiv.psi_peak, 0.0) < $QuarantinePsi) AS promoted,
      |  CASE WHEN COALESCE(bpiv.psi_rms, 0.0) < $QuarantinePsi
      |            AND COALESCE(bpiv.psi_peak, 0.0) < $QuarantinePsi
      |       THEN bns.n ELSE 0 END AS n_docs_promoted,
      |  CAST(1 AS BIGINT) AS baseline_version,
      |  TRUE AS clean_media_matches_manifest
      |FROM bns LEFT JOIN bpiv USING (slice) ORDER BY slice""".stripMargin) { (s, dir) =>
    val world = mediaBaselineWorld(s, dir)
    val v = verdicts(world.newCounts, world.report, Seq("rms", "peak"), nsFeature = "rms")
    val promisedTotal = v.agg(sum(col("n_docs_promoted")).as("t"))
    v.crossJoin(broadcast(promisedTotal))
      .select(col("slice"), col("n_docs"), col("psi_rms"), col("psi_peak"),
        col("promoted"), col("n_docs_promoted"),
        lit(world.baseVersion.toLong).as("baseline_version"),
        (col("t") === world.cleanCount).as("clean_media_matches_manifest"))
      .orderBy(col("slice"))
  }

  val all: Seq[Q] = Seq(streamCorpusDrift, streamDriftQuarantine, streamMediaDrift,
    streamMediaQuarantine, streamDriftBaseline, streamMediaBaseline)
}
