package graft.streaming

import graft.Q
import graft.SessionCaches.{cutLineage, pinned}
import graft.queries.TextOps
import graft.sources.FrameStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The curation pipeline EMITTING CONTINUOUSLY — training windows
  * leave the pipeline the moment they fill, instead of waiting for a
  * drain-time pack: every micro-batch runs the full composed stack
  * ([[StreamingCuration.processBatch]] — its decision record now
  * carries the retained docs' final redacted text), then cuts
  * 512-token windows from the per-source token stream against a
  * CARRY state: `(source, done_off, carry_text)` — tokens already
  * shipped in completed windows, plus the ≤ 511-token tail still
  * waiting for its window to fill. Completed windows write
  * immediately with their content hash; the tail carries forward;
  * the drain flushes each source's final partial window.
  *
  * Because window boundaries are token-position facts of the
  * retained stream (and arrivals land in ingest order), the emitted
  * windows are IDENTICAL to the batch `text_curation_emit` for any
  * slicing — the twin shares that oracle verbatim. Carry state rides
  * the same provenance-stamped [[FrameStore]] lifecycle as every
  * other cross-batch artifact (a replayed batch filters its own
  * stamp and recuts the identical windows). */
object StreamingEmit {

  val CarryName = "emit_carry"
  /** Carry state of the GATED window stream (PRODUCTION-model
    * decisions drive the cut) — same shape, independent offsets. */
  val CarryGatedName = "emit_carry_gated"

  final case class Env(cur: StreamingCuration.Env, windowsDir: String, dir: String) {
    /** Where the GATED (learned-decision-driven) windows land. */
    def gatedWindowsDir: String = windowsDir + "-gated"
  }

  def prepare(spark: SparkSession, dir: String,
              quality: Option[graft.sources.FrameStore] = None,
              shadow: Boolean = false): Env = {
    val cur = StreamingCuration.prepare(spark, dir, quality, shadow)
    import spark.implicits._
    def emptyCarry() =
      Seq.empty[(String, Long, String)].toDF("source", "done_off", "carry_text")
        .withColumn("batch_id", lit(-1L))
    cur.store.promote(CarryName,
      cur.store.register(spark, CarryName, emptyCarry()))
    if (quality.isDefined && shadow)
      cur.store.promote(CarryGatedName,
        cur.store.register(spark, CarryGatedName, emptyCarry()))
    Env(cur, cur.outDir + "-windows", dir)
  }

  /** One micro-batch: full stack → retained texts → window cut
    * against the carry. Idempotent like every twin: the decision
    * write is overwrite-deterministic, the carry read filters this
    * batch's own stamp, and both appends ride the batch watermark. */
  def processBatch(batch: DataFrame, batchId: Long, env: Env): Unit = {
    val bs = batch.sparkSession
    StreamingCuration.processBatch(batch, batchId, env.cur)
    // heuristic-gated stream: both window faces (text fingerprint +
    // tokenized-ID hash — the symbol table is the fixed tokenizer
    // artifact, memoized per session, one broadcast join)
    val heurCut = () => {
      val retained = bs.read.parquet(s"${env.cur.outDir}/batch=$batchId")
        .filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("red"), col("final_tokens"))
      cutAgainstCarry(bs, env, batchId, retained, CarryName, env.windowsDir,
        p => TextOps.emitWindowsIds(bs, env.dir, p),
        Seq("n_tokens", "n_ids", "window_fp", "ids_fp"))
    }
    // GATED stream: the PRODUCTION quality model's decisions drive a
    // second window cut — the post-rollout operating mode, running
    // beside the heuristic face in the SAME pass (the expensive
    // nine-stage stack is shared; only the cut repeats). BOTH faces:
    // the ids face cuts against the PRE-QUALITY release symbol table
    // ([[TextOps.preQualityWordSymsStats]] — vocab fixed before the
    // quality gate, so any gated subset under any promoted model is
    // covered and the id space never shifts under a gate flip).
    val gatedCut = if (env.cur.shadow) env.cur.quality.map { _ => () => {
      val gatedRetained = bs.read.parquet(s"${env.cur.learnedOutDir}/batch=$batchId")
        .filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("red"), col("final_tokens"))
      cutAgainstCarry(bs, env, batchId, gatedRetained, CarryGatedName,
        env.gatedWindowsDir,
        p => TextOps.emitWindowsIdsWith(TextOps.preQualityWordEncStats(bs, env.dir), p),
        Seq("n_tokens", "n_ids", "window_fp", "ids_fp"))
    }} else None
    // resolve both memoized encodings BEFORE the concurrent cuts: a
    // first-batch race would otherwise double-build the shared BPE
    // memos (harmless — both builds are identical and one wins the
    // memo — but wasteful)
    if (gatedCut.isDefined) {
      TextOps.emitWordEncStats(bs, env.dir)
      TextOps.preQualityWordEncStats(bs, env.dir)
      ()
    }
    // the two faces cut against DISTINCT carry states and land in
    // DISTINCT dirs — independent actions, overlapped (guide §2.6)
    StreamPools.runAll(Seq(heurCut) ++ gatedCut.toSeq)
    ()
  }

  /** Cut one micro-batch's windows for ONE gate face against its
    * carry state: position the batch's retained texts after the
    * carry, cut via `cut`, write the COMPLETE windows, append the new
    * carry. Idempotent like every twin: the window write is
    * overwrite-deterministic, the carry read filters this batch's own
    * stamp, and the append rides the batch watermark. */
  private def cutAgainstCarry(bs: SparkSession, env: Env, batchId: Long,
      retained: DataFrame, carryName: String, windowsDir: String,
      cut: DataFrame => DataFrame, faceCols: Seq[String]): Unit = pinned { pins =>
    // LATEST state per source (appends accumulate one row per source
    // per touching batch); this batch's own stamp filters out first
    // so a replay recovers the exact pre-batch carry
    val carry = latestCarry(env.cur.store.loadProduction(bs, carryName)
      .getOrElse(sys.error(s"no production $carryName"))
      .filter(col("batch_id") =!= batchId))
    // per-source positioned stream: the carry tail sits at done_off,
    // batch docs follow at done_off + |carry| + in-batch prefix sum
    // (sub-sharded like the batch family — a micro-batch dominated by
    // one source must not serialize its window either)
    val inBatch = TextOps.sourcePrefixSum(retained, col("final_tokens"))
      .withColumnRenamed("start_off", "batch_off")
      .join(carry, Seq("source"), "left_outer")
      .select(col("source"),
        (coalesce(col("done_off"), lit(0L))
          + when(col("carry_text").isNull || col("carry_text") === "", 0)
            .otherwise(size(split(col("carry_text"), " ")))
          + col("batch_off")).as("start_off"),
        col("red"))
    val carryRows = carry.filter(col("carry_text") =!= "")
      .select(col("source"), col("done_off").as("start_off"),
        col("carry_text").as("red"))
    val positioned = pins.persist(carryRows.unionByName(inBatch))
    val totals = positioned
      .groupBy(col("source"))
      .agg(max(col("start_off") + size(split(col("red"), " "))).as("total_off"))
    val windows = pins.persist(cut(positioned))
    // a window is COMPLETE when the stream has moved past its end
    val complete = windows.join(totals, Seq("source"))
      .filter((col("seq_id") + 1) * 512 <= col("total_off"))
      .select(col("source") +: col("seq_id") +: faceCols.map(col): _*)
    complete.write.mode("overwrite").parquet(s"$windowsDir/batch=$batchId")
    // new carry: every token past the last complete boundary. The
    // explode is restricted to BOUNDARY-STRADDLING docs first (doc
    // extent end past new_done) — only they can contribute carry
    // tokens, so the recompute pays per-tail, not per-batch
    val newCarry = positioned
      .join(totals.select(col("source"),
        (floor(col("total_off") / 512) * 512).as("new_done")), Seq("source"))
      .filter(col("start_off") + size(split(col("red"), " ")) > col("new_done"))
      .select(col("source"), col("new_done"), col("start_off"),
        posexplode(split(col("red"), " ")).as(Seq("i", "word")))
      .select(col("source"), col("new_done"),
        (col("start_off") + col("i")).as("pos"), col("word"))
      .filter(col("pos") >= col("new_done"))
      .groupBy(col("source"), col("new_done"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ").as("carry_text"))
      .select(col("source"), col("new_done").as("done_off"), col("carry_text"))
    // sources whose stream ended exactly on a boundary carry nothing —
    // still record done_off so the next batch resumes at the boundary
    val boundary = totals
      .join(newCarry.select(col("source")), Seq("source"), "left_anti")
      .select(col("source"),
        (floor(col("total_off") / 512) * 512).as("done_off"),
        lit("").as("carry_text"))
    env.cur.store.appendBatch(bs, carryName,
      newCarry.unionByName(boundary).withColumn("batch_id", lit(batchId)),
      batchId = Some(batchId), streamId = Some(env.cur.ckpt))
    ()
  }

  /** Newest carry row per source — the appends accumulate history
    * (one row per source per touching batch, batch-stamped). */
  private def latestCarry(rows: DataFrame): DataFrame =
    rows.withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("batch_id").desc)))
      .filter(col("rk") === 1)
      .select(col("source"), col("done_off"), col("carry_text"))

  def runPass(spark: SparkSession, env: Env): Unit =
    Drain.files(spark, env.cur.schema, env.cur.inDir, env.cur.ckpt)((batch, batchId) =>
      processBatch(batch, batchId, env))

  /** Drain: flush every source's final partial window from the carry
    * and read the accumulated windows back — BOTH window faces
    * (text fingerprint + tokenized-ID hash). */
  def allWindows(spark: SparkSession, env: Env): DataFrame = {
    val latest = latestCarry(env.cur.store.loadProduction(spark, CarryName)
      .getOrElse(sys.error("no production emit carry")))
      .filter(col("carry_text") =!= "")
      .select(col("source"), col("done_off").as("start_off"),
        col("carry_text").as("red"))
    val flushed = TextOps.emitWindowsIds(spark, env.dir, latest)
    spark.read.parquet(env.windowsDir).drop("batch")
      .unionByName(flushed)
  }

  /** [[allWindows]] in the batch `text_curation_emit` oracle shape. */
  def emittedWindows(spark: SparkSession, env: Env): DataFrame =
    allWindows(spark, env)
      .select(col("source"), col("seq_id"), col("n_tokens"), col("window_fp"))
      .orderBy(col("source"), col("seq_id"))

  /** Drain of the GATED window stream (both faces): flush each
    * source's final partial from the gated carry, union the
    * continuously-completed gated windows. */
  def allGatedWindows(spark: SparkSession, env: Env): DataFrame = {
    val latest = latestCarry(env.cur.store.loadProduction(spark, CarryGatedName)
      .getOrElse(sys.error("no production gated emit carry")))
      .filter(col("carry_text") =!= "")
      .select(col("source"), col("done_off").as("start_off"),
        col("carry_text").as("red"))
    spark.read.parquet(env.gatedWindowsDir).drop("batch")
      .unionByName(TextOps.emitWindowsIdsWith(
        TextOps.preQualityWordEncStats(spark, env.dir), latest))
  }

  // ------------------------------------------------------------ unified pass
  /** The artifacts of ONE consolidated curation stream run: emitted
    * windows (heuristic gate — the batch emit oracle's semantics),
    * the landed heuristic decision records (what the pack certificate
    * packs), the SHADOW learned decision records (per-batch
    * PRODUCTION re-resolve), and whether the promoted quality model
    * stayed at one version across the run. */
  final case class Unified(env: Env, windows: DataFrame, decisions: DataFrame,
                           learned: DataFrame, gatedWindows: DataFrame,
                           qmodel: DataFrame, sameModelVersion: Boolean)

  private val unifiedMemo = graft.SessionCaches.memo[Unified]

  /** ONE full-stack curation stream pass per (application, sf dir),
    * memoized — the three operating-mode certificates
    * (`stream_curation_pack` / `stream_curation_emit` /
    * `stream_curation_learned` / `stream_curation_gated`) all read
    * ITS artifacts instead of each draining their own stream, so the
    * bench executes the nine-stage stack once, not four times. The
    * run cuts BOTH gate faces per batch: the heuristic face drives
    * the legacy emission/pack artifacts (their oracles replay the
    * heuristic stack), and the GATED face is a second live window
    * stream driven by the PRODUCTION model's per-batch re-resolved
    * decisions — the post-rollout operating mode, certified by
    * `stream_curation_gated` (slicing robustness, restart, and
    * hot-reload stay pinned on the standalone runners in
    * StreamingSpec/QualityGateSpec at spec scale).
    *
    * Drain-time maintenance matches the old standalone pack runner:
    * both index artifacts compact + gc, both count states snapshot —
    * the consolidated pass certifies store lifecycle too. */
  def unifiedRun(s: SparkSession, dir: String): Unified =
    unifiedMemo(s, dir) {
      val qstore = graft.ml.QualityModel.productionStore(s, dir)
      val vBefore = qstore.productionVersion(graft.ml.QualityModel.ModelName)
      val env = prepare(s, dir, quality = Some(qstore), shadow = true)
      graft.WarmPhases.phase("land") {
        StreamingCuration.addArrivalsOrdered(s, env.cur, dir, slices = 2)
      }
      graft.WarmPhases.phase("drain") { runPass(s, env) }
      graft.WarmPhases.phase("store") {
        env.cur.store.compact(s, StreamingCuration.ShingleIdx)
        env.cur.store.compact(s, StreamingCuration.FpIdx)
        env.cur.store.gc(StreamingCuration.ShingleIdx, keep = 1)
        env.cur.store.gc(StreamingCuration.FpIdx, keep = 1)
        StreamingCuration.snapshotCounts(s, env.cur.store,
          StreamingCuration.LineCounts, env.cur.ckpt)
        StreamingCuration.snapshotCounts(s, env.cur.store,
          StreamingCuration.SpanCounts, env.cur.ckpt)
        env.cur.store.gc(StreamingCuration.LineCounts, keep = 1)
        env.cur.store.gc(StreamingCuration.SpanCounts, keep = 1)
      }
      val vAfter = qstore.productionVersion(graft.ml.QualityModel.ModelName)
      // cut: the drain frames sit on carry-flush lineages (symbol
      // tables, prefix sums), and a dozen certificates union them
      graft.WarmPhases.phase("artifacts") {
        Unified(env,
          windows = cutLineage(allWindows(s, env)),
          decisions = cutLineage(StreamingCuration.streamedDecisions(s, env.cur)),
          learned = cutLineage(s.read.parquet(env.cur.learnedOutDir).drop("batch")),
          gatedWindows = cutLineage(allGatedWindows(s, env)),
          // the model THIS run resolved, pinned with the artifacts: the
          // learned certificate's batch twin must score with the same
          // model the stream used, even if a promotion lands between
          // the (possibly much earlier, memoized) run and the cert
          qmodel = cutLineage(qstore.loadProduction(s, graft.ml.QualityModel.ModelName)
            .getOrElse(sys.error("no production quality model"))),
          sameModelVersion = vBefore.isDefined && vBefore == vAfter)
      }
    }

  /** Streaming twin of `text_curation_emit` — same oracle: the
    * continuously-emitted window set must be byte-identical to the
    * batch emission for any ingest-ordered slicing. Reads the
    * [[unifiedRun]] artifacts (one stream pass per session). */
  val streamCurationEmit: Q = Q("stream_curation_emit",
    TextOps.curationEmit.oracle.get) { (s, dir) =>
    unifiedRun(s, dir).windows
      .select(col("source"), col("seq_id"), col("n_tokens"), col("window_fp"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Streaming twin of `text_curation_emit_ids` — same oracle: every
    * continuously-shipped window's BPE token-ID hash must equal the
    * batch emission's (windows carry both faces the moment they
    * complete — the dataloader consumes ids, the audit trail keeps
    * the text fingerprint). */
  val streamCurationEmitIds: Q = Q("stream_curation_emit_ids",
    TextOps.curationEmitIds.oracle.get) { (s, dir) =>
    unifiedRun(s, dir).windows
      .select(col("source"), col("seq_id"), col("n_tokens"), col("n_ids"), col("ids_fp"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Streaming twin of `text_curation_shuffle` — same oracle: the
    * training order assigned at DRAIN over the continuously-landed
    * window artifact (order is a whole-corpus fact, so a streaming
    * job assigns it when the shard closes — the natural place in a
    * continuous pipeline) must equal the batch composition's. */
  val streamCurationShuffle: Q = Q("stream_curation_shuffle",
    TextOps.curationShuffle.oracle.get) { (s, dir) =>
    TextOps.shuffleRankWindows(unifiedRun(s, dir).windows
      .select(col("source"), col("seq_id"), col("n_tokens"), col("window_fp")))
  }

  /** Streaming twin of `text_curation_resume` — same oracle: the
    * checkpoint-restart manifest handed to the dataloader is
    * identical whether the order was ranked over the batch artifact
    * or assigned at drain over the continuously-landed windows. */
  val streamCurationResume: Q = Q("stream_curation_resume",
    TextOps.curationResume.oracle.get) { (s, dir) =>
    TextOps.resumeManifest(TextOps.shuffleRankWindows(unifiedRun(s, dir).windows
      .select(col("source"), col("seq_id"), col("n_tokens"), col("window_fp"))), 0.6)
  }

  /** Streaming twin of `text_curation_epochs` — same oracle: the
    * multi-epoch schedule is a content-determined fact of the window
    * set, byte-identical from the drained stream artifact. */
  val streamCurationEpochs: Q = Q("stream_curation_epochs",
    TextOps.curationEpochs.oracle.get) { (s, dir) =>
    TextOps.epochOrdersWindows(unifiedRun(s, dir).windows
      .select(col("source"), col("seq_id"), col("n_tokens"), col("window_fp")), 2)
  }

  /** The learned quality gate flipped ACTIVE — the second half of the
    * shadow rollout: the PRODUCTION model's decisions DRIVE a live
    * window emission (and the pack manifest), with the heuristic face
    * demoted to the audit record. Certified with the
    * `stream_curation_learned` device — the oracle recomputes the
    * gate-invariant facts exactly (heuristic window count through the
    * full emission replay; heuristic low-quality drop count) and pins
    * the Spark-only parity facts as booleans:
    *
    *  - `stream_equals_batch`: the continuously-gated window stream ≡
    *    a batch recut from the learned decisions under the SAME model
    *    version the stream resolved — BOTH faces (text fingerprint
    *    AND the token-ID hash against the pre-quality release symbol
    *    table, [[TextOps.preQualityWordSymsStats]] — the gated
    *    deployment ships the full dataloader contract);
    *  - `flips_only_quality`: every doc where the two gates disagree
    *    flips between retained and `low_quality` — the cascade's
    *    earlier stages are gate-invariant by construction;
    *  - `diverges_at_first_flip`: per source, the FIRST window where
    *    the gated emission differs from the heuristic emission is
    *    exactly the window holding that source's first flip doc
    *    (windows before it are byte-identical), and sources diverge
    *    iff they have flips — emitted windows differ from the
    *    heuristic set exactly on quality-flip docs;
    *  - `gated_pack_equals_batch`: the pack manifest built from the
    *    streamed learned decisions ≡ the batch learned pack — the
    *    gate drives packing too.
    *
    * Scale shape: rides the ONE consolidated stream pass (the gated
    * cut shares the nine-stage stack; only the window cut repeats).
    * The BATCH-side artifacts the certificate compares against — the
    * gated recut, the flip set, the per-source first-flip window, the
    * batch learned pack — are content-determined release artifacts
    * memoized once per session ([[gatedCertArtifacts]]); per run the
    * certificate pays only the streamed-side comparisons (an
    * unmemoized body re-paid five prefix-sum fan-outs per rep:
    * 23 s → single digits at sf0.1). */
  private val gatedCertMemo = graft.SessionCaches.memo[(DataFrame, DataFrame, DataFrame, DataFrame)]

  /** `(batchGated windows, flips, flipSeq, batchPack)` — the gated
    * certificate's batch-side artifacts, pinned once per session. */
  private def gatedCertArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    gatedCertMemo(s, dir)(pinned { pins =>
      val un = unifiedRun(s, dir)
      // cuts: these frames sit on the FULL curation+scoring lineage
      // (measured before the cuts: 25 s wall, 1.7 s of stages)
      // batch twin scores with the MODEL THE STREAM USED (pinned in
      // the unified artifacts) — the stream_curation_learned rule
      val batchLearned = TextOps.curationLearnedDecisionsCached(s, dir, un.qmodel)
      val gatedRetained = batchLearned.filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("red"), col("final_tokens"))
      // ONE positioning pass feeds both the recut and the flip offsets
      val gatedPos = pins.cutLineage(TextOps.sourcePrefixSum(gatedRetained, col("final_tokens")))
      // batch recut of BOTH faces, against the same pre-quality
      // release symbol table the gated stream cuts with
      val batchGated = cutLineage(TextOps.emitWindowsIdsWith(
        TextOps.preQualityWordEncStats(s, dir), gatedPos))
      // flip docs: where the heuristic and learned cascades disagree
      val flips = cutLineage(un.decisions
        .select(col("doc_id"), col("source"), col("drop_reason").as("h"))
        .join(batchLearned.select(col("doc_id"), col("drop_reason").as("l")), Seq("doc_id"))
        .filter(!(col("h") <=> col("l"))))
      // per-source FIRST flip window: each flip doc's offset in the
      // stream that RETAINS it (prefixes before the first flip are
      // the same retained sequence in both streams)
      val hOff = TextOps.sourcePrefixSum(
        un.decisions.filter(col("drop_reason").isNull)
          .select(col("source"), col("doc_id"), col("final_tokens")),
        col("final_tokens"))
      val flipSeq = cutLineage(flips.filter(col("h").isNull)
        .join(hOff.select(col("doc_id"), col("start_off")), Seq("doc_id"))
        .unionByName(flips.filter(col("l").isNull)
          .join(gatedPos.select(col("doc_id"), col("start_off")), Seq("doc_id")))
        .groupBy(col("source"))
        .agg(min(floor(col("start_off") / 512)).as("flip_seq")))
      val batchPack = cutLineage(TextOps.packRetained(
        batchLearned.filter(col("drop_reason").isNull)
          .select(col("source"), col("doc_id"), col("final_tokens").as("n_tokens"))))
      // gatedPos is freed here: its dependents are cut themselves
      (batchGated, flips, flipSeq, batchPack)
    })

  val streamCurationGated: Q = Q("stream_curation_gated",
    TextOps.curationOracleBody + TextOps.emitTokenCtes + """
      |SELECT
      |  CAST((SELECT COUNT(*) FROM (
      |     SELECT DISTINCT source, (start_off + i - 1) // 512 FROM rw) t) AS BIGINT)
      |    AS n_windows_heuristic,
      |  CAST((SELECT COUNT(*) FILTER (WHERE drop_reason = 'low_quality') FROM fin2) AS BIGINT)
      |    AS n_low_quality_heuristic,
      |  TRUE AS stream_equals_batch,
      |  TRUE AS flips_only_quality,
      |  TRUE AS diverges_at_first_flip,
      |  TRUE AS gated_pack_equals_batch""".stripMargin) { (s, dir) =>
    val un = unifiedRun(s, dir)
    val (batchGated, flips, flipSeq, batchPack) = gatedCertArtifacts(s, dir)
    val sg = un.gatedWindows
    val sameFace =
      col("a.n_tokens") <=> col("b.n_tokens") && col("a.window_fp") <=> col("b.window_fp")
    val bothFaces = sameFace &&
      col("a.n_ids") <=> col("b.n_ids") && col("a.ids_fp") <=> col("b.ids_fp")
    val parityDiff = sg.as("a")
      .join(batchGated.as("b"), Seq("source", "seq_id"), "full_outer")
      .filter(!bothFaces).agg(count(lit(1)).as("n_parity_diff"))
    // flip docs must all be {retained ↔ low_quality}
    val nonQuality = flips.filter(
      !((col("h").isNull || col("h") === "low_quality")
        && (col("l").isNull || col("l") === "low_quality")))
      .agg(count(lit(1)).as("n_flip_nonquality"))
    // per-source FIRST divergent window between the two emissions
    val heur = un.windows.select(col("source"), col("seq_id"),
      col("n_tokens"), col("window_fp"))
    val divSeq = heur.as("a").join(sg.as("b"), Seq("source", "seq_id"), "full_outer")
      .filter(!sameFace)
      .groupBy(col("source")).agg(min(col("seq_id")).as("div_seq"))
    val srcMismatch = divSeq.join(flipSeq, Seq("source"), "full_outer")
      .filter(!(col("div_seq") <=> col("flip_seq")))
      .agg(count(lit(1)).as("n_src_mismatch"))
    // the gate drives PACKING too: manifest from the STREAMED learned
    // decisions (fresh each run — the operating side) ≡ the batch
    // learned pack (pinned artifact)
    val packCols = Seq("n_docs", "seq_tokens", "first_doc", "last_doc")
    val packDiff = TextOps.packRetained(
        un.learned.filter(col("drop_reason").isNull)
          .select(col("source"), col("doc_id"), col("final_tokens").as("n_tokens"))).as("a")
      .join(batchPack.as("b"), Seq("source", "seq_id"), "full_outer")
      .filter(!packCols.map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _))
      .agg(count(lit(1)).as("n_pack_diff"))
    un.windows.agg(count(lit(1)).as("n_windows_heuristic"))
      .crossJoin(broadcast(un.decisions.filter(col("drop_reason") === "low_quality")
        .agg(count(lit(1)).as("n_low_quality_heuristic"))))
      .crossJoin(broadcast(parityDiff))
      .crossJoin(broadcast(nonQuality))
      .crossJoin(broadcast(srcMismatch))
      .crossJoin(broadcast(packDiff))
      .select(col("n_windows_heuristic"), col("n_low_quality_heuristic"),
        (col("n_parity_diff") === 0).as("stream_equals_batch"),
        (col("n_flip_nonquality") === 0).as("flips_only_quality"),
        (col("n_src_mismatch") === 0).as("diverges_at_first_flip"),
        (col("n_pack_diff") === 0).as("gated_pack_equals_batch"))
  }

  /** Streaming twin of `text_pack_efficiency` — same oracle: the
    * padding-loss / split-rate report is a content-determined fact of
    * the streamed decision records, so the operating pipeline reports
    * the byte-identical packing numbers the batch recut would. Reads
    * the [[unifiedRun]] artifacts (one stream pass per session). */
  val streamCurationPackEfficiency: Q = Q("stream_curation_pack_efficiency",
    TextOps.packEfficiency.oracle.get) { (s, dir) =>
    TextOps.packEfficiencyOfDecisions(unifiedRun(s, dir).decisions)
  }

  /** Streaming twin of `text_pack_whole_report` — same oracle: the
    * whole-doc policy's split/pad report is a content-determined fact
    * of the streamed decision records, so the operating pipeline
    * certifies the boundary-preserving packing's price off the SAME
    * drained decisions the concat report reads (one stream pass per
    * session, both policies metered side by side). */
  val streamPackWholeReport: Q = Q("stream_pack_whole_report",
    TextOps.packWholeReport.oracle.get) { (s, dir) =>
    TextOps.packWholeReportOf(TextOps.packWholeDocs(
      unifiedRun(s, dir).decisions.filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("final_tokens").as("n_tokens"))))
  }

  val all: Seq[Q] = Seq(streamCurationEmit, streamCurationEmitIds,
    streamCurationShuffle, streamCurationResume, streamCurationEpochs,
    streamCurationGated, streamCurationPackEfficiency, streamPackWholeReport)
}
