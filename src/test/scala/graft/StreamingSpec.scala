package graft

import java.nio.file.Files

import graft.queries.FraudAnalytics
import graft.streaming.ScoringStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming semantics (SURVEY.md §2.10): stream/batch parity,
  * malformed-record skip (T6/P14), dedup-within-watermark (T1
  * upgrade), rate-source generator (G7). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming incremental dedup: micro-batched loop equals the batch query") {
    // new docs sliced into 4 micro-batches, each deduped against the
    // growing persisted index — the accumulated pair list must equal
    // the single-pass batch text_dedup_incremental exactly
    val streamed = graft.streaming.StreamingDedup
      .runIncrementalDedupStream(spark, sf, slices = 4)
      .select("d1", "d2", "n_shared", "jaccard").collect().toSet
    val batch = graft.queries.TextOps.dedupIncremental.fn(spark, sf)
      .select("d1", "d2", "n_shared", "jaccard").collect().toSet
    assert(streamed == batch,
      s"extra=${streamed -- batch} missing=${batch -- streamed}")
  }

  test("streaming dedup cold restart: killed stream resumes from the promoted index") {
    // Phase 1: half the arrivals, one AvailableNow pass, then the
    // stream is GONE (query terminated — nothing session-held except
    // the checkpoint + the promoted artifact survives by design).
    // Phase 2: the rest arrives, a FRESH query on the same checkpoint
    // resumes, reloading the PRODUCTION index from disk. The final
    // pair list must still equal the single-pass batch query, and the
    // index must have grown only through promoted versions.
    import graft.streaming.StreamingDedup
    val env = StreamingDedup.prepare(spark, sf)
    val newDocs = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") >= env.split)
    val mid = newDocs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    StreamingDedup.addArrivals(env, newDocs.filter(col("doc_id") <= mid), 2)
    StreamingDedup.runPass(spark, env)
    val vAfterP1 = env.store.productionVersion(StreamingDedup.IndexName).get
    assert(vAfterP1 > 1, "phase 1 published no index versions")
    // maintenance between restarts: compact the fragmented postings
    // and gc superseded versions — phase 2 must dedup against the
    // COMPACTED production identically (parity below still pins the
    // batch result, so FrameStore compaction soundness rides the
    // same assertion)
    env.store.compact(spark, StreamingDedup.IndexName)
    env.store.gc(StreamingDedup.IndexName, keep = 1)
    StreamingDedup.addArrivals(env, newDocs.filter(col("doc_id") > mid), 2)
    StreamingDedup.runPass(spark, env) // fresh query, same checkpoint
    assert(env.store.productionVersion(StreamingDedup.IndexName).get > vAfterP1,
      "restarted stream did not extend the promoted index")
    val streamed = StreamingDedup.collectedPairs(spark, env)
      .select("d1", "d2", "n_shared", "jaccard").collect().toSet
    val batch = graft.queries.TextOps.dedupIncremental.fn(spark, sf)
      .select("d1", "d2", "n_shared", "jaccard").collect().toSet
    assert(streamed == batch,
      s"extra=${streamed -- batch} missing=${batch -- streamed}")
  }

  test("streamed ANN index append equals a one-shot encode across a kill/resume boundary") {
    // Arrivals in 5 slices; the stream is killed after the first pass
    // over 2 of them and a FRESH query resumes from the checkpoint.
    // The drained index's codes must be bit-identical to a one-shot
    // encode of the full corpus with the base constants — slicing and
    // restart must be invisible in the artifact.
    import graft.streaming.StreamingAnnIndex
    import graft.queries.{AnnIndexStore, PqAnn}
    val env = StreamingAnnIndex.prepare(spark, sf)
    val arrivals = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4)
    val mid = arrivals.agg(expr("percentile(vec_id, 0.5)")).head().getDouble(0)
    arrivals.filter(col("vec_id") <= mid).repartition(2)
      .write.mode("append").parquet(env.inDir)
    StreamingAnnIndex.runPass(spark, env)
    val vAfterP1 = env.store.productionVersion(AnnIndexStore.BaseIndexName).get
    assert(vAfterP1 > 1, "phase 1 published no index versions")
    arrivals.filter(col("vec_id") > mid).repartition(3)
      .write.mode("append").parquet(env.inDir)
    StreamingAnnIndex.runPass(spark, env) // fresh query, same checkpoint
    assert(env.store.productionVersion(AnnIndexStore.BaseIndexName).get > vAfterP1,
      "restarted stream did not extend the promoted index")
    val idx = env.store.loadProduction(spark, AnnIndexStore.BaseIndexName).get
    val oneshot = PqAnn.encodeWith(graft.sources.Tables.embeddings(spark, sf),
      idx.cents, idx.books, idx.listMeans)
    val nDiff = idx.codes.as("e")
      .join(oneshot.as("o"), Seq("vec_id"), "full_outer")
      .filter(!(col("e.list_id") <=> col("o.list_id") &&
        col("e.codes") <=> col("o.codes"))).count()
    assert(nDiff == 0, s"$nDiff code rows differ from the one-shot encode")
    // maintenance half: compaction consolidates the per-batch part
    // files (one per list again), gc drops superseded versions, and
    // the compacted production still answers row-identically
    def codeFiles(v: Int): Int = {
      val d = java.nio.file.Paths.get(env.store.codesDir(
        AnnIndexStore.BaseIndexName, v))
      scala.util.Using.resource(java.nio.file.Files.walk(d)) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      }
    }
    val fragmented = env.store.productionVersion(AnnIndexStore.BaseIndexName).get
    val compacted = env.store.compact(spark, AnnIndexStore.BaseIndexName)
    assert(codeFiles(compacted) < codeFiles(fragmented),
      s"compaction did not shrink the file count " +
        s"(${codeFiles(fragmented)} -> ${codeFiles(compacted)})")
    val deleted = env.store.gc(AnnIndexStore.BaseIndexName, keep = 1)
    assert(deleted.nonEmpty, "gc found nothing to retire after 5 appends")
    val reloaded = env.store.loadProduction(spark, AnnIndexStore.BaseIndexName).get
    val nDiff2 = reloaded.codes.as("e")
      .join(oneshot.as("o"), Seq("vec_id"), "full_outer")
      .filter(!(col("e.list_id") <=> col("o.list_id") &&
        col("e.codes") <=> col("o.codes"))).count()
    assert(nDiff2 == 0, s"$nDiff2 code rows differ after compaction + gc")
  }

  test("streaming curation pack equals the batch pipeline across slicings") {
    // the continuously-operated stack (exact/near/contam/lang/quality
    // against promoted artifacts) must land the identical decisions
    // and pack the identical sequences no matter how the corpus is
    // sliced into micro-batches
    import graft.streaming.StreamingCuration
    val batchPack = graft.queries.TextOps.curationPack.fn(spark, sf).collect().toSet
    val batchDecisions = graft.queries.TextOps.curation.fn(spark, sf)
      .select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    for (slices <- Seq(2, 3, 5)) {
      val env = StreamingCuration.prepare(spark, sf)
      StreamingCuration.addArrivalsOrdered(spark, env, sf, slices)
      StreamingCuration.runPass(spark, env)
      val streamedDecisions = StreamingCuration.streamedDecisions(spark, env)
        .select("doc_id", "drop_reason").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(streamedDecisions == batchDecisions,
        s"slices=$slices decision drift: " +
          streamedDecisions.filter { case (k, v) => batchDecisions.get(k) != Some(v) }.take(5))
      val streamedPack = graft.queries.TextOps.packRetained(
        StreamingCuration.streamedDecisions(spark, env)
          .filter(col("drop_reason").isNull)
          .select(col("source"), col("doc_id"),
            col("final_tokens").as("n_tokens"))).collect().toSet
      assert(streamedPack == batchPack, s"slices=$slices pack drift")
    }
  }

  test("streaming ANN serving answers equal the batch index query across slicings") {
    // per-query scoring is stateless and the promoted index reloads
    // bit-exactly, so however the query stream is sliced the answers
    // must be row-identical to the batch serving path
    import graft.streaming.StreamingAnnServe
    val batchAnswers = SparkEntry.queries("sim_ann_ivfpq")(spark, sf).collect().toSet
    for (slices <- Seq(2, 3)) {
      val env = StreamingAnnServe.prepare(spark, sf)
      graft.streaming.StreamingCuration.landOrderedSlicesOf(
        graft.sources.Tables.embeddings(spark, sf)
          .filter(col("vec_id") < graft.queries.AnnCert.NumQueries),
        "vec_id", env.inDir, slices)
      StreamingAnnServe.runPass(spark, env)
      val streamed = StreamingAnnServe.streamedAnswers(spark, env).collect().toSet
      assert(streamed == batchAnswers, s"slices=$slices answer drift")
    }
  }

  test("ANN serving hot-reloads a mid-stream forget: later batches never return deleted ids") {
    // promotion between passes must be picked up without restarting
    // the stream world: pass 1 serves from v1; a deleteWhere promotes
    // v2; pass 2 (same checkpoint, new arrivals) must serve from v2
    import graft.streaming.{StreamingAnnServe, StreamingCuration}
    import graft.queries.{AnnCert, AnnIndexStore, PqAnn}
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val store = new AnnIndexStore(
      java.nio.file.Files.createTempDirectory("graft-serve-forget-").toString)
    val sessionIdx = AnnIndexStore.forDir(spark, sf)
      .loadProduction(spark, AnnIndexStore.IndexName)
      .getOrElse(sys.error("no session index"))
    store.promote(AnnIndexStore.IndexName,
      store.register(spark, sessionIdx, AnnIndexStore.IndexName))
    val env = StreamingAnnServe.prepare(spark, sf, Some(store))
    val half = AnnCert.NumQueries / 2
    StreamingCuration.landOrderedSlicesOf(
      emb.filter(col("vec_id") < half), "vec_id", env.inDir, 1)
    StreamingAnnServe.runPass(spark, env)
    val phase1 = StreamingAnnServe.streamedAnswers(spark, env)
    // premise, not property: on this corpus the pre-delete answers do
    // contain cohort members; if a future testdata regeneration makes
    // that vacuously false, cancel rather than fail the safety check
    assume(phase1.filter(col("c_id") % 17 === 3).count() > 0,
      "pre-delete answers contain no cohort members on this corpus")
    store.deleteWhere(spark, AnnIndexStore.IndexName, col("vec_id") % 17 === 3)
    // second wave of queries lands as NEW files (distinct names — the
    // file source tracks processed paths); the checkpoint skips the
    // already-processed slice
    StreamingCuration.landOrderedSlicesOf(
      emb.filter(col("vec_id") >= half && col("vec_id") < AnnCert.NumQueries),
      "vec_id", env.inDir, 1, tag = "w2-")
    StreamingAnnServe.runPass(spark, env)
    val phase2 = StreamingAnnServe.streamedAnswers(spark, env)
      .filter(col("q_id") >= half)
    assert(phase2.count() > 0)
    assert(phase2.filter(col("c_id") % 17 === 3).count() == 0,
      "post-promotion batches must never return forgotten ids")
  }

  test("streaming line dedup equals the batch prefix reports across slicings") {
    // prefix decisions depend only on ingest order, so any slicing of
    // doc_id-ordered arrivals must reproduce the batch reports exactly
    import graft.streaming.StreamingLineDedup
    val batchReports = graft.queries.TextOps.dedupLinesPrefix.fn(spark, sf).collect().toSeq
    for (slices <- Seq(2, 4)) {
      val streamed = StreamingLineDedup.runLineDedupStream(spark, sf, slices).collect().toSeq
      assert(streamed == batchReports, s"slices=$slices report drift: " +
        streamed.diff(batchReports).take(3))
    }
  }

  test("streaming span dedup equals the batch prefix reports across slicings") {
    import graft.streaming.StreamingSpanDedup
    val batchReports = graft.queries.TextOps.dedupSpansPrefix.fn(spark, sf).collect().toSeq
    for (slices <- Seq(2, 4)) {
      val streamed = StreamingSpanDedup.runSpanDedupStream(spark, sf, slices).collect().toSeq
      assert(streamed == batchReports, s"slices=$slices report drift: " +
        streamed.diff(batchReports).take(3))
    }
  }

  test("streaming semantic dedup equals the batch keep-first verdicts across slicings") {
    // keep-first IS prefix semantics: removal depends only on
    // lower-id cluster-mates, so ingest-ordered arrivals reproduce
    // the batch verdicts at any slicing
    import graft.streaming.StreamingSemDedup
    val batchVerdicts = graft.queries.Kmeans.semDedup.fn(spark, sf).collect().toSeq
    for (slices <- Seq(2, 4)) {
      val streamed = StreamingSemDedup.runSemDedupStream(spark, sf, slices).collect().toSeq
      assert(streamed == batchVerdicts, s"slices=$slices verdict drift: " +
        streamed.diff(batchVerdicts).take(3))
    }
  }

  test("streaming SCD2 equals the batch dimension across slicings") {
    // version boundaries depend only on earlier events (prefix
    // semantics), so event-time-ordered arrivals must rebuild the
    // batch dimension exactly: closed history + final open rows
    import graft.streaming.StreamingScd2
    val batchDim = graft.queries.FraudAnalytics.scd2Dimension.fn(spark, sf).collect().toSeq
    for (slices <- Seq(2, 4)) {
      val streamed = StreamingScd2.runScd2Stream(spark, sf, slices).collect().toSeq
      assert(streamed == batchDim, s"slices=$slices dimension drift: " +
        streamed.diff(batchDim).take(3))
    }
  }

  test("streaming SCD2 replay is idempotent: re-processing a committed batch changes nothing") {
    // at-least-once delivery: a foreachBatch retry re-runs a batch
    // whose state append already committed — the provenance filter
    // must recover pre-batch state and the history overwrite must
    // land byte-equal, leaving the dimension unchanged
    // NB: a foreachBatch retry can only re-run the LATEST batch —
    // later batches commit only after the retry succeeds — so the
    // replayed batch is the last slice, the one whose state append
    // and history dir already exist
    import graft.streaming.StreamingScd2
    import graft.sources.Tables
    val env = StreamingScd2.prepare(spark, sf)
    graft.streaming.StreamingCuration.landOrderedSlicesOf(
      Tables.events(spark, sf), "event_id", env.inDir, 2)
    StreamingScd2.runPass(spark, env)
    // snapshot FIRST: pruning must keep the last batch's replay
    // anchors (the rows it superseded), or the retry below would
    // recompute batch 1's history against wrong state. Bounded at
    // <= 2 rows per user afterwards.
    StreamingScd2.snapshotState(spark, env)
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    val stateRows = env.store.loadProduction(spark, StreamingScd2.OpenName).get.count()
    assert(stateRows <= 2 * nUsers, s"snapshot left $stateRows rows for $nUsers users")
    val before = StreamingScd2.dimension(spark, env).collect().toSeq
    val files = new java.io.File(env.inDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
    val replay = Tables.normalizeEvents(spark.read.parquet(files.last.toString))
    StreamingScd2.processBatch(replay, batchId = 1L, env)
    val after = StreamingScd2.dimension(spark, env).collect().toSeq
    assert(after == before, s"replay drift: ${after.diff(before).take(3)}")
  }

  test("streaming SemDeDup replay is idempotent") {
    import graft.streaming.StreamingSemDedup
    import graft.sources.Tables
    val env = StreamingSemDedup.prepare(spark, sf)
    graft.streaming.StreamingCuration.landOrderedSlicesOf(
      Tables.embeddings(spark, sf), "vec_id", env.inDir, 2)
    StreamingSemDedup.runPass(spark, env)
    def verdicts() = spark.read.parquet(env.outDir).drop("batch")
      .orderBy(col("vec_id")).collect().toSeq
    val before = verdicts()
    // replay the LATEST batch (see the SCD2 replay note)
    val files = new java.io.File(env.inDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
    val replay = Tables.normalizeEmbeddings(spark.read.parquet(files.last.toString))
    StreamingSemDedup.processBatch(replay, batchId = 1L, env)
    assert(verdicts() == before, "re-processing the last batch must not change any verdict")
  }

  test("streaming k-means update merges to identical sums across slicings") {
    // decimal partials are associative and exact: any slicing of the
    // arrivals must merge to the bit-identical per-cluster update
    import graft.streaming.StreamingKmeansUpdate
    val twoSlices = StreamingKmeansUpdate.runUpdateStream(spark, sf, 2).collect().toSeq
    val fourSlices = StreamingKmeansUpdate.runUpdateStream(spark, sf, 4).collect().toSeq
    assert(twoSlices == fourSlices, twoSlices.diff(fourSlices).take(3).toString)
  }

  test("streaming mix-pack equals the batch manifest across slicings") {
    // the per-source running token offset must carry across
    // micro-batches exactly: any drift shifts every later sequence
    // boundary for that source and changes the manifest
    import graft.streaming.StreamingMixPack
    val batchManifest = graft.queries.Curation.mixPack.fn(spark, sf).collect().toSeq
    for (slices <- Seq(2, 3, 5)) {
      val streamed = StreamingMixPack.runMixPackStream(spark, sf, slices).collect().toSeq
      assert(streamed == batchManifest, s"slices=$slices manifest drift: " +
        streamed.diff(batchManifest).take(3))
    }
  }

  test("continuous emission ships identical windows for any slicing; batches only append") {
    import graft.streaming.StreamingEmit
    val batch = graft.queries.TextOps.curationEmit.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    for (slices <- Seq(2, 4)) {
      val env = StreamingEmit.prepare(spark, sf)
      graft.streaming.StreamingCuration.addArrivalsOrdered(spark, env.cur, sf, slices)
      StreamingEmit.runPass(spark, env)
      val streamed = StreamingEmit.emittedWindows(spark, env).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(streamed.toSet == batch, s"slices=$slices window drift: " +
        s"extra=${(streamed.toSet -- batch).take(3)} missing=${(batch -- streamed.toSet).take(3)}")
      // no window ever emitted twice (each completes in exactly one batch)
      assert(streamed.length == streamed.toSet.size, "duplicate window emission")
      // mid-stream batches emit ONLY full 512-token windows; partials
      // appear once, from the drain flush
      val partials = streamed.filter(_._3 < 512L)
      assert(partials.map(_._1).distinct.length == partials.length)
    }
  }

  test("emission cold restart: a fresh pass resumes from the carry state") {
    import graft.streaming.{StreamingCuration, StreamingEmit}
    val docs = graft.sources.Tables.documents(spark, sf)
    val mid = docs.agg(avg(col("doc_id"))).head().getDouble(0).toLong
    val env = StreamingEmit.prepare(spark, sf)
    StreamingCuration.landOrderedSlicesOf(
      docs.filter(col("doc_id") < mid), "doc_id", env.cur.inDir, 2)
    StreamingEmit.runPass(spark, env) // stream dies here
    StreamingCuration.landOrderedSlicesOf(
      docs.filter(col("doc_id") >= mid), "doc_id", env.cur.inDir, 2, tag = "b")
    StreamingEmit.runPass(spark, env) // fresh query, same checkpoint + carry
    val streamed = StreamingEmit.emittedWindows(spark, env).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = graft.queries.TextOps.curationEmit.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed == batch, s"restart drift: extra=${(streamed -- batch).take(3)} " +
      s"missing=${(batch -- streamed).take(3)}")
  }

  test("scd2 dimension over an all-empty stream is open-rows-only, not a read failure") {
    // every micro-batch skipped as empty → no batch dir ever written;
    // dimension() must fall back to an empty closed frame instead of
    // throwing PATH_NOT_FOUND on the unwritten outDir
    import graft.streaming.StreamingScd2
    val env = StreamingScd2.prepare(spark, sf)
    val dim = StreamingScd2.dimension(spark, env)
    assert(dim.count() == 0, "fresh world: no closed rows, empty open state")
    assert(dim.columns.toSeq == Seq("user_id", "version", "event_type",
      "valid_from", "valid_to", "is_current"))
  }

  test("a failing mm emission batch frees its per-batch pins") {
    import graft.streaming.StreamingMmEmit
    val env = StreamingMmEmit.prepare(spark, sf)
    // the face's output root is a regular file, so its write throws
    // after the batch has cut `aligned`/`lens` and persisted its
    // placement
    Files.createFile(java.nio.file.Paths.get(env.outDir))
    val batch = graft.sources.Tables.documents(spark, sf)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // a first failing run builds the session memos the batch reads
    intercept[Exception](StreamingMmEmit.processBatch(batch, 0L, env))
    val (rddsBefore, cachedBefore) = (persisted, cachedEntries)
    // the replay of the failed batch must not add a second set of pins
    intercept[Exception](StreamingMmEmit.processBatch(batch, 0L, env))
    assert(persisted == rddsBefore, s"pins left behind: ${persisted -- rddsBefore}")
    assert(cachedEntries == cachedBefore, "a persisted frame was left in the cache manager")
  }

  test("curation replay normalization is provenance-keyed: a re-delivered doc_id is an exact dup") {
    // a doc_id legitimately arriving AGAIN in a later batch must be
    // caught by the fp index (its earlier row is genuine state, not a
    // replayed own-append); the doc_id-keyed anti-join this replaced
    // would have subtracted that row and let the duplicate escape
    import graft.streaming.StreamingCuration
    import graft.queries.TextOps
    import graft.sources.FrameStore
    val tmp = Files.createTempDirectory("graft-redeliver-").toString
    // 24 distinct tokens: clean of near-dups, long enough to shingle
    val text = (0 until 24).map(i => s"tok$i").mkString(" ")
    val d1 = Seq((1L, text, "en", "s1", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val store = new FrameStore(s"$tmp/store")
    // seed all four state artifacts as if d1 arrived in batch 0
    StreamingCuration.seedState(spark, store, d1, batchId = 0L)
    val env = StreamingCuration.Env(s"$tmp/in", s"$tmp/out", s"$tmp/ckpt",
      store, TextOps.benchGramStore(spark, sf), d1.schema)
    // batch 1 re-delivers the SAME doc_id with the same content
    StreamingCuration.processBatch(d1, batchId = 1L, env)
    val dec = spark.read.parquet(s"$tmp/out/batch=1")
      .select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(dec(1L).contains("exact_dup"),
      s"re-delivered doc_id must be an exact dup, got ${dec(1L)}")
    // and a REPLAY of batch 1 (its append committed) still recovers
    // the pre-batch state: decisions recompute byte-identically
    StreamingCuration.processBatch(d1, batchId = 1L, env)
    val dec2 = spark.read.parquet(s"$tmp/out/batch=1")
      .select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(dec2 == dec, "replayed batch must recompute identical decisions")
    // and the re-delivery must NOT have double-counted the doc's
    // line/span carriers: a later doc sharing doc 1's opening line
    // sees 2 distinct carriers (seed + itself), below the 3-carrier
    // boilerplate threshold — double-counting the re-delivery would
    // have scrubbed it one carrier early
    val sharedLine = text.split(" ").take(4).mkString(" ")
    val d2 = Seq((2L, sharedLine + " " + (0 until 20).map(i => s"x$i").mkString(" "),
        "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    StreamingCuration.processBatch(d2, batchId = 2L, env)
    val row2 = spark.read.parquet(s"$tmp/out/batch=2")
      .filter(col("doc_id") === 2L).head()
    assert(row2.getAs[Long]("n_line_rm") == 0L,
      s"re-delivered carrier double-counted: n_line_rm=${row2.getAs[Long]("n_line_rm")}")
  }

  test("shingle index roundtrip certificate: cold reload equals session build") {
    val row = graft.streaming.StreamingDedup.indexRoundtrip.fn(spark, sf).head()
    assert(row.getAs[Long]("n_docs") > 0)
    assert(row.getAs[Boolean]("reload_equals_session"))
    assert(row.getAs[Boolean]("one_row_per_doc"))
  }

  test("stream/batch parity: streaming backfill equals batch scoring") {
    val out = Files.createTempDirectory("graft-sp-").toString + "/scored"
    val streamed = ScoringStream.runScoredBackfill(spark, sf, out)
    val batch = SparkEntry.queries("fraud_scored_events")(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("T6/P14: malformed JSON records are skipped, not failed") {
    val rows = Seq(
      (1L, """{"k": 5}"""),
      (2L, """{broken"""),
      (3L, """{"k": "not-a-number"}"""),
      (4L, null.asInstanceOf[String])).toDF("event_id", "props")
    val parsed = rows.withColumn("features",
      from_json(col("props"), graft.functions.Scoring.FeatureMapType))
    val ok = parsed.filter(col("features").isNotNull)
    // PERMISSIVE: broken json, non-numeric values, and null payloads
    // all parse to a null map → the record is skipped, mirroring the
    // reference's per-record try/except skip (main.py:224-235, where
    // float("not-a-number") throws and the record is dropped).
    assert(ok.count() == 1)
    val projected = ok.select(col("event_id"),
      graft.functions.Scoring.featureAt(col("features"), "k").as("k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(projected == Map(1L -> 5.0))
  }

  test("T1 upgrade: dropDuplicatesWithinWatermark dedups replayed ids") {
    val srcDir = Files.createTempDirectory("graft-dup-").toString + "/src"
    Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 1.0), // replay
      ("b", java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0))
      .toDF("transaction_id", "ts", "amount")
      .write.parquet(srcDir)
    val ckpt = Files.createTempDirectory("graft-dup-ckpt-").toString
    val outDir = Files.createTempDirectory("graft-dup-out-").toString
    val q = spark.readStream
      .schema("transaction_id STRING, ts TIMESTAMP, amount DOUBLE")
      .parquet(srcDir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("transaction_id")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(outDir)
    assert(got.count() == 2)
    assert(got.select("transaction_id").as[String].collect().toSet == Set("a", "b"))
  }

  test("checkpoint recovery: restart processes only newly arrived files, exactly once") {
    val base = Files.createTempDirectory("graft-ckpt-rec-").toString
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v DOUBLE")
        .parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    (1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(outDir).count() == 5)
    (6L to 8L).map(i => (i, i * 1.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 8) // old files not reprocessed, new ones exactly once
    assert(out.select("id").distinct().count() == 8)
  }

  test("G7: rate-source synthetic transaction stream produces valid records") {
    val stream = ScoringStream.syntheticTransactionStream(spark, rowsPerSecond = 100)
    val q = stream.writeStream.format("memory").queryName("synth_tx")
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    try {
      var tries = 0
      while (spark.table("synth_tx").isEmpty && tries < 50) { Thread.sleep(200); tries += 1 }
      val rows = spark.table("synth_tx")
      assert(!rows.isEmpty, "rate source produced no rows")
      assert(rows.columns.toSet ==
        Set("transaction_id", "event_time", "amount", "features"))
      assert(rows.filter(col("amount") <= 0).count() == 0)
      assert(rows.filter(length(col("transaction_id")) =!= 36).count() == 0)
    } finally q.stop()
  }

  test("observe() ingest metrics count malformed payloads in-plan") {
    val good = graft.sources.Tables.events(spark, sf)
    val bad = good.limit(3).withColumn("props", lit("""{broken"""))
    // well formed, but outside what the JSON kernel decides: Spark's
    // parse reads them, so they score and are not malformed
    val deferred = Seq("""{"k":1.5}""", """{'k':1}""")
      .map(p => good.limit(2).withColumn("props", lit(p))).reduce(_ union _)
    val obs = org.apache.spark.sql.Observation("ingest")
    val scored = FraudAnalytics.scoredWithIngestMetrics(good.union(bad).union(deferred), obs)
    val total = scored.count()
    assert(total == good.count() + 7)
    assert(obs.get("n_ingested") == total)
    assert(obs.get("n_malformed") == 3L)
    assert(FraudAnalytics.scored(deferred).select("k").as[Double].collect().sorted.toSeq ==
      Seq(1.0, 1.0, 1.5, 1.5))
  }

  test("T5 upgrade: mapGroupsWithState per-user profiles match batch aggregation") {
    val profiles = graft.streaming.UserState.runProfiles(spark, sf)
      .collect().map(p => p.user_id -> p).toMap
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"), max(col("ts")).as("mx"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(profiles.keySet == batch.keySet)
    for ((u, p) <- profiles) {
      assert(p.n_events == batch(u).getAs[Long]("n"))
      assert(math.abs(p.total_value - batch(u).getAs[Double]("total")) < 1e-6)
      assert(p.last_ts == batch(u).getAs[java.sql.Timestamp]("mx"))
    }
  }

  test("T4 streaming: session_window with watermark matches batch sessionization") {
    // The batch fraud_sessionize oracle query, run as a STREAM: same
    // session_window(ts, 30 min) groupBy under a watermark, append
    // mode (sessions finalize when the watermark passes their gap).
    // The bounded backfill's final no-data batch advances the
    // watermark to max(ts)+0, so only sessions still open within the
    // last hour may be withheld — compare on the closed prefix.
    val ckpt = Files.createTempDirectory("graft-sess-ckpt-").toString
    val agg = ScoringStream.scoredStream(spark, sf)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
    val q = agg.writeStream
      .outputMode("append")
      .format("memory").queryName("graft_sessions_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("graft_sessions_stream")
    val batch = SparkEntry.queries("fraud_sessionize")(spark, sf)
    // Every emitted streaming session must be a batch session…
    assert(streamed.except(batch).count() == 0)
    // …and the stream must have finalized the overwhelming majority
    // (only sessions inside the trailing watermark horizon may be held).
    val horizon = graft.sources.Tables.events(spark, sf)
      .agg(max(col("ts"))).head.getTimestamp(0).getTime - 2 * 3600 * 1000
    val closed = batch.filter(col("session_end") < new java.sql.Timestamp(horizon))
    assert(closed.except(streamed).count() == 0,
      "a session closed before the watermark horizon was never emitted")
    assert(streamed.count() > 0)
  }

  test("T4 streaming: sessions MERGE across micro-batches before the watermark closes them") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft-sessmerge-ckpt-").toString
    def ts(min: Long) = min * 60000L
    val sess = input.toDF().toDF("user_id", "ts_ms")
      .select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("graft_sess_merge")
      .option("checkpointLocation", ckpt).start()
    try {
      // batch 1: user 1 events at t=0 and t=10 min → one open session
      input.addData((1L, ts(0)), (1L, ts(10)))
      q.processAllAvailable()
      // batch 2: t=25 min lands INSIDE the gap window of the stored
      // session — state-store MERGE, not a second session
      input.addData((1L, ts(25)))
      q.processAllAvailable()
      // batch 3+4: far-future event advances the watermark past the
      // session's gap-extended end → the merged session flushes once
      input.addData((2L, ts(600)))
      q.processAllAvailable()
      input.addData((2L, ts(700)))
      q.processAllAvailable()
      val out = spark.table("graft_sess_merge")
        .filter(col("user_id") === 1L).collect()
      assert(out.length == 1, out.mkString("; "))
      assert(out.head.getAs[Long]("n_events") == 3)
      assert(out.head.getAs[java.sql.Timestamp]("session_start").getTime == ts(0))
    } finally q.stop()
  }

  test("T5 on transformWithState: RocksDB-backed profiles match the mapGroupsWithState twin") {
    val tws = graft.streaming.UserStateTws.runProfiles(spark, sf)
      .collect().map(p => p.user_id -> p).toMap
    val mgws = graft.streaming.UserState.runProfiles(spark, sf)
      .collect().map(p => p.user_id -> p).toMap
    assert(tws.keySet == mgws.keySet)
    for ((u, p) <- tws) {
      assert(p.n_events == mgws(u).n_events, s"user $u")
      assert(math.abs(p.total_value - mgws(u).total_value) < 1e-6, s"user $u")
      assert(p.last_ts == mgws(u).last_ts, s"user $u")
      assert(p.spike_seen == mgws(u).spike_seen, s"user $u")
    }
  }

  test("M8 streaming: foreachBatch scores with the live Production model") {
    val root = Files.createTempDirectory("graft-stream-reg-").toString
    val reg = new graft.ml.ModelRegistry(root)
    val trained = graft.ml.FraudModel.train(
      graft.ml.FraudModel.syntheticTraining(spark, n = 2000, seed = 7))
    reg.promote("fraud_detector", reg.register(trained.model, "fraud_detector"))
    val out = Files.createTempDirectory("graft-stream-scored-").toString + "/out"
    val scored = graft.streaming.ScoringStream
      .runModelScoredStream(spark, sf, out, reg, "fraud_detector")
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(scored.count() == nEvents)
    assert(scored.select("model_version").distinct().head.getString(0) == "v1")
    assert(scored.filter(col("proba") < 0 || col("proba") > 1).count() == 0)
    // empty registry → heuristic fallback, same plumbing
    val out2 = Files.createTempDirectory("graft-stream-scored-").toString + "/out"
    val fb = graft.streaming.ScoringStream.runModelScoredStream(
      spark, sf, out2, new graft.ml.ModelRegistry(
        Files.createTempDirectory("graft-empty-reg-").toString), "fraud_detector")
    assert(fb.select("model_version").distinct().head.getString(0) == "heuristic")
  }

  test("stream-stream interval join (click->purchase within 1h) matches batch join") {
    val ckpt = Files.createTempDirectory("graft-ssj-").toString
    def evStream() = ScoringStream.scoredStream(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    // Both sides watermarked; the interval condition bounds the join
    // state Spark must retain (clicks kept only while a purchase
    // could still match).
    val clicks = evStream().filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val buys = evStream().filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"), col("event_id").as("buy_id"))
    val cond = col("user_id") === col("buy_user") &&
      col("buy_ts") >= col("click_ts") &&
      col("buy_ts") <= col("click_ts") + expr("INTERVAL 60 MINUTES")
    val q = clicks.join(buys, cond)
      .writeStream.format("memory").queryName("graft_ssj")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("graft_ssj")
    val ev = graft.sources.Tables.events(spark, sf)
    val want = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"), col("event_id").as("buy_id")),
        cond)
    assert(want.count() > 0, "batch join must be non-trivial")
    assert(got.count() == want.count())
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("stream-stream LEFT OUTER join: watermark eviction emits exactly the batch null-extended twin") {
    val streamed = graft.streaming.ClickAttribution.runAttributionLeftOuter(spark, sf)
    streamed.cache()
    // Batch twin with identical semantics: left outer as-of join, null
    // rows kept only below the eventual-watermark horizon.
    val ev = graft.sources.Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("click_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val horizon = ev.agg(
      (least(max(when(col("event_type") === "click", col("ts"))),
             max(when(col("event_type") === "purchase", col("ts"))))
        - expr("INTERVAL 1 HOUR") - expr("INTERVAL 1 SECOND")).as("horizon"))
    val batch = buys.join(clicks,
        col("cu") === col("user_id") && col("click_ts") < col("ts") &&
          col("click_ts") >= col("ts") - expr("INTERVAL 30 MINUTES"), "left_outer")
      .crossJoin(broadcast(horizon))
      .filter(col("click_id").isNotNull || col("ts") < col("horizon"))
      .groupBy(col("event_id"), col("user_id"), col("ts"))
      .agg(max_by(col("click_id"), struct(col("click_ts"), col("click_id"))).as("click_id"))
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
    // the eviction path must actually fire: null-extended rows exist…
    val nullRows = streamed.filter(col("click_id").isNull).count()
    assert(nullRows > 0, "no null-extended rows — watermark eviction never fired")
    // …alongside matched rows, and the matched side equals the batch inner twin
    val matched = streamed.filter(col("click_id").isNotNull)
    val inner = buys.join(clicks,
        col("cu") === col("user_id") && col("click_ts") < col("ts") &&
          col("click_ts") >= col("ts") - expr("INTERVAL 30 MINUTES"))
      .groupBy(col("event_id"), col("user_id"), col("ts"))
      .agg(max_by(col("click_id"), struct(col("click_ts"), col("click_id"))).as("click_id"))
    assert(matched.except(inner).count() == 0 && inner.except(matched).count() == 0)
    streamed.unpersist()
  }

  test("streaming daily metrics equal batch daily metrics") {
    // in UTC and in a zone whose days are not UTC epoch days
    val newYork = GraftSession.scoped(spark, "spark.sql.session.timeZone" -> "America/New_York")(identity)
    for (s <- Seq(spark, newYork)) {
      val streamed = ScoringStream.runDailyMetricsStream(s, sf)
      val batch = FraudAnalytics.dailyMetrics.fn(s, sf)
      assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
        s"time zone ${s.conf.get("spark.sql.session.timeZone")}")
    }
  }

  test("state data source exposes streaming aggregation state (ops introspection)") {
    // At 100 TB the state store is the part of a streaming job you
    // cannot re-derive by rereading the input; `format("statestore")`
    // is the operational window into it (skew hunts, debugging,
    // state-compatible migrations). Run a bounded per-user count,
    // then read the checkpoint's state directly and require it to
    // equal the batch aggregate.
    val ckpt = Files.createTempDirectory("graft-statestore-").toString
    val q = ScoringStream.eventsStream(spark, sf)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () } }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val state = spark.read.format("statestore").load(ckpt)
      .select($"key.user_id".as("user_id"), $"value.count".as("n"))
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    assert(state.count() > 0)
    assert(state.except(batch).count() == 0 && batch.except(state).count() == 0)
  }
}
