package graft.multimodal

import graft.Q
import graft.sources.{FrameStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PUBLISH-A-RELEASE BUNDLE — the one-pointer publication a training
  * run actually consumes: the trimodal release's five components —
  * window shards, training shuffle order, per-modality data card,
  * release tokenizer symbol table, and the cross-modal split-leakage
  * report — registered as versioned artifacts in ONE store, composed
  * by a MANIFEST frame (one row per component naming its exact
  * version + row count) whose single promotion publishes the whole
  * release atomically. A reader resolves components THROUGH the
  * production manifest, so it never observes a half-published
  * release, whatever order the component pointers moved in.
  *
  * FORGET PROPAGATES THROUGH THE BUNDLE POINTER: a takedown registers
  * new versions of every corpus-derived component (windows recut from
  * the reduced record set — the [[Multimodal]] forget world's gold
  * standard — shuffle and card re-rolled from the recut windows and
  * reduced gated union, leakage re-derived from the endpoint-filtered
  * pair lists), REUSES the tokenizer version untouched (the
  * gate-independent-symbol-table rule: a takedown must never shift
  * the release id space), and flips the manifest once. A reader
  * holding the old manifest keeps a consistent pre-forget view until
  * gc physically reclaims the recut components' old versions — after
  * which the withdrawn content is unreachable through ANY pointer.
  *
  * Scale shape: every component is a memoized artifact the session
  * already pays for its own oracle row; the bundle adds five
  * register() writes, two manifest rows' worth of driver work, and
  * the atomic flips — publication cost is O(components), never a
  * recompute. */
object ReleaseBundle {

  val BundleName = "trimodal_release"
  /** Component order is fixed — the manifest is keyed by name. */
  val Components: Seq[String] =
    Seq("windows", "shuffle", "card", "tokenizer", "leakage")

  import Multimodal.{TakedownMod, TakedownResidue}
  private def forgotten(id: org.apache.spark.sql.Column) =
    id % TakedownMod === TakedownResidue

  /** The full promote → forget → gc lifecycle's pinned observations:
    * both manifests (collected — tiny), the consistency facts checked
    * at build time, and the store for the spec's post-gc probes. */
  private[graft] final case class BundleWorld(store: FrameStore,
      manifestBefore: Seq[(String, Int, Long)],
      manifestAfter: Seq[(String, Int, Long)],
      oldReadableAtFlip: Boolean,
      componentsMatchManifest: Boolean) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val memo = graft.SessionCaches.memo[BundleWorld]

  private[graft] def bundleWorld(s: SparkSession, dir: String): BundleWorld =
    memo(s, dir) {
      buildBundleWorld(s, dir,
        winBefore = Multimodal.trimodalEmitWindows(s, dir),
        recordsBefore = Multimodal.trimodalGated(s, dir),
        winAfter = Multimodal.trimodalForgetRebuilt(s, dir),
        recordsAfter = Multimodal.trimodalGated(s, dir)
          .filter(!forgotten(col("doc_id"))))
    }

  private val streamMemo = graft.SessionCaches.memo[BundleWorld]

  /** The bundle published FROM THE LIVE PIPELINE: windows/shuffle/
    * card ride the continuously-landed trimodal pass, the post-forget
    * face rides the LIVE-takedown stream world's drained artifacts —
    * the same promote → forget → gc lifecycle, sourced from what a
    * continuously-publishing deployment actually has on disk. */
  private[graft] def streamBundleWorld(s: SparkSession, dir: String): BundleWorld =
    streamMemo(s, dir) {
      val forgetWorld = graft.streaming.StreamingMmEmit.trimodalStreamForgetWorld(s, dir)
      buildBundleWorld(s, dir,
        winBefore = graft.streaming.StreamingMmEmit.streamedTrimodalWindows(s, dir),
        recordsBefore = graft.streaming.StreamingMmEmit.streamedTrimodalEntries(s, dir),
        winAfter = forgetWorld.finalWindows,
        recordsAfter = forgetWorld.entries)
    }

  private def buildBundleWorld(s: SparkSession, dir: String,
      winBefore: DataFrame, recordsBefore: DataFrame,
      winAfter: DataFrame, recordsAfter: DataFrame): BundleWorld = {
      val store = new FrameStore(
        java.nio.file.Files.createTempDirectory("graft-release-bundle-").toString)
      // ---- publish: the five components + one manifest flip ----
      val before: Seq[(String, Int, Long)] = register(s, store, Map(
        "windows" -> winBefore,
        "shuffle" -> graft.queries.TextOps.shuffleRankTrimodal(winBefore),
        "card" -> Multimodal.trimodalCardOfDocs(recordsBefore,
          Tables.documents(s, dir).agg(count(lit(1)).as("n"))),
        "tokenizer" -> Multimodal.mmCaptionSymsStats(s, dir)._1,
        "leakage" -> Multimodal.splitLeakageOf(s, dir, _ => lit(true))))
      promoteManifest(s, store, before)
      // ---- the takedown: recut every corpus-derived component,
      // REUSE the tokenizer version, flip the manifest once ----
      val recut: Seq[(String, Int, Long)] = register(s, store, Map(
        "windows" -> winAfter,
        "shuffle" -> graft.queries.TextOps.shuffleRankTrimodal(winAfter),
        "card" -> Multimodal.trimodalCardOfDocs(recordsAfter,
          Tables.documents(s, dir).filter(!forgotten(col("doc_id")))
            .agg(count(lit(1)).as("n"))),
        "leakage" -> Multimodal.splitLeakageOf(s, dir, id => !forgotten(id))))
      val after = recut ++ before.filter(_._1 == "tokenizer")
      // a reader holding the OLD manifest still loads every OLD
      // version right up to the flip (version immutability — checked
      // here, pinned in the lifecycle spec)
      val oldReadable = parityAll(s, store, before)
      promoteManifest(s, store, after)
      // components named by the production manifest exist with the
      // row counts the manifest claims
      val consistent = parityAll(s, store, after)
      // gc: pre-forget versions of the recut components are PHYSICALLY
      // reclaimed — the withdrawn content survives through no pointer
      Components.foreach { n => store.promote(n,
        after.find(_._1 == n).get._2); store.gc(n, keep = 0) }
      store.gc(BundleName, keep = 0)
      BundleWorld(store, before, after, oldReadable, consistent)
  }

  /** Register each component and read back its row count — the
    * components of one manifest are INDEPENDENT artifacts under their
    * own per-name version counters, so the register+count pairs run
    * CONCURRENTLY (guide §2.6); the returned rows keep the sorted
    * component order the manifest always had. */
  private def register(s: SparkSession, store: FrameStore,
      comps: Map[String, DataFrame]): Seq[(String, Int, Long)] = {
    val entries = comps.toSeq.sortBy(_._1)
    val out = new java.util.concurrent.atomic.AtomicReferenceArray[
      (String, Int, Long)](entries.size)
    graft.streaming.StreamPools.runAll(entries.zipWithIndex.map {
      case ((n, df), i) => () => {
        val v = store.register(s, n, df)
        out.set(i, (n, v, store.load(s, n, v).count()))
      }
    })
    entries.indices.map(out.get)
  }

  /** Concurrent parity readback: every (component, version) loads
    * with the row count the manifest claims. */
  private def parityAll(s: SparkSession, store: FrameStore,
      rows: Seq[(String, Int, Long)]): Boolean = {
    val oks = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.streaming.StreamPools.runAll(rows.map { case (n, v, nRows) =>
      () => { if (store.load(s, n, v).count() == nRows) { oks.incrementAndGet(); () } }
    })
    oks.get == rows.size
  }

  private def promoteManifest(s: SparkSession, store: FrameStore,
      rows: Seq[(String, Int, Long)]): Unit = {
    import s.implicits._
    store.publish(s, BundleName, rows.toDF("component", "version", "n_rows"))
    ()
  }

  /** Bench warm hook: the whole lifecycle, attributed once (the
    * component artifacts themselves are warmed by their own
    * entries — the bundle adds registers + flips + counts). */
  private[graft] def warmBundle(s: SparkSession, dir: String): Unit = {
    bundleWorld(s, dir); ()
  }

  /** RELEASE-BUNDLE CERTIFICATE — one row over the full lifecycle.
    * The oracle independently recomputes every component's row count
    * through the existing CTE chains (trimodal emission at both
    * corpus states, the card rollup, the BPE symbol-table segments,
    * the four-pipeline leakage report) plus the withdrawal counts;
    * the atomicity/immutability facts ride as pinned booleans:
    *
    *  - `shuffle_matches_windows`: the shuffle order names exactly
    *    the window set, in both manifests;
    *  - `tokenizer_survives_forget`: the takedown reuses the SAME
    *    tokenizer version (id space never shifts);
    *  - `bundle_matches_components`: every version the production
    *    manifest names exists with the claimed row count;
    *  - `old_readable_at_flip`: a reader holding the pre-forget
    *    manifest loaded every old version intact right up to the
    *    atomic flip. */
  val releaseBundle: Q = Q("mm_release_bundle",
    "SELECT\n" +
      "  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT) FROM (SELECT shard, SUM(tot) AS t FROM (" +
      Multimodal.trimodalEmitOracleCtes("1 = 1") +
      "\nSELECT shard, tot FROM o) bo GROUP BY 1) bt) AS n_windows_before,\n" +
      "  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT) FROM (SELECT shard, SUM(tot) AS t FROM (" +
      Multimodal.trimodalEmitOracleCtes("doc_id % 20 <> 8") +
      "\nSELECT shard, tot FROM o) ao GROUP BY 1) at2) AS n_windows_after,\n" +
      "  (SELECT CAST(COUNT(*) AS BIGINT) FROM (" + Multimodal.trimodalCard.oracle.get +
      ") cd) AS n_card_rows,\n" +
      "  (SELECT CAST(COUNT(*) AS BIGINT) FROM (" +
      Multimodal.trimodalEmitOracleCtes("1 = 1") +
      "\nSELECT * FROM dsym) tk) AS n_tokenizer_rows,\n" +
      "  (SELECT CAST(COUNT(*) AS BIGINT) FROM (" + Multimodal.mmSplitLeakage.oracle.get +
      ") lk) AS n_leak_docs,\n" +
      "  (SELECT COUNT(*) FROM documents WHERE doc_id % 20 = 8) AS n_docs_forgotten,\n" +
      "  TRUE AS shuffle_matches_windows,\n" +
      "  TRUE AS tokenizer_survives_forget,\n" +
      "  TRUE AS bundle_matches_components,\n" +
      "  TRUE AS old_readable_at_flip") { (s, dir) =>
    val w = bundleWorld(s, dir)
    def rows(m: Seq[(String, Int, Long)], n: String): Long = m.find(_._1 == n).get._3
    def ver(m: Seq[(String, Int, Long)], n: String): Int = m.find(_._1 == n).get._2
    import s.implicits._
    Seq((
      rows(w.manifestBefore, "windows"), rows(w.manifestAfter, "windows"),
      rows(w.manifestBefore, "card"), rows(w.manifestBefore, "tokenizer"),
      rows(w.manifestBefore, "leakage"),
      rows(w.manifestBefore, "shuffle") == rows(w.manifestBefore, "windows") &&
        rows(w.manifestAfter, "shuffle") == rows(w.manifestAfter, "windows"),
      ver(w.manifestBefore, "tokenizer") == ver(w.manifestAfter, "tokenizer") &&
        rows(w.manifestBefore, "tokenizer") == rows(w.manifestAfter, "tokenizer"),
      w.componentsMatchManifest,
      w.oldReadableAtFlip))
      .toDF("n_windows_before", "n_windows_after", "n_card_rows",
        "n_tokenizer_rows", "n_leak_docs",
        "shuffle_matches_windows", "tokenizer_survives_forget",
        "bundle_matches_components", "old_readable_at_flip")
      .crossJoin(broadcast(Tables.documents(s, dir)
        .filter(forgotten(col("doc_id")))
        .agg(count(lit(1)).as("n_docs_forgotten"))))
      .select(col("n_windows_before"), col("n_windows_after"),
        col("n_card_rows"), col("n_tokenizer_rows"), col("n_leak_docs"),
        col("n_docs_forgotten"), col("shuffle_matches_windows"),
        col("tokenizer_survives_forget"), col("bundle_matches_components"),
        col("old_readable_at_flip"))
  }

  /** Streaming twin of `mm_release_bundle` — the bundle PUBLISHED
    * FROM THE LIVE PIPELINE: every corpus-derived component is
    * sourced from the continuously-landed trimodal artifacts (the
    * consolidated stream pass's drained windows/records; the
    * post-forget face from the LIVE-takedown world's final drain),
    * and the certificate adds the cross-world leg
    * `manifest_equals_batch`: component-for-component, both the
    * pre-forget and post-forget production manifests claim the SAME
    * row counts as the batch-published bundle — a training run
    * pinning the stream-published release resolves the identical
    * release the batch composition would have shipped. Oracle: the
    * batch bundle's independent recomputes, plus the parity leg as
    * a pinned boolean. */
  val streamReleaseBundle: Q = Q("stream_release_bundle",
    releaseBundle.oracle.get + ",\n  TRUE AS manifest_equals_batch") { (s, dir) =>
    val w = streamBundleWorld(s, dir)
    val b = bundleWorld(s, dir)
    def byName(m: Seq[(String, Int, Long)]): Map[String, Long] =
      m.map { case (n, _, rows) => n -> rows }.toMap
    val parity =
      byName(w.manifestBefore) == byName(b.manifestBefore) &&
        byName(w.manifestAfter) == byName(b.manifestAfter)
    def rows(m: Seq[(String, Int, Long)], n: String): Long = m.find(_._1 == n).get._3
    def ver(m: Seq[(String, Int, Long)], n: String): Int = m.find(_._1 == n).get._2
    import s.implicits._
    Seq((
      rows(w.manifestBefore, "windows"), rows(w.manifestAfter, "windows"),
      rows(w.manifestBefore, "card"), rows(w.manifestBefore, "tokenizer"),
      rows(w.manifestBefore, "leakage"),
      rows(w.manifestBefore, "shuffle") == rows(w.manifestBefore, "windows") &&
        rows(w.manifestAfter, "shuffle") == rows(w.manifestAfter, "windows"),
      ver(w.manifestBefore, "tokenizer") == ver(w.manifestAfter, "tokenizer") &&
        rows(w.manifestBefore, "tokenizer") == rows(w.manifestAfter, "tokenizer"),
      w.componentsMatchManifest,
      w.oldReadableAtFlip,
      parity))
      .toDF("n_windows_before", "n_windows_after", "n_card_rows",
        "n_tokenizer_rows", "n_leak_docs",
        "shuffle_matches_windows", "tokenizer_survives_forget",
        "bundle_matches_components", "old_readable_at_flip",
        "manifest_equals_batch")
      .crossJoin(broadcast(Tables.documents(s, dir)
        .filter(forgotten(col("doc_id")))
        .agg(count(lit(1)).as("n_docs_forgotten"))))
      .select(col("n_windows_before"), col("n_windows_after"),
        col("n_card_rows"), col("n_tokenizer_rows"), col("n_leak_docs"),
        col("n_docs_forgotten"), col("shuffle_matches_windows"),
        col("tokenizer_survives_forget"), col("bundle_matches_components"),
        col("old_readable_at_flip"), col("manifest_equals_batch"))
  }

  /** Bench warm hook for the stream-published lifecycle. */
  private[graft] def warmStreamBundle(s: SparkSession, dir: String): Unit = {
    streamBundleWorld(s, dir); ()
  }

  val all: Seq[Q] = Seq(releaseBundle, streamReleaseBundle)
}
