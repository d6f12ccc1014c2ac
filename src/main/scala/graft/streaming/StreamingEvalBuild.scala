package graft.streaming

import graft.Q
import graft.queries.TextOps
import graft.sources.{FrameStore, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The eval-set constructor OPERATED CONTINUOUSLY — the streaming
  * twin of `text_eval_build`: benchmark CANDIDATES arrive as a
  * stream, and every micro-batch screens its md5-test-split docs
  * against the PERSISTED train-gram index (the promoted on-disk
  * artifact a continuously-ingesting pipeline keeps — the
  * [[TextOps.benchGramStore]] discipline pointed the other way:
  * there the benchmark grams screen arriving TRAINING docs, here the
  * training grams screen arriving BENCHMARK candidates).
  *
  * The keep decision is a per-doc content fact against the STATIC
  * train side, so the per-batch manifests concatenate into exactly
  * the batch query's manifest for any slicing — the twin shares its
  * DuckDB oracle verbatim. Replay = overwrite of the batch's own
  * manifest directory (idempotent by construction, the
  * [[StreamingDrift]] discipline).
  *
  * Scale shape: the index is deduped 8-byte gram keys loaded from
  * its promoted artifact per batch (never recomputed); the per-batch
  * screen is one hash join + one per-doc aggregate over the batch's
  * own postings.
  */
object StreamingEvalBuild {

  val GramsName = "train_grams"

  final case class World(inDir: String, outDir: String, ckpt: String,
                         store: FrameStore, manifest: DataFrame)
      extends graft.Reapable {
    def reapRoots: Seq[String] =
      Seq(java.nio.file.Paths.get(outDir).getParent.toString)
  }

  private val worldMemo = graft.SessionCaches.memo[World]

  private[graft] def evalWorld(s: SparkSession, dir: String): World =
    worldMemo(s, dir) {
      val scratch = Scratch.dir("graft-evalbuild-").toString
      val docs = Tables.documents(s, dir)
      val store = new FrameStore(s"$scratch/store")
      // the persisted index: distinct train-side grams, promoted once
      graft.WarmPhases.phase("index") {
        store.publish(s, GramsName,
          TextOps.hashedGrams8(Tables.fanOut(docs))
            .withColumn("bucket", TextOps.splitBucket)
            .filter(col("bucket") < 90).select(col("h")).distinct())
      }
      val inDir = s"$scratch/in"
      val outDir = s"$scratch/manifests"
      val ckpt = s"$scratch/ckpt"
      graft.WarmPhases.phase("land") {
        StreamingCuration.landOrderedSlicesOf(docs, "doc_id", inDir, 3)
      }
      graft.WarmPhases.phase("drain") {
        Drain.files(s, docs.schema, inDir, ckpt) { (batch, batchId) =>
          val b = Tables.normalizeDocuments(batch)
          val cand = b.withColumn("bucket", TextOps.splitBucket)
            .filter(col("bucket") >= 90)
          val seen = store.production(s, GramsName)
          TextOps.evalManifestOf(cand, TextOps.hashedGrams8(cand), seen)
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        }
      }
      val manifest = graft.WarmPhases.phase("artifacts") {
        graft.SessionCaches.cutLineage(s.read.parquet(outDir).drop("batch"))
      }
      World(inDir, outDir, ckpt, store, manifest)
    }

  /** Bench warm hook: index build + stream pass, attributed once. */
  private[graft] def warmEvalStream(s: SparkSession, dir: String): Unit = {
    evalWorld(s, dir); ()
  }

  /** Streaming twin of `text_eval_build` — same oracle. */
  val streamEvalBuild: Q = Q("stream_eval_build",
    TextOps.evalBuild.oracle.get) { (s, dir) =>
    evalWorld(s, dir).manifest.orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(streamEvalBuild)
}
