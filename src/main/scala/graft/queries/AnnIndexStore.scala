package graft.queries

import java.nio.file.Files

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted IVF-PQ index with versioned promotion — the index-side
  * analog of the model-artifact lifecycle ([[graft.ml.ModelRegistry]];
  * reference `services/fraud_service/app/main.py:73-97` resolves the
  * Production model by pointer and hot-reloads it). At 100 TB the
  * index is the thing you must NOT recompute per session: training +
  * encoding scans the corpus once, then every consumer loads 16-byte
  * codes + KB-scale codebooks and never touches the raw vectors until
  * the final refine.
  *
  * A version ([[graft.sources.VersionedStore]] layout) holds:
  * {{{
  *   v<N>/codes/      (vec_id, list_id, codes array<int>)  — corpus-scale
  *   v<N>/codebooks/  (m, j, centroid array<double>)       — M·K rows
  *   v<N>/coarse/     (list_id, centroid, list_mean)       — NumLists rows
  * }}}
  *
  * Doubles round-trip parquet bit-exactly, so a reloaded index
  * answers queries IDENTICALLY to the in-session build — pinned by
  * DedupSpec (cold-reload equality) and by the oracle-gated
  * `sim_ann_index_roundtrip` certificate.
  */
final class AnnIndexStore(root: String) extends graft.sources.VersionedStore[PqAnn.PqIndex](root) {

  /** Persist an index as the next version; returns the version. The
    * codes frame is written partitioned by `list_id` so a probe of
    * `nProbe` lists prunes to `nProbe`/`NumLists` of the files on
    * disk — the IVF inverted-list layout, expressed as partition
    * pruning. */
  def register(spark: SparkSession, idx: PqAnn.PqIndex, name: String): Int =
    stageVersion(name) { dir =>
    idx.codes.write.mode("overwrite").partitionBy("list_id")
      .parquet(dir.resolve("codes").toString)
    val books = for {
      (book, m) <- idx.books.zipWithIndex.toSeq
      (c, j) <- book.zipWithIndex
    } yield Row(m, j, c.toSeq)
    val bookSchema = StructType(Seq(
      StructField("m", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(books, 1), bookSchema)
      .write.mode("overwrite").parquet(dir.resolve("codebooks").toString)
    val coarse = idx.cents.zipWithIndex.toSeq.map { case (c, l) =>
      Row(l, c.toSeq, idx.listMeans(l).toSeq)
    }
    val coarseSchema = StructType(Seq(
      StructField("list_id", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("list_mean", ArrayType(DoubleType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(coarse, 1), coarseSchema)
      .write.mode("overwrite").parquet(dir.resolve("coarse").toString)
    ()
  }

  /** Load a version purely from disk: driver constants from the two
    * KB-scale tables, codes as a lazy parquet scan. */
  def load(spark: SparkSession, name: String, version: Int): PqAnn.PqIndex = {
    val dir = versionPath(name, version)
    val books = spark.read.parquet(dir.resolve("codebooks").toString)
      .select(col("m"), col("j"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(t => (t._1, t._2))
    val m = books.map(_._1).max + 1
    val bookArr = Array.tabulate(m)(mi => books.filter(_._1 == mi).map(_._3))
    val coarse = spark.read.parquet(dir.resolve("coarse").toString)
      .select(col("list_id"), col("centroid"), col("list_mean")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    val codes = spark.read.parquet(dir.resolve("codes").toString)
      .select(col("vec_id"), col("list_id").cast("int").as("list_id"), col("codes"))
    PqAnn.PqIndex(coarse.map(_._2), bookArr, coarse.map(_._3), codes)
  }

  /** INSERT arriving vectors into the production index without
    * retraining: encode them with the production constants
    * ([[PqAnn.encodeWith]]) and publish base + batch as a new version.
    * The base version's immutable code files are HARDLINKED into it —
    * O(#files) metadata, zero data copied — which is how a 100 TB
    * store appends (a 0.1% daily arrival must never re-encode or
    * re-copy the corpus). Sound because encoding is deterministic in
    * the constants: the extended index is bit-identical to a one-shot
    * encode of the union corpus (pinned by `sim_ann_index_append`).
    * With `batchId` a replayed batch is skipped, so it can never
    * produce two codes for one vec_id. */
  def appendBatch(spark: SparkSession, name: String, newEmb: DataFrame,
                  batchId: Option[Long] = None,
                  streamId: Option[String] = None): Int =
    derive(name, batchId, streamId) { (v, staging) =>
      val idx = load(spark, name, v)
      linkTree(versionPath(name, v), staging)
      PqAnn.encodeWith(newEmb, idx.cents, idx.books, idx.listMeans)
        .write.mode("append").partitionBy("list_id")
        .parquet(staging.resolve("codes").toString)
    }

  /** Test/diagnostic visibility of a version's codes directory. */
  def codesDir(name: String, version: Int): String =
    versionPath(name, version).resolve("codes").toString

  // publish production's codes rewritten through `f`, one file per
  // list; the KB-scale codebooks and coarse tables are hardlinked
  private def rewriteCodes(spark: SparkSession, name: String)(f: DataFrame => DataFrame): Int =
    derive(name) { (v, staging) =>
      val src = versionPath(name, v)
      linkTree(src.resolve("codebooks"), staging.resolve("codebooks"))
      linkTree(src.resolve("coarse"), staging.resolve("coarse"))
      f(spark.read.parquet(src.resolve("codes").toString))
        .repartition(col("list_id"))
        .write.partitionBy("list_id")
        .parquet(staging.resolve("codes").toString)
    }

  /** DELETE codes matching `predicate` from the production index —
    * right-to-be-forgotten on the ANN artifact, mirroring
    * [[graft.sources.FrameStore.deleteWhere]]: a withdrawn vector
    * must leave the derived codes, not just the corpus table.
    * Superseded versions hold the rows until [[gc]] retires them. At
    * 100 TB the rewrite prunes to the predicate-touched `list_id`
    * partitions — this same operation under partition pruning. */
  def deleteWhere(spark: SparkSession, name: String,
                  predicate: org.apache.spark.sql.Column): Int =
    rewriteCodes(spark, name)(_.filter(!predicate))

  /** Compact the production version's CODES: every append adds part
    * files inside the touched `list_id` partitions, and a probe's
    * partition-pruned scan eventually opens one file per historical
    * batch (the streaming small-files problem). Row-identical by
    * construction — the streamed append certificate runs AGAINST the
    * compacted index, so the oracle gate covers compaction soundness
    * too. */
  def compact(spark: SparkSession, name: String): Int = rewriteCodes(spark, name)(identity)
}

/** The oracle-gated roundtrip certificate + the persisted-index query
  * path over the driver corpus. */
object AnnIndexStore {

  val IndexName = "ivfpq_embeddings"

  /** One persisted index per (application, sf dir), built and
    * promoted on first use — bench reps and the roundtrip query reuse
    * the artifact instead of re-encoding the corpus. */
  private val memo = graft.SessionCaches.memo[AnnIndexStore]

  private[graft] def forDir(spark: SparkSession, dir: String): AnnIndexStore =
    memo(spark, dir) {
      val root = Files.createTempDirectory("graft_ann_index_").toString
      val store = new AnnIndexStore(root)
      val v = store.register(spark, PqAnn.cachedIndex(spark, dir), IndexName)
      store.promote(IndexName, v)
      store
    }

  /** Certificate: the reloaded index must answer EXACTLY like the
    * in-session build, and the persisted codes must cover the corpus
    * 1:1 at `M` bytes per vector. Exact-side facts (vector count,
    * code count, code length) are oracle-recomputed from the same
    * parquet; the equality boolean is TRUE in the oracle — a
    * serialization drift (lost precision, truncated codes, wrong
    * list) flips it and fails the hash compare. */
  val roundtrip: Q = Q("sim_ann_index_roundtrip",
    s"""SELECT COUNT(*) AS n_vectors, COUNT(*) AS n_codes,
       |  CAST(${PqAnn.M} AS INT) AS code_len,
       |  TRUE AS one_code_per_vector, TRUE AS results_equal
       |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val idx = forDir(s, dir).production(s, IndexName)
    val fresh = PqAnn.queryIndex(emb, PqAnn.cachedIndex(s, dir))
    val indexed = PqAnn.queryIndex(emb, idx)
    // one-pass symmetric diff on the (q_id, rank) key — each ANN
    // pipeline evaluates once, not twice per exceptAll side
    val nDiff = fresh.as("f")
      .join(indexed.as("i"), Seq("q_id", "rank"), "full_outer")
      .filter(!(col("f.c_id") <=> col("i.c_id") &&
        col("f.cosine") <=> col("i.cosine")))
      .agg(count(lit(1)).as("n_diff"))
    val codeStats = idx.codes.agg(
      count(lit(1)).as("n_codes"),
      countDistinct(col("vec_id")).as("n_distinct_vec"),
      min(size(col("codes"))).as("min_len"), max(size(col("codes"))).as("max_len"))
    emb.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(codeStats))
      .crossJoin(broadcast(nDiff))
      .select(
        col("n_vectors"), col("n_codes"),
        col("min_len").as("code_len"),
        (col("n_codes") === col("n_distinct_vec") && col("min_len") === col("max_len"))
          .as("one_code_per_vector"),
        (col("n_diff") === 0).as("results_equal"))
  }

  val BaseIndexName = "ivfpq_base"

  /** Base index trained + encoded on the 80% slice (`vec_id % 5 ≠
    * 4`), built once per (application, sf dir) — the batch append
    * certificate and its streaming twin both seed their stores from
    * this one training pass. */
  private val baseIdxMemo = graft.SessionCaches.memo[PqAnn.PqIndex]

  private[graft] def baseIndex(spark: SparkSession, dir: String): PqAnn.PqIndex =
    baseIdxMemo(spark, dir) {
      PqAnn.buildIndex(
        Tables.embeddings(spark, dir).filter(col("vec_id") % 5 =!= 4))
    }

  /** Fresh store seeded with the promoted base index. */
  private[graft] def seededBaseStore(spark: SparkSession, dir: String,
                                     prefix: String): AnnIndexStore = {
    val store = new AnnIndexStore(Files.createTempDirectory(prefix).toString)
    val v = store.register(spark, baseIndex(spark, dir), BaseIndexName)
    store.promote(BaseIndexName, v)
    store
  }

  /** Base-index-plus-appended-batch store, built once per
    * (application, sf dir): promote the base, then insert the
    * held-out 20% via [[AnnIndexStore.appendBatch]] — the
    * daily-arrivals lifecycle. */
  private val appendMemo = graft.SessionCaches.memo[AnnIndexStore]

  private def appendedStore(spark: SparkSession, dir: String): AnnIndexStore =
    appendMemo(spark, dir) {
      val emb = Tables.embeddings(spark, dir)
      val store = seededBaseStore(spark, dir, "graft_ann_append_")
      store.appendBatch(spark, BaseIndexName, emb.filter(col("vec_id") % 5 === 4))
      store
    }

  /** The append-soundness + recall certificate frame over a
    * production index that should equal a one-shot encode of the
    * full corpus — shared by `sim_ann_index_append` and the
    * streaming twin. */
  private[graft] def appendCertFrame(s: SparkSession, dir: String,
                                     idx: PqAnn.PqIndex): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // one-pass symmetric diff: vec_id is unique on both sides, so a
    // full-outer join + null-safe compare evaluates each encode ONCE
    // (exceptAll both ways would run the corpus encode twice per side)
    val oneshot = PqAnn.encodeWith(emb, idx.cents, idx.books, idx.listMeans)
    val codesDiff = idx.codes.as("e")
      .join(oneshot.as("o"), Seq("vec_id"), "full_outer")
      .filter(!(col("e.list_id") <=> col("o.list_id") &&
        col("e.codes") <=> col("o.codes")))
      .agg(count(lit(1)).as("n_code_diff"))
    val codeStats = idx.codes.agg(
      count(lit(1)).as("n_codes"), countDistinct(col("vec_id")).as("n_distinct_vec"))
    AnnCert.certificate(emb, PqAnn.queryIndex(emb, idx), 0.6, "060")
      .crossJoin(broadcast(codeStats))
      .crossJoin(broadcast(codesDiff))
      .select(col("n_queries"), col("n_exact"), col("mean_exact_cosine"),
        col("recall_ge_060"), col("n_codes"),
        (col("n_code_diff") === 0).as("append_equals_oneshot"),
        (col("n_codes") === col("n_distinct_vec")).as("one_code_per_vector"))
  }

  /** Incremental-append certificate: after inserting a 20% batch
    * into the base-trained index, (a) the extended codes must be
    * BIT-IDENTICAL to a one-shot encode of the full corpus with the
    * same constants (append soundness), (b) exactly one code per
    * corpus vector, and (c) recall@3 vs exact kNN must clear the
    * same ≥ 0.6 bar as the full-corpus index — codebooks trained on
    * 80% must not collapse on arrivals they never saw. The oracle
    * recomputes the exact-kNN facts and emits the booleans as TRUE. */
  val appendCert: Q = Q("sim_ann_index_append",
    s"""SELECT c.*, (SELECT COUNT(*) FROM embeddings) AS n_codes,
       |  TRUE AS append_equals_oneshot, TRUE AS one_code_per_vector
       |FROM (${AnnCert.certOracleSql("060")}) c""".stripMargin) { (s, dir) =>
    val idx = appendedStore(s, dir).production(s, BaseIndexName)
    appendCertFrame(s, dir, idx)
  }

  /** One forgotten-from store per (application, sf dir): the shared
    * session index, re-registered into its OWN store (the roundtrip
    * artifact must stay intact), then `vec_id % 17 = 3` deleted. */
  private val forgetMemo = graft.SessionCaches.memo[AnnIndexStore]

  private def forgottenStore(spark: SparkSession, dir: String): AnnIndexStore =
    forgetMemo(spark, dir) {
      val store = new AnnIndexStore(
        Files.createTempDirectory("graft_ann_forget_").toString)
      store.promote(IndexName,
        store.register(spark, PqAnn.cachedIndex(spark, dir), IndexName))
      store.deleteWhere(spark, IndexName, col("vec_id") % 17 === 3)
      store
    }

  /** Right-to-be-forgotten certificate on the ANN artifact: after
    * deleting the (deterministic) `vec_id % 17 = 3` cohort from the
    * production codes, (a) no forgotten id survives in the codes or
    * in any query answer, and (b) exactly one code remains per
    * retained vector. Exact-side facts (corpus size, cohort size,
    * retained count) are oracle-recomputed from the same parquet;
    * the booleans are TRUE literals an engine whose delete leaks
    * flips. The serve path runs against the RELOADED post-delete
    * version — the delete is proven on the artifact, not on a
    * session frame. */
  val forgetCert: Q = Q("sim_ann_forget",
    """SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors_total,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 17 = 3) AS n_forgotten,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 17 <> 3) AS n_codes_after,
      |  TRUE AS no_forgotten_anywhere, TRUE AS one_code_per_vector""".stripMargin) {
    (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val idx = forgottenStore(s, dir).production(s, IndexName)
    val isForgot = (c: org.apache.spark.sql.Column) => c % 17 === 3
    val codeStats = idx.codes.agg(
      count(lit(1)).as("n_codes_after"),
      countDistinct(col("vec_id")).as("n_distinct_vec"),
      sum(when(isForgot(col("vec_id")), 1).otherwise(0)).as("n_forgot_codes"))
    val ansStats = PqAnn.queryIndex(emb, idx).agg(
      sum(when(isForgot(col("c_id")), 1).otherwise(0)).as("n_forgot_answers"))
    emb.agg(count(lit(1)).as("n_vectors_total"),
        sum(when(isForgot(col("vec_id")), 1L).otherwise(0L)).as("n_forgotten"))
      .crossJoin(broadcast(codeStats))
      .crossJoin(broadcast(ansStats))
      .select(col("n_vectors_total"), col("n_forgotten"), col("n_codes_after"),
        (col("n_forgot_codes") === 0 && col("n_forgot_answers") === 0)
          .as("no_forgotten_anywhere"),
        (col("n_codes_after") === col("n_distinct_vec") &&
          col("n_codes_after") === col("n_vectors_total") - col("n_forgotten"))
          .as("one_code_per_vector"))
  }

  val all: Seq[Q] = Seq(roundtrip, appendCert, forgetCert)
}
