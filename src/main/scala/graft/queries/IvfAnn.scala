package graft.queries

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors over the
  * embedding column — the coarse-quantizer scale path next to the
  * random-hyperplane [[LshAnn]] and the brute-force [[Similarity]]
  * kNN.
  *
  * Classic IVF shape (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", §IV-A — the coarse stage without PQ):
  *
  *  1. TRAIN a small codebook of `NumLists` centroids with Lloyd
  *     iterations on a bounded sample (the codebook is KB-sized and
  *     collected to the driver — at 100 TB you train on a fixed-size
  *     sample exactly the same way; the full corpus never feeds the
  *     k-means).
  *  2. ASSIGN every corpus vector to its nearest centroid's list.
  *     With literal centroids this is a pure codegen map stage — an
  *     argmax over `NumLists` inline dot products per row, no
  *     explode, no shuffle (`array_max` over an array of
  *     `struct(cosine, list)` orders by cosine first).
  *  3. PROBE: each query scores only the vectors in its `NProbe`
  *     nearest lists — candidate generation is an equi-join on
  *     `list_id`, hash-partitioned, never O(n²); exact cosine
  *     re-ranks candidates.
  *
  * Rows-only in the driver harness (k-means is not DuckDB-oracle
  * material); recall vs brute-force kNN is asserted in ScalaTest.
  */
object IvfAnn {

  val NumLists   = 16
  /** Lists probed per query. The driver corpus is near-random (the
    * adversarial IVF regime: a random query's true neighbors land in
    * near-uniformly-random lists, so recall ≈ probed fraction —
    * measured 0.47 at nProbe=4, 0.70 at 8, at sf0.01); 8/16 is the
    * recall-vs-cost point the certificate query pins. On a clustered
    * production corpus the same code sits far above this floor (the
    * planted near-dup population recalls ≥ 0.9 at nProbe=4,
    * DedupSpec). */
  val NProbe     = 8
  val LloydIters = 2
  /** Codebook training sample bound: vectors with vec_id below this
    * (deterministic at any partitioning, unlike `limit`). */
  val TrainSample = 4096L

  /** `struct(cosine, list)` per centroid, sorted descending by
    * cosine, truncated to `take` — the per-row scoring kernel for
    * both assignment (take=1) and probing (take=NProbe).
    *
    * Centroids enter the plan as `typedLit` array constants (one
    * Literal each, NOT a per-row CreateArray of 64 literals) and the
    * per-centroid score is the native fused [[graft.functions
    * .CosineSim]] — one allocation-free codegen loop per centroid per
    * row. The HOF formulation (zip_with + aggregate per centroid)
    * costs ~50× more: boxed lambda evaluation plus an intermediate
    * array allocation per centroid per row. */
  private def bestLists(e: Column, cents: Array[Array[Double]], take: Int): Column = {
    // NB: `array(struct(...), ...)` type-coercion renames struct
    // fields to the positional col1/col2 — extract by those names.
    val scored = array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(call_function("graft_cosine", e, typedLit(c)), lit(i))
    }: _*)
    slice(reverse(array_sort(scored)), 1, take)
  }
  private val ListField = "col2"

  /** Nearest-centroid id per row (IVF assignment). */
  private def assignCol(e: Column, cents: Array[Array[Double]]): Column =
    element_at(bestLists(e, cents, 1), 1).getField(ListField)

  /** The coarse stage, shared with [[PqAnn]] (IVFADC reuses the same
    * inverted lists; only the scoring differs). */
  private[queries] def assignColPublic(e: Column, cents: Array[Array[Double]]): Column =
    assignCol(e, cents)
  private[queries] def probeListsPublic(e: Column, cents: Array[Array[Double]],
                                        nProbe: Int = NProbe): Column =
    transform(bestLists(e, cents, nProbe), s => s.getField(ListField))

  private def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** One Lloyd iteration over the in-memory sample: assign each
    * vector to its max-cosine centroid, recompute per-list means.
    * Lists that lose all members keep their old centroid. */
  private def lloydLocal(sample: Array[Array[Double]],
                         cents: Array[Array[Double]]): Array[Array[Double]] = {
    val dim  = cents.head.length
    val sums = Array.fill(cents.length)(new Array[Double](dim))
    val cnts = new Array[Long](cents.length)
    sample.foreach { v =>
      var best = 0; var bestCos = Double.NegativeInfinity; var c = 0
      while (c < cents.length) {
        val cos = cosineLocal(v, cents(c))
        if (cos > bestCos) { bestCos = cos; best = c }
        c += 1
      }
      var i = 0
      while (i < dim) { sums(best)(i) += v(i); i += 1 }
      cnts(best) += 1
    }
    cents.indices.map { c =>
      if (cnts(c) == 0) cents(c) else sums(c).map(_ / cnts(c))
    }.toArray
  }

  /** Train the codebook DRIVER-SIDE on a bounded sample: one collect
    * (≤ `TrainSample`×dim doubles — MBs at any corpus size, the IVF
    * contract), then Lloyd iterations as local loops. Seeds are the
    * first `NumLists` vectors by vec_id; deterministic end to end.
    * Running Lloyd distributed would cost a job + a fresh codegen of
    * the scoring expression per iteration to average a few thousand
    * rows — the sample is the thing that's small by design here. */
  private val centCache = graft.SessionCaches.memo[Array[Array[Double]]]

  def trainCentroids(emb: DataFrame, numLists: Int = NumLists): Array[Array[Double]] =
    // Memoized per (application, canonical input plan): sim_ann_ivf
    // and sim_ann_ivfpq share the same coarse codebook, so a session
    // collects and trains the bounded sample once.
    centCache.keyed(graft.SessionCaches.planKey(emb, numLists.toString)) {
      val sample = emb.filter(col("vec_id") < TrainSample)
        .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).collect()
        .map(_.getSeq[Float](1).toArray.map(_.toDouble))
      val seeds = sample.take(numLists)
      (1 to LloydIters).foldLeft(seeds)((c, _) => lloydLocal(sample, c))
    }

  /** IVF ANN top-k for the first `numQueries` vectors (self
    * excluded), exact-cosine re-ranked. Same output shape as the
    * brute-force [[Similarity.knnSample]]. */
  def annTopK(emb: DataFrame, k: Int = 3, numQueries: Int = 50,
              nProbe: Int = NProbe, numLists: Int = NumLists): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val cents = trainCentroids(emb, numLists)
    val lists = emb.select(col("vec_id"), col("embedding"),
      assignCol(col("embedding"), cents).as("list_id"))
    val probes = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(transform(bestLists(col("embedding"), cents, nProbe),
          s => s.getField(ListField))).as("p_list"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    lists
      .join(broadcast(probes),
        col("list_id") === col("p_list") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(expr("graft_cosine(embedding, qe)"), 6).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF ANN over the driver corpus — rows-only in the driver
    * harness; recall vs brute-force kNN pinned by ScalaTest. */
  val annQuery: Q = Q.noOracle("sim_ann_ivf") { (s, dir) =>
    annTopK(Tables.embeddings(s, dir))
  }

  val all: Seq[Q] = Seq(annQuery)
}
