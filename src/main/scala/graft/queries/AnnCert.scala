package graft.queries

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recall CERTIFICATES for the ANN family — the queries that move
  * IVF/IVF-PQ from rows-only to oracle-checked in the driver gate.
  *
  * A k-means-trained index can't be replayed in an ANSI oracle, but
  * its QUALITY can be certified the same way the sketch queries
  * ([[TextOps.dupRateSketch]], `tpch_approx_distinct`) are: the query
  * computes BOTH the ANN answer and the exact brute-force kNN over
  * the same corpus, emits the exact-side facts the oracle can
  * recompute independently (query count, exact-neighbor count, mean
  * exact cosine — decimal-summed so aggregation order can't skew the
  * last ulp) plus a recall boolean; DuckDB recomputes the exact kNN
  * from the same parquet and emits the same row with literal TRUE.
  * An engine whose index quality collapses (or whose exact-kNN side
  * drifts) flips the boolean or a value and fails the hash match.
  *
  * Thresholds are set from the measured driver-corpus recall@3 at
  * NProbe=8 (IVF 0.70 / IVF-PQ 0.70 at sf0.01, 0.87 / 0.85 at
  * sf0.001 — deterministic: seeded k-means on a deterministic
  * sample) with margin: the certificate pins "the index keeps
  * finding most true neighbors", not a tuned high-water mark. A 0.9
  * bar is not reachable on this corpus without probing ~90% of it —
  * the embeddings are near-random, so recall ≈ probed fraction; the
  * ≥ 0.9 planted-near-dup bounds (the population ANN exists for)
  * stay in DedupSpec.
  */
object AnnCert {

  val K          = 3
  val NumQueries = 50

  /** Exact brute-force kNN for the first `NumQueries` vectors (self
    * excluded) — same shape as [[Similarity.knnSample]]. Memoized +
    * persisted per (application, input plan): the IVF, IVF-PQ and
    * index-append certificates all certify against the SAME exact
    * side, so a session computes the brute-force pass once (the
    * result is ≤ NumQueries·K rows). Keyed on the full canonicalized
    * plan string, same collision-safe scheme as the IVF centroid
    * memo. */
  private val exactMemo = graft.SessionCaches.memo[DataFrame]

  /** Warm the memoized exact-kNN side from Bench, so its one-time
    * cost lands on a named warm entry instead of whichever
    * certificate query happens to run first. */
  private[graft] def warmExactKnn(s: SparkSession, dir: String): Unit = {
    exactKnn(graft.sources.Tables.embeddings(s, dir)); ()
  }

  private def exactKnn(emb: DataFrame): DataFrame =
    exactMemo.keyed(graft.SessionCaches.planKey(emb)) {
      val df = exactKnnCompute(emb).persist()
      df.count()
      df
    }

  private def exactKnnCompute(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    emb.join(broadcast(queries), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(expr("graft_cosine(embedding, qe)"), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("c_id"), col("cosine"))
  }

  /** One-row certificate: exact-side facts + `recall >= threshold`.
    * Micro recall = |ANN ∩ exact| / |exact| over all queries. */
  private[graft] def certificate(emb: DataFrame, ann: DataFrame,
                                   threshold: Double, thresholdTag: String): DataFrame = {
    val exact = exactKnn(emb)
    val hits = ann.select(col("q_id"), col("c_id"))
      .join(exact.select(col("q_id"), col("c_id")), Seq("q_id", "c_id"))
    exact.agg(
        countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"),
        round(sum(col("cosine").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("mean_exact_cosine"))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_queries"), col("n_exact"), col("mean_exact_cosine"),
        (col("n_hits").cast("double") / col("n_exact") >= threshold)
          .as(s"recall_ge_$thresholdTag"))
  }

  /** The oracle: exact kNN recomputed in DuckDB (the `sim_knn_sample`
    * CTE), aggregated to the same certificate row, recall boolean as
    * literal TRUE. Exposed so index-lifecycle certificates
    * ([[AnnIndexStore.appendCert]]) can wrap it with extra facts. */
  private[graft] def certOracleSql(thresholdTag: String): String = oracleSql(thresholdTag)

  private def oracleSql(thresholdTag: String): String =
    s"""WITH n AS (SELECT vec_id, SUM(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)) AS nsq
       |           FROM (SELECT vec_id, unnest(embedding) AS a FROM embeddings) GROUP BY 1),
       |z AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |             unnest(q.embedding) AS a, unnest(c.embedding) AS b
       |      FROM embeddings q JOIN embeddings c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
       |dots AS (SELECT q_id, c_id, SUM(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)) AS dot FROM z GROUP BY 1, 2),
       |cos AS (SELECT q_id, c_id,
       |          ROUND(dot/(sqrt(nq.nsq)*sqrt(nc.nsq)), 6) AS cosine
       |        FROM dots JOIN n nq ON q_id = nq.vec_id JOIN n nc ON c_id = nc.vec_id),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank FROM cos),
       |ex AS (SELECT q_id, c_id, cosine FROM rk WHERE rank <= $K)
       |SELECT COUNT(DISTINCT q_id) AS n_queries, COUNT(*) AS n_exact,
       |  ROUND(CAST(SUM(CAST(cosine AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_exact_cosine,
       |  TRUE AS recall_ge_$thresholdTag
       |FROM ex""".stripMargin

  /** IVF recall certificate: coarse-list probing must retain ≥ 60% of
    * the true top-3 (measured 0.70 at sf0.01 / 0.87 at sf0.001). */
  val ivfCert: Q = Q("sim_ann_ivf_cert", oracleSql("060")) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    certificate(emb, IvfAnn.annTopK(emb, K, NumQueries), 0.6, "060")
  }

  /** IVF-PQ recall certificate: 16-byte ADC codes + exact refine must
    * retain ≥ 60% of the true top-3 (measured 0.70 at sf0.01 / 0.85
    * at sf0.001 — ADC at RefineFactor=16 matches uncompressed IVF). */
  val ivfpqCert: Q = Q("sim_ann_ivfpq_cert", oracleSql("060")) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    certificate(emb, PqAnn.queryIndex(emb, PqAnn.cachedIndex(s, dir), K, NumQueries),
      0.6, "060")
  }

  // ---------------------------------------------------------------- lsh cert
  /** Planted-twin parameters for [[lshCert]]: the first `NumPlanted`
    * corpus vectors each get a deterministic high-cosine twin
    * (per-element multiplicative perturbation, amplitude ±1%, md5
    * hash-fraction seeded — the same md5 arithmetic the curation
    * family oracles replay), appended with vec_id + `TwinOffset`. */
  val NumPlanted = 25
  val TwinOffset = 1000000L

  /** The twin's per-element factor as SQL shared by the exact-side
    * cosine and the twin materialization: element i (1-based) of
    * vec_id v scales by 1 + (h(v,i) − ½)·0.02 with h the md5
    * hash-fraction — deterministic, engine-neutral, and small enough
    * that cos(base, twin) ≥ 0.999. */
  private def deltaSql(pos: String): String =
    s"(1.0d + (cast(conv(substring(md5(concat(cast(vec_id as string), ':', " +
      s"cast($pos as string))), 1, 6), 16, 10) as int) / 16777216.0d - 0.5d) * 0.02d)"

  /** LSH recall certificate on PLANTED pairs: the rows-only
    * `sim_ann_lsh` measures retrieval over a noise corpus (whose true
    * neighbor structure an ANSI oracle can't rank without replaying
    * LSH itself); here the signal is PLANTED — each twin's true
    * nearest neighbor is its base by construction (cos ≥ 0.999
    * against a noise floor far below) — so the exact side
    * (n_planted, mean planted cosine) is oracle-recomputable from
    * the same md5 arithmetic, and the recall boolean certifies that
    * multi-table bucketing actually retrieves the planted neighbor,
    * the way [[ivfCert]] certifies coarse-list probing.
    *
    * Scale shape: the twin build is a per-row map over `NumPlanted`
    * rows; the LSH join is the same bucket-key equi-join as
    * `sim_ann_lsh` (never O(n²)); the certificate aggregate reduces
    * to one row. */
  val lshCert: Q = Q("sim_ann_lsh_cert",
    s"""WITH e AS (SELECT vec_id, unnest(embedding) AS a,
       |                  generate_subscripts(embedding, 1) AS i
       |           FROM embeddings WHERE vec_id < $NumPlanted),
       |t AS (SELECT vec_id, CAST(a AS DOUBLE) AS a,
       |        CAST(a AS DOUBLE) * (1.0 + (CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 6)) AS INTEGER) / 16777216.0 - 0.5) * 0.02) AS tt
       |      FROM e),
       |c AS (SELECT vec_id,
       |        ROUND(SUM(a * tt) / (sqrt(SUM(a * a)) * sqrt(SUM(tt * tt))), 6) AS cosine
       |      FROM t GROUP BY 1)
       |SELECT COUNT(*) AS n_planted,
       |  ROUND(CAST(SUM(CAST(cosine AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_planted_cosine,
       |  TRUE AS recall_ge_090
       |FROM c""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(col("vec_id") < NumPlanted)
    // exact side: cos(base, twin) in pure double arithmetic (one
    // sequential fold per row — NumPlanted rows, driver-free)
    val planted = base.select(col("vec_id"), round(expr(
      s"""aggregate(
         |  zip_with(embedding, sequence(1, size(embedding)), (x, i) -> struct(
         |    cast(x as double) as a,
         |    cast(x as double) * ${deltaSql("i")} as t)),
         |  struct(cast(0.0 as double) as dot, cast(0.0 as double) as na,
         |         cast(0.0 as double) as nt),
         |  (acc, s) -> struct(acc.dot + s.a * s.t, acc.na + s.a * s.a,
         |                     acc.nt + s.t * s.t),
         |  acc -> acc.dot / (sqrt(acc.na) * sqrt(acc.nt)))""".stripMargin), 6)
      .as("cosine"))
    // ANN side: twins joined into the corpus (float column, like any
    // arriving vector), full multi-table LSH retrieval, hit = the
    // twin's base surfaces in its top-k
    val twins = base.select(
      (col("vec_id") + TwinOffset).as("vec_id"),
      expr(s"""transform(embedding, (x, i) ->
              |  cast(cast(x as double) * ${deltaSql("i + 1")} as float))""".stripMargin)
        .as("embedding"),
      col("label"))
    val hits = LshAnn.annTopK(emb.unionByName(twins), K)
      .filter(col("q_id") >= TwinOffset
        && col("c_id") === col("q_id") - TwinOffset)
      .select(col("q_id"))
    planted.agg(
        count(lit(1)).as("n_planted"),
        round(sum(col("cosine").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("mean_planted_cosine"))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_planted"), col("mean_planted_cosine"),
        (col("n_hits").cast("double") / col("n_planted") >= 0.9).as("recall_ge_090"))
  }

  val all: Seq[Q] = Seq(ivfCert, ivfpqCert, lshCert)
}
