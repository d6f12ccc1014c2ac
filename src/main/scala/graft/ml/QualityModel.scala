package graft.ml

import graft.Q
import graft.sources.Tables
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Learned document-quality classifier — the fasttext-style filter
  * every web-corpus pipeline trains (CCNet §4, the DataComp quality
  * baselines): a linear model over hashed bag-of-words features
  * scores each document, and the corpus keeps the high-score tail.
  * The reference has no text surface; this is the LEARNED
  * counterpart of the heuristic `text_quality` score, built on
  * MLlib's hashing trick + LogisticRegression (both deterministic:
  * no sampling, zero-init LBFGS).
  *
  * Certified exactly like [[MlCert]]: every source of randomness is
  * md5 arithmetic over doc_id — the label comes from a replayable
  * latent (token count, stopword ratio, distinct ratio — written as
  * the same left-assoc double chain in both engines) vs md5 noise,
  * and the 75/25 split is an md5 bucket. DuckDB recomputes the
  * test-set counts and the exact Mann-Whitney AUC of the latent
  * scorer; the Spark-only facts (the LR fit's held-out AUC over
  * 4096-dim hashed features) are certified as booleans the oracle
  * emits as TRUE.
  *
  * Scale shape: featurization is a per-row map (hashing trick — no
  * vocabulary build, no shuffle); the fit collapses a bounded
  * training frame (at 100 TB you fit on a sample, score the corpus
  * map-side — the scoring pass IS the product, and it's one
  * codegen-adjacent transform per row).
  */
object QualityModel {

  val NumFeatures = 4096
  /** Held-out AUC the LR must clear — measured 0.83/0.78/0.89 at
    * sf0.001/0.01/0.1 (deterministic per dataset: no RNG anywhere in
    * the pipeline); gate set with margin below all three so a
    * regenerated corpus doesn't flake the certificate. */
  val AucGate = 0.7

  /** Deterministic labeled documents: replayable latent + md5 noise
    * label + md5 split bucket — the hash device and the exact
    * rank-AUC statistic are [[MlCert]]'s, shared so the
    * certificates' exactness machinery has one definition. */
  def labeledDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("w", split(col("text"), " "))
    val nt = size(col("w"))
    val sr = size(filter(col("w"), x => x === "the" || x === "a" || x === "of"))
      .cast("double") / nt
    val dr = size(array_distinct(col("w"))).cast("double") / nt
    docs
      .withColumn("u", MlCert.hashFrac("qlabel:", col("doc_id")))
      .withColumn("latent",
        lit(0.02) * nt.cast("double") + lit(2.0) * sr + lit(1.0) * dr - lit(1.72))
      .withColumn("label", (col("latent") > lit(1.0) * (col("u") - lit(0.5))).cast("double"))
      .withColumn("bucket", (MlCert.hashLong("qsplit:", 4, col("doc_id")) % 100).cast("int"))
  }

  private def rankAuc(scored: DataFrame, score: String): Double =
    MlCert.rankAuc(scored, score)

  private val labeledSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), f AS (
      |  SELECT doc_id,
      |    CAST(len(w) AS DOUBLE) AS nt,
      |    CAST(len(list_filter(w, x -> x = 'the' OR x = 'a' OR x = 'of')) AS DOUBLE) / len(w) AS sr,
      |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dr,
      |    CAST(('0x' || substr(md5('qlabel:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / CAST(4294967296.0 AS DOUBLE) AS u,
      |    CAST(CAST(('0x' || substr(md5('qsplit:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS INTEGER) AS bucket
      |  FROM t
      |), lab AS (
      |  SELECT *,
      |    CAST(0.02 AS DOUBLE) * nt + CAST(2.0 AS DOUBLE) * sr
      |      + CAST(1.0 AS DOUBLE) * dr - CAST(1.72 AS DOUBLE) AS latent
      |  FROM f
      |), lab2 AS (
      |  SELECT *,
      |    CASE WHEN latent > CAST(1.0 AS DOUBLE) * (u - CAST(0.5 AS DOUBLE))
      |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS label
      |  FROM lab
      |)""".stripMargin

  /** The LR fit on the md5-bucketed training split, memoized per
    * (application, sf dir): the certificate and the closed-form
    * export both consume it, so a session pays the 100-iteration
    * LBFGS fit once, with one Pipeline definition. */
  private val lrMemo = graft.SessionCaches.memo[org.apache.spark.ml.PipelineModel]

  private def fittedPipeline(s: SparkSession, dir: String): org.apache.spark.ml.PipelineModel =
    lrMemo(s, dir) {
      val tr = labeledDocs(s, dir).filter(col("bucket") < 75)
      new Pipeline().setStages(Array(
        new HashingTF().setInputCol("w").setOutputCol("features")
          .setNumFeatures(NumFeatures),
        new LogisticRegression().setMaxIter(100).setLabelCol("label")))
        .fit(tr.coalesce(1))
    }

  val qualityModelCert: Q = Q("text_quality_model",
    labeledSql + """,
      |te AS (SELECT * FROM lab2 WHERE bucket >= 75),
      |ranked AS (SELECT label, latent, row_number() OVER (ORDER BY latent) AS rn FROM te),
      |tied AS (SELECT label, AVG(rn) OVER (PARTITION BY latent) AS r FROM ranked)
      |SELECT (SELECT COUNT(*) FROM lab2) AS n_total,
      |  COUNT(*) AS n_test,
      |  CAST(SUM(label) AS BIGINT) AS n_pos_test,
      |  CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg_test,
      |  ROUND((SUM(CASE WHEN label = 1.0 THEN r END) - (SUM(label) * (SUM(label) + 1.0)) / 2.0)
      |        / (SUM(label) * (COUNT(*) - SUM(label))), 6) AS bayes_auc_test,
      |  TRUE AS lr_auc_ge_gate
      |FROM tied""".stripMargin) { (s, dir) =>
    val data = labeledDocs(s, dir).cache()
    val te = data.filter(col("bucket") >= 75)
    val model = fittedPipeline(s, dir)
    val scoredTe = model.transform(te)
      .withColumn("proba", vector_to_array(col("probability")).getItem(1))
    val lrAuc = rankAuc(scoredTe, "proba")
    val bayesAuc = rankAuc(te, "latent") // exact fact — DuckDB recomputes it
    val nTotal = data.count()
    val nTest = te.count()
    val nPos = te.agg(coalesce(sum(col("label")), lit(0.0))).head().getDouble(0).toLong
    import s.implicits._
    Seq((nTotal, nTest, nPos, nTest - nPos, bayesAuc, lrAuc >= AucGate))
      .toDF("n_total", "n_test", "n_pos_test", "n_neg_test", "bayes_auc_raw", "lr_auc_ge_gate")
      .select(col("n_total"), col("n_test"), col("n_pos_test"), col("n_neg_test"),
        round(col("bayes_auc_raw"), 6).as("bayes_auc_test"), col("lr_auc_ge_gate"))
  }

  // ------------------------------------------------------- closed-form export
  /** Fit the quality LR once per (application, sf dir) and export the
    * CLOSED FORM: one `(idx, coef)` row per non-zero coefficient of
    * the 4096-dim hashed space plus the intercept at idx −1 — the
    * model as a FRAME, so inference is a join + aggregate with no
    * MLlib at serving time (the [[FraudModel]] literal-arithmetic
    * export, here as a versioned ARTIFACT because the hashed space is
    * too wide to inline as literals). */
  private val fitMemo = graft.SessionCaches.memo[DataFrame]

  def closedForm(s: SparkSession, dir: String): DataFrame =
    fitMemo(s, dir) {
      val lr = fittedPipeline(s, dir).stages.collectFirst {
        case m: org.apache.spark.ml.classification.LogisticRegressionModel => m
      }.get
      import s.implicits._
      val rows = lr.coefficients.toArray.toSeq.zipWithIndex
        .collect { case (c, i) if c != 0.0 => (i, c) } :+ (-1, lr.intercept)
      val df = rows.toDF("idx", "coef").persist()
      df.count()
      df
    }

  /** One promoted `quality_lr` model store per (application, sf dir)
    * — the registry artifact the streaming gate re-resolves per
    * batch (the `stream_ann_query` PRODUCTION discipline). */
  private val storeMemo = graft.SessionCaches.memo[graft.sources.FrameStore]

  val ModelName = "quality_lr"

  def productionStore(s: SparkSession, dir: String): graft.sources.FrameStore =
    storeMemo(s, dir) {
      val store = new graft.sources.FrameStore(
        java.nio.file.Files.createTempDirectory("graft-quality-lr-").toString)
      store.publish(s, ModelName, closedForm(s, dir))
      // the MEDIA-quality model ships in the same registry: the
      // trimodal stream re-resolves both gates per micro-batch from
      // one production store (a store WITHOUT the media name runs
      // transcript-gated only — the gate is deployment-optional)
      store.publish(s, MediaQualityModel.ModelName, MediaQualityModel.closedForm(s, dir))
      store
    }

  /** Closed-form scoring: proba per doc over a token-array column
    * `toks` — term index = the trainer's OWN `HashingTF.indexOf`
    * via the codegen'd [[graft.functions.MlTermIndex]] expression
    * (Spark 3's HashingTF hashes with `hashUnsafeBytes2`, which SQL
    * `hash()` does not — pinned bit-equal to the MLlib transform in
    * QualityGateSpec), counts accumulate through the explode, the
    * coef join is broadcast-bounded by the feature space (≤ 4097
    * rows BY CONSTRUCTION — a hard cap, not a corpus-scaled
    * estimate), and the sigmoid is one codegen expression. Returns
    * `(doc_id, proba)`. */
  def scoreClosedForm(docs: DataFrame, model: DataFrame): DataFrame = {
    val coefs = model.filter(col("idx") >= 0)
    // the intercept rides the plan as a broadcast 1-row anchor
    // instead of a driver-side head(): scoring stays a SINGLE lazy
    // plan, so the streaming learned gate pays zero extra Spark
    // actions per micro-batch just to read a scalar. A GLOBAL
    // aggregate (not a bare filter) so the anchor is ALWAYS exactly
    // one row: a corrupt artifact missing its idx = -1 row yields a
    // NULL intercept — which the projection below turns into a loud
    // per-row error, never a silently empty score frame.
    val intercept = model.filter(col("idx") === -1)
      .agg(first(col("coef")).as("icept"))
    // margin accumulates in DECIMAL(38,18): addition is then
    // order-independent (each addend rounds once at fixed scale), so
    // batch and streaming runs produce the bit-identical proba a
    // decisions-parity certificate needs — a double sum would vary in
    // ULPs with aggregation order and could flip a gate at the
    // threshold. Docs with no tokens (empty kept text) still score:
    // left join back, margin 0 → sigmoid(intercept).
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val margins = docs.select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .select(col("doc_id"),
        expr(s"graft_ml_term_index(t, $NumFeatures)").as("idx"))
      .join(broadcast(coefs), Seq("idx"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("coef"), lit(0.0))
        .cast(org.apache.spark.sql.types.DecimalType(38, 18))).as("margin"))
    docs.select(col("doc_id")).distinct()
      .join(margins, Seq("doc_id"), "left_outer")
      .crossJoin(broadcast(intercept))
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("margin").cast("double"), lit(0.0))
            + when(col("icept").isNotNull, col("icept"))
              .otherwise(raise_error(
                lit("quality model artifact has no intercept row (idx = -1)")))))))
          .as("proba"))
  }

  val all: Seq[Q] = Seq(qualityModelCert)
}
