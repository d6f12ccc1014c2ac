package graft.ml

import graft.Q
import graft.functions.Scoring
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{StandardScaler, StandardScalerModel, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training path (SURVEY.md §2.8/§2.9): synthetic labeled data →
  * 75/25 split → StandardScaler + LogisticRegression → AUC →
  * registry. Mirrors `services/training/app/training.py:14-111`
  * end-to-end on MLlib.
  *
  * The trained model is then *exported to closed form*: scaler
  * means/stds and LR coefficients become literal column arithmetic
  * ([[Scoring.logisticProba]]), so inference never leaves
  * WholeStageCodegen — scoring 100 TB is a map stage, not a model
  * server call. Equivalence MLlib-vs-closed-form is asserted both in
  * ScalaTest and inside [[trainEval]]'s output row.
  */
object FraudModel {

  val FeatureCols: Array[String] = Scoring.FeatureOrder.toArray

  /** G1-G6: the reference's synthetic transaction generator as seeded
    * column expressions over spark.range (fixed partitioning so the
    * sample is reproducible at any parallelism).
    * `services/producer/app/producer.py:16-29` /
    * `services/training/app/training.py:14-29`. */
  def syntheticTraining(spark: SparkSession, n: Long = 5000, seed: Long = 42): DataFrame = {
    val base = spark.range(0, n, 1, 8)
      // G1 lognormal amount, 2dp
      .withColumn("amount_base", round(exp(randn(seed) * 1.0 + 3.0), 2))
      // G2 fraud spike: ×U(5,20) with p=0.05
      .withColumn("amount",
        when(rand(seed + 1) < 0.05, round(col("amount_base") * (rand(seed + 2) * 15.0 + 5.0), 2))
          .otherwise(col("amount_base")))
      // G3 item count: max(1, N(2,1)) as int
      .withColumn("num_items", greatest(lit(1), (randn(seed + 3) * 1.0 + 2.0).cast("int")).cast("double"))
      // G4 merchant risk U(0,1)
      .withColumn("merchant_risk", rand(seed + 4))
      // G5 hour ∈ [0,24)
      .withColumn("hour", floor(rand(seed + 5) * 24.0).cast("double"))
    // G6 latent-logit labels: p = σ(0.002·amount + 1.5·risk
    //    + 0.05·night − 2.5); y = 1[U(0,1) < p]
    val night = col("hour").isin(0.0, 1.0, 2.0, 3.0, 23.0).cast("double")
    base
      .withColumn("p_fraud", Scoring.sigmoid(
        lit(0.002) * col("amount") + lit(1.5) * col("merchant_risk")
          + lit(0.05) * night - lit(2.5)))
      .withColumn("label", (rand(seed + 6) < col("p_fraud")).cast("double"))
      .select((FeatureCols.toIndexedSeq.map(col) :+ col("label")): _*)
  }

  /** M1+M2: assemble → z-score → logistic regression. */
  def pipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(FeatureCols).setOutputCol("rawFeatures")
    val scaler = new StandardScaler()
      .setWithMean(true).setWithStd(true)
      .setInputCol("rawFeatures").setOutputCol("features")
    val lr = new LogisticRegression()
      .setMaxIter(1000)
      // sklearn's LogisticRegression convergence default (the
      // reference trains with it, training.py:51); MLlib's default is
      // 1e-6, which burns extra LBFGS iterations past the tolerance
      // the reference model ever had.
      .setTol(1e-4)
      .setFeaturesCol("features").setLabelCol("label")
    new Pipeline().setStages(Array(assembler, scaler, lr))
  }

  final case class Trained(model: PipelineModel, auc: Double, nTrain: Long, nTest: Long)

  /** M4 (randomSplit 75/25 — documented deviation from sklearn's
    * exact stratify) + fit + M5 AUC.
    *
    * AUC is evaluated on the closed-form probability column rather
    * than `model.transform`: identical scores (< 1e-9, asserted in
    * MlSpec) without ever putting the fitted model object into a task
    * closure — in Spark 4 the persisted training summary references
    * the SparkSession and is not serializable. */
  def train(df: DataFrame, seed: Long = 42): Trained = {
    val Array(tr, te) = df.randomSplit(Array(0.75, 0.25), seed)
    // The reference trains on a FIXED 5000-row set (training.py:14) —
    // tiny by design, retrained daily. Each LBFGS iteration is one
    // Spark job over the input partitions, so at this size per-task
    // overhead dominates: collapse to one partition for the fit (the
    // split above stays on the original partitioning, so the sample
    // is unchanged). A genuinely large training set would keep its
    // partitioning here.
    val model = pipeline().fit(tr.coalesce(1))
    val scoredTe = te.withColumn("proba",
      closedFormProba(model, Scoring.FeatureOrder.map(col)))
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("proba")
      .setMetricName("areaUnderROC")
      .evaluate(scoredTe)
    Trained(model, auc, tr.count(), te.count())
  }

  /** Closed-form export: (means, stds, coefficients, intercept). */
  def closedForm(model: PipelineModel): (Seq[Double], Seq[Double], Seq[Double], Double) = {
    val scaler = model.stages.collectFirst { case m: StandardScalerModel => m }.get
    val lr     = model.stages.collectFirst { case m: LogisticRegressionModel => m }.get
    (scaler.mean.toArray.toSeq, scaler.std.toArray.toSeq,
      lr.coefficients.toArray.toSeq, lr.intercept)
  }

  /** Scoring column from the exported closed form over raw feature
    * columns — exact MLlib-probability equivalent, pure codegen. */
  def closedFormProba(model: PipelineModel, features: Seq[Column]): Column = {
    val (means, stds, coef, b) = closedForm(model)
    Scoring.logisticProba(features, means, stds, coef, b)
  }

  /** MLlib's own probability computed driver-side (manual z-score +
    * `predictProbability` on local vectors) — the ground truth the
    * closed-form export is checked against, without putting the model
    * object into any task closure. */
  def mllibProbaLocal(model: PipelineModel, features: Seq[Array[Double]]): Seq[Double] = {
    val scaler = model.stages.collectFirst { case m: StandardScalerModel => m }.get
    val lr     = model.stages.collectFirst { case m: LogisticRegressionModel => m }.get
    features.map { f =>
      val z = Array.tabulate(f.length)(i => (f(i) - scaler.mean(i)) / scaler.std(i))
      lr.predictProbability(org.apache.spark.ml.linalg.Vectors.dense(z))(1)
    }
  }

  /** Closed forms of loaded registry versions, keyed by version dir +
    * its `metadata` dir's mtime and file key. Plain doubles, no frame
    * or session, so one entry serves every session; a version rewritten
    * at the same path stats differently and is loaded afresh. */
  private val closedForms =
    graft.SessionCaches.memo[(Seq[Double], Seq[Double], Seq[Double], Double)]

  /** M9+M8: score a batch with the current Production model, falling
    * back to the heuristic when the registry is empty.
    *
    * Hot reload costs ONE pointer read per call, so a promotion takes
    * effect at the next micro-batch, and the version stamped on the
    * rows is the version they were scored with. `PipelineModel.load`
    * runs once per version: its closed form is memoized (one stat of
    * the version's `metadata` dir per call guards the memo against a
    * version rewritten at the same path; registry versions are
    * write-once, so that is a miss, never a stale hit).
    *
    * The closed form is scored as column arithmetic — no
    * `model.transform`, so no model object (whose persisted training
    * summary drags a SparkSession along) ever enters a task closure,
    * and the scoring stays inside WholeStageCodegen. Equivalence with
    * `transform` probabilities is pinned at < 1e-9 by
    * MlSpec/ml_train_eval. */
  def scoreBatch(spark: SparkSession, registry: ModelRegistry, name: String, batch: DataFrame): DataFrame =
    registry.productionVersion(name) match {
      case Some(v) =>
        val dir = registry.versionDir(name, v)
        val meta = java.nio.file.Files.readAttributes(java.nio.file.Paths.get(dir, "metadata"),
          classOf[java.nio.file.attribute.BasicFileAttributes])
        val key = s"$dir#${meta.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)}#${meta.fileKey}"
        val (means, stds, coef, b) =
          closedForms.keyed(key)(closedForm(PipelineModel.load(dir)))
        batch
          .withColumn("proba", Scoring.logisticProba(Scoring.FeatureOrder.map(col), means, stds, coef, b))
          .withColumn("prediction", Scoring.classify(col("proba")))
          .withColumn("model_version", lit(s"v$v"))
      case None =>
        batch
          .withColumn("proba", Scoring.heuristicProba(col("amount")))
          .withColumn("prediction", Scoring.classify(col("proba")))
          .withColumn("model_version", lit("heuristic"))
    }

  // ---------------------------------------------------------------- queries
  /** Train-and-evaluate as a self-validating query: one row with
    * sizes, exact AUC, the histogram-sketch AUC (must agree within
    * ~1/bins), and the max |closed-form − MLlib| probability gap
    * (must be ~1e-15). Rows-only in the driver (DuckDB can't train);
    * bounds asserted in ScalaTest. */
  val trainEval: Q = Q.noOracle("ml_train_eval") { (s, _) =>
    graft.functions.GraftFunctions.register(s)
    // fit + split + transform each re-scan the frame; materialize the
    // 5000-row generator output once
    val data = syntheticTraining(s).cache()
    val t = train(data)
    val feats = Scoring.FeatureOrder.map(col)
    // same split as train() (same plan + seed → same assignment), so
    // the sketch AUC and the exact evaluator AUC see the same rows
    val te = data.randomSplit(Array(0.75, 0.25), 42)(1)
    val scored = te.withColumn("proba", closedFormProba(t.model, feats))
    val aucHist = scored
      .agg(expr("graft_auc(label, proba)")).head().getDouble(0)
    // closed form vs MLlib's own local probabilities on a sample
    val sample = scored.limit(200)
      .select((feats :+ col("proba")): _*).collect()
    val gap = mllibProbaLocal(t.model,
      sample.toIndexedSeq.map(r => Array.tabulate(feats.length)(r.getDouble)))
      .zip(sample.map(_.getDouble(feats.length)))
      .map { case (m, cf) => math.abs(m - cf) }.max
    import s.implicits._
    Seq((t.nTrain, t.nTest, math.rint(t.auc * 1e6) / 1e6,
        math.rint(aucHist * 1e6) / 1e6, gap < 1e-9))
      .toDF("n_train", "n_test", "auc", "auc_hist", "closed_form_matches")
  }

  val all: Seq[Q] = Seq(trainEval)
}
