package graft

import java.nio.file.Files

import graft.ml.{FraudModel, ModelRegistry}
import graft.functions.Scoring
import org.apache.spark.ml.PipelineModel
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Training path, registry lifecycle, closed-form equivalence,
  * hot-reload and heuristic fallback (SURVEY.md §2.8). */
class MlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val data = FraudModel.syntheticTraining(spark, n = 3000, seed = 42).cache()
  private lazy val trained = FraudModel.train(data)
  // a second model whose coefficients differ from `trained`'s
  private lazy val trained2 =
    FraudModel.train(FraudModel.syntheticTraining(spark, n = 3000, seed = 7), seed = 7)

  // max |scoreBatch proba − MLlib's own probability| over the batch
  private def probaGap(scored: DataFrame, model: PipelineModel): Double = {
    val feats = Scoring.FeatureOrder.map(col)
    val rows = scored.select((feats :+ col("proba")): _*).collect()
    FraudModel.mllibProbaLocal(model,
      rows.toIndexedSeq.map(r => Array.tabulate(feats.length)(r.getDouble)))
      .zip(rows.map(_.getDouble(feats.length)))
      .map { case (m, p) => math.abs(m - p) }.max
  }

  private def versionOf(scored: DataFrame): Seq[String] =
    scored.select("model_version").distinct().collect().map(_.getString(0)).toSeq

  // Spark jobs started while `body` runs (the bus is drained on both
  // sides so no earlier job's event is counted and none of body's is
  // missed)
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { val r = body; Bridge.drainListenerBus(spark); (r, n.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("G1-G6 generator: schema, determinism, label plausibility") {
    assert(data.columns.toSeq == Seq("amount", "num_items", "merchant_risk", "hour", "label"))
    val again = FraudModel.syntheticTraining(spark, n = 3000, seed = 42)
    assert(data.except(again).count() == 0 && again.except(data).count() == 0)
    val fraudRate = data.agg(avg("label")).head.getDouble(0)
    assert(fraudRate > 0.02 && fraudRate < 0.5, s"fraud rate $fraudRate")
    assert(data.agg(min("num_items")).head.getDouble(0) >= 1.0)
    val hours = data.agg(min("hour"), max("hour")).head
    assert(hours.getDouble(0) >= 0.0 && hours.getDouble(1) <= 23.0)
  }

  test("M2/M5: trained model separates classes (AUC > 0.6)") {
    assert(trained.auc > 0.6, s"auc ${trained.auc}")
    assert(trained.nTrain + trained.nTest == 3000)
  }

  test("M3: closed-form sigmoid equals MLlib probabilities") {
    val feats = Scoring.FeatureOrder.map(col)
    val scored = data.limit(500)
      .withColumn("cf", FraudModel.closedFormProba(trained.model, feats))
      .select((feats :+ col("cf")): _*).collect()
    val mllib = FraudModel.mllibProbaLocal(trained.model,
      scored.toIndexedSeq.map(r => Array.tabulate(feats.length)(r.getDouble)))
    val gap = mllib.zip(scored.map(_.getDouble(feats.length)))
      .map { case (m, cf) => math.abs(m - cf) }.max
    assert(gap < 1e-9, s"gap $gap")
  }

  test("M7: registry versioning + atomic promotion + O3 latest") {
    val root = Files.createTempDirectory("graft-registry-").toString
    val reg = new ModelRegistry(root)
    assert(reg.latestVersion("fraud_detector").isEmpty)
    assert(reg.loadProduction(spark, "fraud_detector").isEmpty)
    val v1 = reg.register(trained.model, "fraud_detector")
    assert(v1 == 1 && reg.latestVersion("fraud_detector").contains(1))
    reg.promote("fraud_detector", 1)
    assert(reg.productionVersion("fraud_detector").contains(1))
    val v2 = reg.register(trained.model, "fraud_detector")
    assert(v2 == 2 && reg.latestVersion("fraud_detector").contains(2))
    // promotion is explicit: production still v1 until promoted
    assert(reg.productionVersion("fraud_detector").contains(1))
    reg.promote("fraud_detector", 2)
    assert(reg.productionVersion("fraud_detector").contains(2))
    intercept[IllegalArgumentException](reg.promote("fraud_detector", 99))
    // M6: signature persisted and recovered
    val v3 = reg.register(trained.model, "fraud_detector",
      Some(data.drop("label").schema))
    assert(reg.signature("fraud_detector", v3).contains(data.drop("label").schema))
    assert(reg.signature("fraud_detector", 1).isEmpty)
  }

  test("ml_train_eval query row: sizes, AUC bounds, sketch-vs-exact agreement") {
    val row = SparkEntry.queries("ml_train_eval")(spark, sf).head
    assert(row.getAs[Long]("n_train") + row.getAs[Long]("n_test") == 5000L)
    val auc = row.getAs[Double]("auc")
    val aucHist = row.getAs[Double]("auc_hist")
    assert(auc > 0.6 && auc <= 1.0)
    assert(math.abs(auc - aucHist) < 0.01, s"$auc vs $aucHist")
    assert(row.getAs[Boolean]("closed_form_matches"))
  }

  test("M8/M9: scoreBatch hot-reloads production and falls back to heuristic") {
    val root = Files.createTempDirectory("graft-registry-").toString
    val reg = new ModelRegistry(root)
    val batch = data.limit(50)
    // no model → heuristic fallback
    val fb = FraudModel.scoreBatch(spark, reg, "fraud_detector", batch)
    assert(fb.select("model_version").distinct.head.getString(0) == "heuristic")
    assert(fb.filter(col("proba") =!= 0.05 && col("proba") =!= 1.0).count() == 0)
    // register + promote → model path with version stamp (hot reload)
    reg.promote("fraud_detector", reg.register(trained.model, "fraud_detector"))
    val scored = FraudModel.scoreBatch(spark, reg, "fraud_detector", batch)
    assert(scored.select("model_version").distinct.head.getString(0) == "v1")
    assert(scored.filter(col("proba") < 0 || col("proba") > 1).count() == 0)
    val both = scored.withColumn("expected", Scoring.classify(col("proba")))
    assert(both.filter(col("prediction") =!= col("expected")).count() == 0)
  }

  test("M8: a promote switches the next batch to that version's coefficients, and back") {
    assert(FraudModel.closedForm(trained.model)._3 != FraudModel.closedForm(trained2.model)._3)
    val reg = new ModelRegistry(Files.createTempDirectory("graft-registry-").toString)
    val batch = data.limit(50)
    reg.promote("fraud_detector", reg.register(trained.model, "fraud_detector"))
    val s1 = FraudModel.scoreBatch(spark, reg, "fraud_detector", batch)
    assert(versionOf(s1) == Seq("v1") && probaGap(s1, trained.model) < 1e-9)
    // v1 is now cached; a promote of v2 is served at the next batch
    reg.promote("fraud_detector", reg.register(trained2.model, "fraud_detector"))
    val s2 = FraudModel.scoreBatch(spark, reg, "fraud_detector", batch)
    assert(versionOf(s2) == Seq("v2"))
    assert(probaGap(s2, trained2.model) < 1e-9, "v2 rows must carry v2's probabilities")
    assert(probaGap(s2, trained.model) > 1e-6, "v2 rows must not carry v1's probabilities")
    reg.promote("fraud_detector", 1)
    val s3 = FraudModel.scoreBatch(spark, reg, "fraud_detector", batch)
    assert(versionOf(s3) == Seq("v1") && probaGap(s3, trained.model) < 1e-9)
  }

  test("M8: scoring with an already-loaded version starts no Spark job") {
    val reg = new ModelRegistry(Files.createTempDirectory("graft-registry-").toString)
    val batch = data.limit(50)
    reg.promote("fraud_detector", reg.register(trained.model, "fraud_detector"))
    // the first call loads the version (eager); scoring itself is lazy
    val (_, loadJobs) = jobsDuring(FraudModel.scoreBatch(spark, reg, "fraud_detector", batch))
    assert(loadJobs > 0, "the listener must see the first call's model load")
    val (again, cachedJobs) = jobsDuring(FraudModel.scoreBatch(spark, reg, "fraud_detector", batch))
    assert(cachedJobs == 0, s"a cached version reloaded: $cachedJobs jobs")
    assert(versionOf(again) == Seq("v1") && probaGap(again, trained.model) < 1e-9)
  }

  test("M8: a version rewritten at the same path is reloaded, not served stale") {
    val root = Files.createTempDirectory("graft-registry-")
    val reg = new ModelRegistry(root.toString)
    val batch = data.limit(50)
    reg.promote("fraud_detector", reg.register(trained.model, "fraud_detector"))
    assert(probaGap(FraudModel.scoreBatch(spark, reg, "fraud_detector", batch), trained.model) < 1e-9)
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    assert(reg.productionVersion("fraud_detector").isEmpty)
    reg.promote("fraud_detector", reg.register(trained2.model, "fraud_detector"))
    val scored = FraudModel.scoreBatch(spark, reg, "fraud_detector", batch)
    assert(versionOf(scored) == Seq("v1"))
    assert(probaGap(scored, trained2.model) < 1e-9, "stale coefficients served for a rewritten v1")
  }

  test("ml_train_eval_cert: deterministic split, exact AUC facts, booleans hold") {
    val row = graft.ml.MlCert.trainEvalCert.fn(spark, sf).head()
    // md5 split ⇒ exactly one membership per event, ~25% test
    val n = row.getAs[Long]("n_total")
    val nTest = row.getAs[Long]("n_test")
    assert(nTest > n / 5 && nTest < n / 3, s"test share $nTest/$n")
    assert(row.getAs[Long]("n_pos_test") + row.getAs[Long]("n_neg_test") == nTest)
    // the latent (Bayes) scorer's exact rank AUC is high by design
    assert(row.getAs[Double]("bayes_auc_test") > 0.9)
    // the Spark-only halves of the certificate
    assert(row.getAs[Boolean]("model_auc_ge_085"), "trained model under AUC bound")
    assert(row.getAs[Boolean]("sketch_auc_within_bound"), "graft_auc sketch drifted")
    assert(row.getAs[Boolean]("closed_form_matches"), "closed form != MLlib")
    // split stability: membership is a pure function of event_id, so
    // recomputing yields the identical split (contrast randomSplit)
    val a = graft.ml.MlCert.labeledEvents(spark, sf).select("event_id", "bucket", "label")
    val b = graft.ml.MlCert.labeledEvents(spark, sf).select("event_id", "bucket", "label")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("text_quality_model: cert booleans hold and the hashed-LR fit is deterministic") {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
    import org.apache.spark.ml.feature.HashingTF
    val row = graft.ml.QualityModel.qualityModelCert.fn(spark, sf).head()
    assert(row.getAs[Long]("n_pos_test") > 0 && row.getAs[Long]("n_neg_test") > 0)
    assert(row.getAs[Double]("bayes_auc_test") > 0.7)
    assert(row.getAs[Boolean]("lr_auc_ge_gate"), "learned filter under the AUC gate")
    // no RNG anywhere: hashing trick + zero-init LBFGS ⇒ refitting
    // yields bit-identical coefficients (the hot-reload/registry
    // story depends on retrains being reproducible)
    val tr = graft.ml.QualityModel.labeledDocs(spark, sf)
      .filter(org.apache.spark.sql.functions.col("bucket") < 75).coalesce(1)
    def fit() = new Pipeline().setStages(Array(
        new HashingTF().setInputCol("w").setOutputCol("features")
          .setNumFeatures(graft.ml.QualityModel.NumFeatures),
        new LogisticRegression().setMaxIter(100).setLabelCol("label")))
      .fit(tr).stages(1).asInstanceOf[LogisticRegressionModel]
    val (m1, m2) = (fit(), fit())
    assert(m1.coefficients == m2.coefficients && m1.intercept == m2.intercept,
      "refit must be bit-identical")
  }
}
