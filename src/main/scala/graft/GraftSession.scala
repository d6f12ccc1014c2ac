package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession wired for the graft engine —
  * tuned defaults (UTC, AQE with skew handling, right-sized shuffle
  * partitions for the target cluster), the native functions
  * (`graft_fingerprint64`, `graft_cosine`, `graft_auc`) registered,
  * and the custom planner strategy and optimizer rules installed. A
  * user of the reference system starts here and has every query
  * surface available.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** Build (or reuse) the session and install the graft extensions. */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    attach(spark)
    spark
  }

  /** Install graft's functions, strategy, and optimizer rules on an
    * existing session. */
  def attach(spark: SparkSession): SparkSession = {
    graft.functions.GraftFunctions.register(spark)
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    }
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = installed ++
      Seq(graft.plans.WindowTopKRewrite, graft.plans.FooterMinMax).filterNot(installed.contains)
    spark
  }
}
