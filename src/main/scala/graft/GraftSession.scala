package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Library entry point: a SparkSession wired for the graft engine —
  * tuned defaults (UTC, AQE with skew handling, right-sized shuffle
  * partitions for the target cluster), the native functions
  * (`graft_fingerprint64`, `graft_cosine`, `graft_auc`) registered,
  * and the custom planner strategy and optimizer rules installed. A
  * user of the reference system starts here and has every query
  * surface available.
  *
  * It is the one place that writes a session's conf: [[FormatConfs]]
  * once, when the session is built or attached, and a run's own
  * values only on a child session ([[scoped]]).
  */
object GraftSession {

  /** Parquet confs every graft read and write relies on. `nanosAsLong`
    * lets `Tables.events` read a TIMESTAMP(NANOS) `ts` (which Spark 4
    * refuses as a timestamp) as raw nanos. INT96, Spark's default
    * timestamp type, carries NO min/max statistics, which silently
    * disables every ts-range row-group prune and footer-answered
    * anchor; the parquet writer reads this only from the session conf. */
  private[graft] val FormatConfs: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(FormatConfs.toMap)

  /** Build (or reuse) the session and install the graft extensions. */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    attach(spark)
    spark
  }

  /** The mains' session: `local[n]` and `n` shuffle partitions, `n`
    * being `SPARK_GRAFT_CPUS` or else every core of the host. */
  def createLocal(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = create(s"local[$n]", n)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Install graft's functions, strategy, optimizer rules and
    * [[FormatConfs]] on an existing session. */
  def attach(spark: SparkSession): SparkSession = {
    graft.functions.GraftFunctions.register(spark)
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    }
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = installed ++
      Seq(graft.plans.WindowTopKRewrite, graft.plans.FooterMinMax).filterNot(installed.contains)
    FormatConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** `body` on a clone of `spark` with `confs` set: it shares the
    * `SparkContext`, the cache, functions, rules and temp views, but
    * owns its conf, so the parent and any query planning on it never
    * see `confs`. A streaming query takes its confs from its frame's
    * session when it starts: `body` builds its streams on the clone. */
  def scoped[A](spark: SparkSession, confs: (String, String)*)(body: SparkSession => A): A = {
    val child = Bridge.cloneSession(spark)
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    body(child)
  }
}
