package graft

import graft.dev.Probe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge

/** The dev entry point: registry entries and Bench warms resolve by
  * name, each rep's per-execution split accounts for all its tasks,
  * and `explain` shows the plan the attached engine runs. */
class ProbeSpec extends SparkSpec {

  // the engine attached as Verify and Bench run it, detached after
  private def attached[A](body: => A): A = {
    val (strategies, rules) = (spark.experimental.extraStrategies, spark.experimental.extraOptimizations)
    GraftSession.attach(spark)
    try body
    finally {
      spark.experimental.extraStrategies = strategies
      spark.experimental.extraOptimizations = rules
    }
  }

  test("an entry and a warm both resolve; per-execution tasks sum to the rep's total") {
    val recs = attached(Probe.run(spark, sf, Seq("fraud_daily_metrics", "cache_warm_tokens"), "2"))
      .collect { case t: Probe.Timing => t }
    assert(recs.map(r => r.name -> r.rep) == Seq(
      "fraud_daily_metrics" -> "rep1", "fraud_daily_metrics" -> "rep2",
      "cache_warm_tokens" -> "build", "cache_warm_tokens" -> "resolve"))
    for (r <- recs) {
      assert(r.wall > 0 && r.jobs >= 1 && r.tasks >= 1, r)
      assert(r.execs.map(_.tasks).sum == r.tasks, r)
      assert(r.execs.map(_.stages).sum == r.stages, r)
      assert(r.execs.map(_.taskMs).sum == r.taskMs, r)
    }
  }

  test("explain prints the attached engine's plan: text_tfidf_topk runs TopKPerKey") {
    val Seq(simple: Probe.Plan) =
      attached(Probe.run(spark, sf, Seq("text_tfidf_topk"), "explain=simple"))
    assert(simple.text.contains("TopKPerKey ["), simple.text)
    assert(!simple.text.contains("Window ["), simple.text)
    // the default mode is `formatted`: numbered nodes, then their details
    val Seq(formatted: Probe.Plan) = attached(Probe.run(spark, sf, Seq("text_tfidf_topk"), "explain"))
    assert(formatted.text.contains("TopKPerKey ("), formatted.text)
  }

  test("an unknown name throws, naming it, before any Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val e = intercept[IllegalArgumentException](
        Probe.run(spark, sf, Seq("fraud_daily_metrics", "no_such_probe")))
      assert(e.getMessage.contains("no_such_probe"))
      Bridge.drainListenerBus(spark)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
