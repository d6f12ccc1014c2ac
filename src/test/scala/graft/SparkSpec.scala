package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially in the forked test JVM), built with the engine's
  * own session confs but without `attach`, so a suite that needs the
  * graft rules or functions attaches them itself. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf

  /** Frames registered in the shared session's cache manager. */
  def cachedEntries: Int = org.apache.spark.sql.CacheEntries.count(spark)

  /** `body` with `drop` out of the shared session's extra optimizer
    * rules, so a case sees Spark's own plan whether or not an earlier
    * suite attached graft's rules (e.g. a `max`/`min` anchor answered
    * by the scan without [[graft.plans.FooterMinMax]]); the rules are
    * restored after. */
  def withoutRules[A](drop: Rule[LogicalPlan]*)(body: => A): A = {
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules.filterNot(drop.contains)
    try body
    finally spark.experimental.extraOptimizations = rules
  }
}
