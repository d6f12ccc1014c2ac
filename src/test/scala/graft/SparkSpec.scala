package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially in the forked test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf

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
