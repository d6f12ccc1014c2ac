package graft

import org.apache.spark.sql.SparkSession
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

  /** `body` with [[graft.plans.FooterMinMax]] out of the shared
    * session's optimizer rules, so a `max`/`min` anchor is answered by
    * the scan; the rules are restored after. */
  def withoutFooterMinMax[A](body: => A): A = {
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules.filterNot(_ == graft.plans.FooterMinMax)
    try body
    finally spark.experimental.extraOptimizations = rules
  }
}
