package graft

import java.nio.file.Files

import graft.queries.FraudAnalytics
import graft.sources.{PredictionsStore, Tables}
import org.apache.spark.sql.functions._

/** Day-partitioned predictions store: partition pruning + idempotent
  * partition upsert (the index/upsert analog, init.sql:19-21 + A2). */
class PredictionsStoreSpec extends SparkSpec {

  test("day filter prunes partitions at planning time") {
    val path = Files.createTempDirectory("graft-store-").toString + "/predictions"
    val scored = FraudAnalytics.scored(Tables.events(spark, sf))
      .select("event_id", "ts", "value", "proba", "prediction")
    PredictionsStore.write(scored, path)
    val q = PredictionsStore.read(spark, path)
      .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-05")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("2024-01-05"), plan)
    // pruned scan reads only the one day
    val expected = scored.filter(to_date(col("ts")) === "2024-01-05").count()
    assert(q.count() == expected && expected > 0)
  }

  test("sort-on-write ts clustering: a 15-minute predicate skips row groups at read time") {
    // The btree-index analog (init.sql:19-21) beyond day-partition
    // pruning: files are written ts-sorted with small row groups, so
    // the pushed-down ts range prunes row groups by their min/max
    // stats. Observable as the SCAN emitting far fewer rows than the
    // table holds (surviving row groups only) before the residual
    // Filter — without the sort every group spans the whole day and
    // nothing is skippable.
    val path = Files.createTempDirectory("graft-store-").toString + "/predictions"
    val scored = FraudAnalytics.scored(Tables.events(spark, sf))
      .select("event_id", "ts", "value", "proba", "prediction")
    // tiny row groups so even a test-scale day holds several
    PredictionsStore.write(scored, path, blockSizeBytes = Some(2048L))
    val total = scored.count()
    // anchor the window on a real row's ts → the window is non-empty
    val anchor = scored.filter(to_date(col("ts")) === "2024-01-05")
      .agg(min(col("ts"))).head.getTimestamp(0)
    val hi = new java.sql.Timestamp(anchor.getTime + 15 * 60 * 1000)
    val q = PredictionsStore.read(spark, path)
      .filter(col("ts") >= lit(anchor) && col("ts") < lit(hi))
    val got = q.collect()
    val expected = scored.filter(col("ts") >= lit(anchor) && col("ts") < lit(hi)).count()
    assert(got.length == expected && expected > 0)
    val plan = q.queryExecution.executedPlan
    val scans = (plan +: plan.collect { case p => p }).flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case _ => Nil
    }
    assert(scans.nonEmpty, plan.toString)
    // ts bounds must reach the parquet reader, not just the Filter node
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(ts") && pushed.contains("LessThan(ts"), pushed)
    val scanRows = scans.map(_.metrics("numOutputRows").value).sum
    assert(scanRows >= got.length.toLong, s"scan emitted $scanRows < result ${got.length}")
    assert(scanRows < total / 10,
      s"scan emitted $scanRows of $total rows — row-group skipping did not fire")
  }

  test("dynamic partition overwrite upserts exactly the touched day") {
    val path = Files.createTempDirectory("graft-store-").toString + "/predictions"
    val scored = FraudAnalytics.scored(Tables.events(spark, sf))
      .select("event_id", "ts", "value", "proba", "prediction")
    PredictionsStore.write(scored, path)
    // recompute one day with a filtered subset → only that partition replaced
    val oneDay = scored.filter(to_date(col("ts")) === "2024-01-05").limit(3)
    PredictionsStore.write(oneDay, path)
    val after = PredictionsStore.read(spark, path)
    assert(after.filter(col("day") === "2024-01-05").count() == 3)
    // every other partition is untouched
    val expectedOthers = scored.filter(to_date(col("ts")) =!= "2024-01-05").count()
    assert(after.filter(col("day") =!= "2024-01-05").count() == expectedOthers)
  }

  test("the store's dynamic overwrite stays on its write: a later static overwrite replaces every partition") {
    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val base = Files.createTempDirectory("graft-store-").toString
    val scored = FraudAnalytics.scored(Tables.events(spark, sf))
      .select("event_id", "ts", "value", "proba", "prediction")
    PredictionsStore.write(scored.limit(20), s"$base/predictions", "append")
    import spark.implicits._
    val other = s"$base/static"
    Seq((1, "a"), (2, "b")).toDF("v", "p").write.mode("overwrite").partitionBy("p").parquet(other)
    Seq((3, "a")).toDF("v", "p").write.mode("overwrite").partitionBy("p").parquet(other)
    val after = spark.read.parquet(other).collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(after == Seq((3, "a")), "the static overwrite kept partitions it did not write")
  }
}
