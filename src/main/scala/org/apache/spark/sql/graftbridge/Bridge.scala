package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` constructors: building a
  * DataFrame from a raw LogicalPlan. This is the standard pattern
  * Spark extension libraries use to attach custom logical operators
  * (the public API deliberately hides plan construction).
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The leaf NAME a column refers to, when it is a plain (possibly
    * qualified) attribute reference or an alias — `col("doc_id")`,
    * `col("t.doc_id")` and `expr(...).as("doc_id")` all yield
    * `doc_id`; computed columns yield None. Used by name-keyed
    * contract guards that must not reject a qualified spelling of
    * the same key (the ColumnNode types are `private[sql]`). */
  def columnLeafName(c: org.apache.spark.sql.Column): Option[String] = c.node match {
    case ua: org.apache.spark.sql.internal.UnresolvedAttribute => Some(ua.nameParts.last)
    case al: org.apache.spark.sql.internal.Alias => Some(al.name.last)
    case _ => None
  }

  /** Block until every already-posted listener event has been
    * delivered — the deterministic alternative to sleep-polling the
    * async bus when a job-count listener must be read right after an
    * action returns (Spark's own test suites drain the same way). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Dev-probe support: per-NODE metrics of the slowest completed SQL
    * executions from the session's status store — the attribution
    * level below DrainProbe2's per-execution task sums (a foreachBatch
    * drain's decision write is ONE execution; this shows which
    * operator inside it carries the time). Returns printable lines. */
  def sqlNodeMetricLines(spark: SparkSession, topExec: Int): Seq[String] = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    val execs = store.executionsList()
      .filter(_.completionTime.isDefined)
      .sortBy(e => -(e.completionTime.get.getTime - e.submissionTime))
      .take(topExec)
    execs.flatMap { e =>
      val vals = store.executionMetrics(e.executionId)
      val desc0 = Option(e.description).map(_.linesIterator.take(1).mkString.trim)
        .filter(_.nonEmpty)
      val desc = desc0.getOrElse(Option(e.physicalPlanDescription)
        .map(_.linesIterator.take(2).mkString(" | ").take(200)).getOrElse(""))
      val header = f"== exec ${e.executionId}%4d  wall ${(e.completionTime.get.getTime - e.submissionTime) / 1e3}%8.2f s  $desc"
      val nodeLines = store.planGraph(e.executionId).allNodes.toSeq.flatMap { n =>
        val ms = n.metrics.flatMap(m => vals.get(m.accumulatorId)
          .map(v => s"${m.name}=${v.linesIterator.mkString(" ").trim}"))
        val interesting = ms.filter(s => s.contains("time") || s.contains("rows") ||
          s.contains("spill") || s.contains("bytes"))
        if (interesting.isEmpty) Nil
        else Seq(f"   node ${n.id}%4d ${n.name}%-40s ${interesting.mkString(" | ")}")
      }
      header +: nodeLines
    }
  }

  /** Explicitly release the cached RDD blocks behind a
    * `localCheckpoint(true)`-pinned DataFrame at a known lifecycle
    * point (end of micro-batch). Relying on driver GC +
    * ContextCleaner lets checkpoint blocks from past batches
    * accumulate between GC cycles on long streams; freeing them
    * deterministically bounds the storage footprint at one batch's
    * pins. The frame is UNREADABLE afterwards (localCheckpoint
    * severed its lineage) — callers only pass frames whose consumers
    * have all completed.
    *
    * Only the direct `localCheckpoint(true)` result is accepted: a
    * frame derived from it (or joined with a memoized pin) would
    * otherwise free blocks that other frames still read, so any plan
    * whose root is not a `LogicalRDD` throws IllegalArgumentException. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false); ()
    case other => throw new IllegalArgumentException(
      s"unpersistLocalCheckpoint takes a localCheckpoint(true) result, not a derived ${other.nodeName} plan")
  }
}
