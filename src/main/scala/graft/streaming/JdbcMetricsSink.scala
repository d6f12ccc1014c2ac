package graft.streaming

import java.nio.file.Files
import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The JDBC twin of the daily-metrics upsert sink — the reference
  * persists through SQL `INSERT … ON CONFLICT (day) DO UPDATE`
  * against Postgres (`services/fraud_service/app/main.py:236-254`,
  * `airflow/dags/compute-daily-metrics.py:21-35`); this is the same
  * keyed upsert expressed the way Spark talks to a SQL store:
  *
  *  1. the micro-batch's updated day rows land in a staging table via
  *     `DataFrameWriter.jdbc` — executors write in parallel, nothing
  *     funnels through the driver;
  *  2. one set-based `MERGE INTO target USING staging ON (day)` runs
  *     on the driver — the standard-SQL equivalent of ON CONFLICT DO
  *     UPDATE, one DML statement per batch regardless of row count.
  *
  * The update set is one row per touched day (bounded by
  * days-per-batch at any scale), so the staging write is tiny; the
  * heavy lifting (scan → window agg) stays in the streaming plan.
  *
  * CI runs it against embedded Derby (in-JVM, ships with Spark);
  * against Postgres only the url changes — the DDL uses the portable
  * `DOUBLE PRECISION` spelling and the existence probe checks both
  * identifier case-folds (Derby stores unquoted names upper-case,
  * Postgres lower-case). Idempotence across re-runs (the ON-CONFLICT
  * contract) is pinned in JdbcSinkSpec.
  *
  * Metric values are rounded (6 dp) HERE, so every writer of this
  * table — the streaming schedule and the external batch tick
  * ([[graft.jobs.Jobs]]) — stores identical values for identical
  * inputs; concurrent writers can't make stored rows oscillate
  * between rounded and unrounded.
  */
object JdbcMetricsSink {

  val Table = "graft_daily_metrics"

  /** Target tables already bootstrapped this JVM, keyed by url — the
    * metadata probe runs once per store, not once per micro-batch. */
  private val ensured = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val stagingSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Unique across threads AND processes (two Spark apps may share
    * one external store): per-JVM random tag + per-call counter. */
  private val jvmTag =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)
  private def freshStagingName(): String =
    s"graft_daily_metrics_stage_${jvmTag}_${stagingSeq.incrementAndGet()}"

  /** Embedded-Derby JDBC url rooted at a fresh temp dir. */
  def derbyUrl(): String = {
    System.setProperty("derby.stream.error.file",
      Files.createTempDirectory("graft-derby-log-").toString + "/derby.log")
    val dir = Files.createTempDirectory("graft-derby-").toString
    s"jdbc:derby:$dir/metrics;create=true"
  }

  private def withConn[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def tableExists(c: Connection, name: String): Boolean = {
    // Unquoted DDL identifiers case-fold per dialect — Derby/H2 store
    // them upper-case, Postgres lower-case — so probe the metadata
    // under both folds (plus verbatim, for stores that preserve case).
    def probe(n: String): Boolean = {
      val rs = c.getMetaData.getTables(null, null, n, null)
      try rs.next() finally rs.close()
    }
    probe(name.toUpperCase) || probe(name.toLowerCase) || probe(name)
  }

  /** Target DDL (reference `db/init.sql:24-30` daily_metrics).
    * Identifiers are quoted lowercase to match how Spark's JDBC
    * writer quotes the staging columns, so the MERGE below references
    * both tables consistently. `DOUBLE PRECISION` is the portable
    * spelling — Postgres rejects bare `DOUBLE`; Derby/H2 accept both. */
  def ensureTable(url: String): Unit =
    if (!ensured.contains(url)) {
      withConn(url) { c =>
        if (!tableExists(c, Table))
          exec(c,
            s"""CREATE TABLE $Table (
               |  "day" DATE PRIMARY KEY,
               |  "num_predictions" BIGINT,
               |  "fraud_rate" DOUBLE PRECISION,
               |  "avg_amount" DOUBLE PRECISION,
               |  "avg_proba" DOUBLE PRECISION)""".stripMargin)
      }
      ensured.add(url)
      ()
    }

  /** The foreachBatch body: stage the batch with `DataFrameWriter
    * .jdbc`, then merge staging into the target keyed by day. The
    * staging table is named uniquely per invocation (and dropped
    * after the merge) so concurrent writers against the same store —
    * an external tick firing while the engine-native schedule runs —
    * never overwrite each other's staged rows; last-merge-wins per
    * day at the target, exactly like concurrent ON CONFLICT upserts. */
  def upsertDailyMetrics(batch: DataFrame, url: String): Unit = {
    ensureTable(url)
    val staging = freshStagingName()
    ScoringStream.roundedDailyMetrics(batch)
      .coalesce(1) // one row per touched day — one write task, like the parquet sink
      .write.mode("overwrite")
      .jdbc(url, staging, new java.util.Properties)
    withConn(url) { c =>
      try exec(c,
        s"""MERGE INTO $Table t USING $staging s ON t."day" = s."day"
           |WHEN MATCHED THEN UPDATE SET
           |  "num_predictions" = s."num_predictions",
           |  "fraud_rate"  = s."fraud_rate",
           |  "avg_amount"  = s."avg_amount",
           |  "avg_proba"   = s."avg_proba"
           |WHEN NOT MATCHED THEN INSERT
           |  ("day", "num_predictions", "fraud_rate", "avg_amount", "avg_proba")
           |  VALUES (s."day", s."num_predictions", s."fraud_rate", s."avg_amount",
           |          s."avg_proba")""".stripMargin)
      finally exec(c, s"DROP TABLE $staging")
    }
  }

  /** [[ScoringStream.runDailyMetricsStream]] with the SQL store as
    * the sink: same aggregate, same update-mode trigger, the
    * foreachBatch body above as the upsert. Returns the table read
    * back through the JDBC SOURCE (round-trip through the store). */
  def runDailyMetricsJdbcStream(spark: SparkSession, dir: String, url: String): DataFrame = {
    ScoringStream.drainDailyMetrics(spark, dir)(upsertDailyMetrics(_, url))
    ScoringStream.roundedDailyMetrics(spark.read.jdbc(url, Table, new java.util.Properties))
      .orderBy(col("day"))
  }
}
