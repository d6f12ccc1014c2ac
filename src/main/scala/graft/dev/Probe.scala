package graft.dev

import scala.collection.mutable

import graft.{Bench, GraftSession, SparkEntry, WarmPhases}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge

/** Dev entry point: run registry entries or Bench warms by name in one
  * engine session and print where their wall time went, or print the
  * plan the engine executes for an entry.
  *
  * Usage: runMain graft.dev.Probe <sfDir> <name>[,<name>…] [reps | explain[=mode]]
  *
  * A name resolves against `SparkEntry.queries`, then `Bench.warms`.
  * Each rep (default 1) prints, from Spark's own listener events and
  * status store, read after the listener bus drains:
  *  - its wall, jobs, stages, tasks and task-time sum — task time per
  *    core far below the wall means per-job fixed overhead, not
  *    execution, bounds the run;
  *  - task time per SQL execution with the action's description —
  *    stage callsites inside a foreachBatch all collapse to the stream
  *    start, so attribution goes stage → job → execution;
  *  - per-node metrics of its slowest executions;
  *  - the `WarmPhases` a warm build recorded. A warm's second rep is
  *    the memo re-resolve Bench times as "resolve".
  *
  * `explain[=mode]` (default `formatted`) prints
  * `queryExecution.explainString` on the same attached session, so the
  * plan is the one Verify and Bench execute. Redirect it to keep it. */
object Probe {
  /** One SQL execution's share of a rep (id -1: jobs outside any). */
  final case class Exec(id: Long, desc: String, taskMs: Long, tasks: Int, stages: Int)

  sealed trait Record { def lines: Seq[String] }

  final case class Plan(name: String, text: String) extends Record {
    def lines: Seq[String] = Seq(s"===== $name =====", text)
  }

  final case class Timing(name: String, rep: String, wall: Double, jobs: Int, stages: Int,
                          tasks: Int, taskMs: Long, execs: Seq[Exec], nodes: Seq[String],
                          phases: Seq[(String, Double)]) extends Record {
    def lines: Seq[String] =
      (f"[probe] $name $rep wall $wall%.2f s  jobs $jobs  stages $stages  tasks $tasks  " +
        f"taskSum ${taskMs / 1e3}%.2f s") +: (
        phases.map { case (p, s) => f"[probe]   phase $p%-24s $s%8.2f s" } ++
          execs.take(40).map(e => f"[probe]   ${e.taskMs / 1e3}%9.2f s  exec ${e.id}%5d  " +
            f"stages ${e.stages}%4d  tasks ${e.tasks}%6d  ${e.desc.take(300)}") ++
          nodes.map("[probe]   " + _))
  }

  private type Target = Either[(SparkSession, String) => DataFrame, (SparkSession, String) => Unit]

  private def resolve(name: String): Target =
    SparkEntry.queries.get(name).map(Left(_))
      .orElse(Bench.warms.collectFirst { case (`name`, f) => Right(f) })
      .getOrElse(throw new IllegalArgumentException(
        s"unknown name '$name': neither a SparkEntry query nor a Bench warm"))

  /** Probe `names` in `mode` (a rep count or `explain[=mode]`). Every
    * name resolves before any Spark work. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], mode: String = "1"): Seq[Record] = {
    val targets = names.map(n => n -> resolve(n))
    if (mode.startsWith("explain")) {
      val m = ExplainMode.fromString(Some(mode.stripPrefix("explain").stripPrefix("="))
        .filter(_.nonEmpty).getOrElse("formatted"))
      targets.map {
        case (n, Left(q)) => Plan(n, q(spark, sfDir).queryExecution.explainString(m))
        case (n, Right(_)) => throw new IllegalArgumentException(s"'$n' is a warm build: it has no plan")
      }
    } else {
      val reps = mode.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"mode '$mode': expected a rep count or explain[=mode]"))
      for ((n, t) <- targets; i <- 1 to reps) yield t match {
        case Left(q) => time(spark, n, s"rep$i")(q(spark, sfDir).count())
        case Right(w) => time(spark, n, if (i == 1) "build" else "resolve")(w(spark, sfDir))
      }
    }
  }

  private def time(spark: SparkSession, name: String, rep: String)(body: => Any): Timing = {
    val c = new Counter
    Bridge.drainListenerBus(spark) // no earlier event reaches this rep's counts
    spark.sparkContext.addSparkListener(c)
    try {
      WarmPhases.drain() // attribute phases to exactly this rep
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val phases = WarmPhases.drain()
      Bridge.drainListenerBus(spark)
      val execs = c.byExec.values.toSeq
        .map(e => e.copy(desc = c.desc.getOrElse(e.id, "<no SQL execution>"))).sortBy(-_.taskMs)
      Timing(name, rep, wall, c.jobs, c.stages, c.tasks, c.taskMs, execs,
        Bridge.sqlNodeMetricLines(spark, c.desc.keySet.toSet, topExec = 8), phases)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  /** Counts one rep's jobs, stages and tasks, in total and per SQL
    * execution (stage → job → `spark.sql.execution.id`). The bus
    * delivers to a listener from one thread; it is read after a drain. */
  private final class Counter extends SparkListener {
    var jobs, stages, tasks = 0
    var taskMs = 0L
    val desc = mutable.Map.empty[Long, String]
    val byExec = mutable.Map.empty[Long, Exec]
    private val stageExec = mutable.Map.empty[Int, Long]

    private def add(stageId: Int)(f: Exec => Exec): Unit = {
      val id = stageExec.getOrElse(stageId, -1L)
      byExec(id) = f(byExec.getOrElse(id, Exec(id, "", 0L, 0, 0)))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs += 1
      val id = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .fold(-1L)(_.toLong)
      e.stageIds.foreach(stageExec(_) = id)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      add(e.stageInfo.stageId)(x => x.copy(stages = x.stages + 1))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ms = Option(e.taskInfo).fold(0L)(_.duration)
      tasks += 1; taskMs += ms
      add(e.stageId)(x => x.copy(taskMs = x.taskMs + ms, tasks = x.tasks + 1))
    }

    // the action's description, else the first plan lines past the tree markers
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        desc(e.executionId) = Option(e.description).flatMap(_.linesIterator.find(_.trim.nonEmpty))
          .filterNot(_.startsWith("id = "))
          .getOrElse(e.physicalPlanDescription.linesIterator.map(_.trim).filter(_.nonEmpty)
            .filterNot(l => l.startsWith("+-") || l.startsWith(":") || l.startsWith("=="))
            .take(5).mkString(" | ").take(400))
      case _ => ()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 3,
      "usage: graft.dev.Probe <sfDir> <name>[,<name>…] [reps | explain[=mode]]")
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach(resolve) // an unknown name fails before the session starts
    val spark = GraftSession.createLocal()
    try {
      spark.range(1000).selectExpr("sum(id)").collect() // session warm-up
      names.foreach(n => run(spark, args(0), Seq(n), args.lift(2).getOrElse("1"))
        .foreach(_.lines.foreach(println)))
    } finally spark.stop()
  }
}
