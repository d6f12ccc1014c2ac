package fraudbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Operation and check accounting shared by every workload.
  *
  * A call that throws is one attempted and one failed operation and
  * contributes no timing sample, so a failing query can never read as
  * a fast one. Output checks are operations too: a missing, duplicated
  * or mis-scored event is a failed one. */
final class Recorder {
  private var attemptedN = 0L
  private var failedN = 0L
  private val errorsBuf = ArrayBuffer.empty[String]
  private val checksBuf = ArrayBuffer.empty[(String, Boolean, String)]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def errors: Seq[String] = synchronized(errorsBuf.toList)
  def checks: Seq[(String, Boolean, String)] = synchronized(checksBuf.toList)

  /** Run `op`; on success append its wall time in ms to `samples`. */
  def timed[A](samples: ArrayBuffer[Double])(op: => A): Option[A] = {
    synchronized(attemptedN += 1)
    val t0 = System.nanoTime
    try {
      val a = op
      val ms = (System.nanoTime - t0) / 1e6
      samples.synchronized(samples += ms)
      Some(a)
    } catch {
      case NonFatal(e) => fail(e); None
    }
  }

  def attempt(): Unit = synchronized(attemptedN += 1)

  def fail(e: Throwable): Unit = synchronized {
    failedN += 1
    if (errorsBuf.size < 20) errorsBuf += s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
  }

  /** `attempted` operations checked at once, `bad` of them wrong. */
  def check(name: String, attempted: Long, bad: Long, detail: String): Unit = synchronized {
    attemptedN += attempted
    failedN += bad
    checksBuf += ((name, bad == 0, detail))
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = percentile(xs.toIndexedSeq, 50)

  /** Nearest-rank percentile of unweighted samples. */
  def percentile(xs: IndexedSeq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** Percentiles tried for a tail, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99, 98, 95, 90, 80, 75, 67, 50)

  /** The tail of a latency sample whose items come in groups (events in
    * micro-batches, or single queries): the highest percentile that still
    * has at least ten groups beyond it. Items are (value, groupId).
    * Returns (value, percentile, groups beyond it); when even the median
    * has fewer than ten groups beyond it, the median is returned with the
    * count it has. */
  def tail(items: IndexedSeq[(Double, Long)]): (Double, Double, Int) = {
    val vals = items.map(_._1)
    def beyond(v: Double): Int = items.iterator.filter(_._1 > v).map(_._2).toSet.size
    TailPercentiles.iterator
      .map(p => (percentile(vals, p), p))
      .map { case (v, p) => (v, p, beyond(v)) }
      .find(_._3 >= 10)
      .getOrElse {
        val v = percentile(vals, 50)
        (v, 50.0, beyond(v))
      }
  }
}

/** Host and JVM readings taken at the start and the end of a run. */
object Host {
  final case class Snapshot(wallNs: Long, cpuNs: Long, gcMs: Long, gcCount: Long,
                            load1: Double, statTotal: Long, statSteal: Long, appCpu: Map[String, Long])

  private def procStat: (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case NonFatal(_) => (0L, 0L) }

  def load1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => Double.NaN }

  def snapshot(): Snapshot = {
    import scala.jdk.CollectionConverters._
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (tot, steal) = procStat
    Snapshot(System.nanoTime, os.getProcessCpuTime, gcs.map(_.getCollectionTime).sum,
      gcs.map(_.getCollectionCount).sum, load1, tot, steal, appThreadCpuNs())
  }

  /** On-CPU nanoseconds of each live thread of this process except the JIT
    * compiler's, by thread id (/proc/self/task/<tid>/schedstat). */
  def appThreadCpuNs(): Map[String, Long] =
    try {
      import scala.jdk.CollectionConverters._
      val ts = Files.list(Paths.get("/proc/self/task"))
      try ts.iterator.asScala.flatMap { t =>
        try {
          val comm = Files.readString(t.resolve("comm")).trim
          if (comm.matches("C[12] CompilerThre.*")) None
          else Some(t.getFileName.toString -> Files.readString(t.resolve("schedstat")).trim.split("\\s+")(0).toLong)
        } catch { case NonFatal(_) => None } // the thread ended meanwhile
      }.toMap finally ts.close()
    } catch { case NonFatal(_) => Map.empty }

  /** CPU time the threads of `b` spent since `a`, in ms; a thread that
    * ended in between is missing from `b` and counts nothing. */
  def cpuMsBetween(a: Map[String, Long], b: Map[String, Long]): Double =
    b.map { case (t, ns) => ns - a.getOrElse(t, 0L) }.sum / 1e6

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => Double.NaN }

  def cpus: Int = Runtime.getRuntime.availableProcessors

  def xmxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Readings over [a, b] as named values. */
  def delta(a: Snapshot, b: Snapshot, cores: Int): Map[String, Double] = {
    val wall = (b.wallNs - a.wallNs).toDouble
    val statTot = (b.statTotal - a.statTotal).toDouble
    Map(
      "jvm.gc_ms" -> (b.gcMs - a.gcMs).toDouble,
      "jvm.gc_count" -> (b.gcCount - a.gcCount).toDouble,
      "jvm.cpu_util" -> (if (wall > 0) (b.cpuNs - a.cpuNs) / (wall * cores) else Double.NaN),
      "host.load_start" -> a.load1,
      "host.load" -> b.load1,
      "host.steal_pct" -> (if (statTot > 0) 100.0 * (b.statSteal - a.statSteal) / statTot else 0.0))
  }
}

/** Just enough JSON output for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
