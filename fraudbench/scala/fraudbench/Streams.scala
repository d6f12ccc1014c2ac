package fraudbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.Scoring
import graft.ml.{FraudModel, ModelRegistry}
import graft.sources.PredictionsStore
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The generated stream: phases of files, each due at an offset from its
  * phase's start, with the payload stamp that identifies it. */
object Schedule {
  final case class FileSpec(seq: Int, phase: Int, name: String, dueS: Double, good: Int, bad: Int, tsUs: Long)
  final case class Phase(idx: Int, name: String, kind: String, rate: Int, files: IndexedSeq[FileSpec]) {
    def good: Long = files.map(_.good.toLong).sum
    def payloads: Long = files.map(f => (f.good + f.bad).toLong).sum
  }
  final case class Sample(id: String, amount: Double, risk: Double, tsUs: Long)
  final case class Manifest(phases: IndexedSeq[Phase], samples: Seq[Sample]) {
    val files: IndexedSeq[FileSpec] = phases.flatMap(_.files)
    def phase(name: String): Phase = phases.find(_.name == name).get
  }

  def load(input: Path): Manifest = {
    val root = new ObjectMapper().readTree(input.resolve("manifest.json").toFile)
    var seq = 0
    val phases = root.get("phases").elements().asScala.zipWithIndex.map { case (p, i) =>
      val files = p.get("files").elements().asScala.map { f =>
        val spec = FileSpec(seq, i, f.get("name").asText, f.get("due_s").asDouble,
          f.get("good").asInt, f.get("bad").asInt, f.get("ts_us").asLong)
        seq += 1
        spec
      }.toIndexedSeq
      Phase(i, p.get("name").asText, p.get("kind").asText, p.get("rate_eps").asInt, files)
    }.toIndexedSeq
    val samples = root.get("samples").elements().asScala.map { s =>
      Sample(s.get("id").asText, s.get("amount").asDouble, s.get("merchant_risk").asDouble,
        s.get("ts_us").asLong)
    }.toSeq
    Manifest(phases, samples)
  }
}

/** One streaming run: an open-loop lander moves the generated files into a
  * watched directory on schedule while a `readStream.text` query scores
  * and sinks them in `foreachBatch`. Phases are open loop inside and
  * closed between: a phase starts once the previous one has fully landed
  * in the sink, so each phase's latencies are its own. */
final class StreamRun(spark: SparkSession, m: Schedule.Manifest, input: Path, work: Path,
                      rec: Recorder, trace: Trace) {
  import Schedule._
  import StreamRun._

  val sink: String = work.resolve("predictions").toString
  private val landing = Files.createDirectories(work.resolve("landing"))
  private val staging = Files.createDirectories(work.resolve("staging"))

  val phaseStartNs: Array[Long] = Array.fill(m.phases.size)(-1L)
  val landNs: Array[Long] = Array.fill(m.files.size)(-1L)
  val batches = ArrayBuffer.empty[Batch]
  val sunkGood = new AtomicLong(0)
  @volatile var broken = false
  /** Called before a phase starts; false stops the schedule there. */
  @volatile var beforePhase: Phase => Boolean = _ => true
  @volatile var onPhaseStart: Phase => Unit = _ => ()
  /** Checked before each file of a phase; true ends the phase there. */
  @volatile var phaseDone: Phase => Boolean = _ => false
  /** Called once the last landed phase is in the sink, before the query stops. */
  @volatile var onDrained: () => Unit = () => ()

  /** Record a finished micro-batch from its observations. */
  def recordBatch(id: Long, startNs: Long, ingest: Observation, span: Observation): Unit = {
    val endNs = System.nanoTime
    val in = ingest.get
    val sp = span.get
    def long(mp: Map[String, Any], k: String): Long = mp.get(k) match {
      case Some(n: Number) => n.longValue
      case _ => -1L
    }
    val b = Batch(id, startNs, endNs, long(in, "n_ingested"), long(in, "n_skipped"),
      long(sp, "rows"), long(sp, "min_ts"), long(sp, "max_ts"),
      sp.get("version").map(String.valueOf).getOrElse(""))
    batches.synchronized(batches += b)
    sunkGood.addAndGet(math.max(0L, b.good))
  }

  /** `foreachBatch` wrapper: a throwing batch is a counted failure; its
    * events then show as missing in the exactly-once check. */
  def guarded(body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = (df, id) => {
    rec.attempt()
    try trace.span("graft.streaming", "batch")(body(df, id))
    catch {
      case NonFatal(e) =>
        rec.fail(e)
        broken = true
    }
  }

  def start(body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.text(landing.toString)
      .writeStream
      .option("checkpointLocation", work.resolve("checkpoint").toString)
      .foreachBatch(guarded(body))
      .start()

  private val landedGood = new AtomicLong(0)

  private def waitSunk(target: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime + (timeoutS * 1e9).toLong
    while (sunkGood.get < target && !broken && System.nanoTime < deadline) Thread.sleep(2)
    sunkGood.get >= target
  }

  /** Land every phase on schedule; returns the number of phases landed. */
  def land(phaseTimeoutS: Double): Int = {
    var landed = 0
    val it = m.phases.iterator
    var go = true
    while (go && it.hasNext) {
      val p = it.next()
      go = waitSunk(landedGood.get, phaseTimeoutS) && !broken && beforePhase(p)
      if (go) {
        // Stage the phase's files first, so landing one is a rename and a
        // backlog lands within microseconds, not split across triggers.
        p.files.foreach(f => Files.copy(input.resolve("stream").resolve(f.name), staging.resolve(f.name)))
        val start = System.nanoTime
        phaseStartNs(p.idx) = start
        onPhaseStart(p)
        p.files.iterator.takeWhile(_ => !phaseDone(p)).foreach { f =>
          val due = start + (f.dueS * 1e9).toLong
          var now = System.nanoTime
          while (now < due) {
            val left = due - now
            if (left > 2000000L) Thread.sleep((left - 1000000L) / 1000000L) else Thread.onSpinWait()
            now = System.nanoTime
          }
          Files.move(staging.resolve(f.name), landing.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
          landNs(f.seq) = System.nanoTime
          landedGood.addAndGet(f.good)
        }
        landed += 1
      }
    }
    landed
  }

  /** Land the schedule, wait for the last phase to drain, stop the query. */
  def run(q: StreamingQuery, phaseTimeoutS: Double): Int = {
    val landed = land(phaseTimeoutS)
    waitSunk(landedGood.get, phaseTimeoutS)
    onDrained()
    q.stop()
    landed
  }

  def landedFiles: IndexedSeq[FileSpec] = m.files.filter(f => landNs(f.seq) >= 0)

  /** Half-open ranges of the numeric transaction ids of the landed files.
    * Ids run on across the files in schedule order, and a phase lands a
    * prefix of its files, so this is one range per landed phase. */
  def landedIds: Seq[(Long, Long)] = {
    val firstId = m.files.scanLeft(0L)(_ + _.good).toIndexedSeq
    m.phases.flatMap { p =>
      val landed = p.files.filter(f => landNs(f.seq) >= 0)
      landed.headOption.map(f => (firstId(f.seq), firstId(f.seq) + landed.map(_.good.toLong).sum))
    }
  }

  private lazy val byTs: IndexedSeq[FileSpec] = m.files.sortBy(_.tsUs)

  /** Files a batch held, from its min/max payload stamp. */
  def filesOf(b: Batch): IndexedSeq[FileSpec] =
    if (b.good <= 0) IndexedSeq.empty
    else byTs.filter(f => f.tsUs >= b.minTs && f.tsUs <= b.maxTs)

  def dueNs(f: FileSpec): Long = phaseStartNs(f.phase) + (f.dueS * 1e9).toLong

  /** Per-event latencies (due time to sink-write return) of one phase,
    * each tagged with its batch id. */
  def latencies(p: Phase): IndexedSeq[(Double, Long)] =
    batches.toIndexedSeq.flatMap { b =>
      filesOf(b).filter(_.phase == p.idx).flatMap { f =>
        val l = (b.endNs - dueNs(f)) / 1e6
        Iterator.fill(f.good)((l, b.id))
      }
    }

  /** Seconds from a drain phase's start to the return of the write that
    * holds its last file. */
  def drainSeconds(p: Phase): Double = {
    val last = batches.filter(b => filesOf(b).exists(_.phase == p.idx)).map(_.endNs)
    if (last.isEmpty) Double.NaN else (last.max - phaseStartNs(p.idx)) / 1e9
  }

  /** Largest count of events landed but not yet in the sink. */
  def backlogMax: Long = {
    val ev = landedFiles.map(f => (landNs(f.seq), f.good.toLong)) ++
      batches.map(b => (b.endNs, -b.good))
    ev.sortBy(_._1).scanLeft(0L)(_ + _._2).max
  }

  /** How late the lander ran against its own schedule, in ms. */
  def lateMs: IndexedSeq[Double] = landedFiles.map(f => (landNs(f.seq) - dueNs(f)) / 1e6)

  /** Batches whose observed good-row count disagrees with the files its
    * stamps cover (would mean a file was split or mis-stamped). */
  def compositionErrors: Int =
    batches.count(b => b.good > 0 && filesOf(b).map(_.good.toLong).sum != b.good)

  /** Exactly-once and skip-count checks over the sink. */
  def checkSink(): Unit = {
    val files = landedFiles
    val expected = files.map(_.good.toLong).sum
    val id = substring(col("transaction_id"), 4, 9).cast("long")
    val landedId = landedIds.map { case (lo, hi) => id >= lo && id < hi }.reduceOption(_ || _).getOrElse(lit(false))
    val rows = PredictionsStore.read(spark, sink)
      .agg(count(lit(1)), countDistinct(col("transaction_id")),
        sum(when(col("transaction_id").rlike("^tx-[0-9]{9}$") && landedId, 0L).otherwise(1L)))
      .head()
    val (n, distinct, outside) = (rows.getLong(0), rows.getLong(1), Option(rows.get(2)).fold(0L)(_.toString.toLong))
    val missing = math.max(0L, expected - (distinct - outside))
    val dups = n - distinct
    rec.check("exactly_once", expected, missing + dups + outside,
      s"expected=$expected rows=$n distinct=$distinct missing=$missing dup=$dups foreign=$outside")
    val injected = files.map(_.bad.toLong).sum
    val skipped = batches.map(_.skipped).sum
    rec.check("skipped_equals_injected", 1, if (skipped == injected) 0 else 1,
      s"skipped=$skipped injected=$injected")
    val comp = compositionErrors
    rec.check("batch_composition", batches.size.toLong, comp.toLong, s"batches=${batches.size} mismatched=$comp")
  }
}

object StreamRun {
  final case class Batch(id: Long, startNs: Long, endNs: Long, ingested: Long, skipped: Long,
                         good: Long, minTs: Long, maxTs: Long, version: String)

  /** min/max payload stamp and row count of the rows reaching the sink. */
  def spanObserved(df: DataFrame, tsCol: String, obs: Observation,
                   extra: org.apache.spark.sql.Column*): DataFrame = {
    val cols = Seq(count(lit(1)).as("rows"), min(unix_micros(col(tsCol))).as("min_ts"),
      max(unix_micros(col(tsCol))).as("max_ts")) ++ extra
    df.observe(obs, cols.head, cols.tail: _*)
  }

  /** The reference consumer's scoring model in plain Scala, written out
    * from the producer's fields, for checking sampled sink rows. The
    * payload's merchant_risk reaches the model as k = 100 x risk, read
    * back as k / 100; night is the UTC hour of event_time in {0-3, 23}. */
  def closedFormProba(amount: Double, risk: Double, tsUs: Long): (Double, Int) = {
    val hour = Math.floorMod(Math.floorDiv(tsUs, 3600000000L), 24L)
    val night = if (Set(0L, 1L, 2L, 3L, 23L).contains(hour)) 1.0 else 0.0
    val logit = ((0.002 * amount + 1.5 * ((risk * 100.0) / 100.0)) + 0.05 * night) + -2.5
    (1.0 / (1.0 + StrictMath.exp(-logit)), if (logit >= 0.0) 1 else 0)
  }

  /** Feature columns the trained model reads, projected from a payload. */
  def modelFeatures(parsed: DataFrame): DataFrame =
    parsed.select(col("transaction_id"), col("event_time").as("ts"), col("amount"),
      Scoring.featureAt(col("features"), "num_items").as("num_items"),
      Scoring.featureAt(col("features"), "merchant_risk").as("merchant_risk"),
      Scoring.featureAt(col("features"), "hour").as("hour"))

  def trainAndRegister(spark: SparkSession, registry: ModelRegistry, trainPath: String,
                       seed: Long, trace: Trace, trainMs: ArrayBuffer[Double],
                       registerMs: ArrayBuffer[Double], rec: Recorder): Option[Int] =
    rec.timed(trainMs)(trace.span("graft.ml", "train")(
      FraudModel.train(spark.read.parquet(trainPath), seed))).flatMap { t =>
      rec.timed(registerMs)(trace.span("graft.ml", "register")(registry.register(t.model, ModelName)))
    }

  val ModelName = "fraud"
}
