package fraudbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import graft.GraftSession
import graft.jobs.Jobs
import graft.ml.{FraudModel, ModelRegistry}
import graft.queries.FraudAnalytics
import graft.sources.PredictionsStore
import graft.streaming.{JdbcMetricsSink, KafkaScoring}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. Modes:
  *
  *  - `run`: set up, run one workload against generated inputs, check its
  *    outputs, and write the result file;
  *  - `selftest`: force failures and check they are counted, not timed.
  *
  * Arguments are `--key value` pairs; `run.py` supplies them. */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def path(k: String): Path = Paths.get(apply(k))
  }

  /** Lines for the human-readable report, with the metric's unit. */
  final class Report {
    val lines = ArrayBuffer.empty[String]
    val e2e = LinkedHashMap.empty[String, Double]
    val layers = LinkedHashMap.empty[String, Double]
    def note(s: String): Unit = lines += s
    private val stages = ArrayBuffer.empty[String]
    /** JVM uptime at a named point of the run, for the timeline line. */
    def stage(name: String): Unit =
      stages += f"$name@${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs"
    def timeline: String = stages.mkString("timeline: ", " ", "")
    def metric(name: String, v: Double, unit: String, extra: String = ""): Unit =
      lines += f"$name%-30s ${fmt(v)}%14s $unit%-6s $extra".trim
    def fmt(v: Double): String = if (v.isNaN) "n/a" else f"$v%.4f"
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val code =
      try a("mode") match {
        case "run" => run(a)
        case "selftest" => selftest(a)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  /** The engine's session as a user of it starts one; returns the session
    * and the seconds the create call took. */
  def session(cores: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime
    val spark = GraftSession.create(s"local[$cores]")
    val createS = (System.nanoTime - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    (spark, createS)
  }

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def run(a: Args): Int = {
    val trace = new Trace(a("trace") == "1")
    val cores = a.int("cores")
    val (spark, createS) = session(cores)
    val ready = nowUs
    trace.install(spark)
    val rec = new Recorder
    val rep = new Report
    val work = Files.createDirectories(a.path("work"))
    val h0 = Host.snapshot()
    rep.stage("ready")
    a("workload") match {
      case "ingest_peak" | "ingest_drain1" => ingestPeak(spark, a, work, rec, trace, rep)
      case "model_trickle" => modelTrickle(spark, a, work, rec, trace, rep)
      case "analytics_ticks" => analyticsTicks(spark, a, work, rec, trace, rep)
    }
    rep.stage("checked")
    val host = Host.delta(h0, Host.snapshot(), cores)
    rep.e2e("rss_peak_mb") = Host.rssPeakMb
    if (trace.enabled) {
      Thread.sleep(1000) // let the listener bus deliver the last events
      queryLayers(trace, rep)
      rep.layers ++= host.view.filterKeys(Set("jvm.gc_ms", "jvm.cpu_util", "host.load", "host.steal_pct"))
      rep.note("layer self time (ms, from spans):")
      trace.selfMs.toSeq.sortBy(_._1).foreach { case (l, ms) => rep.metric(s"  self.$l", ms, "ms") }
      Files.writeString(work.resolve("spans.json"), trace.spansJson)
    }
    rep.note(f"host: cpus=${Host.cpus} local[$cores] xmx=${Host.xmxMb}%.0fMB " +
      f"load_start=${host("host.load_start")}%.2f load_end=${host("host.load")}%.2f " +
      f"steal=${host("host.steal_pct")}%.3f%% gc=${host("jvm.gc_ms")}%.0fms/${host("jvm.gc_count")}%.0f " +
      f"cpu_util=${host("jvm.cpu_util")}%.3f")
    rep.stage("done")
    rep.note(rep.timeline)
    val checks = rec.checks
    checks.foreach { case (n, ok, d) => rep.note(s"check ${if (ok) "ok  " else "FAIL"} $n: $d") }
    rec.errors.foreach(e => rep.note(s"error: $e"))
    Files.writeString(a.path("out"), Json(Map(
      "ready_us" -> ready, "create_s" -> createS,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "checks_ok" -> checks.forall(_._2),
      "e2e" -> rep.e2e.toMap, "layers" -> rep.layers.toMap,
      "lines" -> rep.lines.toList)))
    Runtime.getRuntime.halt(0) // results are on disk; skip Spark's shutdown hooks
    0
  }

  /** CPU time per operation: `app` is that of the JVM's threads other
    * than the JIT compiler's (the gated figure; a long-running deployment
    * stops compiling, a run of a minute does not), and the whole JVM's
    * over the measured window [a, b] is printed beside it. */
  private def cpuPerOp(rep: Report, a: Host.Snapshot, b: Host.Snapshot, ops: Double, op: String,
                       app: Double, how: String): Unit = {
    val ok = a != null && b != null && ops > 0
    val all = if (ok) (b.cpuNs - a.cpuNs) / 1e6 / ops else Double.NaN
    val steal = if (ok) Host.delta(a, b, 1)("host.steal_pct") else Double.NaN
    rep.metric("cpu_ms_per_op", app, "ms", s"(CPU of the JVM's threads but the JIT compiler's, per $op: $how)")
    rep.metric("jvm.cpu_ms_per_op", all, "ms", f"(CPU of the whole JVM per $op over the window; $ops%.0f ops; steal $steal%.1f%%)")
    rep.e2e("cpu_ms_per_op") = app
    rep.layers("jvm.cpu_ms_per_op") = all
  }

  // ------------------------------------------------------------ streaming

  private def latencyMetrics(rep: Report, prefix: String, lat: IndexedSeq[(Double, Long)]): (Double, Double) = {
    val p50 = Stats.percentile(lat.map(_._1), 50)
    val (tail, pct, beyond) = Stats.tail(lat)
    val batches = lat.map(_._2).distinct.size
    rep.metric(s"${prefix}lat_p50_ms", p50, "ms", s"(events=${lat.size} batches=$batches)")
    rep.metric(s"${prefix}lat_tail_ms", tail, "ms", f"(p$pct%.1f, $beyond batches beyond, events=${lat.size})")
    (p50, tail)
  }

  private val LatencyLimitMs = 2000.0

  /** A rate phase is sustained when its tail latency and the latency of
    * its last file both stay within the limit, so no backlog was left. */
  private def sustained(sr: StreamRun, p: Schedule.Phase): Boolean = {
    val lat = sr.latencies(p)
    val last = p.files.last
    val lastLat = sr.batches.filter(b => sr.filesOf(b).contains(last)).map(b => (b.endNs - sr.dueNs(last)) / 1e6)
    lat.nonEmpty && lastLat.nonEmpty && Stats.tail(lat)._1 <= LatencyLimitMs && lastLat.max <= LatencyLimitMs
  }

  private def streamLayers(sr: StreamRun, trace: Trace, rep: Report): Unit = {
    val bs = sr.batches.toIndexedSeq
    rep.metric("streaming.ingested", bs.map(_.ingested).sum.toDouble, "count")
    rep.metric("streaming.skipped", bs.map(_.skipped).sum.toDouble, "count",
      s"(injected ${sr.landedFiles.map(_.bad).sum})")
    rep.metric("streaming.rows_per_batch", Stats.median(bs.map(_.ingested.toDouble)), "rows", "(median)")
    rep.metric("streaming.backlog_max_events", sr.backlogMax.toDouble, "count")
    val late = sr.lateMs
    rep.metric("gen.late_ms", Stats.percentile(late, 99), "ms", f"(p99; max ${late.maxOption.getOrElse(0.0)}%.3f)")
    if (trace.enabled) {
      val prog = trace.progress.toArray(Array.empty[Map[String, Long]]).toIndexedSeq
        .filter(_.getOrElse("numInputRows", 0L) > 0)
      def med(keys: String*): Double = Stats.median(prog.map(p => keys.map(k => p.getOrElse(k, 0L)).sum.toDouble))
      rep.metric("streaming.source_ms", med("latestOffset", "getBatch"), "ms", "(median per batch)")
      rep.metric("streaming.plan_ms", med("queryPlanning"), "ms", "(median per batch)")
      rep.metric("streaming.exec_ms", med("addBatch"), "ms", "(median per batch)")
      rep.metric("streaming.commit_ms", med("walCommit", "commitOffsets"), "ms", "(median per batch)")
      sinkLayers(trace, rep)
    }
  }

  /** Write-task counts, skew and bytes of the sink writes, from the
    * tasks of jobs labelled by the sink-write span. */
  private def sinkLayers(trace: Trace, rep: Report): Unit = {
    val jobs = trace.jobs.filter(_._2._1 == "graft.sources|sink_write").keySet
    val ts = trace.tasks.toArray(Array.empty[Trace.TaskRec]).toIndexedSeq.filter(t => jobs.contains(t.job))
    val writeTasks = ts.filter(_.recordsWritten > 0)
    val perWrite = writeTasks.groupBy(_.stage).values.toIndexedSeq
    val skew = perWrite.map { w =>
      val r = w.map(_.recordsWritten.toDouble)
      r.max / (r.sum / r.size)
    }
    rep.metric("sources.sink_tasks", Stats.median(perWrite.map(_.size.toDouble)), "count", "(median write tasks per batch)")
    rep.metric("sources.sink_skew", Stats.median(skew), "ratio", "(median max/mean rows per write task)")
    val rows = writeTasks.map(_.recordsWritten).sum
    rep.metric("sources.bytes_per_event", if (rows > 0) writeTasks.map(_.bytesWritten).sum.toDouble / rows else Double.NaN, "B")
  }

  /** Per-SQL-execution numbers from the listeners, overall and per span
    * label; planning per label comes from the executed queries' trackers. */
  private def queryLayers(trace: Trace, rep: Report): Unit = {
    val execs = trace.executions.toArray(Array.empty[Trace.Exec]).toIndexedSeq
    val jobs = trace.jobs
    val tasks = trace.tasks.toArray(Array.empty[Trace.TaskRec]).toIndexedSeq
    rep.layers("queries.plan_ms") = Stats.median(execs.map(_.planMs))
    rep.layers("queries.exec_ms") = Stats.median(execs.map(_.execMs))
    rep.layers("queries.executions") = execs.size.toDouble
    rep.layers("queries.jobs") = jobs.size.toDouble
    rep.layers("queries.tasks") = tasks.size.toDouble
    rep.layers("queries.shuffle_bytes") = tasks.map(_.shuffleBytes).sum.toDouble
    rep.layers("queries.input_rows") = tasks.map(_.recordsRead).sum.toDouble
    val planned = trace.queries.toArray(Array.empty[(String, Double, Long)]).toIndexedSeq.groupBy(_._1)
    val calls = trace.allSpans.groupBy(s => s"${s.layer}|${s.label}")
    rep.note("per span label: calls call_ms(med) sql_execs jobs tasks shuffle_bytes input_rows plan_ms(med) " +
      "rows_scanned_per_row")
    jobs.groupBy(_._2._1).toSeq.sortBy(_._1).foreach { case (label, js) =>
      val ts = tasks.filter(t => js.contains(t.job))
      val q = planned.getOrElse(label.split('|').last, IndexedSeq.empty)
      val cs = calls.getOrElse(label, Nil)
      val in = ts.map(_.recordsRead).sum
      val out = q.map(_._3).sum
      rep.note(f"  $label%-40s ${cs.size}%4d ${rep.fmt(Stats.median(cs.map(_.ms)))}%12s " +
        f"${js.values.map(_._2).filter(_ >= 0).toSet.size}%5d ${js.size}%5d ${ts.size}%6d " +
        f"${ts.map(_.shuffleBytes).sum}%12d $in%10d ${rep.fmt(Stats.median(q.map(_._2)))}%10s " +
        f"${rep.fmt(if (out > 0) in.toDouble / out else Double.NaN)}%12s")
    }
  }

  def ingestPeak(spark: SparkSession, a: Args, work: Path, rec: Recorder, trace: Trace, rep: Report): Unit = {
    val input = a.path("input")
    val m = Schedule.load(input)
    val sr = new StreamRun(spark, m, input, work, rec, trace)
    val sinkMs = ArrayBuffer.empty[Double]
    val q = sr.start { (batch, id) =>
      val t0 = System.nanoTime
      val ingest = new Observation()
      val span = new Observation()
      val parsed = StreamRun.spanObserved(KafkaScoring.parsedWithIngestMetrics(batch, ingest), "event_time", span)
      val w0 = System.nanoTime
      trace.span("graft.sources", "sink_write")(
        PredictionsStore.write(KafkaScoring.scoredParsed(parsed), sr.sink, "append"))
      sinkMs.synchronized(sinkMs += (System.nanoTime - w0) / 1e6)
      sr.recordBatch(id, t0, ingest, span)
    }
    // The ladder climbs while each rung is sustained; the rung after the
    // first unsustained one is not offered.
    sr.beforePhase = p =>
      !p.name.startsWith("ladder_") || sustained(sr, m.phases(p.idx - 1))
    @volatile var cpu0, cpu1: Host.Snapshot = null
    sr.onPhaseStart = p => { rep.stage(p.name); if (p.name == "drain_0") cpu0 = Host.snapshot() }
    sr.onDrained = () => cpu1 = Host.snapshot()
    val landed = sr.run(q, phaseTimeoutS = 40)
    rep.stage("drained")
    // Row-bound: an operation here is a thousand events of the measured phases.
    val measured = sr.batches.filter(b => sr.filesOf(b).exists(_.phase >= m.phase("drain_0").idx))
    val kEvents = measured.map(_.good).sum / 1000.0
    val appCpu = if (cpu0 == null || cpu1 == null || kEvents <= 0) Double.NaN
      else Host.cpuMsBetween(cpu0.appCpu, cpu1.appCpu) / kEvents
    cpuPerOp(rep, cpu0, cpu1, kEvents, "1000 events", appCpu, s"over ${measured.size} batches of the measured phases")
    val drains = m.phases.filter(p => p.name.startsWith("drain_") && p.idx < landed)
    val eps = drains.map(p => p.payloads / sr.drainSeconds(p))
    val drainEps = Stats.median(eps)
    rep.metric("drain_eps", drainEps, "1/s", s"(median of ${drains.size} backlogs of ${drains.head.payloads} " +
      s"payloads in ${drains.head.files.size} files: ${eps.map(e => f"$e%.0f").mkString(", ")})")
    rep.e2e("throughput_per_s") = drainEps
    if (a("workload") == "ingest_peak") {
      val rates = m.phases.filter(p => p.kind == "rate" && !p.name.startsWith("warm") && p.idx < landed)
      rates.foreach { p =>
        val lat = sr.latencies(p)
        val (t, pct, _) = Stats.tail(lat)
        rep.note(f"  rate ${p.rate}%6d ev/s: p50=${Stats.percentile(lat.map(_._1), 50)}%.1f ms " +
          f"tail(p$pct%.0f)=$t%.1f ms sustained=${sustained(sr, p)}")
      }
      val ok = rates.takeWhile(p => sustained(sr, p))
      rep.metric("sustained_eps", ok.lastOption.fold(0.0)(_.rate.toDouble), "1/s",
        s"(ladder ${rates.map(_.rate).mkString(",")}; limit ${LatencyLimitMs.toInt} ms on the tail and the last file)")
      val ref = m.phase("ref")
      val (p50, tail) = latencyMetrics(rep, "", sr.latencies(ref))
      rep.note(s"  (latency at the fixed reference rate ${ref.rate} ev/s)")
      rep.e2e("lat_p50_ms") = p50
      rep.e2e("lat_tail_ms") = tail
    }
    rep.metric("sources.sink_write_ms", Stats.median(sinkMs), "ms", "(median per batch)")
    streamLayers(sr, trace, rep)
    sr.checkSink()
    checkSamples(spark, sr, m, rec)
  }

  /** Sampled sink rows against the closed form evaluated in plain Scala. */
  private def checkSamples(spark: SparkSession, sr: StreamRun, m: Schedule.Manifest, rec: Recorder): Unit = {
    val ids = sr.landedIds
    val samples = m.samples.filter { s => val n = s.id.drop(3).toLong; ids.exists { case (lo, hi) => n >= lo && n < hi } }
    val got = PredictionsStore.read(spark, sr.sink)
      .filter(col("transaction_id").isin(samples.map(_.id): _*))
      .select("transaction_id", "proba", "prediction").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2))).toMap
    val bad = samples.count { s =>
      val (p, c) = StreamRun.closedFormProba(s.amount, s.risk, s.tsUs)
      !got.get(s.id).exists { case (gp, gc) => math.abs(gp - p) <= 1e-12 && gc == c }
    }
    rec.check("proba_samples", samples.size.toLong, bad.toLong, s"samples=${samples.size} mismatched=$bad")
  }

  private val SettleBatches = 8

  def modelTrickle(spark: SparkSession, a: Args, work: Path, rec: Recorder, trace: Trace, rep: Report): Unit = {
    import StreamRun.ModelName
    val input = a.path("input")
    val m = Schedule.load(input)
    val registry = new ModelRegistry(work.resolve("registry").toString)
    val trainMs, registerMs, resolveMs, sinkMs, promoteMs = ArrayBuffer.empty[Double]
    @volatile var promotedNs = -1L
    @volatile var newVersion = -1
    val sr = new StreamRun(spark, m, input, work, rec, trace)
    val q = sr.start { (batch, id) =>
      val t0 = System.nanoTime
      val ingest = new Observation()
      val span = new Observation()
      val feats = StreamRun.modelFeatures(KafkaScoring.parsedWithIngestMetrics(batch, ingest))
      val r0 = System.nanoTime
      val scored = trace.span("graft.ml", "resolve")(FraudModel.scoreBatch(spark, registry, ModelName, feats))
      // Only calls that resolve a promoted model load one.
      if (promotedNs > 0 && r0 > promotedNs) resolveMs.synchronized(resolveMs += (System.nanoTime - r0) / 1e6)
      val out = StreamRun.spanObserved(scored, "ts", span, max(col("model_version")).as("version"))
      val w0 = System.nanoTime
      trace.span("graft.sources", "sink_write")(PredictionsStore.write(out, sr.sink, "append"))
      sinkMs.synchronized(sinkMs += (System.nanoTime - w0) / 1e6)
      sr.recordBatch(id, t0, ingest, span)
    }
    // The registry starts empty, so the first batches are scored by the
    // heuristic fallback until the trained model is promoted.
    val swap = new Thread(() => {
      Thread.sleep(1000) // let the first heuristic batches land
      StreamRun.trainAndRegister(spark, registry, input.resolve("train.parquet").toString, a("seed").toLong,
        trace, trainMs, registerMs, rec).foreach { v =>
        rec.timed(promoteMs)(registry.promote(ModelName, v)).foreach { _ =>
          promotedNs = System.nanoTime
          newVersion = v
        }
      }
    })
    // The swap phase trains, registers and promotes v1 beside the stream.
    // The settle phase starts once v1 is promoted and runs v1's batches
    // unmeasured while the JIT compiles the per-batch load path (on a
    // quiet 4-vCPU host, batch time fell from about 1.2 s to 0.85 s over
    // the first twelve batches, then by a few percent over the next
    // forty). It ends after a count of batches rather than of seconds, so
    // a slow host does not start measuring a less compiled JVM.
    sr.phaseDone = p => p.name == "settle" && sr.batches.synchronized(sr.batches.count(_.startNs > promotedNs)) >= SettleBatches
    @volatile var cpu0, cpu1: Host.Snapshot = null
    sr.onPhaseStart = p => {
      rep.stage(p.name)
      if (p.name == "swap") swap.start()
      if (p.name == "trickle") cpu0 = Host.snapshot()
    }
    sr.onDrained = () => cpu1 = Host.snapshot()
    sr.beforePhase = p => { if (p.name == "settle") swap.join(); true }
    sr.run(q, phaseTimeoutS = 40)
    swap.join()
    rep.stage("drained")
    latencyMetrics(rep, "swap_", sr.latencies(m.phase("swap")))
    val trickle = m.phase("trickle")
    val (p50, tail) = latencyMetrics(rep, "", sr.latencies(trickle))
    rep.e2e("lat_p50_ms") = p50
    rep.e2e("lat_tail_ms") = tail
    val bs = sr.batches.toIndexedSeq.sortBy(_.id)
    val inPhase = bs.filter(b => sr.filesOf(b).exists(_.phase == trickle.idx))
    val eps = if (inPhase.isEmpty) Double.NaN
      else trickle.good / ((inPhase.map(_.endNs).max - sr.phaseStartNs(trickle.idx)) / 1e9)
    rep.metric("trickle_eps", eps, "1/s", s"(delivered; offered ${trickle.rate} ev/s)")
    // A batch takes longer than the send period, so batches run back to
    // back and their completion rate is 1 / (batch time + trigger overhead).
    // It is capped by the send period only once a batch takes under 0.1 s.
    rep.note("  trickle batch_ms: " + inPhase.map(b => f"${(b.endNs - b.startNs) / 1e6}%.0f/${b.good}").mkString(" "))
    val ends = inPhase.map(_.endNs).sorted
    val batchesPerS = if (ends.size < 2) Double.NaN else (ends.size - 1) / ((ends.last - ends.head) / 1e9)
    rep.metric("batches_per_s", batchesPerS, "1/s", s"(${inPhase.size} batches, completions per second)")
    rep.e2e("throughput_per_s") = batchesPerS
    val appCpu = if (cpu0 == null || cpu1 == null || inPhase.isEmpty) Double.NaN
      else Host.cpuMsBetween(cpu0.appCpu, cpu1.appCpu) / inPhase.size
    cpuPerOp(rep, cpu0, cpu1, inPhase.size, "micro-batch", appCpu, s"over the phase's ${inPhase.size} batches")
    // Events per second of batch time: pinned near the offered rate while
    // batches run back to back, so printed only.
    val capacity = inPhase.map(_.good).sum / inPhase.map(b => (b.endNs - b.startNs) / 1e9).sum
    rep.metric("batch_capacity_eps", capacity, "1/s", s"(${inPhase.size} batches)")
    val newTag = s"v$newVersion"
    val firstNew = bs.find(_.version == newTag)
    val swapS = firstNew.filter(_ => promotedNs > 0).fold(Double.NaN)(b => (b.endNs - promotedNs) / 1e9)
    rep.metric("model_swap_s", swapS, "s", s"(promote of $newTag to its first landed batch)")
    rep.metric("ml.resolve_ms", Stats.median(resolveMs), "ms", "(median scoreBatch call after promote)")
    rep.metric("ml.train_s", Stats.median(trainMs) / 1e3, "s")
    rep.metric("ml.register_s", Stats.median(registerMs) / 1e3, "s")
    rep.metric("sources.sink_write_ms", Stats.median(sinkMs), "ms", "(median per batch)")
    streamLayers(sr, trace, rep)
    // The version stamp flips within one batch of promote and never reverts.
    val stamped = bs.filter(_.good > 0)
    val afterFirstNew = stamped.dropWhile(_.version != newTag)
    val reverted = afterFirstNew.count(_.version != newTag)
    val stale = stamped.count(b => promotedNs > 0 && b.startNs > promotedNs && b.version != newTag)
    rec.check("version_flip", stamped.size.toLong,
      reverted + stale + (if (firstNew.isEmpty) 1 else 0),
      s"batches=${stamped.size} new=$newTag first_new_batch=${firstNew.map(_.id)} stale_after_promote=$stale reverted=$reverted")
    sr.checkSink()
  }

  // ------------------------------------------------------------ analytics

  def analyticsTicks(spark: SparkSession, a: Args, work: Path, rec: Recorder, trace: Trace, rep: Report): Unit = {
    val dir = a("input")
    val url = s"jdbc:derby:${work.resolve("derby").resolve("metrics")};create=true"
    val panels = Seq(FraudAnalytics.timeseries, FraudAnalytics.hourlyStats, FraudAnalytics.recentTopK)
    val panelLat = ArrayBuffer.empty[(Double, Long)]
    val dqMs, rollupMs, warmMs = ArrayBuffer.empty[Double]
    var dqRows = Seq.empty[Row]
    var rollup = Seq.empty[Row]
    var ops = 0L
    /** One collected query as a timed, traced operation. */
    def op(layer: String, label: String, samples: ArrayBuffer[Double])(q: => DataFrame): Option[Array[Row]] =
      rec.timed(samples)(trace.span(layer, label) {
        val df = q
        val rows = df.collect()
        trace.noteQuery(label, df, rows.length)
        rows
      })
    /** The client's fixed mix, in order; each step takes whether it is measured. */
    val mix: Seq[Boolean => Unit] = panels.map { p => (measure: Boolean) =>
      val buf = ArrayBuffer.empty[Double]
      op("graft.queries", p.name, buf)(p.fn(spark, dir))
      if (measure) buf.foreach { ms => ops += 1; panelLat += ((ms, panelLat.size.toLong)) }
    } ++ Seq(
      (measure: Boolean) =>
        op("graft.jobs", "dq_tick", if (measure) dqMs else warmMs)(Jobs.dataQualityTick(spark, dir)).foreach { r =>
          dqRows ++= r.toSeq
          if (measure) ops += 1
        },
      (measure: Boolean) =>
        op("graft.jobs", "rollup_tick", if (measure) rollupMs else warmMs)(Jobs.dailyMetricsTick(spark, dir, url)).foreach { r =>
          rollup = r.toSeq
          if (measure) ops += 1
        })
    // Two unmeasured cycles: the first pays for class loading and the
    // Derby boot, and the second still runs a third slower than the
    // cycles after it while the JIT compiles the planning path.
    (1 to 2).foreach(_ => mix.foreach(_(false)))
    rep.stage("warm")
    // Closed loop over the mix until the measuring time is up; the last
    // step may run past it by one call, not by a whole cycle.
    val cpu0 = Host.snapshot()
    val t0 = System.nanoTime
    val until = t0 + a.int("seconds") * 1000000000L
    // Each call's CPU is taken around it: the window holds a varying mix
    // of calls whose costs differ by 5x, so CPU per call is the mean over
    // the mix's steps of each step's median. At least one whole cycle runs.
    val stepCpu = Array.fill(mix.size)(ArrayBuffer.empty[Double])
    var steps = 0
    while (System.nanoTime < until || steps < mix.size) {
      val i = steps % mix.size
      val (c0, failed0) = (Host.appThreadCpuNs(), rec.failed)
      mix(i)(true)
      if (rec.failed == failed0) stepCpu(i) += Host.cpuMsBetween(c0, Host.appThreadCpuNs())
      steps += 1
    }
    val elapsed = (System.nanoTime - t0) / 1e9
    val cpu1 = Host.snapshot()
    rep.stage("measured")
    rep.note("  panel_ms in order: " + panelLat.map(l => f"${l._1}%.0f").mkString(" "))
    val (p50, tail) = latencyMetrics(rep, "dashboard_", panelLat.toIndexedSeq)
    rep.e2e("lat_p50_ms") = p50
    rep.e2e("lat_tail_ms") = tail
    rep.metric("dq_tick_ms", Stats.median(dqMs), "ms", s"(median of ${dqMs.size})")
    rep.metric("rollup_tick_ms", Stats.median(rollupMs), "ms", s"(median of ${rollupMs.size})")
    rep.metric("ops_per_s", ops / elapsed, "1/s", s"($steps calls cycling 3 panels, DQ, rollup; one client)")
    rep.e2e("throughput_per_s") = ops / elapsed
    val appCpu = if (stepCpu.exists(_.isEmpty)) Double.NaN else stepCpu.map(Stats.median(_)).sum / mix.size
    cpuPerOp(rep, cpu0, cpu1, steps, "call", appCpu,
      "mean over the 5 steps of their medians, " + stepCpu.map(c => f"${Stats.median(c)}%.0f(${c.size})").mkString(" "))
    if (trace.enabled) {
      // The MERGE into the SQL store, timed directly on the rollup rows.
      val frame = spark.createDataFrame(java.util.Arrays.asList(rollup: _*),
        FraudAnalytics.dailyMetrics.fn(spark, dir).schema)
      val mergeMs = ArrayBuffer.empty[Double]
      (1 to 5).foreach(_ => rec.timed(mergeMs)(trace.span("graft.jobs", "merge")(
        JdbcMetricsSink.upsertDailyMetrics(frame, url))))
      rep.metric("jobs.merge_ms", Stats.median(mergeMs), "ms", "(median of 5 direct upserts)")
    }
    // Output checks.
    val expected = FraudAnalytics.dailyMetrics.fn(spark, dir).collect().toSeq
    def key(r: Row): String = (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")
    val mismatch = (expected.map(key).toSet diff rollup.map(key).toSet).size +
      (rollup.map(key).toSet diff expected.map(key).toSet).size
    rec.check("rollup_equals_daily_metrics", expected.size.toLong, mismatch.toLong,
      s"days=${expected.size} rollup_rows=${rollup.size} mismatched=$mismatch")
    val rows = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(dir, "manifest.json").toFile).get("rows").asLong
    val total = rollup.map(_.getAs[Number]("num_predictions").longValue).sum
    rec.check("num_predictions_sum", 1, if (total == rows) 0 else 1, s"sum=$total rows=$rows")
    val notOk = dqRows.count(r => !r.getAs[Boolean]("ok"))
    rec.check("dq_all_ok", dqRows.size.toLong, notOk.toLong, s"dq_rows=${dqRows.size} not_ok=$notOk")
  }

  // ------------------------------------------------------------ self-test

  /** Forces a failing query (missing input dir) and a poison micro-batch
    * (sink path under a regular file) and checks each is one counted
    * failure with no timing sample. */
  def selftest(a: Args): Int = {
    val (spark, _) = session(a.int("cores"))
    val work = Files.createDirectories(a.path("work"))
    val rec = new Recorder
    val samples = ArrayBuffer.empty[Double]
    rec.timed(samples)(FraudAnalytics.recentTopK.fn(spark, work.resolve("missing").toString).collect())
    val queryOk = rec.attempted == 1 && rec.failed == 1 && samples.isEmpty
    Files.writeString(work.resolve("not-a-dir"), "x")
    val sr = new StreamRun(spark, Schedule.Manifest(IndexedSeq.empty, Nil), work, work, rec, new Trace(false))
    import spark.implicits._
    val wire = Seq("""{"transaction_id":"tx-000000000","event_time":"2025-01-01T00:00:00Z","amount":1.0}""").toDF("value")
    sr.guarded { (batch, id) =>
      val ingest = new Observation()
      val span = new Observation()
      val parsed = StreamRun.spanObserved(KafkaScoring.parsedWithIngestMetrics(batch, ingest), "event_time", span)
      PredictionsStore.write(KafkaScoring.scoredParsed(parsed),
        work.resolve("not-a-dir").resolve("predictions").toString, "append")
      sr.recordBatch(id, System.nanoTime, ingest, span)
    }(wire, 0L)
    val batchOk = rec.attempted == 2 && rec.failed == 2 && sr.batches.isEmpty && sr.broken
    Files.writeString(a.path("out"), Json(Map("ready_us" -> 0L, "ok" -> (queryOk && batchOk),
      "lines" -> List(s"failing query counted and untimed: $queryOk",
        s"poison batch counted and untimed: $batchOk"))))
    Runtime.getRuntime.halt(0)
    0
  }
}
