package graft.streaming

/** The engine's one fixed pool for overlapping INDEPENDENT
  * per-micro-batch actions (guide §2.6: actions are only sequential
  * because the driver calls them sequentially): the curation
  * stream's decision writes and index appends, the trimodal batch's
  * four face placements, the emit stream's window cuts, and the
  * one-shot warm phases. Each submitted action is latency-bound at
  * micro-batch sizes (a handful of small jobs plus store fs ops), so
  * overlapping them compresses the per-batch wall without changing
  * any action's lineage or output. Six threads: the widest
  * concurrent action set (2 decision faces + 4 index appends).
  *
  * No action submitted here starts a stream whose batches fan out
  * here again: that batch would run on a stream thread, not a pool
  * thread, and its actions would queue behind the blocked caller. */
private[graft] object StreamPools {
  private val onPool = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  lazy val pool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(6, (r: Runnable) => {
        val t = new Thread(() => { onPool.set(true); r.run() }, "graft-batch-act")
        t.setDaemon(true); t
      }))

  /** Run the given independent actions concurrently on [[pool]] and
    * block until ALL have settled; the first failure then rethrows
    * (the batch must fail loudly, exactly as the sequential
    * composition did). Settling EVERY future before rethrowing keeps
    * the sequential contract that no action outlives its batch — a
    * failed batch must not leave a store append racing a replay.
    *
    * Called from a pool thread (an action that itself fans out), the
    * actions run inline in order under the same settle-then-rethrow
    * contract: submitting them would wait on threads that may all be
    * blocked in this same call. */
  def runAll(acts: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val settled =
      if (onPool.get) acts.map(a => scala.util.Try(a()))
      else acts.map(a => Future(a())(pool)).map(f => Await.ready(f, Duration.Inf).value.get)
    settled.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
  }
}
