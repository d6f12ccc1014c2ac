package graft

/** The concurrent per-batch action runner behind the curation
  * stream's decision/append/cut overlap and the one-shot warm build
  * overlaps — its contract is exactly the sequential composition's:
  * every action runs to completion, failures surface loudly, and
  * (crucially for replay safety) NO action outlives the call even
  * when a sibling fails. */
class StreamPoolsSpec extends SparkSpec {

  test("runAll executes every action exactly once and propagates results") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.streaming.StreamPools.runAll((1 to 10).map(_ => () => { hits.incrementAndGet(); () }))
    assert(hits.get == 10)
  }

  test("runAll rethrows the first failure AFTER every action settled") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slow = () => { gate.await(); done.incrementAndGet(); () }
    val boom: () => Unit = () => { gate.countDown(); sys.error("batch action failed") }
    val e = intercept[RuntimeException] {
      graft.streaming.StreamPools.runAll(Seq(slow, boom, slow))
    }
    assert(e.getMessage.contains("batch action failed"))
    // the sequential contract: when the call returns (even by throw),
    // no sibling action is still in flight — a failed micro-batch
    // must not leave a store append racing its own replay
    assert(done.get == 2, s"slow actions must have settled before the rethrow (done=${done.get})")
  }

  test("runAll actions can run Spark jobs concurrently on one session") {
    val sums = new java.util.concurrent.atomic.AtomicLong(0)
    graft.streaming.StreamPools.runAll((1 to 4).map(i => () => {
      val n = spark.range(1000L * i).selectExpr("sum(id)").head().getLong(0)
      sums.addAndGet(n); ()
    }))
    val expect = (1 to 4).map(i => { val m = 1000L * i; m * (m - 1) / 2 }).sum
    assert(sums.get == expect)
  }

  // bounded: a regression that re-enters the pool deadlocks it
  private def within60s(body: => Unit): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    Await.result(Future(body)(ExecutionContext.global), scala.concurrent.duration.Duration(60, "s"))
  }

  test("nested runAll from pool threads runs inline instead of waiting on a full pool") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val inner: () => Unit = () => { hits.incrementAndGet(); () }
    // more outer actions than pool threads, each nesting its own
    // runAll: a re-entrant submit would queue behind its own callers
    val outer = (1 to 8).map(_ => () => graft.streaming.StreamPools.runAll(Seq.fill(3)(inner)))
    within60s(graft.streaming.StreamPools.runAll(outer))
    assert(hits.get == 24)
  }

  test("nested runAll settles every action before rethrowing the first failure") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val ok: () => Unit = () => { done.incrementAndGet(); () }
    val boom: () => Unit = () => sys.error("nested action failed")
    val e = intercept[RuntimeException] {
      within60s(graft.streaming.StreamPools.runAll(Seq(() =>
        graft.streaming.StreamPools.runAll(Seq(ok, boom, ok, boom)))))
    }
    assert(e.getMessage.contains("nested action failed"))
    assert(done.get == 2, s"inline actions after a failure must still run (done=${done.get})")
  }
}
