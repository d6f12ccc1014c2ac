package graft

/** Per-PHASE wall attribution inside one-shot warm world builds.
  *
  * Bench's `timedWarm` entries are one-shot by nature (the session
  * memo makes a second build unobservable), so they can't get the
  * min-of-N discipline query entries have — and byte-identical
  * drains have been observed swinging ~3× between QUIET runs (r19:
  * the drift drain read 15.9 / 18.1 / 49.1 s across three runs with
  * gc and load flat). `resolve` (r18) proves memoization; this
  * device makes the BUILD attributable: warm builders wrap their
  * internal stages in [[phase]], `timedWarm` drains the record after
  * the build, and the bench artifact carries the per-phase walls —
  * so a swing localizes to "the stream drain" vs "the derived
  * artifacts" vs "the store registration" from the artifact alone,
  * without a human re-run.
  *
  * Thread-safe: warm builders run independent phases concurrently
  * through `StreamPools.runAll`, so the record is appended under its
  * lock, and overlapping phases each record their own wall (their sum
  * can exceed the entry's). Phases do not nest (a nested call simply
  * records its own wall alongside the outer one — attribution stays
  * readable because builders keep phases flat). Recording is
  * best-effort accounting, never behavior: a builder running outside
  * Bench (Verify, specs) pays one buffer append per phase and the
  * record is discarded unread. */
object WarmPhases {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  /** Time `f` and record it under `name` (seconds, accumulated —
    * calling the same phase name twice sums, so per-face loops can
    * reuse one label). */
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      val sec = (System.nanoTime() - t0) / 1e9
      buf.synchronized {
        val i = buf.indexWhere(_._1 == name)
        if (i >= 0) buf(i) = (name, buf(i)._2 + sec) else buf += name -> sec
        ()
      }
    }
  }

  /** Drain and clear the record — called by `timedWarm` around each
    * warm build so phases attribute to exactly one entry. */
  def drain(): Seq[(String, Double)] =
    buf.synchronized { val r = buf.toList; buf.clear(); r }
}
