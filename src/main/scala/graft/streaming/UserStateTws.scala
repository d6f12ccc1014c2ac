package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** The [[UserState]] per-user profile on `transformWithState` — the
  * arbitrary-state API that supersedes `mapGroupsWithState` (typed
  * named state primitives, timers, TTL, RocksDB-backed changelog
  * checkpointing). Same fold, same output; what changes is the state
  * contract:
  *
  *  - state lives in named handles (`ValueState[UserProfile]`)
  *    instead of one opaque blob per key — evolvable independently;
  *  - the store is RocksDB with changelog checkpointing (required by
  *    the operator) — incremental state snapshots at 100 TB key
  *    cardinality instead of full-file HDFS store uploads;
  *  - TTL (unused here; `TTLConfig.NONE`) and per-key timers are
  *    declared capabilities, not hand-rolled timestamp bookkeeping.
  *
  * Batch parity with the `mapGroupsWithState` twin is pinned in
  * StreamingSpec (identical profiles on the driver corpus).
  */
object UserStateTws {

  import UserState.{UserEvent, UserProfile}

  /** Same per-user fold as [[UserState.updateProfile]], expressed as
    * a StatefulProcessor over a named ValueState. */
  class ProfileProcessor extends StatefulProcessor[Long, UserEvent, UserProfile] {
    @transient private var profile: ValueState[UserProfile] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      profile = getHandle.getValueState[UserProfile](
        "profile", Encoders.product[UserProfile], TTLConfig.NONE)

    override def handleInputRows(userId: Long, events: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[UserProfile] = {
      val prior =
        if (profile.exists()) profile.get() else UserState.emptyProfile(userId)
      val next = UserState.foldProfile(prior, events)
      profile.update(next)
      Iterator.single(next)
    }
  }

  /** [[UserState.runProfiles]] on the transformWithState operator.
    * The operator requires the RocksDB state store provider, which
    * only this run's child session ([[graft.GraftSession.scoped]])
    * uses. The `memory` sink registers its view in that child, so the
    * profiles are read there too. */
  def runProfiles(spark: SparkSession, dir: String): Dataset[UserProfile] =
    graft.GraftSession.scoped(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { s =>
      import s.implicits._
      val ckpt = java.nio.file.Files.createTempDirectory("graft-tws-ckpt-").toString
      val events = ScoringStream.scoredStream(s, dir)
        .select($"user_id", $"ts", $"value").as[UserEvent]
      val profiles = events
        .groupByKey(_.user_id)
        .transformWithState(new ProfileProcessor, TimeMode.None(), OutputMode.Update())
      Drain.run(profiles.writeStream
        .outputMode(OutputMode.Update())
        .format("memory").queryName("graft_user_profiles_tws"), ckpt)
      UserState.finalProfiles(s, "graft_user_profiles_tws")
    }
}
