package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed state over the event stream (`mapGroupsWithState`) —
  * the stateful-processing capability class the reference keeps in
  * Postgres (running per-entity aggregates updated record-at-a-time,
  * `main.py:236-254`), moved into the engine's managed state store:
  * checkpointed, partitioned by key, updated once per micro-batch.
  *
  * State per user: event count, total value, max event-time seen, and
  * a drift flag when a single event exceeds 3× the user's prior mean —
  * the kind of per-entity feature a fraud model consumes.
  */
object UserState {

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  final case class UserProfile(
      user_id: Long,
      n_events: Long,
      total_value: Double,
      last_ts: java.sql.Timestamp,
      spike_seen: Boolean)

  def emptyProfile(userId: Long): UserProfile =
    UserProfile(userId, 0L, 0.0, new java.sql.Timestamp(0L), spike_seen = false)

  /** THE per-user fold — the one definition both state APIs
    * ([[updateProfile]] / [[UserStateTws.ProfileProcessor]]) apply;
    * pure, so the parity pinned in StreamingSpec is by construction
    * limited to the state plumbing. */
  def foldProfile(prior: UserProfile, events: Iterator[UserEvent]): UserProfile = {
    var n = prior.n_events
    var total = prior.total_value
    var last = prior.last_ts
    var spike = prior.spike_seen
    events.foreach { e =>
      val mean = if (n > 0) total / n else Double.MaxValue
      if (n > 0 && e.value > 3.0 * mean) spike = true
      n += 1; total += e.value
      if (e.ts.after(last)) last = e.ts
    }
    UserProfile(prior.user_id, n, total, last, spike)
  }

  def updateProfile(
      userId: Long,
      events: Iterator[UserEvent],
      state: GroupState[UserProfile]): UserProfile = {
    val next = foldProfile(state.getOption.getOrElse(emptyProfile(userId)), events)
    state.update(next)
    next
  }

  /** Update-mode memory sinks append one row per (user, touched
    * micro-batch); keep only the final state per user (n_events is
    * monotone across batches). Shared by both state-API twins. */
  private[streaming] def finalProfiles(spark: SparkSession, table: String): Dataset[UserProfile] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    spark.table(table).as[UserProfile]
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)))
      .filter(col("_rn") === 1).drop("_rn")
      .as[UserProfile]
  }

  /** Run the stateful profile stream over a bounded events directory;
    * returns the final per-user profiles. */
  def runProfiles(spark: SparkSession, dir: String): Dataset[UserProfile] = {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-state-ckpt-").toString
    val events = ScoringStream.scoredStream(spark, dir)
      .select($"user_id", $"ts", $"value").as[UserEvent]
    val profiles = events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateProfile)
    Drain.run(profiles.writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName("graft_user_profiles"), ckpt)
    finalProfiles(spark, "graft_user_profiles")
  }
}
