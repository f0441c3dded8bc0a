package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization: split each user's event stream into sessions at
  * >30-minute gaps. Two equivalent implementations:
  *
  *   - batch: lag + running sum of session-break flags (pure window
  *     functions, oracle-checked as `sessionize_batch`);
  *   - streaming: `flatMapGroupsWithState` — the custom-state surface,
  *     asserted equal to the batch form in SessionizeSpec.
  *
  * The session gap is event-time; output rows are (user_id,
  * session_start, n_events, duration_secs) with deterministic types.
  */
object Sessionize {

  val GapSeconds = 1800L

  /** Batch form: window functions only. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val byUser = Window
      .partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
            > GapSeconds,
          1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        count(lit(1)).as("n_events"),
        (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .as("duration_secs"))
      .select("user_id", "session_start", "n_events", "duration_secs")
  }

  case class Ev(user_id: Long, event_id: Long, tsMicros: Long)
  case class SessionOut(
      user_id: Long,
      session_start: String,
      n_events: Long,
      duration_secs: Long)

  /** State function: sessionize all of a user's events seen so far.
    * With an available-now one-file source every user arrives in one
    * trigger, so emitting on each invocation and keeping no state
    * across triggers is exact for the replay case; a continuous
    * deployment would keep the open session in state and use an
    * event-time timeout to close it.
    */
  def sessionizeGroup(
      userId: Long,
      events: Iterator[Ev],
      state: GroupState[Long]): Iterator[SessionOut] = {
    val sorted = events.toSeq.sortBy(e => (e.tsMicros, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val sessions = scala.collection.mutable.ArrayBuffer.empty[Seq[Ev]]
      var current = scala.collection.mutable.ArrayBuffer(sorted.head)
      sorted.tail.foreach { e =>
        if (e.tsMicros / 1000000L - current.last.tsMicros / 1000000L
            > GapSeconds) {
          sessions += current.toSeq
          current = scala.collection.mutable.ArrayBuffer(e)
        } else current += e
      }
      sessions += current.toSeq
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
      sessions.iterator.map { ss =>
        val startSec = ss.head.tsMicros / 1000000L
        val endSec = ss.last.tsMicros / 1000000L
        SessionOut(
          userId,
          fmt.format(java.time.Instant.ofEpochSecond(startSec)),
          ss.size.toLong,
          endSec - startSec)
      }
    }
  }

  /** State kept between triggers for the CONTINUOUS sessionizer: the
    * user's currently-open session.
    */
  case class OpenSession(startMicros: Long, lastMicros: Long, n: Long)

  /** Event row for the watermarked path — keeps the watermarked `ts`
    * column itself (projecting it away would drop the watermark the
    * event-time timeout requires).
    */
  case class EvT(
      user_id: Long,
      event_id: Long,
      tsMicros: Long,
      ts: java.sql.Timestamp)

  private def emit(userId: Long, s: OpenSession): SessionOut = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val startSec = s.startMicros / 1000000L
    val endSec = s.lastMicros / 1000000L
    SessionOut(
      userId,
      fmt.format(java.time.Instant.ofEpochSecond(startSec)),
      s.n,
      endSec - startSec)
  }

  /** Continuous-correct state function (event-time timeout): the open
    * session lives in `GroupState` across triggers; a session is
    * emitted either when a later event arrives past the gap, or when
    * the WATERMARK passes session-end + gap (the timeout path — no
    * later event can extend it, so it is provably closed). State per
    * user is O(1) — one open session — so total state is bounded by
    * the active-user count, not by history; this is the deployable
    * form the available-now `sessionizeGroup` replay approximates.
    */
  def sessionizeGroupStateful(
      userId: Long,
      events: Iterator[EvT],
      state: GroupState[OpenSession]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val closed = state.getOption.map(emit(userId, _))
      state.remove()
      closed.iterator
    } else {
      val sorted = events.toSeq.sortBy(e => (e.tsMicros, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur = state.getOption
      sorted.foreach { e =>
        cur match {
          case Some(s)
              if e.tsMicros / 1000000L - s.lastMicros / 1000000L
                > GapSeconds =>
            out += emit(userId, s)
            cur = Some(OpenSession(e.tsMicros, e.tsMicros, 1L))
          case Some(s) =>
            cur = Some(s.copy(lastMicros = e.tsMicros, n = s.n + 1))
          case None =>
            cur = Some(OpenSession(e.tsMicros, e.tsMicros, 1L))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // Close when the watermark proves no extender can arrive: an
        // event at exactly end+gap seconds still continues the
        // session, so the session is closed once the watermark
        // reaches end+gap+1 seconds. Spark fires event-time timeouts
        // only when watermark STRICTLY exceeds the set timestamp
        // (FlatMapGroupsWithStateExec uses `timeout < watermark`), so
        // set it one ms early — otherwise a watermark landing exactly
        // on the boundary would keep the session open while the
        // closed-session oracle (end+gap+1 <= max) emits it.
        state.setTimeoutTimestamp(
          (s.lastMicros / 1000000L + GapSeconds + 1) * 1000L - 1)
      }
      out.iterator
    }
  }

  /** Continuous sessionizer over the events file stream: watermarked
    * event time + event-time timeout. Emits exactly the CLOSED
    * sessions; sessions still open when the stream's watermark stops
    * advancing remain in state (correct — they could still grow).
    */
  def sessionizeStreamStateful(
      spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    StreamingEvents
      .stream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .select(
        col("user_id"),
        col("event_id"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"),
        col("ts"))
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(sessionizeGroupStateful)
  }

  /** The continuous sessionizer on Spark 4's `transformWithState`:
    * a typed ValueState holds the open session and EVENT-TIME TIMERS
    * (`registerTimer` / `handleExpiredTimer`) are the new API's
    * native spelling of the provably-closed emission — the timer set
    * at end+gap+1 s (−1 ms for the strict-inequality firing rule,
    * same boundary note as [[sessionizeGroupStateful]]) fires once
    * the watermark proves no extender can arrive. Output contract
    * and oracle are IDENTICAL to the flatMapGroupsWithState form:
    * the gate runs both against one closed-session oracle, proving
    * the two state APIs AND their timeout/timer mechanisms
    * indistinguishable.
    */
  class SessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EvT, SessionOut] {
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var open
        : org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[OpenSession](
        "openSession",
        org.apache.spark.sql.Encoders.product[OpenSession],
        TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        events: Iterator[EvT],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionOut] = {
      val sorted = events.toSeq.sortBy(e => (e.tsMicros, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur = if (open.exists()) Some(open.get()) else None
      sorted.foreach { e =>
        cur match {
          case Some(s)
              if e.tsMicros / 1000000L - s.lastMicros / 1000000L
                > GapSeconds =>
            out += emit(userId, s)
            cur = Some(OpenSession(e.tsMicros, e.tsMicros, 1L))
          case Some(s) =>
            cur = Some(s.copy(lastMicros = e.tsMicros, n = s.n + 1))
          case None =>
            cur = Some(OpenSession(e.tsMicros, e.tsMicros, 1L))
        }
      }
      // Re-arm: one live timer per key, tracking the open session's
      // current close boundary.
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      cur.foreach { s =>
        open.update(s)
        getHandle.registerTimer(
          (s.lastMicros / 1000000L + GapSeconds + 1) * 1000L - 1)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        userId: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] = {
      val closed =
        if (open.exists()) Some(emit(userId, open.get())) else None
      open.clear()
      closed.iterator
    }
  }

  def sessionizeStreamTws(
      spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    StreamingEvents
      .stream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .select(
        col("user_id"),
        col("event_id"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"),
        col("ts"))
      .as[EvT]
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Run the transformWithState sessionizer to completion (the runner
    * gives it the RocksDB provider the operator requires).
    */
  def runTwsStreamToCompletion(
      spark: SparkSession, dir: String, sinkPrefix: String): DataFrame =
    StreamingEvents.assertEmitted(
      StreamGates.memory(sessionizeStreamTws(spark, dir), sinkPrefix)._1,
      "sessionize_tws")

  def runStatefulStreamToCompletion(
      spark: SparkSession, dir: String, sinkPrefix: String): DataFrame =
    StreamingEvents.assertEmitted(
      StreamGates.memory(sessionizeStreamStateful(spark, dir), sinkPrefix)._1,
      "sessionize_stateful")

  /** The DEPLOYABLE sink shape: the stateful sessionizer written to
    * parquet files with a checkpoint directory (exactly-once via the
    * file-sink manifest log), then read back. Append mode emits each
    * closed session once, so the files equal the memory-sink output —
    * same oracle. The scratch dir is emptied before each run: a
    * re-run against a stale checkpoint would see no new data and emit
    * nothing.
    */
  def runStatefulStreamToParquet(
      spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.scratch(spark, "sessionize_parquet")
    StreamGates.run(sessionizeStreamStateful(spark, dir))(
      _.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start())
    StreamingEvents.assertEmitted(
      spark.read.parquet(s"$base/out"), "sessionize_sink_parquet")
  }

  /** Streaming form over the events file stream. */
  def sessionizeStream(spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    StreamingEvents
      .stream(spark, dir)
      .select(
        col("user_id"),
        col("event_id"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, SessionOut](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(sessionizeGroup)
  }

  def runStreamToCompletion(spark: SparkSession, dir: String,
                            sinkPrefix: String): DataFrame =
    StreamGates.memory(sessionizeStream(spark, dir), sinkPrefix)._1
}
