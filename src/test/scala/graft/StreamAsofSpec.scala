package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming as-of join's EMISSION HORIZON, forced: the gate
  * fixture's matched clicks all sit far behind the final watermark, so
  * the oracle's window-closed predicate never bites there — this spec
  * stages a synthetic events file where one matched click falls INSIDE
  * min(max click ts, max view ts) − 1 h and proves it is HELD while
  * the old click emits with its correct latest-view match. A wrong
  * horizon rule (wrong min side, wrong delay, emitting unfinished
  * windows) fails here even though the gate fixture can't tell.
  */
class StreamAsofSpec extends SparkTestBase {

  test("held inside the horizon, emitted and matched behind it") {
    import spark.implicits._
    val base = 1700000000L // epoch seconds, hour-aligned (×3600 no)
    def ts(offsetMin: Long) =
      new Timestamp((base / 3600 * 3600 + offsetMin * 60) * 1000L)
    // user 7: old view pair (emits), young pair (held). A trailing
    // view advances the view-side watermark to max.
    val rows = Seq(
      // (event_id, ts, user_id, event_type, value, props)
      (1L, ts(0), 7L, "view", 1.0, "{}"),
      (2L, ts(5), 7L, "view", 1.0, "{}"), // later view = expected match
      (3L, ts(10), 7L, "click", 1.0, "{}"), // old click → emits
      (4L, ts(330), 7L, "view", 1.0, "{}"),
      (5L, ts(340), 7L, "click", 1.0, "{}"), // young click → held
      (6L, ts(360), 7L, "view", 1.0, "{}")) // advances view watermark
    // The loaders expect events.parquet as a single FILE (the fixture
    // layout): write to a staging dir, then move the one part file.
    val dir = SparkTestBase.tempDir("stream_asof_spec").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(
      part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))

    // Horizon check as the oracle computes it: wm = min(max click,
    // max view) − 1 h = ts(340) − 60 min = ts(280). Click 3's hour
    // window ends ts(60) ≤ ts(280) → emits; click 5's window ends
    // ts(360) > ts(280) → held.
    val sink = "stream_asof_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.StreamingEvents
      .clickViewAsofStream(
        graft.streaming.StreamingEvents.stream(spark, dir))
      .writeStream
      .format("memory")
      .queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = graft.streaming.MemorySinks.drain(spark, sink)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // Exactly the old click, matched to its LATEST in-window view
    // (event 2, not event 1).
    assert(got == Set((7L, 3L, 2L)), s"emitted: $got")
  }
}
