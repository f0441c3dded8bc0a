package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventReplayGate

/** The eventreplay MicroBatchStream's kill/restart gate, run in-suite:
  * the gate itself asserts admission control (≥2 rate-limited batches
  * in phase 1) and checkpoint resumption (phase 2 ingests exactly the
  * un-delivered remainder); here we additionally pin the END-TO-END
  * exactly-once result against the batch projection of the fixture.
  */
class EventReplaySpec extends SparkTestBase {

  test("kill/restart replay delivers every event exactly once") {
    val got = EventReplayGate.run(spark, sfDir)
    val want = Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        Tables.tsMicros(col("ts")).as("ts_us"),
        col("user_id"),
        col("event_type"),
        graft.operators.Money.cents(col("value")).as("value_cents"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "replayed rows differ from the batch projection")
  }

  test("partitioned kill/restart resumes every partition's own offset") {
    val got = EventReplayGate.runPartitioned(spark, sfDir)
    val want = Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        Tables.tsMicros(col("ts")).as("ts_us"),
        col("user_id"),
        col("event_type"),
        graft.operators.Money.cents(col("value")).as("value_cents"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "partitioned replay rows differ from the batch projection")
  }

  // ------ direct stream-contract tests (no Spark query needed) ------

  import graft.sources.{EventReplayMicroBatchStream, EventReplayOffset}
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private def writeLog(name: String, ids: Range): String = {
    val p = java.nio.file.Paths.get(
      Fs.scratch(spark, s"replay_unit_$name"))
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      ids.map(i => s"$i\t${i * 1000}\t${i % 7}\tclick\t$i")
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    p.toString
  }

  private def positions(o: org.apache.spark.sql.connector.read.streaming.Offset) =
    o.asInstanceOf[EventReplayOffset].positions

  test("AvailableNow freeze: rows appended mid-run are not drained") {
    val log = writeLog("grow.tsv", 0 until 10)
    val stream = new EventReplayMicroBatchStream(
      IndexedSeq(log), rowsPerBatch = 3L, maxRows = None)
    stream.prepareForTriggerAvailableNow()
    // The log grows AFTER the freeze — the explicit captured head,
    // not lazy-val timing, must bound the drain.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(log),
      (10 until 15).map(i => s"$i\t0\t0\tclick\t0")
        .mkString("", "\n", "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)

    var off = stream.initialOffset()
    var batches = List.empty[Long]
    var progressed = true
    while (progressed) {
      val next = stream.latestOffset(off, stream.getDefaultReadLimit)
      val advanced = positions(next)(0) - positions(off)(0)
      progressed = advanced > 0
      if (progressed) { batches ::= advanced; off = next }
    }
    assert(positions(off) == IndexedSeq(10L),
      s"drain must stop at the frozen head 10, got ${off.json()}")
    assert(batches.reverse == List(3L, 3L, 3L, 1L),
      s"expected rate-limited multi-batch drain, got ${batches.reverse}")
    assert(positions(stream.reportLatestOffset()) == IndexedSeq(10L),
      "reportLatestOffset must respect the freeze")

    // A fresh stream WITHOUT the freeze follows the grown log.
    val live = new EventReplayMicroBatchStream(
      IndexedSeq(log), rowsPerBatch = 100L, maxRows = None)
    assert(positions(live.reportLatestOffset()) == IndexedSeq(15L),
      "an unfrozen stream must see the appended rows")
  }

  test("admission budget splits across partitions by backlog") {
    val logs = IndexedSeq(
      writeLog("p0.tsv", 0 until 10), writeLog("p1.tsv", 0 until 30))
    val stream = new EventReplayMicroBatchStream(
      logs, rowsPerBatch = 8L, maxRows = None)
    val first = stream.latestOffset(
      stream.initialOffset(), stream.getDefaultReadLimit)
    // floor(8*10/40)=2, floor(8*30/40)=6 — proportional, sums to 8.
    assert(positions(first) == IndexedSeq(2L, 6L), first.json())
    // Drain to the end: total delivered respects both logs exactly.
    var off = first
    var guard = 0
    while (positions(off).sum < 40 && guard < 100) {
      off = stream.latestOffset(off, stream.getDefaultReadLimit)
      guard += 1
    }
    assert(positions(off) == IndexedSeq(10L, 30L), off.json())
  }

  test("composite offsets round-trip; scalar form still parses") {
    val o = EventReplayOffset(IndexedSeq(5L, 17L, 0L))
    assert(o.json() == """{"0":5,"1":17,"2":0}""")
    assert(EventReplayOffset.parse(o.json(), 3) == o)
    assert(EventReplayOffset.parse("42", 1) ==
      EventReplayOffset(IndexedSeq(42L)))
    intercept[IllegalArgumentException](
      EventReplayOffset.parse("""{"0":1}""", 2))
  }

  test("seek-indexed reader serves exact ranges across stride bounds") {
    import graft.sources.{EventReplayLineIndex, EventReplayReader}
    // > 2×Stride lines, with multi-byte UTF-8 in the string field so
    // BYTE offsets diverge from character counts — a seek that
    // confused the two would land mid-line and fail the 5-field parse.
    val n = 2 * EventReplayLineIndex.Stride + 421
    val p = java.nio.file.Paths.get(
      Fs.scratch(spark, "replay_unit_seek.tsv"))
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      (0 until n).map(i => s"$i\t${i * 7L}\t${i % 5}\tclick_é中$i\t$i")
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val log = p.toString

    def readRange(lo: Long, hi: Long): Seq[(Long, String)] = {
      val r = new EventReplayReader(log, lo, hi)
      try {
        Iterator.continually(r)
          .takeWhile(_.next())
          .map { rr =>
            val row = rr.get()
            (row.getLong(0), row.getUTF8String(3).toString)
          }
          .toList
      } finally r.close()
    }

    for ((lo, hi) <- Seq(
        (0L, 10L),
        (EventReplayLineIndex.Stride - 3L,
          EventReplayLineIndex.Stride + 3L), // crosses a stride bound
        (1500L, 1510L),
        (n - 7L, n.toLong),
        (n - 7L, n + 50L))) { // endRow past EOF drains to EOF
      val got = readRange(lo, hi)
      val want = (lo until math.min(hi, n.toLong))
        .map(i => (i, s"click_é中$i"))
      assert(got == want, s"range [$lo,$hi) mismatch: got ${got.take(3)}")
    }

    // Appending re-indexes (the (path, size) key): new rows readable.
    java.nio.file.Files.write(p,
      (n until n + 5).map(i => s"$i\t0\t0\tx\t0")
        .mkString("", "\n", "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(readRange(n.toLong, n + 5L).map(_._1) ==
      (n.toLong until n + 5L).toSeq)
  }

  test("CompositeReadLimit's maxRows component caps the batch") {
    val log = writeLog("comp.tsv", 0 until 20)
    val stream = new EventReplayMicroBatchStream(
      IndexedSeq(log), rowsPerBatch = 5L, maxRows = None)
    val composite = ReadLimit.compositeLimit(
      Array(ReadLimit.minRows(1L, 1000L), ReadLimit.maxRows(4L)))
    val next = stream.latestOffset(stream.initialOffset(), composite)
    assert(positions(next) == IndexedSeq(4L),
      s"composite limit must not bypass admission control: ${next.json()}")
    val uncapped = stream.latestOffset(
      stream.initialOffset(), ReadLimit.allAvailable())
    assert(positions(uncapped) == IndexedSeq(20L))
  }
}
