package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.sources.KvJsonlSink

/** Drives the kvjsonl STREAMING write path end-to-end through a real
  * checkpointed micro-batch query, across restarts:
  *
  *   run 1: ingest batch A            → A published
  *   run 2 (same checkpoint): add B   → exactly A ∪ B, no replays
  *   run 3 (same checkpoint): no new input → output unchanged
  *
  * Epoch-stamped final names make the per-epoch publish idempotent —
  * the restart never duplicates an already-committed epoch. This is
  * the sink half of exactly-once; the source half is the checkpoint's
  * offset log (both exercised here).
  */
class V2StreamingSinkSpec extends SparkTestBase {

  private def jsonLines(dir: String): Seq[String] = JsonlFiles.lines(dir)

  private def runOnce(in: String, out: String, cp: String): Unit = {
    val q = spark.readStream
      .schema(KvJsonlSink.Schema)
      .json(in)
      .writeStream
      .format("graft.sources.KvJsonlSink")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start(out)
    q.awaitTermination(60000)
    assert(!q.isActive, "query did not drain within 60 s")
  }

  test("checkpointed streaming writes survive restart exactly-once") {
    val base = SparkTestBase.tempDir("graft_v2stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    Files.createDirectories(Paths.get(in))

    Files.write(Paths.get(in, "a.jsonl"), Seq(
      """{"key":1,"value":"a1"}""",
      """{"key":2,"value":"a2"}""",
      """{"key":3,"value":"a3"}""").asJava)
    runOnce(in, out, cp)
    assert(jsonLines(out).size === 3)
    assert(Files.exists(Paths.get(out, "_SUCCESS")))

    // Restart with new input: only batch B's epoch is processed.
    Files.write(Paths.get(in, "b.jsonl"), Seq(
      """{"key":4,"value":"b1"}""",
      """{"key":5,"value":"b2"}""").asJava)
    runOnce(in, out, cp)
    val afterB = spark.read.schema(KvJsonlSink.Schema)
      .json(s"$out/*.jsonl")
    assert(afterB.count() === 5, "restart must append exactly batch B")
    assert(afterB.select("key").distinct().count() === 5,
      "restart replayed an already-committed epoch (duplicate keys)")

    // Restart with nothing new: no epoch runs, output unchanged.
    val filesBefore = jsonLines(out).size
    runOnce(in, out, cp)
    assert(jsonLines(out).size === filesBefore,
      "an idle restart must publish nothing")

    // No temp litter once all queries have drained.
    val tmp = KvJsonlSink.tempDir(out)
    if (Files.isDirectory(tmp)) {
      val s = Files.list(tmp)
      try assert(s.iterator().asScala.isEmpty, "leftover attempt files")
      finally s.close()
    }
  }
}
