package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.sources._

/** Drives the kvjsonl DataSourceV2 write protocol at both levels:
  * end-to-end through `DataFrameWriter` (including overwrite) and
  * directly at the BatchWrite/DataWriter API, where the exactly-once
  * edges live — speculative duplicate attempts, aborted tasks, and
  * temp-file invisibility to readers.
  */
/** Shared across the two V2 sink specs: all visible (published) JSON
  * lines under a sink directory.
  */
object JsonlFiles {
  def lines(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".jsonl"))
      .flatMap(p => Files.readAllLines(p).asScala)
    finally s.close()
  }
}

class V2SinkSpec extends SparkTestBase {

  private def newDir(tag: String): String =
    SparkTestBase.tempDir(s"graft_v2spec_$tag").toString

  private def visibleLines(dir: String): Seq[String] = JsonlFiles.lines(dir)

  test("end-to-end write + read-back equals the input") {
    val dir = newDir("e2e")
    import spark.implicits._
    val in = Seq((1L, "a"), (2L, "b\"quote"), (3L, "tab\tnl\n")).toDF("key", "value")
    in.write.format("graft.sources.KvJsonlSink").mode("overwrite").save(dir)

    assert(Files.exists(Paths.get(dir, "_SUCCESS")), "_SUCCESS manifest missing")
    assert(!Files.exists(KvJsonlSink.tempDir(dir)), "temp dir must be cleaned up")

    val back = spark.read.schema(KvJsonlSink.Schema).json(s"$dir/*.jsonl")
    assert(back.orderBy("key").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b\"quote"), (3L, "tab\tnl\n")))
  }

  test("overwrite replaces previously committed files") {
    val dir = newDir("ovw")
    import spark.implicits._
    Seq((1L, "old"), (2L, "old")).toDF("key", "value")
      .write.format("graft.sources.KvJsonlSink").mode("overwrite").save(dir)
    Seq((9L, "new")).toDF("key", "value")
      .repartition(1)
      .write.format("graft.sources.KvJsonlSink").mode("overwrite").save(dir)
    val back = spark.read.schema(KvJsonlSink.Schema).json(s"$dir/*.jsonl")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((9L, "new")))
  }

  test("truncate commit publishes replacements BEFORE sweeping stale files") {
    // Drives the two halves of the overwrite commit separately (the
    // package-visible seam) with a read in the window between them:
    // a directory-listing reader concurrent with the replace must see
    // a SUPERSET (old ∪ new — transient duplicates), never a hole.
    val dir = newDir("window")
    import spark.implicits._
    Seq((1L, "old1"), (2L, "old2")).toDF("key", "value").repartition(2)
      .write.format("graft.sources.KvJsonlSink").mode("overwrite").save(dir)

    val bw = new KvJsonlBatchWrite(dir, true, "jobW")
    val tmp = KvJsonlSink.tempDir(dir, "jobW")
    Files.createDirectories(tmp)
    val t = tmp.resolve("attempt-jobW-00000-0")
    Files.write(t, "{\"key\":9,\"value\":\"new\"}\n".getBytes("UTF-8"))
    val f = KvWrittenFile(
      t.toString, "part-jobW-00000.jsonl", 1L, Some(9L), Some(9L))

    bw.publishFiles(Paths.get(dir), Seq(f))
    val window = spark.read.schema(KvJsonlSink.Schema)
      .json(s"$dir/*.jsonl").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(window === Seq(1L, 2L, 9L),
      s"mid-replace reader must see old ∪ new, got $window")

    bw.sweepStale(Paths.get(dir), Set("part-jobW-00000.jsonl"))
    val after = spark.read.schema(KvJsonlSink.Schema)
      .json(s"$dir/*.jsonl").collect()
      .map(_.getLong(0)).toSeq
    assert(after === Seq(9L))
  }

  test("append after overwrite keeps both jobs' rows (no name clobber)") {
    val dir = newDir("append")
    import spark.implicits._
    Seq((1L, "old"), (2L, "old")).toDF("key", "value").repartition(2)
      .write.format("graft.sources.KvJsonlSink").mode("overwrite").save(dir)
    Seq((3L, "new")).toDF("key", "value").repartition(1)
      .write.format("graft.sources.KvJsonlSink").mode("append").save(dir)
    val back = spark.read.schema(KvJsonlSink.Schema).json(s"$dir/*.jsonl")
    assert(back.count() === 3,
      "append overwrote an earlier job's same-numbered partition file")
  }

  test("only committed attempts are published; the speculative duplicate is not") {
    val dir = newDir("spec")
    val bw = new KvJsonlBatchWrite(dir, false, "job1")
    val factory = bw.createBatchWriterFactory(null)

    // Two attempts for partition 0 (speculation): distinct taskIds.
    val a0 = factory.createWriter(0, 100L)
    val a0dup = factory.createWriter(0, 101L)
    val a1 = factory.createWriter(1, 102L)

    def row(k: Long, v: String): InternalRow =
      InternalRow(k, UTF8String.fromString(v))
    a0.write(row(1L, "winner"))
    a0dup.write(row(1L, "loser"))
    a1.write(row(2L, "p1"))

    val m0 = a0.commit()     // attempt 100 wins partition 0
    a0dup.abort()            // Spark aborts the losing attempt
    val m1 = a1.commit()

    // Before driver commit: nothing visible, temp files exist.
    assert(visibleLines(dir).isEmpty, "no file may be visible before driver commit")
    assert(Files.exists(KvJsonlSink.tempDir(dir)))

    bw.commit(Array(m0, m1))

    val lines = visibleLines(dir).sorted
    assert(lines === Seq(
      """{"key":1,"value":"winner"}""",
      """{"key":2,"value":"p1"}"""))
    assert(!Files.exists(KvJsonlSink.tempDir(dir)), "temp dir survives driver commit")
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
  }

  test("job abort removes all temp output and publishes nothing") {
    val dir = newDir("abort")
    val bw = new KvJsonlBatchWrite(dir, false, "job1")
    val factory = bw.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 1L)
    w.write(InternalRow(1L, UTF8String.fromString("x")))
    val msg = w.commit()

    bw.abort(Array(msg))

    assert(visibleLines(dir).isEmpty)
    assert(!Files.exists(KvJsonlSink.tempDir(dir)))
    assert(!Files.exists(Paths.get(dir, "_SUCCESS")), "no manifest after abort")
  }

  test("null key and null value round-trip as JSON nulls") {
    val dir = newDir("nulls")
    import spark.implicits._
    Seq((Some(1L), None: Option[String]), (None: Option[Long], Some("v")))
      .toDF("key", "value")
      .write.format("graft.sources.KvJsonlSink").mode("overwrite").save(dir)
    val back = spark.read.schema(KvJsonlSink.Schema).json(s"$dir/*.jsonl")
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
         if (r.isNullAt(1)) None else Some(r.getString(1)))).toSet
    assert(back === Set((Some(1L), None), (None, Some("v"))))
  }

  test("schema the sink cannot hold is rejected at plan time") {
    val dir = newDir("badschema")
    import spark.implicits._
    val bad = Seq((1, 2)).toDF("a", "b") // (int, int), not (long, string)
    val e = intercept[Exception] {
      bad.write.format("graft.sources.KvJsonlSink").mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("kvjsonl") ||
      Option(e.getCause).exists(_.getMessage.contains("kvjsonl")))
  }
}
