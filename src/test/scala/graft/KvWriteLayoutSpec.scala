package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.Distributions
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationInfo, Write, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{KvJsonlBatchWrite, KvJsonlSink, KvJsonlStreamingWrite, KvJsonlTable, KvSchema, KvSnapshots, KvWrittenFile}

/** Characterization of the kv write path, layout by layout: what each
  * write REQUESTS from Spark (distribution and ordering), what names
  * its files publish under and in which order a task's files enter the
  * manifest, how many files an empty or multi-cell task publishes, and
  * that no `_temporary` scratch survives a job, an epoch or an abort.
  * Every expectation is a literal, so a change to any of them is a
  * visible edit here, not a silent drift.
  */
class KvWriteLayoutSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  /** (Re)create `graft_kv.default.<name>` and return its directory. */
  private def table(name: String, ddl: String): String = {
    cat()
    spark.sql(s"DROP TABLE IF EXISTS graft_kv.default.$name")
    spark.sql(s"CREATE TABLE graft_kv.default.$name $ddl")
    graft.sources.KvGateTable(name).dir
  }

  private val Plain = "(key BIGINT, value STRING)"
  private val Dated = "(key BIGINT, value STRING, d DATE)"
  private val Timed = "(key BIGINT, value STRING, ts TIMESTAMP)"
  private val Snap = "TBLPROPERTIES ('snapshots'='true')"
  private val SnapSorted =
    "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')"

  private def writeInfo(
      dir: String, opts: Map[String, String] = Map.empty)
      : LogicalWriteInfo = new LogicalWriteInfo {
    override def options(): CaseInsensitiveStringMap =
      new CaseInsensitiveStringMap(opts.asJava)
    override def queryId(): String = "q0"
    override def schema(): StructType =
      KvSchema.toStruct(KvSchema.currentCols(dir))
  }

  /** A write's request as Spark renders it: `distribution | ordering`.
    * A write that requests nothing renders like an unspecified one.
    */
  private def requested(w: Write): String = w match {
    case r: RequiresDistributionAndOrdering =>
      s"${r.requiredDistribution()} | " +
        r.requiredOrdering().map(_.describe()).mkString(", ")
    case _ => s"${Distributions.unspecified()} | "
  }

  private def tableWrite(
      dir: String, viaCatalog: Boolean = true,
      opts: Map[String, String] = Map.empty): String =
    requested(new KvJsonlTable(dir, viaCatalog = viaCatalog)
      .newWriteBuilder(writeInfo(dir, opts)).build())

  private def rowLevelWrite(dir: String): String = {
    val op = new KvJsonlTable(dir, viaCatalog = true)
      .newRowLevelOperationBuilder(new RowLevelOperationInfo {
        override def options(): CaseInsensitiveStringMap =
          CaseInsensitiveStringMap.empty()
        override def command(): RowLevelOperation.Command =
          RowLevelOperation.Command.DELETE
      }).build()
    requested(op.newWriteBuilder(writeInfo(dir)).build())
  }

  private def row(vals: Any*): InternalRow = InternalRow.fromSeq(
    vals.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    })

  /** `name:rows` of the latest snapshot's members (the manifest keeps
    * them sorted by name).
    */
  private def members(dir: String): Seq[String] =
    KvSnapshots.membersWithStats(dir, KvSnapshots.latest(dir).get)
      .map(f => s"${f.name}:${f.rows}")

  private def tempEntries(dir: String): Seq[String] = {
    val tmp = KvJsonlSink.tempDir(dir)
    if (!Files.exists(tmp)) Nil
    else {
      val s = Files.walk(tmp)
      try s.iterator().asScala.map(p => tmp.relativize(p).toString)
        .filter(_.nonEmpty).toSeq
      finally s.close()
    }
  }

  /** The files a task's commit message names, in message order — read
    * structurally, so the pin does not depend on the message's type.
    */
  private def filesOf(m: WriterCommitMessage): Seq[KvWrittenFile] =
    m.asInstanceOf[Product].productIterator.toSeq.flatMap {
      case f: KvWrittenFile => Seq(f)
      case fs: Seq[_] => fs.collect { case f: KvWrittenFile => f }
      case _ => Nil
    }

  /** Run one batch job of `tasks` (each a task's rows) through the
    * table's own write protocol under job id `job1`, commit it, and
    * return `name:rows` of the files in commit order: task by task,
    * each message's files in its own order. The commit must publish
    * exactly those files.
    */
  private def runJob(dir: String, tasks: Seq[Seq[InternalRow]])
      : Seq[String] = {
    val bw = new KvJsonlBatchWrite(dir, false, "job1")
    val factory = bw.createBatchWriterFactory(null)
    val msgs: Array[WriterCommitMessage] =
      tasks.zipWithIndex.map { case (rows, pid) =>
        val w = factory.createWriter(pid, 10L + pid)
        rows.foreach(w.write)
        w.commit()
      }.toArray
    bw.commit(msgs)
    assert(tempEntries(dir).isEmpty, s"temp litter: ${tempEntries(dir)}")
    val committed = msgs.toSeq.flatMap(filesOf)
      .map(f => s"${f.finalName}:${f.rows}")
    assert(members(dir) === committed.sorted)
    committed
  }

  test("requested distribution and ordering, layout by layout") {
    val plain = table("wl_plain", s"$Plain $Snap")
    val sorted = table("wl_sorted", s"$Plain $SnapSorted")
    val bucketed = table("wl_bucketed",
      s"$Plain PARTITIONED BY (bucket(4, key)) $Snap")
    val bucketedSorted = table("wl_bucketed_sorted",
      s"$Plain PARTITIONED BY (bucket(4, key)) $SnapSorted")
    val dated = table("wl_dated", s"$Dated PARTITIONED BY (days(d)) $Snap")
    val composed = table("wl_composed",
      s"$Timed PARTITIONED BY (months(ts), bucket(2, key)) $Snap")

    val none = "UnspecifiedDistribution | "
    val keyAsc = "key ASC NULLS FIRST"
    assert(tableWrite(plain) === none)
    assert(tableWrite(sorted) ===
      s"OrderedDistribution($keyAsc) | $keyAsc")
    assert(tableWrite(bucketed) ===
      "ClusteredDistribution(bucket(4, key)) | ")
    assert(tableWrite(bucketedSorted) ===
      "ClusteredDistribution(bucket(4, key)) | " +
        s"bucket(4, key) ASC NULLS FIRST, $keyAsc")
    assert(tableWrite(dated) === "ClusteredDistribution(days(d)) | ")
    assert(tableWrite(composed) ===
      "ClusteredDistribution(months(ts), bucket(2, key)) | ")
    // a maintenance rewrite owns its placement: only the key sort
    assert(tableWrite(bucketedSorted,
      opts = Map("layout_rewrite" -> "true", "maintenance" -> "true")) ===
      s"$none$keyAsc")
    // format-path writes cannot resolve the layout transforms; a
    // sorted table still asks for its global key order
    assert(tableWrite(bucketed, viaCatalog = false) === none)
    assert(tableWrite(bucketedSorted, viaCatalog = false) ===
      s"OrderedDistribution($keyAsc) | $keyAsc")
    // the copy-on-write row-level rewrite
    assert(rowLevelWrite(plain) === none)
    assert(rowLevelWrite(sorted) ===
      s"OrderedDistribution($keyAsc) | $keyAsc")
    assert(rowLevelWrite(bucketedSorted) ===
      "ClusteredDistribution(bucket(4, key)) | " +
        s"bucket(4, key) ASC NULLS FIRST, $keyAsc")
    assert(rowLevelWrite(bucketed) ===
      "ClusteredDistribution(bucket(4, key)) | ")
  }

  test("copy-on-write rewrites of partitioned tables cluster like their inserts") {
    val dated = table("wl_cow_dated", s"$Timed PARTITIONED BY (days(ts)) $Snap")
    val composed = table("wl_cow_composed",
      s"$Timed PARTITIONED BY (months(ts), bucket(2, key)) $Snap")
    assert(rowLevelWrite(dated) === "ClusteredDistribution(days(ts)) | ")
    assert(rowLevelWrite(composed) ===
      "ClusteredDistribution(months(ts), bucket(2, key)) | ")
    Seq(dated, composed).foreach(t =>
      assert(rowLevelWrite(t) === tableWrite(t)))
  }

  test("published names and commit order, layout by layout") {
    val plain = table("wn_plain", s"$Plain $Snap")
    // task 0 has rows, task 1 has none: a plain task opens its file
    // eagerly, so the empty task still publishes one 0-row file
    assert(runJob(plain, Seq(Seq(row(2L, "b"), row(1L, "a")), Nil)) ===
      Seq("part-job1-00000.jsonl:2", "part-job1-00001.jsonl:0"))

    val bucketed = table("wn_bucketed",
      s"$Plain PARTITIONED BY (bucket(4, key)) $Snap")
    // a routed task publishes one file per cell it saw, in cell order;
    // an empty routed task publishes nothing
    assert(runJob(bucketed, Seq(
      Seq(row(3L, "c"), row(1L, "a"), row(2L, "b"), row(5L, "e")),
      Nil,
      Seq(row(4L, "d")))) === Seq(
      "part-job1-00000-b0001.jsonl:2",
      "part-job1-00000-b0002.jsonl:1",
      "part-job1-00000-b0003.jsonl:1",
      "part-job1-00002-b0000.jsonl:1"))

    val dated = table("wn_dated", s"$Dated PARTITIONED BY (days(d)) $Snap")
    // 19724 = 2024-01-02; the null partition sorts first
    assert(runJob(dated, Seq(Seq(
      row(1L, "a", 19724), row(2L, "b", null), row(3L, "c", 19723),
      row(4L, "d", 19724)))) === Seq(
      "part-job1-00000-dnull.jsonl:1",
      "part-job1-00000-d19723.jsonl:1",
      "part-job1-00000-d19724.jsonl:2"))

    val composed = table("wn_composed",
      s"$Timed PARTITIONED BY (months(ts), bucket(2, key)) $Snap")
    val jan = 1704067200000000L // 2024-01-01, month 648
    val feb = 1706745600000000L // 2024-02-01, month 649
    assert(runJob(composed, Seq(Seq(
      row(1L, "a", feb), row(2L, "b", jan), row(3L, "c", jan),
      row(4L, "d", null), row(6L, "f", feb)))) === Seq(
      "part-job1-00000-mnull-b0000.jsonl:1",
      "part-job1-00000-m648-b0000.jsonl:1",
      "part-job1-00000-m648-b0001.jsonl:1",
      "part-job1-00000-m649-b0000.jsonl:1",
      "part-job1-00000-m649-b0001.jsonl:1"))
  }

  test("SQL inserts and row-level rewrites publish the layout's names") {
    val q = "[0-9a-f-]{36}"
    Seq(
      ("wq_plain", s"$Plain $Snap", s"part-$q-\\d{5}\\.jsonl"),
      ("wq_sorted", s"$Plain $SnapSorted", s"part-$q-\\d{5}\\.jsonl"),
      ("wq_bucketed", s"$Plain PARTITIONED BY (bucket(4, key)) $SnapSorted",
        s"part-$q-\\d{5}-b\\d{4}\\.jsonl")
    ).foreach { case (name, ddl, shape) =>
      val t = s"graft_kv.default.$name"
      val dir = table(name, ddl)
      spark.sql(s"INSERT INTO $t SELECT id, 'v' FROM range(0, 40)")
      val inserted = members(dir)
      spark.sql(s"DELETE FROM $t WHERE key % 3 = 0")
      val rewritten = members(dir).filterNot(inserted.contains)
      assert(rewritten.nonEmpty, s"$name: the DELETE rewrote nothing")
      (inserted ++ rewritten).map(_.takeWhile(_ != ':')).foreach(n =>
        assert(n.matches(shape), s"$name: $n does not match $shape"))
      assert(tempEntries(dir).isEmpty, s"temp litter: ${tempEntries(dir)}")
      assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) === 26L)
    }
  }

  test("layout rewrite and format-path writes publish routed names") {
    import spark.implicits._
    val bucketed = table("wr_bucketed",
      s"$Plain PARTITIONED BY (bucket(2, key)) $Snap")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("key", "value")
      .repartition(1)
      .write.format("graft.sources.KvJsonlSink").mode("append")
      .save(bucketed)
    val v1 = members(bucketed)
    assert(v1.map(_.replaceAll("part-[0-9a-f-]{36}-", "part-<q>-")) ===
      Seq("part-<q>-00000-b0000.jsonl:1", "part-<q>-00000-b0001.jsonl:2"))
    spark.read.format("graft.sources.KvJsonlSink").load(bucketed)
      .repartition(1).sortWithinPartitions("key")
      .write.format("graft.sources.KvJsonlSink")
      .option("layout_rewrite", "true").option("maintenance", "true")
      .mode("overwrite").save(bucketed)
    val v2 = members(bucketed)
    assert(v2.map(_.replaceAll("part-[0-9a-f-]{36}-", "part-<q>-")) ===
      Seq("part-<q>-00000-b0000.jsonl:1", "part-<q>-00000-b0001.jsonl:2"))
    assert(v2.toSet.intersect(v1.toSet).isEmpty,
      "the rewrite must publish under its own job's names")
    assert(tempEntries(bucketed).isEmpty)
  }

  test("no _temporary entries after an aborted batch job") {
    val plain = table("wt_abort", s"$Plain $Snap")
    val bw = new KvJsonlBatchWrite(plain, false, "jobA")
    val factory = bw.createBatchWriterFactory(null)
    val w0 = factory.createWriter(0, 1L)
    w0.write(row(1L, "a"))
    val m0 = w0.commit()
    val w1 = factory.createWriter(1, 2L)
    w1.write(row(2L, "b"))
    w1.abort()
    bw.abort(Array(m0))
    assert(tempEntries(plain).isEmpty, s"temp litter: ${tempEntries(plain)}")
    assert(KvSnapshots.latest(plain).isEmpty)
  }

  test("streaming epochs publish epoch-keyed names and leave no scratch") {
    // unsnapshotted plain sink: epoch-keyed names, 0-row files too
    val out = SparkTestBase.tempDir("graft_wl_stream").toString
    val sw = new KvJsonlStreamingWrite(out, "q-plain")
    val fac = sw.createStreamingWriterFactory(null)
    val a = fac.createWriter(0, 5L, 3L)
    a.write(row(1L, "a"))
    val b = fac.createWriter(1, 6L, 3L)
    sw.commit(3L, Array(a.commit(), b.commit()))
    val names = {
      val s = Files.list(Paths.get(out))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".jsonl")).toSeq.sorted
      finally s.close()
    }
    assert(names === Seq("part-e00003-00000.jsonl", "part-e00003-00001.jsonl"))
    assert(tempEntries(out).isEmpty, s"temp litter: ${tempEntries(out)}")
    // an aborted epoch leaves nothing behind either
    val c = fac.createWriter(0, 7L, 4L)
    c.write(row(2L, "b"))
    sw.abort(4L, Array(c.commit()))
    assert(tempEntries(out).isEmpty, s"temp litter: ${tempEntries(out)}")

    // snapshotted bucketed table: the epoch tag is the routed job id
    val bucketed = table("ws_bucketed",
      s"$Plain PARTITIONED BY (bucket(2, key)) $Snap")
    val bsw = new KvJsonlStreamingWrite(bucketed, "0000-11")
    val bfac = bsw.createStreamingWriterFactory(null)
    val d = bfac.createWriter(0, 8L, 0L)
    Seq(row(3L, "c"), row(2L, "b")).foreach(d.write)
    val e = bfac.createWriter(1, 9L, 0L)
    bsw.commit(0L, Array(d.commit(), e.commit()))
    assert(members(bucketed) === Seq(
      "part-q000011-e00000-00000-b0000.jsonl:1",
      "part-q000011-e00000-00000-b0001.jsonl:1"))
    assert(tempEntries(bucketed).isEmpty,
      s"temp litter: ${tempEntries(bucketed)}")
  }
}
