package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{KvJsonlSink, KvJsonlStreamingWrite, KvSnapshots}

/** EXACTLY-ONCE streaming ingestion into SNAPSHOTTED kv catalog
  * tables (KvJsonlStreamingWrite, snapshotted path): each micro-batch
  * lands as ONE OCC manifest commit, a replayed epoch is detected by
  * its file-name prefix already being a member and commits nothing,
  * and the commits compose with everything downstream of a manifest —
  * time travel, the change feed, per-column zone maps, concurrent
  * batch writers.
  */
class KvStreamSinkSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def fresh(t: String, ddlCols: String = "key BIGINT, " +
      "value STRING"): String = {
    cat()
    val full = s"graft_kv.default.$t"
    spark.sql(s"DROP TABLE IF EXISTS $full")
    spark.sql(s"CREATE TABLE $full ($ddlCols) " +
      "TBLPROPERTIES ('snapshots'='true')")
    full
  }

  private def drain(in: String, table: String, cp: String): Unit = {
    val q = spark.readStream
      .schema(KvJsonlSink.Schema)
      .json(in)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .toTable(table)
    q.awaitTermination(60000)
    assert(!q.isActive, "query did not drain within 60 s")
  }

  test("checkpointed stream into a snapshotted table: exactly-once " +
      "across restarts, one snapshot per data epoch, time travel") {
    val t = fresh("ss_e2e")
    val base = SparkTestBase.tempDir("graft_ss").toString
    val in = s"$base/in"; val cp = s"$base/cp"
    Files.createDirectories(Paths.get(in))

    Files.write(Paths.get(in, "a.jsonl"), Seq(
      """{"key":1,"value":"a1"}""",
      """{"key":2,"value":"a2"}""").asJava)
    drain(in, t, cp)
    val v1 = KvSnapshots.latest(dir("ss_e2e")).get
    assert(spark.table(t).count() === 2)

    // restart with new input: exactly batch B appended, one commit
    Files.write(Paths.get(in, "b.jsonl"), Seq(
      """{"key":3,"value":"b1"}""").asJava)
    drain(in, t, cp)
    assert(spark.table(t).count() === 3)
    assert(spark.table(t).select("key").distinct().count() === 3,
      "restart replayed an already-committed epoch")
    val v2 = KvSnapshots.latest(dir("ss_e2e")).get
    assert(v2 === v1 + 1, s"batch B should be ONE commit ($v1 -> $v2)")

    // idle restart: no epoch, no commit, no snapshot churn
    drain(in, t, cp)
    assert(KvSnapshots.latest(dir("ss_e2e")).get === v2,
      "an idle restart must commit nothing")

    // the stream's commits are ordinary snapshots: time travel works
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF $v1")
      .collect().head.getLong(0) === 2)
  }

  test("replayed epoch commit is a no-op at the manifest (driven " +
      "directly through the StreamingWrite protocol)") {
    fresh("ss_replay")
    val d = dir("ss_replay")
    val w = new KvJsonlStreamingWrite(d, "test-query-replay")
    val fac = w.createStreamingWriterFactory(null)

    def runEpoch(epoch: Long, taskId: Long, keys: Seq[Long]) = {
      val dw = fac.createWriter(0, taskId, epoch)
      keys.foreach(k => dw.write(org.apache.spark.sql.catalyst
        .InternalRow(k, UTF8String.fromString(s"v$k"))))
      dw.commit()
    }

    w.commit(0L, Array(runEpoch(0L, 0L, Seq(1L, 2L))))
    val after1 = KvSnapshots.latest(d).get
    // driver crash between sink commit and offset commit → the SAME
    // epoch replays (possibly with different task ids / partitioning)
    w.commit(0L, Array(runEpoch(0L, 99L, Seq(1L, 2L))))
    assert(KvSnapshots.latest(d).get === after1,
      "replayed epoch must not commit a second snapshot")
    assert(spark.table("graft_kv.default.ss_replay").count() === 2)
    // and the next epoch commits normally
    w.commit(1L, Array(runEpoch(1L, 0L, Seq(3L))))
    assert(KvSnapshots.latest(d).get === after1 + 1)
    assert(spark.table("graft_kv.default.ss_replay").count() === 3)
    // no temp litter
    val tmp = KvJsonlSink.tempDir(d)
    if (Files.isDirectory(tmp)) {
      val s = Files.list(tmp)
      try assert(s.iterator().asScala.isEmpty, "leftover attempt files")
      finally s.close()
    }
  }

  test("batch INSERTs interleave with streaming epochs under OCC — " +
      "both lineages land, nothing lost") {
    val t = fresh("ss_mix")
    val base = SparkTestBase.tempDir("graft_ssmix").toString
    val in = s"$base/in"; val cp = s"$base/cp"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(in, "a.jsonl"),
      Seq("""{"key":10,"value":"s1"}""").asJava)
    drain(in, t, cp)
    spark.sql(s"INSERT INTO $t VALUES (20, 'b1')") // batch between epochs
    Files.write(Paths.get(in, "b.jsonl"),
      Seq("""{"key":30,"value":"s2"}""").asJava)
    drain(in, t, cp)
    assert(spark.table(t).orderBy("key").collect().map(_.getLong(0))
      .toSeq === Seq(10L, 20L, 30L))
  }

  test("streaming epochs feed the table CHANGE FEED — stream in, " +
      "stream out, one batch per commit") {
    val t = fresh("ss_cdc")
    val base = SparkTestBase.tempDir("graft_sscdc").toString
    val in = s"$base/in"; val cp = s"$base/cp"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(in, "a.jsonl"),
      Seq("""{"key":1,"value":"x"}""").asJava)
    drain(in, t, cp)
    Files.write(Paths.get(in, "b.jsonl"),
      Seq("""{"key":2,"value":"y"}""").asJava)
    drain(in, t, cp)
    val sink = "ss_cdc_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.table(t).writeStream
      .format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table(sink).count() === 2,
      "change feed must carry exactly the streamed rows")
  }

  test("streaming writes record per-column zone maps too") {
    val t = fresh("ss_stats", "key BIGINT, value STRING, amt DOUBLE")
    val base = SparkTestBase.tempDir("graft_ssstats").toString
    val in = s"$base/in"; val cp = s"$base/cp"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(in, "a.jsonl"),
      Seq("""{"key":1,"value":"x","amt":2.5}""").asJava)
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, value STRING, amt DOUBLE"))
      .json(in)
      .writeStream.option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).toTable(t)
    q.awaitTermination(60000)
    val stats = KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      dir("ss_stats"), KvSnapshots.latest(dir("ss_stats")).get))
    assert(stats.exists(_.colStats.get(3).exists(_.isDefined)),
      stats.toString)
  }

  test("streaming into a BUCKETED snapshotted table: rows route to " +
      "their buckets, exactly-once across restarts") {
    cat()
    val tb = "graft_kv.default.ss_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $tb")
    spark.sql(s"CREATE TABLE $tb (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val base = SparkTestBase.tempDir("graft_ssbk").toString
    val in = s"$base/in"; val cp = s"$base/cp"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(in, "a.jsonl"), (0 until 8).map(i =>
      s"""{"key":$i,"value":"v$i"}""").asJava)
    drain(in, tb, cp)
    Files.write(Paths.get(in, "b.jsonl"),
      Seq("""{"key":8,"value":"v8"}""").asJava)
    drain(in, tb, cp)
    assert(spark.table(tb).count() === 9)
    assert(spark.table(tb).select("key").distinct().count() === 9)
    // every published file carries its bucket suffix AND the rows in
    // it really belong to that bucket (the SPJ layout contract)
    val d = dir("ss_bucketed")
    val files = KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      d, KvSnapshots.latest(d).get))
    assert(files.nonEmpty)
    files.foreach { st =>
      val b = graft.sources.KvBucketing.fileBucket(st.name)
      assert(b.isDefined, s"unbucketed streamed file ${st.name}")
      assert(st.minKey.forall(k =>
        graft.sources.KvBucketing.bucketOf(k, 4) == b.get))
    }
  }

  test("streaming into a DATE-PARTITIONED snapshotted table: unit " +
      "tokens in file names, partition pruning applies to streamed " +
      "files") {
    cat()
    val tp = "graft_kv.default.ss_parted"
    spark.sql(s"DROP TABLE IF EXISTS $tp")
    spark.sql(s"CREATE TABLE $tp (key BIGINT, value STRING, " +
      "ts TIMESTAMP) PARTITIONED BY (days(ts)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val base = SparkTestBase.tempDir("graft_sspt").toString
    val in = s"$base/in"; val cp = s"$base/cp"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(in, "a.jsonl"), Seq(
      """{"key":1,"value":"x","ts":"2024-06-01T10:00:00.000Z"}""",
      """{"key":2,"value":"y","ts":"2024-06-02T10:00:00.000Z"}""").asJava)
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, value STRING, ts TIMESTAMP"))
      .json(in)
      .writeStream.option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).toTable(tp)
    q.awaitTermination(60000)
    val d = dir("ss_parted")
    val files = KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      d, KvSnapshots.latest(d).get))
    assert(files.nonEmpty && files.forall(
      _.name.matches(""".*-d\d+\.jsonl""")), files.map(_.name))
    // day pruning applies to streamed files (bound mid-day so the
    // conservative unit interval excludes June 2 at the PARTITION
    // level — a midnight bound admits the boundary day and the
    // per-column zone map skips the file first instead)
    val before = graft.sources.KvPartitionPrune.prunedFiles.get()
    val got = spark.sql(s"SELECT key FROM $tp " +
      "WHERE ts < TIMESTAMP'2024-06-01 20:00:00'").collect()
      .map(_.getLong(0)).toSeq
    assert(got === Seq(1L))
    assert(graft.sources.KvPartitionPrune.prunedFiles.get() > before)
  }

  test("UNSNAPSHOTTED bucketed / branch streaming targets are " +
      "rejected loudly") {
    cat()
    val tb = "graft_kv.default.ss_rej"
    spark.sql(s"DROP TABLE IF EXISTS $tb")
    spark.sql(s"CREATE TABLE $tb (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key))")
    val base = SparkTestBase.tempDir("graft_ssrej").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    Files.write(Paths.get(s"$base/in", "a.jsonl"),
      Seq("""{"key":1,"value":"x"}""").asJava)
    val q = spark.readStream.schema(KvJsonlSink.Schema)
      .json(s"$base/in").writeStream
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).toTable(tb)
    val e = intercept[Exception](q.awaitTermination(60000))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("snapshots"), msgs)
  }
}
