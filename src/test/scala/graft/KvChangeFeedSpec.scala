package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{KvJsonlSink, KvVersionOffset}

/** The kv table change feed end to end: offset round-trip, the gate's
  * one-commit-per-batch drain (run via SparkEntry), CHECKPOINTED
  * CONTINUATION across two AvailableNow runs (the incremental-ETL
  * shape: run 2 picks up exactly the commits that landed after run 1,
  * no replays, no gaps — dogfooded through the connector's own
  * streaming SINK so the whole loop is kv table → change feed → kv
  * files), the documented file-add contract under a copy-on-write
  * DELETE, and the fail-loud rejection of streaming reads on
  * unsnapshotted tables.
  */
class KvChangeFeedSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def snapTable(name: String): String = {
    cat()
    val t = s"graft_kv.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    t
  }

  test("offset json round-trip, bad offset fails loud") {
    assert(KvVersionOffset.parse(KvVersionOffset(7).json()) ===
      KvVersionOffset(7))
    intercept[IllegalArgumentException](KvVersionOffset.parse("{}"))
  }

  test("gate: three commits, three micro-batches, exact union") {
    val rows = SparkEntry.queries("catalog_changefeed")(spark, sfDir)
      .collect()
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_orderpriority").as("value"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("value")
      .collect()
    assert(rows.toSeq === want.toSeq)
  }

  test("checkpointed continuation: run 2 reads exactly the new commits") {
    val t = snapTable("cf_cont")
    val ckpt = SparkTestBase.tempDir("graft_cf_ckpt").toString
    val out = SparkTestBase.tempDir("graft_cf_out").toString

    def drain(): Unit = {
      val q = spark.readStream.table(t)
        .writeStream
        .format("graft.sources.KvJsonlSink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sunk(): Seq[Long] = spark.read
      .schema(KvJsonlSink.Schema)
      .option("pathGlobFilter", "*.jsonl")
      .json(out)
      .collect().map(_.getLong(0)).toSeq.sorted

    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    drain()
    assert(sunk() === Seq(1L, 2L))

    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")
    spark.sql(s"INSERT INTO $t VALUES (4, 'd')")
    drain()
    assert(sunk() === Seq(1L, 2L, 3L, 4L),
      "run 2 must deliver exactly the two new commits, no replays")
    spark.sql(s"DROP TABLE $t")
  }

  test("file-add contract: a COW DELETE re-adds the survivors OF THE " +
      "FILES IT REWROTE — group-selective, pruned files re-add nothing") {
    val t = snapTable("cf_cow")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    // UNPUSHABLE condition ⇒ every file scanned and replaced: the
    // append feed sees the survivors {1,3} re-added (the documented
    // file-add view of a full COW rewrite)
    spark.sql(s"DELETE FROM $t WHERE key % 2 = 0")
    val sink = "cf_cow_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.table(t)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val keys = graft.streaming.MemorySinks.drain(spark, sink)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(keys === Seq(1L, 1L, 2L, 3L, 3L))
    spark.sql(s"DROP TABLE $t")

    // PUSHABLE condition ⇒ group-selective: files the zone maps
    // prove survivor-only are pruned from the rewrite and the feed
    // sees NO re-adds for them
    val t2 = snapTable("cf_cow_sel")
    spark.sql(s"INSERT INTO $t2 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"DELETE FROM $t2 WHERE key = 2")
    val sink2 = "cf_cow_sel_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q2 = spark.readStream.table(t2)
      .writeStream.format("memory").queryName(sink2)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val keys2 = graft.streaming.MemorySinks.drain(spark, sink2)
      .collect().map(_.getLong(0)).toSeq.sorted
    // the initial adds, plus re-adds ONLY for survivors that shared
    // a rewritten file with key 2 (none, when the VALUES insert
    // split rows across files)
    assert(keys2.take(3) === Seq(1L, 2L, 3L) &&
      !keys2.drop(3).contains(2L), keys2.toString)
    spark.sql(s"DROP TABLE $t2")
  }

  test("fresh stream after expiration starts at the oldest retained snapshot") {
    val t = snapTable("cf_exp")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b')")
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")
    spark.sql("CALL graft_kv.system.expire_snapshots(" +
      "table => 'default.cf_exp', keep_last => 1)")
    // v1/v2 manifests are gone; a NEW stream must anchor at the
    // oldest retained snapshot and drain its full membership — not
    // fail on the expired history (the pre-fix behavior).
    val sink = "cf_exp_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.table(t)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val keys = graft.streaming.MemorySinks.drain(spark, sink)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(keys === Seq(1L, 2L, 3L))
    spark.sql(s"DROP TABLE $t")
  }

  test("maxBytesPerTrigger admits many commits per batch; default " +
      "stays one-commit-per-batch") {
    val t = snapTable("cf_bytes")
    (1 to 6).foreach { i =>
      spark.sql(s"INSERT INTO $t VALUES ($i, 'v$i')")
    }
    def drain(opts: Map[String, String]): (Seq[Long], Int) = {
      val sink = "cf_bytes_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      var r = spark.readStream
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.table(t)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      val keys = graft.streaming.MemorySinks.drain(spark, sink)
        .collect().map(_.getLong(0)).toSeq.sorted
      (keys, batches)
    }
    // default: version grain — 6 commits, 6 non-empty batches
    val (defKeys, defBatches) = drain(Map.empty)
    assert(defKeys === (1L to 6L))
    assert(defBatches == 6, s"expected 6 one-commit batches: $defBatches")
    // a generous bytes target folds the whole history into ONE batch
    val (bigKeys, bigBatches) =
      drain(Map("maxBytesPerTrigger" -> "64m"))
    assert(bigKeys === (1L to 6L))
    assert(bigBatches == 1,
      s"expected the replay to collapse into one batch: $bigBatches")
    // a 1-byte target still progresses (at least one commit per batch)
    val (tinyKeys, tinyBatches) =
      drain(Map("maxBytesPerTrigger" -> "1"))
    assert(tinyKeys === (1L to 6L))
    assert(tinyBatches == 6,
      s"expected per-commit batches under a tiny target: $tinyBatches")
    spark.sql(s"DROP TABLE $t")
  }

  test("a checkpoint ahead of the table's history fails loud " +
      "(drop + recreate under the same name)") {
    val t = snapTable("cf_stale")
    val ckpt = SparkTestBase.tempDir("graft_cf_stale_ckpt").toString
    val out = SparkTestBase.tempDir("graft_cf_stale_out").toString
    def drain(): Unit = {
      val q = spark.readStream.table(t)
        .writeStream
        .format("graft.sources.KvJsonlSink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO $t VALUES ($i, 'a')"))
    drain() // checkpoint now at v3
    // the same table name, a NEW history with only v1
    spark.sql(s"DROP TABLE $t")
    snapTable("cf_stale")
    spark.sql(s"INSERT INTO $t VALUES (9, 'z')")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    def messages(e: Throwable): Seq[String] =
      if (e == null) Seq.empty
      else Option(e.getMessage).toSeq ++ messages(e.getCause)
    assert(messages(ex).exists(
        _.contains("does not belong to this table's history")),
      s"expected the stale-checkpoint error, got: ${messages(ex)}")
    spark.sql(s"DROP TABLE $t")
  }

  test("streaming read of an unsnapshotted table fails loud") {
    cat()
    val t = "graft_kv.default.cf_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    val ex = intercept[Exception] {
      val q = spark.readStream.table(t)
        .writeStream.format("memory")
        .queryName("cf_plain_sink")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(ex.getMessage != null)
    spark.sql(s"DROP TABLE $t")
  }
}
