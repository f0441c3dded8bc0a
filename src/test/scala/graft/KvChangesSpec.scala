package graft

import graft.sources.KvSnapshots

/** The `t$changes` CDC table (KvChanges.scala): batch replay of the
  * retained commit history as typed change rows — inserts from
  * appends, deletes from MoR tombstones (with the actual deleted
  * values resolved from the retained data files), restatement
  * delete+insert pairs from a copy-on-write overwrite, the
  * initial-snapshot degradation after expiration, and the streaming
  * twin's one-commit-per-batch drain.
  */
class KvChangesSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def fresh(name: String, mor: Boolean): String = {
    cat()
    val t = s"graft_kv.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val props =
      if (mor) "'snapshots'='true', 'dml'='mor'" else "'snapshots'='true'"
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      s"TBLPROPERTIES ($props)")
    t
  }

  private def changes(name: String) =
    spark.sql(s"SELECT key, value, _change_type, _commit_version " +
      s"FROM graft_kv.default.`$name$$changes` " +
      "ORDER BY _commit_version, _change_type, key")

  test("insert + MoR delete history replays exactly") {
    val t = fresh("cdc_mor", mor = true)
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 10)") // v1
    spark.sql(s"INSERT INTO $t SELECT id, concat('b', id) " +
      "FROM range(10, 20)") // v2
    spark.sql(s"DELETE FROM $t WHERE key % 5 = 0") // v3: 0,5,10,15
    val got = changes("cdc_mor").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq
    val expect =
      (0L until 10L).map(k => (k, s"a$k", "insert", 1)) ++
        (10L until 20L).map(k => (k, s"b$k", "insert", 2)) ++
        Seq(0L, 5L, 10L, 15L).map(k =>
          (k, (if (k < 10) s"a$k" else s"b$k"), "delete", 3))
    assert(got === expect)
  }

  test("copy-on-write DML restates at FILE granularity — which, " +
      "group-selective, means pruned files add NO churn") {
    val t = fresh("cdc_cow", mor = false)
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 6)") // v1
    spark.sql(s"DELETE FROM $t WHERE key >= 4") // v2: selective CoW
    val got = changes("cdc_cow").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq
    // The pushable condition pruned every file holding only keys < 4
    // out of the rewrite, so v2's file-granular diff is exactly the
    // semantic change — deletes of the matched rows, plus re-inserts
    // ONLY for survivors that shared a file with a matched row.
    val inserts = (0L until 6L).map(k => (k, s"a$k", "insert", 1))
    assert(got.take(6) === inserts)
    val v2 = got.drop(6)
    val (dels, ins) = v2.partition(_._3 == "delete")
    // every matched row is deleted exactly once...
    assert(dels.filter(d => d._1 >= 4L).map(_._1).sorted ===
      Seq(4L, 5L))
    // ...and the net effect of v2 (inserts − deletes, per key) is
    // "keys >= 4 gone, keys < 4 present" — restated survivors cancel
    val net = (0L until 6L).map { k =>
      k -> (ins.count(_._1 == k) - dels.count(_._1 == k) +
        (if (k < 6) 1 else 0)) // +1 for the v1 insert
    }.toMap
    assert((0L until 4L).forall(net(_) == 1), s"v2=$v2")
    assert((4L until 6L).forall(net(_) == 0), s"v2=$v2")
    // selectivity observable in the feed: no delete of key 0 at v2
    // (its file was pruned from the rewrite)
    assert(!dels.exists(_._1 == 0L), s"v2=$v2")
  }

  test("copy-on-write DML with an UNPUSHABLE condition restates the " +
      "scanned files as delete+insert (the documented fallback)") {
    val t = fresh("cdc_cow_full", mor = false)
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 6)") // v1
    spark.sql(s"DELETE FROM $t WHERE key % 5 = 4") // v2: full rewrite
    val got = changes("cdc_cow_full").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq
    // unpushable ⇒ every file scanned and replaced: 6 deletes, 5
    // survivor re-inserts at v2
    val expect =
      (0L until 6L).map(k => (k, s"a$k", "insert", 1)) ++
        (0L until 6L).map(k => (k, s"a$k", "delete", 2)) ++
        (0L until 6L).filter(_ % 5 != 4).map(k =>
          (k, s"a$k", "insert", 2))
    assert(got === expect)
  }

  test("net-of-prior-tombstones: CoW after MoR never re-deletes") {
    val t = fresh("cdc_net", mor = true)
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 8)") // v1
    spark.sql(s"DELETE FROM $t WHERE key < 2") // v2: tombstones 0,1
    spark.sql(s"INSERT OVERWRITE $t SELECT id, concat('z', id) " +
      "FROM range(100, 102)") // v3: truncate-replace
    val got = changes("cdc_net").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq
    val expect =
      (0L until 8L).map(k => (k, s"a$k", "insert", 1)) ++
        Seq(0L, 1L).map(k => (k, s"a$k", "delete", 2)) ++
        // v3 deletes only the rows LIVE at v2 (2..7 — 0,1 were
        // already dead and must not be re-reported)...
        (2L until 8L).map(k => (k, s"a$k", "delete", 3)) ++
        // ...and inserts the replacement rows.
        (100L until 102L).map(k => (k, s"z$k", "insert", 3))
    assert(got === expect)
  }

  test("rollback across a MoR delete emits resurrection inserts") {
    val t = fresh("cdc_rb", mor = true)
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 6)") // v1
    spark.sql(s"DELETE FROM $t WHERE key < 2") // v2: tombstones 0,1
    spark.sql("CALL graft_kv.system.rollback(" +
      "table => 'default.cdc_rb', version => 1)") // v3 = v1 membership
    val got = changes("cdc_rb").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq
    // v3 removed the delete file while its data file stayed a member:
    // rows 0,1 are LIVE again, so the commit's row-set diff must
    // report them as inserts — a CDC consumer folding the feed (the
    // incremental-MV shape) otherwise silently loses them.
    val expect =
      (0L until 6L).map(k => (k, s"a$k", "insert", 1)) ++
        Seq(0L, 1L).map(k => (k, s"a$k", "delete", 2)) ++
        Seq(0L, 1L).map(k => (k, s"a$k", "insert", 3))
    assert(got === expect)
    // and the fold of the feed reproduces the table's current state
    val folded = spark.sql(
      s"SELECT sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 " +
        s"END) AS n FROM graft_kv.default.`cdc_rb$$changes`")
      .head.getLong(0)
    assert(folded ==
      spark.sql(s"SELECT count(*) FROM $t").head.getLong(0))
  }

  test("expiration degrades the oldest version to an initial snapshot") {
    val t = fresh("cdc_exp", mor = true)
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 6)") // v1
    spark.sql(s"DELETE FROM $t WHERE key = 0") // v2
    spark.sql(s"INSERT INTO $t SELECT id, concat('c', id) " +
      "FROM range(6, 8)") // v3
    spark.sql("CALL graft_kv.system.expire_snapshots(" +
      "table => 'default.cdc_exp', keep_last => 2)") // v1 gone
    val got = changes("cdc_exp").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq
    // v2 becomes the anchor: its full LIVE membership (tombstone 0
    // applied) as inserts; v3 is an exact diff from there.
    val expect =
      (1L until 6L).map(k => (k, s"a$k", "insert", 2)) ++
        (6L until 8L).map(k => (k, s"c$k", "insert", 3))
    assert(got === expect)
  }

  test("streaming: one commit per micro-batch of typed changes") {
    val t = fresh("cdc_stream", mor = true)
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 50)") // v1
    spark.sql(s"DELETE FROM $t WHERE key % 10 = 0") // v2
    spark.sql(s"INSERT INTO $t SELECT id, concat('b', id) " +
      "FROM range(50, 60)") // v3
    val sink = "cdc_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream
      .table(s"graft_kv.default.`cdc_stream$$changes`")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) === 3,
      "expected exactly one data micro-batch per commit")
    val rows = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq.sorted
    val expect = (
      (0L until 50L).map(k => (k, s"a$k", "insert", 1)) ++
        (0L until 50L by 10).map(k => (k, s"a$k", "delete", 2)) ++
        (50L until 60L).map(k => (k, s"b$k", "insert", 3))).sorted
    assert(rows === expect)
  }

  test("streaming: maxBytesPerTrigger folds many commits into one " +
      "batch, same change rows") {
    val t = fresh("cdc_bytes", mor = true)
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 50)") // v1
    spark.sql(s"DELETE FROM $t WHERE key % 10 = 0") // v2
    spark.sql(s"INSERT INTO $t SELECT id, concat('b', id) " +
      "FROM range(50, 60)") // v3
    val sink = "cdc_bytes_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream
      .option("maxBytesPerTrigger", "64m")
      .table(s"graft_kv.default.`cdc_bytes$$changes`")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) === 1,
      "a generous bytes target must fold the replay into one batch")
    // the fold grain changed; the CHANGE ROWS must not — every row
    // still carries its own _commit_version
    val rows = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq.sorted
    val expect = (
      (0L until 50L).map(k => (k, s"a$k", "insert", 1)) ++
        (0L until 50L by 10).map(k => (k, s"a$k", "delete", 2)) ++
        (50L until 60L).map(k => (k, s"b$k", "insert", 3))).sorted
    assert(rows === expect)
  }

  test("$changes demands a snapshotted base and a real base table") {
    cat()
    val t = "graft_kv.default.cdc_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_kv.default.`cdc_plain$$changes`")
        .collect()
    }
    assert(e.getMessage.contains("snapshotted"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_kv.default.`nope$$changes`")
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("nope"))
  }
}
