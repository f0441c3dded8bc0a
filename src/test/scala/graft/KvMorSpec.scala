package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{KvBloom, KvBucketing, KvSnapshots}

/** Merge-on-read DML (`TBLPROPERTIES ('dml'='mor')`, KvMerge.scala):
  * DELETE commits positional tombstones WITHOUT rewriting surviving
  * rows (data-file set require()d unchanged), UPDATE appends new rows
  * and tombstones the old addresses, MERGE upserts through the same
  * delta path, reads apply tombstones on every path (including an
  * UPDATE's own rewrite scan — no resurrection), time travel and the
  * manifest COUNT(*) arithmetic stay exact, and the mode's invariants
  * (snapshots required, UNSET snapshots rejected) fail loud.
  */
class KvMorSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(table: String): String =
    graft.sources.KvGateTable(table).dir

  private def morTable(name: String): String = {
    cat()
    val t = s"graft_kv.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    t
  }

  private def manifestNames(d: String): Seq[String] =
    KvSnapshots.latest(d).toSeq
      .flatMap(v => KvSnapshots.members(d, v))

  private def seed(t: String, n: Int): Unit =
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id % 7) " +
      s"FROM range($n)")

  test("MoR DELETE: tombstones, not a rewrite") {
    val t = morTable("mor_del")
    seed(t, 1000)
    val d = dir("mor_del")
    val dataBefore = manifestNames(d).filterNot(KvSnapshots.isDeleteFile)
    spark.sql(s"DELETE FROM $t WHERE key % 10 = 0")
    val after = manifestNames(d)
    val dataAfter = after.filterNot(KvSnapshots.isDeleteFile)
    val dels = after.filter(KvSnapshots.isDeleteFile)
    // The merge-on-read contract: NOT ONE surviving row was
    // rewritten — the data-file set is byte-identical, the commit
    // added only tombstones.
    assert(dataAfter.sorted === dataBefore.sorted)
    assert(dels.nonEmpty)
    assert(spark.sql(s"SELECT count(*) c FROM $t")
      .head().getLong(0) === 900L)
    assert(spark.sql(
      s"SELECT count(*) c FROM $t WHERE key % 10 = 0")
      .head().getLong(0) === 0L)
    // Tombstone count is recorded in the manifest (the COUNT(*)
    // pushdown arithmetic): 100 deleted rows.
    val v = KvSnapshots.latest(d).get
    val delRows = KvSnapshots.deleteFiles(
      KvSnapshots.membersWithStats(d, v)).map(_.rows).sum
    assert(delRows === 100L)
    // Time travel: the pre-DELETE version still reads all rows.
    assert(spark.sql(s"SELECT count(*) c FROM $t VERSION AS OF 1")
      .head().getLong(0) === 1000L)
  }

  test("MoR manifest COUNT(*) pushdown stays exact; MIN/MAX declines") {
    val t = morTable("mor_cnt")
    seed(t, 500)
    spark.sql(s"DELETE FROM $t WHERE key >= 400")
    graft.sources.KvAggScan.served.set(0)
    assert(spark.sql(s"SELECT count(*) c FROM $t")
      .head().getLong(0) === 400L)
    assert(graft.sources.KvAggScan.served.get() > 0,
      "count(*) should still be manifest-answered under MoR")
    // MIN/MAX must NOT be manifest-answered (a tombstone may have
    // removed the extremal row — here it did: max went 499 → 399),
    // but the scan fallback must return the exact value.
    graft.sources.KvAggScan.served.set(0)
    assert(spark.sql(s"SELECT max(key) m FROM $t")
      .head().getLong(0) === 399L)
    assert(graft.sources.KvAggScan.served.get() === 0,
      "max(key) must decline the manifest answer when tombstones exist")
  }

  test("MoR UPDATE: delete+insert, no resurrection, old files kept") {
    val t = morTable("mor_upd")
    seed(t, 300)
    val d = dir("mor_upd")
    val dataBefore = manifestNames(d).filterNot(KvSnapshots.isDeleteFile)
    spark.sql(s"DELETE FROM $t WHERE key < 50")
    spark.sql(s"UPDATE $t SET value = concat('X-', value) " +
      s"WHERE key % 3 = 0")
    val after = manifestNames(d)
    // Original data files all still present (appended, never
    // rewritten), plus the update's new rows and both delete files.
    assert(dataBefore.forall(after.contains))
    assert(after.count(KvSnapshots.isDeleteFile) >= 2)
    val rows = spark.sql(
      s"SELECT key, value FROM $t ORDER BY key").collect()
    assert(rows.length === 250)
    // No resurrection: the UPDATE's rewrite scan must not have seen
    // the previously deleted keys (< 50), even those matching its
    // condition (key % 3 = 0).
    assert(rows.forall(_.getLong(0) >= 50))
    rows.foreach { r =>
      val k = r.getLong(0)
      val expect =
        if (k % 3 == 0) s"X-v${k % 7}" else s"v${k % 7}"
      assert(r.getString(1) === expect, s"key $k")
    }
  }

  test("MoR MERGE: upsert through the delta path") {
    val t = morTable("mor_mrg")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) " +
      s"FROM range(0, 100, 2)") // evens 0..98
    spark.sql("SELECT id AS key, concat('M-', id) AS value " +
      "FROM range(0, 90, 3)") // multiples of 3 below 90
      .createOrReplaceTempView("mor_mrg_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING mor_mrg_src AS src
         |ON tgt.key = src.key
         |WHEN MATCHED THEN UPDATE SET value = src.value
         |WHEN NOT MATCHED THEN INSERT (key, value)
         |  VALUES (src.key, src.value)""".stripMargin)
    val got = spark.sql(s"SELECT key, value FROM $t ORDER BY key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = ((0L until 100L by 2) ++ (0L until 90L by 3)).distinct
      .sorted.map { k =>
        (k, if (k % 3 == 0 && k < 90) s"M-$k" else s"v$k")
      }
    assert(got === expect)
    // Delta, not rewrite: the merge added tombstones for the matched
    // updates instead of replacing the table.
    assert(manifestNames(dir("mor_mrg"))
      .exists(KvSnapshots.isDeleteFile))
  }

  test("_pos metadata column is the stable physical line address") {
    val t = morTable("mor_pos")
    seed(t, 20)
    val pos = spark.sql(s"SELECT key, _pos FROM $t ORDER BY key")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pos.length === 20)
    // Positions are dense per file starting at 0; with range(20)
    // written in one or few tasks, every position is < 20 and
    // positions within a file are unique.
    assert(pos.forall(_._2 >= 0))
    assert(pos.forall(_._2 < 20))
    // After a delete, survivors keep their ORIGINAL positions
    // (addresses are physical, not logical).
    val before = pos.toMap
    spark.sql(s"DELETE FROM $t WHERE key % 2 = 0")
    val after = spark.sql(s"SELECT key, _pos FROM $t ORDER BY key")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.length === 10)
    after.foreach { case (k, p) => assert(before(k) === p, s"key $k") }
  }

  test("mode invariants fail loud") {
    cat()
    val t = "graft_kv.default.mor_bad"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // mor without snapshots
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
        "TBLPROPERTIES ('dml'='mor')")
    }
    assert(e1.getMessage.contains("requires"))
    // bad dml value
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'dml'='sideways')")
    }
    assert(e2.getMessage.contains("cow or mor"))
    // UNSET snapshots on a mor table would drop the tombstones
    val t2 = morTable("mor_unset")
    seed(t2, 10)
    spark.sql(s"DELETE FROM $t2 WHERE key = 1")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t2 UNSET TBLPROPERTIES ('snapshots')")
    }
    assert(e3.getMessage.contains("merge-on-read"))
    // expire_snapshots keeps the MoR current state readable
    spark.sql("CALL graft_kv.system.expire_snapshots(" +
      "table => 'default.mor_unset', keep_last => 1)")
    assert(spark.sql(s"SELECT count(*) c FROM $t2")
      .head().getLong(0) === 9L)
  }

  test("MoR inserts publish their bloom sidecars") {
    cat()
    val t = "graft_kv.default.mor_bloom"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor', " +
      "'bloom_cols'='value')")
    seed(t, 100)
    val d = dir("mor_bloom")
    val seeded = manifestNames(d).toSet
    // UPDATE is delete + insert: the re-inserted rows land in new
    // data files, which must carry sidecars like any other write's
    spark.sql(s"UPDATE $t SET value = 'u' WHERE key < 10")
    val inserted = manifestNames(d)
      .filterNot(seeded).filterNot(KvSnapshots.isDeleteFile)
    assert(inserted.nonEmpty)
    (seeded.toSeq ++ inserted).foreach { n =>
      assert(Files.isRegularFile(Paths.get(d, KvBloom.sidecarName(n))),
        s"no bloom sidecar for $n")
    }
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE value = 'u'")
      .head().getLong(0) === 10L)
  }

  test("MoR inserts during an in-flight rebucket route by the target") {
    cat()
    val t = "graft_kv.default.mor_rbk"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    seed(t, 40)
    val d = dir("mor_rbk")
    // a rebucket to 8 is in flight (marked, not yet rewritten)
    KvBucketing.writeMeta(d,
      KvBucketing.readMetaFull(d).copy(rebucketTarget = Some(8)))
    val before = manifestNames(d).toSet
    spark.sql(s"UPDATE $t SET value = 'u' WHERE key >= 20")
    val added = manifestNames(d)
      .filterNot(before).filterNot(KvSnapshots.isDeleteFile).toSet
    val moved = spark.sql(s"SELECT key, _file FROM $t WHERE value = 'u'")
      .collect()
    assert(moved.length === 20)
    moved.foreach { r =>
      val name = Paths.get(r.getString(1)).getFileName.toString
      assert(added(name), s"$name is not one of the UPDATE's files")
      assert(KvBucketing.fileBucket(name) ===
        Some(KvBucketing.bucketOf(r.getLong(0), 8)),
        s"key ${r.getLong(0)} in $name is not routed by the target count")
    }
  }
}
