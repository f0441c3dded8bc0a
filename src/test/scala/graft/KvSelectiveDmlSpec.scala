package graft

import java.nio.file.Paths

import graft.sources.{KvSnapshots, KvZoneMap}

/** GROUP-SELECTIVE copy-on-write DML: the rewrite scan prunes files
  * the pushed DML condition provably cannot touch (zone maps /
  * partition tokens), and the commit replaces EXACTLY the files the
  * scan planned — pruned files survive byte-identical. The spine of
  * every test: rows after the DML are exact, and untouched files
  * keep their NAMES across the commit (names are content-addressed
  * by write job, so a surviving name proves no rewrite).
  */
class KvSelectiveDmlSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def fresh(t: String, ddl: String, props: String =
      "TBLPROPERTIES ('snapshots'='true')"): String = {
    cat()
    val full = s"graft_kv.default.$t"
    spark.sql(s"DROP TABLE IF EXISTS $full")
    spark.sql(s"CREATE TABLE $full ($ddl) $props")
    full
  }

  private def memberNames(t: String): Set[String] =
    KvSnapshots.latest(dir(t)).map(v =>
      KvSnapshots.dataFiles(
        KvSnapshots.membersWithStats(dir(t), v)).map(_.name).toSet)
      .getOrElse(Set.empty)

  test("DELETE with a pushable key range rewrites ONLY the files " +
      "that can match; pruned files survive by name") {
    val t = fresh("sd_key", "key BIGINT, value STRING")
    for (b <- 0 to 2)
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING) " +
        s"FROM range(${b * 1000}, ${b * 1000 + 100})")
    val before = memberNames("sd_key")
    val pruneBefore = KvZoneMap.prunedFiles.get()
    spark.sql(s"DELETE FROM $t WHERE key >= 2000")
    assert(KvZoneMap.prunedFiles.get() > pruneBefore,
      "the DML scan did not file-prune on the pushed condition")
    val after = memberNames("sd_key")
    // bands 0 and 1 survive as the SAME files; band 2's are gone
    val survivors = before intersect after
    assert(survivors.nonEmpty,
      s"no file survived the selective rewrite\n$before\n$after")
    // correctness: exactly the sub-2000 rows remain
    assert(spark.table(t).count() === 200)
    assert(spark.sql(s"SELECT max(key) FROM $t").collect()
      .head.getLong(0) === 1099L)
  }

  test("UPDATE with a pushable extra-column condition is " +
      "group-selective too") {
    val t = fresh("sd_upd", "key BIGINT, value STRING, amt DOUBLE")
    spark.sql(s"INSERT INTO $t SELECT id, 'low', 1.0 " +
      "FROM range(0, 50)")
    spark.sql(s"INSERT INTO $t SELECT id, 'high', 1000.0 " +
      "FROM range(100, 150)")
    val before = memberNames("sd_upd")
    spark.sql(s"UPDATE $t SET value = 'flagged' WHERE amt > 500.0")
    val after = memberNames("sd_upd")
    assert((before intersect after).nonEmpty,
      "the low-amt files should have survived unrewritten")
    assert(spark.sql(s"SELECT count(*) FROM $t " +
      "WHERE value = 'flagged'").collect().head.getLong(0) === 50L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE value = 'low'")
      .collect().head.getLong(0) === 50L)
  }

  test("an UNPUSHABLE condition still rewrites the whole table " +
      "correctly (the pre-selective behavior, now as fallback)") {
    val t = fresh("sd_full", "key BIGINT, value STRING")
    spark.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(0, 100)")
    spark.sql(s"DELETE FROM $t WHERE key % 2 = 0")
    assert(spark.table(t).count() === 50)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE key % 2 = 0")
      .collect().head.getLong(0) === 0L)
  }

  test("the old DELETE key = 2 hazard stays dead: equality DML " +
      "keeps every survivor") {
    val t = fresh("sd_eq", "key BIGINT, value STRING")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"DELETE FROM $t WHERE key = 2")
    assert(spark.table(t).orderBy("key").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  test("a DML whose condition prunes EVERY file is a no-op commit — " +
      "no snapshot churn") {
    val t = fresh("sd_noop", "key BIGINT, value STRING")
    spark.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(0, 10)")
    val v = KvSnapshots.latest(dir("sd_noop")).get
    spark.sql(s"DELETE FROM $t WHERE key > 1000000")
    assert(KvSnapshots.latest(dir("sd_noop")).get === v,
      "an all-pruned DML must not commit a new version")
    assert(spark.table(t).count() === 10)
  }

  test("date-partitioned table: DELETE on a time range rewrites only " +
      "the matching partitions' files") {
    val t = fresh("sd_part", "key BIGINT, value STRING, ts TIMESTAMP",
      "PARTITIONED BY (years(ts)) TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'a', TIMESTAMP'1995-06-01 00:00:00'), " +
      "(2, 'b', TIMESTAMP'1997-06-01 00:00:00')")
    val before = memberNames("sd_part")
    spark.sql(s"DELETE FROM $t " +
      "WHERE ts >= TIMESTAMP'1997-01-01 00:00:00'")
    val after = memberNames("sd_part")
    // the 1995 file must survive by name
    assert((before intersect after).exists(_.contains("-y25")),
      s"1995 file rewritten\n$before\n$after")
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("unsnapshotted table: selective DML deletes only the scanned " +
      "files from disk") {
    val t = fresh("sd_plain", "key BIGINT, value STRING", props = "")
    spark.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(0, 50)")
    spark.sql(s"INSERT INTO $t SELECT id, 'y' FROM range(5000, 5050)")
    def disk: Set[String] = {
      val s = java.nio.file.Files.list(Paths.get(dir("sd_plain")))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".jsonl")).toSet
      } finally s.close()
    }
    val before = disk
    spark.sql(s"DELETE FROM $t WHERE key >= 5000")
    // unsnapshotted tables have no zone maps (no manifest), so the
    // scan lists everything — but the selective commit still deletes
    // exactly what was scanned, and correctness holds
    assert(spark.table(t).count() === 50)
    assert(spark.sql(s"SELECT max(key) FROM $t").collect()
      .head.getLong(0) === 49L)
    assert(disk.nonEmpty && (disk intersect before) === Set.empty ||
      (disk -- before).nonEmpty) // replacement files are new names
  }

  test("MoR tables keep their delta semantics; condition pruning " +
      "just narrows the scan") {
    val t = fresh("sd_mor", "key BIGINT, value STRING",
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 100)")
    spark.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(1000, 1100)")
    val before = memberNames("sd_mor")
    spark.sql(s"DELETE FROM $t WHERE key >= 1000 AND key < 1010")
    // MoR: every data file survives (tombstones only)
    assert((before -- memberNames("sd_mor")).isEmpty)
    assert(spark.table(t).count() === 190)
  }
}
