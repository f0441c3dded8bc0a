package graft

import java.nio.file.{Files, Paths}

import graft.sources.KvSnapshots

/** Round-14 snapshot-lifecycle procedures (KvProcedures.scala):
  * `system.cluster` rewrites sorted-by-key with DISJOINT per-file
  * ranges (the layout that makes zone-map pruning effective),
  * `system.rollback` restores a prior version as a new commit with
  * history intact, `system.vacuum` deletes exactly the files no
  * retained manifest references. Each procedure's refusal edges fail
  * loud (unsnapshotted table, expired version).
  */
class KvProceduresSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(table: String): String =
    graft.sources.KvGateTable(table).dir

  private def snapTable(name: String, props: String = ""): String = {
    cat()
    val t = s"graft_kv.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      s"TBLPROPERTIES ('snapshots'='true'$props)")
    t
  }

  private def stats(d: String): Seq[KvSnapshots.KvFileStat] =
    KvSnapshots.dataFiles(
      KvSnapshots.membersWithStats(d, KvSnapshots.latest(d).get))

  test("cluster: sorted rewrite yields disjoint per-file key ranges") {
    val t = snapTable("proc_cluster")
    // hash-scattered: every file spans nearly the full key range
    spark.sql(s"INSERT INTO $t " +
      "SELECT /*+ REPARTITION(6) */ id, concat('v', id % 5) " +
      "FROM range(10000)")
    val before = stats(dir("proc_cluster"))
    assert(before.size == 6)
    // scattered layout: ranges overlap pairwise
    val overlapping = before.combinations(2).count {
      case Seq(a, b) =>
        a.minKey.get <= b.maxKey.get && b.minKey.get <= a.maxKey.get
    }
    assert(overlapping > 0, "test setup: expected overlapping ranges")

    val res = spark.sql(
      "CALL graft_kv.system.cluster(table => 'default.proc_cluster', " +
        "target_files => 4)").collect().head
    assert(res.getLong(0) == 6 && res.getLong(1) == 4)
    assert(res.getLong(2) == 10000)

    val after = stats(dir("proc_cluster"))
    assert(after.size == 4)
    // disjoint and complete: sorted ranges tile [0, 9999]
    val ranges = after.map(s => (s.minKey.get, s.maxKey.get)).sorted
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo,
        s"ranges overlap after cluster: $ranges")
      case _ =>
    }
    assert(ranges.head._1 == 0 && ranges.last._2 == 9999)
    // content unchanged
    assert(spark.sql(s"SELECT sum(key) FROM $t").head.getLong(0) ==
      (0L until 10000L).sum)
  }

  test("cluster: materializes MoR tombstones into the new layout") {
    val t = snapTable("proc_cluster_mor", ", 'dml'='mor'")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id % 5) " +
      "FROM range(1000)")
    spark.sql(s"DELETE FROM $t WHERE key % 4 = 0")
    val d = dir("proc_cluster_mor")
    assert(KvSnapshots.deleteFiles(KvSnapshots.membersWithStats(
      d, KvSnapshots.latest(d).get)).nonEmpty)
    spark.sql(
      "CALL graft_kv.system.cluster(" +
        "table => 'default.proc_cluster_mor', target_files => 2)")
    // the new snapshot carries no tombstones and only live rows
    val m = KvSnapshots.membersWithStats(d, KvSnapshots.latest(d).get)
    assert(KvSnapshots.deleteFiles(m).isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 750)
  }

  test("cluster: refuses unsnapshotted and bucketed tables") {
    cat()
    val t = "graft_kv.default.proc_cluster_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    val e = intercept[Exception](spark.sql(
      "CALL graft_kv.system.cluster(" +
        "table => 'default.proc_cluster_plain')"))
    assert(e.getMessage.contains("snapshotted"))
  }

  test("rollback: restores a prior version, history stays linear") {
    val t = snapTable("proc_rb")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(100)")
    spark.sql(s"INSERT INTO $t SELECT id + 100, 'b' FROM range(50)")
    spark.sql(s"DELETE FROM $t WHERE key < 10")
    val res = spark.sql(
      "CALL graft_kv.system.rollback(table => 'default.proc_rb', " +
        "version => 2)").collect().head
    assert(res.getLong(0) == 3 && res.getLong(1) == 2 &&
      res.getLong(2) == 4)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 150)
    // rolled-back-over version remains readable
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 3")
      .head.getLong(0) == 140)
    val d = dir("proc_rb")
    assert(KvSnapshots.versions(d) == Seq(1, 2, 3, 4))
  }

  test("rollback: fails loud on an unknown or expired version") {
    val t = snapTable("proc_rb_bad")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(10)")
    val e = intercept[Exception](spark.sql(
      "CALL graft_kv.system.rollback(table => 'default.proc_rb_bad', " +
        "version => 9)"))
    assert(e.getMessage.contains("no snapshot"))
  }

  test("vacuum: deletes only aged unreferenced files, spares scratch") {
    val t = snapTable("proc_vac")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(100)")
    spark.sql(s"INSERT INTO $t SELECT id + 100, 'b' FROM range(100)")
    val d = Paths.get(dir("proc_vac"))
    Files.write(d.resolve("orphan.jsonl"),
      "{\"key\":1,\"value\":\"ghost\"}\n".getBytes("UTF-8"))
    Files.setLastModifiedTime(d.resolve("orphan.jsonl"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 4L * 24 * 3600 * 1000))
    // a concurrent commit's just-published (not yet manifested) file:
    // fresh mtime, so the default grace window must spare it
    Files.write(d.resolve("inflight.jsonl"),
      "{\"key\":2,\"value\":\"committing\"}\n".getBytes("UTF-8"))
    Files.createDirectories(d.resolve("_temporary").resolve("job-x"))
    Files.write(
      d.resolve("_temporary").resolve("job-x").resolve("att.jsonl"),
      "{}".getBytes("UTF-8"))
    val res = spark.sql(
      "CALL graft_kv.system.vacuum(table => 'default.proc_vac')")
      .collect().head
    assert(res.getLong(1) == 1, s"expected 1 aged orphan deleted: $res")
    assert(!Files.exists(d.resolve("orphan.jsonl")))
    // fresh orphan, in-flight scratch and metadata survive
    assert(Files.exists(d.resolve("inflight.jsonl")),
      "grace window violated: fresh file deleted")
    assert(Files.exists(
      d.resolve("_temporary").resolve("job-x").resolve("att.jsonl")))
    assert(Files.isDirectory(d.resolve(KvSnapshots.DirName)))
    // every retained version still reads (vacuum must respect ALL
    // manifests, not just the latest)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1")
      .head.getLong(0) == 100)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 200)
    // older_than_ms => 0 disables the grace window explicitly
    val res0 = spark.sql(
      "CALL graft_kv.system.vacuum(table => 'default.proc_vac', " +
        "older_than_ms => 0)").collect().head
    assert(res0.getLong(1) == 1, s"expected the fresh orphan: $res0")
    assert(!Files.exists(d.resolve("inflight.jsonl")))
  }

  test("vacuum then expire compose: expire drops history, vacuum noop") {
    val t = snapTable("proc_vac_exp")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(100)")
    spark.sql(s"INSERT OVERWRITE $t SELECT id, 'b' FROM range(50)")
    spark.sql(
      "CALL graft_kv.system.expire_snapshots(" +
        "table => 'default.proc_vac_exp', keep_last => 1)")
    val res = spark.sql(
      "CALL graft_kv.system.vacuum(table => 'default.proc_vac_exp')")
      .collect().head
    assert(res.getLong(1) == 0,
      s"expire already reclaimed everything; vacuum found: $res")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 50)
  }
}
