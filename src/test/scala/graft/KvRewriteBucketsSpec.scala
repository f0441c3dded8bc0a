package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{KvBucketing, KvJsonlSink, KvSnapshots}

/** `system.rewrite_buckets` — per-bucket compaction
  * (KvProcedures.scala): a fragmented bucketed table rewrites to ONE
  * key-sorted file per bucket, restoring the ordering report a sorted
  * bucketed table loses after appends, and folding merge-on-read
  * tombstones into the rewrite. Atomicity rides the standard manifest
  * flip (old snapshots stay readable).
  */
class KvRewriteBucketsSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dirOf(table: String): String =
    graft.sources.KvGateTable(table).dir

  private def scanOrdering(table: String): Int = {
    val df = spark.sql(s"SELECT key, value FROM $table")
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.ordering.map(_.size).getOrElse(0)
    }.sum
  }

  test("fragmented sorted buckets → 1 sorted file each; report returns") {
    cat()
    val t = "graft_kv.default.rb_main"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 400)")
    spark.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(400, 800)")
    // fragmented buckets still report ordering (merge read) — the
    // rewrite is FILE-COUNT maintenance, not a claim restorer
    assert(scanOrdering(t) > 0, "2 files/bucket must merge-read and " +
      "keep reporting")
    val out = spark.sql("CALL graft_kv.system.rewrite_buckets(" +
      "table => 'default.rb_main')").collect()(0)
    assert(out.getLong(0) === 8L) // files_before
    assert(out.getLong(1) === 4L) // files_after
    assert(out.getLong(3) === 800L) // n_rows
    assert(scanOrdering(t) > 0, "ordering report must hold after " +
      "the rewrite")
    // layout: each file key-ascending and bucket-pure
    val dir = Paths.get(dirOf("rb_main"))
    val latest = KvSnapshots.latest(dir.toString).get
    KvSnapshots.dataFiles(
      KvSnapshots.membersWithStats(dir.toString, latest)).foreach { st =>
      val keys = Files.readAllLines(dir.resolve(st.name)).asScala
        .filter(_.nonEmpty)
        .map(l => KvJsonlSink.parseKey(l).get.asInstanceOf[Long])
      assert(keys == keys.sorted, s"${st.name} not sorted")
      val b = KvBucketing.fileBucket(st.name).get
      assert(keys.forall(k => java.lang.Math.floorMod(k, 4L) == b))
    }
    // the pre-rewrite snapshot stays time-travel readable
    assert(spark.sql(
      s"SELECT count(*) FROM $t VERSION AS OF ${latest - 1}")
      .collect()(0).getLong(0) === 800L)
  }

  test("MoR tombstones fold into the rewrite") {
    cat()
    val t = "graft_kv.default.rb_mor"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    spark.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(0, 100)")
    spark.sql(s"DELETE FROM $t WHERE key < 40")
    val out = spark.sql("CALL graft_kv.system.rewrite_buckets(" +
      "table => 'default.rb_mor')").collect()(0)
    assert(out.getLong(2) >= 1L, "expected tombstone files folded")
    assert(out.getLong(3) === 60L)
    val dir = dirOf("rb_mor")
    val latest = KvSnapshots.latest(dir).get
    assert(KvSnapshots.deleteFiles(
      KvSnapshots.membersWithStats(dir, latest)).isEmpty)
    assert(spark.sql(s"SELECT min(key) FROM $t").collect()(0)
      .getLong(0) === 40L)
  }

  test("rejects plain and unsnapshotted tables") {
    cat()
    val t = "graft_kv.default.rb_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val e = intercept[Exception] {
      spark.sql("CALL graft_kv.system.rewrite_buckets(" +
        "table => 'default.rb_plain')").collect()
    }
    assert(e.getMessage.contains("bucketed"))
    val t2 = "graft_kv.default.rb_nosnap"
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"CREATE TABLE $t2 (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key))")
    val e2 = intercept[Exception] {
      spark.sql("CALL graft_kv.system.rewrite_buckets(" +
        "table => 'default.rb_nosnap')").collect()
    }
    assert(e2.getMessage.contains("snapshotted"))
  }
}
