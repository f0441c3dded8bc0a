package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{KvBucketing, KvJsonlSink}

/** Sorted BUCKETED kv tables ('write.sort'='key' + bucket(n, key)):
  * every write requests (bucket, key) ordering so each bucket's file
  * is key-ascending, and the scan reports that ordering through
  * SupportsReportOrdering — which lets a storage-partitioned join
  * skip BOTH its exchanges AND its sorts (the full Iceberg
  * bucket+sort-order layout payoff). The report is layout-honest:
  * a bucket holding two files (post-append) concatenates them, so
  * the scan stops reporting until a rewrite restores one file per
  * bucket; results stay correct either way, only the plan changes.
  * The `catalog_sorted_join` gate pins the sort-free+shuffle-free
  * plan and the joined rows against DuckDB.
  */
class KvSortedBucketSpec extends SparkTestBase {

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

  test("bucketed+sorted write: every bucket file is key-ascending") {
    cat()
    val t = "graft_kv.default.sb_layout"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    // the standing sort is a visible table property (DESCRIBE/SHOW
    // TBLPROPERTIES round-trips what CREATE declared)
    val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("write.sort") === Some("key"))
    // reversed input: only the requested ordering can sort it
    spark.sql(s"INSERT INTO $t SELECT 1000 - id, 'v' FROM range(0, 1000)")
    val dir = Paths.get(dirOf("sb_layout"))
    val files = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".jsonl")).toSeq
    assert(files.size === 4, s"expected 1 file per bucket, got $files")
    files.foreach { f =>
      val keys = Files.readAllLines(dir.resolve(f)).asScala
        .filter(_.nonEmpty)
        .map(l => KvJsonlSink.parseKey(l).get.asInstanceOf[Long])
      assert(keys == keys.sorted, s"$f is not key-ascending")
      val b = KvBucketing.fileBucket(f).get
      assert(keys.forall(k => java.lang.Math.floorMod(k, 4L) == b))
    }
  }

  test("ordering holds across appends: fragmented buckets merge-read") {
    cat()
    val t = "graft_kv.default.sb_report"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 100)")
    assert(scanOrdering(t) > 0,
      "single-file-per-bucket sorted table must report ordering")
    // a second append fragments every bucket (2 sorted files each,
    // INTERLEAVED key ranges) — the claim STANDS because the reader
    // k-way merges (KvMergingBucketReader), and the merged partitions
    // must actually BE key-ascending
    spark.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(100, 200)")
    assert(scanOrdering(t) > 0,
      "fragmented sorted buckets must still report (merge read)")
    val perPartition = spark.sql(s"SELECT key FROM $t")
      .rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq))
      .collect()
    assert(perPartition.count(_.nonEmpty) === 4)
    perPartition.foreach { keys =>
      assert(keys == keys.sorted,
        s"merge read emitted an unsorted partition: $keys")
    }
    assert(perPartition.map(_.size).sum === 200)
  }

  test("merge read applies each file's MoR-style tombstones — CoW " +
      "DML then append keeps merged rows exact") {
    cat()
    val t = "graft_kv.default.sb_merge_dml"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 50)")
    spark.sql(s"DELETE FROM $t WHERE key >= 40")
    spark.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(25, 60)")
    val keys = spark.sql(s"SELECT key FROM $t ORDER BY key")
      .collect().map(_.getLong(0)).toSeq
    assert(keys === ((0L until 40L) ++ (25L until 60L)).sorted)
  }

  test("plain sorted table reports ordering (one sorted file per part)") {
    cat()
    val t = "graft_kv.default.sb_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    spark.sql(s"INSERT INTO $t SELECT 500 - id, 'x' FROM range(0, 500)")
    assert(scanOrdering(t) > 0)
    // appends keep per-file sortedness → still reported (each
    // partition IS one file on an unbucketed table)
    spark.sql(s"INSERT INTO $t SELECT 900 - id, 'y' FROM range(0, 100)")
    assert(scanOrdering(t) > 0)
  }

  test("sorted SPJ join: zero shuffles AND zero sorts below the join") {
    cat()
    val t1 = "graft_kv.default.sb_join_a"
    val t2 = "graft_kv.default.sb_join_b"
    for (t <- Seq(t1, t2)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
        "PARTITIONED BY (bucket(4, key)) " +
        "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    }
    spark.sql(s"INSERT INTO $t1 SELECT id, concat('a', id % 7) " +
      "FROM range(0, 2000)")
    spark.sql(s"INSERT INTO $t2 SELECT id, concat('b', id % 5) " +
      "FROM range(0, 2000) WHERE id % 2 = 0")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.sql(
        s"""SELECT a.key, a.value, b.value AS bv
           |FROM $t1 a JOIN $t2 b ON a.key = b.key""".stripMargin)
      assert(df.count() === 1000L)
      val plan = df.queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.nonEmpty, s"expected a sort-merge join:\n$plan")
      val shuffles = joins.flatMap(_.collect {
        case e: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec => e
      })
      assert(shuffles.isEmpty, s"join children shuffled:\n$plan")
      val sorts = joins.flatMap(_.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      })
      assert(sorts.isEmpty,
        s"join children re-sorted — reported ordering ignored:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DML rewrite keeps per-bucket files sorted") {
    cat()
    val t = "graft_kv.default.sb_dml"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    spark.sql(s"INSERT INTO $t SELECT 300 - id, 'v' FROM range(0, 300)")
    spark.sql(s"DELETE FROM $t WHERE key % 3 = 0")
    val dir = Paths.get(dirOf("sb_dml"))
    val latest = graft.sources.KvSnapshots.latest(dir.toString).get
    graft.sources.KvSnapshots
      .dataFiles(graft.sources.KvSnapshots
        .membersWithStats(dir.toString, latest))
      .foreach { st =>
        val keys = Files.readAllLines(dir.resolve(st.name)).asScala
          .filter(_.nonEmpty)
          .map(l => KvJsonlSink.parseKey(l).get.asInstanceOf[Long])
        assert(keys == keys.sorted,
          s"${st.name} lost key order in the DML rewrite")
      }
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE key % 3 = 0")
      .collect()(0).getLong(0) === 0L)
  }

  test("sorted still rejects date-partitioned layouts") {
    cat()
    spark.sql("DROP TABLE IF EXISTS graft_kv.default.sb_bad")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft_kv.default.sb_bad " +
        "(key BIGINT, value STRING, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts)) " +
        "TBLPROPERTIES ('write.sort'='key')")
    }
    assert(e.getMessage.contains("write.sort"))
  }
}
