package graft

import graft.sources.{KvSnapshots, KvZoneMap}

/** Standing write-path sort order (TBLPROPERTIES 'write.sort'='key'):
  * every INSERT lands range-partitioned and sorted, so files have
  * DISJOINT key ranges and zone maps prune from the first write —
  * no system.cluster maintenance call needed.
  */
class KvSortedWriteSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def stats(t: String) =
    KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      dir(t), KvSnapshots.latest(dir(t)).get))

  test("INSERT into a sorted table lands disjoint key ranges and " +
      "prunes without any maintenance call") {
    cat()
    val t = "graft_kv.default.sw_main"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    // deliberately scrambled input order; AQE would coalesce this
    // tiny test volume into ONE range partition (at real scale the
    // advisory size keeps many), so pin coalescing off for the insert
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    try spark.sql(s"INSERT INTO $t SELECT (id * 48271) % 100000, 'x' " +
      "FROM range(0, 100000)")
    finally spark.conf.unset(
      "spark.sql.adaptive.coalescePartitions.enabled")
    val st = stats("sw_main")
    assert(st.size > 1, "need multiple files to prove disjointness")
    // disjoint, per the manifest zone maps
    val ranges = st.flatMap(s =>
      for (mn <- s.minKey; mx <- s.maxKey) yield (mn, mx))
      .sortBy(_._1)
    assert(ranges.size === st.size)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"overlapping file ranges: $ranges")
      case _ => ()
    }
    // a point/range query prunes most files at planning; the exact
    // count is known — (id * 48271) % 100000 is a permutation-ish
    // map but collisions exist, so pin via a full recount instead
    val oracle = spark.sql(s"SELECT count(*) FROM $t WHERE key < 1000")
    val before = KvZoneMap.prunedFiles.get()
    val got = oracle.collect().head.getLong(0)
    assert(got > 0)
    assert(KvZoneMap.prunedFiles.get() - before >= (st.size - 2),
      "the range query should skip all but the low band")
  }

  test("DML on a sorted table keeps replacement files sorted and " +
      "disjoint") {
    cat()
    val t = "graft_kv.default.sw_dml"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    spark.sql(s"INSERT INTO $t SELECT (id * 48271) % 10000, 'x' " +
      "FROM range(0, 10000)")
    spark.sql(s"UPDATE $t SET value = 'y' WHERE key % 2 = 0")
    val ranges = stats("sw_dml").flatMap(s =>
      for (mn <- s.minKey; mx <- s.maxKey) yield (mn, mx))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"DML broke the sorted layout: $ranges")
      case _ => ()
    }
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE value = 'y'")
      .collect().head.getLong(0) === 5000L)
  }

  test("validation: write.sort composes with plain AND bucketed " +
      "tables (round 16), rejects date partitioning and bad values") {
    cat()
    spark.sql("DROP TABLE IF EXISTS graft_kv.default.sw_bad")
    // bucketed+sorted is now a SUPPORTED layout (per-bucket key
    // order + SupportsReportOrdering — KvSortedBucketSpec owns it)
    spark.sql("CREATE TABLE graft_kv.default.sw_bad " +
      "(key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('write.sort'='key')")
    spark.sql("DROP TABLE graft_kv.default.sw_bad")
    val e = intercept[Exception](
      spark.sql("CREATE TABLE graft_kv.default.sw_bad " +
        "(key BIGINT, value STRING, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts)) " +
        "TBLPROPERTIES ('write.sort'='key')"))
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(m => Option(m.getMessage).exists(
        _.contains("date-partitioned"))))
    val e2 = intercept[Exception](
      spark.sql("CREATE TABLE graft_kv.default.sw_bad " +
        "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('write.sort'='value')"))
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(m => Option(m.getMessage).exists(
        _.contains("only the key column"))))
  }
}
