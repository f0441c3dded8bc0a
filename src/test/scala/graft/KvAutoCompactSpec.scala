package graft

import graft.sources.{KvAutoCompact, KvSnapshots}

/** write.auto_compact edges beside the streaming gate: the BATCH
  * trickle path (three small INSERTs breach the bound, the third
  * commit's own write path restores it), maintenance semantics of
  * the policy commit, and DDL validation.
  */
class KvAutoCompactSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dirOf(table: String): String =
    graft.sources.KvGateTable(table).dir

  test("batch trickle: the third INSERT's write path compacts") {
    cat()
    val t = "graft_kv.default.acs_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.auto_compact'='2')")
    val fired0 = KvAutoCompact.compactions.get()
    // one file per INSERT (the trickle shape): without the hint each
    // small insert is one file per local task
    for (b <- 0 to 2)
      spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ " +
        s"id, 'v' FROM range(${b * 10}, ${b * 10 + 10})")
    assert(KvAutoCompact.compactions.get() - fired0 == 1)
    val d = dirOf("acs_plain")
    // 3 data commits + 1 policy commit; the policy commit is
    // maintenance (header-flagged) and restored the bound
    assert(KvSnapshots.latest(d).contains(4))
    assert(KvSnapshots.isMaintenance(d, 4))
    assert(KvSnapshots.dataFiles(
      KvSnapshots.membersWithStats(d, 4)).size <= 2)
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) == 30L)
    // CDC: inserts only — the policy commit is invisible
    val ch = spark.sql(
      s"""SELECT _change_type, count(*) AS n
         |FROM graft_kv.default.`acs_plain$$changes`
         |GROUP BY 1""".stripMargin).collect()
    assert(ch.length == 1 && ch(0).getString(0) == "insert" &&
      ch(0).getLong(1) == 30L, ch.mkString(", "))
    spark.sql(s"DROP TABLE $t")
  }

  test("selective: spares untouched buckets and each bucket's big file") {
    cat()
    val t = "graft_kv.default.acs_sel"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.auto_compact'='2')")
    val d = dirOf("acs_sel")
    def members: Map[Option[Int], Set[(String, Long)]] =
      KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
          d, KvSnapshots.latest(d).get))
        .groupBy(f => graft.sources.KvBucketing.fileBucket(f.name))
        .map { case (b, fs) =>
          b -> fs.map(f => (f.name, f.rows)).toSet }
    // seed every bucket with one file, then trickle into bucket 0
    spark.sql(s"INSERT INTO $t VALUES (0,'a'),(1,'a'),(2,'a'),(3,'a')")
    spark.sql(s"INSERT INTO $t " +
      "SELECT id * 4, 'b' FROM range(1, 7)") // 6 rows, all bucket 0
    val before = members
    val fired0 = KvAutoCompact.compactions.get()
    spark.sql(s"INSERT INTO $t " +
      "SELECT id * 4, 'c' FROM range(7, 12)") // bucket 0 now breaches
    assert(KvAutoCompact.compactions.get() - fired0 == 1)
    val after = members
    // untouched buckets: identical membership, BY NAME — never read,
    // never rewritten, never restated
    for (b <- Seq(Some(1), Some(2), Some(3)))
      assert(after(b) == before(b), s"bucket $b was rewritten")
    // bucket 0: the strictly-biggest 6-row file from before the
    // breach survived by name; the seed 1-row file and the new
    // 5-row file merged
    val big = before(Some(0)).filter(_._2 == 6L)
    assert(big.size == 1)
    assert(after(Some(0)).size == 2)
    assert(after(Some(0)).exists(f => big.contains(f)),
      s"the spared big file was rewritten: ${after(Some(0))}")
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) == 15L)
    spark.sql(s"DROP TABLE $t")
  }

  test("ALTER enables, re-tunes and disables the policy") {
    cat()
    val t = "graft_kv.default.acs_alter"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val d = dirOf("acs_alter")
    // three trickle inserts with NO policy: files accumulate
    for (b <- 0 to 2)
      spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ " +
        s"id, 'v' FROM range(${b * 10}, ${b * 10 + 10})")
    assert(KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      d, KvSnapshots.latest(d).get)).size == 3)
    // enable on the EXISTING table — the adopter path — and the next
    // data commit restores the bound
    spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES ('write.auto_compact'='2')")
    val fired0 = KvAutoCompact.compactions.get()
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ " +
      "id, 'v' FROM range(30, 40)")
    assert(KvAutoCompact.compactions.get() - fired0 == 1)
    assert(KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      d, KvSnapshots.latest(d).get)).size <= 2)
    // disable: trickle accumulates again
    spark.sql(
      s"ALTER TABLE $t UNSET TBLPROPERTIES ('write.auto_compact')")
    for (b <- 4 to 6)
      spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ " +
        s"id, 'v' FROM range(${b * 10}, ${b * 10 + 10})")
    assert(KvAutoCompact.compactions.get() - fired0 == 1)
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) == 70L)
    spark.sql(s"DROP TABLE $t")
  }

  test("both policies compose: file AND version bounds hold together") {
    cat()
    val t = "graft_kv.default.acs_both"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.auto_compact'='2', " +
      "'expire.keep_last'='3')")
    val d = dirOf("acs_both")
    for (b <- 0 to 7)
      spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ " +
        s"id, 'v' FROM range(${b * 10}, ${b * 10 + 10})")
    // compaction holds the file bound, retention the version bound
    val vs = KvSnapshots.versions(d)
    assert(vs.size == 3, s"versions: ${vs.mkString(",")}")
    assert(KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      d, vs.last)).size <= 2)
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) == 80L)
    // expired files are physically reclaimed: the dir holds only
    // what the retained manifests reference (+ metadata)
    val live = vs.flatMap(v => KvSnapshots.members(d, v)).toSet
    val onDisk = {
      val s0 = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      try {
        import scala.jdk.CollectionConverters._
        s0.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".jsonl")).toSet
      } finally s0.close()
    }
    assert(onDisk == live,
      s"retention left orphans or lost members: ${onDisk -- live} / " +
        s"${live -- onDisk}")
    spark.sql(s"DROP TABLE $t")
  }

  test("retention DDL: ALTER lifecycle and the snapshots guard") {
    cat()
    val t = "graft_kv.default.acs_ret"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val e1 = intercept[Exception](
      spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
        "TBLPROPERTIES ('expire.keep_last'='3')"))
    assert(e1.getMessage.contains("snapshots"))
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    for (b <- 0 to 4)
      spark.sql(s"INSERT INTO $t VALUES ($b, 'v')")
    assert(KvSnapshots.versions(dirOf("acs_ret")).size == 5)
    // enable on the existing table: the NEXT commit enforces it
    spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES ('expire.keep_last'='2')")
    spark.sql(s"INSERT INTO $t VALUES (99, 'z')")
    assert(KvSnapshots.versions(dirOf("acs_ret")).size == 2)
    spark.sql(
      s"ALTER TABLE $t UNSET TBLPROPERTIES ('expire.keep_last')")
    for (b <- 10 to 12)
      spark.sql(s"INSERT INTO $t VALUES ($b, 'v')")
    assert(KvSnapshots.versions(dirOf("acs_ret")).size == 5)
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) == 9L)
    spark.sql(s"DROP TABLE $t")
  }

  test("DDL validation: snapshots required, partitions excluded") {
    cat()
    val t = "graft_kv.default.acs_bad"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val e1 = intercept[Exception](
      spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
        "TBLPROPERTIES ('write.auto_compact'='2')"))
    assert(e1.getMessage.contains("snapshots"))
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE $t (key BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts)) " +
        "TBLPROPERTIES ('snapshots'='true', 'write.auto_compact'='2')"))
    assert(e2.getMessage.contains("auto_compact"))
    val e3 = intercept[Exception](
      spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', " +
        "'write.auto_compact'='lots')"))
    assert(e3.getMessage.contains("integer"))
  }
}
