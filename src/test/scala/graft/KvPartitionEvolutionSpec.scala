package graft

import java.nio.file.Paths

import graft.sources.{KvBucketing, KvPartitionPrune}

/** PARTITION EVOLUTION (system.set_partition): metadata-only unit
  * changes on a temporally partitioned table, mixed-generation
  * pruning (old `-d` tokens and new `-m` tokens both skip under one
  * predicate), the permanent-column rule, and disable/re-enable.
  */
class KvPartitionEvolutionSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def fresh(t: String, ddl: String, part: String = ""): String = {
    cat()
    val full = s"graft_kv.default.$t"
    spark.sql(s"DROP TABLE IF EXISTS $full")
    spark.sql(s"CREATE TABLE $full ($ddl) $part " +
      "TBLPROPERTIES ('snapshots'='true')")
    full
  }

  private def tokens(t: String): Seq[String] = {
    val d = java.nio.file.Paths.get(dir(t))
    val s = java.nio.file.Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".jsonl")).toSeq
    } finally s.close()
  }

  test("days -> months is metadata-only; both generations route and " +
      "prune under one predicate") {
    val t = fresh("pe_mix", "key BIGINT, value STRING, ts TIMESTAMP",
      "PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'old', TIMESTAMP'1995-03-10 10:00:00'), " +
      "(2, 'old', TIMESTAMP'1997-06-15 10:00:00')")
    val oldFiles = tokens("pe_mix")
    assert(oldFiles.exists(_.matches(""".*-d\d+\.jsonl""")), oldFiles)

    val r = spark.sql("CALL graft_kv.system.set_partition(" +
      "table => 'default.pe_mix', spec => 'months(ts)')").collect()
    assert(r.head.getString(0) === "months(ts)")
    // metadata-only: no data file rewritten
    assert(tokens("pe_mix").toSet === oldFiles.toSet)

    spark.sql(s"INSERT INTO $t VALUES " +
      "(3, 'new', TIMESTAMP'1995-03-20 10:00:00'), " +
      "(4, 'new', TIMESTAMP'1997-08-01 10:00:00')")
    val newFiles = tokens("pe_mix").filterNot(oldFiles.toSet)
    assert(newFiles.nonEmpty &&
      newFiles.forall(_.matches(""".*-m-?\d+\.jsonl""")), newFiles)

    // one 1995 predicate prunes BOTH generations' 1997 files
    val before = KvPartitionPrune.prunedFiles.get()
    val got = spark.sql(s"SELECT key FROM $t " +
      "WHERE ts >= TIMESTAMP'1995-01-01 00:00:00' " +
      "AND ts < TIMESTAMP'1996-01-01 00:00:00' ORDER BY key")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 3L))
    assert(KvPartitionPrune.prunedFiles.get() - before >= 2,
      "expected both generations' 1997 files pruned")
  }

  test("the partition column is permanent — across unit changes AND " +
      "a disable/re-enable cycle") {
    val t = fresh("pe_perm",
      "key BIGINT, value STRING, ts TIMESTAMP, other TIMESTAMP",
      "PARTITIONED BY (days(ts))")
    def setTo(spec: String) =
      spark.sql("CALL graft_kv.system.set_partition(" +
        s"table => 'default.pe_perm', spec => '$spec')")
    val e = intercept[Exception](setTo("months(other)"))
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(m => Option(m.getMessage).exists(_.contains("permanent"))))
    // disable keeps the lineage pin
    setTo("none")
    assert(KvBucketing.readMetaFull(dir("pe_perm")).partition.isEmpty)
    val e2 = intercept[Exception](setTo("days(other)"))
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(m => Option(m.getMessage).exists(_.contains("permanent"))))
    // re-enabling on the SAME column is fine, any unit
    setTo("hours(ts)")
    val meta = KvBucketing.readMetaFull(dir("pe_perm"))
    assert(meta.partition.map(_._1) === Some(KvBucketing.PartHours))
  }

  test("enabling partitioning on a never-partitioned table: old " +
      "token-less files never prune, new files do") {
    val t = fresh("pe_enable", "key BIGINT, value STRING, ts TIMESTAMP")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'pre', TIMESTAMP'1997-01-01 00:00:00')")
    spark.sql("CALL graft_kv.system.set_partition(" +
      "table => 'default.pe_enable', spec => 'years(ts)')")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(2, 'post', TIMESTAMP'1995-01-01 00:00:00'), " +
      "(3, 'post', TIMESTAMP'1997-06-01 00:00:00')")
    // a 1995 query: the pre-partitioning file (holding a 1997 row)
    // has no token so it must OPEN (and contribute nothing); the
    // post files prune by year token
    val got = spark.sql(s"SELECT key FROM $t " +
      "WHERE ts < TIMESTAMP'1996-01-01 00:00:00'").collect()
      .map(_.getLong(0)).toSeq
    assert(got === Seq(2L))
    // and a 1997 query still finds the pre-partitioning row
    val got97 = spark.sql(s"SELECT key FROM $t " +
      "WHERE ts >= TIMESTAMP'1997-01-01 00:00:00' ORDER BY key")
      .collect().map(_.getLong(0)).toSeq
    assert(got97 === Seq(1L, 3L))
  }

  test("validation: unknown transform, missing column, wrong type, " +
      "hours over DATE, bucketed table") {
    fresh("pe_val", "key BIGINT, value STRING, d DATE")
    def setTo(spec: String) =
      spark.sql("CALL graft_kv.system.set_partition(" +
        s"table => 'default.pe_val', spec => '$spec')")
    def fails(spec: String, needle: String): Unit = {
      val e = intercept[Exception](setTo(spec))
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains(needle), s"$spec: $msgs")
    }
    fails("weeks(d)", "unknown partition transform")
    fails("days(nope)", "not a column")
    fails("days(value)", "needs a TIMESTAMP")
    fails("hours(d)", "needs a TIMESTAMP")
    fails("gibberish", "bad partition spec")
    // bucketed tables are rejected
    cat()
    spark.sql("DROP TABLE IF EXISTS graft_kv.default.pe_bk")
    spark.sql("CREATE TABLE graft_kv.default.pe_bk " +
      "(key BIGINT, value STRING, ts TIMESTAMP) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val e = intercept[Exception](
      spark.sql("CALL graft_kv.system.set_partition(" +
        "table => 'default.pe_bk', spec => 'days(ts)')"))
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(m => Option(m.getMessage).exists(_.contains("bucketed"))))
  }

  test("meta round-trip: lineage survives disable and re-read") {
    fresh("pe_meta", "key BIGINT, value STRING, ts TIMESTAMP",
      "PARTITIONED BY (days(ts))")
    val d = dir("pe_meta")
    val m0 = KvBucketing.readMetaFull(d)
    assert(m0.partitionLineage === m0.partition.map(_._2))
    spark.sql("CALL graft_kv.system.set_partition(" +
      "table => 'default.pe_meta', spec => 'none')")
    val m1 = KvBucketing.readMetaFull(d)
    assert(m1.partition.isEmpty &&
      m1.partitionLineage === m0.partitionLineage)
  }
}
