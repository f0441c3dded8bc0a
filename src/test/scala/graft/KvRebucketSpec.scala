package graft

import graft.sources.{KvBucketing, KvSnapshots}

/** `system.rebucket` (bucket-count evolution) and the quarantine that
  * makes it crash-safe: every window — target marked, rewrite
  * committed, publish flipped — must leave a table whose reads are
  * RIGHT (claims may degrade, rows may not), and whose repair is
  * re-running the same call. The SPJ-plan-facts half lives in the
  * catalog_rebucket gate; this spec drives the windows the gate's
  * happy path never visits.
  */
class KvRebucketSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dirOf(table: String): String =
    graft.sources.KvGateTable(table).dir

  test("meta round-trips the rebucket fields; absent on old tables") {
    val dir = SparkTestBase.tempDir("rbk_meta").toString
    val m = KvBucketing.KvMeta(Some(8), snapshots = true,
      sorted = true, rebucketTarget = Some(16), bucketsFrom = Some(7))
    KvBucketing.writeMeta(dir, m)
    assert(KvBucketing.readMetaFull(dir) === m)
    // published form: target cleared, generation boundary kept
    val pub = m.copy(buckets = Some(16), rebucketTarget = None)
    KvBucketing.writeMeta(dir, pub)
    assert(KvBucketing.readMetaFull(dir) === pub)
  }

  test("rebucket keeps rows + tags; old pins stop claiming") {
    cat()
    val t = "graft_kv.default.rbk_unit"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id % 7) " +
      "FROM range(0, 5000)")
    spark.sql(s"CALL graft_kv.system.tag(table => 'default.rbk_unit', " +
      "name => 'before')")
    val r = spark.sql("CALL graft_kv.system.rebucket(" +
      "table => 'default.rbk_unit', buckets => 8)").collect()(0)
    assert(r.getLong(0) === 4L && r.getLong(1) === 8L &&
      r.getLong(2) === 8L)
    val meta = KvBucketing.readMetaFull(dirOf("rbk_unit"))
    assert(meta.buckets.contains(8) && meta.rebucketTarget.isEmpty)
    assert(meta.bucketsFrom.contains(
      KvSnapshots.latest(dirOf("rbk_unit")).get))
    // generation boundary is operator-visible in the table properties
    val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("buckets.from_version") ===
      meta.bucketsFrom.map(_.toString))
    assert(!props.contains("rebucket.in_progress_to"))
    // rows survived, new generation tokens in [0, 8)
    assert(spark.sql(s"SELECT count(*), CAST(sum(key) AS BIGINT) FROM $t")
      .collect()(0).toSeq === Seq(5000L, 4999L * 5000 / 2))
    // the tag (old generation) still reads — degraded claims, right
    // rows — and its plan must not key-group group-bys either
    assert(spark.sql(
      s"SELECT count(*) FROM $t VERSION AS OF 'before'")
      .collect()(0).getLong(0) === 5000L)
    // appends after the publish route by the NEW count
    spark.sql(s"INSERT INTO $t VALUES (100007, 'late')")
    val lateBuckets = KvSnapshots.dataFiles(
      KvSnapshots.membersWithStats(dirOf("rbk_unit"),
        KvSnapshots.latest(dirOf("rbk_unit")).get))
      .flatMap(f => KvBucketing.fileBucket(f.name))
    assert(lateBuckets.forall(b => b >= 0 && b < 8))
    assert(lateBuckets.contains(
      KvBucketing.bucketOf(100007L, 8)))
    spark.sql(s"DROP TABLE $t")
  }

  test("torn quarantine: reads stay right, re-running repairs") {
    cat()
    val t = "graft_kv.default.rbk_torn"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 100)")
    val dir = dirOf("rbk_torn")
    // simulate a crash right after step (1): target marked, nothing
    // rewritten — the exact window a naive meta-flip design corrupts
    val meta = KvBucketing.readMetaFull(dir)
    KvBucketing.writeMeta(dir, meta.copy(rebucketTarget = Some(4)))
    // reads: right rows (claims suppressed, per-file planning)
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) === 100L)
    // the in-flight marker is operator-visible
    val torn = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(torn.get("rebucket.in_progress_to") === Some("4"))
    // writes DURING the quarantine route by the TARGET — mixed
    // generations on disk, still-right reads
    spark.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(100, 200)")
    assert(spark.sql(
      s"SELECT count(*), CAST(sum(key) AS BIGINT) FROM $t")
      .collect()(0).toSeq === Seq(200L, 199L * 200 / 2))
    // repair = the same call
    val r = spark.sql("CALL graft_kv.system.rebucket(" +
      "table => 'default.rbk_torn', buckets => 4)").collect()(0)
    assert(r.getLong(1) === 4L)
    val fixed = KvBucketing.readMetaFull(dir)
    assert(fixed.buckets.contains(4) && fixed.rebucketTarget.isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE key < 100")
      .collect()(0).getLong(0) === 100L)
    spark.sql(s"DROP TABLE $t")
  }

  test("branches freeze rebucket out; bad args rejected") {
    cat()
    val t = "graft_kv.default.rbk_guard"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(10)")
    spark.sql("CALL graft_kv.system.create_branch(" +
      "table => 'default.rbk_guard', name => 'audit')")
    val e = intercept[Exception] {
      spark.sql("CALL graft_kv.system.rebucket(" +
        "table => 'default.rbk_guard', buckets => 4)").collect()
    }
    assert(e.getMessage.contains("branches"), e.getMessage)
    spark.sql("CALL graft_kv.system.drop_branch(" +
      "table => 'default.rbk_guard', name => 'audit')")
    val e2 = intercept[Exception] {
      spark.sql("CALL graft_kv.system.rebucket(" +
        "table => 'default.rbk_guard', buckets => 0)").collect()
    }
    assert(e2.getMessage.contains("out of range"), e2.getMessage)
    // unbucketed tables have no count to evolve
    val tp = "graft_kv.default.rbk_plain"
    spark.sql(s"DROP TABLE IF EXISTS $tp")
    spark.sql(s"CREATE TABLE $tp (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val e3 = intercept[Exception] {
      spark.sql("CALL graft_kv.system.rebucket(" +
        "table => 'default.rbk_plain', buckets => 4)").collect()
    }
    assert(e3.getMessage.contains("bucketed"), e3.getMessage)
  }
}
