package graft

import java.nio.file.{Files, Paths}

import graft.sources.{KvBucketing, KvSnapshots}

/** Snapshot manifests + time travel on the kv catalog: manifest
  * mechanics (commit/members/timestamp resolution/expire at the
  * object level), the end-to-end VERSION AS OF read of insert /
  * append / copy-on-write-DELETE history, TIMESTAMP AS OF, the
  * shared-file guard in expiration (a file referenced by a surviving
  * snapshot must never be reclaimed), write-to-snapshot rejection,
  * and that unsnapshotted tables keep the original delete-on-truncate
  * behavior.
  */
class KvSnapshotsSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def warehouseDir(table: String): String =
    graft.sources.KvGateTable(table).dir

  private def history(name: String): String = {
    cat()
    val t = s"graft_kv.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet` WHERE o_orderkey % 2 = 0")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet` WHERE o_orderkey % 2 = 1")
    spark.sql(s"DELETE FROM $t WHERE key % 3 = 0")
    t
  }

  test("manifest mechanics: commit, members, timestamps, expire") {
    import KvSnapshots.KvFileStat
    val d = SparkTestBase.tempDir("graft_snap").toString
    assert(KvSnapshots.latest(d).isEmpty)
    assert(KvSnapshots.commit(d,
      Seq(KvFileStat("a.jsonl", 1L, Some(5L), Some(5L),
        keysKnown = true))) === 1)
    Thread.sleep(20)
    assert(KvSnapshots.commit(d, Seq(
      KvFileStat("a.jsonl", 1L, Some(5L), Some(5L), keysKnown = true),
      KvFileStat("b.jsonl", 2L, None, None, keysKnown = true), // keyless
      KvFileStat("c.jsonl", -1L, None, None,
        keysKnown = false))) === 2) // unknown (migrated)
    assert(KvSnapshots.versions(d) === Seq(1, 2))
    assert(KvSnapshots.members(d, 1) === Seq("a.jsonl"))
    assert(KvSnapshots.members(d, 2) ===
      Seq("a.jsonl", "b.jsonl", "c.jsonl"))
    // stats round-trip: the '-' marker keeps known-keyless distinct
    // from unknown
    assert(KvSnapshots.membersWithStats(d, 2) === Seq(
      KvFileStat("a.jsonl", 1L, Some(5L), Some(5L), keysKnown = true),
      KvFileStat("b.jsonl", 2L, None, None, keysKnown = true),
      KvFileStat("c.jsonl", -1L, None, None, keysKnown = false)))
    assert(KvSnapshots.membersWithCounts(d, 2) ===
      Seq(("a.jsonl", 1L), ("b.jsonl", 2L), ("c.jsonl", -1L)))
    // manifest numbering survives the 5-digit formatting width
    Files.write(Paths.get(d, "_snapshots", "v100000.manifest"),
      "z.jsonl\t1\t1\t1".getBytes)
    assert(KvSnapshots.versions(d) === Seq(1, 2, 100000))
    assert(KvSnapshots.latest(d) === Some(100000))
    Files.delete(Paths.get(d, "_snapshots", "v100000.manifest"))
    intercept[IllegalArgumentException](KvSnapshots.members(d, 3))
    val now = System.currentTimeMillis() * 1000L + 1000000L
    assert(KvSnapshots.resolveTimestamp(d, now) === 2)
    // files: a shared by both, b only in v2
    Files.write(Paths.get(d, "a.jsonl"), "x".getBytes)
    Files.write(Paths.get(d, "b.jsonl"), "y".getBytes)
    val (before, after, deleted) = KvSnapshots.expire(d, 1)
    assert((before, after, deleted) === ((2L, 1L, 0L)),
      "v1's only file is shared with v2 — nothing may be reclaimed")
    assert(Files.exists(Paths.get(d, "a.jsonl")))
  }

  test("VERSION AS OF reads each state of insert/append/delete") {
    val t = history("tt_spec")
    def agg(suffix: String): (Long, Long) = {
      val r = spark.sql(
        s"SELECT count(*), sum(key) FROM $t $suffix").collect().head
      (r.getLong(0), r.getLong(1))
    }
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_orderkey AS key")
    import org.apache.spark.sql.functions._
    def want(p: org.apache.spark.sql.Column): (Long, Long) = {
      val r = src.filter(p)
        .agg(count(lit(1)), sum(col("key"))).collect().head
      (r.getLong(0), r.getLong(1))
    }
    assert(agg("VERSION AS OF 1") === want(col("key") % 2 === 0))
    assert(agg("VERSION AS OF 2") === want(lit(true)))
    assert(agg("") === want(col("key") % 3 =!= 0))
    // v3 is also addressable explicitly
    assert(agg("VERSION AS OF 3") === agg(""))
    spark.sql(s"DROP TABLE $t")
  }

  test("TIMESTAMP AS OF resolves by manifest commit time") {
    cat()
    val t = "graft_kv.default.ts_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')")
    Thread.sleep(150)
    val between = java.time.Instant.now()
    Thread.sleep(150)
    spark.sql(s"INSERT INTO $t VALUES (2, 'b')")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    val n1 = spark.sql(
      s"SELECT count(*) FROM $t TIMESTAMP AS OF '${fmt.format(between)}'")
      .collect().head.getLong(0)
    assert(n1 === 1, "timestamp between v1 and v2 must read v1")
    spark.sql(s"DROP TABLE $t")
  }

  test("writes and DML against a pinned snapshot fail loud") {
    val t = history("pin_spec")
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $t VERSION AS OF 1 VALUES (99, 'x')")
    }
    assert(ex.getMessage != null)
    spark.sql(s"DROP TABLE $t")
  }

  test("expire keeps shared files, reclaims exclusive ones, kills v1 reads") {
    val t = history("exp_spec")
    val dir = warehouseDir("exp_spec")
    def jsonlCount: Long = {
      val s = Files.list(Paths.get(dir))
      try s.filter(p => p.getFileName.toString.endsWith(".jsonl")).count()
      finally s.close()
    }
    val filesBefore = jsonlCount
    // keep v2+v3: v1's files are all members of v2 — zero reclaim
    val r1 = spark.sql(
      "CALL graft_kv.system.expire_snapshots(" +
        "table => 'default.exp_spec', keep_last => 2)").collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) === ((3L, 2L, 0L)))
    assert(jsonlCount === filesBefore)
    // keep v3 only: v1+v2's files are dead (v3 rewrote everything)
    val r2 = spark.sql(
      "CALL graft_kv.system.expire_snapshots(" +
        "table => 'default.exp_spec', keep_last => 1)").collect().head
    assert((r2.getLong(0), r2.getLong(1)) === ((2L, 1L)))
    assert(r2.getLong(2) > 0)
    assert(jsonlCount < filesBefore)
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect()
    }
    // current read intact
    val n = spark.sql(s"SELECT count(*) FROM $t").collect().head.getLong(0)
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 3 =!= 0)
      .count()
    assert(n === want)
    spark.sql(s"DROP TABLE $t")
  }

  test("unsnapshotted tables keep delete-on-truncate, no manifests") {
    cat()
    val t = "graft_kv.default.plain_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')")
    spark.sql(s"INSERT OVERWRITE $t VALUES (2, 'b')")
    val dir = warehouseDir("plain_spec")
    assert(!Files.exists(Paths.get(dir, KvSnapshots.DirName)))
    assert(KvBucketing.readMetaFull(dir).isEmpty)
    val rows = spark.sql(s"SELECT key FROM $t").collect().map(_.getLong(0))
    assert(rows.toSeq === Seq(2L), "overwrite must fully replace")
    spark.sql(s"DROP TABLE $t")
  }

  test("enable-snapshots migration: v1 is the pre-state, counts refresh on rewrite") {
    val rows = SparkEntry.queries("catalog_enable_snapshots")(
      spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the gate's own oracle pins values; here pin the count-pushdown
    // interplay: post-migration v1 has UNKNOWN counts (no pushdown),
    // but the DELETE rewrite refreshed the current manifest, so the
    // current count IS manifest-answered.
    graft.sources.KvAggScan.served.set(0)
    val t = graft.sources.KvGateTable(Fs.sessionTable(spark, "mig_gate"))
    val v1 = spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1")
      .collect().head.getLong(0)
    assert(graft.sources.KvAggScan.served.get() === 0,
      "v1 has unknown counts — it must take the data scan")
    val cur = spark.sql(s"SELECT count(*) FROM $t")
      .collect().head.getLong(0)
    assert(graft.sources.KvAggScan.served.get() >= 1,
      "the rewritten current version must manifest-answer")
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_orderkey AS key")
    import org.apache.spark.sql.functions.col
    assert(v1 === src.filter(col("key") % 2 === 0).count())
    assert(cur === src.filter(col("key") % 3 =!= 0).count())
  }

  test("disable-snapshots collapses history to the current state") {
    val t = history("dis_spec")
    val dir = warehouseDir("dis_spec")
    val before = spark.sql(s"SELECT sum(key) FROM $t")
      .collect().head.getLong(0)
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('snapshots')")
    assert(!Files.exists(Paths.get(dir, KvSnapshots.DirName)))
    assert(KvBucketing.readMetaFull(dir).isEmpty)
    assert(spark.sql(s"SELECT sum(key) FROM $t")
      .collect().head.getLong(0) === before,
      "current data must survive the collapse")
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect()
    }
    spark.sql(s"DROP TABLE $t")
  }

  test("$snapshots metadata table: per-version history; expiration " +
      "degrades the oldest diff to NULL") {
    cat()
    val t = "graft_kv.default.snapmeta_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(10)") // v1
    spark.sql(s"INSERT INTO $t SELECT id + 10, 'b' FROM range(5)") // v2
    val meta = "graft_kv.default.`snapmeta_spec$snapshots`"
    val rows = spark.sql(
      s"SELECT version, n_data_files, n_delete_files, live_rows, " +
        s"removed_files FROM $meta ORDER BY version").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(rows.map(_.getLong(3)).toSeq === Seq(10L, 15L))
    assert(rows.forall(_.getLong(2) == 0L)) // no tombstones
    assert(rows.forall(_.getLong(4) == 0L)) // appends remove nothing
    assert(rows.forall(_.getLong(1) > 0L))
    // commit times are monotone non-decreasing
    val ts = spark.sql(s"SELECT committed_at_ms FROM $meta " +
      "ORDER BY version").collect().map(_.getLong(0))
    assert(ts.sorted.toSeq === ts.toSeq)
    // expire history: the surviving oldest version cannot know its
    // diff — added/removed honestly NULL, the rest still served
    spark.sql("CALL graft_kv.system.expire_snapshots(" +
      "table => 'default.snapmeta_spec', keep_last => 1)")
    val left = spark.sql(
      s"SELECT version, live_rows, added_files FROM $meta").collect()
    assert(left.length == 1 && left.head.getInt(0) == 2)
    assert(left.head.getLong(1) == 15L)
    assert(left.head.isNullAt(2),
      "added_files must be NULL once the predecessor manifest expired")
    spark.sql(s"DROP TABLE $t")
  }

  test("other ALTERs stay rejected (column changes are supported now)") {
    cat()
    val t = "graft_kv.default.alt_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    // ADD COLUMN is schema evolution since KvSchema.scala — supported
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra STRING")
    assert(spark.table(t).schema.fieldNames.toSeq ===
      Seq("key", "value", "extra"))
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('foo'='bar')")
    }
    spark.sql(s"DROP TABLE $t")
  }

  test("snapshots compose with bucketing") {
    cat()
    val t = "graft_kv.default.snapbkt_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet`")
    spark.sql(s"DELETE FROM $t WHERE key % 2 = 0")
    val v1 = spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1")
      .collect().head.getLong(0)
    val cur = spark.sql(s"SELECT count(*) FROM $t")
      .collect().head.getLong(0)
    val all = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(v1 === all)
    assert(cur === all - spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 2 === 0)
      .count())
    spark.sql(s"DROP TABLE $t")
  }
}
