package graft

import java.nio.file.{Files, Paths}

import graft.sources.KvSnapshots

/** The maintenance-commit CDC contract (Delta dataChange=false /
  * Iceberg RewriteFiles): compaction-family rewrites are live-row-set
  * no-ops, so neither the `$changes` table nor the add-only rows feed
  * may emit anything for them — while every OTHER commit's behavior,
  * the marker's crash orphans, and reclamation stay exact. The
  * end-to-end oracle pin lives in the catalog_cdc_maintenance gate;
  * this spec drives the edges.
  */
class KvCdcMaintenanceSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dirOf(table: String): String =
    graft.sources.KvGateTable(table).dir

  private def changesByVersion(table: String): Map[Int, Long] =
    spark.sql(
      s"""SELECT _commit_version, count(*)
         |FROM graft_kv.default.`$table$$changes`
         |GROUP BY 1""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("cluster and rebucket emit no CDC; DML around them stays exact") {
    cat()
    val t = "graft_kv.default.cdcm_unit"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 100)") // v1
    spark.sql("CALL graft_kv.system.cluster(" +
      "table => 'default.cdcm_unit', target_files => 3)").collect() // v2
    spark.sql(s"INSERT INTO $t SELECT id, 'b' " +
      "FROM range(100, 150)") // v3
    val byV = changesByVersion("cdcm_unit")
    assert(byV === Map(1 -> 100L, 3 -> 50L),
      s"cluster polluted the change history: $byV")
    assert(KvSnapshots.isMaintenance(dirOf("cdcm_unit"), 2))
    // rebucket path too (a bucketed sibling)
    val tb = "graft_kv.default.cdcm_rbk"
    spark.sql(s"DROP TABLE IF EXISTS $tb")
    spark.sql(s"CREATE TABLE $tb (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $tb SELECT id, 'x' FROM range(0, 60)") // v1
    spark.sql("CALL graft_kv.system.rebucket(" +
      "table => 'default.cdcm_rbk', buckets => 4)").collect() // v2
    assert(changesByVersion("cdcm_rbk") === Map(1 -> 60L))
  }

  test("rows feed skips maintenance commits, keeps real appends") {
    cat()
    val t = "graft_kv.default.cdcm_feed"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 40)")
    spark.sql("CALL graft_kv.system.cluster(" +
      "table => 'default.cdcm_feed', target_files => 2)").collect()
    spark.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(40, 70)")
    val out = Fs.scratch(spark, "cdcm_feed_out")
    val q = spark.readStream
      .table("graft_kv.default.cdcm_feed")
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", Fs.scratch(spark, "cdcm_feed_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // 40 + 30 real rows; the cluster commit's relocated files (which
    // re-add all 40 rows under new names) must NOT re-emit
    assert(spark.read.parquet(out).count() === 70L)
  }

  test("the flag is manifest content — atomic with the commit") {
    cat()
    val t = "graft_kv.default.cdcm_orphan"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 10)") // v1
    // a stray legacy sidecar marker (the pre-header encoding, or any
    // junk a crashed tool left) carries NO authority: the flag lives
    // inside the committed manifest bytes, so nothing ordered AROUND
    // the commit can flag a row-changing version
    val snaps = Paths.get(dirOf("cdcm_orphan"), "_snapshots")
    Files.write(snaps.resolve("v00002.maint"), Array.emptyByteArray)
    spark.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(10, 25)") // v2
    assert(!KvSnapshots.isMaintenance(dirOf("cdcm_orphan"), 2))
    assert(changesByVersion("cdcm_orphan") === Map(1 -> 10L, 2 -> 15L))
    // a real maintenance commit carries the header as its FIRST line,
    // the member parser skips it, and a never-committed version is
    // never maintenance
    spark.sql("CALL graft_kv.system.cluster(" +
      "table => 'default.cdcm_orphan', target_files => 2)").collect()
    val d = dirOf("cdcm_orphan")
    assert(KvSnapshots.isMaintenance(d, 3))
    val first = Files.readAllLines(
      snaps.resolve("v00003.manifest")).get(0)
    assert(first == "#maintenance", first)
    assert(KvSnapshots.membersWithStats(d, 3)
      .forall(!_.name.startsWith("#")))
    assert(!KvSnapshots.isMaintenance(d, 99))
  }

  test("a spoofed maintenance flag that changes rows fails the commit") {
    cat()
    val t = "graft_kv.default.cdcm_spoof"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 10)")
    val dir = dirOf("cdcm_spoof")
    // a user-level append flagged maintenance ADDS rows — the commit
    // interlock must refuse rather than hide 5 inserts from CDC
    val e = intercept[Exception] {
      spark.range(100, 105)
        .selectExpr("id AS key", "'x' AS value")
        .write
        .format("graft.sources.KvJsonlSink")
        .option("maintenance", "true")
        .mode("append")
        .save(dir)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .flatMap(x => Option(x.getMessage)).mkString(" | ")
    assert(msgs.contains("preserve the live row set"), msgs)
    // the refused commit left no trace: rows, history and markers
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 10L)
    assert(KvSnapshots.latest(dir).contains(1))
    assert(!KvSnapshots.isMaintenance(dir, 2))
    // and a genuinely row-preserving flagged write still commits
    spark.sql("CALL graft_kv.system.cluster(" +
      "table => 'default.cdcm_spoof', target_files => 2)").collect()
    assert(KvSnapshots.isMaintenance(dir, 2))
    assert(changesByVersion("cdcm_spoof") === Map(1 -> 10L))
  }

  test("expire reclaims the flag with its manifest") {
    cat()
    val t = "graft_kv.default.cdcm_exp"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 30)") // v1
    spark.sql("CALL graft_kv.system.cluster(" +
      "table => 'default.cdcm_exp', target_files => 2)").collect() // v2
    spark.sql(s"INSERT INTO $t VALUES (99, 'z')") // v3
    val d = dirOf("cdcm_exp")
    assert(KvSnapshots.isMaintenance(d, 2))
    spark.sql("CALL graft_kv.system.expire_snapshots(" +
      "table => 'default.cdcm_exp', keep_last => 1)").collect()
    // the flag IS the manifest's header line, so it is reclaimed with
    // the manifest — nothing survives to mislabel a future v2
    assert(!Files.isRegularFile(
      Paths.get(d, "_snapshots", "v00002.manifest")))
    assert(!KvSnapshots.isMaintenance(d, 2))
    // the oldest retained version degrades to an initial snapshot —
    // full membership, EVEN IF it had been a maintenance commit
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 31L)
  }

  test("base pin: a maintenance rewrite refuses a moved base") {
    cat()
    val t = "graft_kv.default.cdcm_pin"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 20)") // v1
    val dir = dirOf("cdcm_pin")
    // a rewrite that scanned v1 but publishes after a concurrent
    // commit moved the head must FAIL (the truncate-replace would
    // drop the concurrent rows and the flag would hide it from CDC)
    // — even when the live row COUNT happens to match (+1/−1 nets
    // to zero), which the count interlock alone cannot see
    spark.sql(s"INSERT INTO $t VALUES (777, 'c')") // v2: +1 row
    spark.sql(s"DELETE FROM $t WHERE key = 0") // v3: −1 row
    val e = intercept[Exception] {
      spark.read
        .format("graft.sources.KvJsonlSink")
        .load(dir)
        .write
        .format("graft.sources.KvJsonlSink")
        .option("maintenance", "true")
        .option("maintenance_base", "1") // pinned at the stale scan
        .mode("overwrite")
        .save(dir)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .flatMap(x => Option(x.getMessage)).mkString(" | ")
    assert(msgs.contains("concurrent commit interleaved"), msgs)
    // nothing published; the procedures pass the CURRENT base and
    // commit cleanly
    assert(KvSnapshots.latest(dir).contains(3))
    spark.sql("CALL graft_kv.system.cluster(" +
      "table => 'default.cdcm_pin', target_files => 2)").collect()
    assert(KvSnapshots.latest(dir).contains(4))
    assert(KvSnapshots.isMaintenance(dir, 4))
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 20L)
  }

  test("replace_files without layout_rewrite replaces only the named files") {
    cat()
    val t = "graft_kv.default.cdcm_replace"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val dir = dirOf("cdcm_replace")
    def members(): Seq[String] =
      KvSnapshots.members(dir, KvSnapshots.latest(dir).get).sorted
    def append(from: Long, to: Long): Unit =
      spark.range(from, to).selectExpr("id AS key", "'a' AS value")
        .repartition(1)
        .write.format("graft.sources.KvJsonlSink").mode("append").save(dir)
    append(0, 5) // v1: file A
    val a = members().head
    append(5, 8) // v2: files A, B
    val b = members().filterNot(_ == a).head
    // rewrite A alone — a maintenance write that keeps the table's
    // standing layout (no layout_rewrite) but names what it replaces
    spark.read.format("graft.sources.KvJsonlSink")
      .option("scan_files", a).load(dir)
      .repartition(1)
      .write.format("graft.sources.KvJsonlSink")
      .option("maintenance", "true")
      .option("maintenance_base", "2")
      .option("replace_files", a)
      .mode("append").save(dir)
    val after = members()
    assert(after.size === 2 && after.contains(b) && !after.contains(a),
      s"expected B plus A's replacement, got $after")
    assert(KvSnapshots.isMaintenance(dir, 3))
    assert(spark.sql(s"SELECT count(*), sum(key) FROM $t").head().toSeq ===
      Seq(8L, 28L))
    assert(changesByVersion("cdcm_replace") === Map(1 -> 5L, 2 -> 3L))
  }
}
