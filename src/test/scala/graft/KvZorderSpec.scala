package graft

import graft.sources.{KvSnapshots, KvZoneMap}

/** `system.zorder` — the multi-dimensional clustering rewrite, and
  * its composition with per-column zone maps: after the rewrite each
  * file's recorded [min,max] on EACH z-order column is a narrow band,
  * and a predicate box on either column skips files at planning.
  */
class KvZorderSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def fresh(t: String, ddl: String): String = {
    cat()
    val full = s"graft_kv.default.$t"
    spark.sql(s"DROP TABLE IF EXISTS $full")
    spark.sql(s"CREATE TABLE $full ($ddl) " +
      "TBLPROPERTIES ('snapshots'='true')")
    full
  }

  test("zorder rewrite: exact rows preserved, target file count, " +
      "narrow per-file bands on BOTH columns, 2-D box pruning") {
    val t = fresh("zo_main", "key BIGINT, value STRING, a BIGINT, " +
      "b BIGINT")
    // a 32x32 grid in row-major order: sorted by `a`, so a plain
    // key-order layout leaves `b` spanning its full range in every file
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING), " +
      "id DIV 32, id % 32 FROM range(0, 1024)")
    val sumBefore = spark.sql(s"SELECT sum(key) FROM $t")
      .collect().head.getLong(0)

    val r = spark.sql("CALL graft_kv.system.zorder(" +
      "table => 'default.zo_main', cols => 'a,b', " +
      "target_files => 8)").collect().head
    assert(r.getLong(1) === 8L, r.toString) // files_after
    assert(r.getLong(2) === 1024L) // n_rows

    // soundness: exact same rows
    assert(spark.sql(s"SELECT sum(key) FROM $t")
      .collect().head.getLong(0) === sumBefore)
    assert(spark.table(t).count() === 1024)

    // every file's band on EACH column is narrower than the full
    // domain (the z-curve guarantee a 1-D sort cannot give for both)
    val d = dir("zo_main")
    val stats = KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      d, KvSnapshots.latest(d).get))
    assert(stats.size === 8)
    def width(st: KvSnapshots.KvFileStat, id: Int): Long = {
      val Some((mn, mx)) = st.colStats(id)
      mx.toLong - mn.toLong
    }
    // ids: key=1, value=2, a=3, b=4; full domain width is 31
    assert(stats.forall(st => width(st, 3) <= 16 && width(st, 4) <= 16),
      stats.map(st => (st.name, st.colStats)).mkString("\n"))

    // a corner box query prunes most files at planning
    val before = KvZoneMap.prunedFiles.get()
    val got = spark.sql(s"SELECT count(*) FROM $t " +
      "WHERE a < 8 AND b < 8").collect().head.getLong(0)
    assert(got === 64L)
    assert(KvZoneMap.prunedFiles.get() - before >= 4,
      "the 2-D box should skip most z-banded files")
  }

  test("zorder over double and timestamp domains") {
    val t = fresh("zo_mixed", "key BIGINT, value STRING, " +
      "price DOUBLE, ts TIMESTAMP")
    spark.sql(s"INSERT INTO $t SELECT id, 'x', " +
      "CAST(id % 100 AS DOUBLE) * 1.5, " +
      "timestampadd(HOUR, CAST(id DIV 100 AS INT), " +
      "TIMESTAMP'2024-01-01 00:00:00') FROM range(0, 1000)")
    spark.sql("CALL graft_kv.system.zorder(" +
      "table => 'default.zo_mixed', cols => 'price,ts', " +
      "target_files => 4)")
    assert(spark.table(t).count() === 1000)
    val got = spark.sql(s"SELECT count(*) FROM $t " +
      "WHERE price < 30.0 AND ts < TIMESTAMP'2024-01-01 05:00:00'")
      .collect().head.getLong(0)
    // ids 0..499 have ts within first 5 hours (id DIV 100 < 5);
    // price < 30 means id % 100 < 20 → 5 * 20 = 100
    assert(got === 100L)
  }

  test("validation: two columns required, strings rejected, " +
      "bucketed/partitioned tables rejected") {
    fresh("zo_val", "key BIGINT, value STRING, a BIGINT")
    def zo(cols: String) =
      spark.sql("CALL graft_kv.system.zorder(" +
        s"table => 'default.zo_val', cols => '$cols')")
    def fails(cols: String, needle: String): Unit = {
      val e = intercept[Exception](zo(cols))
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains(needle), s"$cols: $msgs")
    }
    fails("a", "exactly two")
    fails("a,b,c", "exactly two")
    fails("a,nope", "not a column")
    fails("a,value", "numeric-domain")
  }
}
