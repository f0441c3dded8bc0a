package graft

/** Snapshot tags (KvRefs.scala): named, expire-proof version pins
  * readable as `VERSION AS OF 'name'` — the Iceberg ref model's
  * read-only half, and the lineage contract a training pipeline pins
  * dataset versions with.
  */
class KvTagsSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def fresh(name: String): String = {
    cat()
    val t = s"graft_kv.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    t
  }

  test("VERSION AS OF 'tag' reads the pinned snapshot") {
    val t = fresh("tag_read")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')") // v1
    spark.sql("CALL graft_kv.system.tag(table => 'default.tag_read', " +
      "name => 'clean')") // pins current = v1
    spark.sql(s"INSERT INTO $t VALUES (2, 'b')") // v2
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'clean'")
      .head.getLong(0) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 2)
    // explicit version pin
    spark.sql("CALL graft_kv.system.tag(table => 'default.tag_read', " +
      "name => 'all', version => 2)")
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'all'")
      .head.getLong(0) == 2)
    spark.sql(s"DROP TABLE $t")
  }

  test("tagged versions survive expire_snapshots; retention gaps " +
      "degrade history reads honestly") {
    val t = fresh("tag_keep")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')") // v1
    spark.sql(s"INSERT INTO $t VALUES (2, 'b')") // v2
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')") // v3
    spark.sql("CALL graft_kv.system.tag(table => 'default.tag_keep', " +
      "name => 'pin1', version => 1)")
    spark.sql("CALL graft_kv.system.expire_snapshots(" +
      "table => 'default.tag_keep', keep_last => 1)")
    // v1 (tagged) and v3 (tail) survive; v2 is gone — a GAP
    assert(graft.sources.KvSnapshots.versions(
      graft.sources.KvGateTable("tag_keep").dir) === Seq(1, 3))
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'pin1'")
      .head.getLong(0) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 3)
    // history surfaces tolerate the gap: $changes degrades v3 to an
    // initial snapshot (its predecessor v2 is unknowable), $snapshots
    // reports the gapped version's diff as NULL
    val ch = spark.sql("SELECT _commit_version, count(*) AS n " +
      "FROM graft_kv.default.`tag_keep$changes` " +
      "GROUP BY 1 ORDER BY 1").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(ch === Seq((1, 1L), (3, 3L)))
    val sn = spark.sql("SELECT version, added_files " +
      "FROM graft_kv.default.`tag_keep$snapshots` ORDER BY version")
      .collect()
    assert(sn.map(_.getInt(0)).toSeq === Seq(1, 3))
    assert(!sn(0).isNullAt(1) && sn(1).isNullAt(1),
      "the post-gap version's diff must be NULL, not invented")
    spark.sql(s"DROP TABLE $t")
  }

  test("drop_tag releases the pin; guards hold") {
    val t = fresh("tag_guard")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')")
    spark.sql("CALL graft_kv.system.tag(table => 'default.tag_guard', " +
      "name => 'x')")
    // duplicate tag: immutable pins, not movable pointers
    intercept[Exception] {
      spark.sql("CALL graft_kv.system.tag(" +
        "table => 'default.tag_guard', name => 'x')") }
    // integer-looking names are version pins, not tags
    intercept[Exception] {
      spark.sql("CALL graft_kv.system.tag(" +
        "table => 'default.tag_guard', name => '7')") }
    // unretained version
    intercept[Exception] {
      spark.sql("CALL graft_kv.system.tag(" +
        "table => 'default.tag_guard', name => 'y', version => 99)") }
    // snapshots cannot be disabled while tags pin history
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('snapshots')") }
    val was = spark.sql("CALL graft_kv.system.drop_tag(" +
      "table => 'default.tag_guard', name => 'x')").head
    assert(was.getString(0) == "x" && was.getLong(1) == 1L)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 'x'").collect() }
    spark.sql(s"DROP TABLE $t")
  }
}
