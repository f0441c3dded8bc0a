package graft

import java.nio.file.{Files, Paths}

import graft.sources.{KvBucketing, KvSchema, KvSnapshots}

/** The key column is a ROLE (field id 1 — first column, BIGINT), not
  * a column literally named `key`: a table whose key is `user_id` or
  * `o_orderkey` gets the FULL machinery — bucket routing, key
  * pushdown, zone maps, sorted layout, DML, rebucket — with no
  * rename-to-`key` migration, while the storage line format stays
  * byte-identical (`{"key":...}` tokens whatever the display name).
  */
class KvNamedKeySpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dirOf(table: String): String =
    graft.sources.KvGateTable(table).dir

  test("named key: bucket routing, pushdown, sorted layout, DML") {
    cat()
    val t = "graft_kv.default.nk_users"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (user_id BIGINT, payload STRING) " +
      "PARTITIONED BY (bucket(4, user_id)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='user_id')")
    spark.sql(s"INSERT INTO $t " +
      "SELECT id, concat('u', id) FROM range(0, 100)")
    // bucket routing followed the named column: every file's name
    // token matches floorMod of the user_ids it holds
    val d = dirOf("nk_users")
    val files = KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      d, KvSnapshots.latest(d).get))
    assert(files.nonEmpty)
    files.foreach { st =>
      val b = KvBucketing.fileBucket(st.name).get
      // sorted-bucketed: zone maps recorded, and min/max ≡ b (mod 4)
      assert(st.minKey.get % 4 == b && st.maxKey.get % 4 == b,
        s"${st.name}: keys outside bucket $b")
    }
    // key pushdown under the real name — reader-side row skip
    val before = graft.sources.KvKeyPredicate.skipped.get()
    val one = spark.sql(
      s"SELECT payload FROM $t WHERE user_id = 42").collect()
    assert(one.map(_.getString(0)).toSeq == Seq("u42"))
    assert(graft.sources.KvKeyPredicate.skipped.get() > before,
      "point lookup on the named key skipped no reader rows")
    // DML follows the role too (CoW rewrite on the bucketed layout)
    spark.sql(s"DELETE FROM $t WHERE user_id % 2 = 0")
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) == 50L)
    // storage stays byte-compatible: line tokens use the literal
    // `key` whatever the display name
    val firstLine = Files.readAllLines(
      Paths.get(d, KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
        d, KvSnapshots.latest(d).get)).head.name)).get(0)
    assert(firstLine.startsWith("{\"key\":"), firstLine)
    spark.sql(s"DROP TABLE $t")
  }

  test("named key: zone maps prune on a sorted unbucketed table") {
    cat()
    val t = "graft_kv.default.nk_sorted"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id BIGINT, body STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='doc_id')")
    // two appends with disjoint key ranges: at least two files whose
    // zone maps cannot both admit one point (AQE may coalesce each
    // small sorted write to a single file — the SECOND file is the
    // prune target)
    spark.sql(s"INSERT INTO $t " +
      "SELECT id, concat('d', id) FROM range(0, 2000)")
    spark.sql(s"INSERT INTO $t " +
      "SELECT id, concat('d', id) FROM range(2000, 4000)")
    val pruned = graft.sources.KvZoneMap.prunedFiles.get()
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE doc_id = 17")
      .collect()(0).getLong(0) == 1L)
    assert(graft.sources.KvZoneMap.prunedFiles.get() > pruned,
      "zone maps did not prune under the named key " +
        "(range-disjoint sorted files)")
    spark.sql(s"DROP TABLE $t")
  }

  test("named key: DDL guards follow the role, not the name") {
    cat()
    val t = "graft_kv.default.nk_guard"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // bucketing a non-first column is rejected (the bucket column IS
    // the key role)
    val e1 = intercept[Exception](
      spark.sql(s"CREATE TABLE $t (user_id BIGINT, other BIGINT) " +
        "PARTITIONED BY (bucket(4, other))"))
    assert(e1.getMessage.contains("first column"))
    // write.sort must name the key column
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE $t (user_id BIGINT, other BIGINT) " +
        "TBLPROPERTIES ('write.sort'='other')"))
    assert(e2.getMessage.contains("write.sort"))
    // a first column outside the key types (BIGINT — full range
    // machinery — or STRING — hash/equality machinery, see
    // KvStringKeySpec) has no key to build on
    val e3 = intercept[Exception](
      spark.sql(s"CREATE TABLE $t (score DOUBLE, user_id BIGINT)"))
    assert(e3.getMessage.contains("BIGINT or STRING key"))
    spark.sql(s"CREATE TABLE $t (user_id BIGINT, v STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    // the key column cannot be renamed under ANY name — the role is
    // fixed at CREATE (every name-based matcher is resolved once)
    val e4 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t RENAME COLUMN user_id TO uid"))
    assert(e4.getMessage.contains("cannot be renamed"))
    // and 'key' the literal still works as the write.sort alias
    spark.sql(s"DROP TABLE $t")
    spark.sql(s"CREATE TABLE $t (user_id BIGINT, v STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    assert(KvBucketing.readMetaFull(dirOf("nk_guard")).sorted)
    spark.sql(s"DROP TABLE $t")
  }

  test("founding (key, value) tables stay registry-free") {
    cat()
    val t = "graft_kv.default.nk_legacy"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    assert(!Files.isRegularFile(
      Paths.get(dirOf("nk_legacy"), KvSchema.FileName)),
      "a (key, value) CREATE must not birth a registry — " +
        "pre-evolution byte-compatibility")
    // while a named-key table does (the name must persist)
    val t2 = "graft_kv.default.nk_named"
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"CREATE TABLE $t2 (user_id BIGINT, value STRING)")
    assert(Files.isRegularFile(
      Paths.get(dirOf("nk_named"), KvSchema.FileName)))
    assert(KvSchema.keyNameOf(dirOf("nk_named")) == "user_id")
    spark.sql(s"DROP TABLE $t")
    spark.sql(s"DROP TABLE $t2")
  }
}
