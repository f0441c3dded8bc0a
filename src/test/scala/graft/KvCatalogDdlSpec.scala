package graft

import java.nio.file.{Files, Paths}

/** DDL delete discipline for the kv catalog (round-14 advice item):
  * DROP TABLE runs the VERIFIED recursive delete — it must never
  * report success while the directory survives, because the next
  * CREATE TABLE of the same name would then throw
  * TableAlreadyExists spuriously. The happy path here pins the
  * contract's observable half: drop → recreate under the same
  * identifier always works, and a drop of a missing table reports
  * false rather than throwing. (FsSpec drives the fail-loud half —
  * the verified delete throwing when a racer keeps the tree alive.)
  */
class KvCatalogDdlSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  test("drop then create the same table never spuriously collides") {
    cat()
    val t = "graft_kv.default.ddl_cycle"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (1 to 3).foreach { i =>
      spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
      spark.sql(s"INSERT INTO $t SELECT id, 'v$i' FROM range(10)")
      assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 10)
      spark.sql(s"DROP TABLE $t")
      // the verified delete's postcondition: the directory is GONE,
      // so the next CREATE in the loop cannot see a stale dir
      assert(!Files.exists(
        Paths.get(graft.sources.KvGateTable("ddl_cycle").dir)))
    }
  }

  test("dropping a missing table reports false, not an error") {
    cat()
    // IF EXISTS surfaces the catalog's dropTable=false as a no-op
    spark.sql("DROP TABLE IF EXISTS graft_kv.default.ddl_never_was")
    assert(!spark.catalog.tableExists("graft_kv.default.ddl_never_was"))
  }
}
