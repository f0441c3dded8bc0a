package graft

import graft.sources.{KvBranches, KvSnapshots}

/** Write-audit-publish branches (KvBranches.scala): branch writes are
  * invisible to main, audit reads see them, fast_forward publishes
  * atomically (and refuses a diverged main), expire/vacuum treat
  * branch manifests as live references, and the DDL guards keep the
  * schema registry and the snapshots flag consistent with open
  * branches.
  */
class KvBranchesSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def fresh(t: String): String = {
    cat()
    val full = s"graft_kv.default.$t"
    spark.sql(s"DROP TABLE IF EXISTS $full")
    spark.sql(s"CREATE TABLE $full (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    full
  }

  test("branch write is invisible to main; audit read and fast_forward " +
      "publish it; the branch survives for re-audit") {
    val t = fresh("br_basic")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')") // main v1
    spark.sql("CALL graft_kv.system.create_branch(" +
      "table => 'default.br_basic', name => 'audit')")
    spark.range(3, 6)
      .selectExpr("id AS key", "concat('s', id) AS value")
      .writeTo(t).option("branch", "audit").append()
    // main untouched — by count AND by manifest lineage
    assert(spark.table(t).count() === 2)
    assert(KvSnapshots.latest(dir("br_basic")) === Some(1))
    // the audit read sees base + staged
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'audit'")
      .collect().head.getLong(0) === 5)
    // a second staged commit stacks on the branch lineage
    spark.range(6, 7).selectExpr("id AS key", "'x' AS value")
      .writeTo(t).option("branch", "audit").append()
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'audit'")
      .collect().head.getLong(0) === 6)
    // publish
    spark.sql("CALL graft_kv.system.fast_forward(" +
      "table => 'default.br_basic', branch => 'audit')")
    assert(spark.table(t).count() === 6)
    assert(spark.sql(s"SELECT sum(key) FROM $t")
      .collect().head.getLong(0) === (1 + 2 + 3 + 4 + 5 + 6))
  }

  test("fast_forward REFUSES a main that advanced since the branch " +
      "was created — no silent clobber of concurrent work") {
    val t = fresh("br_diverge")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')") // v1
    spark.sql("CALL graft_kv.system.create_branch(" +
      "table => 'default.br_diverge', name => 'audit')")
    spark.range(10, 12).selectExpr("id AS key", "'s' AS value")
      .writeTo(t).option("branch", "audit").append()
    spark.sql(s"INSERT INTO $t VALUES (2, 'b')") // main advances to v2
    val e = intercept[Exception](
      spark.sql("CALL graft_kv.system.fast_forward(" +
        "table => 'default.br_diverge', branch => 'audit')"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString(" | ")
    assert(msgs.contains("not"), msgs) // "not fast-forwardable"
    // main keeps its own lineage; the branch stays auditable
    assert(spark.table(t).count() === 2)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'audit'")
      .collect().head.getLong(0) === 3)
  }

  test("expire keeps branch-referenced files alive; drop_branch makes " +
      "staged-only files vacuum-reclaimable orphans") {
    val t = fresh("br_expire")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')") // v1
    spark.sql("CALL graft_kv.system.create_branch(" +
      "table => 'default.br_expire', name => 'stage')")
    spark.range(100, 103).selectExpr("id AS key", "'s' AS value")
      .writeTo(t).option("branch", "stage").append()
    // CoW DELETE replaces main's files; expire drops v1's manifest
    spark.sql(s"DELETE FROM $t WHERE key = 2") // v2, new files
    spark.sql("CALL graft_kv.system.expire_snapshots(" +
      "table => 'default.br_expire', keep_last => 1)")
    assert(KvSnapshots.versions(dir("br_expire")) === Seq(2))
    // the branch still reads its full pre-DELETE state + staged rows
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'stage'")
      .collect().head.getLong(0) === 6)
    // vacuum must not reclaim the staged file while the branch lives
    spark.sql("CALL graft_kv.system.vacuum(" +
      "table => 'default.br_expire', older_than_ms => 0)")
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'stage'")
      .collect().head.getLong(0) === 6)
    // drop the branch: its staged-only files become orphans, and the
    // zero-grace vacuum reclaims them (main is unaffected)
    spark.sql("CALL graft_kv.system.drop_branch(" +
      "table => 'default.br_expire', name => 'stage')")
    spark.sql("CALL graft_kv.system.vacuum(" +
      "table => 'default.br_expire', older_than_ms => 0)")
    assert(spark.table(t).count() === 2)
    assert(KvBranches.list(dir("br_expire")).isEmpty)
  }

  test("guards: tag/branch namespace is shared, ALTER is frozen under " +
      "branches, UNSET snapshots refuses, writes need an existing " +
      "branch and a snapshotted table") {
    val t = fresh("br_guards")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')")
    spark.sql("CALL graft_kv.system.tag(" +
      "table => 'default.br_guards', name => 'pin')")
    // a branch may not take a tag's name (and vice versa)
    intercept[Exception](
      spark.sql("CALL graft_kv.system.create_branch(" +
        "table => 'default.br_guards', name => 'pin')"))
    spark.sql("CALL graft_kv.system.create_branch(" +
      "table => 'default.br_guards', name => 'work')")
    intercept[Exception](
      spark.sql("CALL graft_kv.system.tag(" +
        "table => 'default.br_guards', name => 'work')"))
    // schema evolution frozen while the branch exists
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE"))
    // snapshots cannot be disabled under an open branch
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('snapshots')"))
    // a write to a nonexistent branch fails loud
    intercept[Exception](
      spark.range(1).selectExpr("id AS key", "'x' AS value")
        .writeTo(t).option("branch", "nope").append())
    // dropping the branch unfreezes evolution
    spark.sql("CALL graft_kv.system.drop_branch(" +
      "table => 'default.br_guards', name => 'work')")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    assert(spark.table(t).columns.toSeq ===
      Seq("key", "value", "score"))
  }
}
