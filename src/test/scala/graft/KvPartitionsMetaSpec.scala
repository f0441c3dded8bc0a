package graft

/** `t$partitions` — the per-partition metadata table: one row per
  * layout token of the current snapshot, aggregated straight from the
  * manifest (KvMetaTables.scala). Covers bucket tokens, temporal
  * tokens (incl. the `null` partition for NULL partition-column
  * rows), the partition-level key zone map, the NULL-row attribution
  * of partition-agnostic delete files, and the snapshots-required
  * guard. The gate twin (`catalog_partitions_table`) pins the
  * per-month arithmetic against DuckDB.
  */
class KvPartitionsMetaSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  test("bucketed table: one row per bucket, counts and zone maps add up") {
    cat()
    val t = "graft_kv.default.pmeta_bkt"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING) " +
      "FROM range(0, 100)")
    val rows = spark.sql(
      s"SELECT * FROM graft_kv.default.`pmeta_bkt$$partitions`")
      .collect()
    assert(rows.length === 4)
    val toks = rows.map(_.getString(0)).sorted
    assert(toks === Array("b0000", "b0001", "b0002", "b0003"))
    assert(rows.map(_.getLong(3)).sum === 100L) // data_rows
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L) // n_data_files
      assert(r.getLong(2) === 0L) // n_delete_files
      assert(r.getLong(4) === 0L) // tombstones
      // zone map: floorMod(key,4) == bucket index for 0..99
      val b = r.getString(0).drop(1).toInt
      assert(r.getLong(5) === b.toLong) // min_key
      assert(r.getLong(6) === (96 + b).toLong) // max_key
    }
  }

  test("days partitioning: NULL partition-column rows land in 'dnull'") {
    cat()
    val t = "graft_kv.default.pmeta_days"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING, " +
      "ts TIMESTAMP) PARTITIONED BY (days(ts)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'a', TIMESTAMP '1997-01-01 10:00:00')," +
      "(2, 'b', TIMESTAMP '1997-01-02 10:00:00')," +
      "(3, 'c', NULL)")
    val rows = spark.sql(
      s"SELECT partition, data_rows FROM " +
        s"graft_kv.default.`pmeta_days$$partitions` ORDER BY partition")
      .collect()
    val byTok = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTok === Map(
      "d9862" -> 1L, "d9863" -> 1L, "dnull" -> 1L))
  }

  test("MoR deletes: tombstone files aggregate under the NULL row") {
    cat()
    val t = "graft_kv.default.pmeta_mor"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING) " +
      "FROM range(0, 50)")
    spark.sql(s"DELETE FROM $t WHERE key < 10")
    val rows = spark.sql(
      s"SELECT * FROM graft_kv.default.`pmeta_mor$$partitions`")
      .collect()
    val nullRow = rows.filter(_.isNullAt(0))
    assert(nullRow.length === 1)
    assert(nullRow(0).getLong(2) >= 1L) // n_delete_files
    assert(nullRow(0).getLong(4) === 10L) // tombstones
    assert(nullRow(0).getLong(1) === 0L) // no data files on NULL row
    // the bucket rows keep their full pre-delete data_rows (MoR —
    // membership unchanged, deletion is scan-time)
    assert(rows.filterNot(_.isNullAt(0)).map(_.getLong(3)).sum === 50L)
  }

  test("VERSION AS OF pins $files and $partitions to a past layout") {
    cat()
    val t = "graft_kv.default.pmeta_tt"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(0, 20)")
    spark.sql(s"INSERT INTO $t SELECT id, 'b' FROM range(20, 50)")
    def rowsAt(meta: String, v: String): Long =
      spark.sql(s"SELECT CAST(sum(data_rows) AS BIGINT) FROM " +
        s"graft_kv.default.`pmeta_tt$$$meta` VERSION AS OF $v")
        .collect()(0).getLong(0)
    assert(rowsAt("partitions", "1") === 20L)
    assert(rowsAt("partitions", "2") === 50L)
    assert(spark.sql("SELECT count(*) FROM " +
      s"graft_kv.default.`pmeta_tt$$files` VERSION AS OF 1")
      .collect()(0).getLong(0) === 2L) // one file per bucket at v1
    // tags resolve for metadata tables too
    spark.sql("CALL graft_kv.system.tag(" +
      "table => 'default.pmeta_tt', name => 'v1tag', version => 1)")
      .collect()
    assert(rowsAt("partitions", "'v1tag'") === 20L)
    // a never-committed version fails loud
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM " +
        s"graft_kv.default.`pmeta_tt$$partitions` VERSION AS OF 99")
        .collect()
    }
    assert(e.getMessage.contains("no snapshot"))
  }

  test("branch heads and timestamps address the layout tables too; " +
      "history tables reject version addressing") {
    cat()
    val t = "graft_kv.default.pmeta_br"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, 'main' FROM range(0, 10)")
    spark.sql("CALL graft_kv.system.create_branch(" +
      "table => 'default.pmeta_br', name => 'audit')").collect()
    // stage 30 rows on the branch; main stays at 10
    spark.sql(s"SELECT id AS key, 'staged' AS value FROM range(0, 30)")
      .writeTo(t).option("branch", "audit").append()
    def sumRows(v: String): Long =
      spark.sql(s"SELECT CAST(sum(data_rows) AS BIGINT) FROM " +
        s"graft_kv.default.`pmeta_br$$partitions` VERSION AS OF $v")
        .collect()(0).getLong(0)
    assert(sumRows("'audit'") === 40L,
      "the branch head must show main + staged files")
    assert(spark.sql("SELECT CAST(sum(data_rows) AS BIGINT) FROM " +
      s"graft_kv.default.`pmeta_br$$partitions`")
      .collect()(0).getLong(0) === 10L, "main must be unaffected")
    // TIMESTAMP AS OF: far future resolves to the newest main version
    assert(spark.sql("SELECT count(*) FROM " +
      s"graft_kv.default.`pmeta_br$$files` " +
      "TIMESTAMP AS OF '2099-01-01'").collect()(0).getLong(0) >= 1L)
    // history tables are the history — version-addressing them is
    // a loud error, not a confusing NoSuchTable
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM " +
        s"graft_kv.default.`pmeta_br$$snapshots` VERSION AS OF 1")
        .collect()
    }
    assert(e.getMessage.contains("not version-addressable"))
  }

  test("$partitions requires a snapshotted base table") {
    cat()
    val t = "graft_kv.default.pmeta_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_kv.default.`pmeta_plain$$partitions`")
        .collect()
    }
    assert(e.getMessage.contains("snapshotted"))
  }
}
