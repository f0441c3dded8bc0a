package graft

import org.apache.spark.sql.functions._

/** Drives the kv catalog's SQL surface end to end: DDL (CREATE/DROP),
  * writes (INSERT INTO), reads (SELECT through the file-per-partition
  * scan), and the row-level DML triad (DELETE / UPDATE / MERGE) that
  * goes through the group-based copy-on-write rewrite. Every check
  * compares against the same operation computed on a plain DataFrame.
  */
class KvCatalogDmlSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def freshTable(name: String): String = {
    cat()
    val t = s"graft_kv.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    t
  }

  test("create + insert + select round trip") {
    val t = freshTable("rt")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .createOrReplaceTempView("rt_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM rt_src")
    val got = spark.sql(
      s"SELECT count(*) AS n, count(DISTINCT value) AS nv, " +
        s"sum(key) AS sk FROM $t").collect().head
    val want = Tables.orders(spark, sfDir)
      .agg(count(lit(1)), countDistinct(col("o_orderpriority")),
        sum(col("o_orderkey"))).collect().head
    assert(got == want)
    spark.sql(s"DROP TABLE $t")
  }

  test("DELETE with a PUSHABLE predicate keeps every survivor") {
    // Regression: Catalyst pushes the DML's matching condition into
    // the row-level scan; a connector that row-skips on it (as this
    // one does for SELECT pushdown) filters the SURVIVORS out of the
    // rewrite — `key = 2` is pushable (unlike the `%` predicates the
    // gates use), and before the forRowLevelOp guard it emptied the
    // whole table.
    val t = freshTable("del_push")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"DELETE FROM $t WHERE key = 2")
    val keys = spark.sql(s"SELECT key FROM $t ORDER BY key")
      .collect().map(_.getLong(0)).toSeq
    assert(keys === Seq(1L, 3L))
    // UPDATE takes the same scan path
    spark.sql(s"UPDATE $t SET value = 'X' WHERE key = 1")
    val vals = spark.sql(s"SELECT value FROM $t ORDER BY key")
      .collect().map(_.getString(0)).toSeq
    assert(vals === Seq("X", "c"))
    spark.sql(s"DROP TABLE $t")
  }

  test("DELETE FROM removes exactly the matching rows") {
    val t = freshTable("del")
    spark.sql(
      s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM parquet.`$sfDir/orders.parquet`")
    spark.sql(s"DELETE FROM $t WHERE key % 3 = 0")
    val got = spark.sql(
      s"SELECT count(*) AS n, sum(key) AS sk FROM $t")
      .collect().head
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 3 =!= 0)
      .agg(count(lit(1)), sum(col("o_orderkey"))).collect().head
    assert(got == want)
    spark.sql(s"DROP TABLE $t")
  }

  test("UPDATE rewrites matching rows in place") {
    val t = freshTable("upd")
    spark.sql(
      s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM parquet.`$sfDir/orders.parquet`")
    spark.sql(
      s"UPDATE $t SET value = concat('X-', value) WHERE key % 5 = 0")
    val got = spark.sql(
      s"SELECT value, count(*) AS n FROM $t GROUP BY value " +
        s"ORDER BY value").collect()
    val want = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("key"),
        when(col("o_orderkey") % 5 === 0,
          concat(lit("X-"), col("o_orderpriority")))
          .otherwise(col("o_orderpriority")).as("value"))
      .groupBy("value").agg(count(lit(1)).as("n"))
      .orderBy("value").collect()
    assert(got.toSeq == want.toSeq)
    spark.sql(s"DROP TABLE $t")
  }

  test("MERGE INTO upserts matched and inserts unmatched") {
    val t = freshTable("mrg")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("SELECT * FROM VALUES (2, 'B'), (9, 'Z') AS s(key, value)")
      .createOrReplaceTempView("mrg_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING mrg_src AS src ON tgt.key = src.key
         |WHEN MATCHED THEN UPDATE SET value = src.value
         |WHEN NOT MATCHED THEN INSERT (key, value)
         |  VALUES (src.key, src.value)""".stripMargin)
    val got = spark.sql(s"SELECT key, value FROM $t ORDER BY key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "Z")))
    spark.sql(s"DROP TABLE $t")
  }

  test("INSERT OVERWRITE replaces the table contents") {
    val t = freshTable("ovr")
    spark.sql(s"INSERT INTO $t VALUES (1, 'old'), (2, 'old')")
    spark.sql(s"INSERT OVERWRITE $t VALUES (7, 'new'), (8, 'new')")
    val got = spark.sql(s"SELECT key, value FROM $t ORDER BY key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((7L, "new"), (8L, "new")))
    spark.sql(s"DROP TABLE $t")
  }

  test("streaming writeStream.toTable lands in the catalog table") {
    val t = freshTable("strm")
    import spark.implicits._
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    src.addData((1L, "a"), (2L, "b"))
    val q = src.toDF().toDF("key", "value")
      .writeStream
      .option("checkpointLocation", Fs.scratch(spark, "kv_strm_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(t)
    q.awaitTermination()
    val got = spark.sql(s"SELECT key, value FROM $t ORDER BY key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    spark.sql(s"DROP TABLE $t")
  }

  test("jsonl line format round-trips hostile strings") {
    import graft.sources.KvJsonlSink.{escape, parseLine}
    val cases = Seq("", "plain", "with \"quotes\"", "back\\slash",
      "tab\tnl\ncr\r", "ctrlchar", "unicode ☃",
      "json-ish {\"key\":1,\"value\":\"x\"}", "trailing }")
    for (v <- cases) {
      val line = s"""{"key":7,"value":"${escape(v)}"}"""
      assert(parseLine(line) == (Some(7L), Some(v)), v)
    }
    assert(parseLine("""{"key":null,"value":null}""") == (None, None))
    assert(parseLine("""{"key":-42,"value":null}""") ==
      (Some(-42L), None))
  }

  test("_file metadata column is hidden from * but selectable") {
    val t = freshTable("meta")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql(s"SELECT * FROM $t").columns.toSeq ==
      Seq("key", "value"))
    val files = spark.sql(s"SELECT DISTINCT _file FROM $t").collect()
      .map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.endsWith(".jsonl")))
    spark.sql(s"DROP TABLE $t")
  }

  test("key predicates push into the reader and skip rows at parse") {
    val t = freshTable("push")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet`")
    val skipBefore = graft.sources.KvKeyPredicate.skipped.get()
    val df = spark.sql(s"SELECT key, value FROM $t WHERE key <= 100")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("LessThanOrEqual(key,100)"), plan)
    val got = df.collect().map(_.getLong(0)).sorted.toSeq
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") <= 100).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // Rows outside the bound were rejected reader-side, before any
    // value unescape (the JVM-local counter is the observable).
    assert(graft.sources.KvKeyPredicate.skipped.get() > skipBefore)
    spark.sql(s"DROP TABLE $t")
  }

  test("CALL system.compact rewrites small files distributively") {
    val t = freshTable("cmp")
    spark.sql(
      s"INSERT INTO $t SELECT /*+ REPARTITION(16) */ o_orderkey, " +
        s"o_orderpriority FROM parquet.`$sfDir/orders.parquet`")
    val before = spark.sql(s"SELECT sum(key) AS s, count(*) AS n FROM $t")
      .collect().head
    val res = spark.sql(
      "CALL graft_kv.system.compact(table => 'default.cmp', " +
        "target_files => 2)").collect().head
    assert(res.getLong(0) == 16L, s"files_before: $res")
    assert(res.getLong(1) == 2L, s"files_after: $res")
    assert(res.getLong(2) == before.getAs[Long]("n"), res.toString)
    val after = spark.sql(s"SELECT sum(key) AS s, count(*) AS n FROM $t")
      .collect().head
    assert(after == before)
    // Positional + defaulted form: back to one file.
    val res2 = spark.sql("CALL graft_kv.system.compact('default.cmp')")
      .collect().head
    assert(res2.getLong(0) == 2L && res2.getLong(1) == 1L, res2.toString)
    spark.sql(s"DROP TABLE $t")
  }

  test("procedure edges: unknown procedure, missing table") {
    cat()
    intercept[Exception] {
      spark.sql("CALL graft_kv.system.nope()").collect()
    }
    intercept[Exception] {
      spark.sql("CALL graft_kv.system.compact('default.absent')")
        .collect()
    }
  }

  test("catalog DDL edges: duplicate create, missing table, rename") {
    cat()
    val t = freshTable("edges")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    }
    // RENAME TO takes a catalog-relative name (the catalog is fixed
    // by the source identifier).
    spark.sql(s"ALTER TABLE $t RENAME TO default.edges2")
    assert(spark.sql("SHOW TABLES IN graft_kv.default").collect()
      .map(_.getString(1)).contains("edges2"))
    spark.sql("DROP TABLE graft_kv.default.edges2")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_kv.default.edges2").collect()
    }
  }
}
