package graft

import org.apache.spark.sql.functions._

import graft.sources.KvAggScan

/** The manifest-statistics surface: exact planner row counts from
  * per-file counts recorded at commit, stats-driven hint-free
  * broadcast of a small kv table, the manifest-answered COUNT(*)
  * pushdown (positive, post-rewrite, and the filtered/grouped
  * fallbacks that must NOT push), and count correctness across the
  * whole insert/append/delete history.
  */
class KvStatsSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def snapTable(name: String): String = {
    cat()
    val t = s"graft_kv.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    t
  }

  test("planner sees the exact manifest row count") {
    val t = snapTable("st_rows")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet`")
    val want = spark.read.parquet(s"$sfDir/orders.parquet").count()
    val stats = spark.sql(s"SELECT * FROM $t")
      .queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(want)),
      s"expected exact rowCount $want, got ${stats.rowCount}")
    spark.sql(s"DROP TABLE $t")
  }

  test("small kv table broadcasts without a hint") {
    val t = snapTable("st_bcast")
    spark.sql(s"INSERT INTO $t VALUES (1, 'A'), (2, 'B'), (3, 'C')")
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .join(spark.table(t),
        col("o_orderkey") % 3 + 1 === col("key"))
      .groupBy("value").agg(count(lit(1)).as("n"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small kv side should auto-broadcast on reported stats:\n$plan")
    spark.sql(s"DROP TABLE $t")
  }

  test("count(*) answered from the manifest, exact across a rewrite") {
    val t = snapTable("st_cnt")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet`")
    spark.sql(s"DELETE FROM $t WHERE key % 5 = 0")
    KvAggScan.served.set(0)
    val got = spark.sql(s"SELECT count(*) FROM $t")
      .collect().head.getLong(0)
    assert(KvAggScan.served.get() > 0,
      "count(*) should have been manifest-answered")
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 5 =!= 0).count()
    assert(got === want)
    spark.sql(s"DROP TABLE $t")
  }

  test("filtered and grouped counts do NOT push, and stay correct") {
    val t = snapTable("st_fallback")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet`")
    KvAggScan.served.set(0)
    val filtered = spark.sql(
      s"SELECT count(*) FROM $t WHERE key > 100")
      .collect().head.getLong(0)
    val grouped = spark.sql(
      s"SELECT value, count(*) AS n FROM $t GROUP BY value")
      .collect().map(_.getLong(1)).sum
    assert(KvAggScan.served.get() === 0,
      "a filtered or grouped count must take the data scan")
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    assert(filtered === src.filter(col("o_orderkey") > 100).count())
    assert(grouped === src.count())
    spark.sql(s"DROP TABLE $t")
  }

  test("zone-map satisfiability: unknown keeps, keyless and empty skip") {
    import graft.sources.{KvSnapshots, KvZoneMap}
    import org.apache.spark.sql.sources._
    val known = KvSnapshots.KvFileStat(
      "f", 10L, Some(100L), Some(200L), keysKnown = true)
    val keyless = KvSnapshots.KvFileStat(
      "f", 3L, None, None, keysKnown = true)
    val unknown = KvSnapshots.KvFileStat(
      "f", -1L, None, None, keysKnown = false)
    val empty = KvSnapshots.KvFileStat(
      "f", 0L, None, None, keysKnown = true)
    val le50 = Array[Filter](LessThanOrEqual("key", Long.box(50L)))
    val ge150 = Array[Filter](GreaterThanOrEqual("key", Long.box(150L)))
    val eq150 = Array[Filter](EqualTo("key", Long.box(150L)))
    assert(!KvZoneMap.mayMatch(known, le50))
    assert(KvZoneMap.mayMatch(known, ge150))
    assert(KvZoneMap.mayMatch(known, eq150))
    assert(!KvZoneMap.mayMatch(keyless, eq150))
    assert(!KvZoneMap.mayMatch(keyless, Array(IsNotNull("key"))))
    assert(KvZoneMap.mayMatch(unknown, eq150), "unknown must never skip")
    assert(!KvZoneMap.mayMatch(empty, eq150))
    assert(KvZoneMap.mayMatchKeys(known, Set(150L)))
    assert(KvZoneMap.mayMatchKeys(known, Set(50L, 300L)),
      "coarse envelope keeps — only whole-range misses skip")
    assert(!KvZoneMap.mayMatchKeys(known, Set(50L)))
    assert(KvZoneMap.mayMatchKeys(unknown, Set(1L)))
  }

  test("zone-map gate prunes files and loses nothing") {
    val rows = SparkEntry.queries("catalog_zonemap_prune")(spark, sfDir)
      .collect()
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") <= 1000)
      .groupBy(col("o_orderpriority").as("value"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("value")
      .collect()
    assert(rows.toSeq === want.toSeq)
  }

  test("min/max gate manifest-answers, including across a rewrite") {
    val rows = SparkEntry.queries("catalog_minmax_pushdown")(
      spark, sfDir).collect()
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 5 =!= 0)
      .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()
    assert(rows.head.getLong(0) === want.head.getLong(0))
    assert(rows.head.getLong(1) === want.head.getLong(1))
    assert(rows.head.getLong(2) === want.head.getLong(2))
  }

  test("min/max over an all-null-key table is a manifest-answered null") {
    val t = snapTable("st_nullkeys")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(CAST(NULL AS BIGINT), 'a'), (CAST(NULL AS BIGINT), 'b')")
    KvAggScan.served.set(0)
    val r = spark.sql(
      s"SELECT count(*), min(key), max(key) FROM $t").collect().head
    assert(KvAggScan.served.get() >= 1)
    assert(r.getLong(0) === 2L)
    assert(r.isNullAt(1) && r.isNullAt(2))
    spark.sql(s"DROP TABLE $t")
  }

  test("unsnapshotted tables never manifest-answer") {
    cat()
    val t = "graft_kv.default.st_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    KvAggScan.served.set(0)
    val n = spark.sql(s"SELECT count(*) FROM $t")
      .collect().head.getLong(0)
    assert(n === 2)
    assert(KvAggScan.served.get() === 0)
    spark.sql(s"DROP TABLE $t")
  }
}
