package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{KvSnapshots, KvZoneMap}

/** Per-COLUMN zone maps (KvFileStat.colStats): the writer records
  * min/max for every evolved fixed-domain column in the manifest, and
  * the scan skips files a pushed comparison on ANY such column proves
  * matchless — parquet's per-column footer stats recovered for the
  * line format. Soundness is the spine of every test here: pruning
  * may only ever change files-opened, never rows-returned.
  */
class KvColStatsSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def fresh(t: String, ddlCols: String): String = {
    cat()
    val full = s"graft_kv.default.$t"
    spark.sql(s"DROP TABLE IF EXISTS $full")
    spark.sql(s"CREATE TABLE $full ($ddlCols) " +
      "TBLPROPERTIES ('snapshots'='true')")
    full
  }

  private def manifestLines(short: String): Seq[String] = {
    val v = KvSnapshots.latest(dir(short)).get
    Files.readAllLines(Paths.get(dir(short), "_snapshots",
      f"v$v%05d.manifest")).asScala.toSeq
      // member lines only — a maintenance commit's first line is the
      // `#maintenance` header, not a member
      .filterNot(_.startsWith("#"))
  }

  /** Zone-map prunes observed while running `body`. The counter can
    * move more than once per skipped file (statistics estimation and
    * partition planning both walk the listing), so callers assert
    * `>=`, never `===`.
    */
  private def pruned[A](body: => A): (A, Long) = {
    val before = KvZoneMap.prunedFiles.get()
    val r = body
    (r, KvZoneMap.prunedFiles.get() - before)
  }

  test("writer records per-column min/max; disjoint-band inserts " +
      "prune under an extra-column predicate; results stay exact") {
    val t = fresh("cs_bands", "key BIGINT, value STRING, amount DOUBLE")
    for (b <- 0 to 2)
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING), " +
        s"CAST(id AS DOUBLE) + ${b * 1000} " +
        s"FROM range(${b * 10}, ${b * 10 + 10})")
    // every manifest data line carries a col-stats field for id 3
    assert(manifestLines("cs_bands")
      .forall(_.matches(""".*\t3:[0-9.E+-]+:[0-9.E+-]+""")),
      manifestLines("cs_bands").mkString("\n"))
    val (rows, n) = pruned {
      spark.sql(s"SELECT key FROM $t WHERE amount < 100.0 ORDER BY key")
        .collect().map(_.getLong(0)).toSeq
    }
    assert(rows === (0L to 9L)) // band 0 only
    assert(n >= 2, s"expected the two high bands pruned, got $n")
    // soundness: an unprunable predicate returns the full table
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE amount >= 0.0")
      .collect().head.getLong(0) === 30L)
  }

  test("bigint extra column prunes as longs — a >2^53 strict " +
      "comparison cannot wrongly skip") {
    val t = fresh("cs_big", "key BIGINT, value STRING, big BIGINT")
    val base = (1L << 60)
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', ${base + 1})")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', ${base - 1000000})")
    // base+1 > base is true, but both round to the same double; the
    // long-domain compare must keep the first file
    val (rows, _) = pruned {
      spark.sql(s"SELECT key FROM $t WHERE big > $base").collect()
        .map(_.getLong(0)).toSeq
    }
    assert(rows === Seq(1L))
    // and the second file is actually skipped for a high predicate
    val (rows2, n2) = pruned {
      spark.sql(s"SELECT key FROM $t WHERE big >= $base").collect()
        .map(_.getLong(0)).toSeq
    }
    assert(rows2 === Seq(1L) && n2 >= 1L)
  }

  test("NaN-bearing double column records NO stats and never skips") {
    val t = fresh("cs_nan", "key BIGINT, value STRING, score DOUBLE")
    spark.sql(s"INSERT INTO $t SELECT * FROM VALUES " +
      "(1L, 'a', 5.0D), (2L, 'b', CAST('NaN' AS DOUBLE)) LIMIT 2")
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 100.0)")
    // the NaN file carries no stats pair for id 3; the clean one does
    val lines = manifestLines("cs_nan")
    assert(lines.exists(l => !l.contains("\t3:")) &&
      lines.exists(_.contains("\t3:")), lines.mkString("\n"))
    // a range query must still see the NaN file (never skipped) —
    // and Spark orders NaN LARGER than every double, so the NaN row
    // itself matches `> 50.0`
    val got = spark.sql(s"SELECT key FROM $t WHERE score > 50.0")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got === Seq(2L, 3L))
    // NaN itself: the NaN file has unknown stats so it opens, and
    // Spark's row-level evaluation finds the row
    val nan = spark.sql(
      s"SELECT key FROM $t WHERE score = CAST('NaN' AS DOUBLE)")
      .collect().map(_.getLong(0)).toSeq
    assert(nan === Seq(2L))
  }

  test("known-all-null column is skipped by null-rejecting " +
      "comparisons and IsNotNull") {
    val t = fresh("cs_null", "key BIGINT, value STRING, ts TIMESTAMP")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', NULL), (2, 'b', NULL)")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(3, 'c', TIMESTAMP'2024-06-01 00:00:00')")
    assert(manifestLines("cs_null").exists(_.contains("\t3:-")),
      manifestLines("cs_null").mkString("\n"))
    val (rows, n) = pruned {
      spark.sql(s"SELECT key FROM $t WHERE ts IS NOT NULL").collect()
        .map(_.getLong(0)).toSeq
    }
    assert(rows === Seq(3L) && n >= 1L)
    val (rows2, n2) = pruned {
      spark.sql(s"SELECT key FROM $t " +
        "WHERE ts < TIMESTAMP'2030-01-01 00:00:00'").collect()
        .map(_.getLong(0)).toSeq
    }
    assert(rows2 === Seq(3L) && n2 >= 1L)
  }

  test("stats are field-id keyed: RENAME COLUMN keeps pruning on " +
      "files written before the rename") {
    val t = fresh("cs_rename", "key BIGINT, value STRING, qty BIGINT")
    spark.sql(s"INSERT INTO $t SELECT id, 'x', id FROM range(0, 10)")
    spark.sql(s"INSERT INTO $t SELECT id, 'y', id FROM range(1000, 1010)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN qty TO quantity")
    val (rows, n) = pruned {
      spark.sql(s"SELECT key FROM $t WHERE quantity >= 1000 ORDER BY key")
        .collect().map(_.getLong(0)).toSeq
    }
    assert(rows === (1000L to 1009L) && n >= 1L)
  }

  test("manifest round-trip: parsed colStats equal the committed ones") {
    val t = fresh("cs_rt", "key BIGINT, value STRING, d DATE, x DOUBLE")
    spark.sql(s"INSERT INTO $t SELECT * FROM VALUES " +
      "(1L, 'a', DATE'2024-01-02', -1.5E-3D), " +
      "(2L, 'b', DATE'2024-03-04', 2.25D) LIMIT 2")
    val stats = KvSnapshots.membersWithStats(
      dir("cs_rt"), KvSnapshots.latest(dir("cs_rt")).get)
    val data = KvSnapshots.dataFiles(stats)
    assert(data.nonEmpty && data.forall(_.colStats.keySet === Set(3, 4)),
      data.toString)
    // merged ranges across however many files the insert produced:
    // DATE stores epoch-day tokens (2024-01-02 = 19724, 2024-03-04 =
    // 19786); the double tokens round-trip exactly
    def rng(id: Int, f: String => Double): (Double, Double) = {
      val rs = data.map(_.colStats(id).get)
      (rs.map(r => f(r._1)).min, rs.map(r => f(r._2)).max)
    }
    assert(rng(3, _.toDouble) === ((19724.0, 19786.0)))
    assert(rng(4, _.toDouble) === ((-0.0015, 2.25)))
  }

  test("cluster rewrite carries fresh column stats") {
    val t = fresh("cs_cluster", "key BIGINT, value STRING, amt DOUBLE")
    for (b <- 0 to 2)
      spark.sql(s"INSERT INTO $t SELECT id, 'v', CAST(id AS DOUBLE) " +
        s"FROM range(${b * 5}, ${b * 5 + 5})")
    spark.sql(
      "CALL graft_kv.system.cluster(table => 'default.cs_cluster')")
    val lines = manifestLines("cs_cluster").filterNot(_.contains(".del"))
    assert(lines.nonEmpty && lines.forall(_.contains("\t3:")),
      lines.mkString("\n"))
    assert(spark.sql(s"SELECT sum(key) AS s FROM $t WHERE amt >= 0.0")
      .collect().head.getLong(0) === (0L until 15L).sum)
  }

  test("manifest-answered MIN/MAX over evolved columns; declines on " +
      "tombstones and NaN") {
    val t = fresh("cs_agg", "key BIGINT, value STRING, amt DOUBLE, " +
      "d DATE")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'a', -2.5, DATE'2024-01-01'), (2, 'b', NULL, NULL)")
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 7.75, DATE'2024-05-05')")
    graft.sources.KvAggScan.served.set(0)
    val r = spark.sql(s"SELECT min(amt), max(amt), min(d), max(d), " +
      s"count(*) FROM $t").collect().head
    assert(graft.sources.KvAggScan.served.get() > 0,
      "expected the manifest to answer the column aggregates")
    assert(r.getDouble(0) === -2.5 && r.getDouble(1) === 7.75)
    assert(r.getDate(2).toString === "2024-01-01" &&
      r.getDate(3).toString === "2024-05-05")
    assert(r.getLong(4) === 3L)
    // a NaN insert removes the column's stats → pushdown declines,
    // the scan path answers, and Spark's NaN-is-largest MAX holds
    spark.sql(s"INSERT INTO $t VALUES " +
      "(4, 'd', CAST('NaN' AS DOUBLE), NULL)")
    graft.sources.KvAggScan.served.set(0)
    val r2 = spark.sql(s"SELECT max(amt) FROM $t").collect().head
    assert(r2.getDouble(0).isNaN)
    // tombstones de-qualify min/max (the extremal row may be deleted)
    val t2 = fresh("cs_agg_del", "key BIGINT, value STRING, n BIGINT")
    spark.sql(s"INSERT INTO $t2 VALUES (1, 'a', 10), (2, 'b', 99)")
    spark.sql(s"DELETE FROM $t2 WHERE key = 2")
    assert(spark.sql(s"SELECT max(n) FROM $t2").collect()
      .head.getLong(0) === 10L)
  }

  test("time travel prunes with the stats of the pinned version") {
    val t = fresh("cs_tt", "key BIGINT, value STRING, n BIGINT")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 10)") // v1
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 2000)") // v2
    val (rows, n) = pruned {
      spark.sql(s"SELECT key FROM $t VERSION AS OF 2 WHERE n > 100")
        .collect().map(_.getLong(0)).toSeq
    }
    assert(rows === Seq(2L) && n >= 1L)
  }
}
