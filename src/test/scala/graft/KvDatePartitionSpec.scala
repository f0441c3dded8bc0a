package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{KvBucketing, KvPartitionPrune}

/** Date partitioning (`PARTITIONED BY (days(col))`): day-routed
  * writes carry the day token in the file name, temporal predicates
  * prune whole files at planning, nulls land in (and prune out of)
  * the explicit null partition, and DML rewrites preserve the layout.
  */
class KvDatePartitionSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def jsonlFiles(t: String): Seq[String] = {
    val s = Files.list(Paths.get(dir(t)))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".jsonl")).toSeq.sorted
    finally s.close()
  }

  test("writes route by day token; a date range prunes whole files; " +
      "the null partition exists and prunes out of comparisons") {
    cat()
    val t = "graft_kv.default.dp_basic"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING, day DATE) " +
      "PARTITIONED BY (days(day))")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'a', DATE '1995-01-01'), (2, 'b', DATE '1995-01-01'), " +
      "(3, 'c', DATE '1995-01-02'), (4, 'd', DATE '1995-03-05'), " +
      "(5, 'e', null)")
    // one file per day seen (+ the null partition)
    val files = jsonlFiles("dp_basic")
    val days = files.flatMap(KvBucketing.fileDay)
    assert(days.count(_.isEmpty) === 1, s"null partition: $files")
    assert(days.flatten.distinct.size === 3, s"day partitions: $files")
    // a day-range query prunes the out-of-range and null files
    val before = KvPartitionPrune.prunedFiles.get()
    val got = spark.sql(s"SELECT sum(key) FROM $t " +
      "WHERE day >= DATE '1995-01-01' AND day <= DATE '1995-01-02'")
      .collect().head.getLong(0)
    assert(got === 6L) // keys 1+2+3; null row excluded by comparison
    assert(KvPartitionPrune.prunedFiles.get() - before >= 2,
      "expected the 1995-03-05 file AND the null partition pruned")
    // equality on a single day
    assert(spark.sql(
      s"SELECT count(*) FROM $t WHERE day = DATE '1995-03-05'")
      .collect().head.getLong(0) === 1L)
    // the table reports its transform
    assert(spark.sql(s"SHOW CREATE TABLE $t").collect().head
      .getString(0).contains("days(day)"))
  }

  test("timestamp partition column floors to calendar days; DML " +
      "rewrites preserve the layout; the partition column cannot drop") {
    cat()
    val t = "graft_kv.default.dp_ts"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING, " +
      "ts TIMESTAMP) PARTITIONED BY (days(ts)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'a', TIMESTAMP '1995-01-01 00:00:00'), " +
      "(2, 'b', TIMESTAMP '1995-01-01 23:59:59.999999'), " +
      "(3, 'c', TIMESTAMP '1995-01-02 00:00:00')")
    // both 01-01 rows share a file-day; 01-02 is separate
    val v1 = graft.sources.KvSnapshots.latest(dir("dp_ts")).get
    val days1 = graft.sources.KvSnapshots.members(dir("dp_ts"), v1)
      .flatMap(KvBucketing.fileDay).flatten.distinct
    assert(days1.size === 2, s"expected 2 day partitions: $days1")
    // CoW DELETE rewrites through the routed writer: layout preserved
    spark.sql(s"DELETE FROM $t WHERE key = 1")
    val v2 = graft.sources.KvSnapshots.latest(dir("dp_ts")).get
    val files2 = graft.sources.KvSnapshots.members(dir("dp_ts"), v2)
    assert(files2.forall(f => KvBucketing.fileDay(f).isDefined),
      s"rewrite lost day tokens: $files2")
    assert(spark.sql(s"SELECT count(*) FROM $t " +
      "WHERE ts < TIMESTAMP '1995-01-02 00:00:00'")
      .collect().head.getLong(0) === 1L)
    // the partition column is structural
    intercept[Exception](spark.sql(s"ALTER TABLE $t DROP COLUMN ts"))
    // but RENAME is fine — the meta records the FIELD ID
    spark.sql(s"ALTER TABLE $t RENAME COLUMN ts TO event_ts")
    assert(spark.sql(s"SELECT count(*) FROM $t " +
      "WHERE event_ts >= TIMESTAMP '1995-01-02 00:00:00'")
      .collect().head.getLong(0) === 1L)
  }

  test("months() partitioning: rows of one calendar month share a " +
      "file, month-range predicates prune, year boundaries respected") {
    cat()
    val t = "graft_kv.default.dp_months"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING, " +
      "ts TIMESTAMP) PARTITIONED BY (months(ts))")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'a', TIMESTAMP '1995-01-03 10:00:00'), " +
      "(2, 'b', TIMESTAMP '1995-01-28 23:00:00'), " + // same month as 1
      "(3, 'c', TIMESTAMP '1995-12-31 23:59:59'), " +
      "(4, 'd', TIMESTAMP '1996-01-01 00:00:00'), " + // next month/year
      "(5, 'e', TIMESTAMP '1969-06-15 12:00:00')") // pre-epoch month
    val files = jsonlFiles("dp_months")
    val months = files.flatMap(
      KvBucketing.filePart(_, KvBucketing.PartMonths)).flatten
    assert(months.distinct.sorted ===
      Seq(-7L, 300L, 311L, 312L), s"month tokens: $files")
    // months since 1970-01: 1995-01 = 300, 1995-12 = 311, 1996-01 =
    // 312, 1969-06 = -7 (floors toward -inf across the epoch)
    val before = KvPartitionPrune.prunedFiles.get()
    assert(spark.sql(s"SELECT sum(key) FROM $t " +
      "WHERE ts >= TIMESTAMP '1995-01-01 00:00:00' " +
      "AND ts < TIMESTAMP '1995-02-01 00:00:00'")
      .collect().head.getLong(0) === 3L)
    assert(KvPartitionPrune.prunedFiles.get() - before >= 2,
      "expected at least the 1995-12 and 1969-06 files pruned")
  }

  test("years() and hours() complete the transform family; hours " +
      "over DATE is rejected like Iceberg") {
    cat()
    val ty = "graft_kv.default.dp_years"
    spark.sql(s"DROP TABLE IF EXISTS $ty")
    spark.sql(s"CREATE TABLE $ty (key BIGINT, value STRING, " +
      "day DATE) PARTITIONED BY (years(day))")
    spark.sql(s"INSERT INTO $ty VALUES " +
      "(1, 'a', DATE '1995-01-01'), (2, 'b', DATE '1995-12-31'), " +
      "(3, 'c', DATE '1997-06-15'), (4, 'd', DATE '1969-02-01')")
    val yTokens = jsonlFiles("dp_years").flatMap(
      KvBucketing.filePart(_, KvBucketing.PartYears)).flatten
    assert(yTokens.distinct.sorted === Seq(-1L, 25L, 27L),
      s"year tokens: ${jsonlFiles("dp_years")}")
    val before = KvPartitionPrune.prunedFiles.get()
    assert(spark.sql(s"SELECT sum(key) FROM $ty " +
      "WHERE day >= DATE '1995-01-01' AND day < DATE '1996-01-01'")
      .collect().head.getLong(0) === 3L)
    assert(KvPartitionPrune.prunedFiles.get() - before >= 2)

    val th = "graft_kv.default.dp_hours"
    spark.sql(s"DROP TABLE IF EXISTS $th")
    spark.sql(s"CREATE TABLE $th (key BIGINT, value STRING, " +
      "ts TIMESTAMP) PARTITIONED BY (hours(ts))")
    spark.sql(s"INSERT INTO $th VALUES " +
      "(1, 'a', TIMESTAMP '1995-01-01 10:15:00'), " +
      "(2, 'b', TIMESTAMP '1995-01-01 10:59:59'), " + // same hour
      "(3, 'c', TIMESTAMP '1995-01-01 11:00:00')")
    val hTokens = jsonlFiles("dp_hours").flatMap(
      KvBucketing.filePart(_, KvBucketing.PartHours)).flatten
    assert(hTokens.distinct.size === 2,
      s"hour tokens: ${jsonlFiles("dp_hours")}")
    assert(spark.sql(s"SELECT count(*) FROM $th " +
      "WHERE ts >= TIMESTAMP '1995-01-01 11:00:00'")
      .collect().head.getLong(0) === 1L)
    // hours(DATE) rejected at CREATE
    intercept[Exception] {
      spark.sql("DROP TABLE IF EXISTS graft_kv.default.dp_hbad")
      spark.sql("CREATE TABLE graft_kv.default.dp_hbad " +
        "(key BIGINT, value STRING, day DATE) " +
        "PARTITIONED BY (hours(day))")
    }
  }

  test("maintenance guards: compact and cluster refuse partitioned " +
      "tables (a rewrite would multiply files per unit)") {
    cat()
    val t = "graft_kv.default.dp_maint"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING, day DATE) " +
      "PARTITIONED BY (days(day)) TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', DATE '1995-01-01')")
    intercept[Exception](spark.sql(
      "CALL graft_kv.system.cluster(table => 'default.dp_maint')"))
    intercept[Exception](spark.sql(
      "CALL graft_kv.system.compact(table => 'default.dp_maint')"))
    // the table is untouched by the refused calls
    assert(spark.table(t).count() === 1)
  }

  test("format-path (non-catalog) writes still day-route, and " +
      "malformed multi-transform specs are rejected at CREATE") {
    cat()
    val t = "graft_kv.default.dp_format"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING, day DATE) " +
      "PARTITIONED BY (days(day))")
    import org.apache.spark.sql.functions._
    spark.range(2)
      .select(col("id").as("key"), lit("x").as("value"),
        expr("DATE '2001-05-05'").as("day"))
      .write.format("graft.sources.KvJsonlSink")
      .mode("append").save(dir("dp_format"))
    assert(jsonlFiles("dp_format")
      .forall(f => KvBucketing.fileDay(f).isDefined))
    // bucket + unit is now the COMPOSED layout (KvComposedLayoutSpec);
    // what stays rejected is any spec outside {bucket} / {unit} /
    // {unit, bucket} — two temporal units, or two buckets
    intercept[Exception] {
      spark.sql("DROP TABLE IF EXISTS graft_kv.default.dp_bad")
      spark.sql("CREATE TABLE graft_kv.default.dp_bad " +
        "(key BIGINT, value STRING, day DATE) " +
        "PARTITIONED BY (days(day), months(day))")
    }
    intercept[Exception] {
      spark.sql("DROP TABLE IF EXISTS graft_kv.default.dp_bad2")
      spark.sql("CREATE TABLE graft_kv.default.dp_bad2 " +
        "(key BIGINT, value STRING, day DATE) " +
        "PARTITIONED BY (bucket(4, key), bucket(8, key))")
    }
  }
}
