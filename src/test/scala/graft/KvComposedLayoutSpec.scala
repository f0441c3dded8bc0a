package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.sources.{KvBucketing, KvJsonlSink, KvSnapshots}

/** COMPOSED layout — `PARTITIONED BY (months(ts), bucket(n, key))`,
  * the standard 100 TB fact layout (temporal unit for retention and
  * pruning × hash bucket for exchange-free joins) as ONE table spec,
  * Iceberg's multi-transform partitioning. File names carry BOTH
  * tokens (`-m334-b0007.jsonl`); each machinery parses its own
  * suffix and neither knows the other exists. The composed-layout
  * GATE (catalog_composed_layout) pins month pruning + zero-shuffle
  * SPJ + DuckDB rows; this spec pins the physical layout itself, the
  * DML paths (CoW and MoR), streaming ingest, the $partitions cell
  * report, and the v1 guards (per-cell rewrite procedures decline).
  */
class KvComposedLayoutSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dirOf(table: String): String =
    graft.sources.KvGateTable(table).dir

  /** Every data file's name tokens match a recomputation of BOTH
    * routings from its rows.
    */
  private def assertTokens(table: String, dir: String, n: Int): Unit = {
    val rows = spark.sql(
      s"SELECT key, ts, _file FROM graft_kv.default.$table").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val name = Paths.get(r.getString(2)).getFileName.toString
      val b = KvBucketing.fileBucket(name)
      val m = KvBucketing.filePart(name, KvBucketing.PartMonths)
      assert(b.isDefined && m.isDefined,
        s"$name is missing a layout token (bucket=$b month=$m)")
      assert(b.get === KvBucketing.bucketOf(
        if (r.isNullAt(0)) null else Long.box(r.getLong(0)), n),
        s"$name: bucket token disagrees with the key routing")
      val expectTok = KvBucketing.partToken(
        if (r.isNullAt(1)) None
        else Some(r.getTimestamp(1).getTime * 1000L),
        isDate = false, KvBucketing.PartMonths)
      assert(m.get === expectTok,
        s"$name: month token disagrees with the ts routing")
    }
  }

  test("composed writes carry both tokens; DML rewrites keep them") {
    cat()
    val t = "cl_spec"
    spark.sql(s"DROP TABLE IF EXISTS graft_kv.default.$t")
    spark.sql(s"CREATE TABLE graft_kv.default.$t " +
      "(key BIGINT, value STRING, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts), bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    // two months × both buckets, plus a NULL-month row
    spark.sql(s"INSERT INTO graft_kv.default.$t SELECT id, " +
      "concat('v', id), CASE WHEN id % 5 = 4 THEN NULL " +
      "WHEN id % 2 = 0 THEN TIMESTAMP '2024-01-15 00:00:00' " +
      "ELSE TIMESTAMP '2024-02-15 00:00:00' END FROM range(0, 40)")
    val dir = dirOf(t)
    assertTokens(t, dir, 2)
    // the null partition is explicit: `-mnull-b....`
    val v1 = KvSnapshots.latest(dir).get
    val names1 = KvSnapshots.dataFiles(
      KvSnapshots.membersWithStats(dir, v1)).map(_.name)
    assert(names1.exists(_.contains("-mnull-b")),
      s"no null-month composed file in: $names1")

    // CoW DELETE: the rewrite routes through the composed writer, so
    // survivors keep both tokens and rows stay right
    spark.sql(s"DELETE FROM graft_kv.default.$t WHERE key % 4 = 1")
    assert(spark.sql(s"SELECT count(*) FROM graft_kv.default.$t")
      .collect()(0).getLong(0) === 30L)
    assertTokens(t, dir, 2)

    // month pruning composes with the rewrite's output
    val before = graft.sources.KvPartitionPrune.prunedFiles.get()
    val feb = spark.sql(
      s"SELECT count(*) FROM graft_kv.default.$t " +
        "WHERE ts >= TIMESTAMP '2024-02-01 00:00:00'")
      .collect()(0).getLong(0)
    assert(feb > 0L)
    assert(graft.sources.KvPartitionPrune.prunedFiles.get() > before,
      "timestamp predicate pruned no composed files")

    // $partitions groups by the full cell token (`m648-b0001` style)
    val cells = spark.sql(
      s"SELECT partition FROM graft_kv.default.`$t$$partitions` " +
        "WHERE partition IS NOT NULL")
      .collect().map(_.getString(0))
    assert(cells.nonEmpty && cells.forall(c =>
        c.matches("m-?\\d+-b\\d{4}") || c.matches("mnull-b\\d{4}")),
      s"composed $$partitions cells malformed: ${cells.mkString(", ")}")
  }

  test("MoR DML on a composed table: tombstones + tokened inserts") {
    cat()
    val t = "cl_mor"
    spark.sql(s"DROP TABLE IF EXISTS graft_kv.default.$t")
    spark.sql(s"CREATE TABLE graft_kv.default.$t " +
      "(key BIGINT, value STRING, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts), bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    spark.sql(s"INSERT INTO graft_kv.default.$t SELECT id, " +
      "concat('v', id), TIMESTAMP '2024-03-10 00:00:00' " +
      "FROM range(0, 20)")
    val dir = dirOf(t)
    val dataBefore = KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      dir, KvSnapshots.latest(dir).get)).map(_.name).toSet
    spark.sql(s"UPDATE graft_kv.default.$t SET value = 'patched' " +
      "WHERE key = 7")
    // MoR: original data files untouched, the UPDATE's insert half is
    // a COMPOSED-tokened delta file
    val after = KvSnapshots.dataFiles(KvSnapshots.membersWithStats(
      dir, KvSnapshots.latest(dir).get)).map(_.name)
    assert(dataBefore.subsetOf(after.toSet),
      "MoR UPDATE rewrote composed data files")
    val delta = after.filterNot(dataBefore)
    assert(delta.nonEmpty && delta.forall(n =>
        KvBucketing.fileBucket(n).isDefined &&
          KvBucketing.filePart(n, KvBucketing.PartMonths).isDefined),
      s"MoR delta files not composed-tokened: $delta")
    val got = spark.sql(s"SELECT value FROM graft_kv.default.$t " +
      "WHERE key = 7").collect()
    assert(got.length === 1 && got(0).getString(0) === "patched")
  }

  test("streamed epochs land composed tokens") {
    cat()
    val t = "cl_stream"
    spark.sql(s"DROP TABLE IF EXISTS graft_kv.default.$t")
    spark.sql(s"CREATE TABLE graft_kv.default.$t " +
      "(key BIGINT, value STRING, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts), bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val in = SparkTestBase.tempDir("graft_cl_in")
    Files.write(in.resolve("batch.jsonl"),
      (0L until 30L).map(k =>
        s"""{"key":$k,"value":"v$k","ts":"2024-0${1 + (k % 2)}-10T00:00:00.000Z"}""")
        .mkString("\n").getBytes("UTF-8"))
    val ckpt = SparkTestBase.tempDir("graft_cl_ckpt").toString
    val q = spark.readStream
      .schema("key BIGINT, value STRING, ts TIMESTAMP")
      .json(in.toString)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .toTable(s"graft_kv.default.$t")
    q.awaitTermination(120000)
    assert(spark.sql(s"SELECT count(*) FROM graft_kv.default.$t")
      .collect()(0).getLong(0) === 30L)
    assertTokens(t, dirOf(t), 2)
  }

  test("v1 guards: per-cell rewrites and policies decline composed") {
    cat()
    val t = "cl_guard"
    spark.sql(s"DROP TABLE IF EXISTS graft_kv.default.$t")
    spark.sql(s"CREATE TABLE graft_kv.default.$t " +
      "(key BIGINT, value STRING, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts), bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO graft_kv.default.$t VALUES " +
      "(1, 'v', TIMESTAMP '2024-01-01 00:00:00')")
    val e1 = intercept[Exception](spark.sql(
      s"CALL graft_kv.system.rewrite_buckets(table => 'default.$t')")
      .collect())
    assert(e1.getMessage.contains("COMPOSED"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"CALL graft_kv.system.rebucket(table => 'default.$t', " +
        "buckets => 4)").collect())
    assert(e2.getMessage.contains("COMPOSED"), e2.getMessage)
    // compact is plain-table machinery; sort and auto_compact are
    // DDL-rejected with any temporal partitioning, composed included
    val e3 = intercept[Exception](spark.sql(
      s"CALL graft_kv.system.compact(table => 'default.$t')").collect())
    assert(e3.getMessage.contains("plain tables"), e3.getMessage)
    val e4 = intercept[Exception](spark.sql(
      "CREATE TABLE graft_kv.default.cl_guard2 " +
        "(key BIGINT, value STRING, ts TIMESTAMP) " +
        "PARTITIONED BY (months(ts), bucket(2, key)) " +
        "TBLPROPERTIES ('snapshots'='true', 'write.auto_compact'='2')"))
    assert(e4.getMessage.contains("auto_compact"), e4.getMessage)
    val e5 = intercept[Exception](spark.sql(
      "CREATE TABLE graft_kv.default.cl_guard3 " +
        "(key BIGINT, value STRING, ts TIMESTAMP) " +
        "PARTITIONED BY (months(ts), bucket(2, key)) " +
        "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')"))
    assert(e5.getMessage.contains("write.sort"), e5.getMessage)
    // three transforms (or a duplicate family) stay rejected
    val e6 = intercept[Exception](spark.sql(
      "CREATE TABLE graft_kv.default.cl_guard4 " +
        "(key BIGINT, value STRING, ts TIMESTAMP) " +
        "PARTITIONED BY (months(ts), days(ts), bucket(2, key))"))
    assert(e6.getMessage.toLowerCase.contains("support"), e6.getMessage)
  }
}
