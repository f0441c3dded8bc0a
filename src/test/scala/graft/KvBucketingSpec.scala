package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{KvBucketing, KvJsonlSink, KvRuntimeFilter}

/** Bucketed kv tables end to end: the bucket spec itself, write-time
  * routing (every row physically in its bucket's file), the
  * storage-partitioned join (the `catalog_spj_join` gate self-asserts
  * its plan is shuffle-free below the join — running it here IS the
  * plan test), runtime join-key filtering into the scan (whole-bucket
  * file pruning, observable on the counters), and row-level DML on a
  * bucketed table preserving the bucketed layout.
  */
class KvBucketingSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def warehouseDir(table: String): String =
    graft.sources.KvGateTable(table).dir

  test("bucket spec: floorMod semantics, null to bucket 0") {
    assert(KvBucketing.bucketOf(7L, 4) === 3)
    assert(KvBucketing.bucketOf(-1L, 4) === 3) // floorMod, not rem
    assert(KvBucketing.bucketOf(null, 4) === 0)
    val bound = new graft.sources.KvBucketBound
    val row = org.apache.spark.sql.catalyst.InternalRow(4, 7L)
    assert(bound.produceResult(row) === 3)
    assert(bound.canonicalName === "graft.kv.bucket")
  }

  test("meta round-trip and file-name bucket parse") {
    val d = SparkTestBase.tempDir("graft_bmeta").toString
    assert(KvBucketing.readMeta(d).isEmpty)
    KvBucketing.writeMeta(d, 8)
    assert(KvBucketing.readMeta(d) === Some(8))
    assert(KvBucketing.fileBucket("part-x-00001-b0003.jsonl") === Some(3))
    assert(KvBucketing.fileBucket("part-x-00001.jsonl") === None)
  }

  test("bucketed insert routes every row to its bucket's file") {
    cat()
    val t = "graft_kv.default.bkt_route"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key))")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet`")
    val dir = warehouseDir("bkt_route")
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSeq
    assert(files.nonEmpty)
    for (f <- files) {
      val b = KvBucketing.fileBucket(f)
      assert(b.isDefined, s"unbucketed file $f in bucketed table")
      for (line <- Files.readAllLines(Paths.get(dir, f)).asScala) {
        val k = KvJsonlSink.parseKey(line)
        assert(KvBucketing.bucketOf(
          k.map(x => Long.box(x.asInstanceOf[Long])).orNull, 4) === b.get,
          s"row with key $k landed in bucket file $f")
      }
    }
    // read back == source
    val got = spark.sql(s"SELECT count(*) AS n, sum(key) AS sk FROM $t")
      .collect().head
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(count(lit(1)), sum(col("o_orderkey"))).collect().head
    assert(got === want)
    spark.sql(s"DROP TABLE $t")
  }

  test("storage-partitioned join gate: plan asserted, rows correct") {
    // The gate itself require()s the executed join subtree is
    // shuffle-free — a silent fallback to a shuffled join fails here.
    val rows = SparkEntry.queries("catalog_spj_join")(spark, sfDir)
      .collect()
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .join(
        spark.read.parquet(s"$sfDir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(
        col("o_orderpriority").as("priority"),
        col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_orderkey")).as("sum_keys"))
      .orderBy("priority", "flag")
      .collect()
    assert(rows.toSeq === want.toSeq)
  }

  test("runtime filter gate: files pruned, rows correct") {
    val rows = SparkEntry.queries("catalog_runtime_filter")(spark, sfDir)
      .collect()
    // the gate require()d prunedFiles > 0; cross-check the data
    val want = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .join(
        spark.read.parquet(s"$sfDir/orders.parquet")
          .where(col("o_orderkey") % 8 < 2),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_orderkey")).as("sum_keys"))
      .orderBy("flag")
      .collect()
    assert(rows.toSeq === want.toSeq)
    assert(KvRuntimeFilter.prunedFiles.get() > 0)
  }

  test("bucketed aggregation gate: key agg shuffle-free, rows correct") {
    val rows = SparkEntry.queries("catalog_bucketed_agg")(spark, sfDir)
      .collect()
    val want = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"), sum("l_orderkey").as("sk"))
      .groupBy(col("n_items"))
      .agg(count(lit(1)).as("n_keys"), sum("sk").as("sum_keys"))
      .orderBy("n_items")
      .collect()
    assert(rows.toSeq === want.toSeq)
  }

  test("row-level DML on a bucketed table preserves the layout") {
    cat()
    val t = "graft_kv.default.bkt_dml"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key))")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
      s"FROM parquet.`$sfDir/orders.parquet`")
    // key % 2 = 0 is the adversarial shape for bucket(4): the
    // matching keys' bucket image is exactly {0, 2}, so a runtime
    // group filter that reached this scan would prune buckets {1, 3}
    // — pure survivors — out of the rewrite and the truncate-replace
    // would delete them (the hazard KvScan.filterAttributes documents).
    spark.sql(s"DELETE FROM $t WHERE key % 2 = 0")
    val dir = warehouseDir("bkt_dml")
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSeq
    assert(files.forall(f => KvBucketing.fileBucket(f).isDefined),
      s"DML rewrite produced unbucketed files: $files")
    val got = spark.sql(s"SELECT count(*) AS n, sum(key) AS sk FROM $t")
      .collect().head
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 2 =!= 0)
      .agg(count(lit(1)), sum(col("o_orderkey"))).collect().head
    assert(got === want)
    // the rewrite requested the clustered-by-bucket distribution, so
    // the table holds ~one file per non-empty bucket, not tasks×n
    assert(files.size <= 4 * 2,
      s"DML rewrite fanned out: ${files.size} files for 4 buckets")
    spark.sql(s"DROP TABLE $t")
  }

  test("streaming append to a bucketed table fails loud") {
    cat()
    val t = "graft_kv.default.bkt_stream"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(4, key))")
    val ex = intercept[Exception] {
      import spark.implicits._
      val q = spark.readStream
        .format("rate").option("rowsPerSecond", "1").load()
        .select(col("value").as("key"),
          col("value").cast("string").as("value"))
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(t)
      q.awaitTermination()
    }
    assert(ex.getMessage != null)
    spark.sql(s"DROP TABLE $t")
  }
}
