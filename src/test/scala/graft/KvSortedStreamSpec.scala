package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.sources.{KvBucketing, KvJsonlSink, KvSnapshots}

/** SOUNDNESS probe for the ordering report under STREAMING ingestion:
  * KvScan.outputOrdering claims key-ascending partitions for every
  * 'write.sort'='key' table on the premise that EVERY write path ran
  * under the requested sort. Batch writes and DML rewrites are
  * spec-pinned elsewhere; this spec pins the streaming path — Spark's
  * micro-batch planner applies RequiresDistributionAndOrdering to V2
  * streaming writes, so each epoch's files must land key-ascending —
  * and proves the post-stream scan's merged output really is sorted.
  * If a Spark version ever stopped honoring the request, this spec
  * (not a wrong query result) is where it surfaces.
  */
class KvSortedStreamSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  test("streamed epochs into a sorted bucketed table land key-sorted") {
    cat()
    val t = "graft_kv.default.ss_sorted"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "PARTITIONED BY (bucket(2, key)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    val dir = Paths.get(
      graft.sources.KvGateTable("ss_sorted").dir)

    // input arrives key-DESCENDING: only the write-requested sort can
    // land it ascending
    val in = SparkTestBase.tempDir("graft_ss_in")
    Files.write(in.resolve("batch.jsonl"),
      (151L to 100L by -1L)
        .map(k => s"""{"key":$k,"value":"v$k"}""")
        .mkString("\n").getBytes("UTF-8"))
    val ckpt = SparkTestBase.tempDir("graft_ss_ckpt").toString
    val q = spark.readStream
      .schema(KvJsonlSink.Schema)
      .json(in.toString)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .toTable(t)
    q.awaitTermination(60000)

    val latest = KvSnapshots.latest(dir.toString).get
    val data = KvSnapshots.dataFiles(
      KvSnapshots.membersWithStats(dir.toString, latest))
    assert(data.nonEmpty)
    data.foreach { st =>
      val keys = Files.readAllLines(dir.resolve(st.name)).asScala
        .filter(_.nonEmpty)
        .map(l => KvJsonlSink.parseKey(l).get.asInstanceOf[Long])
      assert(keys == keys.sorted,
        s"streamed file ${st.name} is NOT key-ascending — the " +
          "ordering report premise is broken for streaming writes")
      val b = KvBucketing.fileBucket(st.name).get
      assert(keys.forall(k => java.lang.Math.floorMod(k, 2L) == b))
    }

    // batch append on top, then the merged scan partitions must stay
    // key-ascending (stream epoch file + batch file per bucket)
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) " +
      "FROM range(0, 52)")
    val perPartition = spark.sql(s"SELECT key FROM $t")
      .rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq))
      .collect()
    perPartition.foreach { keys =>
      assert(keys == keys.sorted,
        s"stream+batch merge read emitted unsorted partition: $keys")
    }
    assert(perPartition.map(_.size).sum === 104)
  }
}
