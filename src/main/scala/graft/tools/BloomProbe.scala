package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.{KvGate, KvGateTable}

/** Scaling evidence for the per-file bloom sidecars (KvBloom.scala):
  * builds a bloomed kv table and a bloom-less twin at 1×/3×/10× rows
  * (16 hash-disjoint value chunks each → 16 files), then times the
  * same string point lookup on both. The claim under test: the
  * bloomed lookup's cost tracks the ONE candidate file (files-opened
  * stays ~1/16 of the table at every scale), while the twin re-scans
  * everything — so the wall-time ratio HOLDS OR GROWS as the table
  * grows, instead of the pruning decaying into noise. Emits one JSON
  * line per scale:
  *   {"scale":K,"rows":N,"bloom_s":…,"nobloom_s":…,
  *    "files_pruned":P,"files_total":T,"sidecar_bytes":B}
  *
  * Run: sbt "runMain graft.tools.BloomProbe"
  * (local only; writes under /tmp, nothing in the repo tree).
  */
object BloomProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = 1000000L
    for (k <- Seq(1, 3, 10)) {
      val n = base * k
      val tb = KvGate.table(spark, s"bp_$k", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='value')")
      val tn = KvGate.table(spark, s"bn_$k", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true')")
      for (g <- 0 until 16; t <- Seq(tb, tn))
        spark.sql(s"INSERT INTO $t SELECT id, concat('u', id) " +
          s"FROM range(0, ${n}L) " +
          s"WHERE pmod(hash(concat('u', id)), 16) = $g")
      // the probed value exists once; its file group holds ~1/16
      val probe = s"u${n / 2}"
      def time(t: KvGateTable): Double = {
        // warm once, then best of 3
        spark.sql(s"SELECT key FROM $t WHERE value = '$probe'").collect()
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val r = spark.sql(
            s"SELECT key FROM $t WHERE value = '$probe'").collect()
          require(r.length == 1)
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      val before = graft.sources.KvBloomPrune.prunedFiles.get()
      val bloomS = time(tb)
      // raw skip-event counter across the 4 executions (warm + 3
      // timed) and every (re-)planning pass each made — observability
      // that pruning ENGAGED, not an exact per-query file count
      val pruned =
        graft.sources.KvBloomPrune.prunedFiles.get() - before
      val noBloomS = time(tn)
      val dir = java.nio.file.Paths.get(tb.dir)
      val sidecarBytes = {
        val s = java.nio.file.Files.list(dir)
        try s.iterator()
          .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
          .asScala
          .filter(_.getFileName.toString.endsWith(".bloom"))
          .map(java.nio.file.Files.size).sum
        finally s.close()
      }
      println(s"""{"scale":$k,"rows":$n,""" +
        f""""bloom_s":$bloomS%.4f,"nobloom_s":$noBloomS%.4f,""" +
        s""""prune_events":$pruned,"files_total":16,""" +
        s""""sidecar_bytes":$sidecarBytes}""")
    }
    spark.stop()
  }
}
