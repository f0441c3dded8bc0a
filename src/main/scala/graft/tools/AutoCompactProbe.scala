package graft.tools

import org.apache.spark.sql.SparkSession

import graft.sources.{KvGate, KvGateTable}

/** Measured evidence for the write.auto_compact policy (round 18) —
  * the two questions a 100 TB operator has before leaving a standing
  * policy on a streaming table:
  *
  *   1. what does it COST at ingest? Policy compactions run
  *      synchronously after the triggering commit, so trickle-ingest
  *      wall clock absorbs them. The probe ingests the same rows as
  *      N small commits with and without the policy and reports both
  *      walls, plus the policy's WRITE AMPLIFICATION (rows rewritten
  *      by compactions / rows ingested — the spare-the-largest victim
  *      rule makes it LSM-like, each row re-merged O(log commits)
  *      times, never the O(commits/threshold) a merge-everything
  *      policy pays);
  *   2. what does it BUY at read? The unbounded table reads
  *      N files per bucket (open/parse overhead per file and
  *      per-bucket merge fan-in); the policied table reads ≤
  *      threshold. The probe times the same full aggregate on both.
  *
  * Emits one JSON line to stdout and appends it to
  * AUTOCOMPACT_PROBE.json; SCALE.md records the verdict.
  *
  * Run: sbt "runMain graft.tools.AutoCompactProbe"
  */
object AutoCompactProbe {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rows = sys.env.getOrElse("SPARK_GRAFT_AC_ROWS", "1200000").toLong
    val commits = sys.env.getOrElse("SPARK_GRAFT_AC_COMMITS", "24").toInt
    val threshold = sys.env.getOrElse("SPARK_GRAFT_AC_T", "4").toInt
    val per = rows / commits

    def ingest(table: String, props: String): (KvGateTable, Double) = {
      val t = KvGate.table(spark, table, "(key BIGINT, value STRING) " +
        "PARTITIONED BY (bucket(8, key)) " +
        s"TBLPROPERTIES ('snapshots'='true'$props)")
      val t0 = System.nanoTime()
      for (c <- 0 until commits)
        spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) " +
          s"FROM range(${c * per}, ${(c + 1) * per})")
      (t, (System.nanoTime() - t0) / 1e9)
    }

    def filesOf(t: KvGateTable): Int =
      graft.sources.KvSnapshots.dataFiles(
        graft.sources.KvSnapshots.membersWithStats(t.dir,
          graft.sources.KvSnapshots.latest(t.dir).get)).size

    def scanTime(t: KvGateTable): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql("SELECT count(*) AS n, sum(length(value)) AS s " +
          s"FROM $t WHERE key >= 0")
          .collect()
        (System.nanoTime() - t0) / 1e9
      }.min

    // warm the whole path once, untimed (codegen, catalog, committer)
    ingest("ac_warm", "")

    val (none, ingestNone) = ingest("ac_none", "")
    val rw0 = graft.sources.KvAutoCompact.rewrittenRows.get()
    val fired0 = graft.sources.KvAutoCompact.compactions.get()
    val (policy, ingestPolicy) =
      ingest("ac_policy", s", 'write.auto_compact'='$threshold'")
    val fired = graft.sources.KvAutoCompact.compactions.get() - fired0
    val rewritten =
      graft.sources.KvAutoCompact.rewrittenRows.get() - rw0
    val filesNone = filesOf(none)
    val filesPolicy = filesOf(policy)
    val scanNone = scanTime(none)
    val scanPolicy = scanTime(policy)
    require(filesPolicy <= 8 * threshold,
      s"policy did not hold the bound: $filesPolicy files")
    require(filesNone == 8 * commits,
      s"unexpected unbounded layout: $filesNone files")

    def f3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val json =
      s"""{"rows":$rows,"commits":$commits,"threshold":$threshold,
         |"none":{"ingest_s":${f3(ingestNone)},"files":$filesNone,
         |"scan_s":${f3(scanNone)}},
         |"policy":{"ingest_s":${f3(ingestPolicy)},
         |"files":$filesPolicy,"scan_s":${f3(scanPolicy)},
         |"compactions":$fired,"rewritten_rows":$rewritten,
         |"write_amplification":${f3(
          rewritten.toDouble / rows + 1.0)}}}"""
        .stripMargin.replace("\n", "")
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("AUTOCOMPACT_PROBE.json"),
      (json + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
