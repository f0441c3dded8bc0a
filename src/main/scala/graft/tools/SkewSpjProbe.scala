package graft.tools

import org.apache.spark.sql.SparkSession

import graft.sources.KvGate

/** Skew evidence for the storage-partitioned-join path (round-16
  * verdict item 4): both SPJ gates pin AQE OFF to assert plan shape,
  * which leaves the question a 100 TB operator actually has — what
  * happens when one key is HOT and a `bucket(8, key)` layout makes
  * one straggler bucket AQE cannot re-split (SPJ has no shuffle to
  * re-plan)?
  *
  * The probe joins a fact table against a distinct-keyed dim table
  * (join output = |fact|, so the comparison isolates PARTITION skew
  * from join explosion), in two data shapes at the same row count:
  *
  *   - uniform: keys 0..n-1 (every bucket ~n/8);
  *   - hot: 50% of fact rows on ONE key (its bucket carries ~56% of
  *     the table; the other 7 share the rest).
  *
  * Each shape runs two ways, best-of-3:
  *
  *   - SPJ: v2 bucketing on, AQE off — the zero-exchange plan the
  *     gates pin; wall clock is bounded below by the hot bucket's
  *     single merge task;
  *   - shuffled + AQE skew handling: v2 bucketing OFF (the scan's
  *     KeyGroupedPartitioning is ignored, Spark shuffles) with
  *     adaptive skew-join splitting enabled.
  *
  * Plan shape is require()d on every measurement (SPJ runs must show
  * zero shuffles under the join; shuffled runs at least one), so a
  * silently-degraded claim can't publish a number. Emits one JSON
  * line per (shape, path) to stdout and the 4-row summary to
  * SKEW_SPJ_PROBE.json. SCALE.md documents the verdict and the
  * mitigation decision.
  *
  * Run: sbt "runMain graft.tools.SkewSpjProbe"
  */
object SkewSpjProbe {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val n = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "2000000").toLong
    // SPARK_GRAFT_HOT_PCT: percentage of fact rows collapsed onto the
    // one hot key (default 50) — sweep it to hunt the SPJ crossover.
    val hotPct = sys.env.getOrElse("SPARK_GRAFT_HOT_PCT", "50").toInt
    require(hotPct >= 1 && hotPct <= 99, s"bad hot pct $hotPct")
    val hotKey = 1000000L // floorMod(hotKey, 8) = 0 — bucket 0 is hot

    def mk(name: String, keyExpr: String): String = {
      val t = KvGate.table(spark, name, "(key BIGINT, value STRING) " +
        "PARTITIONED BY (bucket(8, key)) " +
        "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
      spark.sql(s"INSERT INTO $t SELECT $keyExpr, " +
        s"concat('v', id % 97) FROM range(0, ${n}L)")
      t.qualified
    }
    // dim: every key exactly once (hot fact keys still match 1 row)
    val dim = mk("skew_dim", "id")
    val factU = mk("skew_fact_u", "id")
    // hot: hotPct% of ids collapse onto hotKey
    val factH = mk("skew_fact_h",
      s"CASE WHEN id % 100 < $hotPct THEN ${hotKey}L ELSE id END")

    def joinTime(fact: String, wantShuffle: Boolean): Double =
      (1 to 3).map { _ =>
        val df = spark.sql(
          s"""SELECT count(*) AS n, CAST(sum(a.key) AS DECIMAL(38, 0))
             |  AS s FROM $fact a JOIN $dim b ON a.key = b.key"""
            .stripMargin)
        val t0 = System.nanoTime()
        val r = df.collect()
        val dt = (System.nanoTime() - t0) / 1e9
        require(r(0).getLong(0) == n, s"join lost rows: ${r(0)}")
        // deep-flatten across AQE wrappers: QueryStageExec shields its
        // materialized stage plan from TreeNode.collect
        def flatten(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = {
          val inner = p match {
            case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => Seq(q.plan)
            case _ => Seq.empty
          }
          p +: (p.children ++ inner).flatMap(flatten)
        }
        val all = flatten(df.queryExecution.executedPlan)
        require(all.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins
            .SortMergeJoinExec]),
          s"no SMJ in probe plan:\n${df.queryExecution.executedPlan}")
        val shuffled = all.count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec]) > 1 // >1: the final agg always has 1
        require(shuffled == wantShuffle,
          s"plan drift: expected shuffle=$wantShuffle:\n" +
            df.queryExecution.executedPlan)
        dt
      }.min

    def measure(fact: String): (Double, Double) = {
      val spj = graft.Confs.scoped(spark,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false") {
        joinTime(fact, wantShuffle = false)
      }
      val shuffled = graft.Confs.scoped(spark,
        "spark.sql.sources.v2.bucketing.enabled" -> "false",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        // the probe's per-bucket sizes are far below the default 256M
        // skew threshold — scale it to the data so the handling the
        // probe is ABOUT actually engages
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
          -> "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m") {
        joinTime(fact, wantShuffle = true)
      }
      (spj, shuffled)
    }

    // warm both plan shapes once, untimed
    measure(factU)
    val (spjU, shufU) = measure(factU)
    val (spjH, shufH) = measure(factH)

    def f3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val json =
      s"""{"rows":$n,"hot_frac":${hotPct / 100.0},"buckets":8,
         |"uniform":{"spj_s":${f3(spjU)},"shuffled_aqe_s":${f3(shufU)}},
         |"hot":{"spj_s":${f3(spjH)},"shuffled_aqe_s":${f3(shufH)}},
         |"spj_skew_penalty":${f3(spjH / spjU)},
         |"shuffled_skew_penalty":${f3(shufH / shufU)},
         |"spj_vs_shuffled_hot":${f3(spjH / shufH)}}"""
        .stripMargin.replace("\n", "")
    println(json)
    // append: one JSON line per (rows, hot_frac) configuration
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SKEW_SPJ_PROBE.json"),
      (json + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
