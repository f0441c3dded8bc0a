package graft.tools

import org.apache.spark.sql.SparkSession

import graft.sources.KvGate

/** Scaling evidence for the sorted-SPJ layout (write.sort × bucket —
  * KvScan.outputOrdering): joins two co-bucketed table pairs at
  * 1×/3×/10× rows, one pair SORTED (scan reports key order → the
  * sort-merge join plans with zero exchanges AND zero sorts) and one
  * pair plain-bucketed (zero exchanges, but both sides re-sort). The
  * delta is the per-join cost of the sorts the layout removes, and
  * the claim under test is that it GROWS with data (sorting is
  * O(n log n) of the fact size) while the sorted pair's join stays
  * the pure merge. Each measurement asserts its plan shape (sorts
  * present/absent) so a silently-degraded claim can't publish a
  * number. Emits one JSON line per scale:
  *   {"scale":K,"rows":N,"sorted_s":…,"plain_s":…,"sorts_elided":2}
  *
  * Run: sbt "runMain graft.tools.SortedJoinProbe"
  */
object SortedJoinProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = 1000000L
    for (k <- Seq(1, 3, 10)) {
      val n = base * k
      def mk(name: String, sorted: Boolean): String = {
        val props = "'snapshots'='true'" +
          (if (sorted) ", 'write.sort'='key'" else "")
        val t = KvGate.table(spark, name, "(key BIGINT, value STRING) " +
          s"PARTITIONED BY (bucket(8, key)) TBLPROPERTIES ($props)")
        // shuffled key order so the write-requested sort does real work
        spark.sql(s"INSERT INTO $t SELECT ${n}L - id, " +
          s"concat('v', id % 97) FROM range(0, ${n}L)")
        t.qualified
      }
      val (sa, sb) = (mk(s"sj_sa_$k", sorted = true),
        mk(s"sj_sb_$k", sorted = true))
      val (pa, pb) = (mk(s"sj_pa_$k", sorted = false),
        mk(s"sj_pb_$k", sorted = false))

      def joinTime(a: String, b: String, wantSorts: Boolean): Double = {
        def run(): Double = {
          val df = spark.sql(
            s"""SELECT count(*) AS n, sum(a.key) AS s
               |FROM $a a JOIN $b b ON a.key = b.key""".stripMargin)
          val t0 = System.nanoTime()
          val r = df.collect()
          val dt = (System.nanoTime() - t0) / 1e9
          require(r(0).getLong(0) == n)
          val joins = df.queryExecution.executedPlan.collect {
            case j: org.apache.spark.sql.execution.joins
              .SortMergeJoinExec => j
          }
          require(joins.nonEmpty, "no SMJ in the probe plan")
          val sorts = joins.flatMap(_.collect {
            case s: org.apache.spark.sql.execution.SortExec => s
          })
          require(sorts.nonEmpty == wantSorts,
            s"plan shape drifted: expected sorts=$wantSorts, " +
              s"found ${sorts.length}")
          val shuffles = joins.flatMap(_.collect {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => e
          })
          require(shuffles.isEmpty, "SPJ did not engage in the probe")
          dt
        }
        run(); run() // warm (plan + code caches)
        (1 to 5).map(_ => run()).min
      }

      val sortedS = joinTime(sa, sb, wantSorts = false)
      val plainS = joinTime(pa, pb, wantSorts = true)
      println(s"""{"scale":$k,"rows":$n,""" +
        f""""sorted_s":$sortedS%.4f,"plain_s":$plainS%.4f,""" +
        s""""sorts_elided":2}""")
    }
    spark.stop()
  }
}
