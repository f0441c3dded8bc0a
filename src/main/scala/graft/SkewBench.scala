package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-hardening PROOF bench (SCALE.md "Skew" row): measures the same
  * hot-key join three ways at sf0.1 and prints one JSON line —
  *
  *   - naive: sort-merge join with one reducer owning the hot key's
  *     entire partition (broadcast disabled: the scenario models a
  *     dimension too large to broadcast, where skew actually bites);
  *   - salted: the manual `join_salted` pattern (fact side salted,
  *     dim side exploded across salts) splitting the hot key over
  *     nSalts reducers;
  *   - aqe: Spark's adaptive skew-join split, thresholds tuned to
  *     engage at bench scale (the declarative path AqeSkewJoinSpec
  *     proves correct).
  *
  * Each variant is timed best-of-3 on an identical row set (the hot
  * key owns ~80% of a 4×-amplified lineitem), and all three variants
  * must return identical aggregates — a speedup on wrong rows is
  * meaningless. Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.SkewBench"
  */
object SkewBench {

  private val NSalts = 16

  /** ~80% of (4× amplified) lineitem rows collapse onto key 0 — the
    * null-key / default-value hot spot shape.
    */
  private def fact(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber"))
    val amplified = (1 to 4)
      .map(i => li.withColumn("copy", lit(i)))
      .reduce(_ unionByName _)
    amplified
      .withColumn(
        "k",
        when(pmod(col("l_orderkey"), lit(10)) < 8, lit(0L))
          .otherwise(col("l_orderkey")))
      .select(
        col("k"),
        col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
  }

  private def dim(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      .union(spark.range(1).select(
        lit(0L).as("k"), lit("0-HOT").as("o_orderpriority")))

  private def agg(joined: DataFrame): DataFrame =
    joined
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy("o_orderpriority")

  private def naivePlan(f: DataFrame, d: DataFrame): DataFrame =
    agg(f.join(d, "k"))

  /** TARGETED salting: only rows of known-hot keys carry a non-zero
    * salt, and only the hot keys' dim rows are exploded across the
    * salt range — the cold 99% of the dimension is NOT replicated
    * (blanket salting replicates the whole dim ×NSalts and at this
    * scale costs more than the skew it cures; measured 0.93× naive).
    * The hot-key list comes from the same per-key count the
    * `skew_report` operator publishes — at 100 TB it is a handful of
    * keys collected from a grouped count, broadcast implicitly as a
    * literal predicate (here the synthetic hot key is known to be 0;
    * the production discovery flow is
    * [[graft.operators.SkewKeys.discover]], which
    * `join_salted_targeted` uses).
    */
  private def saltedPlan(f: DataFrame, d: DataFrame): DataFrame = {
    val hot = col("k") === 0L
    val sf = f.withColumn(
      "salt",
      when(hot, pmod(col("l_linenumber"), lit(NSalts))).otherwise(lit(0)))
    val sd = d.withColumn(
        "salt",
        explode(
          when(hot, sequence(lit(0), lit(NSalts - 1)))
            .otherwise(array(lit(0)))))
    agg(sf.join(sd, Seq("k", "salt")))
  }

  private def bestOf3(mk: () => DataFrame): (Double, Seq[(String, Long, Long)]) = {
    var rows: Seq[(String, Long, Long)] = Nil
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      rows = mk().collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      (System.nanoTime() - t0) / 1e9
    }
    (times.min, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The scenario under proof: a dim too big to broadcast.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val f = fact(spark, sfDir).cache()
    val d = dim(spark, sfDir).cache()
    f.count(); d.count() // materialize inputs outside the timings

    def withAqe[T](on: Boolean)(body: => T): T =
      Confs.scoped(spark,
        Seq("spark.sql.adaptive.enabled" -> on.toString) ++ (if (on) Seq(
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
            "256KB",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB",
          "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
        else Nil): _*)(body)

    // Untimed warmup of each plan (codegen/JIT)
    withAqe(false) { naivePlan(f, d).collect(); saltedPlan(f, d).collect() }
    withAqe(true) { naivePlan(f, d).collect() }

    val (tNaive, rNaive) = withAqe(false)(bestOf3(() => naivePlan(f, d)))
    val (tSalted, rSalted) = withAqe(false)(bestOf3(() => saltedPlan(f, d)))
    val (tAqe, rAqe) = withAqe(true)(bestOf3(() => naivePlan(f, d)))

    require(rNaive == rSalted && rNaive == rAqe,
      "variants disagree — a speedup on wrong rows is meaningless")

    val nRows = f.count()
    println(
      s"""{"metric":"skew_join_secs","sf":"$sfDir","fact_rows":$nRows,""" +
        s""""naive":${f"$tNaive%.3f"},"salted":${f"$tSalted%.3f"},""" +
        s""""aqe":${f"$tAqe%.3f"},"n_salts":$NSalts,""" +
        s""""speedup_salted":${f"${tNaive / tSalted}%.2f"},""" +
        s""""speedup_aqe":${f"${tNaive / tAqe}%.2f"}}""")
    spark.stop()
  }
}
