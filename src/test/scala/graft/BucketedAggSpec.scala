package graft

import org.apache.spark.sql.functions._

/** Bucketing's second payoff beyond co-located joins: a groupBy on
  * the bucket key aggregates each bucket locally, so the per-key
  * rollup plans with NO shuffle exchange under the first aggregation
  * — the recurring-fact-rollup shape that at 100 TB costs one local
  * scan instead of a full-network shuffle.
  */
class BucketedAggSpec extends SparkTestBase {

  private lazy val Tbl = Fs.sessionTable(spark, "ord_bktagg_spec")

  test("groupBy on the bucket key aggregates without an exchange") {
    Fs.dropTableAndLocation(spark, Tbl)
    Tables.orders(spark, sfDir)
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable(Tbl)
    val agg = spark.table(Tbl)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucket-key aggregation must not shuffle:\n$plan")
    // Cross-check the shuffle-free plan against the plain scan.
    val viaBuckets = agg.agg(
      count(lit(1)).as("keys"), sum(col("s")).as("tot")).collect()(0)
    val plain = Tables.orders(spark, sfDir)
      .agg(countDistinct(col("o_custkey")), sum(col("o_orderkey")))
      .collect()(0)
    assert(viaBuckets.getLong(0) == plain.getLong(0))
    assert(viaBuckets.getLong(1) == plain.getLong(1))
  }
}
