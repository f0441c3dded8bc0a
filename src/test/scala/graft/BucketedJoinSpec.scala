package graft

import org.apache.spark.sql.functions._

/** Bucketing as the shuffle-elimination strategy for repeated
  * co-located joins (SURVEY.md: "bucketing for co-located joins"):
  * writing both fact tables bucketed by the join key lets the join
  * plan with ZERO shuffle exchanges — at 100 TB this converts every
  * recurring fact⋈fact join from a full-network shuffle into local
  * merges.
  */
class BucketedJoinSpec extends SparkTestBase {

  // Session-suffixed names: a concurrent test JVM on the same host
  // must not clobber this one's bucketed layout mid-assert.
  private lazy val LiTbl = Fs.sessionTable(spark, "li_bucketed")
  private lazy val OrdTbl = Fs.sessionTable(spark, "ord_bucketed")

  test("bucketed tables join without a shuffle exchange") {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)

    Seq(LiTbl, OrdTbl).foreach(Fs.dropTableAndLocation(spark, _))
    li.write
      .bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey")
      .mode("overwrite")
      .saveAsTable(LiTbl)
    ord.write
      .bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey")
      .mode("overwrite")
      .saveAsTable(OrdTbl)

    // Force the sort-merge path (tiny test tables would otherwise
    // broadcast, hiding the property under test).
    val prevThreshold =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      runJoinAssertions()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  private def runJoinAssertions(): Unit = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val joined = spark
      .table(LiTbl)
      .join(spark.table(OrdTbl),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))

    // Correctness: same result as the unbucketed join.
    val expected = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
      .collect()
      .toSeq
    assert(
      joined.orderBy("o_orderpriority").collect().toSeq == expected)

    // Scale property: the bucketed join's plan has NO shuffle before
    // the join (the only exchanges allowed are the aggregation's).
    val plan = joined.queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected a sort-merge join in:\n$plan")
    val afterJoin = plan.substring(joinIdx)
    assert(
      !afterJoin.contains("Exchange hashpartitioning"),
      s"join inputs must be shuffle-free (bucket co-location):\n$plan")
  }
}
