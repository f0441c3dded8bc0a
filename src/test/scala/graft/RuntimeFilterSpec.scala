package graft

import org.apache.spark.sql.functions._

/** Runtime join-pruning features that carry 100 TB deployments:
  *
  *  - dynamic partition pruning: a selective dimension filter prunes
  *    the FACT side's partition directories at runtime through the
  *    join, so the scan never opens non-qualifying partitions;
  *  - runtime bloom filters: a bloom filter built from the creation
  *    (dimension) side is pushed into the application (fact) side's
  *    scan as a row-level pre-filter before the shuffle.
  *
  * Both are plan-asserted here at fixture scale with thresholds tuned
  * down; at real scale the defaults trigger on the same shapes.
  */
class RuntimeFilterSpec extends SparkTestBase {

  test("dynamic partition pruning reaches the partitioned fact scan") {
    val dir = SparkTestBase.tempDir("graft_dpp").toString
    Tables
      .orders(spark, sfDir)
      .write
      .mode("overwrite")
      .partitionBy("o_orderpriority")
      .parquet(dir)

    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      // The dim side must not be inlined away before DPP decides.
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // The dim filter is on a DERIVED column (group size), so the
      // optimizer cannot propagate it to the fact statically — only
      // DPP can prune the fact partitions at runtime.
      val dim = Tables
        .orders(spark, sfDir)
        .groupBy(col("o_orderpriority").as("p"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") % 2 === 1)
      val fact = spark.read.parquet(dir)
      val joined = fact
        .join(dim, fact("o_orderpriority") === dim("p"))
        .agg(count(lit(1)).as("n"))
      val n = joined.collect()(0).getLong(0)
      val expected = dim
        .agg(sum(col("cnt")))
        .collect()(0)
        .getLong(0)
      assert(n == expected)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"expected a dynamic partition pruning filter in:\n$plan")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // Fixture scale: let any fact scan qualify as the application
      // side and any dim under 10MB as the creation side.
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sel = Tables
        .orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = Tables
        .lineitem(spark, sfDir)
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val n = joined.collect()(0).getLong(0)
      assert(n > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(
        plan.contains("bloom_filter") ||
          plan.contains("BloomFilter"),
        s"expected a runtime bloom filter in:\n$plan")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
