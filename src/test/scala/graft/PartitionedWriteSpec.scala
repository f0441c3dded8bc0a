package graft

import org.apache.spark.sql.functions._

/** Partitioned-sink behavior: hive-style partitioned parquet write,
  * read-back equivalence, and partition PRUNING at scan time — the
  * property that makes 100 TB tables queryable (a filtered read must
  * touch only matching partition directories).
  */
class PartitionedWriteSpec extends SparkTestBase {

  test("partitionBy write → read-back equals source; scan prunes partitions") {
    val out = SparkTestBase.tempDir("graft_part_write").toString
    val src = Tables.orders(spark, sfDir)
    src.write
      .mode("overwrite")
      .partitionBy("o_orderpriority")
      .parquet(out)

    val back = spark.read.parquet(out)
    assert(back.count() == src.count())

    val filtered = back.filter(col("o_orderpriority") === "1-URGENT")
    val expected =
      src.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(filtered.count() == expected)

    // Partition pruning is visible in the scan: the partition filter
    // appears as PartitionFilters, not a post-scan Filter.
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("o_orderpriority"))

    // And the pruned scan READS strictly fewer files (numFiles metric
    // after execution) than the table holds.
    val qe = filtered.queryExecution
    qe.toRdd.count() // execute THIS plan instance so its metrics fill
    val scan = qe.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val prunedFiles = scan.metrics("numFiles").value
    assert(prunedFiles < back.inputFiles.length.toLong)
    assert(prunedFiles >= 1L)
  }
}
