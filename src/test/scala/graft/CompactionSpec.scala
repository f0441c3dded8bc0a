package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** The small-files problem and its fix: a fragmented write (think one
  * file per streaming micro-batch per partition, accumulated for a
  * week) is compacted by rewriting at a target partition count. At
  * 100 TB the fragment count is what kills the NEXT reader — listing
  * and opening millions of tiny files — not the bytes.
  */
class CompactionSpec extends SparkTestBase {

  private def parquetFiles(dir: String): Int =
    Files.list(Paths.get(dir)).toArray
      .map(_.toString)
      .count(_.endsWith(".parquet"))

  test("compaction rewrites fragmented output at a target file count") {
    val base = Fs.scratch(spark, "compaction")
    val fragmented = s"$base/fragmented"
    val compacted = s"$base/compacted"
    val docs = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))

    docs.repartition(64).write.mode("overwrite").parquet(fragmented)
    assert(parquetFiles(fragmented) >= 32, "expected a fragmented layout")

    spark.read
      .parquet(fragmented)
      .repartition(2)
      .write.mode("overwrite").parquet(compacted)
    assert(parquetFiles(compacted) <= 2, "expected a compacted layout")

    // Compaction must be a pure layout change.
    val before =
      spark.read.parquet(fragmented).orderBy("doc_id").collect().toSeq
    val after =
      spark.read.parquet(compacted).orderBy("doc_id").collect().toSeq
    assert(before == after)
  }
}
