package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Proves the Z-order layout's at-scale claim with real scan metrics:
  * after writing the same rows (a) sorted by one dimension and (b)
  * sorted by the Morton interleave, parquet row-group statistics let a
  * box predicate over BOTH dimensions — and even a predicate over the
  * SECONDARY dimension alone — skip most of the z-ordered file, while
  * the single-dimension layout can only prune its own sort key.
  *
  * "Rows read" below = the file scan node's numOutputRows, i.e. rows
  * surviving parquet row-group/page pruning, before the residual
  * filter — exactly the I/O a 100 TB scan pays.
  */
class ZOrderLayoutSpec extends SparkTestBase {

  private val sf01 = "/root/testdata/sf0.01"

  private def writeSorted(df: DataFrame, sortCols: Seq[String], dir: String): Unit =
    df.repartitionByRange(3, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.option("maxRecordsPerFile", 100)
      .mode("overwrite").parquet(dir)

  private def rowsScanned(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.sum
  }

  private lazy val dirs: (String, String) = {
    val base = SparkTestBase.tempDir("graft_zorder").toString
    val withZ = SparkEntry.queries("zorder_layout")(spark, sf01)
    writeSorted(withZ, Seq("zx", "zy"), s"$base/linear")
    writeSorted(withZ, Seq("zval"), s"$base/zorder")
    (s"$base/linear", s"$base/zorder")
  }

  private def linear = spark.read.parquet(dirs._1)
  private def zorder = spark.read.parquet(dirs._2)

  test("both layouts hold identical data") {
    assert(linear.count() === 1500)
    assert(zorder.count() === 1500)
    assert(linear.agg(sum("zval")).head.getLong(0) ===
      zorder.agg(sum("zval")).head.getLong(0))
  }

  test("2-d box predicate prunes most row groups in the z-ordered layout") {
    val box = col("zx").between(4, 7) && col("zy").between(64, 95)
    val zRows = rowsScanned(zorder.filter(box))
    assert(zRows < 1500 / 2,
      s"z-order box scan read $zRows of 1500 rows — no pruning happened")
  }

  test("secondary-dimension predicate prunes ONLY under z-order") {
    // zy alone: the x-sorted layout interleaves all zy values through
    // every row group (each group spans the full zy range), so parquet
    // stats cannot skip anything; the z-ordered layout clusters low
    // zy into low z-values and skips.
    val pred = col("zy") < 32
    val linearRows = rowsScanned(linear.filter(pred))
    val zRows = rowsScanned(zorder.filter(pred))
    assert(linearRows > (1500 * 2) / 3,
      s"x-sorted layout unexpectedly pruned on zy ($linearRows rows)")
    assert(zRows < linearRows / 2,
      s"z-order should scan < half of linear's $linearRows rows on a " +
        s"secondary-dim predicate; read $zRows")
  }

  // Note: a predicate on zx ALONE is deliberately not asserted — zy
  // carries 8 bits of entropy against zx's 5, so a contiguous z-range
  // legitimately spans most zx values; Z-order guarantees joint-box
  // and high-entropy-dimension pruning (both asserted above), not
  // low-entropy-single-dimension pruning.
}
