package graft

import org.apache.spark.sql.functions._

/** The streaming KLL screen's claims:
  *
  *   - the final per-group sketch absorbed EVERY row (exact counts ==
  *     the batch group counts — no row lost across micro-batch state
  *     round-trips through serialize/heapify);
  *   - the emitted serialized image is byte-compatible with Spark's
  *     native kll_* SQL surface, including a cross-image
  *     `kll_merge_agg_bigint` (the property that makes streamed state
  *     a first-class sketch column);
  *   - the rank contract holds: the exact rank of each reported p50
  *     lands within 0.5 ± 0.05 per group and merged (the guarantee
  *     KLL actually makes — values are randomized, ranks are not).
  */
class StreamKllQuantileSpec extends SparkTestBase {

  test("streamed sketch counts are exact and rank contract holds") {
    val rows = SparkEntry.queries("stream_kll_quantile")(spark, sfDir)
      .collect()
    val batchCounts = Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(rows.length == batchCounts.size + 1) // groups + ALL_MERGED
    rows.foreach { r =>
      val scope = r.getAs[String]("scope")
      val n = r.getAs[Long]("n")
      if (scope == "ALL_MERGED") assert(n == batchCounts.values.sum)
      else assert(n == batchCounts(scope), s"count drift for $scope")
      assert(r.getAs[Boolean]("p50_rank_within_tol"), s"rank $scope")
    }
  }

  test("final images round-trip through the native SQL surface") {
    import org.apache.datasketches.kll.KllLongsSketch
    import org.apache.datasketches.memory.Memory
    val finals = graft.streaming.StreamKllQuantile.finalSketches(spark, sfDir)
      .collect()
    assert(finals.nonEmpty)
    finals.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("sk")
      val native = KllLongsSketch.heapify(Memory.wrap(bytes))
      // The SQL surface and the library must read one image alike.
      val viaSql = spark.sql(
        s"SELECT kll_sketch_get_quantile_bigint(X'${bytes.map("%02x".format(_)).mkString}', 0.5d) AS q")
        .head().getLong(0)
      assert(viaSql == native.getQuantile(0.5,
        org.apache.datasketches.quantilescommon
          .QuantileSearchCriteria.INCLUSIVE))
      assert(native.getN == r.getAs[Long]("n"))
    }
  }
}
