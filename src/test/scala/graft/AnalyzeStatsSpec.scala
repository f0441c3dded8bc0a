package graft

import org.apache.spark.sql.functions._

/** Table statistics + cost-based planning: `ANALYZE TABLE ... COMPUTE
  * STATISTICS FOR ALL COLUMNS` persists row counts and column stats in
  * the catalog, `DESCRIBE EXTENDED` reads them back, and with CBO
  * enabled the optimizer USES them — a selective filter's cardinality
  * estimate drops below the table row count, and that estimate (not
  * the raw file size) drives an auto-broadcast with no hint. At 100 TB
  * this is how the right join strategy happens without hand-tuning:
  * file size says "huge", stats say "the filtered dimension side is
  * tiny — broadcast it".
  */
class AnalyzeStatsSpec extends SparkTestBase {

  private lazy val Analyzed = Fs.sessionTable(spark, "graft_orders_stats")
  private lazy val Bare = Fs.sessionTable(spark, "graft_orders_nostats")

  private def recreate(
      name: String,
      df: org.apache.spark.sql.DataFrame =
        Tables.orders(spark, sfDir)): Unit = {
    Fs.dropTableAndLocation(spark, name)
    df.write.mode("overwrite").saveAsTable(name)
  }

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def dimJoin(table: String) =
    Tables
      .lineitem(spark, sfDir)
      .join(
        spark.table(table).filter(col("o_custkey") === 1),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))

  test("ANALYZE persists stats, DESCRIBE reads them, CBO plans from them") {
    recreate(Analyzed)
    recreate(Bare)
    val nRows = Tables.orders(spark, sfDir).count()
    spark.sql(s"ANALYZE TABLE $Analyzed COMPUTE STATISTICS FOR ALL COLUMNS")

    // Read-back: table-level stats surface in DESCRIBE EXTENDED ...
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $Analyzed")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("Statistics").contains(s"$nRows rows"),
      s"expected '$nRows rows' in: ${desc.get("Statistics")}")
    // ... and column-level stats in DESCRIBE on the column.
    val colDesc = spark
      .sql(s"DESCRIBE TABLE EXTENDED $Analyzed o_orderpriority")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(colDesc("distinct_count").toLong >= 4,
      s"column ndv missing: $colDesc")

    val prev = Seq(
      "spark.sql.cbo.enabled",
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // Static-plan assertion: AQE would re-plan from runtime sizes
      // and mask whether the STATS made the decision.
      spark.conf.set("spark.sql.adaptive.enabled", "false")

      // The optimizer's estimate for the filtered analyzed table must
      // be stats-driven: cardinality strictly below the full count
      // (equality selectivity 1/ndv on a high-ndv key — impossible to
      // know from file size alone).
      val filtered = spark.table(Analyzed)
        .filter(col("o_custkey") === 1)
      val est = filtered.queryExecution.optimizedPlan.stats
      assert(est.rowCount.isDefined, "CBO row count missing after ANALYZE")
      assert(est.rowCount.get > 0 && est.rowCount.get < nRows,
        s"filter estimate not selective: ${est.rowCount} of $nRows")

      // Pick the threshold BETWEEN the two estimates, so the stats are
      // exactly what flips the plan: the analyzed side's post-filter
      // estimate fits, the no-stats side's file-size estimate doesn't.
      val statsSize = est.sizeInBytes
      val bareSize = spark.table(Bare)
        .filter(col("o_custkey") === 1)
        .queryExecution.optimizedPlan.stats.sizeInBytes
      assert(statsSize * 2 < bareSize,
        s"fixture precondition: stats estimate $statsSize not well under " +
          s"file-size estimate $bareSize")
      spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", (statsSize * 2).toString)

      val withStats = dimJoin(Analyzed).queryExecution.executedPlan.toString
      assert(withStats.contains("BroadcastHashJoin"),
        s"analyzed dim should auto-broadcast (no hint):\n$withStats")
      val noStats = dimJoin(Bare).queryExecution.executedPlan.toString
      assert(!noStats.contains("BroadcastHashJoin"),
        s"unanalyzed dim must not broadcast under the same threshold:\n$noStats")

      // Same answer either way — stats change the plan, not the result.
      assert(
        dimJoin(Analyzed).orderBy("o_orderstatus").collect().toSeq ==
          dimJoin(Bare).orderBy("o_orderstatus").collect().toSeq)
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      Seq(Analyzed, Bare).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("equi-height histograms fix range estimates on skewed columns") {
    // 90% of rows carry skewed=1, 10% carry skewed=1000000. Without a
    // histogram, CBO interpolates `skewed < 100` uniformly over
    // [1, 1e6] → ~0% of rows; the equi-height histogram sees the mass
    // at 1 and estimates ~90%. At 100 TB this is the difference
    // between planning a broadcast and planning a shuffle for the
    // filtered side of a skewed-dimension join.
    val tbl = Fs.sessionTable(spark, "graft_skew_hist")
    Fs.dropTableAndLocation(spark, tbl)
    Tables.orders(spark, sfDir)
      .withColumn("skewed",
        when(col("o_orderkey") % 10 < 9, lit(1L)).otherwise(lit(1000000L)))
      .write.mode("overwrite").saveAsTable(tbl)
    val actual = spark.table(tbl).filter(col("skewed") < 100).count()

    def estimate: BigInt =
      withConfsValue("spark.sql.cbo.enabled" -> "true") {
        spark.table(tbl).filter(col("skewed") < 100)
          .queryExecution.optimizedPlan.stats.rowCount
          .getOrElse(sys.error("no CBO row count"))
      }

    try {
      spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      val uniform = estimate
      withConfsValue("spark.sql.statistics.histogram.enabled" -> "true") {
        spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      val histogram = estimate
      assert(uniform < actual / 10,
        s"uniform interpolation should badly underestimate: " +
          s"$uniform vs actual $actual")
      assert(histogram * 2 > actual && histogram < actual * 2,
        s"histogram estimate should land near actual: " +
          s"$histogram vs $actual")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private def withConfsValue[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("CBO join reorder picks the selective join first, same results") {
    // Written order is pessimal: the fact joins the medium table
    // FIRST, and the highly selective supplier join (one supplier)
    // last. With rowCount stats on all three tables and join
    // reordering on, the optimizer must move the supplier join below
    // the orders join — the 100 TB habit of never carrying rows a
    // later selective join will drop.
    val liT = Fs.sessionTable(spark, "graft_li_reord")
    val ordT = Fs.sessionTable(spark, "graft_ord_reord")
    val supT = Fs.sessionTable(spark, "graft_sup_reord")
    recreate(liT, Tables.lineitem(spark, sfDir))
    recreate(ordT, Tables.orders(spark, sfDir))
    recreate(supT, Tables.supplier(spark, sfDir))
    Seq(liT, ordT, supT).foreach(t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))

    def report = spark.table(liT)
      .join(spark.table(ordT),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.table(supT).filter(col("s_nationkey") === 3),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))

    // The columns visible at the bottom-most Join node — which two
    // tables meet FIRST. Side-agnostic (left ++ right): the optimizer
    // is free to put the dimension on either side of the join it
    // moves down.
    def firstJoinedCols: Set[String] = {
      val joins = report.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      (joins.last.left.output ++ joins.last.right.output)
        .map(_.name).toSet
    }

    try {
      var plain = Seq.empty[String]
      var reordered = Seq.empty[String]
      withConfs(
        "spark.sql.cbo.enabled" -> "false",
        "spark.sql.cbo.joinReorder.enabled" -> "false") {
        val cols = firstJoinedCols
        assert(cols.contains("o_orderkey") && !cols.contains("s_suppkey"),
          s"without CBO the written order must hold: $cols")
        plain = report.orderBy("o_orderstatus").collect().map(_.toString).toSeq
      }
      withConfs(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") {
        assert(firstJoinedCols.contains("s_suppkey"),
          s"stats-driven reorder should join filtered supplier first: " +
            s"$firstJoinedCols")
        reordered =
          report.orderBy("o_orderstatus").collect().map(_.toString).toSeq
      }
      assert(plain == reordered, "reorder changed the results")
      assert(plain.nonEmpty)
    } finally {
      Seq(liT, ordT, supT).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
