package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingEvents

/** Sessions built with `graft.GraftExtensions` share one class space:
  * a query that runs again in a fresh session, or in the session a
  * streaming query clones, finds its generated classes in Spark's
  * codegen cache instead of compiling them again. The odd constants
  * keep the generated code apart from every other spec's, so the first
  * run must compile.
  */
class SessionClassSpaceSpec extends SparkTestBase {

  /** Generated classes compiled while `run` runs in a fresh session. */
  private def compilesInFreshSession(run: SparkSession => Unit): Long = {
    val s = spark.newSession()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(s)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a fresh session compiles no class an earlier session compiled") {
    def query(s: SparkSession): Unit = {
      val rows = Tables.lineitem(s, sfDir)
        .groupBy(pmod(col("l_orderkey"), lit(7919)).as("k"))
        .agg(sum(col("l_quantity") * 6007).as("q"))
        .collect()
      assert(rows.nonEmpty)
    }
    assert(compilesInFreshSession(query) > 0)
    assert(compilesInFreshSession(query) == 0)
  }

  test("a fresh session recompiles nothing after more than 100 classes") {
    // Each query compiles its own classes, once on the driver and once
    // in a task (two cache entries), so the 80 need more entries than
    // Spark's default codegen cache of 100 holds.
    def queries(s: SparkSession): Unit = (1 to 80).foreach { i =>
      val rows = Tables.lineitem(s, sfDir)
        .where(col("l_orderkey") % (8101 + i) =!= i)
        .select((col("l_quantity") * (9103 + i)).as("q"))
        .collect()
      assert(rows.nonEmpty)
    }
    assert(compilesInFreshSession(queries) >= 80)
    assert(compilesInFreshSession(queries) == 0)
  }

  test("a stream's cloned session compiles no class an earlier stream compiled") {
    def stream(name: String)(s: SparkSession): Unit = {
      val q = StreamingEvents.stream(s, sfDir)
        .filter(col("user_id") % 4051 =!= 0)
        .select((col("event_id") * 5003).as("e"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      assert(q.recentProgress.map(_.numInputRows).sum > 0)
    }
    assert(compilesInFreshSession(stream("class_space_first")) > 0)
    assert(compilesInFreshSession(stream("class_space_second")) == 0)
  }
}
