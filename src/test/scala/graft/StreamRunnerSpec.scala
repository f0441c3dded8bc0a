package graft

import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.{StreamGates, StreamingEvents}

/** `StreamGates.run` leaves nothing behind: a gate's query is stopped
  * and its memory-sink view dropped whether the stream completes or
  * fails, and a failure reaches the caller.
  */
class StreamRunnerSpec extends SparkTestBase {

  private def views(prefixes: String*): Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .filter(_.isTemporary).map(_.name)
      .filter(n => prefixes.exists(n.startsWith))

  test("gates that read their sink leave no view and no active query") {
    Seq("stream_kll_quantile", "stream_heavy_hitters", "state_store_read",
      "stream_observe_metrics").foreach { name =>
      assert(SparkEntry.queries(name)(spark, sfDir).collect().nonEmpty,
        name)
    }
    assert(views("stream_kll_", "stream_hh_", "state_read_",
      "stream_observe_").isEmpty)
    assert(spark.streams.active.isEmpty)
  }

  test("a failing stream rethrows and leaves no view and no active query") {
    val boom = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException(s"boom at $id")
      id
    }
    val e = intercept[StreamingQueryException] {
      StreamGates.memory(
        StreamingEvents.stream(spark, sfDir)
          .select(boom(col("event_id")).as("id")),
        "runner_fail")
    }
    assert(e.getMessage.contains("boom at"), e.getMessage)
    assert(views("runner_fail_").isEmpty)
    assert(spark.streams.active.isEmpty)
  }
}
