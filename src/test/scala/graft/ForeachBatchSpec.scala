package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingEvents

/** `foreachBatch` — the escape hatch for sinks Structured Streaming
  * has no native writer for (JDBC upserts, multi-table fan-out). Each
  * micro-batch arrives as a plain DataFrame with its batch id; the
  * id is what a deployment keys idempotence on (re-delivered batches
  * overwrite, not duplicate). Here: complete-mode windowed aggregates
  * overwritten per batch, final files ≡ the batch aggregation.
  */
class ForeachBatchSpec extends SparkTestBase {

  test("foreachBatch complete-mode sink converges to the batch result") {
    val out = Fs.scratch(spark, "feb_sink")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingEvents
      .windowedAgg(StreamingEvents.stream(spark, sfDir))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        seen += id
        // Idempotent by construction: a re-delivered batch id
        // overwrites the same location instead of appending a dup.
        batch.write.mode("overwrite").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    assert(seen.nonEmpty, "expected at least one micro-batch")
    val viaStream = spark.read.parquet(out)
      .orderBy("day", "event_type").collect().toSeq
    val viaBatch = StreamingEvents
      .windowedAgg(StreamingEvents.batch(spark, sfDir))
      .orderBy("day", "event_type").collect().toSeq
    assert(viaStream == viaBatch)
  }
}
