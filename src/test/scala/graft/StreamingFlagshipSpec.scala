package graft

import graft.operators.FlagshipQueries
import graft.streaming.StreamingFlagship

/** SURVEY §7.5's stretch goal, pinned: the flagship pipeline over
  * file-source page snapshots under an available-now trigger produces
  * the byte-identical report to the one-shot batch flagship — with one
  * snapshot per micro-batch, so the complete-mode aggregation really
  * accumulates across batches.
  */
class StreamingFlagshipSpec extends SparkTestBase {

  test("streamed snapshots reproduce the batch flagship exactly") {
    val streamed = StreamingFlagship
      .flagshipReport(
        spark,
        Fs.scratch(spark, "flagship_snaps_spec"),
        "flagship_stream_spec")
      .collect()
      .toSeq
    val batch = FlagshipQueries.flagship(spark).collect().toSeq
    assert(streamed == batch,
      s"stream/batch divergence:\n  stream=$streamed\n  batch=$batch")
    assert(batch.nonEmpty)
  }
}
