package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING in-flight metrics: `observe` (CollectMetrics) attached
  * to a replayed event stream, counters harvested per micro-batch
  * from the query progress — the streaming twin of the batch
  * `observe_metrics` gate.
  *
  * This is how an always-on 100 TB/day pipeline self-reports row
  * counts, value sums, and data-quality violations: the metrics ride
  * the micro-batch's own tasks as accumulator partials (no second
  * pass, no extra scan), surface in every progress event, and feed
  * alerting without touching the sink. The gate's claim is
  * exactness-under-decomposition: count/sum observed per batch and
  * added across batches must equal the same aggregates computed over
  * the whole log in one pass — which is what the DuckDB oracle pins.
  * A dropped batch, a double-fired metric, or an approximate counter
  * would all break the hash.
  */
object StreamObserve {

  /** Replay the event log (three mtime-ordered slices, one file per
    * trigger), observe per-batch counters, and return their
    * cross-batch totals as one row.
    */
  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("value"), col("props"))
    val staged = StreamGates.stage(events,
      graft.Fs.scratch(spark, "stream_observe"),
      StreamGates.keyRanges(events, "event_id", 3))
    // The rows are not the answer, so they go to the noop sink; the
    // metrics ride the progress.
    val progress = StreamGates.run(
      spark.readStream
        .schema(staged.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.dir)
        .observe("batch_stats",
          count(lit(1)).as("n_rows"),
          sum(graft.operators.Money.cents(col("value")))
            .as("sum_cents"),
          count(when(col("value") > 100.0, 1)).as("n_big"),
          count(when(col("props").isNull || col("props") === "", 1))
            .as("n_blank_props")))(_.format("noop").start())
    val metrics = progress
      .flatMap(p => Option(p.observedMetrics.get("batch_stats")))
    require(metrics.size >= 3,
      s"expected >=3 observed micro-batches, saw ${metrics.size}")
    def total(field: String): Long =
      metrics.map(r => r.getAs[Number](field).longValue()).sum
    Seq((total("n_rows"), total("sum_cents"), total("n_big"),
        total("n_blank_props")))
      .toDF("n_rows", "sum_cents", "n_big", "n_blank_props")
  }
}
