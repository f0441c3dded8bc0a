package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline STATE-STORE READER gate: run a stateful streaming
  * aggregation over a three-batch replay of the event log, then read
  * the committed state back — not through the sink, but straight out
  * of the checkpoint with Spark's `statestore` data source — and
  * report the per-key aggregates the store holds.
  *
  * This is the production surface for debugging a stateful pipeline:
  * at 100 TB/day the state behind a streaming agg / dedup / session
  * window is itself a distributed dataset (one RocksDB/HDFS store per
  * shuffle partition), and when a key's output looks wrong the only
  * non-destructive way to inspect it is an offline scan of the
  * checkpoint. The reader plans one input partition per state
  * partition — no replay, no sink round-trip, and it parallelizes
  * exactly as wide as the state itself.
  *
  * The gate's claim is end-to-end fidelity: the store's contents
  * (key → running count + cents sum, in the agg buffer Spark
  * checkpoints) must equal the same aggregates computed from the raw
  * events in one batch pass — which is what the DuckDB oracle pins.
  * A truncated replay, a lost micro-batch commit, or a reader that
  * resurrects a superseded state version would all break the match.
  */
object StateStoreRead {

  /** Replay the event log as three event-id-sliced single-file
    * micro-batches (mtime-ordered for maxFilesPerTrigger=1), so the
    * final state is the product of genuine cross-batch accumulation
    * rather than one bulk load.
    */
  private def stage(spark: SparkSession, dir: String): StreamGates.Staged = {
    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        graft.operators.Money.cents(col("value")).as("cents"))
    StreamGates.stage(events, graft.Fs.scratch(spark, "state_read"),
      StreamGates.keyRanges(events, "event_id", 3))
  }

  private val ckptCache = new graft.operators.SessionMemo[String]

  /** Run the replayed streaming agg to completion ONCE per (session,
    * dir) and return the checkpoint root — shared by the final-state
    * and change-feed readers, exactly as one production checkpoint
    * serves every offline inspection. The root is suffixed by the
    * source dir, so tests (sf0.001) and a Verify run (sf0.01)
    * in one session never read each other's state.
    *
    * The aggregation is not a `transformWithState`, so the runner
    * leaves the session default (HDFS-backed) provider in place; the
    * statestore reader instantiates the provider class from the
    * session conf at scan time, after the run's scoped conf is
    * restored, so write and read agree. RocksDB state is exercised by
    * the transformWithState gates.
    */
  private[graft] def ensureCheckpoint(
      spark: SparkSession, dir: String): String =
    ckptCache.getOrCompute(spark, dir) {
      val staged = stage(spark, dir)
      val ckpt = graft.Fs.scratch(spark,
        s"state_read_ckpt-${new java.io.File(dir).getName}")
      // Only the committed state matters, so the rows go to the noop
      // sink.
      val progress = StreamGates.run(
        spark.readStream
          .schema(staged.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents")),
        "update")(
        _.format("noop").option("checkpointLocation", ckpt).start())
      val dataBatches = StreamGates.dataBatches(progress)
      require(dataBatches >= 3,
        s"expected >=3 replayed micro-batches, saw $dataBatches")
      ckpt
    }

  /** Final committed state: (event_type, n_events, sum_cents). */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = ensureCheckpoint(spark, dir)
    // Latest committed batch, operator 0, store "default" — the
    // streaming agg's buffer rows keyed by the grouping column. The
    // value struct carries the BUFFER field names (`count`, `sum`),
    // not the agg output aliases; renamed here to the gate's output
    // contract.
    spark.read.format("statestore").load(ckpt)
      .select(col("key.event_type").as("event_type"),
        col("value.count").as("n_events"),
        col("value.sum").as("sum_cents"))
      .orderBy("event_type")
  }

  /** State CHANGE FEED over the same checkpoint: every per-batch
    * state mutation since batch 0, folded per key into (number of
    * updates, final count, final cents sum).
    *
    * The per-key update count is the sharp claim: the feed must
    * contain EXACTLY one update per (batch that touched the key) —
    * a re-emitted untouched key, a dropped delta, or a double-applied
    * batch all shift it. The oracle recomputes it as the number of
    * distinct replay slices each event_type appears in (the slicing
    * is pure event_id arithmetic, so DuckDB reproduces it exactly),
    * and the final aggregates as the one-pass truth. At scale this
    * reader is state time-travel: auditing WHEN a key's aggregate
    * went wrong without replaying the stream.
    */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = ensureCheckpoint(spark, dir)
    spark.read.format("statestore")
      .option("readChangeFeed", "true")
      .option("changeStartBatchId", "0")
      .load(ckpt)
      .groupBy(col("key.event_type").as("event_type"))
      .agg(
        count(when(col("change_type") === "update", 1))
          .as("n_updates"),
        max_by(col("value.count"), col("batch_id")).as("n_events"),
        max_by(col("value.sum"), col("batch_id")).as("sum_cents"))
      .orderBy("event_type")
  }
}
