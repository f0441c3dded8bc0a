package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** STREAMING latency/price-quantile screen: a DataSketches KLL longs
  * sketch maintained as `transformWithState` state per group while
  * the order history replays as four micro-batches — the streaming
  * twin of the batch `kll_quantile_sketch` gate, completing the
  * stateful-sketch family (near-dup buckets, MG frequency summaries,
  * quota counters, now rank/quantile summaries).
  *
  * The state is the sketch's own serialized image (`toByteArray` /
  * `heapify`) in a binary ValueState — exactly what a production
  * deployment checkpoints, and byte-compatible with Spark 4.1's
  * native `kll_*_bigint` SQL surface (same DataSketches library, so
  * the final emitted image can be read, queried, and MERGED with
  * `kll_merge_agg_bigint` on the batch side; the gate does both).
  *
  * Determinism contract (shared with the batch twin): KLL compaction
  * is randomized, so the VALUE of p50 is not cross-engine hashable —
  * the gate pins the RANK guarantee instead: the exact rank of the
  * sketch's reported p50 must land within 0.5 ± 0.05 per group and
  * for the merged-all sketch (default k errs ~1.65%). Counts are
  * exact and pinned exactly.
  *
  * At 100 TB/day: per-group state is O(k log n) bytes regardless of
  * row volume, groups shard the summary across the cluster, every
  * micro-batch folds its rows into local sketches with no global
  * reshuffle of values, and any rollup level is served by merging
  * stored images — the identical argument to the batch sketch, with
  * the scan replaced by the always-on stream.
  */
object StreamKllQuantile {

  /** One streamed value routed to its group's sketch. */
  case class VRow(prio: String, v: Long)

  /** Per-batch emission: group key, update ordinal (consumer keeps
    * the last per group), rows absorbed so far, and the sketch's
    * serialized image at this point.
    */
  case class SkOut(prio: String, upd: Long, n: Long, sk: Array[Byte])

  class KllProcessor extends StatefulProcessor[String, VRow, SkOut] {
    @transient private var state: ValueState[Array[Byte]] = _
    @transient private var updates: ValueState[Long] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[Array[Byte]](
        "kll", Encoders.BINARY, TTLConfig.NONE)
      updates = getHandle.getValueState[Long](
        "upd", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String, rows: Iterator[VRow],
        timerValues: TimerValues): Iterator[SkOut] = {
      import org.apache.datasketches.kll.KllLongsSketch
      import org.apache.datasketches.memory.Memory
      val sk =
        if (state.exists())
          KllLongsSketch.heapify(Memory.wrap(state.get()))
        else KllLongsSketch.newHeapInstance()
      rows.foreach(r => sk.update(r.v))
      state.update(sk.toByteArray)
      val u = (if (updates.exists()) updates.get() else 0L) + 1L
      updates.update(u)
      Iterator.single(SkOut(key, u, sk.getN, sk.toByteArray))
    }
  }

  /** Four replayed micro-batches of the order history, quartiled by
    * o_orderkey (single parquet files, mtime-ordered so
    * maxFilesPerTrigger=1 replays them in sequence).
    */
  private def stage(spark: SparkSession, dir: String): StreamGates.Staged = {
    val df = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        graft.operators.Money.cents(col("o_totalprice")).as("v"))
    StreamGates.stage(df, graft.Fs.scratch(spark, "stream_kll"),
      StreamGates.keyRanges(df, "o_orderkey", 4))
  }

  /** Run the replay to completion; return the FINAL per-group sketch
    * rows (prio, n, sk) — last emission per group.
    */
  private[graft] def finalSketches(
      spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stage(spark, dir)
    val (all, progress) = StreamGates.memory(
      spark.readStream
        .schema(staged.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.dir)
        .select(col("o_orderpriority").as("prio"), col("v"))
        .as[VRow]
        .groupByKey(_.prio)
        .transformWithState(
          new KllProcessor, TimeMode.None(), OutputMode.Append()),
      "stream_kll")
    val dataBatches = StreamGates.dataBatches(progress)
    require(dataBatches >= 4,
      s"expected ≥4 replayed micro-batches, saw $dataBatches")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("prio")
    all
      .withColumn("max_upd", max(col("upd")).over(w))
      .filter(col("upd") === col("max_upd"))
      .select(col("prio"), col("n"), col("sk"))
  }
}
