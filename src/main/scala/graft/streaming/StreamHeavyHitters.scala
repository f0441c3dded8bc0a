package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.functions.TextFunctions._

/** STREAMING heavy hitters: a Misra-Gries summary maintained as
  * `transformWithState` state over a replayed document stream — the
  * streaming twin of the batch `heavy_hitters` sketch, and the third
  * member of the stateful-sketch story (near-dup buckets, quota
  * counters, now frequency summaries).
  *
  * Determinism contract (the reason this can share the batch twin's
  * DuckDB oracle even though MG counts are merge-order dependent):
  * the stream only produces the CANDIDATE set. Misra-Gries with
  * capacity K guarantees — under ANY arrival order, batching, or
  * partition layout — that every token with true range-frequency
  * > N_range/(K+1) survives in the summary. A token with global
  * frequency > n/64 concentrates all its occurrences in one hash
  * range (the range key is a function of the token), so it clears
  * that bar by a wide margin. The batch-side tail then recounts the
  * ≤ NRanges·K candidates EXACTLY and keeps freq·64 > n — identical
  * output to `heavy_hitters` no matter what else the summaries
  * happened to retain.
  *
  * At 100 TB/day: per-range state is O(K) regardless of vocabulary
  * size, ranges shard the summary across the cluster (NRanges scales
  * with executors; here 8), and the exact recount touches only the
  * bounded candidate set — the same two-scan shape as the batch
  * sketch, with scan one replaced by the always-on stream.
  */
object StreamHeavyHitters {

  /** Summary capacity per range (matches the batch sketch's 256). */
  val Cap = 256

  /** Token-hash ranges sharding the summary. */
  val NRanges = 8

  /** One token occurrence routed to its summary range. */
  case class TokRow(range: Int, tok: String)

  /** The persisted MG summary of one range (parallel token/count
    * seqs — product-encodable).
    */
  case class MgState(toks: Seq[String], cnts: Seq[Long])

  /** Candidate emission: the summary keys of range `range` after its
    * `upd`-th update (the consumer keeps only the last emission per
    * range).
    */
  case class CandOut(range: Int, upd: Long, tok: String)

  class MgProcessor(cap: Int)
      extends StatefulProcessor[Int, TokRow, CandOut] {

    @transient private var state: ValueState[MgState] = _
    @transient private var updates: ValueState[Long] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[MgState](
        "mg", Encoders.product[MgState], TTLConfig.NONE)
      updates = getHandle.getValueState[Long](
        "upd", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Int, rows: Iterator[TokRow],
        timerValues: TimerValues): Iterator[CandOut] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      if (state.exists()) {
        val s = state.get()
        s.toks.iterator.zip(s.cnts.iterator).foreach {
          case (t, c) => m(t) = c
        }
      }
      rows.foreach { r =>
        m.get(r.tok) match {
          case Some(c) => m(r.tok) = c + 1
          case None if m.size < cap => m(r.tok) = 1L
          case None =>
            // Decrement-all step: every stored counter absorbs one
            // of the new token's "votes"; zeros evict.
            m.mapValuesInPlace((_, c) => c - 1)
            m.filterInPlace((_, c) => c > 0)
        }
      }
      val toks = m.keys.toSeq.sorted
      state.update(MgState(toks, toks.map(m)))
      val u = (if (updates.exists()) updates.get() else 0L) + 1L
      updates.update(u)
      toks.iterator.map(t => CandOut(key, u, t))
    }
  }

  /** Four replayed micro-batches of the document corpus, quartiled by
    * doc_id (single parquet files, mtime-ordered).
    */
  private def stage(spark: SparkSession, dir: String): StreamGates.Staged = {
    val docs = StreamNearDup.docs(spark, dir)
    StreamGates.stage(docs, graft.Fs.scratch(spark, "stream_hh"),
      StreamGates.keyRanges(docs, "doc_id", 4))
  }

  /** File stream → token rows → range-sharded MG summaries. */
  private[graft] def pipeline(
      spark: SparkSession, staged: StreamGates.Staged): DataFrame = {
    import spark.implicits._
    spark.readStream
      .schema(staged.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .select((hash60(col("tok")) % NRanges).cast("int").as("range"),
        col("tok"))
      .as[TokRow]
      .groupByKey(_.range)
      .transformWithState(
        new MgProcessor(Cap), TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Run the stream to completion and return the FINAL candidate set
    * (last emission per range).
    */
  private[graft] def candidates(
      spark: SparkSession, dir: String): DataFrame = {
    val (all, progress) =
      StreamGates.memory(pipeline(spark, stage(spark, dir)), "stream_hh")
    val dataBatches = StreamGates.dataBatches(progress)
    require(dataBatches >= 4,
      s"expected ≥4 replayed micro-batches, saw $dataBatches")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("range")
    all
      .withColumn("max_upd", max(col("upd")).over(w))
      .filter(col("upd") === col("max_upd"))
      .select("tok")
      .distinct()
  }
}
