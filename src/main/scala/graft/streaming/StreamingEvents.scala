package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming generalization of the batch pipeline
  * (SURVEY.md §7.5): the same declarative transforms run over a file
  * stream with watermarking and event-time windows. Batch and stream
  * share the aggregation logic, so the spec can assert
  * stream-result == batch-result on the same files (the Dataflow-style
  * "replayable source ⇒ same answer" property).
  *
  * At scale the file source is a cloud-storage listing (each micro-
  * batch picks up new parquet files); state for the windowed aggregate
  * is bounded by the watermark.
  */
object StreamingEvents {

  /** Raw parquet schema of the events table, parameterized by the ts
    * encoding ACTUALLY ON DISK — the fixtures have shipped both
    * ns-int64 (arrives as LongType under nanosAsLong) and native
    * timestamp[us] (arrives as TIMESTAMP_NTZ). A file stream needs an
    * explicit schema, so [[stream]] takes the footer type from the
    * batch loaders' schema memo first; declaring the wrong
    * flavor would silently reinterpret raw µs ints (the round-8
    * 1000×-compressed-timeline failure).
    */
  private def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Footer type of events.ts as stored in `dir`, from the schema
    * memo the batch loaders share (no job once the file is known).
    */
  private def fileTsType(spark: SparkSession, dir: String): DataType =
    graft.Tables.schema(spark, dir, "events")("ts").dataType

  /** The shared (batch ≡ stream) aggregation: tumbling 1-day event-time
    * windows per event_type with integer-cents value sums.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(
        window(col("ts"), "1 day").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(graft.operators.Money.cents(col("value"))).as("value_cents"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"),
        col("n_events"),
        col("value_cents"))

  /** Sliding-window twin of [[windowedAgg]]: 2-day windows advancing
    * 1 day, so every event lands in exactly TWO overlapping windows —
    * the smoothing shape (moving totals) a monitoring pipeline uses.
    * Same watermark/agg/output contract as the tumbling form; in
    * streaming mode Spark maintains one state row per (window,
    * event_type), i.e. 2× the tumbling state, which is the expected
    * cost of overlap and stays bounded by the watermark horizon.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(
        window(col("ts"), "2 days", "1 day").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(graft.operators.Money.cents(col("value"))).as("value_cents"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd").as("win_start"),
        col("event_type"),
        col("n_events"),
        col("value_cents"))

  /** Normalize ts to a plain TimestampType (LTZ) event-time column
    * whatever the on-disk flavor: ns-longs are truncated to µs (the
    * Tables.events rule); NTZ is reinterpreted under the UTC-pinned
    * session (wall-clock preserving). Everything downstream —
    * watermarks, windows, unix_micros arithmetic — sees one type.
    */
  private def normalize(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }

  /** Streaming read of the events parquet in `dir` (file-source). */
  def stream(spark: SparkSession, dir: String): DataFrame =
    normalize(
      spark.readStream
        .schema(rawSchema(fileTsType(spark, dir)))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))

  /** Run `ds` into a memory sink and return its rows, guarding the
    * ORDER-SENSITIVE stateful runs (quota, recent-K):
    * their processors run in TimeMode.None with no watermark, so they
    * sort events only WITHIN a micro-batch — their oracles assume a
    * global (ts, event_id) order per key, which holds exactly when the
    * whole fixture lands in one data batch (true for the single-file
    * events fixture under AvailableNow). If the input ever splits
    * (several files, maxFilesPerTrigger), cross-batch arrival order is
    * file order and accept/evict decisions could silently diverge from
    * the oracle — so the assumption is ASSERTED, not assumed: a
    * multi-batch run fails loudly. (The continuous-deployment answer
    * is event-time buffering behind a watermark, as the session
    * processor does; these operators document the per-batch contract
    * instead, which is the semantics a real at-ingest throttle has.)
    */
  def singleBatch(ds: Dataset[_], what: String): DataFrame = {
    val (rows, progress) = StreamGates.memory(ds, what)
    val dataBatches = StreamGates.dataBatches(progress)
    require(dataBatches <= 1,
      s"$what processed $dataBatches data micro-batches; its oracle " +
        "assumes single-batch ordering — input must arrive as one " +
        "available-now batch")
    rows
  }

  /** Guard for finite replays whose oracle is KNOWN non-empty: the
    * fixture always produces closed sessions / closed hourly windows,
    * so a sink that drained zero rows is a broken pipeline (round 8:
    * a compressed timeline kept every session open and the parquet
    * sink silently dumped 0 rows against a 9,542-row oracle), never a
    * legitimate answer. Fails the query loudly instead — with the
    * Verify crash sentinel that grades as a red row with a message.
    */
  def assertEmitted(df: DataFrame, what: String): DataFrame = {
    require(!df.isEmpty,
      s"$what replay emitted 0 rows from a fixture whose oracle is " +
        "non-empty — watermark never closed anything (timeline/type " +
        "drift?); refusing to return an empty result as an answer")
    df
  }

  /** Batch read of the same files — the differential twin. */
  def batch(spark: SparkSession, dir: String): DataFrame =
    normalize(
      spark.read
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))

  /** Stream-STATIC enrichment: each micro-batch of the event stream
    * joins the bounded customer dimension (re-read/broadcast per
    * batch — Spark re-plans the static side each micro-batch, so slow
    * dimension changes are picked up) and aggregates per segment.
    * Needs NO streaming state for the join itself — the deployable
    * shape for enriching a 100 TB/day stream with reference data; the
    * only state is the aggregation's, bounded by segment cardinality.
    * `StreamingSpec` runs the streaming twin (complete-mode memory
    * sink) and asserts ≡ this batch form.
    */
  def staticEnrichAgg(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(
        broadcast(customers.select(
          col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(graft.operators.Money.cents(col("value"))).as("value_cents"))

  /** Streaming exact-dedup with BOUNDED state: the stream unioned with
    * itself (every event twice) deduped on event_id via
    * `dropDuplicatesWithinWatermark` — unlike plain dropDuplicates
    * (state grows forever), seen-key state is dropped once the
    * watermark passes, which is the only deployable form of streaming
    * dedup at 100 TB/day ingest.
    */
  def dedupStream(spark: SparkSession, dir: String): DataFrame =
    stream(spark, dir)
      .unionByName(stream(spark, dir))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join with event-time bounds: each click
    * joined to the same user's views in the preceding hour. Both
    * sides carry watermarks and the join condition bounds event time
    * from BOTH directions, so Spark can expire buffered state — the
    * only deployable shape for joining two 100 TB/day streams (an
    * unbounded-time stream join would buffer forever).
    */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val (clicks, views, cond) = clickViewSides(events)
    clicks
      .join(views, cond)
      .select(
        col("c_user").as("user_id"),
        col("click_id"),
        col("view_id"))
  }

  /** Shared preparation of the click/view join: watermarked sides plus
    * the event-time-bounded condition — ONE definition so the inner
    * and left-outer forms (whose equivalence StreamingSpec asserts)
    * cannot drift apart.
    */
  private def clickViewSides(
      events: DataFrame): (DataFrame, DataFrame, Column) = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(
        col("user_id").as("c_user"),
        col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val views = events
      .filter(col("event_type") === "view")
      .select(
        col("user_id").as("v_user"),
        col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val cond = col("c_user") === col("v_user") &&
      col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
      col("view_ts") <= col("click_ts")
    (clicks, views, cond)
  }

  /** Streaming AS-OF join — the temporal operator chained from TWO
    * stateful stages (Spark 4's multiple-stateful-operator support):
    * the event-time-bounded stream-stream join buffers candidate
    * (click, view) pairs, and a downstream APPEND-mode windowed
    * aggregation picks each click's LATEST view via max(struct
    * (view_ts, view_id)) — the streaming twin of the batch
    * `join_asof_tolerance` (1-hour window). Groups key on
    * (window(click_ts, 1h), user, click), so aggregation state
    * closes when the propagated watermark passes the hour window —
    * the final no-data micro-batch flushes exactly the provably-
    * closed clicks, the same emission contract the sessionizer
    * pins.
    */
  def clickViewAsofStream(events: DataFrame): DataFrame = {
    val (clicks, views, cond) = clickViewSides(events)
    clicks
      .join(views, cond)
      .groupBy(
        window(col("click_ts"), "1 hour").as("w"),
        col("c_user"),
        col("click_id"))
      .agg(max(struct(col("view_ts"), col("view_id"))).as("best"))
      .select(
        col("c_user").as("user_id"),
        col("click_id"),
        col("best.view_id").as("view_id"))
  }

  /** LEFT OUTER twin of [[clickViewJoin]]: unmatched clicks emit with a
    * NULL view_id — but only once the watermark PROVES no qualifying
    * view can still arrive (append-mode outer rule), so clicks inside
    * the final watermark horizon of a finite replay stay buffered and
    * never emit. StreamingSpec asserts exactly that contract: inner
    * results ≡ batch, outer results ⊆ batch, and outer results are
    * COMPLETE for clicks older than the final watermark horizon.
    */
  def clickViewLeftJoin(events: DataFrame): DataFrame = {
    val (clicks, views, cond) = clickViewSides(events)
    clicks
      .join(views, cond, "left_outer")
      .select(
        col("c_user").as("user_id"),
        col("click_id"),
        col("click_ts"),
        col("view_id"))
  }

  /** FULL OUTER twin of [[clickViewJoin]]: unmatched rows from BOTH
    * sides emit with NULLs once the watermark proves no partner can
    * still arrive — clicks flush when the view watermark passes their
    * match window, views when the click watermark passes theirs
    * (view_ts + 1 h, one extra hour vs the click side). user_id must
    * coalesce across sides: an unmatched view has no c_user.
    */
  def clickViewFullJoin(events: DataFrame): DataFrame = {
    val (clicks, views, cond) = clickViewSides(events)
    clicks
      .join(views, cond, "full_outer")
      .select(
        coalesce(col("c_user"), col("v_user")).as("user_id"),
        col("click_id"),
        col("click_ts"),
        col("view_id"),
        col("view_ts"))
  }

  /** Hourly twin of [[windowedAgg]] with a 1-hour watermark — the
    * late-drop pinning shape: windows small enough (and the delay
    * short enough) that on-time phase-2 arrivals land in windows that
    * CLOSE before the stream ends, so the output separates "late rows
    * dropped" from "phase 2 ignored entirely".
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(
        window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(graft.operators.Money.cents(col("value"))).as("value_cents"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"),
        col("n_events"),
        col("value_cents"))

  /** Arrival split for the late-drop pin (UTC instants inside the
    * fixture's fixed Jan-2024 event range at every scale factor):
    * rows in [LateSplit, LateRecent) arrive in phase 1; phase 2 then
    * delivers rows < LateSplit (LATE — two weeks below the phase-1
    * watermark, provably dropped) together with rows ≥ LateRecent
    * (on time — above the watermark, provably kept).
    */
  val LateSplit = "2024-01-16 00:00:00"
  val LateRecent = "2024-01-30 12:00:00"

  private val lateStagedSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The watermark late-data-drop contract, end to end: two
    * AvailableNow streaming runs share one CHECKPOINTED parquet sink
    * (the watermark persists in the offset log across runs — exactly
    * how a production incremental job resumes). Phase 1 ingests the
    * middle slice and leaves the watermark near LateRecent − 1 h;
    * phase 2 ingests the pre-LateSplit half (late → dropped on
    * arrival) plus the post-LateRecent sliver (on time → aggregated
    * and emitted once its hourly windows close). The result read back
    * from the sink must therefore equal the batch aggregation of
    * rows ≥ LateSplit over windows closed by the final watermark —
    * the oracle computes that same exclusion arithmetically.
    */
  def lateDropResult(spark: SparkSession, dir: String): DataFrame =
    lateDropRun(spark, dir)._1

  /** [[lateDropResult]] plus the engine's OWN per-phase late-drop
    * counters (`numRowsDroppedByWatermark`, summed across each
    * phase's micro-batches) — `LateDropCounterSpec` pins phase 1 at
    * zero and phase 2 at exactly the arithmetic late-row count, so
    * the drop is proven at the state operator itself, not only
    * through the output.
    */
  def lateDropRun(
      spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val (out, d1, d2) = lateDropRunWithPath(spark, dir)
    (assertEmitted(
      spark.read.parquet(out).orderBy("hour", "event_type"),
      "stream_late_drop"), d1, d2)
  }

  /** Core of [[lateDropRun]], returning the SINK PATH so a second
    * streaming hop can consume the silver layer ([[multihopResult]]).
    *
    * Memoized per (session, dir): `stream_late_drop` and
    * `stream_multihop` both need this two-phase pipeline, and the
    * medallion contract is that hop 2 consumes the EXISTING silver
    * layer — re-running ingest per consumer would both double the
    * bench cost and wipe the first consumer's sink mid-run (the build
    * starts by clearing its scratch dir).
    */
  def lateDropRunWithPath(
      spark: SparkSession, dir: String): (String, Long, Long) =
    lateDropCache.getOrCompute(spark, dir)(
      lateDropRunUncached(spark, dir))

  private val lateDropCache =
    new graft.operators.SessionMemo[(String, Long, Long)]

  private def lateDropRunUncached(
      spark: SparkSession, dir: String): (String, Long, Long) = {
    val base = graft.Fs.scratch(spark,
      s"late_drop-${new java.io.File(dir).getName}")
    val ingest = s"$base/ingest"
    val out = s"$base/sink"
    val ckpt = s"$base/ckpt"
    val ev = batch(spark, dir).select(
      col("ts"), col("event_type"), col("value"))
    def runPhase(): Long =
      StreamGates.run(hourlyAgg(
        spark.readStream
          .schema(lateStagedSchema)
          .option("pathGlobFilter", "*.parquet")
          .parquet(ingest)))(
        _.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .start())
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark)
        .sum
    // coalesce(1): each phase stages ONE file → one input partition →
    // one map-side combine domain, which is what makes the
    // numRowsDroppedByWatermark counter equal the late GROUP count
    // exactly (LateDropCounterSpec) instead of landing anywhere
    // between group and row counts.
    ev.filter(col("ts") >= lit(LateSplit) && col("ts") < lit(LateRecent))
      .coalesce(1).write.mode("append").parquet(ingest)
    val dropped1 = runPhase()
    ev.filter(col("ts") < lit(LateSplit) || col("ts") >= lit(LateRecent))
      .coalesce(1).write.mode("append").parquet(ingest)
    val dropped2 = runPhase()
    (out, dropped1, dropped2)
  }

  /** MULTI-HOP streaming (the medallion bronze→silver→gold shape):
    * hop 1 is the checkpointed hourly parquet sink (the late-drop
    * pipeline — a REAL watermark-gated file sink), and hop 2 is a
    * SECOND checkpoint-independent streaming query that reads that
    * silver layer back as a file stream and re-aggregates per type.
    * This is how production pipelines compose: each hop its own
    * streaming query with its own recovery story, chained through a
    * replayable storage layer — never one mega-query with chained
    * stateful aggregations (unsupported, and wrong for ownership
    * boundaries). Hop-2 state is bounded by type cardinality.
    */
  def multihopResult(spark: SparkSession, dir: String): DataFrame = {
    val (silverPath, _, _) = lateDropRunWithPath(spark, dir)
    val silverSchema = StructType(Seq(
      StructField("hour", StringType),
      StructField("event_type", StringType),
      StructField("n_events", LongType),
      StructField("value_cents", LongType)))
    val rows = StreamGates.memory(
      spark.readStream
        .schema(silverSchema)
        .parquet(silverPath)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_windows"),
          sum(col("n_events")).as("n_events"),
          sum(col("value_cents")).as("value_cents")),
      "multihop", "complete")._1
    assertEmitted(rows.orderBy("event_type"), "stream_multihop")
  }

  /** Run the stream to completion (available-now trigger) into an
    * in-memory sink; returns the materialized result.
    */
  def runToCompletion(spark: SparkSession, dir: String,
                      sinkPrefix: String): DataFrame =
    StreamGates.memory(windowedAgg(stream(spark, dir)), sinkPrefix,
      "complete")._1

  // ------------------------------------------------------------------
  // Per-key ingest quota (throttling)
  // ------------------------------------------------------------------

  case class QEv(
      user_id: Long, event_id: Long, event_type: String, tsMicros: Long)
  case class QuotaOut(
      user_id: Long, event_id: Long, event_type: String,
      accepted: Boolean)

  /** Max accepted events per user per event-time day. */
  val QuotaPerDay = 3L

  /** State function for the per-key quota: one counter per (user,
    * event-time day) — the hot-key defense a 100 TB/day ingest runs
    * so no single producer floods a partition. Within a trigger the
    * group sorts by (event time, event_id), so the accept decision is
    * deterministic under any partitioning; state is the counter map
    * (a continuous deployment expires past days with an event-time
    * timeout — with the finite available-now replay every day stays
    * within the one trigger).
    */
  def quotaGroup(
      userId: Long,
      events: Iterator[QEv],
      state: GroupState[Map[Long, Long]]): Iterator[QuotaOut] = {
    var counters = state.getOption.getOrElse(Map.empty[Long, Long])
    val out = events.toSeq
      .sortBy(e => (e.tsMicros, e.event_id))
      .map { e =>
        val day = e.tsMicros / 86400000000L
        val c = counters.getOrElse(day, 0L) + 1L
        counters = counters.updated(day, c)
        QuotaOut(userId, e.event_id, e.event_type, c <= QuotaPerDay)
      }
    state.update(counters)
    out.iterator
  }

  /** The quota decision over the event file stream: every event
    * emitted exactly once, flagged accepted or dropped.
    */
  def quotaStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stream(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"))
      .as[QEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(quotaGroup)
      .toDF()
  }

  /** The SAME quota decision through Spark 4's `transformWithState` —
    * the arbitrary-state API succeeding mapGroupsWithState: TYPED
    * state handles (here a per-key MapState of day→counter) backed by
    * the RocksDB state store provider the operator requires, each
    * handle independently TTL-capable (a continuous deployment puts a
    * TTL on past days instead of a timeout dance). Decision logic and
    * determinism contract are identical to [[quotaGroup]], and the
    * gate runs BOTH implementations against one oracle — the two
    * state APIs must be indistinguishable (the bpe_apply_fast
    * precedent).
    */
  class QuotaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, QEv, QuotaOut] {
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var counters
        : org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counters = getHandle.getMapState[Long, Long](
        "dayCounters",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[QEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[QuotaOut] =
      rows.toSeq
        .sortBy(e => (e.tsMicros, e.event_id))
        .map { e =>
          val day = e.tsMicros / 86400000000L
          val c = (if (counters.containsKey(day))
            counters.getValue(day)
          else 0L) + 1L
          counters.updateValue(day, c)
          QuotaOut(key, e.event_id, e.event_type, c <= QuotaPerDay)
        }
        .iterator
  }

  def quotaStreamTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stream(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"))
      .as[QEv]
      .groupByKey(_.user_id)
      .transformWithState(
        new QuotaProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Eviction record of the recency buffer: the event pushed out
    * when a newer one arrived.
    */
  case class Evicted(user_id: Long, event_id: Long, event_type: String)

  /** Buffer depth of the per-key recency window. */
  val RecentK = 3

  /** Per-key RECENCY BUFFER on ListState — the remaining typed state
    * primitive (Value/Map/timers covered by the quota and session
    * processors): the last K events per user stay buffered (the
    * per-key sliding context a feature pipeline keeps), and each
    * arrival beyond K EMITS the evicted oldest event. Deterministic
    * under any partitioning by the same (time, id) group sort; the
    * oracle derives evictions as rank-from-newest > K.
    */
  class RecentKProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, QEv, Evicted] {
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var recent
        : org.apache.spark.sql.streaming.ListState[QEv] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[QEv](
        "recentEvents",
        org.apache.spark.sql.Encoders.product[QEv],
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[QEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Evicted] = {
      var buf = recent.get().toVector
      val out = scala.collection.mutable.ArrayBuffer.empty[Evicted]
      rows.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
        buf = buf :+ e
        if (buf.size > RecentK) {
          val ev = buf.head
          buf = buf.tail
          out += Evicted(key, ev.event_id, ev.event_type)
        }
      }
      recent.clear()
      buf.foreach(recent.appendValue)
      out.iterator
    }
  }

  def recentKStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stream(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"))
      .as[QEv]
      .groupByKey(_.user_id)
      .transformWithState(
        new RecentKProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** One batch-computed (user, day) counter row of the warm-start
    * initial state.
    */
  case class WarmCounter(user_id: Long, day: Long, c: Long)

  /** WARM-START quota: the same day-counter processor seeded with
    * INITIAL STATE computed in batch — the migration path from a
    * batch job to a streaming one (history counted once offline, the
    * stream continues from it; no replay of history through the
    * stream). `handleInitialState` is invoked per initial-state row
    * before any input, loading each (day, count) into the MapState.
    */
  class WarmQuotaProcessor
      extends org.apache.spark.sql.streaming
        .StatefulProcessorWithInitialState[
          Long, QEv, QuotaOut, WarmCounter] {
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var counters
        : org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counters = getHandle.getMapState[Long, Long](
        "dayCounters",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInitialState(
        key: Long,
        initialState: WarmCounter,
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      counters.updateValue(initialState.day, initialState.c)

    override def handleInputRows(
        key: Long,
        rows: Iterator[QEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[QuotaOut] =
      rows.toSeq
        .sortBy(e => (e.tsMicros, e.event_id))
        .map { e =>
          val day = e.tsMicros / 86400000000L
          val c = (if (counters.containsKey(day))
            counters.getValue(day)
          else 0L) + 1L
          counters.updateValue(day, c)
          QuotaOut(key, e.event_id, e.event_type, c <= QuotaPerDay)
        }
        .iterator
  }

  /** History = even event ids counted in BATCH into the initial
    * state; the stream delivers only the odd half and its accept
    * decisions must reflect the warm counters (history events were
    * processed first — the batch→streaming handover contract).
    */
  def quotaStreamWarm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val initState = batch(spark, dir)
      .filter(col("event_id") % 2 === 0)
      .groupBy(
        col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("day"))
      .agg(count(lit(1)).as("c"))
      .as[WarmCounter]
      .groupByKey(_.user_id)
    stream(spark, dir)
      .filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"))
      .as[QEv]
      .groupByKey(_.user_id)
      .transformWithState(
        new WarmQuotaProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        initState)
      .toDF()
  }

  // ------------------------------------------------------------------
  // Per-key EWMA anomaly screen
  // ------------------------------------------------------------------

  case class AnomEv(
      event_id: Long, event_type: String, tsMicros: Long, cents: Long)
  case class AnomOut(
      event_type: String, seq: Long, event_id: Long, dev_cents: Long,
      flagged: Boolean, ewma_cents: Long, ewmad_cents: Long)

  /** Streaming ANOMALY detector: per event_type the state is two
    * integer EWMAs — a level estimate and a mean-absolute-deviation
    * estimate — and an event is flagged when its deviation from the
    * pre-update level exceeds 4× the running deviation scale (the
    * self-calibrating z-score-style screen a monitoring pipeline runs
    * in-stream; O(1) state per key). INTEGER arithmetic throughout,
    * per the money-determinism convention: cents values, α = 1/8 as
    * TRUNCATING division `(x − ewma) / 8` (JVM semantics) — the
    * oracle mirrors it with `(a − a % 8) // 8`, which equals
    * truncation for either sign because DuckDB's `%` keeps the
    * dividend's sign. The first event of a key initializes the level
    * and is never flagged. Same determinism contract as the quota:
    * group-sorted by (event time, event_id), single-batch asserted.
    */
  def anomGroup(
      key: String,
      events: Iterator[AnomEv],
      state: GroupState[(Long, Long, Long)]): Iterator[AnomOut] = {
    var (ewma, ewmad, seq) =
      state.getOption.getOrElse((0L, 0L, 0L))
    val out = events.toSeq
      .sortBy(e => (e.tsMicros, e.event_id))
      .map { e =>
        seq += 1
        if (seq == 1L) {
          ewma = e.cents
          ewmad = 0L
          AnomOut(key, seq, e.event_id, 0L, flagged = false, ewma, ewmad)
        } else {
          val dev = math.abs(e.cents - ewma)
          val flagged = ewmad > 0 && dev > 4 * ewmad
          ewma = ewma + (e.cents - ewma) / 8
          ewmad = ewmad + (dev - ewmad) / 8
          AnomOut(key, seq, e.event_id, dev, flagged, ewma, ewmad)
        }
      }
    state.update((ewma, ewmad, seq))
    out.iterator
  }

  /** Bounded replay slice for the anomaly screen: the oracle replays
    * the identical recurrence as a recursive CTE whose depth is the
    * max per-key event count, so the gate input is capped at a
    * fixed event_id horizon (identical rows at every sf).
    */
  val AnomMaxEventId = 4000L

  def anomalyStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stream(spark, dir)
      .filter(col("event_id") < AnomMaxEventId)
      .select(col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"),
        graft.operators.Money.cents(col("value")).as("cents"))
      .as[AnomEv]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(anomGroup)
      .toDF()
  }

  // ------------------------------------------------------------------
  // Per-user first-seen screen (streaming reach)
  // ------------------------------------------------------------------

  case class FirstSeenOut(user_id: Long, day: Long)

  /** First-seen detector: one BOOLEAN of ValueState per user; the
    * first event a user ever shows emits their (user, first-seen day)
    * exactly once — the streaming feed of the cumulative-reach curve,
    * whose batch twin derives the same frame from min(day) per user.
    * Dedup state for reach is GENUINELY unbounded (one key per user
    * forever — that is what "ever seen" means); what stays bounded is
    * the per-key payload: one bit. Within a batch rows process in the
    * (tsSec, event_id) order (the established single-batch contract),
    * so "first" is deterministic.
    */
  class FirstSeenProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TransEv, FirstSeenOut] {
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var seen
        : org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean](
        "seen", org.apache.spark.sql.Encoders.scalaBoolean,
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[TransEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[FirstSeenOut] =
      if (seen.exists()) Iterator.empty
      else {
        val first = rows.minBy(e => (e.tsSec, e.event_id))
        seen.update(true)
        Iterator.single(
          FirstSeenOut(key, first.tsSec / 86400L))
      }
  }

  def reachStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stream(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"))
      .withColumn("tsSec",
        expr("CAST(tsMicros DIV 1000000 AS BIGINT)"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("tsSec"))
      .as[TransEv]
      .groupByKey(_.user_id)
      .transformWithState(
        new FirstSeenProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  // ------------------------------------------------------------------
  // Per-key CUSUM changepoint screen
  // ------------------------------------------------------------------

  case class CusumOut(
      event_type: String, seq: Long, event_id: Long, s_cents: Long,
      alarm: Boolean)

  /** CUSUM drift allowance (cents; ≈ p55 of the fixture's event
    * values, so the statistic drifts down on typical traffic and
    * accumulates only on sustained high-value runs) and alarm
    * threshold. Both engines replay the identical recurrence, so the
    * exact values only shape how often alarms fire, never
    * correctness.
    */
  val CusumK = 5500L
  val CusumH = 30000L

  /** Streaming CUSUM changepoint detector — the upward-shift screen
    * that catches SUSTAINED level changes an EWMA z-score (the
    * anomaly screen) smooths over: per event_type the state is one
    * cumulative-excess integer S with the textbook recurrence
    * S ← max(0, S + (x − K)), alarm + reset when S > H. The
    * recursion is inherently sequential, which is WHY it runs as a
    * stateful stream (O(1) state per key) rather than a window — and
    * the oracle replays the identical recurrence as a recursive CTE
    * over the same bounded event slice. Determinism contract as the
    * EWMA screen: group-sorted by (event time, event_id),
    * single-batch asserted.
    */
  def cusumGroup(
      key: String,
      events: Iterator[AnomEv],
      state: GroupState[(Long, Long)]): Iterator[CusumOut] = {
    val (next, out) =
      CusumStep.advance(key, state.getOption.getOrElse((0L, 0L)),
        events.toSeq)
    state.update(next)
    out.iterator
  }

  /** The CUSUM recurrence's pure micro-batch step, factored out so
    * StreamStatePropsSpec can sweep it under randomized
    * order-preserving batchings without streaming machinery (the
    * same contract as FunnelProcessor.advance /
    * TransitionsProcessor.advance).
    */
  object CusumStep {
    def advance(
        key: String, state0: (Long, Long), rows: Seq[AnomEv])
        : ((Long, Long), Seq[CusumOut]) = {
      var (s, seq) = state0
      val out = rows
        .sortBy(e => (e.tsMicros, e.event_id))
        .map { e =>
          seq += 1
          s = math.max(0L, s + e.cents - CusumK)
          val alarm = s > CusumH
          if (alarm) s = 0L
          CusumOut(key, seq, e.event_id, s, alarm)
        }
      ((s, seq), out)
    }
  }

  def cusumStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stream(spark, dir)
      .filter(col("event_id") < AnomMaxEventId)
      .select(col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"),
        graft.operators.Money.cents(col("value")).as("cents"))
      .as[AnomEv]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(cusumGroup)
      .toDF()
  }

  /** The last event a user's transition chain has consumed — ONE row
    * of ValueState per user, the minimal state a streaming Markov
    * tally needs.
    */
  case class LastEv(tsSec: Long, event_id: Long, tpe: String)

  case class TransEv(
      user_id: Long, event_id: Long, event_type: String, tsSec: Long)

  case class TransOut(user_id: Long, src: String, dst: String)

  /** Streaming twin of the batch `event_transitions` Markov matrix:
    * per user the processor keeps only the LAST event (ValueState)
    * and emits one (src, dst) row per consecutive pair. Within a
    * micro-batch rows sort by the batch contract's
    * (second-truncated ts, event_id) key; across batches the chain
    * continues from the retained last event, so replaying the fixture
    * log reproduces the batch matrix exactly — the registered query
    * pins against the SAME oracle string as `event_transitions`.
    */
  class TransitionsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TransEv, TransOut] {
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var last
        : org.apache.spark.sql.streaming.ValueState[LastEv] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[LastEv](
        "lastEvent",
        org.apache.spark.sql.Encoders.product[LastEv],
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[TransEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TransOut] = {
      val prev: Option[LastEv] =
        if (last.exists()) Some(last.get()) else None
      val (next, pairs) =
        TransitionsProcessor.advance(prev, rows.toSeq)
      next.foreach(last.update)
      pairs.iterator.map { case (src, dst) => TransOut(key, src, dst) }
    }
  }

  object TransitionsProcessor {
    /** The pure batch step — last-event state + a micro-batch's rows
      * → new state + the (src, dst) pairs emitted. Factored out for
      * the randomized property spec (same contract as
      * [[FunnelProcessor.advance]]).
      */
    def advance(
        prev0: Option[LastEv], rows: Seq[TransEv])
        : (Option[LastEv], Seq[(String, String)]) = {
      var prev = prev0
      val out =
        scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      rows.sortBy(e => (e.tsSec, e.event_id)).foreach { e =>
        prev.foreach(p => out += ((p.tpe, e.event_type)))
        prev = Some(LastEv(e.tsSec, e.event_id, e.event_type))
      }
      (prev, out.toSeq)
    }
  }

  /** Funnel stage firsts per user — second-granularity timestamps
    * with −1 = not reached, mirroring the batch funnel's min-ts
    * semantics.
    */
  case class FunnelSt(tv: Long, tc: Long, tp: Long)

  case class FunnelOut(user_id: Long, stage: String)

  /** Streaming funnel state machine: one ValueState row per user
    * holding the three stage-first timestamps. Rows process grouped
    * by SECOND in ascending (tsSec) order, and within one second
    * views apply before clicks before purchases — exactly the batch
    * `event_funnel`'s min-based semantics (tc = min click ts ≥ tv
    * qualifies same-second clicks regardless of event order, so the
    * per-second grouping, not per-event processing, is what makes
    * stream ≡ batch). Each stage emits once per user at the moment
    * it is first reached; the drained emission counts ARE the batch
    * funnel row, pinned by the same oracle.
    */
  class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TransEv, FunnelOut] {
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[FunnelSt] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[FunnelSt](
        "funnelFirsts",
        org.apache.spark.sql.Encoders.product[FunnelSt],
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[TransEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[FunnelOut] = {
      val s0 = if (st.exists()) st.get() else FunnelSt(-1L, -1L, -1L)
      val (s1, stages) = FunnelProcessor.advance(s0, rows.toSeq)
      st.update(s1)
      stages.iterator.map(FunnelOut(key, _))
    }
  }

  object FunnelProcessor {
    /** The pure batch step — state + a micro-batch's rows → new
      * state + the stages first reached. Factored out so the
      * randomized property spec can drive it against a brute
      * min-timestamp replay without streaming machinery; the
      * processor is a thin ValueState wrapper around this.
      */
    def advance(
        s0: FunnelSt, rows: Seq[TransEv]): (FunnelSt, Seq[String]) = {
      var s = s0
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      rows.groupBy(_.tsSec).toSeq.sortBy(_._1)
        .foreach { case (sec, evs) =>
          val types = evs.map(_.event_type).toSet
          if (s.tv < 0 && types.contains("view")) {
            s = s.copy(tv = sec); out += "viewed"
          }
          if (s.tv >= 0 && s.tc < 0 && types.contains("click")) {
            s = s.copy(tc = sec); out += "clicked"
          }
          if (s.tc >= 0 && s.tp < 0 && types.contains("purchase")) {
            s = s.copy(tp = sec); out += "purchased"
          }
        }
      (s, out.toSeq)
    }
  }

  def funnelStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stream(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"))
      .withColumn("tsSec",
        expr("CAST(tsMicros DIV 1000000 AS BIGINT)"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("tsSec"))
      .as[TransEv]
      .groupByKey(_.user_id)
      .transformWithState(
        new FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  def transitionsStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stream(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("tsMicros"))
      .withColumn("tsSec",
        expr("CAST(tsMicros DIV 1000000 AS BIGINT)"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("tsSec"))
      .as[TransEv]
      .groupByKey(_.user_id)
      .transformWithState(
        new TransitionsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }
}
