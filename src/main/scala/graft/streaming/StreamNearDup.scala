package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.functions.TextFunctions._

/** STREAMING MinHash near-dup screening on `transformWithState` — the
  * stateful-streaming twin of the batch `incremental_neardup`
  * operator, closing the loop between the streaming and dedup
  * families: the corpus's band buckets live as BOUNDED per-key state,
  * and each arriving query document is screened against exactly the
  * bucket members its own band keys hash to — never against the
  * corpus at large.
  *
  * Shape:
  *   - per-row signature: the 8 MinHash slots computed EXPRESSION-ONLY
  *     (`array_min(transform(distinct tokens, minhash slot))`) — no
  *     shuffle before the stateful operator, and bit-identical to the
  *     batch `groupBy(doc_id).agg(min(slot))` form because min over
  *     the same distinct-token set is order-free integer arithmetic;
  *   - band keying: 4 bands × 2 slots, exploded to (band, key) rows —
  *     the SAME key formula as the batch band join;
  *   - state per (band, key): a ListState of corpus members capped at
  *     [[graft.operators.TextQueries.BucketCap]] plus a ValueState
  *     arrival counter. Corpus docs (doc_id < [[CorpusSplit]]) insert
  *     (stop inserting past the cap, keep counting); query docs
  *     (doc_id ≥ split) probe and emit (a, b, n_match ≥ 4) pairs,
  *     adding NO state. An over-cap bucket is poisoned — probed by
  *     nobody — which is the streaming form of the batch skew guard:
  *     state stays O(cap) per key at any corpus size.
  *
  * CONTRACT DIFFERENCE vs the batch twin, by design: the batch
  * operator sizes buckets over corpus AND batch docs together
  * (`count BETWEEN 2 AND cap`); a stream cannot know how many future
  * queries will hash into a bucket, so the cap here is over CORPUS
  * members only (`BETWEEN 1 AND cap` — a probe needs ≥1 stored doc).
  * That is the deployable index-side contract — queries never
  * retroactively poison a bucket — and the DuckDB oracle pins exactly
  * these semantics; `StreamNearDupSpec` additionally pins the whole
  * pipeline against an independent batch implementation of the same
  * contract.
  *
  * At 100 TB/day: the ingest is a replayed file stream here (no
  * broker in the environment), but the operator state is the real
  * thing — RocksDB-backed, O(BucketCap) per band key, with query docs
  * adding zero state; corpus growth is admitted exactly until a
  * bucket overflows, after which the bucket is skipped (the measured
  * hot-bucket guard from the batch family).
  */
object StreamNearDup {

  /** Same corpus/new split as the batch `incremental_neardup`. */
  val CorpusSplit = 250L

  /** One (band, key) row of a document, with its full signature
    * riding along so the processor can score matches without a
    * second lookup.
    */
  case class BandRow(
      band: Int, key: String, doc_id: Long,
      isQuery: Boolean, sig: Seq[Long])

  /** A stored corpus member of one band bucket. */
  case class Member(doc_id: Long, sig: Seq[Long])

  /** One emitted candidate: query doc `a` matches corpus doc `b` on
    * `n_match` of 8 signature slots.
    */
  case class PairOut(a: Long, b: Long, n_match: Int)

  /** Per-(band, key) bucket state: bounded member list + corpus
    * arrival counter (counts past the cap so overflow is detectable
    * after insertion stops).
    */
  class BandBucketProcessor(cap: Int)
      extends StatefulProcessor[(Int, String), BandRow, PairOut] {

    @transient private var members: ListState[Member] = _
    @transient private var corpusCount: ValueState[Long] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit = {
      members = getHandle.getListState[Member](
        "members", Encoders.product[Member], TTLConfig.NONE)
      corpusCount = getHandle.getValueState[Long](
        "corpusCount", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: (Int, String),
        rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[PairOut] = {
      // Corpus rows first: if a batch ever carried both kinds, the
      // corpus docs (smaller doc_ids) logically precede the queries.
      val (queries, corpus) = rows.toSeq.partition(_.isQuery)
      corpus.foreach { r =>
        val c =
          (if (corpusCount.exists()) corpusCount.get() else 0L) + 1L
        corpusCount.update(c)
        if (c <= cap) members.appendValue(Member(r.doc_id, r.sig))
      }
      val c = if (corpusCount.exists()) corpusCount.get() else 0L
      if (queries.isEmpty || c < 1L || c > cap) Iterator.empty
      else {
        val stored = members.get().toVector
        queries.iterator.flatMap { q =>
          stored.iterator
            .map { m =>
              val n = (0 until 8).count(i => m.sig(i) == q.sig(i))
              PairOut(q.doc_id, m.doc_id, n)
            }
            .filter(_.n_match >= 4)
        }
      }
    }
  }

  /** The 8-slot signature as one array column, expression-only. */
  private def sigCol = array((0 until 8).map(i =>
    array_min(transform(
      array_distinct(tokens(col("text"))),
      t => minhashSlot(hash60(t), i)))): _*)

  /** (band, key, doc_id, isQuery, sig) rows of a document frame —
    * shared by the stream and the batch differential twin so the
    * banding formula cannot drift between them.
    */
  private def bandRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), sigCol.as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("band"),
            concat_ws("_",
              element_at(col("sig"), 2 * j + 1),
              element_at(col("sig"), 2 * j + 2)).as("key"))): _*))
          .as("bk"))
      .select(
        col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"),
        (col("doc_id") >= CorpusSplit).as("isQuery"), col("sig"))

  /** Best corpus match per query doc from the emitted pairs (max
    * n_match, smallest corpus doc on ties) — the same presentation
    * tail as the batch operator. Pairs may arrive duplicated across
    * bands; the max-struct fold absorbs them.
    */
  private[graft] def bestMatch(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("a"))
      .agg(max(struct(col("n_match"), (-col("b")).as("neg")))
        .as("best"))
      .select(
        col("a").as("doc_id"),
        (-col("best.neg")).as("dup_of"),
        col("best.n_match").as("n_match"))
      .orderBy("doc_id")

  /** The replayed documents: (doc_id, text). */
  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  /** The two corpus document slices and the two query slices, each
    * (file name, filter) — staged corpus-before-queries so state is
    * fully built before the first probe.
    */
  private[graft] def corpusSlices = Seq(
    ("docs_000", col("doc_id") < CorpusSplit / 2),
    ("docs_001", col("doc_id") >= CorpusSplit / 2 &&
      col("doc_id") < CorpusSplit))

  private[graft] def querySlices = Seq(
    ("docs_002", col("doc_id") >= CorpusSplit &&
      col("doc_id") < CorpusSplit * 3 / 2),
    ("docs_003", col("doc_id") >= CorpusSplit * 3 / 2))

  /** The streaming pipeline over a staged directory: file stream →
    * expression-only signatures → band rows → the stateful bucket
    * processor. Shared by the single-run gate and the restart spec.
    */
  private[graft] def pipeline(
      spark: SparkSession, staged: StreamGates.Staged,
      cap: Int): DataFrame = {
    import spark.implicits._
    val stream = spark.readStream
      .schema(staged.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.dir)
      // spread (r18): each micro-batch is ONE staged file = one input
      // partition, so the 8-slot signature HOFs below otherwise run
      // single-threaded per batch (~20 CPU-s across the replay).
      // Streams run without AQE and this subtree has one consumer, so
      // the stage-dedup caveat in Tables.spread does not apply.
      .repartition(spark.sparkContext.defaultParallelism)
    bandRows(stream)
      .as[BandRow]
      .groupByKey(r => (r.band, r.key))
      .transformWithState(
        new BandBucketProcessor(cap),
        TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Run the streaming near-dup to completion (four rate-limited
    * micro-batches, memory sink) and return the best-match report.
    */
  def run(spark: SparkSession, dir: String, cap: Int): DataFrame = {
    val staged = StreamGates.stage(docs(spark, dir),
      graft.Fs.scratch(spark, "stream_neardup"),
      corpusSlices ++ querySlices)
    val (pairs, progress) =
      StreamGates.memory(pipeline(spark, staged, cap), "stream_neardup")
    val dataBatches = StreamGates.dataBatches(progress)
    require(dataBatches >= 4,
      s"streaming near-dup ran in $dataBatches data micro-batches; " +
        "the 4-file staged replay should give one batch per file — " +
        "rate limiting or the staged ordering is broken")
    StreamingEvents.assertEmitted(bestMatch(pairs), "stream_neardup")
  }

  /** Per-(band, key) corpus member counts — the stream's bucket
    * viability input, exposed for the `stream_neardup_report`
    * cap-observability query.
    */
  def corpusBandCounts(spark: SparkSession, dir: String): DataFrame =
    bandRows(docs(spark, dir))
      .filter(!col("isQuery"))
      .groupBy("band", "key")
      .agg(count(lit(1)).as("n"))

  /** Independent BATCH implementation of the same corpus-capped
    * contract (plain joins, no streaming state) — the differential
    * twin `StreamNearDupSpec` pins the stateful pipeline against.
    */
  def batchTwin(spark: SparkSession, dir: String, cap: Int): DataFrame = {
    val bands = bandRows(docs(spark, dir))
    val okb = bands
      .filter(!col("isQuery"))
      .groupBy("band", "key")
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(1, cap))
      .select("band", "key")
    val qs = bands.filter(col("isQuery"))
      .join(okb, Seq("band", "key"), "left_semi")
      .select(col("band"), col("key"),
        col("doc_id").as("a"), col("sig").as("qsig"))
    val cs = bands.filter(!col("isQuery"))
      .select(col("band"), col("key"),
        col("doc_id").as("b"), col("sig").as("csig"))
    val matches = (0 until 8)
      .map(i => when(
        element_at(col("qsig"), i + 1) ===
          element_at(col("csig"), i + 1), 1).otherwise(0))
      .reduce(_ + _)
    bestMatch(
      qs.join(cs, Seq("band", "key"))
        .select(col("a"), col("b"), matches.cast("int").as("n_match"))
        .filter(col("n_match") >= 4)
        .distinct())
  }
}
