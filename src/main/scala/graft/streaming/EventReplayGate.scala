package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end gate for the `eventreplay` MicroBatchStream: exactly-once
  * delivery ACROSS A KILL/RESTART BOUNDARY, proven through the oracle.
  *
  * The run stages the events fixture as a TSV log, then executes TWO
  * streaming queries against ONE checkpoint:
  *
  *   - phase 1 sees only half the log (`maxRows` — the deterministic
  *     stand-in for a mid-stream kill), rate-limited to several
  *     micro-batches by admission control, into a checkpointed parquet
  *     sink;
  *   - phase 2 reopens the same checkpoint with the full log visible.
  *     Its start offset comes from the OFFSET LOG, not from
  *     `initialOffset` — asserted here by row arithmetic: phase 2 must
  *     ingest exactly `total − half` rows (resumption), never `total`
  *     (replay-from-zero) or fewer (lost rows).
  *
  * The final sink must contain every event exactly once — the oracle
  * (a straight projection of the events table) catches duplicates and
  * holes by row count and hash.
  */
object EventReplayGate {

  /** Stage `df`'s single `value` string column as one text file and
    * return the staged file's path.
    */
  private def stageLog(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.mode("overwrite").text(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(_.getAbsolutePath)
      .head
  }

  /** One TSV line per event: integer-only fields so the text
    * round-trip is format-exact.
    */
  private def eventLines(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select(
        col("event_id"),
        concat_ws("\t",
          col("event_id"),
          graft.Tables.tsMicros(col("ts")),
          col("user_id"),
          col("event_type"),
          graft.operators.Money.cents(col("value"))).as("value"))

  /** Stage `lines` as one TSV file per log partition (partition =
    * event_id mod `n`) in ONE pass over the source — previously each
    * partition ran its own filter + coalesce(1) write, re-computing
    * the event-formatting scan n times (guide §2.4: one staging pass;
    * the same single-pass rewrite StreamGates.stageSlices got in
    * r18). Row routing is IDENTICAL to the old per-partition filters
    * (`pmod(event_id, n) === p`), so each staged file holds the same
    * set of lines; their order may differ, because `repartition` does
    * not keep it. Only the number of jobs changed. Returns the
    * per-partition file paths (partition i = i-th path).
    */
  private def stageLogParts(
      lines: DataFrame, n: Int, base: String): IndexedSeq[String] = {
    val tmp = s"$base/stage-tmp"
    lines
      .select(col("value"),
        pmod(col("event_id"), lit(n)).cast("int").as("__p"))
      .repartition(col("__p"))
      .write.mode("overwrite").partitionBy("__p").text(tmp)
    val out = (0 until n).map { p =>
      val dstDir = java.nio.file.Paths.get(s"$base/stage/p$p")
      java.nio.file.Files.createDirectories(dstDir)
      val dst = dstDir.resolve("part-00000.txt")
      val pdir = new java.io.File(s"$tmp/__p=$p")
      if (pdir.isDirectory) {
        val parts = pdir.listFiles()
          .filter(_.getName.startsWith("part-"))
        require(parts.length == 1,
          s"log partition $p staged ${parts.length} part files " +
            s"(${parts.map(_.getName).sorted.mkString(", ")}), expected 1")
        java.nio.file.Files.move(parts(0).toPath, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } else {
        // No rows routed to this partition: the old per-partition
        // path staged an empty file; preserve that exactly (the
        // gates' `counts.forall(_ > 4)` require still fails loud).
        java.nio.file.Files.write(dst, Array.emptyByteArray)
      }
      dst.toString
    }
    graft.Fs.deleteRecursively(tmp)
    out
  }

  /** Last committed offset of source 0 in a checkpoint: the offset
    * log's newest batch file is `v1`-header + metadata line + one
    * offset JSON line per source.
    */
  private def lastCommittedOffsetJson(ckpt: String): String = {
    val files = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val latest = files.maxBy(_.getName.toLong)
    val lines = java.nio.file.Files.readAllLines(latest.toPath)
    lines.get(lines.size() - 1)
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.sinkDir("graft_event_replay")
    graft.Fs.deleteRecursively(base)
    val stage = s"$base/stage"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"

    val log = stageLog(eventLines(spark, dir).select("value"), stage)
    val total = spark.read.text(log).count()
    require(total > 10, s"staged replay log has only $total rows")
    val half = total / 2
    val perBatch = math.max(1L, total / 5)

    def runPhase(maxRows: Option[Long]): (Long, Int) = {
      val rd = spark.readStream
        .format(classOf[graft.sources.EventReplayDataSource].getName)
        .option("path", log)
        .option("rowsPerBatch", perBatch.toString)
      maxRows.foreach(m => rd.option("maxRows", m.toString))
      val q = rd.load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val progress = q.recentProgress.toSeq
      (progress.map(_.numInputRows).sum,
        progress.count(_.numInputRows > 0))
    }

    val (rows1, batches1) = runPhase(Some(half))
    require(rows1 == half,
      s"phase 1 ingested $rows1 rows, expected $half — admission " +
        "control or the maxRows horizon is broken")
    require(batches1 >= 2,
      s"phase 1 ran in $batches1 data micro-batch(es); the " +
        s"$perBatch-row admission cap should have split $half rows " +
        "into several — rate limiting is not engaging")
    val (rows2, _) = runPhase(None)
    require(rows2 == total - half,
      s"phase 2 ingested $rows2 rows, expected ${total - half} — " +
        "restart did not resume from the committed offset " +
        "(replay-from-zero would show the full row count, lost " +
        "offsets fewer)")

    StreamingEvents.assertEmitted(
      spark.read.parquet(out), "stream_v2_source")
      .orderBy("event_id")
  }

  /** The PARTITIONED kill/restart gate: the same exactly-once contract
    * over a MULTI-partition log with composite `{partition → position}`
    * offsets — the broker shape. The events fixture is staged as
    * [[NLogParts]] TSV files (partition = event_id mod NLogParts), and
    * two AvailableNow runs share one checkpoint:
    *
    *   - phase 1's per-partition horizon cuts EVERY partition mid-way
    *     (`maxRowsPerPartition` — the deterministic multi-partition
    *     kill), so resuming correctly requires each partition's OWN
    *     committed position, not a single scalar;
    *   - between the phases, the committed composite offset is read
    *     back from the checkpoint's offset log and asserted to hold
    *     the horizon position for every partition — replay-from-zero
    *     on ANY partition, or a scalar offset, fails here;
    *   - phase 2 must ingest exactly the per-partition remainders.
    *
    * The final sink must contain every event exactly once — the
    * oracle (a straight projection of the events table) catches
    * duplicates and holes by row count and hash.
    */
  val NLogParts = 3

  def runPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.sinkDir("graft_event_replay_parts")
    graft.Fs.deleteRecursively(base)
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"

    val lines = eventLines(spark, dir)
    val logs = stageLogParts(lines, NLogParts, base)
    val counts = logs.map(l => spark.read.text(l).count())
    val total = counts.sum
    require(counts.forall(_ > 4),
      s"staged partition logs too small: $counts")
    // Cut every partition strictly mid-way: each has more rows than
    // the horizon, so phase 2 has a non-empty remainder per partition.
    val horizon = counts.min / 2
    val perBatch = math.max(1L, total / 5)

    def runPhase(capped: Boolean): Long = {
      val rd = spark.readStream
        .format(classOf[graft.sources.EventReplayDataSource].getName)
        .option("paths", logs.mkString(","))
        .option("rowsPerBatch", perBatch.toString)
      if (capped) rd.option("maxRowsPerPartition", horizon.toString)
      val q = rd.load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq.map(_.numInputRows).sum
    }

    val rows1 = runPhase(capped = true)
    require(rows1 == NLogParts * horizon,
      s"phase 1 ingested $rows1 rows, expected ${NLogParts * horizon}")
    // The checkpoint must hold the COMPOSITE offset with every
    // partition at its horizon — this is the per-partition resumption
    // evidence; a scalar or partial offset cannot pass.
    val committed = graft.sources.EventReplayOffset
      .parse(lastCommittedOffsetJson(ckpt), NLogParts)
    require(committed.positions == IndexedSeq.fill(NLogParts)(horizon),
      s"committed composite offset ${committed.json()} != " +
        s"horizon $horizon on every partition")
    val rows2 = runPhase(capped = false)
    require(rows2 == total - NLogParts * horizon,
      s"phase 2 ingested $rows2 rows, expected " +
        s"${total - NLogParts * horizon} — some partition did not " +
        "resume from its own committed position")

    StreamingEvents.assertEmitted(
      spark.read.parquet(out), "stream_v2_partitioned")
      .orderBy("event_id")
  }

  /** Broker-provenance METADATA COLUMNS through the streaming V2
    * source: the same 3-partition staged log read back with
    * `_replay_part` / `_replay_pos` selected, reduced per partition.
    * Events route to log p by event_id mod 3, so the oracle derives
    * every aggregate — including Σpos = n(n−1)/2, which pins the
    * positions as a CONTIGUOUS 0-based sequence per partition —
    * from the raw events table; a misrouted row, an offset gap, or a
    * renumbered partition all break the hash.
    */
  def runMetadata(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.sinkDir("graft_event_replay_meta")
    graft.Fs.deleteRecursively(base)
    val lines = eventLines(spark, dir)
    val logs = stageLogParts(lines, NLogParts, base)
    val sink = "erp_meta_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // Admission scaled to the INPUT, not a constant: a fixed 5000-row
    // cap replays 10x data in 10x micro-batches (the sf1.0 probe's one
    // super-linear outlier — batch-machinery overhead, not plan cost).
    // Sizing the cap to ~a dozen batches keeps the batch count flat at
    // any scale, exactly like a bytes-per-trigger knob on a real
    // broker source; the floor keeps the sf0.1 gate multi-batch.
    // The row total comes from the staged files (one cheap text
    // count) instead of a second pass over the events scan; staging
    // routes every line, so the sum is the same count.
    val perBatch = math.max(5000L,
      spark.read.text(logs: _*).count() / 12)
    val q = spark.readStream
      .format(classOf[graft.sources.EventReplayDataSource].getName)
      .option("paths", logs.mkString(","))
      .option("rowsPerBatch", perBatch.toString)
      .load()
      .select(col("event_id"), col("_replay_part"), col("_replay_pos"))
      .writeStream
      .format("memory")
      .queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    MemorySinks.drain(spark, sink)
      .groupBy(col("_replay_part").cast("long").as("part"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("event_id")).as("sum_ids"),
        min(col("_replay_pos")).as("min_pos"),
        max(col("_replay_pos")).as("max_pos"),
        sum(col("_replay_pos")).as("sum_pos"))
      .orderBy("part")
  }
}
