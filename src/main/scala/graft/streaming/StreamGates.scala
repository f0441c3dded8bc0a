package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions.{col, lit, max, when}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** The one runner of the registered streaming gates, and their shared
  * replay stager.
  *
  * A gate runs a stream to completion (`Trigger.AvailableNow`: process
  * everything available now, then stop) and asserts a contract about
  * what came out. [[run]] is the only place that starts such a query:
  *
  *   - it waits at most [[RunTimeoutMs]] and always calls `stop()`; a
  *     query still running at the bound fails the gate, naming it;
  *   - a query that fails rethrows its error from the wait;
  *   - it returns the query's `recentProgress`, which the gates count
  *     batches and rows from ([[dataBatches]]);
  *   - conf is scoped to the run (`graft.Confs.scoped`): state
  *     partitions at [[LocalStateParts]], and the RocksDB state-store
  *     provider iff the plan holds a `transformWithState` operator,
  *     which requires it.
  *
  * [[memory]] is the memory-sink form: a unique sink name, drained
  * into a local relation whose view is dropped, also on failure.
  *
  * State partitions track STATE VOLUME, not cluster width. A stateful
  * operator opens one state store per shuffle partition (a
  * stream-stream join opens four), and every micro-batch pays a fixed
  * load/commit cost per store that is independent of the rows in it:
  * about 10 ms of trigger time per store per batch, measured on a
  * 4-core host as the difference between a `dedupStream` at 32 and at
  * 4 partitions over sf0.01 (two batches, one store per partition).
  * The local gates hold kilobytes of state, so the session's
  * cluster-shaped count (32) buys no parallelism and multiplies that
  * fixed cost: `stream_asof` at 32 partitions spent ~9.5 s, at 4
  * ~2.7 s, with byte-identical output. A deployment holding GBs of
  * state raises the count instead; the rule is the same.
  */
object StreamGates {

  /** Per-store state at the local fixture scale is KBs; 4 partitions
    * keeps multi-store queries under a dozen store commits per batch
    * while still exercising real cross-partition shuffles.
    */
  val LocalStateParts = 4

  /** Bound on one run, start to termination. */
  val RunTimeoutMs = 120000L

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `ds` to completion: `start` gets its writer (output mode and
    * trigger set) and adds the sink — `format(...).start()`,
    * `toTable(...)` or `foreachBatch(...).start()`. Returns the
    * query's progress.
    */
  def run[T](ds: Dataset[T], mode: String = "append")(
      start: DataStreamWriter[T] => StreamingQuery)
      : Seq[StreamingQueryProgress] = {
    val tws = ds.queryExecution.analyzed.exists(
      _.isInstanceOf[TransformWithState])
    val confs =
      Seq("spark.sql.shuffle.partitions" -> LocalStateParts.toString) ++
        (if (tws)
          Seq("spark.sql.streaming.stateStore.providerClass" ->
            RocksDbProvider)
        else Nil)
    graft.Confs.scoped(ds.sparkSession, confs: _*) {
      val q = start(
        ds.writeStream.outputMode(mode).trigger(Trigger.AvailableNow()))
      try {
        if (!q.awaitTermination(RunTimeoutMs))
          throw new java.util.concurrent.TimeoutException(
            s"stream ${Option(q.name).getOrElse(q.id.toString)} did " +
              s"not finish within ${RunTimeoutMs / 1000} s")
        q.recentProgress.toSeq
      } finally q.stop()
    }
  }

  /** [[run]] into a uniquely named memory sink (`prefix_<uuid>`);
    * returns the drained rows and the progress.
    */
  def memory[T](ds: Dataset[T], prefix: String, mode: String = "append")
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    val spark = ds.sparkSession
    val sink = prefix + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      val progress =
        run(ds, mode)(_.format("memory").queryName(sink).start())
      (MemorySinks.drain(spark, sink), progress)
    } finally spark.catalog.dropTempView(sink)
  }

  /** Micro-batches of a run that read at least one row. */
  def dataBatches(progress: Seq[StreamingQueryProgress]): Int =
    progress.count(_.numInputRows > 0)

  /** A staged replay: its directory and the schema of the frame
    * written there (a file stream reads it back forced nullable, as a
    * footer read would give it).
    */
  case class Staged(dir: String, schema: StructType)

  /** `n` slices of `keyCol`'s (long, non-negative) range, equal in
    * width, named `slice_000`… — one "day" of arrivals each.
    */
  private[graft] def keyRanges(
      df: DataFrame, keyCol: String, n: Int): Seq[(String, Column)] = {
    val maxKey = df.agg(max(keyCol)).head().getLong(0) + 1
    val bounds = (0 to n).map(i => i * maxKey / n)
    (0 until n).map(i => (f"slice_$i%03d",
      col(keyCol) >= bounds(i) && col(keyCol) < bounds(i + 1)))
  }

  /** Stage `df` as one parquet file per slice (`name.parquet`, rows
    * matching its condition; a row goes to the first slice it matches
    * and rows matching none are dropped), mtime-ordered from `t0` so
    * a file stream with maxFilesPerTrigger=1 replays them as one
    * micro-batch each, and files staged later sort after every
    * earlier file.
    *
    * One pass: repartitioning BY slice puts each slice's rows in one
    * task, so each dynamic-partition dir receives exactly one file,
    * which then moves into the flat layout. An empty slice still gets
    * an (empty) file: the replay needs one file per micro-batch.
    */
  private[graft] def stage(
      df: DataFrame, stageDir: String, slices: Seq[(String, Column)],
      t0: Long = System.currentTimeMillis()): Staged = {
    Files.createDirectories(Paths.get(stageDir))
    val sliceCol = slices.zipWithIndex.reverse
      .foldLeft(lit(null).cast("int")) { case (acc, ((_, cond), i)) =>
        when(cond, lit(i)).otherwise(acc)
      }
    val tmp = s"$stageDir-tmp"
    df.withColumn("__slice", sliceCol)
      .filter(col("__slice").isNotNull)
      .repartition(col("__slice"))
      .write.mode("overwrite").partitionBy("__slice").parquet(tmp)
    slices.zipWithIndex.foreach { case ((name, _), i) =>
      val dst = Paths.get(stageDir, s"$name.parquet")
      val pdir = new java.io.File(s"$tmp/__slice=$i")
      if (pdir.isDirectory) {
        Files.move(graft.Fs.onlyPart(pdir.getPath, ".parquet"), dst)
      } else {
        val tmpE = s"$stageDir-tmp-empty-$name"
        df.filter(lit(false)).coalesce(1)
          .write.mode("overwrite").parquet(tmpE)
        Files.move(graft.Fs.onlyPart(tmpE, ".parquet"), dst)
        graft.Fs.deleteRecursively(tmpE)
      }
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
    }
    graft.Fs.deleteRecursively(tmp)
    Staged(stageDir, df.schema)
  }
}
