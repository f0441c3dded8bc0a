package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}

/** State-partition right-sizing for the registered streaming gates.
  *
  * A streaming query's stateful operators open one state store PER
  * SHUFFLE PARTITION per operator (a stream-stream join opens four),
  * and every micro-batch pays a fixed load/commit cost per store that
  * is completely independent of the rows in it (provider setup, delta
  * write, coordinator reporting): about 10 ms of trigger time per
  * store per batch, measured on a 4-core host as the difference
  * between a `dedupStream` at 32 and at 4 partitions over sf0.01 (two
  * batches, one store per partition). It was 35-55 ms while each
  * delta file's create and rename started `chmod` and `readlink`
  * processes (see `graft.NioLocalFs`). The local gates hold kilobytes of
  * state, so running them at the session's cluster-shaped partition
  * count (32) buys no parallelism and multiplies that fixed cost:
  * `stream_asof` at 32 partitions spends ~9.5 s, at 4 partitions
  * ~2.7 s, with byte-identical output (profiled in round 11; the
  * cost scales linearly with partition count in both directions).
  *
  * State partitions should track STATE VOLUME, not cluster width —
  * the same rule a 1000-executor deployment applies in the opposite
  * direction (raise `spark.sql.shuffle.partitions` until per-store
  * state fits executor memory; Kafka deployments routinely run
  * hundreds of state partitions because their state is GBs). This
  * helper pins the gate's partition count while the stream runs and
  * restores the session's setting after, so batch queries in the
  * same session keep their cluster-shaped plans.
  */
object StreamGates {

  /** Per-store state at the local fixture scale is KBs; 4 partitions
    * keeps multi-store queries under a dozen store commits per batch
    * while still exercising real cross-partition shuffles.
    */
  val LocalStateParts = 4

  def withStateParts[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, LocalStateParts.toString)
    try body
    finally s.conf.set(key, prev)
  }

  /** Stage `df` as `n` single-file parquet slices of `keyCol`'s
    * (long) range under `Fs.sinkDir(sinkName)/stage`, mtime-ordered
    * so a file stream with maxFilesPerTrigger=1 replays them as `n`
    * sequential micro-batches — the shared replay harness of the
    * stateful gates (each slice is one "day" of arrivals).
    */
  private[graft] def stageSlices(
      spark: SparkSession, df: DataFrame, keyCol: String,
      sinkName: String, n: Int): String = {
    val maxKey = df.agg(max(keyCol)).head().getLong(0) + 1
    val stageDir = s"${graft.Fs.sinkDir(sinkName)}/stage"
    graft.Fs.deleteRecursively(stageDir)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stageDir))
    val t0 = System.currentTimeMillis()
    // ONE staging pass (previously n filter+coalesce(1) jobs, each
    // re-scanning and re-computing the source frame): the slice id
    // is derived per row from the SAME integer boundaries the
    // filters used, the frame is repartitioned BY slice so each
    // dynamic-partition dir receives exactly one file (a slice's
    // rows live in exactly one task), and the files then move into
    // the flat mtime-ordered layout the replay contract expects.
    val boundaries = (1 until n).map(i => i * maxKey / n)
    val sliceCol = boundaries.zipWithIndex.foldLeft(
      org.apache.spark.sql.functions.lit(0)) { case (acc, (b, i)) =>
      org.apache.spark.sql.functions
        .when(col(keyCol) >= b, i + 1).otherwise(acc)
    }
    val tmp = s"$stageDir-tmp"
    df.filter(col(keyCol) >= 0L)
      .withColumn("__slice", sliceCol)
      .repartition(col("__slice"))
      .write.mode("overwrite").partitionBy("__slice").parquet(tmp)
    (0 until n).foreach { i =>
      val pdir = new java.io.File(s"$tmp/__slice=$i")
      val dst =
        java.nio.file.Paths.get(stageDir, f"slice_$i%03d.parquet")
      if (pdir.isDirectory) {
        java.nio.file.Files.move(
          graft.Fs.onlyPart(pdir.getPath, ".parquet"), dst)
      } else {
        // Empty slice (no keys in its range): the dynamic writer
        // skips the dir, but the replay contract needs one file per
        // micro-batch — write the empty frame the old per-slice
        // path produced.
        val tmpE = s"$stageDir-tmp-empty-$i"
        df.filter(org.apache.spark.sql.functions.lit(false))
          .coalesce(1).write.mode("overwrite").parquet(tmpE)
        java.nio.file.Files.move(graft.Fs.onlyPart(tmpE, ".parquet"), dst)
        graft.Fs.deleteRecursively(tmpE)
      }
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
    }
    graft.Fs.deleteRecursively(tmp)
    stageDir
  }
}
