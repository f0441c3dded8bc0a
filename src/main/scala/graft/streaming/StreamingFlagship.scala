package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Canonical
import graft.sources.{Page, PageParsers}

/** Streaming generalization of the flagship pipeline (SURVEY.md §7.5's
  * stretch goal): page SNAPSHOTS land as files in a watched directory,
  * a file-source stream (`wholetext`, one row per snapshot, one file
  * per micro-batch) runs the SAME parse → canonicalize path as the
  * batch flagship, and ONE stateful complete-mode aggregation
  * accumulates per-title row counts and rank sums across micro-batches.
  *
  * The coverage filter + top-10 sort run OUTSIDE the stream over the
  * aggregated state: Structured Streaming forbids chained stateful
  * aggregations, and the post-aggregation state is O(titles) — the
  * bounded report side, not the data side. At scale the watched
  * directory is the landing zone for crawler snapshot drops; each
  * snapshot parses once, incrementally, instead of re-scanning the
  * corpus per report.
  */
object StreamingFlagship {

  /** Write the fixture pages as one snapshot file per source host —
    * the file names carry source identity, as crawler drops do.
    */
  def writeSnapshots(dir: String): Unit = {
    val d = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    PageParsers.fixturePages().foreach { p =>
      java.nio.file.Files.write(
        d.resolve(java.net.URI.create(p.url).getHost + ".html"),
        p.html.getBytes("UTF-8"))
    }
  }

  /** host file name → original URL, evaluated as a literal map column
    * (3 entries — never a join).
    */
  private def urlForFile = {
    val entries = PageParsers.fixturePages().flatMap { p =>
      val host = java.net.URI.create(p.url).getHost
      Seq(lit(host + ".html"), lit(p.url))
    }
    element_at(
      map(entries: _*),
      regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1))
  }

  /** The streaming plan: snapshots → parse (same PageParsers flatMap
    * as batch) → canonicalize → ONE grouped aggregation.
    */
  def aggregatedStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.readStream
      .option("wholetext", "true")
      // One file per micro-batch: proves the aggregation state
      // genuinely accumulates ACROSS batches rather than seeing all
      // snapshots at once.
      .option("maxFilesPerTrigger", "1")
      .text(dir)
      .select(urlForFile.as("url"), col("value").as("html"))
      .as[Page]
      .flatMap(PageParsers.parse _)
      .select(
        Canonical.safeRank(col("rank")).as("rank_int"),
        Canonical.canonicalizeTitle(col("title")).as("title_comp"))
      .groupBy("title_comp")
      .agg(
        count(lit(1)).as("n_sources"),
        sum(col("rank_int")).as("rank_sum"))
  }

  /** Run the snapshot stream to completion and derive the flagship
    * report from the final aggregated state: coverage wart (row count
    * == 3), ascending rank-sum top-10, deterministic tiebreak —
    * byte-identical to the batch `flagship`.
    */
  def flagshipReport(spark: SparkSession, snapshotDir: String,
                     sinkPrefix: String): DataFrame = {
    writeSnapshots(snapshotDir)
    // The state is O(titles), report-sized.
    StreamGates.memory(aggregatedStream(spark, snapshotDir), sinkPrefix,
      "complete")._1
      .filter(col("n_sources") === 3)
      .select(
        col("title_comp"),
        col("rank_sum"),
        // Same IEEE division Spark's avg() performs over the long sum.
        (col("rank_sum").cast("double") /
          col("n_sources").cast("double")).as("rank_avg"))
      .orderBy(col("rank_sum").asc, col("title_comp").asc)
      .limit(10)
  }
}
