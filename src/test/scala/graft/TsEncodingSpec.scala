package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Every physical ts encoding the fixtures have ever shipped must
  * load to the IDENTICAL event timeline — the round-8 regression
  * class (driver regenerated events.parquet ns-int64 → timestamp[us]
  * and the raw-schema streaming path silently compressed 30 days into
  * 43 minutes). The same synthetic events are written three ways:
  *
  *   - ns-int64 (read as a raw long under nanosAsLong),
  *   - native timestamp[us] without UTC-adjust (TIMESTAMP_NTZ),
  *   - UTC-adjusted timestamp[us] (TimestampType/LTZ),
  *
  * then loaded through BOTH loaders (`Tables.events`,
  * `StreamingEvents.batch`) and pinned to the source micros via
  * `Tables.tsMicros`. A fourth encoding appearing in a future fixture
  * fails the canary loudly rather than passing wrongly here.
  */
class TsEncodingSpec extends SparkTestBase {

  // Deterministic micros spread over ~30 days of Jan 2024, with
  // sub-second parts so truncation bugs can't hide.
  private val micros: Seq[Long] = (0 until 500).map { i =>
    1704067200000000L + i.toLong * 5100000003L % 2592000000000L
  }

  private def base: DataFrame = {
    import spark.implicits._
    micros.zipWithIndex
      .map { case (us, i) =>
        (i.toLong, us, (i % 7).toLong, if (i % 2 == 0) "click" else "view",
          i * 1.5, "{}")
      }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
  }

  /** Stage as a single FILE named events.parquet (the fixture layout —
    * the streaming loader's pathGlobFilter matches leaf file names).
    */
  private def write(dir: String, ts: org.apache.spark.sql.Column): Unit = {
    val tmp = s"$dir/_stage"
    base
      .select(col("event_id"), ts.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(
      part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  private def timeline(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("event_id"), Tables.tsMicros(col("ts")).as("us"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)

  test("ns-long, NTZ and LTZ encodings load to one identical timeline") {
    val want = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    val encodings = Seq(
      // nanosAsLong=true in the shared session reads this back as a
      // raw ns long — the pre-2026-08-13 fixture flavor.
      "ns_long" -> (col("us") * 1000L),
      "ntz_us" -> timestamp_micros(col("us")).cast(TimestampNTZType),
      "ltz_us" -> timestamp_micros(col("us")).cast(TimestampType))
    encodings.foreach { case (label, tsCol) =>
      val dir = SparkTestBase.tempDir(s"graft_tsenc_$label").toString
      try {
        write(dir, tsCol)
        val viaTables = timeline(Tables.events(spark, dir))
        val viaStreaming =
          timeline(graft.streaming.StreamingEvents.batch(spark, dir))
        assert(viaTables == want, s"Tables.events mangled $label")
        assert(viaStreaming == want, s"StreamingEvents.batch mangled $label")
      } finally {
        Fs.deleteRecursively(java.nio.file.Paths.get(dir))
      }
    }
  }
}
