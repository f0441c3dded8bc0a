package graft

import org.apache.spark.sql.functions._

/** The variant-shredding gate's two claims:
  *
  *   - logical: shred → read → extract loses nothing (the registered
  *     query's aggregates equal the same aggregates computed straight
  *     from the JSON source);
  *   - physical: with writeShredding + inferShreddingSchema on (they
  *     default on in Spark 4.1, but the query pins them so a
  *     deployment override can't silently unshred), the parquet
  *     footer actually carries the `typed_value` subcolumn (the
  *     thing that makes '$.k' a stats-pruned plain column at
  *     100 TB), and a control write with writeShredding explicitly
  *     OFF doesn't — so the differential proves the footer check
  *     detects shredding rather than matching vacuously.
  */
class VariantShreddedSpec extends SparkTestBase {

  private def footerSchema(dir: String): String = {
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getPath),
        new org.apache.hadoop.conf.Configuration()))
    try rdr.getFooter.getFileMetaData.getSchema.toString
    finally rdr.close()
  }

  test("shredded roundtrip aggregates equal the JSON-source truth") {
    val rows =
      SparkEntry.queries("variant_shredded_roundtrip")(spark, sfDir)
        .collect()
    val direct = Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.toSeq == direct.toSeq)
  }

  test("typed_value present iff shredding confs are on") {
    // The registered query just wrote the shredded copy in the
    // session's scratch.
    SparkEntry.queries("variant_shredded_roundtrip")(spark, sfDir)
      .collect()
    val shredded =
      footerSchema(Fs.sessionDir(spark).resolve("variant_shred").toString)
    assert(shredded.contains("typed_value"),
      s"shredded write carries no typed_value column:\n$shredded")

    val controlDir = Fs.scratch(spark, "variant_unshred")
    val key = "spark.sql.variant.writeShredding.enabled"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      Tables.events(spark, sfDir)
        .limit(100)
        .select(col("event_id"), expr("parse_json(props)").as("v"))
        .coalesce(1)
        .write.mode("overwrite").parquet(controlDir)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val control = footerSchema(controlDir)
    assert(!control.contains("typed_value"),
      "control write shredded with writeShredding explicitly off — " +
        "the gate's differential is meaningless")
    Fs.deleteRecursively(controlDir)
  }
}
