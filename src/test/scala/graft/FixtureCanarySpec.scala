package graft

import org.apache.spark.sql.functions._

/** The fixture-schema canary must turn a silent physical-type drift
  * (the round-8 failure mode: driver regenerated events.ts with a new
  * encoding and 13 queries went red before anything complained) into
  * ONE precise error at first load.
  */
class FixtureCanarySpec extends SparkTestBase {

  test("accepted encodings load clean") {
    // Current fixtures (whatever flavor the driver last wrote) must
    // pass the canary and present ts as a usable timestamp.
    val ev = Tables.events(spark, sfDir)
    assert(ev.count() > 0)
    assert(
      ev.schema("ts").dataType.typeName.startsWith("timestamp"),
      s"ts arrived as ${ev.schema("ts").dataType}")
  }

  test("a drifted column type fails loudly, naming column and types") {
    val dir = SparkTestBase.tempDir("graft_canary").toString
    try {
      // Same columns, but ts re-encoded as double — a drift the
      // loaders do NOT tolerate.
      Tables.events(spark, sfDir)
        .withColumn("ts", Tables.tsMicros(col("ts")).cast("double"))
        .limit(10)
        .write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
      val e = intercept[IllegalArgumentException] {
        Tables.events(spark, dir)
      }
      assert(e.getMessage.contains("events.ts"), e.getMessage)
      assert(e.getMessage.contains("'double'"), e.getMessage)
      assert(e.getMessage.contains("timestamp"), e.getMessage)
    } finally {
      Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("a renamed/missing column fails loudly with both layouts") {
    val dir = SparkTestBase.tempDir("graft_canary2").toString
    try {
      Tables.events(spark, sfDir)
        .withColumnRenamed("user_id", "uid")
        .limit(10)
        .write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
      val e = intercept[IllegalArgumentException] {
        Tables.events(spark, dir)
      }
      assert(e.getMessage.contains("uid"), e.getMessage)
      assert(e.getMessage.contains("user_id"), e.getMessage)
    } finally {
      Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }
}
