package graft

import org.apache.spark.sql.functions._

/** Edge semantics of the union+window as-of join, pinned on synthetic
  * groups where the interesting cases are constructed exactly:
  * same-instant ties (a view AT the click's timestamp matches),
  * no-prior-view clicks (null match), and multiple candidate views
  * (the latest wins, not the first).
  */
class AsofJoinSpec extends SparkTestBase {

  test("as-of matches latest-at-or-before, ties inclusive, null when none") {
    import spark.implicits._
    // (event_id, user_id, event_type, ts_micros)
    val evs = Seq(
      // user 1: views at t=100, t=200; clicks at t=150, t=200, t=50
      (1L, 1L, "view", 100L),
      (2L, 1L, "view", 200L),
      (3L, 1L, "click", 150L), // → view 1 (latest ≤ 150)
      (4L, 1L, "click", 200L), // → view 2 (same instant counts)
      (5L, 1L, "click", 50L), // → none (no earlier view)
      // user 2: clicks only
      (6L, 2L, "click", 100L) // → none (user has no views)
    ).toDF("event_id", "user_id", "event_type", "tus")
      .withColumn("ts", timestamp_micros(col("tus")))
      .drop("tus")

    // Same plan as the registered query, driven by a synthetic frame:
    // write to a temp dir in the events layout and reuse the query.
    val dir = SparkTestBase.tempDir("asof_spec").toString
    evs
      .withColumn("value", lit(0.0))
      .withColumn("props", lit("{}"))
      .write
      .mode("overwrite")
      .parquet(s"$dir/events.parquet")

    val out = SparkEntry
      .queries("join_asof")(spark, dir)
      .collect()
      .map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq

    assert(out == Seq(
      (1L, 3L, 1L),
      (1L, 4L, 2L),
      (1L, 5L, -1L),
      (2L, 6L, -1L)))
  }
}
