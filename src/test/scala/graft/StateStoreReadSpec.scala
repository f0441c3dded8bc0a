package graft

import org.apache.spark.sql.functions._

/** The state-store-reader gate's claims:
  *
  *   - fidelity: the rows the `statestore` data source reads out of
  *     the finished checkpoint equal the one-pass batch aggregation
  *     of the same events (the registered query's oracle contract);
  *   - shape: the checkpoint's `state-metadata` names exactly one
  *     stateful operator (the streaming agg's save) whose partition
  *     count is the gate's pinned state sizing — so the reader's
  *     parallelism (one scan partition per state partition) is the
  *     documented one, not an accident of defaults.
  */
class StateStoreReadSpec extends SparkTestBase {

  test("checkpoint state equals the batch aggregation truth") {
    val rows = SparkEntry.queries("state_store_read")(spark, sfDir)
      .collect()
    val direct = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(graft.operators.Money.cents(col("value")))
          .as("sum_cents"))
      .orderBy("event_type")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.toSeq == direct.toSeq)
  }

  test("change feed folds to the final state with one update per " +
      "touched batch") {
    val feed = SparkEntry.queries("state_store_changefeed")(
      spark, sfDir).collect()
    val finalState = SparkEntry.queries("state_store_read")(
      spark, sfDir).collect()
    assert(feed.map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      .toSeq ==
      finalState.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    // Each key's update count is bounded by the replay length and
    // must be positive — and at this fixture scale every type lands
    // in all three slices, so the sharp value is 3.
    assert(feed.forall(r => r.getLong(1) == 3L), feed.mkString("; "))
  }

  test("state-metadata names one agg operator at the pinned width") {
    // The previous test just finished the run; its checkpoint is the
    // session's memoized one.
    SparkEntry.queries("state_store_read")(spark, sfDir).collect()
    val meta = spark.read.format("state-metadata")
      .load(graft.streaming.StateStoreRead.ensureCheckpoint(spark, sfDir))
      .select("operatorId", "operatorName", "stateStoreName",
        "numPartitions")
      .collect()
    assert(meta.length == 1, meta.mkString("; "))
    val m = meta.head
    assert(m.getAs[Long]("operatorId") == 0L)
    assert(m.getAs[String]("operatorName") == "stateStoreSave",
      m.toString)
    assert(m.getAs[String]("stateStoreName") == "default")
    assert(m.getAs[Int]("numPartitions") ==
      graft.streaming.StreamGates.LocalStateParts)
  }
}
