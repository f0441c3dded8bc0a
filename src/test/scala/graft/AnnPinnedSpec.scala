package graft

import graft.operators.AnnIndexQueries
import graft.sources.KvSnapshots

/** Catalog-pinned ANN index edges the gate doesn't drive: the
  * non-insert refusal (a DELETE after the pin must fail the
  * incremental refresh, not silently serve resurrected rows), the
  * maintenance-only advance (compaction emits no changes — the pin
  * moves with an empty refresh), and pin-file strictness.
  */
class AnnPinnedSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dirOf(table: String): String =
    graft.sources.KvGateTable(table).dir

  test("delete after the pin refuses the incremental refresh") {
    cat()
    val t = "graft_kv.default.annp_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, " +
      "embedding ARRAY<DOUBLE>) TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT vec_id, " +
      "CAST(embedding AS ARRAY<DOUBLE>) " +
      s"FROM parquet.`$sfDir/embeddings.parquet`")
    val idx = Fs.scratch(spark, "ann_pinned_spec")
    AnnIndexQueries.buildPinned(spark, t, dirOf("annp_spec"), idx)
    assert(AnnIndexQueries.servePinned(spark, idx).count() > 0)
    spark.sql(s"DELETE FROM $t WHERE vec_id = 7")
    // stale serve fails loud
    intercept[AnnIndexQueries.StaleAnnIndexException](
      AnnIndexQueries.servePinned(spark, idx))
    // and the incremental refresh REFUSES a history with deletes
    val changes =
      spark.sql(s"SELECT * FROM graft_kv.default.`annp_spec$$changes`")
    val e = intercept[IllegalArgumentException](
      AnnIndexQueries.refreshPinned(spark, changes, idx))
    assert(e.getMessage.contains("non-insert"), e.getMessage)
    // a REBUILD repins and serves again
    AnnIndexQueries.buildPinned(spark, t, dirOf("annp_spec"), idx)
    assert(AnnIndexQueries.servePinned(spark, idx).count() > 0)
  }

  test("maintenance-only history advances the pin with no delta") {
    cat()
    val t = "graft_kv.default.annp_maint"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, " +
      "embedding ARRAY<DOUBLE>) TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT vec_id, " +
      "CAST(embedding AS ARRAY<DOUBLE>) " +
      s"FROM parquet.`$sfDir/embeddings.parquet`")
    val idx = Fs.scratch(spark, "ann_pinned_spec_maint")
    AnnIndexQueries.buildPinned(spark, t, dirOf("annp_maint"), idx)
    spark.sql("CALL graft_kv.system.cluster(" +
      "table => 'default.annp_maint', target_files => 2)").collect()
    intercept[AnnIndexQueries.StaleAnnIndexException](
      AnnIndexQueries.servePinned(spark, idx))
    val changes = spark.sql(
      s"SELECT * FROM graft_kv.default.`annp_maint$$changes`")
    val pin = AnnIndexQueries.refreshPinned(spark, changes, idx)
    // the maintenance commit emitted nothing: pin advances, no delta
    assert(pin.deltas == 0)
    assert(pin.version ==
      KvSnapshots.latest(dirOf("annp_maint")).get)
    assert(AnnIndexQueries.servePinned(spark, idx).count() > 0)
  }
}
