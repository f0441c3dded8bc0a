package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.sources.KvSchema

/** ARRAY&lt;DOUBLE&gt; / ARRAY&lt;BIGINT&gt; columns in the kv
  * catalog — the embedding-vector types (FIXTURES.md: the north-star
  * `embeddings.embedding list&lt;float&gt;` asset) living as
  * first-class lakehouse columns: CREATE/INSERT/SELECT round-trip
  * (NaN/±Infinity/null elements and empty arrays included), ADD
  * COLUMN evolution (pre-ALTER rows read NULL), rename-proof storage,
  * and time travel across the evolution. The registry encoding is
  * pinned at the KvSchema level so a corrupt/foreign `_schema.json`
  * can never half-parse an array type.
  */
class KvArrayColumnSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  test("registry round-trips array types (canonical containsNull)") {
    val dir = SparkTestBase.tempDir("arr_reg").toString
    val cols = Seq(
      KvSchema.Col(1, "key", LongType),
      KvSchema.Col(3, "emb", ArrayType(DoubleType, containsNull = true)),
      KvSchema.Col(4, "ids", ArrayType(LongType, containsNull = true)))
    KvSchema.write(dir, KvSchema.Registry(
      Seq(KvSchema.Version(0, cols))))
    assert(KvSchema.read(dir).get.current === cols)
    // a non-canonical DDL ArrayType normalizes rather than drifting
    assert(KvSchema.normalize(ArrayType(DoubleType, false)) ===
      ArrayType(DoubleType, true))
  }

  test("line format round-trips arrays incl. NaN/Inf/null/empty") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val cols = Seq(
      KvSchema.Col(1, "key", LongType),
      KvSchema.Col(3, "emb", ArrayType(DoubleType, true)),
      KvSchema.Col(4, "ids", ArrayType(LongType, true)))
    val emb = new GenericArrayData(Array[Any](
      1.5, null, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 3e-308))
    val ids = new GenericArrayData(
      Array[Any](7L, null, Long.MinValue, Long.MaxValue))
    val line = KvSchema.formatRow(
      InternalRow(5L, emb, ids), cols)
    val (k, _, extras) = KvSchema.parseRow(line)
    assert(k.contains(5L))
    val embBack = KvSchema
      .materializeExtra(extras("c3"), cols(1).dtype, "c3")
      .asInstanceOf[GenericArrayData]
    assert(embBack.numElements() == 7)
    assert(embBack.getDouble(0) == 1.5 && embBack.isNullAt(1))
    assert(embBack.getDouble(2).isNaN)
    assert(embBack.getDouble(3).isPosInfinity)
    assert(embBack.getDouble(4).isNegInfinity)
    assert(java.lang.Double.doubleToRawLongBits(embBack.getDouble(5)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    assert(embBack.getDouble(6) == 3e-308)
    val idsBack = KvSchema
      .materializeExtra(extras("c4"), cols(2).dtype, "c4")
      .asInstanceOf[GenericArrayData]
    assert(idsBack.getLong(0) == 7L && idsBack.isNullAt(1))
    assert(idsBack.getLong(2) == Long.MinValue)
    assert(idsBack.getLong(3) == Long.MaxValue)
    // empty array is a value, not NULL
    val line2 = KvSchema.formatRow(
      InternalRow(6L, new GenericArrayData(Array.empty[Any]), null),
      cols)
    val (_, _, ex2) = KvSchema.parseRow(line2)
    assert(KvSchema.materializeExtra(ex2("c3"), cols(1).dtype, "c3")
      .asInstanceOf[GenericArrayData].numElements() == 0)
    assert(!ex2.contains("c4")) // null array field → absent → NULL
  }

  test("catalog table with array columns: CRUD + evolution + travel") {
    cat()
    val t = "graft_kv.default.arr_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, emb ARRAY<DOUBLE>) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, array(CAST(id AS DOUBLE), " +
      "CAST(id AS DOUBLE) * 0.5) FROM range(10)")
    val dir = graft.sources.KvGateTable("arr_spec").dir
    val vFirst = graft.sources.KvSnapshots.latest(dir).get
    val r = spark.sql(
        s"SELECT emb FROM $t WHERE key = 4").head.getSeq[Double](0)
    assert(r == Seq(4.0, 2.0))
    // aggregate over elements (no pushdown claims, plain scan math)
    val s1 = spark.sql(
      s"SELECT CAST(sum(aggregate(emb, 0.0D, (a, x) -> a + x)) " +
        s"AS BIGINT) FROM $t").head.getLong(0)
    assert(s1 == (0 until 10).map(i => i * 1.5).sum.toLong)
    // ADD COLUMN of the other array type: pre-ALTER rows read NULL
    spark.sql(s"ALTER TABLE $t ADD COLUMN ids ARRAY<BIGINT>")
    spark.sql(s"INSERT INTO $t SELECT id, array(1.0D), " +
      "array(id, id * 2) FROM range(100, 103)")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE ids IS NULL")
      .head.getLong(0) == 10)
    assert(spark.sql(
      s"SELECT ids FROM $t WHERE key = 101").head.getSeq[Long](0)
      == Seq(101L, 202L))
    // RENAME is metadata-only: data stays addressable
    spark.sql(s"ALTER TABLE $t RENAME COLUMN emb TO vec")
    assert(spark.sql(s"SELECT vec FROM $t WHERE key = 4")
      .head.getSeq[Double](0) == Seq(4.0, 2.0))
    // time travel: the first snapshot predates the ADD COLUMN and the
    // RENAME, so it reads with its OWN schema — `emb`, no `ids`
    val v1 = spark.sql(s"SELECT emb FROM $t VERSION AS OF $vFirst")
    assert(!spark.sql(s"SELECT * FROM $t VERSION AS OF $vFirst")
      .schema.fieldNames.contains("ids"))
    assert(v1.count() == 10)
    // DML over a table with arrays: CoW rewrite carries them intact
    spark.sql(s"DELETE FROM $t WHERE key >= 5 AND key < 100")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 8)
    assert(spark.sql(s"SELECT vec FROM $t WHERE key = 102")
      .head.getSeq[Double](0) == Seq(1.0))
    spark.sql(s"DROP TABLE $t")
  }

  test("MERGE INTO carries arrays through both CoW and MoR writers") {
    cat()
    for ((suffix, props) <- Seq(
        ("cow", "'snapshots'='true'"),
        ("mor", "'snapshots'='true', 'dml'='mor'"))) {
      val t = s"graft_kv.default.arr_mrg_$suffix"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (key BIGINT, emb ARRAY<DOUBLE>) " +
        s"TBLPROPERTIES ($props)")
      spark.sql(s"INSERT INTO $t SELECT id, array(CAST(id AS DOUBLE)) " +
        "FROM range(0, 5)")
      spark.sql("SELECT * FROM VALUES " +
        "(2L, array(20.5D, 21.5D)), (9L, array(90.5D)) " +
        "AS s(key, emb)").createOrReplaceTempView(s"arr_mrg_src_$suffix")
      spark.sql(
        s"""MERGE INTO $t AS tgt USING arr_mrg_src_$suffix AS src
           |ON tgt.key = src.key
           |WHEN MATCHED THEN UPDATE SET emb = src.emb
           |WHEN NOT MATCHED THEN INSERT (key, emb)
           |  VALUES (src.key, src.emb)""".stripMargin)
      val got = spark.sql(s"SELECT key, emb FROM $t ORDER BY key")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      assert(got === Seq(
        0L -> Seq(0.0), 1L -> Seq(1.0), 2L -> Seq(20.5, 21.5),
        3L -> Seq(3.0), 4L -> Seq(4.0), 9L -> Seq(90.5)),
        s"$suffix merge drifted: $got")
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("CDC ($changes) materializes array columns through its reader") {
    cat()
    val t = "graft_kv.default.arr_cdc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, emb ARRAY<DOUBLE>) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    spark.sql(s"INSERT INTO $t SELECT id, array(CAST(id AS DOUBLE), " +
      "-0.5D) FROM range(0, 20)")
    spark.sql(s"DELETE FROM $t WHERE key < 5")
    // inserts carry the arrays; MoR tombstone deletes RESOLVE the
    // deleted rows' arrays from the retained data files — both go
    // through KvSchema.materializeExtra's array branch
    val rows = spark.sql(
      s"""SELECT _change_type, count(*) AS n,
         |CAST(sum(aggregate(emb, 0.0D, (a, x) -> a + x)) AS BIGINT)
         |  AS s
         |FROM graft_kv.default.`arr_cdc$$changes`
         |GROUP BY _change_type ORDER BY _change_type"""
        .stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("delete", "insert"))
    assert(rows(1).getLong(1) === 20L &&
      rows(1).getLong(2) === (0 until 20).map(_ - 0.5).sum.toLong)
    assert(rows(0).getLong(1) === 5L &&
      rows(0).getLong(2) === (0 until 5).map(_ - 0.5).sum.toLong)
    spark.sql(s"DROP TABLE $t")
  }

  test("array columns are value-only: no blooms, no partition, no sort") {
    cat()
    val t = "graft_kv.default.arr_guard"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $t (key BIGINT, emb ARRAY<DOUBLE>) " +
        "TBLPROPERTIES ('bloom_cols'='emb')")
    }
    assert(e.getMessage.contains("bloom_cols"))
    // nested arrays stay out by design
    val e2 = intercept[Exception] {
      spark.sql(
        s"CREATE TABLE $t (key BIGINT, m ARRAY<ARRAY<DOUBLE>>)")
    }
    val msgs = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).take(5)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("unsupported type"), msgs)
  }
}
