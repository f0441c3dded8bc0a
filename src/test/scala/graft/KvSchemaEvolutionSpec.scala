package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.sources.KvSchema

/** Schema evolution on kv catalog tables (KvSchema.scala): stable
  * field ids under ADD / RENAME / DROP COLUMN, metadata-only ALTERs
  * (no data file rewritten), and time travel reading each snapshot
  * with the schema it was written under.
  */
class KvSchemaEvolutionSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dir(t: String): String =
    graft.sources.KvGateTable(t).dir

  private def fresh(
      t: String, ddlCols: String = "key BIGINT, value STRING",
      props: String = "TBLPROPERTIES ('snapshots'='true')"): String = {
    cat()
    val full = s"graft_kv.default.$t"
    spark.sql(s"DROP TABLE IF EXISTS $full")
    spark.sql(s"CREATE TABLE $full ($ddlCols) $props")
    full
  }

  test("CREATE with extra columns births a registry and round-trips") {
    val t = fresh("evo_create", "key BIGINT, value STRING, score DOUBLE")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 1.5), (2, null, null), " +
      "(3, 'c\"quote', -0.25)")
    val got = spark.sql(s"SELECT * FROM $t ORDER BY key").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(got === Seq((1L, "a", 1.5), (2L, null, null),
      (3L, "c\"quote", -0.25)))
    // the registry exists with the expected stable ids
    val reg = KvSchema.read(dir("evo_create")).get
    assert(reg.current.map(c => (c.id, c.name, c.dtype)) ===
      Seq((1, "key", LongType), (2, "value", StringType),
        (3, "score", DoubleType)))
  }

  test("ADD COLUMN is metadata-only; old rows read NULL; time travel " +
      "reads each snapshot with its own schema") {
    val t = fresh("evo_add")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')") // v1
    val filesBefore = Files.list(Paths.get(dir("evo_add"))).toArray.toSet
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    // metadata-only: no data file touched (only _schema.json appears)
    val filesAfter = Files.list(Paths.get(dir("evo_add"))).toArray.toSet
    assert((filesAfter -- filesBefore).map(_.toString)
      .forall(_.endsWith(KvSchema.FileName)),
      s"ALTER rewrote data files: ${filesAfter -- filesBefore}")
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 9.5)") // v2
    // current read: new column, pre-ALTER rows as NULL
    val cur = spark.sql(s"SELECT key, score FROM $t ORDER BY key")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    assert(cur === Seq((1L, null), (2L, null), (3L, 9.5)))
    // time travel to v1 reads with the OLD schema (no score column)
    val v1 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq === Seq("key", "value"))
    assert(v1.count() == 2)
    // the new column exists at v2
    val v2 = spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
    assert(v2.schema.fieldNames.toSeq === Seq("key", "value", "score"))
  }

  test("RENAME COLUMN is pure metadata: same storage, old snapshots " +
      "keep the old name") {
    val t = fresh("evo_ren")
    spark.sql(s"INSERT INTO $t VALUES (1, 'x')") // v1
    spark.sql(s"ALTER TABLE $t RENAME COLUMN value TO label")
    spark.sql(s"INSERT INTO $t VALUES (2, 'y')") // v2
    val got = spark.sql(s"SELECT key, label FROM $t ORDER BY key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "x"), (2L, "y")))
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
      .schema.fieldNames.toSeq === Seq("key", "value"))
  }

  test("DROP then re-ADD the same name gets a FRESH id — dropped " +
      "data never resurrects") {
    val t = fresh("evo_drop", "key BIGINT, value STRING, score DOUBLE")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 42.0)") // v1
    spark.sql(s"ALTER TABLE $t DROP COLUMN score")
    assert(spark.sql(s"SELECT * FROM $t").schema.fieldNames.toSeq ===
      Seq("key", "value"))
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    // old file still holds c3:42.0, but the re-added column is id 4
    val reg = KvSchema.read(dir("evo_drop")).get
    assert(reg.current.last.id == 4, s"expected fresh id: ${reg.current}")
    val got = spark.sql(s"SELECT key, score FROM $t").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    assert(got === Seq((1L, null)))
    // the pre-DROP snapshot still reads the original value
    assert(spark.sql(s"SELECT score FROM $t VERSION AS OF 1")
      .head.getDouble(0) == 42.0)
  }

  test("MoR DML on an evolved table: UPDATE writes the new shape") {
    val t = fresh("evo_mor",
      props = "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('r', id) FROM range(6)")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    spark.sql(s"UPDATE $t SET score = CAST(key AS DOUBLE) * 2 " +
      "WHERE key >= 4")
    spark.sql(s"DELETE FROM $t WHERE key = 0")
    val got = spark.sql(
      s"SELECT key, value, score FROM $t ORDER BY key").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(got === Seq(
      (1L, "r1", null), (2L, "r2", null), (3L, "r3", null),
      (4L, "r4", 8.0), (5L, "r5", 10.0)))
  }

  test("$changes reads history with the CURRENT schema (Delta-CDF " +
      "convention): pre-ALTER rows NULL-fill the added column") {
    val t = fresh("evo_cdc")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')") // v1
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 4.5)") // v2
    val ch = spark.sql(
      "SELECT key, value, score, _change_type, _commit_version " +
        "FROM graft_kv.default.`evo_cdc$changes` ORDER BY key")
    val got = ch.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) null else r.getDouble(2),
      r.getString(3), r.getInt(4))).toSeq
    assert(got === Seq(
      (1L, "a", null, "insert", 1),
      (2L, "b", 4.5, "insert", 2)))
  }

  test("streaming read of an evolved table carries the new column") {
    val t = fresh("evo_stream")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 2.5), (2, 'b', null)")
    val sink = "evo_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.table(t)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(sink).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(got === Seq((1L, "a", 2.5), (2L, "b", null)))
  }

  test("ALTER COLUMN TYPE: bigint widens to double, old tokens " +
      "coerce, old snapshots keep the old type") {
    val t = fresh("evo_widen", "key BIGINT, value STRING, n BIGINT")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 5)") // v1: n stored as long
    spark.sql(s"ALTER TABLE $t ALTER COLUMN n TYPE DOUBLE")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 2.5)") // v2: double
    val got = spark.sql(s"SELECT key, n FROM $t ORDER BY key").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((1L, 5.0), (2L, 2.5)))
    // the pre-ALTER snapshot still reads n as BIGINT
    val v1 = spark.sql(s"SELECT n FROM $t VERSION AS OF 1")
    assert(v1.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(v1.head.getLong(0) == 5L)
    // narrowing and structural slots stay rejected
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ALTER COLUMN n TYPE BIGINT") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ALTER COLUMN key TYPE DOUBLE") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ALTER COLUMN value TYPE DOUBLE") }
  }

  test("compact and cluster rewrite evolved tables losslessly") {
    def fingerprint(t: String): Seq[(Long, String, Any)] =
      spark.sql(s"SELECT key, value, score FROM $t ORDER BY key")
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    def fill(t: String): Unit = {
      spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
      // several commits → several files, mixed null/value extras
      spark.sql(s"INSERT INTO $t SELECT id, concat('a', id), " +
        "CAST(id AS DOUBLE) / 2 FROM range(0, 50)")
      spark.sql(s"INSERT INTO $t SELECT id, concat('b', id), NULL " +
        "FROM range(50, 100)")
    }
    // compact maintains PLAIN tables, cluster snapshotted ones —
    // each must carry the evolved extras through its rewrite
    val tc = fresh("evo_compact", props = "")
    fill(tc)
    val beforeC = fingerprint(tc)
    spark.sql("CALL graft_kv.system.compact(" +
      "table => 'default.evo_compact', target_files => 2)")
    assert(fingerprint(tc) === beforeC,
      "compact dropped or mangled evolved column data")
    val tk = fresh("evo_cluster")
    fill(tk)
    val beforeK = fingerprint(tk)
    spark.sql("CALL graft_kv.system.cluster(" +
      "table => 'default.evo_cluster', target_files => 3)")
    assert(fingerprint(tk) === beforeK,
      "cluster dropped or mangled evolved column data")
  }

  test("evolution composes with bucketing: routed writes, evolved " +
      "reads, bucketed MoR DML") {
    val t = fresh("evo_bucket",
      props = "PARTITIONED BY (bucket(4, key)) " +
        "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $t SELECT id, concat('r', id), " +
      "CAST(id AS DOUBLE) FROM range(0, 40)")
    // every data file carries its bucket suffix (routing survived the
    // evolved writer)
    val dir = graft.sources.KvGateTable("evo_bucket").dir
    val members = graft.sources.KvSnapshots.membersWithStats(
      dir, graft.sources.KvSnapshots.latest(dir).get)
    val dataFiles = graft.sources.KvSnapshots.dataFiles(members)
    assert(dataFiles.nonEmpty && dataFiles.forall(f =>
      graft.sources.KvBucketing.fileBucket(f.name).isDefined),
      s"unrouted files in evolved bucketed table: ${dataFiles.map(_.name)}")
    // evolved MoR DML against the bucketed layout
    spark.sql(s"UPDATE $t SET score = score * 10 WHERE key < 4")
    spark.sql(s"DELETE FROM $t WHERE key >= 36")
    val got = spark.sql(
      s"SELECT count(*) AS n, CAST(sum(score) AS BIGINT) AS s FROM $t")
      .head
    // rows 0..35 live; scores: 0..3 ×10 (=60), 4..35 as-is (=624)
    assert(got.getLong(0) == 36 && got.getLong(1) == 60 + 624,
      s"got $got")
    // key-equality reads (bucket pruning path) see evolved columns
    val one = spark.sql(s"SELECT score FROM $t WHERE key = 2").head
    assert(one.getDouble(0) == 20.0)
  }

  test("guards: key is immutable, duplicates and bad types rejected") {
    val t = fresh("evo_guard")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN key TO id") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t DROP COLUMN key") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMN value STRING") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMN m MAP<STRING, STRING>") }
    // still usable after the rejected ALTERs
    spark.sql(s"INSERT INTO $t VALUES (1, 'ok')")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 1)
  }

  test("formatRow/parseRow round-trip the evolved encodings " +
      "(escapes, NaN, infinities, nulls)") {
    val cols = Seq(
      KvSchema.Col(1, "key", LongType),
      KvSchema.Col(2, "value", StringType),
      KvSchema.Col(3, "d", DoubleType),
      KvSchema.Col(4, "s", StringType),
      KvSchema.Col(5, "n", LongType))
    def roundtrip(k: java.lang.Long, v: String, d: java.lang.Double,
        s: String, n: java.lang.Long) = {
      val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(Seq(
        k,
        Option(v).map(
          org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
        d,
        Option(s).map(
          org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
        n))
      val line = KvSchema.formatRow(row, cols)
      val (pk, pv, extras) = KvSchema.parseRow(line)
      assert(pk === Option(k).map(_.longValue))
      assert(pv === Option(v))
      assert(extras.get("c3") === Option(d).map(_.doubleValue))
      assert(extras.get("c4") === Option(s))
      assert(extras.get("c5") === Option(n).map(_.longValue))
    }
    roundtrip(1L, "a\"b\\c\nd", 1.5, "tab\there", 7L)
    roundtrip(null, null, null, null, null)
    roundtrip(2L, "v", Double.PositiveInfinity, "", 0L)
    roundtrip(3L, "v", Double.NegativeInfinity, "ctl", -1L)
    // NaN != NaN, so check it via isNaN
    val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(Seq(
      4L: java.lang.Long, null, Double.box(Double.NaN), null, null))
    val (_, _, ex) = KvSchema.parseRow(KvSchema.formatRow(row, cols))
    assert(ex("c3").asInstanceOf[Double].isNaN)
  }

  test("hostile column names are REJECTED at every DDL site — the " +
      "registry's regex parser cannot hold them safely") {
    val t = fresh("evo_hostile")
    // Backtick-quoted identifiers smuggle arbitrary text past SQL
    // parsing; each of these would truncate the non-greedy cols group
    // on read-back, silently dropping every later column.
    // Every DDL must throw (our validation, or Spark's parser for the
    // ones even backticks can't express) — and crucially the registry
    // must stay byte-intact afterwards.
    for (bad <- Seq("x]}", "a\"b", "c,d", "e f")) {
      val quoted = s"`$bad`"
      intercept[Exception](
        spark.sql(s"ALTER TABLE $t ADD COLUMN $quoted DOUBLE"))
      intercept[Exception](
        spark.sql(s"ALTER TABLE $t RENAME COLUMN value TO $quoted"))
      intercept[Exception] {
        spark.sql("DROP TABLE IF EXISTS graft_kv.default.evo_hostile2")
        spark.sql("CREATE TABLE graft_kv.default.evo_hostile2 " +
          s"(key BIGINT, $quoted STRING)")
      }
    }
    // the direct (non-SQL) surface rejects too — no registry that
    // write() accepts can read back differently
    intercept[IllegalArgumentException](
      KvSchema.write(dir("evo_hostile"), KvSchema.Registry(Seq(
        KvSchema.Version(0, Seq(
          KvSchema.Col(1, "key", LongType),
          KvSchema.Col(2, "x]}", StringType)))))))
    // after all the rejected DDL the registry still reads back intact
    assert(KvSchema.currentCols(dir("evo_hostile")).map(_.name) ===
      Seq("key", "value"))
  }

  test("reserved metadata names are rejected CASE-INSENSITIVELY — " +
      "Spark's default resolution would let `_File` shadow `_file`") {
    val t = fresh("evo_reserved")
    for (bad <- Seq("_File", "_POS", "_Change_Type")) {
      // Spark may wrap the catalog's IllegalArgumentException
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE $t ADD COLUMN $bad DOUBLE"))
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains("reserved"), msgs)
    }
  }

  test("TIMESTAMP and DATE columns: micros-lossless round-trip, " +
      "reader-side pushdown, time travel across an ALTER beside them") {
    val t = fresh("evo_temporal",
      "key BIGINT, value STRING, ts TIMESTAMP, day DATE")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'a', TIMESTAMP '1995-06-01 12:34:56.789012', " +
      "DATE '1995-06-01'), (2, 'b', null, null)") // v1
    // registry types recorded; storage is integer tokens
    val reg = KvSchema.read(dir("evo_temporal")).get
    assert(reg.current.map(c => KvSchema.typeName(c.dtype)) ===
      Seq("bigint", "string", "timestamp", "date"))
    // full micros precision survives the line format
    val got = spark.sql(
      s"SELECT CAST(ts AS STRING) AS s, CAST(day AS STRING) AS d " +
        s"FROM $t WHERE key = 1").collect().head
    assert(got.getString(0) === "1995-06-01 12:34:56.789012")
    assert(got.getString(1) === "1995-06-01")
    // nulls read back as nulls (absent-token contract)
    assert(spark.sql(s"SELECT ts, day FROM $t WHERE key = 2")
      .collect().head.anyNull)
    // pushdown: the null-ts row is skipped by the pushed comparison
    // (null-rejecting) — at the row level (KvExtraPredicate) when it
    // shares a file with a matching row, or at the FILE level
    // (per-column zone maps: a known-all-null file never opens) when
    // the insert split the rows across files. Either counter moving
    // proves the pushdown reached storage.
    val beforeRow = graft.sources.KvExtraPredicate.skipped.get()
    val beforeFile = graft.sources.KvZoneMap.prunedFiles.get()
    assert(spark.sql(s"SELECT count(*) FROM $t " +
      "WHERE ts > TIMESTAMP '1995-01-01 00:00:00'")
      .collect().head.getLong(0) === 1L)
    assert(graft.sources.KvExtraPredicate.skipped.get() > beforeRow ||
      graft.sources.KvZoneMap.prunedFiles.get() > beforeFile,
      "temporal predicate neither row-skipped nor file-pruned")
    // evolve a bigint column beside the temporal ones; old rows NULL
    spark.sql(s"ALTER TABLE $t ADD COLUMN qty BIGINT")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(3, 'c', TIMESTAMP '1996-01-01 00:00:00', DATE '1996-01-01', 9)")
    assert(spark.sql(s"SELECT sum(coalesce(qty, 0)) FROM $t")
      .collect().head.getLong(0) === 9L)
    // time travel: v1 predates the ALTER — its schema has no qty,
    // and the temporal values read back unchanged
    val v1 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
    assert(v1.columns.toSeq === Seq("key", "value", "ts", "day"))
    assert(v1.count() === 2)
    // date equality pushdown compiles too
    assert(spark.sql(
      s"SELECT count(*) FROM $t WHERE day = DATE '1996-01-01'")
      .collect().head.getLong(0) === 1L)
  }

  test("disabling snapshots COLLAPSES the registry: stale Version.from " +
      "markers must not survive into a restarted numbering") {
    val t = fresh("evo_unset")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')") // v1
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE") // from v2
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 2.5)") // v2
    assert(KvSchema.read(dir("evo_unset")).get.versions.length === 2)
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('snapshots')")
    // single-version registry at from=0: no marker can resolve wrong
    val collapsed = KvSchema.read(dir("evo_unset")).get
    assert(collapsed.versions.map(_.from) === Seq(0))
    assert(collapsed.current.map(_.name) === Seq("key", "value", "score"))
    // re-enable: numbering restarts at v1; a pinned read of the new v1
    // must see the CURRENT (post-ALTER) schema, not the founding pair
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('snapshots'='true')")
    val pinned = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
    assert(pinned.columns.toSeq === Seq("key", "value", "score"))
    assert(pinned.count() === 2)
  }
}
