package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{LongType, StringType}

import graft.sources.{KvBucketing, KvJsonlSink, KvSchema, KvSnapshots}

/** STRING keys (field id 1 typed STRING — `doc_id`, `url`, content
  * hashes): the key is a role AND a type choice. A string-keyed table
  * keeps hash bucketing (`floorMod(hash(key), n)` — Spark's own
  * `hash()`), storage-partitioned joins, bloom point lookups on the
  * key, DML (CoW and MoR) and CDC; the RANGE machinery (key zone
  * maps, MIN/MAX(key) pushdown, 'write.sort', cluster) declines with
  * explicit errors — string identifiers are equality assets, and the
  * manifest's unescaped token format cannot hold string bounds. The
  * zone-map safety property is load-bearing: string-keyed files
  * publish `s` key-stat markers (keysKnown=false), so no key
  * predicate can ever zone-skip them — minKey=None with
  * keysKnown=true would let IsNotNull(key) silently drop every row.
  */
class KvStringKeySpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def dirOf(table: String): String =
    graft.sources.KvGateTable(table).dir

  test("line format round-trips string keys (escapes, null, unicode)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val cols = Seq(
      KvSchema.Col(1, "doc_id", StringType),
      KvSchema.Col(2, "value", StringType))
    for (k <- Seq("plain", "with\"quote", "tab\there", "nl\nline",
        "back\\slash", "unié☃", "", "null")) {
      val line = KvSchema.formatRow(
        InternalRow(UTF8String.fromString(k),
          UTF8String.fromString("v")), cols)
      val (kBack, vBack, _) = KvSchema.parseRow(line)
      assert(kBack.contains(k), s"key round-trip failed for '$k'")
      assert(vBack.contains("v"))
      // the cheap key-prefix parse agrees with the full parse
      assert(KvJsonlSink.parseKey(line).contains(k))
    }
    // a NULL string key stays the bare null token
    val nullLine = KvSchema.formatRow(
      InternalRow(null, UTF8String.fromString("v")), cols)
    assert(KvSchema.parseRow(nullLine)._1.isEmpty)
    // the literal string "null" is QUOTED, hence distinct from SQL
    // NULL (asserted above in the loop)
  }

  test("string-key lines fail contractually at every truncation point") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val cols = Seq(
      KvSchema.Col(1, "doc_id", StringType),
      KvSchema.Col(2, "value", StringType))
    // adversarial key: every escape class + unicode, so cut points
    // land inside \uXXXX sequences, backslash pairs and the quotes
    val line = KvSchema.formatRow(
      InternalRow(UTF8String.fromString("a\"b\\c\td\né☃"),
        UTF8String.fromString("v\"w")), cols)
    // the full line parses
    assert(KvSchema.parseRow(line)._1.contains("a\"b\\c\td\né☃"))
    // every strict prefix fails with the CONTRACTUAL exception —
    // never an index error (the corruption story a 100 TB reader
    // needs: a torn write is a loud format error, not a crash class
    // the retry machinery doesn't recognize)
    val keyEnd = KvJsonlSink.parseKeyTok(line)._2
    for (cut <- 1 until line.length) {
      val e = intercept[Exception](KvSchema.parseRow(line.take(cut)))
      assert(e.isInstanceOf[IllegalArgumentException] ||
        e.isInstanceOf[NumberFormatException],
        s"cut at $cut threw ${e.getClass.getName}: ${e.getMessage}")
      // parseKey reads ONLY the key prefix (that is its point — the
      // cheap pushed-filter reject), so it must throw exactly while
      // the key token itself is incomplete
      if (cut < keyEnd) {
        val ek = intercept[Exception](
          KvJsonlSink.parseKey(line.take(cut)))
        assert(ek.isInstanceOf[IllegalArgumentException] ||
          ek.isInstanceOf[NumberFormatException],
          s"parseKey cut at $cut threw ${ek.getClass.getName}")
      }
    }
    // the founding-format fast path (parseLine) under the same sweep
    val founding = """{"key":17,"value":"v\"w\\x\tz"}"""
    assert(KvJsonlSink.parseLine(founding) ==
      (Some(17L), Some("v\"w\\x\tz")))
    for (cut <- 1 until founding.length) {
      val e = intercept[Exception](
        KvJsonlSink.parseLine(founding.take(cut)))
      assert(e.isInstanceOf[IllegalArgumentException] ||
        e.isInstanceOf[NumberFormatException],
        s"parseLine cut at $cut threw ${e.getClass.getName}")
    }
  }

  test("bucketOfString is exactly Spark's hash() mod n") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    import org.apache.spark.unsafe.types.UTF8String
    val keys = Seq("a", "doc-17", "", "é☃",
      "long-key-" + ("x" * 200))
    val viaSql = spark.createDataFrame(
      keys.map(Tuple1.apply)).toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(8)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    keys.foreach { k =>
      assert(
        KvBucketing.bucketOfString(UTF8String.fromString(k), 8)
          === viaSql(k),
        s"bucketOfString disagrees with pmod(hash(), 8) for '$k'")
    }
    assert(KvBucketing.bucketOfString(null, 8) === 0)
  }

  test("bucketed string-keyed table: routing, SPJ, key bloom prune") {
    cat()
    val t1 = "graft_kv.default.sk_docs"
    val t2 = "graft_kv.default.sk_scores"
    for (t <- Seq(t1, t2)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (doc_id STRING, value STRING) " +
        "PARTITIONED BY (bucket(4, doc_id)) " +
        "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='doc_id')")
    }
    spark.sql(s"INSERT INTO $t1 " +
      "SELECT concat('d-', id), concat('v', id % 7) FROM range(0, 400)")
    spark.sql(s"INSERT INTO $t2 " +
      "SELECT concat('d-', id), concat('s', id % 3) " +
      "FROM range(0, 400) WHERE id % 2 = 0")
    assert(spark.sql(s"SELECT count(*) FROM $t1")
      .collect()(0).getLong(0) === 400L)

    // every row landed in the file its name-token claims — recompute
    // the routing from the _file metadata column
    import org.apache.spark.unsafe.types.UTF8String
    spark.sql(s"SELECT doc_id, _file FROM $t1").collect().foreach { r =>
      val tok = KvBucketing.fileBucket(
        Paths.get(r.getString(1)).getFileName.toString).get
      assert(tok === KvBucketing.bucketOfString(
        UTF8String.fromString(r.getString(0)), 4),
        s"row ${r.getString(0)} routed to the wrong bucket file")
    }

    // manifest: string-keyed files carry the `s` key-stat marker —
    // rows exact, key stats NOT APPLICABLE (keysKnown=false)
    val dir = dirOf("sk_docs")
    val v = KvSnapshots.latest(dir).get
    val stats = KvSnapshots.dataFiles(
      KvSnapshots.membersWithStats(dir, v))
    assert(stats.nonEmpty)
    stats.foreach { st =>
      assert(st.rows > 0)
      assert(!st.keysKnown && st.minKey.isEmpty && st.maxKey.isEmpty,
        s"${st.name}: string-keyed file published key zone maps")
    }

    // SPJ: co-bucketed string keys join with zero shuffles
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v0) => spark.conf.set(k, v0) }
    try {
      val df = spark.sql(
        s"""SELECT a.doc_id, a.value, b.value AS s
           |FROM $t1 a JOIN $t2 b ON a.doc_id = b.doc_id""".stripMargin)
      assert(df.count() === 200L)
      val plan = df.queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.nonEmpty, s"expected a sort-merge join:\n$plan")
      val shuffles = joins.flatMap(_.collect {
        case e: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec => e
      })
      assert(shuffles.isEmpty,
        s"string-key SPJ did not engage — join children shuffled:\n$plan")
    } finally prev.foreach {
      case (k, Some(v0)) => spark.conf.set(k, v0)
      case (k, None) => spark.conf.unset(k)
    }

    // bloom point lookup on the KEY: an absent key prunes files
    // (string keys have no zone maps — the sidecar is the skip path)
    val before = graft.sources.KvBloomPrune.prunedFiles.get()
    assert(spark.sql(
      s"SELECT count(*) FROM $t1 WHERE doc_id = 'absent-key'")
      .collect()(0).getLong(0) === 0L)
    assert(graft.sources.KvBloomPrune.prunedFiles.get() > before,
      "string-key point lookup pruned no files via the bloom sidecar")

    // a PRESENT key returns its row (the prune is sound, not just
    // aggressive) and the reader-side pushed-key skip engages
    val skBefore = graft.sources.KvKeyPredicate.skipped.get()
    val row = spark.sql(
      s"SELECT value FROM $t1 WHERE doc_id = 'd-17'").collect()
    assert(row.length === 1 && row(0).getString(0) === "v3")
    assert(graft.sources.KvKeyPredicate.skipped.get() > skBefore,
      "string-key equality did not row-skip in the reader")
  }

  test("DML + CDC on a string-keyed table (CoW and MoR)") {
    cat()
    for ((t, mor) <- Seq(("sk_dml_cow", false), ("sk_dml_mor", true))) {
      val tn = s"graft_kv.default.$t"
      spark.sql(s"DROP TABLE IF EXISTS $tn")
      spark.sql(s"CREATE TABLE $tn (doc_id STRING, value STRING) " +
        "PARTITIONED BY (bucket(2, doc_id)) " +
        "TBLPROPERTIES ('snapshots'='true'" +
        (if (mor) ", 'dml'='mor'" else "") + ")")
      spark.sql(s"INSERT INTO $tn " +
        "SELECT concat('k', id), concat('v', id) FROM range(0, 50)")
      spark.sql(s"DELETE FROM $tn WHERE doc_id = 'k7'")
      spark.sql(s"UPDATE $tn SET value = 'patched' WHERE doc_id = 'k9'")
      val got = spark.sql(
        s"SELECT doc_id, value FROM $tn " +
          "WHERE doc_id IN ('k7', 'k9', 'k11')").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(!got.contains("k7"), s"$t: deleted row still visible")
      assert(got("k9") === "patched", s"$t: update lost")
      assert(got("k11") === "v11", s"$t: untouched row corrupted")
      // CDC: the delete commit reports the removed row under the key
      val changes = spark.sql(
        s"SELECT doc_id, _change_type FROM " +
          s"graft_kv.default.`$t$$changes` WHERE doc_id = 'k7'")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(changes.exists(_ == ("k7", "delete")),
        s"$t: CDC lost the string-keyed delete: " +
          changes.mkString(", "))
    }
  }

  test("range machinery declines string keys with explicit errors") {
    cat()
    // write.sort at CREATE
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft_kv.default.sk_sorted " +
        "(doc_id STRING, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'write.sort'='doc_id')")
    }
    assert(e1.getMessage.contains("BIGINT key"), e1.getMessage)
    // system.cluster
    val t = "graft_kv.default.sk_nocluster"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id STRING, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t VALUES ('a', 'v')")
    val e2 = intercept[Exception] {
      spark.sql("CALL graft_kv.system.cluster(" +
        "table => 'default.sk_nocluster')").collect()
    }
    assert(e2.getMessage.contains("BIGINT key"), e2.getMessage)
    // MIN/MAX(key) aggregate pushdown declines (and the fallback scan
    // computes the true string extrema)
    spark.sql(s"INSERT INTO $t VALUES ('z', 'v'), ('m', 'v')")
    val mm = spark.sql(
      s"SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM $t").collect()(0)
    assert(mm.getString(0) === "a" && mm.getString(1) === "z")
  }

  test("zone-map safety: string-keyed stats never license a key skip") {
    import org.apache.spark.sql.sources.{EqualTo, IsNotNull}
    val st = KvSnapshots.KvFileStat(
      "f.jsonl", 10, None, None, keysKnown = false)
    // IsNotNull over a string-keyed file must NOT skip (minKey=None
    // here means "not applicable", not "no non-null keys")
    assert(graft.sources.KvZoneMap.mayMatch(
      st, Array(IsNotNull("doc_id")), "doc_id"))
    assert(graft.sources.KvZoneMap.mayMatch(
      st, Array(EqualTo("doc_id", "x")), "doc_id"))
  }

  test("manifest `s` marker round-trips with column stats") {
    val dir = SparkTestBase.tempDir("sk_manifest").toString
    val in = Seq(
      KvSnapshots.KvFileStat("a.jsonl", 5, None, None,
        keysKnown = false,
        colStats = Map(3 -> Some(("1", "9")), 4 -> None)),
      KvSnapshots.KvFileStat("b.jsonl", 2, None, None,
        keysKnown = false))
    val v = KvSnapshots.commitWith(dir)(_ => in)
    val back = KvSnapshots.membersWithStats(dir, v)
    assert(back.toSet === in.toSet,
      s"string-key stats did not round-trip: $back")
    // the raw line uses the `s` marker (not `-`, which would claim
    // "provably keyless" and license a zone skip)
    val manifest = Files.list(Paths.get(dir, "_snapshots")).iterator()
      .asScala.map(_.toString).filter(_.endsWith(".manifest")).toSeq
    val lines = Files.readAllLines(Paths.get(manifest.head)).asScala
    assert(lines.exists(_.startsWith("a.jsonl\t5\ts\ts\t")),
      s"expected the s-marker line, got: $lines")
  }

  test("runtime join-key sets carry string keys (compile + prune)") {
    import org.apache.spark.sql.connector.expressions.{Expressions, Literal}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // a V2 string literal as the runtime-filter machinery delivers
    // it: UTF8String value, StringType dataType (LiteralValue is
    // sql-private, so the public interface is implemented directly)
    def strLit(v: String): Literal[Any] = new Literal[Any] {
      override def value(): Any =
        if (v == null) null else UTF8String.fromString(v)
      override def dataType(): org.apache.spark.sql.types.DataType =
        StringType
    }
    // a V2 IN over the key column with UTF8String literals compiles
    // to a String set (the parser's key class, so reader membership
    // is exact)
    val p = new Predicate("IN", Array(
      Expressions.column("doc_id"), strLit("d-7"), strLit("d-19")))
    val ks = graft.sources.KvRuntimePredicate.keySet(p, "doc_id")
    assert(ks.contains(Set[Any]("d-7", "d-19")))
    // a NULL literal poisons the set → no pruning (the only safe
    // failure mode for an optimization)
    val pNull = new Predicate("IN", Array(
      Expressions.column("doc_id"), strLit(null)))
    assert(graft.sources.KvRuntimePredicate
      .keySet(pNull, "doc_id").isEmpty)
    // bucket image dispatches on the element class
    assert(KvBucketing.bucketOfAny("d-7", 8)
      === KvBucketing.bucketOfString(UTF8String.fromString("d-7"), 8))
    assert(KvBucketing.bucketOfAny(7L, 8) === 7)
    // a string set never zone-skips: string-keyed files are
    // keysKnown=false (true by that branch), and even against a
    // keysKnown=true stat the type mismatch falls through to
    // "don't skip"
    val stKnown = KvSnapshots.KvFileStat(
      "f.jsonl", 10, Some(5L), Some(9L), keysKnown = true)
    assert(graft.sources.KvZoneMap.mayMatchKeys(
      stKnown, Set[Any]("d-7")))
    // the all-Long range compare still skips
    assert(!graft.sources.KvZoneMap.mayMatchKeys(
      stKnown, Set[Any](100L)))
  }

  test("trickle ingest + auto-compaction compose on string keys") {
    import org.apache.spark.unsafe.types.UTF8String
    cat()
    val t = "graft_kv.default.sk_trickle"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id STRING, value STRING) " +
      "PARTITIONED BY (bucket(2, doc_id)) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.auto_compact'='2')")
    val fired0 = graft.sources.KvAutoCompact.compactions.get()
    for (b <- 0 to 2)
      spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ " +
        s"concat('t', id), 'v' FROM range(${b * 10}, ${b * 10 + 10})")
    // the policy fired, the bound holds per bucket, rows intact
    assert(graft.sources.KvAutoCompact.compactions.get() - fired0 >= 1)
    val dir = dirOf("sk_trickle")
    val v = KvSnapshots.latest(dir).get
    val data = KvSnapshots.dataFiles(KvSnapshots.membersWithStats(dir, v))
    val perBucket = data.groupBy(st =>
      KvBucketing.fileBucket(st.name).get).view.mapValues(_.size)
    assert(perBucket.values.forall(_ <= 2),
      s"bucket file bound violated: ${perBucket.toMap}")
    // the compaction rewrote under STRING routing — every surviving
    // file's rows recompute to its name token
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) === 30L)
    spark.sql(s"SELECT doc_id, _file FROM $t").collect().foreach { r =>
      val tok = KvBucketing.fileBucket(
        Paths.get(r.getString(1)).getFileName.toString).get
      assert(tok === KvBucketing.bucketOfString(
        UTF8String.fromString(r.getString(0)), 2))
    }
    // string-keyed compaction output keeps the `s` key-stat marker
    data.foreach(st => assert(!st.keysKnown && st.minKey.isEmpty,
      s"${st.name}: compacted string-keyed file grew key zone maps"))
  }

  test("rebucket evolves a string-keyed table's bucket count") {
    cat()
    val t = "graft_kv.default.sk_rebucket"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id STRING, value STRING) " +
      "PARTITIONED BY (bucket(2, doc_id)) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t " +
      "SELECT concat('r', id), 'v' FROM range(0, 200)")
    spark.sql("CALL graft_kv.system.rebucket(" +
      "table => 'default.sk_rebucket', buckets => 4)").collect()
    val dir = dirOf("sk_rebucket")
    assert(KvBucketing.readMetaFull(dir).buckets.contains(4))
    // every rewritten file's token matches the NEW-count routing
    import org.apache.spark.unsafe.types.UTF8String
    spark.sql(s"SELECT doc_id, _file FROM $t").collect().foreach { r =>
      val tok = KvBucketing.fileBucket(
        Paths.get(r.getString(1)).getFileName.toString).get
      assert(tok === KvBucketing.bucketOfString(
        UTF8String.fromString(r.getString(0)), 4))
    }
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) === 200L)
  }
}
