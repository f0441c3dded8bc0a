package graft

import java.nio.file.{Files, Paths}

import graft.sources.{KvBloom, KvBloomPrune}

/** Per-file bloom sidecars (KvBloom.scala): filter math (the no-
  * false-negative contract and a bounded false-positive rate),
  * sidecar IO round-trip incl. the unreadable→unknown rule, and the
  * connector end to end — write-side tracking, scan-side file
  * skipping on string equality (the case zone maps can never help:
  * high-cardinality values uncorrelated with write order), DML/
  * vacuum lifecycle, and correctness under skipping (the pruned plan
  * returns the same rows).
  */
class KvBloomSpec extends SparkTestBase {

  private def cat(): Unit = graft.sources.KvGate.register(spark)

  private def warehouseDir(table: String): String =
    graft.sources.KvGateTable(table).dir

  test("no false negatives, FPR bounded (1000 in, 10000 probes)") {
    val b = new KvBloom.Builder
    (0 until 1000).foreach(i => b.add(KvBloom.hashString(s"key-$i")))
    val bloom = b.result().get
    (0 until 1000).foreach { i =>
      assert(bloom.mightContain(KvBloom.hashString(s"key-$i")),
        s"false negative for key-$i")
    }
    val fps = (0 until 10000).count(i =>
      bloom.mightContain(KvBloom.hashString(s"absent-$i")))
    // 10 bits/key, k=6 → ~0.8% expected; 3% is a generous ceiling
    assert(fps < 300, s"$fps false positives in 10000 — FPR broken")
  }

  test("long hashes: no false negatives, distinct from string hashes") {
    val b = new KvBloom.Builder
    (0L until 500L).foreach(i => b.add(KvBloom.hashLong(i * 7919)))
    val bloom = b.result().get
    (0L until 500L).foreach(i =>
      assert(bloom.mightContain(KvBloom.hashLong(i * 7919))))
    assert(KvBloom.hashLong(42L) !== KvBloom.hashString("42"))
  }

  test("sidecar round-trip; unreadable reads as None") {
    val dir = SparkTestBase.tempDir("graft_bloom")
    val b1 = new KvBloom.Builder
    b1.add(KvBloom.hashString("x"))
    val b2 = new KvBloom.Builder
    b2.add(KvBloom.hashLong(99L))
    val blooms = Map(2 -> b1.result().get, 5 -> b2.result().get)
    val f = dir.resolve("part-0.jsonl.bloom")
    KvBloom.writeSidecar(f, blooms)
    val back = KvBloom.readSidecar(f).get
    assert(back.keySet === Set(2, 5))
    assert(back(2).mightContain(KvBloom.hashString("x")))
    assert(back(5).mightContain(KvBloom.hashLong(99L)))
    assert(KvBloom.readSidecar(dir.resolve("absent.bloom")).isEmpty)
    Files.write(f, "not a bloom sidecar".getBytes)
    assert(KvBloom.readSidecar(f).isEmpty) // corrupt → unknown
  }

  test("insert writes sidecars; point lookup skips non-matching files") {
    cat()
    val t = "graft_kv.default.bloom_e2e"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='value')")
    // 4 separate inserts → 4+ files, each holding a DISJOINT value
    // set; values are hash-ordered so key zone maps can't separate
    // them — only the blooms can
    (0 until 4).foreach { g =>
      spark.sql(s"INSERT INTO $t SELECT id, concat('u', id) " +
        s"FROM range(0, 400) WHERE pmod(hash(concat('u', id)), 4) = $g")
    }
    val dir = warehouseDir("bloom_e2e")
    val sidecars = Files.list(Paths.get(dir)).iterator()
    val n = {
      var c = 0
      while (sidecars.hasNext) {
        if (sidecars.next().getFileName.toString.endsWith(".bloom")) c += 1
      }
      c
    }
    assert(n >= 4, s"expected >=4 sidecars, found $n")
    val before = KvBloomPrune.prunedFiles.get()
    val rows = spark.sql(s"SELECT key FROM $t WHERE value = 'u137'")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(137L))
    val pruned = KvBloomPrune.prunedFiles.get() - before
    assert(pruned >= 2,
      s"only $pruned files bloom-pruned for a single-value lookup")
    // IN-list: two values from different groups — still prunes, still
    // exact
    val in2 = spark.sql(
      s"SELECT key FROM $t WHERE value IN ('u3', 'u77') ORDER BY key")
      .collect().map(_.getLong(0)).toSeq
    assert(in2 === Seq(3L, 77L))
  }

  test("absent value: every file bloom-pruned, zero rows, no file open") {
    cat()
    val t = "graft_kv.default.bloom_miss"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='value')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) " +
      "FROM range(0, 1000)")
    val before = KvBloomPrune.prunedFiles.get()
    assert(spark.sql(
      s"SELECT * FROM $t WHERE value = 'definitely-not-here'")
      .count() === 0)
    assert(KvBloomPrune.prunedFiles.get() - before >= 1,
      "an absent point lookup should prune every file")
  }

  test("bigint bloom column prunes too") {
    cat()
    val t = "graft_kv.default.bloom_long"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"ALTER TABLE $t ADD COLUMN uid BIGINT")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // bloom over an EVOLVED bigint declared at CREATE
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING, " +
      "uid BIGINT) TBLPROPERTIES ('snapshots'='true', " +
      "'bloom_cols'='uid')")
    (0 until 3).foreach { g =>
      spark.sql(s"INSERT INTO $t SELECT id, 'x', id * 2654435761 " +
        s"FROM range(0, 300) WHERE pmod(id, 3) = $g")
    }
    val before = KvBloomPrune.prunedFiles.get()
    val rows = spark.sql(
      s"SELECT key FROM $t WHERE uid = ${100L * 2654435761L}")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(100L))
    assert(KvBloomPrune.prunedFiles.get() - before >= 1)
  }

  test("DDL rejects the key, unknown columns, and non-point types") {
    cat()
    spark.sql("DROP TABLE IF EXISTS graft_kv.default.bloom_bad")
    def rejects(ddlTail: String, msg: String): Unit = {
      val e = intercept[Exception] {
        spark.sql("CREATE TABLE graft_kv.default.bloom_bad " + ddlTail)
      }
      assert(e.getMessage.contains(msg), e.getMessage)
      spark.sql("DROP TABLE IF EXISTS graft_kv.default.bloom_bad")
    }
    rejects("(key BIGINT, value STRING) " +
      "TBLPROPERTIES ('bloom_cols'='key')", "key")
    rejects("(key BIGINT, value STRING) " +
      "TBLPROPERTIES ('bloom_cols'='nope')", "not a column")
    // arrays have no point lookups to serve (round-17: scalars
    // widened to TIMESTAMP/DATE/DOUBLE, which are now accepted)
    rejects("(key BIGINT, value STRING, emb ARRAY<DOUBLE>) " +
      "TBLPROPERTIES ('bloom_cols'='emb')",
      "STRING/BIGINT/TIMESTAMP/DATE/DOUBLE")
  }

  test("double hashing: -0.0 ≡ 0.0, NaN payloads collapse, exact bits") {
    import graft.sources.KvBloom
    assert(KvBloom.hashDouble(-0.0d) === KvBloom.hashDouble(0.0d))
    val quietNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    assert(KvBloom.hashDouble(quietNaN) === KvBloom.hashDouble(Double.NaN))
    // nextUp neighbors must hash apart (no premature rounding)
    assert(KvBloom.hashDouble(1.0d) !==
      KvBloom.hashDouble(java.lang.Math.nextUp(1.0d)))
  }

  test("timestamp/date/double bloom columns prune point lookups") {
    cat()
    val t = "graft_kv.default.bloom_tmprl"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, ts TIMESTAMP, " +
      "day DATE, price DOUBLE) TBLPROPERTIES ('snapshots'='true', " +
      "'bloom_cols'='ts,day,price')")
    // 4 hash-disjoint chunks of a synthetic domain: each value lives
    // in exactly one file, each file spans ~the whole range (zone
    // maps keep everything; only the sidecars can skip)
    for (g <- 0 until 4)
      spark.sql(s"INSERT INTO $t SELECT id, " +
        "timestamp_micros(1700000000000000 + id * 1000000), " +
        "date_add(DATE '2020-01-01', CAST(pmod(id * 37, 3000) AS INT)), " +
        "CAST(id AS DOUBLE) * 1.25 " +
        s"FROM range(0, 4000) WHERE pmod(hash(id), 4) = $g")
    def prunedBy(cond: String): (Long, Long) = {
      val b = graft.sources.KvBloomPrune.prunedFiles.get()
      val n = spark.sql(s"SELECT count(*) FROM $t WHERE $cond")
        .collect()(0).getLong(0)
      (n, graft.sources.KvBloomPrune.prunedFiles.get() - b)
    }
    // id=1234: ts token is exactly derivable; its file is the only
    // candidate
    // >= rather than == on prune counts: a ~0.8%-FPR sidecar may
    // deterministically false-positive one extra file open — sound,
    // never wrong rows. Row counts stay exact.
    val (n1, p1) = prunedBy(
      "ts = timestamp_micros(1700000000000000 + 1234 * 1000000)")
    assert(n1 === 1L && p1 >= 2L, s"ts probe: n=$n1 pruned=$p1")
    val (n3, p3) = prunedBy("price = CAST('1542.5' AS DOUBLE)") // id=1234
    assert(n3 === 1L && p3 >= 2L, s"price probe: n=$n3 pruned=$p3")
    // absent IN-RANGE values (zone maps keep every file — the offsets
    // land inside each chunk's [min,max]) prune via sidecars alone
    val (n4, p4) = prunedBy("price = 1542.6") // between two grid points
    assert(n4 === 0L && p4 >= 3L, s"absent price: n=$n4 pruned=$p4")
    val (n5, p5) = prunedBy(
      "ts = timestamp_micros(1700000000500000 + 1234 * 1000000)")
    assert(n5 === 0L && p5 >= 3L, s"absent ts: n=$n5 pruned=$p5")
    // DATE column: pmod(id*37, 3000) collides across chunks, so just
    // require pruning happened and the count is exact
    val dayHits = spark.sql(
      s"""SELECT count(*) FROM $t
         |WHERE day = date_add(DATE '2020-01-01', 1234)"""
        .stripMargin).collect()(0).getLong(0)
    assert(dayHits >= 1L)
    spark.sql(s"DROP TABLE $t")
  }

  test("ALTER SET bloom_cols enables tracking mid-life; UNSET stops") {
    cat()
    val t = "graft_kv.default.bloom_alter"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('p', id) " +
      "FROM range(0, 100)")
    val dir = Paths.get(warehouseDir("bloom_alter"))
    def sidecars: Int = {
      val s = Files.list(dir)
      try {
        val it = s.iterator(); var c = 0
        while (it.hasNext) {
          if (it.next().getFileName.toString.endsWith(".bloom")) c += 1
        }
        c
      } finally s.close()
    }
    assert(sidecars === 0)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('bloom_cols'='value')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('p', id) " +
      "FROM range(100, 200)")
    assert(sidecars >= 1, "post-ALTER writes must track sidecars")
    // pre-ALTER files have no sidecar → unknown → never skipped: a
    // pre-ALTER value still reads exactly
    assert(spark.sql(s"SELECT key FROM $t WHERE value = 'p5'")
      .collect().map(_.getLong(0)).toSeq === Seq(5L))
    // UNSET: tracking stops, reads stay exact (stale sidecars are
    // simply never consulted)
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('bloom_cols')")
    val before = sidecars
    spark.sql(s"INSERT INTO $t SELECT id, concat('p', id) " +
      "FROM range(200, 300)")
    assert(sidecars === before, "post-UNSET writes must not track")
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0)
      .getLong(0) === 300L)
    // validation still applies through ALTER
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
        "('bloom_cols'='key')")
    }
    assert(e.getMessage.contains("key"))
  }

  test("system.zorder refuses a write.sort table (silent no-op trap)") {
    cat()
    val t = "graft_kv.default.bloom_zs"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING, " +
      "a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
    spark.sql(s"INSERT INTO $t SELECT id, 'x', id % 7, id % 11 " +
      "FROM range(0, 100)")
    val e = intercept[Exception] {
      spark.sql("CALL graft_kv.system.zorder(" +
        "table => 'default.bloom_zs', cols => 'a,b')").collect()
    }
    assert(e.getMessage.contains("write.sort"))
  }

  test("runtime join-key sets prune files through the sidecars (DPP)") {
    cat()
    val t = "graft_kv.default.bloom_dpp"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='value')")
    // 4 files with hash-disjoint value sets
    (0 until 4).foreach { g =>
      spark.sql(s"INSERT INTO $t SELECT id, concat('u', id) " +
        s"FROM range(0, 400) WHERE pmod(hash(concat('u', id)), 4) = $g")
    }
    // the dim side needs a SELECTIVE FILTER for Spark's DPP heuristic
    // to inject the pruning subquery (a bare local relation doesn't
    // qualify) — same shape as a filtered dimension table
    spark.range(0, 400).selectExpr("id", "concat('u', id) AS uv")
      .where("id = 137").select("uv")
      .createOrReplaceTempView("bloom_dpp_dim")
    val before = KvBloomPrune.prunedFiles.get()
    // NO static predicate on the fact side: the only route to the
    // sidecars is the runtime filter from the selective dim join
    val rows = spark.sql(
      s"""SELECT f.key FROM $t f
         |JOIN bloom_dpp_dim d ON f.value = d.uv""".stripMargin)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(137L))
    assert(KvBloomPrune.prunedFiles.get() - before >= 2,
      "runtime bloom filtering pruned fewer than 2 of 4 files")
  }

  test("vacuum keeps live sidecars, reclaims orphaned ones") {
    cat()
    val t = "graft_kv.default.bloom_vac"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='value')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) " +
      "FROM range(0, 10)")
    val dir = Paths.get(warehouseDir("bloom_vac"))
    def names: Set[String] = {
      val s = Files.list(dir)
      try {
        val it = s.iterator(); var out = Set.empty[String]
        while (it.hasNext) out += it.next().getFileName.toString
        out
      } finally s.close()
    }
    val live = names.filter(_.endsWith(".bloom"))
    assert(live.nonEmpty)
    // plant an orphan pair (no manifest references it)
    Files.write(dir.resolve("part-orphan-00000.jsonl"),
      "{\"key\":1,\"value\":\"x\"}\n".getBytes)
    Files.write(dir.resolve("part-orphan-00000.jsonl.bloom"),
      "junk".getBytes)
    spark.sql("CALL graft_kv.system.vacuum(" +
      "table => 'default.bloom_vac', older_than_ms => 0)").collect()
    val after = names
    assert(live.subsetOf(after), "vacuum deleted a live sidecar")
    assert(!after.contains("part-orphan-00000.jsonl.bloom"),
      "vacuum kept an orphaned sidecar")
    assert(!after.contains("part-orphan-00000.jsonl"))
    // rows intact after vacuum
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0)
      .getLong(0) === 10L)
  }
}
