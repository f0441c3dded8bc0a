package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.{KvGate, KvGateTable, Page, PageParsers}
import graft.streaming.{StreamGates, StreamingEvents}

/** Queries exercising the custom source and streaming surfaces:
  *   - the `webpage` DataSourceV2 (one InputPartition per URL,
  *     permissive fetch) feeding the same extraction flatMap;
  *   - the shared batch≡stream windowed aggregation, run in batch mode
  *     here (its streaming twin runs in StreamingSpec with an
  *     available-now trigger and must produce the identical result).
  */
object SourceQueries {

  private def webpages(s: SparkSession): DataFrame =
    s.read.format("graft.sources.WebpageDataSource").load()

  /** The DDL of a snapshotted (key, value) kv gate table. */
  private val Snapshotted =
    "(key BIGINT, value STRING) TBLPROPERTIES ('snapshots'='true')"

  /** The bucketed-table pair behind the storage-partitioned-join and
    * runtime-filter gates: orders and lineitem projected to
    * (key, value) and CO-BUCKETED 8 ways on key at write time (the
    * INSERT resolves the catalog's V2 bucket function to cluster rows
    * before writing). Memoized per (session, dir) — the tables are
    * read-only for these gates, like production bucketed facts.
    */
  private val spjTables = new SessionMemo[(KvGateTable, KvGateTable)]

  private def spjPair(
      s: SparkSession, d: String): (KvGateTable, KvGateTable) =
    spjTables.getOrCompute(s, d) {
      val Seq(t1, t2) = Seq("spj_orders", "spj_items").map(
        KvGate.table(s, _,
          "(key BIGINT, value STRING) PARTITIONED BY (bucket(8, key))"))
      s.sql(s"INSERT INTO $t1 SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"INSERT INTO $t2 SELECT l_orderkey, l_returnflag " +
        s"FROM ${Tables.view(s, d, "lineitem")}")
      (t1, t2)
    }

  private def unwrapAqe(
      p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      unwrapAqe(a.executedPlan)
    case other => other
  }

  /** Assert the OUTERMOST key-grouped aggregate's subtree contains no
    * shuffle exchange — the bucketed-aggregation claim: a GROUP BY on
    * the bucket key of a KeyGrouped scan completes (partial AND
    * final) without moving a row.
    */
  private def requireShuffleFreeKeyAgg(
      df: org.apache.spark.sql.DataFrame, gate: String): Unit = {
    val plan = unwrapAqe(df.queryExecution.executedPlan)
    val keyAggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.groupingExpressions.exists(
            _.references.exists(_.name == "key")) => a
    }
    require(keyAggs.nonEmpty,
      s"$gate: no key-grouped hash aggregate in the plan:\n$plan")
    val shuffles = keyAggs.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    require(shuffles.isEmpty,
      s"$gate: the key aggregation SHUFFLED — bucketed aggregation " +
        s"did not engage:\n$plan")
  }

  /** Unwrap AQE, assert there is a shuffle-family join and that NO
    * shuffle exchange feeds it — the storage-partitioned-join claim,
    * checked on the plan that actually ran.
    */
  private def requireShuffleFreeJoin(
      df: org.apache.spark.sql.DataFrame, gate: String): Unit = {
    val plan = unwrapAqe(df.queryExecution.executedPlan)
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    require(joins.nonEmpty,
      s"$gate: no shuffle-family join in the plan:\n$plan")
    val shuffles = joins.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    })
    require(shuffles.isEmpty,
      s"$gate: join children were SHUFFLED — storage-partitioned " +
        s"join did not engage:\n$plan")
  }

  /** The sorted-layout claim on top of the SPJ one: the sort-merge
    * join's children contain NO SortExec either — the scans'
    * reported key ordering (SupportsReportOrdering) satisfied the
    * join's requirement directly.
    */
  private def requireSortFreeJoin(
      df: org.apache.spark.sql.DataFrame, gate: String): Unit = {
    val plan = unwrapAqe(df.queryExecution.executedPlan)
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    require(joins.nonEmpty,
      s"$gate: no sort-merge join in the plan:\n$plan")
    val sorts = joins.flatMap(_.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    })
    require(sorts.isEmpty,
      s"$gate: join children were RE-SORTED — the reported key " +
        s"ordering did not engage:\n$plan")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // V2 scan shape: one row per successfully-fetched URL.
    "webpage_scan" -> ((s, _) =>
      webpages(s)
        .groupBy("url")
        .agg(count(lit(1)).as("n_pages"))
        .orderBy("url")),

    // Pushdown through the V2 source: the url predicate prunes the
    // PARTITION LIST at planning (filtered-out pages are never
    // fetched) and the url-only projection prunes content reads
    // entirely in fixture mode — WebpagePushdownSpec counts both
    // skips; this query pins that the pruned scan still returns
    // exactly the right rows through the gate.
    "webpage_pushdown" -> ((s, _) =>
      webpages(s)
        .where(col("url") === graft.sources.PageParsers.ImdbUrl)
        .select(col("url"))
        .orderBy("url")),

    // METADATA COLUMN through the V2 source — the `_metadata`-style
    // provenance hook (Kafka's partition/offset shape) on a custom
    // connector: `_partition_idx` is hidden until a query names it,
    // and reports the row's InputPartition ordinal in the TABLE's
    // url list. The oracle pins the full url→ordinal mapping
    // literally, so renumbering under pruning or a misrouted row
    // breaks the gate.
    "webpage_metadata_cols" -> ((s, _) =>
      webpages(s)
        .select(col("url"), col("_partition_idx"))
        .orderBy("url")),

    // Full ingest through the V2 source: identical output (and oracle)
    // to raw_rankings, which reads fixtures without the connector.
    "webpage_rankings" -> ((s, _) => {
      import s.implicits._
      webpages(s)
        .as[Page]
        .flatMap(PageParsers.parse _)
        .toDF()
        .orderBy(col("url"), col("rank"), col("title"))
    }),

    // The ENTIRE ingest expressed purely in SQL: the V2 source mounted
    // with CREATE TEMPORARY VIEW ... USING, extraction via the
    // parse_movies Generator (LATERAL VIEW → a Generate plan node).
    // Must hash-match the raw_rankings oracle exactly.
    "rankings_sql" -> ((s, _) => {
      graft.functions.ParseMoviesGenerator.register(s)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW webpage_sql
          |USING graft.sources.WebpageDataSource""".stripMargin)
      s.sql(
        """SELECT url, pm.rank AS rank, pm.title AS title
          |FROM webpage_sql
          |LATERAL VIEW parse_movies(url, html) pm AS rank, title
          |ORDER BY url, rank, title""".stripMargin)
    }),

    // Distributed write through the custom DataSourceV2 SINK (kvjsonl:
    // task-attempt temp files → driver-side publish of exactly the
    // committed attempts + _SUCCESS manifest — the exactly-once write
    // protocol), then read back with the JSON source and aggregated.
    // Pins the whole write path through the oracle gate; V2SinkSpec
    // drives the protocol edges (duplicate attempts, temp invisibility)
    // directly.
    "v2_sink_roundtrip" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "v2_sink")
      graft.Tables.orders(s, d)
        .select(
          col("o_orderkey").as("key"),
          col("o_orderpriority").as("value"))
        .write.format("graft.sources.KvJsonlSink")
        .mode("overwrite")
        .save(dir)
      // pathGlobFilter rather than a glob IN the path: Spark 4.1's
      // single-pass resolver resolves an in-path glob literally,
      // throws FileNotFoundException, and falls back to the
      // fixed-point analyzer — correct result, but a full exception
      // stack in every verify log. The option form avoids the
      // dual-run quirk entirely.
      s.read
        .schema(graft.sources.KvJsonlSink.Schema)
        .option("pathGlobFilter", "*.jsonl")
        .json(dir)
        .groupBy("value")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("key")).as("sum_keys"))
        .orderBy("value")
    }),

    // SQL row-level DML on the kv connector, part 1: DELETE FROM.
    // The table lives in the custom `graft_kv` TableCatalog
    // (KvCatalog.scala); DELETE resolves through
    // SupportsRowLevelOperations into the GROUP-BASED copy-on-write
    // rewrite — a fully distributed plan (scan + surviving-rows
    // filter + two-phase-commit replace), the same protocol
    // Delta/Iceberg run per file group, never a driver-side row loop.
    // The oracle applies the inverse predicate to the raw orders:
    // hash equality proves DELETE removed exactly the matching rows.
    "catalog_dml_delete" -> ((s, d) => {
      val t = KvGate.table(s, "dml_del")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"DELETE FROM $t WHERE key % 3 = 0")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // Part 2: UPDATE — same rewrite machinery, with the update
    // projection (CASE on the condition) computed inside the
    // distributed query. The oracle recomputes the post-image from
    // the raw orders.
    "catalog_dml_update" -> ((s, d) => {
      val t = KvGate.table(s, "dml_upd")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"UPDATE $t SET value = concat('X-', value) " +
        s"WHERE key % 5 = 0")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // Part 3: MERGE INTO — the upsert: even-keyed orders as the
    // target, multiple-of-3-keyed orders (re-valued) as the source;
    // matched rows update, unmatched insert. The oracle is the
    // equivalent full-outer-join post-image. This is the operation a
    // 100 TB dimension-maintenance pipeline runs per batch; here it
    // plans as one distributed merge join + replace commit.
    "catalog_dml_merge" -> ((s, d) => {
      val t = KvGate.table(s, "dml_mrg")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 0")
      s.sql(s"SELECT o_orderkey AS key, " +
        s"concat('M-', o_orderpriority) AS value " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 3 = 0")
        .createOrReplaceTempView("dml_mrg_src")
      s.sql(
        s"""MERGE INTO $t AS tgt USING dml_mrg_src AS src
           |ON tgt.key = src.key
           |WHEN MATCHED THEN UPDATE SET value = src.value
           |WHEN NOT MATCHED THEN INSERT (key, value)
           |  VALUES (src.key, src.value)""".stripMargin)
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // Catalog MAINTENANCE procedure (Spark 4's V2 ProcedureCatalog —
    // the rewrite_data_files shape): a 16-file fragmented table
    // compacted to 2 through `CALL graft_kv.system.compact(...)`, a
    // DISTRIBUTED rewrite under the connector's atomic
    // truncate+publish commit. File counts are require()d in the gate
    // (16 -> 2, fail-loud); the hashed result is the post-compaction
    // data, pinned against raw orders — compaction must be lossless.
    // At 100 TB file COUNT, not bytes, is what kills scan planning;
    // this is the SQL-invocable twin of compact_small_files.
    "catalog_compact_call" -> ((s, d) => {
      val t = KvGate.table(s, "cmp_gate")
      s.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(16) */ " +
        s"o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      val res = s.sql(
        s"CALL graft_kv.system.compact(table => ${t.arg}, " +
          "target_files => 2)").collect().head
      require(res.getLong(0) == 16L && res.getLong(1) == 2L,
        s"compact file counts off: $res")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // TIME TRAVEL (`VERSION AS OF`, the Delta/Iceberg snapshot-read
    // shape on the kv catalog): a table created with snapshots on
    // retains every commit's membership in a manifest — the batch
    // commit stops deleting replaced files and publishes the next
    // manifest instead — so v1 (first insert), v2 (append) and v3
    // (post-DELETE, the copy-on-write rewrite) are ALL readable at
    // once. The gate reads all three versions in one query and the
    // oracle recomputes each state from the raw parquet: any
    // membership leak between versions (a deleted row resurfacing, a
    // retained file bleeding into the current read) breaks the hash.
    "catalog_time_travel" -> ((s, d) => {
      val t = KvGate.table(s, "tt_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 1")
      s.sql(s"DELETE FROM $t WHERE key % 3 = 0")
      s.sql(
        s"""SELECT * FROM (
           |  SELECT 1 AS version, value, count(*) AS n_orders,
           |         sum(key) AS sum_keys
           |  FROM $t VERSION AS OF 1 GROUP BY value
           |  UNION ALL
           |  SELECT 2, value, count(*), sum(key)
           |  FROM $t VERSION AS OF 2 GROUP BY value
           |  UNION ALL
           |  SELECT 3, value, count(*), sum(key)
           |  FROM $t GROUP BY value)
           |ORDER BY version, value""".stripMargin)
    }),

    // SNAPSHOT EXPIRATION (`system.expire_snapshots`, Iceberg's
    // reclamation procedure): after the same v1/v2/v3 history,
    // keep_last => 1 must drop exactly two manifests and physically
    // delete only the files no surviving snapshot references — the
    // require()s pin the counts and that time travel to v1 now fails,
    // while the hashed result proves the CURRENT data is untouched by
    // the reclamation.
    "catalog_expire_call" -> ((s, d) => {
      val t = KvGate.table(s, "exp_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 1")
      s.sql(s"DELETE FROM $t WHERE key % 3 = 0")
      val res = s.sql(
        "CALL graft_kv.system.expire_snapshots(" +
          s"table => ${t.arg}, keep_last => 1)")
        .collect().head
      require(res.getLong(0) == 3L && res.getLong(1) == 1L &&
          res.getLong(2) > 0L,
        s"expire_snapshots counts off: $res")
      val gone =
        try { s.sql(s"SELECT count(*) FROM $t VERSION AS OF 1")
          .collect(); false }
        catch {
          // ONLY the expiration error counts as pass — a catch-all
          // would let any unrelated failure (catalog misconfig, IO)
          // masquerade as "v1 expired". Spark may wrap the catalog's
          // error, so the cause chain is searched.
          case e: Exception =>
            val msgs = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null).take(5)
              .flatMap(t => Option(t.getMessage)).mkString(" | ")
            if (msgs.contains("no snapshot v1")) true else throw e
        }
      require(gone,
        "catalog_expire_call: v1 still readable after expiration")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // SNAPSHOT MIGRATION (ALTER TABLE ... SET TBLPROPERTIES
    // ('snapshots'='true') on an EXISTING table): enablement is
    // metadata-only — the live files become snapshot v1 without a
    // scan (row counts stay unknown until the next rewrite refreshes
    // them), and history accumulates from that point. The gate reads
    // v1 (the pre-migration state), v2 (post-append) and v3
    // (post-DELETE) in one query; a migration that lost, duplicated,
    // or re-scanned membership breaks the hash against the raw-parquet
    // oracle.
    "catalog_enable_snapshots" -> ((s, d) => {
      val t = KvGate.table(s, "mig_gate") // plain table, no snapshots
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 0")
      s.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 1")
      s.sql(s"DELETE FROM $t WHERE key % 3 = 0")
      s.sql(
        s"""SELECT * FROM (
           |  SELECT 1 AS version, value, count(*) AS n_orders,
           |         sum(key) AS sum_keys
           |  FROM $t VERSION AS OF 1 GROUP BY value
           |  UNION ALL
           |  SELECT 2, value, count(*), sum(key)
           |  FROM $t VERSION AS OF 2 GROUP BY value
           |  UNION ALL
           |  SELECT 3, value, count(*), sum(key)
           |  FROM $t GROUP BY value)
           |ORDER BY version, value""".stripMargin)
    }),

    // MANIFEST-ANSWERED COUNT(*) (aggregate pushdown into the custom
    // connector): snapshot manifests record per-file row counts at
    // commit time (the tasks counted anyway), so a bare count(*)
    // pushes down completely — the scan emits ONE row computed from
    // the manifest and never opens a data file. The DELETE before the
    // count forces the counts through a copy-on-write rewrite, so a
    // stale or double-counted manifest breaks the hash; the require()
    // pins that the manifest path (not a data scan) actually answered.
    // At 100 TB this is the difference between a metadata lookup and
    // a table scan.
    "catalog_count_pushdown" -> ((s, d) => {
      val t = KvGate.table(s, "cnt_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"DELETE FROM $t WHERE key % 5 = 0")
      graft.sources.KvAggScan.served.set(0)
      val rows = s.sql(s"SELECT count(*) AS n_orders FROM $t").collect()
      require(graft.sources.KvAggScan.served.get() > 0,
        "catalog_count_pushdown: count(*) was answered by a data " +
          "scan, not the manifest")
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "n_orders", org.apache.spark.sql.types.LongType,
            nullable = false))))
    }),

    // ZONE-MAP FILE SKIPPING (manifest min/max stats): the snapshot
    // manifest records each file's key range at commit, so a pushed
    // key predicate prunes whole files WITHOUT OPENING them — the
    // row-group-stats skip parquet footers provide, recovered for a
    // plain line format. The insert range-clusters by key (the layout
    // that makes zone maps selective, as a production table sorted on
    // ingest would be), the predicate keeps only the low range, and
    // the require() pins that files were actually skipped; the oracle
    // pins that skipping lost nothing.
    "catalog_zonemap_prune" -> ((s, d) => {
      val t = KvGate.table(s, "zm_gate", Snapshotted)
      s.sql(s"INSERT INTO $t " +
        s"SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */ " +
        s"o_orderkey, o_orderpriority FROM ${Tables.view(s, d, "orders")}")
      graft.sources.KvZoneMap.prunedFiles.set(0)
      val df = s.sql(
        s"""SELECT value, count(*) AS n_orders, sum(key) AS sum_keys
           |FROM $t WHERE key <= 1000
           |GROUP BY value ORDER BY value""".stripMargin)
      val rows = df.collect()
      require(graft.sources.KvZoneMap.prunedFiles.get() > 0,
        "catalog_zonemap_prune: no files were zone-map skipped")
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
    }),

    // MANIFEST-ANSWERED MIN/MAX (the aggregate-pushdown vector
    // beyond COUNT): count(*), min(key) and max(key) in ONE query,
    // all answered from the manifest's per-file stats in a single
    // metadata row — zero data files opened, require()d. The DELETE
    // beforehand forces the stats through a copy-on-write rewrite.
    "catalog_minmax_pushdown" -> ((s, d) => {
      val t = KvGate.table(s, "mm_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"DELETE FROM $t WHERE key % 5 = 0")
      graft.sources.KvAggScan.served.set(0)
      val df = s.sql(s"SELECT count(*) AS n_orders, " +
        s"min(key) AS min_key, max(key) AS max_key FROM $t")
      val rows = df.collect()
      require(graft.sources.KvAggScan.served.get() > 0,
        "catalog_minmax_pushdown: aggregates were answered by a " +
          "data scan, not the manifest")
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
    }),

    // TABLE CHANGE FEED (streaming reads of a snapshotted kv table —
    // the Delta-CDF / Iceberg-incremental-read shape): the table's
    // snapshot manifests double as the streaming offset log, one
    // COMMIT per micro-batch via admission control, each batch
    // carrying exactly its commit's added files. Three INSERTs →
    // exactly three data micro-batches (require()d from query
    // progress), drained with AvailableNow against the drain target
    // captured at prepare time; the oracle pins the union of the
    // three commits against raw orders — a lost, duplicated, or
    // misattributed commit breaks either the batch-count require or
    // the hash.
    "catalog_changefeed" -> ((s, d) => {
      val t = KvGate.table(s, "cf_gate", Snapshotted)
      for (r <- 0 to 2)
        s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
          s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 3 = $r")
      val (rows, progress) =
        StreamGates.memory(s.readStream.table(t.qualified), "cf_gate")
      val dataBatches = StreamGates.dataBatches(progress)
      require(dataBatches == 3,
        s"catalog_changefeed: expected 3 one-commit micro-batches, " +
          s"saw $dataBatches")
      rows
        .groupBy("value")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("key")).as("sum_keys"))
        .orderBy("value")
    }),

    // STORAGE-PARTITIONED JOIN (SPARK-37377, the Iceberg bucket-join
    // shape): two kv tables co-bucketed 8 ways on key, scans
    // reporting KeyGroupedPartitioning over the catalog-served V2
    // bucket function, joined with broadcast suppressed — planned as
    // a sort-merge join whose children are the raw scans, ZERO
    // shuffle. At 100 TB the join shuffle is THE dominant cost of a
    // fact-fact join; co-bucketing at write time makes every
    // subsequent co-keyed join exchange-free. The gate require()s the
    // executed plan shuffle-free below the join (fail-loud — a silent
    // fallback to a shuffled join would still produce correct rows),
    // and the oracle pins the join result against the raw parquet.
    "catalog_spj_join" -> ((s, d) => {
      val (t1, t2) = spjPair(s, d)
      graft.Confs.scoped(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        // plain (non-AQE) plan so the no-shuffle assertion can walk
        // the join subtree without query-stage opacity
        "spark.sql.adaptive.enabled" -> "false") {
        val df = s.sql(
          s"""SELECT a.value AS priority, b.value AS flag,
             |count(*) AS n_items, sum(b.key) AS sum_keys
             |FROM $t1 a JOIN $t2 b ON a.key = b.key
             |GROUP BY a.value, b.value
             |ORDER BY priority, flag""".stripMargin)
        val rows = df.collect()
        requireShuffleFreeJoin(df, "catalog_spj_join")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      }
    }),

    // SORTED STORAGE-PARTITIONED JOIN (the full Iceberg bucket +
    // sort-order layout): two tables co-bucketed 8 ways AND
    // 'write.sort'='key' — each bucket's single file is key-ascending
    // and the scans REPORT that ordering (SupportsReportOrdering), so
    // the sort-merge join plans with ZERO exchanges (SPJ) and ZERO
    // sorts (the reported ordering satisfies the join requirement).
    // At 100 TB the sort of a fact-fact join is the second cost after
    // its shuffle; this layout removes both for every co-keyed join.
    // Both plan facts are require()d on the executed plan; rows pin
    // against DuckDB joining the raw parquet.
    "catalog_sorted_join" -> ((s, d) => {
      val Seq(t1, t2) = Seq("ssj_orders", "ssj_items").map(
        KvGate.table(s, _, "(key BIGINT, value STRING) " +
          "PARTITIONED BY (bucket(8, key)) " +
          "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')"))
      s.sql(s"INSERT INTO $t1 SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"INSERT INTO $t2 SELECT l_orderkey, l_returnflag " +
        s"FROM ${Tables.view(s, d, "lineitem")}")
      graft.Confs.scoped(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val df = s.sql(
          s"""SELECT a.value AS priority, b.value AS flag,
             |count(*) AS n_items, sum(b.key) AS sum_keys
             |FROM $t1 a JOIN $t2 b ON a.key = b.key
             |GROUP BY a.value, b.value
             |ORDER BY priority, flag""".stripMargin)
        val rows = df.collect()
        requireShuffleFreeJoin(df, "catalog_sorted_join")
        requireSortFreeJoin(df, "catalog_sorted_join")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      }
    }),

    // NAMED-KEY STORAGE-PARTITIONED JOIN — the catalog_sorted_join
    // twin over tables whose key columns carry their REAL names
    // (`PARTITIONED BY (bucket(8, o_orderkey))`): the key is a ROLE
    // (field id 1), not a column literally named `key`, so the whole
    // zero-exchange zero-sort machinery — bucket routing, the
    // KeyGroupedPartitioning claim, the SupportsReportOrdering claim,
    // zone maps — must work for the schema a real adopter has
    // (o_orderkey / l_orderkey / user_id / doc_id) without a rename
    // migration. Same plan-fact require()s as the `key`-named twin;
    // rows pin against DuckDB joining the raw parquet. Note the two
    // sides are bucketed over DIFFERENTLY-named columns — SPJ
    // compatibility is keyed to the join condition and the shared V2
    // bucket function, never to name equality.
    "catalog_spj_named" -> ((s, d) => {
      val t1 = KvGate.table(s, "spjn_orders", "(o_orderkey BIGINT, value " +
        "STRING) PARTITIONED BY (bucket(8, o_orderkey)) TBLPROPERTIES " +
        "('snapshots'='true', 'write.sort'='o_orderkey')")
      val t2 = KvGate.table(s, "spjn_items", "(l_orderkey BIGINT, value " +
        "STRING) PARTITIONED BY (bucket(8, l_orderkey)) TBLPROPERTIES " +
        "('snapshots'='true', 'write.sort'='l_orderkey')")
      s.sql(s"INSERT INTO $t1 SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"INSERT INTO $t2 SELECT l_orderkey, l_returnflag " +
        s"FROM ${Tables.view(s, d, "lineitem")}")
      graft.Confs.scoped(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val df = s.sql(
          s"""SELECT a.value AS priority, b.value AS flag,
             |count(*) AS n_items, sum(b.l_orderkey) AS sum_keys
             |FROM $t1 a JOIN $t2 b ON a.o_orderkey = b.l_orderkey
             |GROUP BY a.value, b.value
             |ORDER BY priority, flag""".stripMargin)
        val rows = df.collect()
        requireShuffleFreeJoin(df, "catalog_spj_named")
        requireSortFreeJoin(df, "catalog_spj_named")
        // key-predicate pushdown follows the role under the real name
        // too: a point lookup on o_orderkey must skip rows in the
        // READER (the pushed-key fast path), not just re-filter
        // materialized rows in Spark
        val probe = s.sql(s"SELECT min(o_orderkey) FROM " +
          s"${Tables.view(s, d, "orders")}").collect()(0).getLong(0)
        val skBefore = graft.sources.KvKeyPredicate.skipped.get()
        val one = s.sql(
          s"SELECT count(*) AS n FROM $t1 WHERE o_orderkey = $probe")
          .collect()(0).getLong(0)
        require(one == 1L,
          s"catalog_spj_named: point lookup on the named key " +
            s"returned $one rows")
        require(graft.sources.KvKeyPredicate.skipped.get() > skBefore,
          "catalog_spj_named: a named-key point lookup skipped no " +
            "reader rows — key pushdown did not follow the key role")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      }
    }),

    // STRING-KEYED TABLE — the key role at its second TYPE: a table
    // keyed by `doc_id STRING` (the identifier shape a document /
    // URL / content-hash pipeline actually has) with hash bucketing
    // (`floorMod(hash(key), n)` — Spark's own `hash()`), a bloom
    // sidecar ON THE KEY (string keys record no zone maps — the
    // manifest's unescaped token format can't hold string bounds —
    // so the sidecar is their whole file-skip machinery), reader-side
    // pushed-key row skipping, and exact-count pushdown. The gate
    // require()s a point lookup of an ABSENT key pruned whole files
    // via the sidecar; rows (including the min/max computed by the
    // FALLBACK scan — MIN/MAX(key) pushdown declines for string
    // keys by design) pin against DuckDB.
    "catalog_string_key" -> ((s, d) => {
      val t = KvGate.table(s, "skg_docs", "(doc_id STRING, value STRING) " +
        "PARTITIONED BY (bucket(8, doc_id)) TBLPROPERTIES " +
        "('snapshots'='true', 'bloom_cols'='doc_id')")
      s.sql(s"INSERT INTO $t SELECT concat('d-', doc_id), lang " +
        s"FROM ${Tables.view(s, d, "documents")}")
      val before = graft.sources.KvBloomPrune.prunedFiles.get()
      require(s.sql(
        s"SELECT count(*) FROM $t WHERE doc_id = 'd-absent'")
        .collect()(0).getLong(0) == 0L,
        "catalog_string_key: phantom row for an absent key")
      require(graft.sources.KvBloomPrune.prunedFiles.get() > before,
        "catalog_string_key: an absent-key point lookup pruned no " +
          "files — the key bloom sidecar did not engage")
      s.sql(
        s"""SELECT value, count(*) AS n_docs,
           |       min(doc_id) AS min_id, max(doc_id) AS max_id
           |FROM $t GROUP BY value ORDER BY value""".stripMargin)
    }),

    // STRING-KEY STORAGE-PARTITIONED JOIN: two tables co-bucketed 8
    // ways on STRING keys join with ZERO shuffle — the scans report
    // KeyGroupedPartitioning over the same served V2 bucket function,
    // now bound at (INT, STRING). This is the join shape of every
    // doc-keyed curation pipeline (dedup verdicts ⋈ quality scores ⋈
    // provenance, all keyed by doc_id) — at 100 TB co-bucketing at
    // write time makes each of those joins exchange-free, exactly as
    // for BIGINT keys. Plan fact require()d; rows pin against DuckDB
    // joining the raw parquet.
    "catalog_spj_string" -> ((s, d) => {
      val t1 = KvGate.table(s, "sks_orders", "(o_id STRING, value STRING) " +
        "PARTITIONED BY (bucket(8, o_id)) TBLPROPERTIES " +
        "('snapshots'='true')")
      val t2 = KvGate.table(s, "sks_items", "(l_id STRING, value STRING) " +
        "PARTITIONED BY (bucket(8, l_id)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $t1 SELECT concat('o-', o_orderkey), " +
        s"o_orderpriority FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"INSERT INTO $t2 SELECT concat('o-', l_orderkey), " +
        s"l_returnflag FROM ${Tables.view(s, d, "lineitem")}")
      graft.Confs.scoped(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val df = s.sql(
          s"""SELECT a.value AS priority, b.value AS flag,
             |count(*) AS n_items
             |FROM $t1 a JOIN $t2 b ON a.o_id = b.l_id
             |GROUP BY a.value, b.value
             |ORDER BY priority, flag""".stripMargin)
        val rows = df.collect()
        requireShuffleFreeJoin(df, "catalog_spj_string")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      }
    }),

    // DML + CDC over a STRING-keyed table: copy-on-write DELETE on a
    // key-prefix predicate, a point UPDATE on one key, and the
    // `$changes` feed carrying string-keyed change rows — the
    // incremental-curation loop (retract documents, patch labels,
    // stream the diff) run entirely on the doc_id-keyed asset. The
    // CDC row counts are require()d against the DML's own row
    // counts; the final table state pins against DuckDB applying the
    // same DML to the raw parquet.
    "catalog_string_dml" -> ((s, d) => {
      val t = KvGate.table(s, "skd_docs", "(doc_id STRING, value STRING) " +
        "PARTITIONED BY (bucket(4, doc_id)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT concat('d-', doc_id), lang " +
        s"FROM ${Tables.view(s, d, "documents")}")
      val delOk = s.sql(s"SELECT count(*) FROM $t " +
        "WHERE doc_id LIKE 'd-1%'").collect()(0).getLong(0)
      s.sql(s"DELETE FROM $t WHERE doc_id LIKE 'd-1%'")
      s.sql(s"UPDATE $t SET value = concat('X-', value) " +
        "WHERE doc_id = 'd-42'")
      // A CoW rewrite restates rewritten files' survivors as
      // delete+insert pairs (the honest file-granular diff), so the
      // DELETE's CDC contract is the NET row change of its commit.
      val net = s.sql(
        s"""SELECT sum(CASE _change_type WHEN 'delete' THEN 1
           |           ELSE -1 END)
           |FROM ${t.meta("changes")}
           |WHERE _commit_version = 2""".stripMargin)
        .collect()(0).getLong(0)
      require(net == delOk,
        s"catalog_string_dml: CDC nets $net removed rows for a " +
          s"$delOk-row string-keyed DELETE")
      s.sql(
        s"""SELECT value, count(*) AS n_docs
           |FROM $t GROUP BY value ORDER BY value""".stripMargin)
    }),

    // RUNTIME JOIN-KEY FILTERING on a STRING key: a selective dim
    // join materializes its doc_id keys at runtime and the
    // string-keyed fact scan prunes WHOLE BUCKETS by the key set's
    // bucket image under floorMod(hash(key), n) — a 3-key set covers
    // at most 3 of 8 buckets, so ≥5 buckets of fact files are never
    // opened — then row-skips the opened files' non-matching keys.
    // The string twin of catalog_runtime_filter: at 100 TB this is
    // the dimension-driven fact pruning a doc_id-keyed curation join
    // gets with NO static predicate on the fact side at all. Both
    // prune counters require()d; rows pin against DuckDB running the
    // same join on raw parquet.
    "catalog_string_runtime" -> ((s, d) => {
      val t = KvGate.table(s, "srt_docs", "(doc_id STRING, value STRING) " +
        "PARTITIONED BY (bucket(8, doc_id)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT concat('d-', doc_id), lang " +
        s"FROM ${Tables.view(s, d, "documents")}")
      // the dim's join key must be an ATTRIBUTE for the runtime
      // filter to inject (a concat() in the join condition is not a
      // pruning key) — materialize the string-keyed dim once, then
      // filter it selectively at query time, the shape of a real
      // doc_id dimension. It is read back with the written frame's
      // schema, as a staged replay is, not inferred from its footer.
      val dimDir = graft.Fs.scratch(s, "srt_dim")
      val dim = s.sql(s"SELECT concat('d-', doc_id) AS k, " +
        s"doc_id AS raw_id FROM ${Tables.view(s, d, "documents")}")
      dim.write.mode("overwrite").parquet(dimDir)
      s.read.schema(dim.schema).parquet(dimDir)
        .createOrReplaceTempView("srt_dim")
      graft.sources.KvRuntimeFilter.prunedFiles.set(0)
      graft.sources.KvRuntimeFilter.rowSkips.set(0)
      val df = s.sql(
        s"""SELECT b.value AS lang, count(*) AS n_docs
           |FROM $t b JOIN srt_dim o
           |ON b.doc_id = o.k
           |WHERE o.raw_id IN (7, 19, 42)
           |GROUP BY b.value ORDER BY lang""".stripMargin)
      val rows = df.collect()
      require(graft.sources.KvRuntimeFilter.prunedFiles.get() > 0,
        "catalog_string_runtime: no bucket files were pruned — the " +
          "runtime string-key set never reached the kv scan")
      require(graft.sources.KvRuntimeFilter.rowSkips.get() > 0,
        "catalog_string_runtime: no reader row skips — the opened " +
          "buckets never applied the string key set")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }),

    // COMPOSED LAYOUT — `PARTITIONED BY (months(o_ts),
    // bucket(8, o_orderkey))`: the standard 100 TB fact layout,
    // temporal unit for retention/pruning × hash bucket for
    // exchange-free joins, composed in ONE table (Iceberg's
    // multi-transform spec). File names carry BOTH tokens
    // (`-m334-b0007.jsonl`); the partition pruner and the bucket
    // machinery each parse their own, so the two claims compose with
    // no cross-knowledge: the gate's one query both PRUNES months
    // below the timestamp predicate (files never opened, counter
    // require()d) and joins a co-bucketed table with ZERO shuffles
    // (plan fact require()d). Rows pin against DuckDB running the
    // same filtered join on raw parquet.
    "catalog_composed_layout" -> ((s, d) => {
      val t1 = KvGate.table(s, "cl_orders", "(o_orderkey BIGINT, value " +
        "STRING, o_ts TIMESTAMP) PARTITIONED BY (months(o_ts), bucket(8, " +
        "o_orderkey)) TBLPROPERTIES ('snapshots'='true')")
      val t2 = KvGate.table(s, "cl_items", "(l_orderkey BIGINT, value " +
        "STRING) PARTITIONED BY (bucket(8, l_orderkey)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $t1 SELECT o_orderkey, o_orderpriority, " +
        s"o_orderdate FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"INSERT INTO $t2 SELECT l_orderkey, l_returnflag " +
        s"FROM ${Tables.view(s, d, "lineitem")}")
      graft.Confs.scoped(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val before = graft.sources.KvPartitionPrune.prunedFiles.get()
        val df = s.sql(
          s"""SELECT a.value AS priority, b.value AS flag,
             |count(*) AS n_items
             |FROM $t1 a JOIN $t2 b ON a.o_orderkey = b.l_orderkey
             |WHERE a.o_ts >= TIMESTAMP '1995-06-01 00:00:00'
             |GROUP BY a.value, b.value
             |ORDER BY priority, flag""".stripMargin)
        val rows = df.collect()
        requireShuffleFreeJoin(df, "catalog_composed_layout")
        require(
          graft.sources.KvPartitionPrune.prunedFiles.get() > before,
          "catalog_composed_layout: the timestamp predicate pruned " +
            "no month files — composed names broke partition pruning")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      }
    }),

    // RUNTIME BLOOM FILTERING — dynamic pruning for columns no layout
    // clusters by: the scan declares its bloom columns as runtime
    // filter attributes (SupportsRuntimeV2Filtering), so a selective
    // dim join on the bloomed string column materializes the dim
    // keys, hands them to the scan, and whole fact FILES are skipped
    // through the sidecars before opening — DPP semantics on a
    // high-cardinality value column. The gate joins a hash-chunked
    // bloomed fact against a filtered dim and require()s files were
    // bloom-pruned AT RUNTIME (no static predicate on the fact side
    // at all); rows pin against DuckDB running the same join.
    "catalog_runtime_bloom" -> ((s, d) => {
      val t = KvGate.table(s, "rbf_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='value')")
      for (g <- 0 until 4)
        s.sql(s"INSERT INTO $t SELECT o_orderkey, " +
          "concat('c', o_custkey) " +
          s"FROM ${Tables.view(s, d, "orders")} " +
          s"WHERE pmod(hash(o_custkey), 4) = $g")
      val before = graft.sources.KvBloomPrune.prunedFiles.get()
      val df = s.sql(
        s"""SELECT f.value, count(*) AS n_orders,
           |       CAST(sum(f.key) AS BIGINT) AS sum_keys
           |FROM $t f JOIN (
           |  SELECT concat('c', c_custkey) AS cv
           |  FROM ${Tables.view(s, d, "customer")}
           |  WHERE c_custkey IN (7, 19)
           |) c ON f.value = c.cv
           |GROUP BY f.value ORDER BY f.value""".stripMargin)
      val rows = df.collect()
      require(rows.nonEmpty, "catalog_runtime_bloom: empty join")
      val pruned =
        graft.sources.KvBloomPrune.prunedFiles.get() - before
      require(pruned > 0,
        "catalog_runtime_bloom: no files were bloom-pruned — the " +
          "runtime join-key set never reached the sidecars")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }),

    // PER-BUCKET COMPACTION (system.rewrite_buckets — Iceberg's
    // rewrite_data_files + rewrite_position_delete_files for the
    // bucketed layout): a fragmented sorted table (two appends →
    // 2 files/bucket) rewrites to ONE key-sorted file per bucket —
    // the file-count maintenance that bounds per-bucket merge fan-in
    // — and the MoR twin FOLDS its tombstones, bounding read
    // amplification at 100 TB. The ordering claim itself is
    // CONTINUOUS (fragmented buckets k-way merge at read —
    // KvMergingBucketReader), require()d to hold both before and
    // after. Post-rewrite rows pin against DuckDB applying the same
    // DELETE.
    "catalog_rewrite_buckets" -> ((s, d) => {
      val t = KvGate.table(s, "rw_gate", "(key BIGINT, value STRING) " +
        "PARTITIONED BY (bucket(8, key)) TBLPROPERTIES " +
        "('snapshots'='true', 'write.sort'='key')")
      // two appends split on a column UNCORRELATED with the bucket
      // key, so both hit every bucket (a key-derived split would land
      // disjoint buckets and never fragment)
      for (cond <- Seq("o_totalprice < 150000.0",
          "o_totalprice >= 150000.0"))
        s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
          s"FROM ${Tables.view(s, d, "orders")} WHERE $cond")
      def reported: Int = s.sql(s"SELECT key, value FROM $t")
        .queryExecution.executedPlan.collectLeaves().collect {
          case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b.ordering.map(_.size).getOrElse(0)
        }.sum
      def dataFiles: Long = {
        graft.sources.KvSnapshots.dataFiles(
          graft.sources.KvSnapshots.membersWithStats(t.dir,
            graft.sources.KvSnapshots.latest(t.dir).get)).size.toLong
      }
      require(dataFiles > 8L,
        "catalog_rewrite_buckets: the two appends did not fragment")
      require(reported > 0,
        "catalog_rewrite_buckets: a fragmented sorted layout must " +
          "STILL report ordering (merge read)")
      s.sql(s"DELETE FROM $t WHERE key % 9 = 0")
      val out = s.sql("CALL graft_kv.system.rewrite_buckets(" +
        s"table => ${t.arg})").collect()(0)
      require(out.getLong(1) == 8L,
        s"catalog_rewrite_buckets: expected 8 files after, got " +
          out.getLong(1))
      require(reported > 0,
        "catalog_rewrite_buckets: the ordering claim fell over " +
          "after the rewrite")
      // MoR twin: the rewrite FOLDS accumulated tombstones
      val tm = KvGate.table(s, "rw_gate_mor", "(key BIGINT, value STRING) " +
        "PARTITIONED BY (bucket(4, key)) TBLPROPERTIES " +
        "('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $tm SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey < 1000")
      s.sql(s"DELETE FROM $tm WHERE key % 2 = 0")
      val outM = s.sql("CALL graft_kv.system.rewrite_buckets(" +
        s"table => ${tm.arg})").collect()(0)
      require(outM.getLong(2) >= 1L,
        "catalog_rewrite_buckets: no tombstone files were folded")
      val expectLive = s.sql(
        s"""SELECT count(*) FROM ${Tables.view(s, d, "orders")}
           |WHERE o_orderkey < 1000 AND o_orderkey % 2 != 0"""
          .stripMargin).collect()(0).getLong(0)
      require(outM.getLong(3) == expectLive,
        s"catalog_rewrite_buckets: MoR fold lost rows — expected " +
          s"$expectLive, got ${outM.getLong(3)}")
      s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t GROUP BY value ORDER BY value""".stripMargin)
    }),

    // BUCKET-COUNT EVOLUTION (system.rebucket) + BOUNDED PER-BUCKET
    // FILE SIZE (rewrite_buckets target_files_per_bucket) — the two
    // round-16 scale gaps in one lifecycle: (1) a fragmented sorted
    // bucket(8) fact table range-splits into ≥2 key-disjoint sorted
    // files PER BUCKET (the 100 TB file-size bound; one file per
    // bucket at bucket(8)×100 TB is a 12.5 TB file), and the sorted
    // SPJ plan facts — ZERO exchanges, ZERO sorts — must hold over
    // the multi-file buckets (merge read); (2) both join sides then
    // rebucket 8→16 and the same plan facts must hold under the new
    // count, while a read PINNED BELOW the rebucket must NOT claim
    // the grouping (its files are old-generation) — require()d as a
    // shuffle PRESENT in the pinned join. Rows pin against DuckDB
    // joining the raw parquet.
    "catalog_rebucket" -> ((s, d) => {
      // The key column is a ROLE (field id 1), not a literal name:
      // both tables carry their REAL join-key names — the adopter
      // shape the whole SPJ/rebucket machinery must serve without a
      // rename-to-`key` migration. Everything downstream (bucket
      // routing, sorted claims, zone maps, rebucket, the pinned-read
      // generation gate) runs over these names.
      val ta = KvGate.table(s, "rbk_orders", "(o_orderkey BIGINT, value " +
        "STRING) PARTITIONED BY (bucket(8, o_orderkey)) TBLPROPERTIES " +
        "('snapshots'='true', 'write.sort'='o_orderkey')")
      val tb = KvGate.table(s, "rbk_items", "(l_orderkey BIGINT, value " +
        "STRING) PARTITIONED BY (bucket(8, l_orderkey)) TBLPROPERTIES " +
        "('snapshots'='true', 'write.sort'='l_orderkey')")
      // fragment ta across every bucket (split uncorrelated with key)
      for (cond <- Seq("o_totalprice < 150000.0",
          "o_totalprice >= 150000.0"))
        s.sql(s"INSERT INTO $ta SELECT o_orderkey, o_orderpriority " +
          s"FROM ${Tables.view(s, d, "orders")} WHERE $cond")
      s.sql(s"INSERT INTO $tb SELECT l_orderkey, l_returnflag " +
        s"FROM ${Tables.view(s, d, "lineitem")}")
      def filesPerBucket(dir: String): Map[Int, Int] =
        graft.sources.KvSnapshots.dataFiles(
          graft.sources.KvSnapshots.membersWithStats(dir,
            graft.sources.KvSnapshots.latest(dir).get))
          .groupBy(f => graft.sources.KvBucketing.fileBucket(f.name)
            .getOrElse(-1))
          .map { case (b, fs) => b -> fs.size }
      val out = s.sql("CALL graft_kv.system.rewrite_buckets(" +
        s"table => ${ta.arg}, " +
        "target_files_per_bucket => 3)").collect()(0)
      val perBucket = filesPerBucket(ta.dir)
      require(out.getLong(1) > 8L &&
        (0 until 8).forall(b => perBucket.getOrElse(b, 0) >= 2),
        s"catalog_rebucket: range split did not bound file size — " +
          s"files/bucket = $perBucket")
      def spjAgg() = s.sql(
        s"""SELECT a.value AS priority, b.value AS flag,
           |count(*) AS n_items,
           |CAST(sum(b.l_orderkey) AS BIGINT) AS sum_keys
           |FROM $ta a JOIN $tb b ON a.o_orderkey = b.l_orderkey
           |GROUP BY a.value, b.value
           |ORDER BY priority, flag""".stripMargin)
      graft.Confs.scoped(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val df1 = spjAgg()
        df1.collect()
        requireShuffleFreeJoin(df1, "catalog_rebucket(split)")
        requireSortFreeJoin(df1, "catalog_rebucket(split)")
        val preV = graft.sources.KvSnapshots.latest(ta.dir).get
        // rebucket 8→16 with the RANGE-SPLIT rewrite: parallelism and
        // output file size bound by newN×perBucket, not by the target
        // count (16 tasks writing ~6 TB files is the 100 TB
        // scale-killer this knob exists for)
        val reb = s.sql("CALL graft_kv.system.rebucket(" +
          s"table => ${ta.arg}, buckets => 16, " +
          "target_files_per_bucket => 3)")
          .collect()(0)
        require(reb.getLong(0) == 8L && reb.getLong(1) == 16L &&
          reb.getLong(2) > 16L,
          s"catalog_rebucket: unexpected rebucket result $reb")
        val perBucket16 = filesPerBucket(ta.dir)
        require((0 until 16).forall(b =>
            perBucket16.getOrElse(b, 0) >= 2),
          "catalog_rebucket: the 8→16 rebucket did not range-split " +
            s"— files/bucket = $perBucket16")
        s.sql("CALL graft_kv.system.rebucket(" +
          s"table => ${tb.arg}, buckets => 16)").collect()
        val df2 = spjAgg()
        val rows = df2.collect()
        requireShuffleFreeJoin(df2, "catalog_rebucket(16)")
        requireSortFreeJoin(df2, "catalog_rebucket(16)")
        // old-generation pin: claims suppressed → the join SHUFFLES
        val dfOld = s.sql(
          s"""SELECT count(*) AS n FROM
             |$ta VERSION AS OF $preV a JOIN $tb b
             |ON a.o_orderkey = b.l_orderkey""".stripMargin)
        dfOld.collect()
        val oldShuffles = dfOld.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        }
        require(oldShuffles.nonEmpty,
          "catalog_rebucket: a pre-rebucket pinned read still " +
            "claimed the NEW bucket grouping — generation gate broke")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), df2.schema)
      }
    }),

    // CDC × MAINTENANCE (the dataChange=false contract): a
    // maintenance rewrite is a live-row-set no-op, so the `$changes`
    // table must emit NOTHING for it — without the commit-level
    // marker (KvSnapshots.isMaintenance) a file-granular changelog
    // restates every surviving row of every rewritten file, and at
    // 100 TB one compaction pushes the whole table through every CDC
    // consumer as phantom changes. The gate builds MoR history whose
    // change rows are layout-independent (insert / tombstone-delete /
    // insert), folds the tombstones with a rewrite_buckets call
    // between them, and pins the ENTIRE change history against
    // DuckDB recomputing it from raw orders — any phantom restatement
    // from the maintenance commit adds rows and breaks the hash; the
    // require() additionally names the invariant.
    "catalog_cdc_maintenance" -> ((s, d) => {
      val t = KvGate.table(s, "cdcm_gate", "(key BIGINT, value STRING) " +
        "PARTITIONED BY (bucket(4, key)) TBLPROPERTIES " +
        "('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} " +
        "WHERE o_orderkey <= 20000") // v1
      s.sql(s"DELETE FROM $t WHERE key % 3 = 0") // v2: tombstones only
      s.sql("CALL graft_kv.system.rewrite_buckets(" +
        s"table => ${t.arg})").collect() // v3: maintenance
      val v3 = graft.sources.KvSnapshots.latest(t.dir).get
      require(graft.sources.KvSnapshots.isMaintenance(t.dir, v3),
        "catalog_cdc_maintenance: the rewrite commit lost its marker")
      s.sql(s"INSERT INTO $t SELECT o_orderkey + 10000000, " +
        s"o_orderpriority FROM ${Tables.view(s, d, "orders")} " +
        "WHERE o_orderkey % 7 = 0") // v4
      val out = s.sql(
        s"""SELECT _commit_version AS v, _change_type AS kind,
           |count(*) AS n_rows, CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM ${t.meta("changes")}
           |GROUP BY 1, 2 ORDER BY v, kind""".stripMargin)
      val rows = out.collect()
      require(!rows.exists(_.getInt(0) == v3),
        "catalog_cdc_maintenance: the maintenance commit emitted " +
          "phantom CDC rows")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    // BUCKETED AGGREGATION (the other half of the co-bucketing
    // payoff): a GROUP BY on the bucket key of a KeyGrouped kv scan
    // satisfies the aggregate's clustered distribution outright —
    // partial AND final HashAggregate complete in one whole-stage
    // span directly over the scan, ZERO exchange (require()d on the
    // executed plan). The outer histogram re-aggregation shuffles its
    // key-count-sized input, which is the point: at 100 TB the raw
    // rows never move, only the aggregate does.
    "catalog_bucketed_agg" -> ((s, d) => {
      val (_, t2) = spjPair(s, d)
      graft.Confs.scoped(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false") {
        val df = s.sql(
          s"""SELECT n_items, count(*) AS n_keys,
             |sum(sum_keys) AS sum_keys
             |FROM (SELECT key, count(*) AS n_items,
             |      sum(key) AS sum_keys FROM $t2 GROUP BY key)
             |GROUP BY n_items ORDER BY n_items""".stripMargin)
        val rows = df.collect()
        requireShuffleFreeKeyAgg(df, "catalog_bucketed_agg")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      }
    }),

    // RUNTIME V2 FILTERING (dynamic partition pruning into a custom
    // connector): the bucketed kv fact joined to a selectively
    // filtered dim — Spark materializes the dim's join keys at
    // runtime and pushes them into the scan via
    // SupportsRuntimeV2Filtering.filter(). The connector maps the key
    // set through the bucket function: keys hitting only buckets
    // {0,1} prove buckets 2..7 matchless, so their files are pruned
    // WITHOUT OPENING (at 100 TB this is the difference between
    // scanning a fact table and scanning a quarter of it). The gate
    // require()s observed file pruning; the oracle pins the join
    // result.
    "catalog_runtime_filter" -> ((s, d) => {
      val (_, t2) = spjPair(s, d)
      graft.sources.KvRuntimeFilter.prunedFiles.set(0)
      graft.sources.KvRuntimeFilter.rowSkips.set(0)
      val df = s.sql(
        s"""SELECT b.value AS flag, count(*) AS n_items,
           |sum(b.key) AS sum_keys
           |FROM $t2 b JOIN ${Tables.view(s, d, "orders")} o
           |ON b.key = o.o_orderkey
           |WHERE o.o_orderkey % 8 < 2
           |GROUP BY b.value ORDER BY flag""".stripMargin)
      val rows = df.collect()
      require(graft.sources.KvRuntimeFilter.prunedFiles.get() > 0,
        "catalog_runtime_filter: no files were pruned — the runtime " +
          "join-key filter never reached the kv scan")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }),

    // MERGE-ON-READ DELETE (TBLPROPERTIES 'dml'='mor', the SupportsDelta
    // protocol — KvMerge.scala): the DML commits POSITIONAL TOMBSTONES
    // beside the data instead of rewriting surviving file groups. At
    // 100 TB this is the difference between a 0.1%-sized tombstone
    // write and a full-group copy-on-write rewrite — the single largest
    // scale gap VERDICT r13 named in the catalog substrate. The gate
    // require()s the contract directly: the data-file set is UNCHANGED
    // by the DELETE (nothing rewritten), at least one `.del` member
    // appeared, and the pre-DML snapshot still time-travels to the full
    // row count. The hashed result pins that scans apply the tombstones
    // exactly (the oracle is the inverse predicate over raw orders).
    "catalog_dml_delete_mor" -> ((s, d) => {
      val t = KvGate.table(s, "mor_del_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      def members = graft.sources.KvSnapshots.membersWithStats(
        t.dir, graft.sources.KvSnapshots.latest(t.dir).get)
      val dataBefore = graft.sources.KvSnapshots.dataFiles(members)
        .map(_.name).sorted
      s.sql(s"DELETE FROM $t WHERE key % 3 = 0")
      val after = members
      require(graft.sources.KvSnapshots.dataFiles(after)
          .map(_.name).sorted == dataBefore,
        "catalog_dml_delete_mor: the DELETE rewrote data files — " +
          "that is copy-on-write, not merge-on-read")
      require(graft.sources.KvSnapshots.deleteFiles(after).nonEmpty,
        "catalog_dml_delete_mor: no positional delete file committed")
      val full = s.sql(s"SELECT count(*) FROM $t VERSION AS OF 1")
        .head().getLong(0)
      val live = s.sql(s"SELECT count(*) FROM $t").head().getLong(0)
      require(full > live,
        s"catalog_dml_delete_mor: time travel to v1 returned $full " +
          s"rows vs $live live — pre-DML history lost")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // MERGE-ON-READ UPDATE: delete+insert through the delta writer —
    // old addresses tombstoned, updated rows appended as NEW files,
    // original data files untouched (require()d as a subset of the
    // post-DML membership). The oracle recomputes the post-image from
    // raw orders, so a resurrected tombstone or a lost survivor breaks
    // the hash.
    "catalog_dml_update_mor" -> ((s, d) => {
      val t = KvGate.table(s, "mor_upd_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      def members = graft.sources.KvSnapshots.membersWithStats(
        t.dir, graft.sources.KvSnapshots.latest(t.dir).get)
      val dataBefore = graft.sources.KvSnapshots.dataFiles(members)
        .map(_.name).toSet
      s.sql(s"UPDATE $t SET value = concat('X-', value) " +
        s"WHERE key % 5 = 0")
      val after = members
      val dataAfter = graft.sources.KvSnapshots.dataFiles(after)
        .map(_.name).toSet
      require(dataBefore.subsetOf(dataAfter) && dataAfter != dataBefore,
        "catalog_dml_update_mor: expected original data files kept " +
          "plus appended update files")
      require(graft.sources.KvSnapshots.deleteFiles(after).nonEmpty,
        "catalog_dml_update_mor: no positional delete file committed")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // MERGE-ON-READ MERGE INTO: the upsert through the delta path —
    // matched rows become tombstone+insert pairs, unmatched source
    // rows plain inserts; same full-outer-join oracle as the CoW twin,
    // so the two protocols are pinned to IDENTICAL answers.
    "catalog_dml_merge_mor" -> ((s, d) => {
      val t = KvGate.table(s, "mor_mrg_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 0")
      s.sql(s"SELECT o_orderkey AS key, " +
        s"concat('M-', o_orderpriority) AS value " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 3 = 0")
        .createOrReplaceTempView("mor_mrg_gate_src")
      s.sql(
        s"""MERGE INTO $t AS tgt USING mor_mrg_gate_src AS src
           |ON tgt.key = src.key
           |WHEN MATCHED THEN UPDATE SET value = src.value
           |WHEN NOT MATCHED THEN INSERT (key, value)
           |  VALUES (src.key, src.value)""".stripMargin)
      require(graft.sources.KvSnapshots.deleteFiles(
          graft.sources.KvSnapshots.membersWithStats(
            t.dir, graft.sources.KvSnapshots.latest(t.dir).get)).nonEmpty,
        "catalog_dml_merge_mor: merge committed no tombstones — the " +
          "matched updates went through a rewrite, not the delta path")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // CDC CHANGE FEED (`t$changes`, KvChanges.scala — the Delta
    // table_changes / Iceberg changelog shape): the staged history
    // (insert evens → insert odds → MoR DELETE of the %7 keys) replays
    // as typed change rows with the commit version attached. The
    // delete rows carry the ACTUAL deleted values (positions resolved
    // against retained data files) — the capability the rows feed
    // documents away (file-add-only) and VERDICT r13 listed as missing.
    // The oracle reconstructs all three commits from raw orders; a
    // lost tombstone, a misattributed version, or a value-less delete
    // breaks the hash.
    "catalog_changefeed_cdc" -> ((s, d) => {
      val t = KvGate.table(s, "cdc_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = 1")
      s.sql(s"DELETE FROM $t WHERE key % 7 = 0")
      s.sql(
        s"""SELECT _commit_version, _change_type, value,
           |count(*) AS n_rows, sum(key) AS sum_keys
           |FROM ${t.meta("changes")}
           |GROUP BY 1, 2, 3
           |ORDER BY 1, 2, 3""".stripMargin)
    }),

    // OCC COMMIT RETRY (KvSnapshots.commitWith): two INSERT INTO jobs
    // race on one snapshotted table; the conditional-put publish makes
    // the loser REBASE onto the winner's manifest instead of
    // overwriting it. The require()s pin a linear 2-version history
    // (both commits landed, neither clobbered), and the oracle — the
    // full orders rollup — proves no row was lost whichever writer
    // won. KvOccSpec forces the CAS collision deterministically with a
    // barrier; this gate exercises the same path under real job
    // scheduling.
    "catalog_commit_retry" -> ((s, d) => {
      val t = KvGate.table(s, "occ_gate", Snapshotted)
      val ready = new java.util.concurrent.CountDownLatch(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      def insert(r: Int) = pool.submit(new Runnable {
        override def run(): Unit = {
          ready.countDown()
          ready.await(10, java.util.concurrent.TimeUnit.SECONDS)
          s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
            s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 2 = $r")
        }
      })
      val jobs = Seq(insert(0), insert(1))
      jobs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      val versions = graft.sources.KvSnapshots.versions(t.dir)
      require(versions == Seq(1, 2),
        s"catalog_commit_retry: expected a linear 2-commit history, " +
          s"got versions $versions")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // SORT-BY-KEY CLUSTERING (`system.cluster`, Delta OPTIMIZE
    // ZORDER / Iceberg rewrite(sort) shape on the connector's long
    // key): zone maps over RANDOMLY placed keys have full-range
    // min/max per file and prune NOTHING — the layout, not the stats,
    // is what makes skipping work at 100 TB. The gate writes the
    // anti-clustered layout (hash repartition), proves the key-range
    // query prunes zero files, CALLs cluster, and require()s that the
    // SAME query now prunes most of the table; the oracle pins that
    // the rewrite lost/duplicated nothing.
    "catalog_cluster_zonemap" -> ((s, d) => {
      val t = KvGate.table(s, "cluster_gate", Snapshotted)
      s.sql(s"INSERT INTO $t " +
        s"SELECT /*+ REPARTITION(8) */ o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      val probe = s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t WHERE key <= 1000 " +
        s"GROUP BY value ORDER BY value"
      graft.sources.KvZoneMap.prunedFiles.set(0)
      s.sql(probe).collect()
      val prunedBefore = graft.sources.KvZoneMap.prunedFiles.get()
      require(prunedBefore == 0,
        s"catalog_cluster_zonemap: the hash-scattered layout pruned " +
          s"$prunedBefore files — the 'before' side must be the " +
          "no-skipping baseline or the gate proves nothing")
      val res = s.sql(
        s"CALL graft_kv.system.cluster(table => ${t.arg}, target_files => 8)")
        .collect().head
      require(res.getLong(0) == 8L && res.getLong(1) == 8L,
        s"cluster file counts off: $res")
      graft.sources.KvZoneMap.prunedFiles.set(0)
      val rows = s.sql(probe).collect()
      val prunedAfter = graft.sources.KvZoneMap.prunedFiles.get()
      // Scale-aware skip accounting (r19): the old literal `>= 6 of
      // 8` is arithmetically impossible on a dense tiny keyspace
      // (sf0.001's keys are 0..1499, so `key <= 1000` covers 2/3 of
      // the domain and at most 2 perfectly clustered files CAN skip).
      // The gate now proves the two real properties at any scale:
      // (a) the clustered files' key ranges are pairwise DISJOINT —
      // the layout system.cluster exists to produce — and (b) the
      // probe skipped EXACTLY the files whose manifest stats license
      // skipping (minKey > 1000 under `key <= 1000`).
      val statsC = graft.sources.KvSnapshots.dataFiles(
        graft.sources.KvSnapshots.membersWithStats(t.dir,
          graft.sources.KvSnapshots.latest(t.dir).get))
      val rangedC = statsC
        .filter(f => f.keysKnown && f.minKey.isDefined)
        .sortBy(_.minKey.get)
      rangedC.sliding(2).foreach {
        case Seq(a, b) => require(a.maxKey.get < b.minKey.get,
          s"catalog_cluster_zonemap: clustered files overlap — " +
            s"${a.name} [${a.minKey.get}, ${a.maxKey.get}] vs " +
            s"${b.name} [${b.minKey.get}, ${b.maxKey.get}]")
        case _ => ()
      }
      val expectSkipC = statsC.count(f =>
        f.rows == 0 || (f.keysKnown && f.minKey.forall(_ > 1000L)))
      // The counter tallies skip EVENTS; one query evaluates its scan
      // more than once (planning + execution), so the licensed count
      // must divide the observed total, with a non-zero floor when
      // anything is skippable.
      require(
        if (expectSkipC == 0) prunedAfter == 0
        else prunedAfter >= expectSkipC &&
          prunedAfter % expectSkipC == 0,
        s"catalog_cluster_zonemap: $prunedAfter skip events after " +
          s"clustering, but the manifest stats license exactly " +
          s"$expectSkipC per scan — zone maps and layout disagree")
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        s.sql(probe).schema)
    }),

    // SNAPSHOT ROLLBACK (`system.rollback`, Iceberg's
    // rollback_to_snapshot shape): undo a bad commit as METADATA —
    // version N+1 re-commits the target version's membership, no data
    // rewritten, the rolled-back-over versions still time-travel
    // readable (require()d). The oracle recomputes the restored state
    // from raw orders: a leaked post-rollback row or a lost original
    // breaks the hash.
    "catalog_rollback" -> ((s, d) => {
      val t = KvGate.table(s, "rb_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      // the bad batch: clobber priorities, then delete a third
      s.sql(s"UPDATE $t SET value = 'CORRUPT' WHERE key % 2 = 0")
      s.sql(s"DELETE FROM $t WHERE key % 3 = 0")
      val res = s.sql(
        "CALL graft_kv.system.rollback(" +
          s"table => ${t.arg}, version => 1)").collect().head
      require(res.getLong(0) == 3L && res.getLong(1) == 1L &&
          res.getLong(2) == 4L,
        s"catalog_rollback: expected 3 -> 1 committing v4, got $res")
      val corrupt = s.sql(
        s"SELECT count(*) FROM $t VERSION AS OF 3 " +
          "WHERE value = 'CORRUPT'").head().getLong(0)
      require(corrupt > 0,
        "catalog_rollback: the rolled-back-over v3 lost its history " +
          "— rollback must append, never erase")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // ORPHAN-FILE VACUUM (`system.vacuum`): a crashed job's
    // published-but-never-committed files are invisible to manifests
    // (so expire_snapshots can never reclaim them) and invisible to
    // reads (membership IS the manifest) — but they are real bytes.
    // The gate plants two AGED orphans (mtime backdated past the
    // default 3-day grace) and one FRESH orphan next to a live table,
    // CALLs vacuum, and require()s exactly the two aged ones deleted:
    // the fresh survivor proves the grace window that protects a
    // concurrent commit's published-but-not-yet-manifested files
    // (data files hit final names BEFORE the manifest conditional-put
    // lands). Live membership intact; the oracle pins table content.
    "catalog_vacuum" -> ((s, d) => {
      val t = KvGate.table(s, "vac_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      val dir = java.nio.file.Paths.get(t.dir)
      // a crashed writer's leftovers: a data file that never made a
      // manifest, and a stray tombstone file — both LONG dead
      val aged = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 4L * 24 * 3600 * 1000)
      Seq("orphan-data.jsonl" ->
            "{\"key\":999999,\"value\":\"ghost\"}\n",
          "orphan-tomb.del" -> "orphan-data.jsonl\t0\n")
        .foreach { case (n, body) =>
          val p = dir.resolve(n)
          java.nio.file.Files.write(p, body.getBytes("UTF-8"))
          java.nio.file.Files.setLastModifiedTime(p, aged)
        }
      // an in-flight commit's just-published file (no manifest YET)
      java.nio.file.Files.write(dir.resolve("inflight.jsonl"),
        "{\"key\":5,\"value\":\"committing\"}\n".getBytes("UTF-8"))
      val before = s.sql(s"SELECT count(*) FROM $t").head().getLong(0)
      val res = s.sql(
        s"CALL graft_kv.system.vacuum(table => ${t.arg})")
        .collect().head
      require(res.getLong(1) == 2L,
        s"catalog_vacuum: expected exactly the 2 aged orphans " +
          s"deleted, got $res")
      require(!java.nio.file.Files.exists(
          dir.resolve("orphan-data.jsonl")),
        "catalog_vacuum: the aged orphan data file survived")
      require(java.nio.file.Files.exists(dir.resolve("inflight.jsonl")),
        "catalog_vacuum: the grace window failed — a fresh (possibly " +
          "in-flight-commit) file was deleted")
      java.nio.file.Files.delete(dir.resolve("inflight.jsonl"))
      val after = s.sql(s"SELECT count(*) FROM $t").head().getLong(0)
      require(before == after,
        s"catalog_vacuum: row count changed $before -> $after — " +
          "vacuum touched live membership")
      s.sql(s"SELECT value, count(*) AS n_orders, " +
        s"sum(key) AS sum_keys FROM $t GROUP BY value ORDER BY value")
    }),

    // SCHEMA EVOLUTION (KvSchema.scala): ALTER TABLE ADD/RENAME
    // COLUMN as METADATA-ONLY operations with schema-versioned
    // snapshots — the Iceberg field-id model. At 100 TB this is the
    // difference between a registry write and a full-table rewrite:
    // every production table evolves its schema within weeks. The
    // gate ADDs a column (require()s no data file was touched),
    // inserts new-shape rows, time-travels ACROSS the change
    // (require()s the pre-ALTER snapshot reads with its own 2-column
    // schema), RENAMEs the new column (pure metadata — data stays
    // under the stable field id), and pins the merged old+new read:
    // pre-ALTER rows surface NULL in the added column, and the
    // renamed column still reads every byte written under its old
    // name. The oracle recomputes the same union from raw orders.
    "catalog_schema_evolution" -> ((s, d) => {
      val t = KvGate.table(s, "evo_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}") // v1
      val dir = java.nio.file.Paths.get(t.dir)
      def dataFiles: Set[String] = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(dir)
        try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".jsonl")).toSet
        finally l.close()
      }
      val filesBefore = dataFiles
      s.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
      require(dataFiles == filesBefore,
        "catalog_schema_evolution: ADD COLUMN touched data files — " +
          "evolution must be metadata-only")
      s.sql(s"INSERT INTO $t SELECT o_orderkey + 10000000, " +
        "concat('NEW-', o_orderpriority), o_orderkey * 0.5 " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 4 = 0")
      // time travel ACROSS the schema change: v1 reads its own shape
      val v1 = s.sql(s"SELECT * FROM $t VERSION AS OF 1")
      require(v1.schema.fieldNames.toSeq == Seq("key", "value"),
        s"catalog_schema_evolution: v1 schema widened to " +
          s"${v1.schema.fieldNames.mkString(",")} — old snapshots " +
          "must read with the schema they were written under")
      // RENAME is pure metadata: the stable field id keeps serving
      // every line written under the old name
      s.sql(s"ALTER TABLE $t RENAME COLUMN score TO weight")
      s.sql(
        s"""SELECT value, count(*) AS n_rows,
           |       CAST(sum(key) AS BIGINT) AS sum_keys,
           |       CAST(sum(coalesce(weight * 2, 0)) AS BIGINT)
           |         AS weight2
           |FROM $t GROUP BY value ORDER BY value""".stripMargin)
    }),

    // SNAPSHOT-HISTORY METADATA TABLE (`t$snapshots`, KvMetaTables
    // .scala — the Iceberg .snapshots / DESCRIBE HISTORY shape): one
    // row per retained manifest version, computed from manifest
    // metadata alone — at 100 TB the audit query costs the same as at
    // 100 KB because no data file is ever opened. The gate drives a
    // mixed history (append, append, MoR DELETE) and pins the
    // manifest-exact live-row arithmetic per version (data rows −
    // tombstones), the delete-file flag, and that a MoR DELETE
    // removes NO members (removed_files = 0 — tombstones are
    // additions). The oracle recomputes each version's live count
    // from raw orders.
    "catalog_snapshots_table" -> ((s, d) => {
      val t = KvGate.table(s, "snap_meta_gate", "(key BIGINT, value " +
        "STRING) TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}") // v1
      s.sql(s"INSERT INTO $t SELECT o_orderkey + 10000000, " +
        "concat('N-', o_orderpriority) " +
        s"FROM ${Tables.view(s, d, "orders")} " +
        "WHERE o_orderkey % 4 = 0") // v2
      s.sql(s"DELETE FROM $t WHERE key % 3 = 0") // v3: tombstones only
      s.sql(
        s"""SELECT CAST(version AS BIGINT) AS version, live_rows,
           |       CAST(n_delete_files > 0 AS BIGINT) AS has_deletes,
           |       removed_files
           |FROM ${t.meta("snapshots")}
           |ORDER BY version""".stripMargin)
    }),

    // SNAPSHOT TAGS (KvRefs.scala — the Iceberg ref model's read-only
    // half): `system.tag` pins a name to a version, `VERSION AS OF
    // 'name'` reads it, and the pin is EXPIRE-PROOF — the lineage
    // contract a training pipeline needs (the dataset a model shipped
    // from stays readable until the tag is dropped). The gate tags
    // the pristine v1, garbles the current state with a DELETE, runs
    // expire_snapshots(keep_last => 1) — which reclaims everything
    // untagged but must keep v1 alive — and hashes the tag read: any
    // expired manifest, resurrected tombstone, or tag drift breaks it
    // against the raw-orders oracle.
    "catalog_tags" -> ((s, d) => {
      val t = KvGate.table(s, "tags_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}") // v1
      s.sql(s"CALL graft_kv.system.tag(table => ${t.arg}, " +
        "name => 'pristine')")
      s.sql(s"DELETE FROM $t WHERE key % 2 = 0") // v2 (CoW rewrite)
      s.sql(s"INSERT INTO $t VALUES (-1, 'JUNK')") // v3
      s.sql("CALL graft_kv.system.expire_snapshots(" +
        s"table => ${t.arg}, keep_last => 1)")
      val retained = graft.sources.KvSnapshots.versions(t.dir)
      require(retained.contains(1),
        s"catalog_tags: expire reclaimed the TAGGED v1 " +
          s"(retained: ${retained.mkString(",")})")
      require(!retained.contains(2),
        s"catalog_tags: expire kept the untagged v2 " +
          s"(retained: ${retained.mkString(",")})")
      s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t VERSION AS OF 'pristine'
           |GROUP BY value ORDER BY value""".stripMargin)
    }),

    // ARRAY COLUMNS IN THE LAKEHOUSE (KvSchema array<double> /
    // array<bigint>): the north-star asset — an embedding table —
    // living INSIDE the catalog with the full lineage story: loaded
    // from the fixture (float → double, exact widening), TAGGED,
    // garbled by later commits, reclaimed by expire_snapshots, and
    // read back through the expire-proof tag into the exact
    // cosine-top-K plan cosine_topk_brute runs on raw parquet. The
    // hash pins every element of every vector end-to-end through the
    // line format (a single flipped bit in one stored double changes
    // a sim), and the require()s pin that the tag survived
    // reclamation while the junk versions did not.
    "catalog_array_column" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = KvGate.table(s, "arr_gate", "(key BIGINT, embedding " +
        "ARRAY<DOUBLE>, label BIGINT) TBLPROPERTIES ('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT vec_id, " +
        "CAST(embedding AS ARRAY<DOUBLE>), CAST(label AS BIGINT) " +
        s"FROM ${Tables.view(s, d, "embeddings")}") // v1
      s.sql(s"CALL graft_kv.system.tag(table => ${t.arg}, name => 'shipped')")
      s.sql(s"INSERT INTO $t VALUES (-1, array(0.0D), -1)") // v2 junk
      s.sql(s"DELETE FROM $t WHERE key = -1") // v3 CoW rewrite
      s.sql("CALL graft_kv.system.expire_snapshots(" +
        s"table => ${t.arg}, keep_last => 1)")
      val retained = graft.sources.KvSnapshots.versions(t.dir)
      require(retained.contains(1) && !retained.contains(2),
        s"catalog_array_column: expire broke the tag pin " +
          s"(retained: ${retained.mkString(",")})")
      val pinned = s.sql(
        s"SELECT key AS vec_id, embedding FROM $t VERSION AS OF 'shipped'")
      val q = pinned
        .filter(col("vec_id") < SimilarityQueries.NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window
        .partitionBy("qid")
        .orderBy(col("sim").desc, col("vec_id").asc)
      broadcast(q)
        .join(pinned, col("qid") =!= col("vec_id"))
        .withColumn("sim",
          graft.functions.Vectors.cosine(col("qe"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= SimilarityQueries.TopK)
        .select("qid", "vec_id", "rnk", "sim")
        .orderBy("qid", "rnk")
    }),

    // ANN OVER CATALOG ARRAYS — the composition check on top of
    // catalog_array_column: the SCALE path (LSH-bucketed top-K, the
    // plan cosine_topk_lsh runs on raw parquet) over an embedding
    // table stored in the engine's own lakehouse. Bit-identical to
    // the raw-parquet twin (shared oracle): the float→double widening
    // at INSERT is exact, the bucket signs and sims are the same
    // left-to-right double folds.
    "catalog_array_ann" -> ((s, d) => {
      val t = KvGate.table(s, "ann_arr_gate", "(key BIGINT, embedding " +
        "ARRAY<DOUBLE>) TBLPROPERTIES ('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT vec_id, " +
        "CAST(embedding AS ARRAY<DOUBLE>) " +
        s"FROM ${Tables.view(s, d, "embeddings")}")
      val withBucket = s.sql(
          s"SELECT key AS vec_id, embedding FROM $t")
        .withColumn("bucket", graft.functions.Vectors.lshBucket(
          col("embedding"), SimilarityQueries.NPlanes))
      val q = withBucket
        .filter(col("vec_id") < SimilarityQueries.NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("bucket"))
      val c = withBucket
        .select(col("vec_id"), col("embedding"), col("bucket"))
      SimilarityQueries.topkFromCandidates(q, c, "bucket")
    }),

    // ARRAY<STRING> CATALOG COLUMNS — the token/tag-list asset class
    // beside the numeric embedding arrays: per-document token arrays
    // stored IN the lakehouse (quoted-escape element encoding, same
    // dialect as scalar strings), carried through a CoW DELETE
    // rewrite (the format round-trip under DML, not just at INSERT),
    // and read back through the explode+aggregate shape a text
    // pipeline actually runs. The oracle recomputes token stats from
    // the raw documents with the same split+filter — one shifted
    // token, lost element, or escape drift anywhere in the stored
    // arrays moves a count and fails the hash.
    "catalog_array_string" -> ((s, d) => {
      val t = KvGate.table(s, "toks_gate", "(doc_id BIGINT, tokens " +
        "ARRAY<STRING>, lang STRING) TBLPROPERTIES ('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT doc_id, split(text, ' '), lang " +
        s"FROM ${Tables.view(s, d, "documents")}")
      s.sql(s"DELETE FROM $t WHERE doc_id % 7 = 0")
      s.sql(
        s"""SELECT lang, token, count(*) AS n_tokens,
           |       count(DISTINCT doc_id) AS n_docs
           |FROM (SELECT doc_id, lang, explode(tokens) AS token FROM $t)
           |WHERE token <> ''
           |GROUP BY lang, token
           |ORDER BY lang, token""".stripMargin)
    }),

    // CATALOG-PINNED ANN INDEX — the derived-asset lineage story: the
    // LSH index is built FROM a kv catalog table and records the
    // snapshot version it indexed in its own manifest. The lifecycle
    // this gate drives is exactly a nightly pipeline's: build at v1 →
    // serve (rows pinned) → DML moves the table to v2 → serving the
    // un-refreshed index FAILS LOUD (require()d — today's plain
    // parquet indexes silently answer stale, the first failure a
    // 100 TB nightly hits) → a CDC-INCREMENTAL refresh hashes only
    // the `$changes` rows since v1 into a delta layer (O(delta), not
    // O(table)) → serve again at v2. ONE oracle recomputes both
    // phases' top-K from the raw embeddings (restricted and full
    // corpus) — a stale answer, a lost delta row, or a drifted bucket
    // in either phase breaks the hash.
    "catalog_ann_pinned" -> ((s, d) => {
      val t = KvGate.table(s, "annp_emb", "(vec_id BIGINT, embedding " +
        "ARRAY<DOUBLE>) TBLPROPERTIES ('snapshots'='true')")
      val n = graft.Tables.embeddings(s, d).count()
      val cut = 4L * n / 5
      s.sql(s"INSERT INTO $t SELECT vec_id, " +
        "CAST(embedding AS ARRAY<DOUBLE>) " +
        s"FROM ${Tables.view(s, d, "embeddings")} WHERE vec_id < $cut")
      val idx = graft.Fs.scratch(s, "ann_pinned")
      AnnIndexQueries.buildPinned(s, t.qualified, t.dir, idx)
      val v1df = AnnIndexQueries.servePinned(s, idx)
      val v1rows = v1df.collect()
      // the table moves to v2 under the index
      s.sql(s"INSERT INTO $t SELECT vec_id, " +
        "CAST(embedding AS ARRAY<DOUBLE>) " +
        s"FROM ${Tables.view(s, d, "embeddings")} WHERE vec_id >= $cut")
      val stale =
        try { AnnIndexQueries.servePinned(s, idx); false }
        catch {
          case _: AnnIndexQueries.StaleAnnIndexException => true
        }
      require(stale,
        "catalog_ann_pinned: the serve answered from a stale index — " +
          "the version pin did not detect the table moving")
      // CDC-incremental refresh: only the post-v1 inserts are hashed
      val changes =
        s.sql(s"SELECT * FROM ${t.meta("changes")}")
      val pin = AnnIndexQueries.refreshPinned(s, changes, idx)
      require(pin.deltas == 1,
        s"catalog_ann_pinned: refresh wrote ${pin.deltas} deltas")
      val deltaRows =
        s.read.parquet(s"$idx/delta/d0/vectors").count()
      require(deltaRows == (n - cut) * SimilarityQueries.NTables,
        s"catalog_ann_pinned: delta carries $deltaRows store rows " +
          s"for ${n - cut} new vectors — the refresh was not " +
          "incremental")
      val v2rows = AnnIndexQueries.servePinned(s, idx).collect()
      val phased = s.createDataFrame(
          java.util.Arrays.asList(v1rows: _*), v1df.schema)
        .withColumn("phase", lit("v1"))
        .unionByName(s.createDataFrame(
            java.util.Arrays.asList(v2rows: _*), v1df.schema)
          .withColumn("phase", lit("v2")))
      phased.select("phase", "qid", "vec_id", "rnk", "sim")
        .orderBy("phase", "qid", "rnk")
    }),

    // `$refs` METADATA TABLE (KvMetaTables.scala — Iceberg's `.refs`
    // shape): one row per tag and branch, the observability surface
    // of the whole ref lifecycle. The gate builds a deterministic ref
    // state — tag 'pristine' at v1, branch 'audit' created at v2 with
    // one staged commit (head v3 in branch space) — and pins the
    // exact rows (names, kinds, resolved versions, branch base)
    // against a literal oracle: any drift in version numbering, head
    // resolution or base bookkeeping breaks the hash.
    "catalog_refs_table" -> ((s, d) => {
      val t = KvGate.table(s, "refs_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}") // v1
      s.sql("CALL graft_kv.system.tag(" +
        s"table => ${t.arg}, name => 'pristine', " +
        "version => 1)")
      s.sql(s"INSERT INTO $t SELECT o_orderkey + 10000000, " +
        s"o_orderpriority FROM ${Tables.view(s, d, "orders")} " +
        "WHERE o_orderkey % 4 = 0") // v2
      s.sql("CALL graft_kv.system.create_branch(" +
        s"table => ${t.arg}, name => 'audit')") // base v2
      s.range(1, 4).selectExpr("id + 90000000 AS key", "'S' AS value")
        .writeTo(t.qualified).option("branch", "audit").append() // head v3
      s.sql("SELECT name, kind, version, base_version " +
        s"FROM ${t.meta("refs")} ORDER BY name")
    }),

    // DATE-PARTITIONED catalog table (`PARTITIONED BY (days(col))` —
    // KvBucketing.KvMeta.partitionDays): the most common 100 TB
    // layout, where a temporal predicate must prune whole FILES
    // independent of key zone maps. The gate creates a table
    // partitioned by (month-truncated) day, inserts raw orders — the
    // catalog write requests clustered-by-days distribution, each
    // task writing ~one file per day — then queries one year:
    // KvPartitionPrune.prunedFiles must advance (files actually
    // skipped at planning, 0 < pruned < total — both an unpruned scan
    // and an over-pruned one fail), and the rows are oracle-pinned
    // against DuckDB recomputing the same predicate from raw parquet.
    "catalog_partition_prune" -> ((s, d) => {
      val t = KvGate.table(s, "pp_gate", "(key BIGINT, value STRING, ts " +
        "TIMESTAMP, mo DATE) PARTITIONED BY (days(mo)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        "o_orderdate, CAST(date_trunc('MONTH', o_orderdate) AS DATE) " +
        s"FROM ${Tables.view(s, d, "orders")}")
      val total = graft.sources.KvSnapshots.members(t.dir,
        graft.sources.KvSnapshots.latest(t.dir).get).size
      val before = graft.sources.KvPartitionPrune.prunedFiles.get()
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t
           |WHERE mo >= DATE '1997-01-01' AND mo < DATE '1998-01-01'
           |GROUP BY value ORDER BY value""".stripMargin)
      require(out.count() > 0, "catalog_partition_prune: empty result")
      // The counter moves once per partition-planning pass; a re-plan
      // (AQE) may count a file more than once, so the pinned bound is
      // a floor: at least the ~4 non-1997 years of monthly files must
      // have been skipped. Over-pruning is caught by the oracle hash
      // (a dropped month shifts every count), so no upper require.
      val pruned =
        graft.sources.KvPartitionPrune.prunedFiles.get() - before
      require(pruned >= total / 3,
        s"catalog_partition_prune: only $pruned of $total files " +
          "skipped — the date predicate did not partition-prune")
      out
    }),

    // MONTHS() partitioning — the days() machinery on the coarser
    // divisor (KvBucketing.PartMonths; the archive-table layout).
    // Raw order timestamps spread over ~60 natural months, a one-year
    // predicate must skip most of them at planning, and the rows pin
    // against DuckDB on the same range.
    "catalog_partition_months" -> ((s, d) => {
      val t = KvGate.table(s, "pm_gate", "(key BIGINT, value STRING, ts " +
        "TIMESTAMP) PARTITIONED BY (months(ts)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        s"o_orderdate FROM ${Tables.view(s, d, "orders")}")
      val total = graft.sources.KvSnapshots.members(t.dir,
        graft.sources.KvSnapshots.latest(t.dir).get).size
      val before = graft.sources.KvPartitionPrune.prunedFiles.get()
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys,
           |       unix_micros(max(ts)) AS max_ts_us
           |FROM $t
           |WHERE ts >= TIMESTAMP '1996-07-01 00:00:00'
           |  AND ts < TIMESTAMP '1997-07-01 00:00:00'
           |GROUP BY value ORDER BY value""".stripMargin)
      require(out.count() > 0, "catalog_partition_months: empty result")
      val pruned =
        graft.sources.KvPartitionPrune.prunedFiles.get() - before
      require(pruned >= total / 3,
        s"catalog_partition_months: only $pruned of $total files " +
          "skipped — the month predicate did not partition-prune")
      out
    }),

    // PER-COLUMN ZONE MAPS (KvFileStat.colStats): the sink records
    // min/max for every evolved fixed-domain column (bigint / double /
    // timestamp / date) in the manifest, and a pushed comparison on a
    // NON-KEY column skips whole files at planning — parquet's
    // per-column footer stats recovered for the line format, pruning
    // on whatever axis the data was LOADED by rather than keyed by
    // (at 100 TB most tables cluster naturally by ingest batch on
    // several columns at once). Three price-banded inserts give the
    // files disjoint `price` ranges; the one-band predicate must skip
    // files (require()d on the zone-map counter), and the rows pin
    // against DuckDB over raw orders.
    "catalog_colstats_prune" -> ((s, d) => {
      val t = KvGate.table(s, "csp_gate", "(key BIGINT, value STRING, " +
        "price DOUBLE) TBLPROPERTIES ('snapshots'='true')")
      for ((lo, hi) <- Seq((0, 100000), (100000, 200000),
          (200000, 10000000)))
        s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
          s"o_totalprice FROM ${Tables.view(s, d, "orders")} " +
          s"WHERE o_totalprice >= $lo AND o_totalprice < $hi")
      val before = graft.sources.KvZoneMap.prunedFiles.get()
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t WHERE price < 100000.0D
           |GROUP BY value ORDER BY value""".stripMargin)
      require(out.count() > 0, "catalog_colstats_prune: empty result")
      val pruned = graft.sources.KvZoneMap.prunedFiles.get() - before
      require(pruned > 0, "catalog_colstats_prune: no files skipped " +
        "by per-column zone maps under the price predicate")
      out
    }),

    // STREAMING INGESTION into a DATE-PARTITIONED snapshotted table —
    // THE canonical 100 TB pipeline shape (events stream continuously
    // into days(ts) partitions): the routed batch writers run inside
    // the streaming epoch (epoch-scoped jobId), so every streamed
    // file lands with its day token and a later time-ranged query
    // partition-prunes streamed data exactly like batch-loaded data
    // (require()d on the prune counter). Exactly-once still holds —
    // one OCC manifest commit per epoch, replay-idempotent. Rows pin
    // against DuckDB over the same month slice of raw orders.
    "catalog_stream_partitioned" -> ((s, d) => {
      val src = KvGate.table(s, "sp_src", "(key BIGINT, value STRING, ts " +
        "TIMESTAMP) TBLPROPERTIES ('snapshots'='true')")
      val dst = KvGate.table(s, "sp_dst", "(key BIGINT, value STRING, ts " +
        "TIMESTAMP) PARTITIONED BY (months(ts)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $src SELECT o_orderkey, o_orderpriority, " +
        s"o_orderdate FROM ${Tables.view(s, d, "orders")}")
      val cp = graft.Fs.scratch(s, "sp_ckpt")
      StreamGates.run(s.readStream.table(src.qualified))(
        _.option("checkpointLocation", cp).toTable(dst.qualified))
      val before = graft.sources.KvPartitionPrune.prunedFiles.get()
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $dst
           |WHERE ts >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND ts < TIMESTAMP '1997-01-01 00:00:00'
           |GROUP BY value ORDER BY value""".stripMargin)
      require(out.count() > 0, "catalog_stream_partitioned: empty")
      require(
        graft.sources.KvPartitionPrune.prunedFiles.get() > before,
        "catalog_stream_partitioned: streamed files did not " +
          "partition-prune under the time predicate")
      out
    }),

    // PARTITION EVOLUTION (system.set_partition): a days(ts) table
    // evolves to months(ts) METADATA-ONLY mid-life — earlier files
    // keep day tokens, later ones carry month tokens, and one pushed
    // time predicate prunes BOTH generations (each token
    // self-describes its unit; KvScan compiles one interval per
    // unit). At 100 TB this is the no-rewrite answer to "our ingest
    // granularity changed" — the alternative is rewriting the table.
    // The rows pin against DuckDB over raw orders split on the same
    // date boundary.
    "catalog_partition_evolution" -> ((s, d) => {
      val t = KvGate.table(s, "pe_gate", "(key BIGINT, value STRING, ts " +
        "TIMESTAMP) PARTITIONED BY (days(ts)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        s"o_orderdate FROM ${Tables.view(s, d, "orders")} " +
        "WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'")
      s.sql("CALL graft_kv.system.set_partition(" +
        s"table => ${t.arg}, spec => 'months(ts)')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        s"o_orderdate FROM ${Tables.view(s, d, "orders")} " +
        "WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'")
      val before = graft.sources.KvPartitionPrune.prunedFiles.get()
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t
           |WHERE ts >= TIMESTAMP '1994-07-01 00:00:00'
           |  AND ts < TIMESTAMP '1995-07-01 00:00:00'
           |GROUP BY value ORDER BY value""".stripMargin)
      require(out.count() > 0, "catalog_partition_evolution: empty")
      val pruned =
        graft.sources.KvPartitionPrune.prunedFiles.get() - before
      require(pruned > 0, "catalog_partition_evolution: the time " +
        "predicate pruned nothing across the evolved layout")
      out
    }),

    // SORTED WRITES (TBLPROPERTIES 'write.sort'='key'): every INSERT
    // requests a global key order — range distribution + in-partition
    // sort — so files land with DISJOINT key ranges and zone maps
    // prune from the first write, with no system.cluster maintenance
    // call (Iceberg's write.sort-order as a standing property). The
    // key-range query must skip files at planning (require()d), rows
    // pinned against DuckDB. AQE partition coalescing is pinned off
    // for the INSERT so the layout exists at gate scale too.
    "catalog_sorted_write" -> ((s, d) => {
      val t = KvGate.table(s, "so_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'write.sort'='key')")
      graft.Confs.scoped(s,
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        s.sql(s"INSERT INTO $t SELECT o_orderkey, " +
          s"o_orderpriority FROM ${Tables.view(s, d, "orders")}")
      }
      val before = graft.sources.KvZoneMap.prunedFiles.get()
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t WHERE key < 10000
           |GROUP BY value ORDER BY value""".stripMargin)
      require(out.count() > 0, "catalog_sorted_write: empty result")
      // Scale-aware skip accounting (r19): at sf0.001 EVERY key is
      // below the probe's literal 10000, so no file can possibly be
      // skipped and the old `pruned > 0` require was unsatisfiable.
      // The gate now proves the actual sorted-write properties at any
      // scale: (a) the written files' key ranges are pairwise
      // DISJOINT (what 'write.sort' promises), and (b) the probe
      // skipped EXACTLY the files whose manifest stats license it
      // (minKey >= 10000 under `key < 10000`) — which at gate scale
      // (sf0.01+) is the same non-zero skipping the old require
      // asserted.
      val prunedDelta = graft.sources.KvZoneMap.prunedFiles.get() - before
      val statsS = graft.sources.KvSnapshots.dataFiles(
        graft.sources.KvSnapshots.membersWithStats(t.dir,
          graft.sources.KvSnapshots.latest(t.dir).get))
      val rangedS = statsS
        .filter(f => f.keysKnown && f.minKey.isDefined)
        .sortBy(_.minKey.get)
      rangedS.sliding(2).foreach {
        case Seq(a, b) => require(a.maxKey.get < b.minKey.get,
          s"catalog_sorted_write: sorted-write files overlap — " +
            s"${a.name} [${a.minKey.get}, ${a.maxKey.get}] vs " +
            s"${b.name} [${b.minKey.get}, ${b.maxKey.get}]")
        case _ => ()
      }
      val expectSkipS = statsS.count(f =>
        f.rows == 0 || (f.keysKnown && f.minKey.forall(_ >= 10000L)))
      // Skip EVENTS, not files: the probe's scan is evaluated more
      // than once (planning + execution), so the licensed per-scan
      // count must divide the observed total (see the zonemap gate).
      require(
        if (expectSkipS == 0) prunedDelta == 0
        else prunedDelta >= expectSkipS &&
          prunedDelta % expectSkipS == 0,
        s"catalog_sorted_write: $prunedDelta skip events across " +
          s"${statsS.size} files but the manifest stats license " +
          s"exactly $expectSkipS per scan")
      out
    }),

    // GROUP-SELECTIVE copy-on-write DML: the rewrite scan prunes
    // files the pushed DELETE condition provably cannot touch (per-
    // column zone maps over the banded `price` layout), and the
    // commit replaces EXACTLY the scanned files — the low bands
    // survive BY NAME (require()d against the manifest), so a
    // retention DELETE on a 100 TB table rewrites one band, not the
    // table. Rows pin against DuckDB applying the same DELETE to raw
    // orders.
    "catalog_dml_selective" -> ((s, d) => {
      val t = KvGate.table(s, "ds_gate", "(key BIGINT, value STRING, price " +
        "DOUBLE) TBLPROPERTIES ('snapshots'='true')")
      for ((lo, hi) <- Seq((0, 100000), (100000, 200000),
          (200000, 10000000)))
        s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
          s"o_totalprice FROM ${Tables.view(s, d, "orders")} " +
          s"WHERE o_totalprice >= $lo AND o_totalprice < $hi")
      def names: Set[String] =
        graft.sources.KvSnapshots.dataFiles(
          graft.sources.KvSnapshots.membersWithStats(t.dir,
            graft.sources.KvSnapshots.latest(t.dir).get))
          .map(_.name).toSet
      val before = names
      s.sql(s"DELETE FROM $t WHERE price >= 200000.0D")
      val survivors = before intersect names
      require(survivors.nonEmpty,
        "catalog_dml_selective: the low-band files were rewritten — " +
          "the DELETE was not group-selective")
      s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t GROUP BY value ORDER BY value""".stripMargin)
    }),

    // $files METADATA TABLE (Iceberg's `.files` shape): one row per
    // current-snapshot member straight from the manifest — kind,
    // row/tombstone counts, key zone map, layout token, per-column
    // stats. The gate DMLs a MoR table so BOTH kinds exist, then
    // computes the live-row arithmetic FROM $files alone
    // (data − tombstones) and pins it against DuckDB recomputing the
    // same DELETE from raw orders — if $files misreported a single
    // file or count, the hash breaks. No data file is opened.
    "catalog_files_table" -> ((s, d) => {
      val t = KvGate.table(s, "ft_gate", "(key BIGINT, value STRING, price " +
        "DOUBLE) TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        s"o_totalprice FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"DELETE FROM $t WHERE key % 7 = 0")
      val files = s.sql(s"SELECT * FROM ${t.meta("files")}")
      // structural requires: both kinds present, data files carry
      // per-column stats, plain table → no layout token
      val byKind = files.groupBy("kind").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      require(byKind.getOrElse("data", 0L) > 0 &&
        byKind.getOrElse("delete", 0L) > 0,
        s"catalog_files_table: expected both kinds, got $byKind")
      require(files.where("kind = 'data' AND n_col_stats = 0")
        .count() == 0,
        "catalog_files_table: a data file lost its column stats")
      s.sql(
        s"""SELECT CAST(sum(CASE WHEN kind = 'data' THEN rows END)
          |         AS BIGINT) AS data_rows,
          |       CAST(sum(CASE WHEN kind = 'delete' THEN rows END)
          |         AS BIGINT) AS tombstones,
          |       CAST(sum(CASE WHEN kind = 'data' THEN rows
          |                     ELSE -rows END) AS BIGINT) AS live_rows
          |FROM ${t.meta("files")}""".stripMargin)
    }),

    // $partitions METADATA TABLE (Iceberg's `.partitions` shape): the
    // manifest aggregated by layout token — per-partition file/row
    // composition plus the partition-level key zone map, the
    // capacity-planning surface ("which month is hot") answered
    // without opening a data file. The gate builds a months()-
    // partitioned table and pins the ENTIRE per-partition row count
    // AND min/max key against DuckDB recomputing the same month
    // tokens from raw orders — a single misattributed file breaks the
    // hash. A MoR twin then DELETEs a stripe and require()s the
    // partition-agnostic tombstone files land on the NULL row with
    // the exact tombstone count (the documented honesty rule).
    "catalog_partitions_table" -> ((s, d) => {
      val t = KvGate.table(s, "pt_gate", "(key BIGINT, value STRING, ts " +
        "TIMESTAMP) PARTITIONED BY (months(ts)) TBLPROPERTIES " +
        "('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        "CAST(o_orderdate AS TIMESTAMP) " +
        s"FROM ${Tables.view(s, d, "orders")}")
      val parts = s.sql(s"SELECT * FROM ${t.meta("partitions")}")
      require(parts.where("partition IS NULL").count() == 0,
        "catalog_partitions_table: a member lost its layout token")
      require(parts.where("n_data_files < 1").count() == 0,
        "catalog_partitions_table: a partition lost its files")
      // MoR twin: tombstone files are partition-agnostic → NULL row,
      // exact count, and the data partitions keep tombstones = 0
      val tm = KvGate.table(s, "pt_gate_mor", "(key BIGINT, value STRING, " +
        "ts TIMESTAMP) PARTITIONED BY (months(ts)) TBLPROPERTIES " +
        "('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $tm SELECT o_orderkey, o_orderpriority, " +
        "CAST(o_orderdate AS TIMESTAMP) " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey < 2000")
      s.sql(s"DELETE FROM $tm WHERE key % 7 = 0")
      val morNull = s.sql("SELECT tombstones, n_data_files FROM " +
        s"${tm.meta("partitions")} " +
        "WHERE partition IS NULL").collect()
      val expectedDels = s.sql(
        s"""SELECT count(*) FROM ${Tables.view(s, d, "orders")}
           |WHERE o_orderkey < 2000 AND o_orderkey % 7 = 0"""
          .stripMargin).collect()(0).getLong(0)
      require(morNull.length == 1 && morNull(0).getLong(0) ==
        expectedDels && morNull(0).getLong(1) == 0,
        s"catalog_partitions_table: tombstones misattributed — " +
          s"expected $expectedDels on the NULL row, got " +
          morNull.mkString(", "))
      require(s.sql(s"SELECT count(*) FROM ${tm.meta("partitions")} " +
        "WHERE partition IS NOT NULL AND tombstones != 0")
        .collect()(0).getLong(0) == 0,
        "catalog_partitions_table: a data partition claimed tombstones")
      s.sql(
        s"""SELECT partition,
          |       CAST(data_rows AS BIGINT) AS data_rows,
          |       min_key, max_key
          |FROM ${t.meta("partitions")}
          |ORDER BY partition""".stripMargin)
    }),

    // PER-FILE BLOOM FILTERS (parquet column blooms / Iceberg puffin,
    // recovered for the line format — KvBloom.scala): point-lookup
    // FILE skipping on a high-cardinality string column whose values
    // are hash-scattered across files, the exact case zone maps can
    // never prune (every file's min/max spans the domain). The gate
    // loads orders into a bloom_cols table in 4 hash-disjoint chunks
    // (each file holds 1/4 of the value domain), runs an IN point
    // lookup, require()s that bloom sidecars pruned at least half the
    // files, and pins the surviving rows against DuckDB over raw
    // orders — an over-eager bloom (false negative) drops a group and
    // breaks the hash.
    "catalog_bloom_prune" -> ((s, d) => {
      val t = KvGate.table(s, "bp_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='value')")
      for (g <- 0 until 4)
        s.sql(s"INSERT INTO $t SELECT o_orderkey, " +
          "concat('c', o_custkey) " +
          s"FROM ${Tables.view(s, d, "orders")} " +
          s"WHERE pmod(hash(o_custkey), 4) = $g")
      val total = graft.sources.KvSnapshots.dataFiles(
        graft.sources.KvSnapshots.membersWithStats(t.dir,
          graft.sources.KvSnapshots.latest(t.dir).get)).size
      val before = graft.sources.KvBloomPrune.prunedFiles.get()
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t WHERE value IN ('c7', 'c19', 'c31')
           |GROUP BY value ORDER BY value""".stripMargin)
      require(out.count() == 3, "catalog_bloom_prune: expected the 3 " +
        "probed customers to have orders")
      val pruned =
        graft.sources.KvBloomPrune.prunedFiles.get() - before
      require(pruned >= total / 2,
        s"catalog_bloom_prune: only $pruned of $total files " +
          "bloom-skipped — the point lookup did not prune")
      out
    }),

    // BLOOM SIDECARS FOR TIMESTAMP / DATE / DOUBLE — the round-16
    // gap: the newest column types were second-class to the newest
    // pruning structure (a timestamp point lookup silently never
    // pruned). Same construction as catalog_bloom_prune, but the
    // point predicates land on a TIMESTAMP, a DATE and a DOUBLE
    // column, each probed with a value that lives in exactly one of
    // the 4 hash-split files (the split hashes o_orderdate, so the
    // temporal probes correlate with the split; the double probe is a
    // near-unique totalprice and prunes regardless). Zone maps can't
    // help — every file spans ~the whole domain — so every skipped
    // file is the sidecar's. The per-probe prune counts are
    // require()d and the surviving rows pinned against DuckDB at UTC.
    "catalog_bloom_temporal" -> ((s, d) => {
      val t = KvGate.table(s, "bt_gate", "(key BIGINT, value STRING, ts " +
        "TIMESTAMP, day DATE, price DOUBLE) TBLPROPERTIES " +
        "('snapshots'='true', 'bloom_cols'='ts,day,price')")
      for (g <- 0 until 4)
        s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
          "o_orderdate, CAST(o_orderdate AS DATE), o_totalprice " +
          s"FROM ${Tables.view(s, d, "orders")} " +
          s"WHERE pmod(hash(o_orderdate), 4) = $g")
      // Deterministic MID-DOMAIN probe values that exist at every SF:
      // the >= floors keep the probes INTERIOR to every chunk's
      // [min,max] (the fixture spans 1992-1998 and prices to ~450k,
      // so each hash chunk's range covers both floors) — the zone
      // maps legitimately keep all 4 files and every skip below is
      // the sidecar's alone.
      val probe = s.sql(
        s"""SELECT date_format(min(CASE WHEN o_orderdate >=
           |         TIMESTAMP '1995-06-01 00:00:00'
           |         THEN o_orderdate END),
           |         'yyyy-MM-dd HH:mm:ss') AS ts,
           |       CAST(min(CASE WHEN o_totalprice >= 100000.0
           |         THEN o_totalprice END) AS STRING) AS price
           |FROM ${Tables.view(s, d, "orders")}"""
          .stripMargin).collect()(0)
      val tsLit = probe.getString(0)
      val dayLit = tsLit.take(10)
      val priceLit = probe.getString(1)
      def prunedBy(q: String): (Array[org.apache.spark.sql.Row], Long) = {
        val b = graft.sources.KvBloomPrune.prunedFiles.get()
        val rows = s.sql(q).collect()
        (rows, graft.sources.KvBloomPrune.prunedFiles.get() - b)
      }
      val sel = (probe: String, cond: String) =>
        s"""SELECT '$probe' AS probe, count(*) AS n_rows,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t WHERE $cond""".stripMargin
      val (r1, p1) = prunedBy(sel("ts", s"ts = TIMESTAMP '$tsLit'"))
      val (r2, p2) = prunedBy(sel("day", s"day = DATE '$dayLit'"))
      val (r3, p3) = prunedBy(sel("price",
        s"price = CAST('$priceLit' AS DOUBLE)"))
      for ((nm, p) <- Seq(("ts", p1), ("day", p2), ("price", p3)))
        require(p >= 2,
          s"catalog_bloom_temporal: $nm point lookup bloom-pruned " +
            s"only $p of 4 files")
      require(r1(0).getLong(1) > 0 && r3(0).getLong(1) >= 1L,
        "catalog_bloom_temporal: probes matched no rows")
      s.createDataFrame(
        java.util.Arrays.asList(r1 ++ r2 ++ r3: _*),
        s.sql(sel("x", "1=0")).schema).orderBy("probe")
    }),

    // MANIFEST-ANSWERED MIN/MAX over EVOLVED columns: the per-column
    // zone maps double as an aggregate index — an unfiltered
    // MIN/MAX/COUNT over any fixed-domain column (here a double and
    // a timestamp) is served from the manifest without opening one
    // data file (require()d on the KvAggScan counter), the extension
    // of the key-only catalog_minmax_pushdown to the whole column
    // set. Values pin against DuckDB over raw orders.
    "catalog_colagg_pushdown" -> ((s, d) => {
      val t = KvGate.table(s, "ca_gate", "(key BIGINT, value STRING, price " +
        "DOUBLE, ts TIMESTAMP) TBLPROPERTIES ('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        s"o_totalprice, o_orderdate FROM ${Tables.view(s, d, "orders")}")
      graft.sources.KvAggScan.served.set(0)
      val df = s.sql(s"SELECT count(*) AS n_orders, " +
        "min(price) AS min_price, max(price) AS max_price, " +
        "unix_micros(min(ts)) AS min_ts_us, " +
        s"unix_micros(max(ts)) AS max_ts_us FROM $t")
      val rows = df.collect()
      require(graft.sources.KvAggScan.served.get() > 0,
        "catalog_colagg_pushdown: aggregates were answered by a " +
          "data scan, not the manifest column stats")
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
    }),

    // Z-ORDER REWRITE + per-column zone maps, composed
    // (system.zorder): orders load in orderkey sequence, so custkey
    // and totalprice are SCATTERED across every file — no 2-D
    // predicate can prune. The Morton rewrite re-banded both columns
    // per file; the corner-box query must then skip files at
    // planning (require()d on the zone-map counter) and still return
    // the exact DuckDB rows. This is Delta's OPTIMIZE ZORDER BY
    // reduced to its essence: at 100 TB it is the difference between
    // a 2-D dashboard filter opening every file and opening ~sqrt of
    // them.
    "catalog_zorder_prune" -> ((s, d) => {
      val t = KvGate.table(s, "zp_gate", "(key BIGINT, value STRING, ck " +
        "BIGINT, price DOUBLE) TBLPROPERTIES ('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        s"o_custkey, o_totalprice FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"CALL graft_kv.system.zorder(table => ${t.arg}, " +
        "cols => 'ck,price', target_files => 16)")
      val before = graft.sources.KvZoneMap.prunedFiles.get()
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t WHERE ck < 30000 AND price < 50000.0D
           |GROUP BY value ORDER BY value""".stripMargin)
      require(out.count() > 0, "catalog_zorder_prune: empty result")
      val pruned = graft.sources.KvZoneMap.prunedFiles.get() - before
      require(pruned > 0, "catalog_zorder_prune: the 2-D box skipped " +
        "no files after the z-order rewrite")
      out
    }),

    // EXACTLY-ONCE STREAMING INGESTION into a snapshotted catalog
    // table (KvJsonlStreamingWrite, snapshotted path): a checkpointed
    // micro-batch query streams a source table's change feed into a
    // destination table, each epoch landing as ONE OCC manifest
    // commit (idempotent under epoch replay via the epoch file-name
    // prefix). Three source commits → three feed batches → the
    // destination's snapshot count is require()d to grow by exactly
    // the data epochs, and the rows pin against DuckDB over raw
    // orders — a lost, duplicated, or replayed epoch breaks the count
    // or the hash. This is the lakehouse loop closed: stream in,
    // time-travel/CDC out, all through the same manifests batch
    // writers commit to.
    "catalog_stream_sink" -> ((s, d) => {
      val src = KvGate.table(s, "sk_src", Snapshotted)
      val dst = KvGate.table(s, "sk_dst", Snapshotted)
      for (r <- 0 to 2)
        s.sql(s"INSERT INTO $src SELECT o_orderkey, o_orderpriority " +
          s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 3 = $r")
      val cp = graft.Fs.scratch(s, "sk_ckpt")
      StreamGates.run(s.readStream.table(src.qualified))(
        _.option("checkpointLocation", cp).toTable(dst.qualified))
      val nSnaps = graft.sources.KvSnapshots.versions(dst.dir).size
      require(nSnaps == 3,
        s"catalog_stream_sink: expected 3 epoch commits, got $nSnaps")
      s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $dst GROUP BY value ORDER BY value""".stripMargin)
    }),

    // POLICY-DRIVEN MAINTENANCE (write.auto_compact — the Delta
    // auto-compaction shape): a bucketed table with a standing
    // file-count policy ingests SIX streaming epochs and the write
    // path itself keeps every bucket at ≤ threshold files — no
    // manual CALL anywhere in this gate. The policy rewrites are
    // maintenance commits (CDC-invisible, base-pinned), so the
    // table's `$changes` history must carry exactly the ingested
    // inserts and nothing else — require()d, alongside the file
    // bound, the fired-compaction count, and the version arithmetic
    // (6 epoch commits + the policy commits). Rows pin against
    // DuckDB over the raw orders: at 100 TB trickle ingest, an
    // unbounded one-file-per-bucket-per-epoch layout is tens of
    // thousands of files per bucket per month — this property is
    // what makes streaming ingest and the SPJ layout coexist
    // unattended.
    "catalog_auto_compact" -> ((s, d) => {
      val src = KvGate.table(s, "ac_src", Snapshotted)
      val dst = KvGate.table(s, "ac_dst", "(key BIGINT, value STRING) " +
        "PARTITIONED BY (bucket(4, key)) TBLPROPERTIES " +
        "('snapshots'='true', 'write.auto_compact'='2')")
      for (r <- 0 to 5)
        s.sql(s"INSERT INTO $src SELECT o_orderkey, o_orderpriority " +
          s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 6 = $r")
      val fired0 = graft.sources.KvAutoCompact.compactions.get()
      val cp = graft.Fs.scratch(s, "ac_ckpt")
      StreamGates.run(s.readStream.table(src.qualified))(
        _.option("checkpointLocation", cp).toTable(dst.qualified))
      val fired =
        graft.sources.KvAutoCompact.compactions.get() - fired0
      require(fired >= 1,
        "catalog_auto_compact: the policy never fired across six " +
          "trickle epochs")
      val head = graft.sources.KvSnapshots.latest(dst.dir).get
      val perBucket = graft.sources.KvSnapshots.dataFiles(
          graft.sources.KvSnapshots.membersWithStats(dst.dir, head))
        .groupBy(f =>
          graft.sources.KvBucketing.fileBucket(f.name).getOrElse(-1))
        .map { case (b, fs) => b -> fs.size }
      require(perBucket.values.forall(_ <= 2),
        s"catalog_auto_compact: the policy did not hold the bound — " +
          s"files/bucket = $perBucket")
      require(head.toLong == 6L + fired,
        s"catalog_auto_compact: version arithmetic broke — head " +
          s"$head for 6 epochs + $fired policy commits")
      // CDC must see exactly the ingested inserts — the policy
      // rewrites are invisible
      val ch = s.sql(
        s"""SELECT _change_type, count(*) AS n
           |FROM ${dst.meta("changes")}
           |GROUP BY 1""".stripMargin).collect()
      val nOrders = s.sql(s"SELECT count(*) FROM " +
        s"${Tables.view(s, d, "orders")}").collect()(0).getLong(0)
      require(ch.length == 1 && ch(0).getString(0) == "insert" &&
        ch(0).getLong(1) == nOrders,
        s"catalog_auto_compact: policy commits leaked into CDC — " +
          s"${ch.mkString(", ")} vs $nOrders inserts")
      s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $dst GROUP BY value ORDER BY value""".stripMargin)
    }),

    // POLICY-DRIVEN RETENTION (expire.keep_last — the other half of
    // unattended maintenance): a standing version-count policy
    // expires history beyond the newest n after each data commit,
    // while TAGGED versions survive however old they get — exactly
    // the manual expire_snapshots contract, minus the operator. Six
    // commits against keep_last=3 must leave versions {1 (tagged),
    // 4, 5, 6} — require()d, with the tag still readable at its
    // exact row count. At 100 TB with streaming ingest the manifest
    // log and retained files otherwise grow without bound. Rows pin
    // against DuckDB over raw orders.
    "catalog_auto_expire" -> ((s, d) => {
      val t = KvGate.table(s, "ae_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'expire.keep_last'='3')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 6 = 0")
      s.sql("CALL graft_kv.system.tag(" +
        s"table => ${t.arg}, name => 'baseline')") // pins v1
      for (r <- 1 to 5)
        s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
          s"FROM ${Tables.view(s, d, "orders")} WHERE o_orderkey % 6 = $r")
      val retained = graft.sources.KvSnapshots.versions(t.dir)
      require(retained == Seq(1, 4, 5, 6),
        s"catalog_auto_expire: expected versions 1 (tagged), 4, 5, 6" +
          s" — got ${retained.mkString(", ")}")
      val expectV1 = s.sql(s"SELECT count(*) FROM " +
          s"${Tables.view(s, d, "orders")} WHERE o_orderkey % 6 = 0")
        .collect()(0).getLong(0)
      val atTag = s.sql(
        s"SELECT count(*) FROM $t VERSION AS OF 'baseline'")
        .collect()(0).getLong(0)
      require(atTag == expectV1,
        s"catalog_auto_expire: the tag pin broke — $atTag rows at " +
          s"'baseline', expected $expectV1")
      s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t GROUP BY value ORDER BY value""".stripMargin)
    }),

    // WRITE-AUDIT-PUBLISH branches (KvBranches.scala — the writable
    // half of the ref model; tags are the read-only half): the gate
    // runs the full staging lifecycle. (1) create_branch at main v1;
    // (2) write the risky load to the branch — main's count is
    // require()d unchanged while VERSION AS OF 'audit' sees the
    // staged rows; (3) fast_forward — main atomically adopts the
    // branch head; (4) a second branch stages more rows, main is
    // garbled by a CoW DELETE (whose rewrite REPLACES the old files),
    // and expire_snapshots(keep_last=1) reclaims all untagged main
    // history — the branch's manifests must keep the pre-DELETE files
    // alive (require()d readable at the right count; without the
    // branch-aware live set they'd be deleted from under it). The
    // oracle recomputes the final main state — orders plus the
    // published staged rows, minus the DELETE — from raw parquet; the
    // never-published second branch must leave no trace in it.
    "catalog_wap" -> ((s, d) => {
      val t = KvGate.table(s, "wap_gate", Snapshotted)
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}") // main v1
      s.sql("CALL graft_kv.system.create_branch(" +
        s"table => ${t.arg}, name => 'audit')")
      graft.Tables.orders(s, d)
        .where("o_orderkey % 3 = 0")
        .selectExpr("o_orderkey + 20000000 AS key",
          "concat('W-', o_orderpriority) AS value")
        .writeTo(t.qualified).option("branch", "audit").append()
      val mainCnt = s.table(t.qualified).count()
      val origCnt = graft.Tables.orders(s, d).count()
      require(mainCnt == origCnt,
        s"catalog_wap: branch write leaked into main " +
          s"($mainCnt rows, expected $origCnt)")
      val auditCnt = s.sql(
        s"SELECT count(*) FROM $t VERSION AS OF 'audit'")
        .collect().head.getLong(0)
      require(auditCnt > mainCnt,
        "catalog_wap: the audit read is missing the staged rows")
      s.sql("CALL graft_kv.system.fast_forward(" +
        s"table => ${t.arg}, branch => 'audit')")
      require(s.table(t.qualified).count() == auditCnt,
        "catalog_wap: fast_forward did not publish the branch head")
      s.sql("CALL graft_kv.system.drop_branch(" +
        s"table => ${t.arg}, name => 'audit')")
      // Second branch: stage rows, then garble main with a CoW DELETE
      // (file-replacing) and expire everything untagged.
      s.sql("CALL graft_kv.system.create_branch(" +
        s"table => ${t.arg}, name => 'stage2')")
      graft.Tables.orders(s, d)
        .where("o_orderkey % 7 = 0")
        .selectExpr("o_orderkey + 30000000 AS key",
          "'S2' AS value")
        .writeTo(t.qualified).option("branch", "stage2").append()
      val staged2 = graft.Tables.orders(s, d)
        .where("o_orderkey % 7 = 0").count()
      s.sql(s"DELETE FROM $t WHERE key % 2 = 0") // CoW rewrite
      s.sql("CALL graft_kv.system.expire_snapshots(" +
        s"table => ${t.arg}, keep_last => 1)")
      val stage2Cnt = s.sql(
        s"SELECT count(*) FROM $t VERSION AS OF 'stage2'")
        .collect().head.getLong(0)
      require(stage2Cnt == auditCnt + staged2,
        s"catalog_wap: expire reclaimed branch-referenced files " +
          s"(branch reads $stage2Cnt rows, expected " +
          s"${auditCnt + staged2})")
      s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys
           |FROM $t GROUP BY value ORDER BY value""".stripMargin)
    }),

    // TIMESTAMP / DATE catalog columns (KvSchema.scala): stored as
    // int64-micros / int32-days tokens — Spark's own internal
    // representations — so the line format needs no new dialect and
    // the id→type binding stays permanent. The gate CREATEs with both
    // temporal types, inserts from raw orders, evolves a bigint
    // column alongside (mixed pre/post-ALTER files), filters on the
    // timestamp AND the date with measured reader-side pushdown
    // (KvExtraPredicate.skipped must move — a silently unpushed
    // filter fails the require), and pins counts, key sums and the
    // temporal extrema against DuckDB recomputing from the raw
    // parquet at UTC.
    "catalog_ts_column" -> ((s, d) => {
      val t = KvGate.table(s, "ts_gate", "(key BIGINT, value STRING, ts " +
        "TIMESTAMP, day DATE) TBLPROPERTIES ('snapshots'='true')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, " +
        "o_orderdate, CAST(o_orderdate AS DATE) " +
        s"FROM ${Tables.view(s, d, "orders")}") // v1
      s.sql(s"ALTER TABLE $t ADD COLUMN qty BIGINT")
      s.sql(s"INSERT INTO $t SELECT o_orderkey + 10000000, " +
        "o_orderpriority, o_orderdate, CAST(o_orderdate AS DATE), " +
        s"o_custkey + 7 FROM ${Tables.view(s, d, "orders")} " +
        "WHERE o_orderkey % 5 = 0") // v2, post-ALTER shape
      val out = s.sql(
        s"""SELECT value, count(*) AS n_orders,
           |       CAST(sum(key) AS BIGINT) AS sum_keys,
           |       CAST(sum(coalesce(qty, 0)) AS BIGINT) AS sum_qty,
           |       unix_micros(min(ts)) AS min_ts_us,
           |       CAST(max(day) AS STRING) AS max_day
           |FROM $t
           |WHERE ts >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND day < DATE '1999-01-01'
           |GROUP BY value ORDER BY value""".stripMargin)
      val before = graft.sources.KvExtraPredicate.skipped.get()
      require(out.count() > 0, "catalog_ts_column: empty result")
      require(graft.sources.KvExtraPredicate.skipped.get() > before,
        "catalog_ts_column: no reader-side temporal row skip " +
          "observed — the timestamp/date filters did not push down")
      out
    }),

    // INCREMENTAL MATERIALIZED VIEW over the CDC feed: the canonical
    // downstream use of `$changes` — maintain a grouped aggregate
    // from signed change rows alone (insert = +1, delete = -1),
    // never rescanning the base table. The gate replays a
    // mixed-DML history (insert, MoR update, delete) through the
    // changes table and folds it into the MV; the oracle recomputes
    // the SAME aggregate from the final state by plain SQL — any
    // missed tombstone, double-counted restatement, or lost insert
    // shifts a group's count/sum and breaks the hash. Groups whose
    // rows all cancel must VANISH (HAVING), exactly as a true MV
    // refresh would drop them.
    "catalog_incremental_mv" -> ((s, d) => {
      val t = KvGate.table(s, "mv_gate", "(key BIGINT, value STRING) " +
        "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
      s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority " +
        s"FROM ${Tables.view(s, d, "orders")}")
      s.sql(s"UPDATE $t SET value = concat('U-', value) " +
        "WHERE key % 7 = 0")
      s.sql(s"DELETE FROM $t WHERE key % 5 = 0")
      s.sql(
        s"""SELECT value,
           |       sum(CASE _change_type WHEN 'insert' THEN 1
           |           ELSE -1 END) AS n_orders,
           |       sum(CASE _change_type WHEN 'insert' THEN key
           |           ELSE -key END) AS sum_keys
           |FROM ${t.meta("changes")}
           |GROUP BY value
           |HAVING sum(CASE _change_type WHEN 'insert' THEN 1
           |           ELSE -1 END) > 0
           |ORDER BY value""".stripMargin)
    }),

    // Streaming exact-dedup through the gate: the event stream
    // unioned with itself (every event twice), deduped on event_id by
    // dropDuplicatesWithinWatermark — the bounded-state form whose
    // seen-key state the watermark expires — run to completion and
    // reduced to per-type counts. If dedup dropped nothing, n_events
    // doubles; if it over-dropped, counts fall short — the oracle
    // (raw events, undoubled) pins both failure directions.
    "stream_dedup" -> ((s, d) =>
      StreamGates.memory(StreamingEvents.dedupStream(s, d), "stream_dedup")._1
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"))
        .orderBy("event_type")),

    // Per-key ingest QUOTA through flatMapGroupsWithState: at most
    // QuotaPerDay events accepted per (user, event-time day), the
    // rest flagged dropped — the hot-key throttling a 100 TB/day
    // ingest runs ahead of expensive stages. State is one counter per
    // active (user, day); the accept decision sorts each group by
    // (event time, event_id), so it is deterministic under any
    // partitioning and the oracle reproduces it as a row_number cut.
    "stream_quota" -> ((s, d) =>
      StreamingEvents.singleBatch(
        StreamingEvents.quotaStream(s, d), "stream_quota")
        .groupBy("event_type")
        .agg(
          sum(when(col("accepted"), 1L).otherwise(0L))
            .as("n_accepted"),
          sum(when(col("accepted"), 0L).otherwise(1L))
            .as("n_dropped"))
        .orderBy("event_type")),

    // foreachBatch UPSERT — the dominant production sink pattern
    // (per-micro-batch merge into a serving table, for sinks with no
    // native streaming writer). Two staged ingest files force two
    // micro-batches; each batch aggregates itself and merges into a
    // VERSIONED parquet state table keyed by the BATCH ID: state
    // v{id+1} = state v{id} ⊕ batch id, written with overwrite.
    // foreachBatch is at-least-once — keying the version on the batch
    // id makes a replay REWRITE v{id+1} from the same inputs instead
    // of double-applying the batch (the idempotence a restart needs);
    // reading vN and writing vN+1 also never overwrites what it
    // reads. Counts/sums are associative, so the final state ≡ the
    // oracle's one-shot aggregation.
    "stream_foreach_upsert" -> ((s, d) => {
      val base = graft.Fs.scratch(s, "feb")
      val ingest = s"$base/ingest"
      val ev = graft.Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        graft.operators.Money.cents(col("value")).as("cents"))
      ev.filter(col("event_id") % 2 === 0).write.parquet(s"$ingest/f0")
      ev.filter(col("event_id") % 2 === 1).write.parquet(s"$ingest/f1")
      val schema = ev.schema
      val maxVersion = new java.util.concurrent.atomic.AtomicLong(0L)
      StreamGates.run(
        s.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$ingest/*"))(
        _.option("checkpointLocation", s"$base/ckpt")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val agg = batch
              .groupBy("event_type")
              .agg(
                count(lit(1)).as("n_events"),
                sum(col("cents")).as("sum_cents"))
            val merged =
              if (id == 0) agg
              else
                s.read.parquet(s"$base/state/v$id")
                  .unionByName(agg)
                  .groupBy("event_type")
                  .agg(
                    sum(col("n_events")).as("n_events"),
                    sum(col("sum_cents")).as("sum_cents"))
            merged.write.mode("overwrite")
              .parquet(s"$base/state/v${id + 1}")
            maxVersion.updateAndGet(_ max (id + 1))
            ()
          }
          .start())
      val last = maxVersion.get()
      require(last >= 2,
        s"foreachBatch ran $last micro-batches — the upsert loop " +
          "needs at least two to prove the merge")
      s.read.parquet(s"$base/state/v$last").orderBy("event_type")
    }),

    // Small-files COMPACTION — the table-maintenance pass every
    // long-lived 100 TB table needs (streaming ingest and per-batch
    // writes fragment tables; scan cost and driver memory scale with
    // file count, not bytes). A 16-file fragmented write is compacted
    // through one repartition(2) rewrite — a real distributed plan,
    // no driver loop — and the gate pins DATA IDENTITY through the
    // rewrite (row count, exact cents sum, distinct ids) plus the
    // exact file counts (one file per shuffle partition, so both
    // counts are plan-determined constants).
    "compact_small_files" -> ((s, d) => {
      val base = graft.Fs.scratch(s, "compact")
      val small = s"$base/small"
      val compacted = s"$base/compacted"
      graft.Tables.events(s, d)
        .select(
          col("event_id"),
          col("event_type"),
          graft.operators.Money.cents(col("value")).as("cents"))
        .repartition(16)
        .write.parquet(small)
      s.read.parquet(small).repartition(2).write.parquet(compacted)
      def nFiles(dir: String): Long =
        new java.io.File(dir).listFiles()
          .count(f => f.getName.endsWith(".parquet")).toLong
      def report(dir: String, stage: String) =
        s.read.parquet(dir)
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("cents")).as("sum_cents"),
            countDistinct(col("event_id")).as("n_ids"))
          .select(
            lit(stage).as("stage"),
            lit(nFiles(dir)).as("n_files"),
            col("n_rows"),
            col("sum_cents"),
            col("n_ids"))
      report(small, "s1_small")
        .unionByName(report(compacted, "s2_compacted"))
        .orderBy("stage")
    }),

    // Watermark late-data-DROP semantics through the gate: phase 2 of
    // a checkpointed two-run stream delivers the oldest half of the
    // corpus two weeks below the restored watermark (dropped) plus a
    // post-watermark sliver (kept). The oracle reproduces the
    // exclusion arithmetically: rows ≥ LateSplit, hourly windows
    // closed by the final watermark max(ts) − 1 h. Both failure
    // directions pin: un-dropped late rows add ~15 days of windows;
    // over-dropping loses the final-day hours.
    "stream_late_drop" -> ((s, d) =>
      StreamingEvents.lateDropResult(s, d)),

    // The SAME quota through Spark 4's transformWithState (typed
    // MapState handles on the RocksDB state store the operator
    // requires) — run against the IDENTICAL oracle as stream_quota,
    // so the legacy and successor state APIs are proven
    // gate-indistinguishable. The runner scopes the provider to this
    // query.
    "stream_quota_tws" -> ((s, d) =>
      StreamingEvents.singleBatch(
        StreamingEvents.quotaStreamTws(s, d), "stream_quota_tws")
        .groupBy("event_type")
        .agg(
          sum(when(col("accepted"), 1L).otherwise(0L))
            .as("n_accepted"),
          sum(when(col("accepted"), 0L).otherwise(1L))
            .as("n_dropped"))
        .orderBy("event_type")),

    // Per-key RECENCY BUFFER on ListState (the remaining typed state
    // primitive): the last K=3 events per user stay buffered — the
    // per-key sliding context a feature pipeline keeps — and every
    // arrival beyond K emits the evicted oldest event. The oracle
    // derives evictions as rank-from-newest > K, so both over- and
    // under-eviction break the hash.
    "stream_recent_k" -> ((s, d) =>
      StreamingEvents.singleBatch(
        StreamingEvents.recentKStream(s, d), "stream_recent_k")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_evicted"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")),

    // Streaming FUNNEL: the batch conversion funnel as a per-user
    // state machine — ValueState holds the three stage-first
    // timestamps, rows process grouped by SECOND (views before
    // clicks before purchases within a second, which is what makes
    // the min-based batch semantics exact in one pass), and each
    // stage emits once when first reached. The drained emission
    // counts ARE the batch funnel row — same oracle string.
    "stream_funnel" -> ((s, d) =>
      StreamingEvents.singleBatch(
        StreamingEvents.funnelStream(s, d), "stream_funnel")
        .agg(
          sum(when(col("stage") === "viewed", 1L).otherwise(0L))
            .as("n_viewed"),
          sum(when(col("stage") === "clicked", 1L).otherwise(0L))
            .as("n_clicked_after_view"),
          sum(when(col("stage") === "purchased", 1L).otherwise(0L))
            .as("n_purchased_after_click"))),

    // Streaming MARKOV TRANSITIONS: the batch `event_transitions`
    // matrix built in-stream — one ValueState row per user (the last
    // event) on RocksDB, one (src, dst) emission per consecutive
    // pair, chains continuing across batch boundaries from the
    // retained state. The drained emissions aggregate to the
    // identical matrix, so the query pins against the SAME oracle
    // string as its batch twin — replay ≡ batch is the gate, not an
    // aspiration.
    "stream_event_transitions" -> ((s, d) => {
      val ws = org.apache.spark.sql.expressions.Window.partitionBy("src")
      StreamingEvents.singleBatch(
        StreamingEvents.transitionsStream(s, d), "stream_event_transitions")
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(ws))
        .withColumn("p_ppm", expr("1000000 * n DIV tot"))
        .select("src", "dst", "n", "p_ppm")
        .orderBy("src", "dst")
    }),

    // Stateful EWMA ANOMALY screen: per event_type the stream keeps
    // two integer EWMAs (level + mean-abs-deviation) and flags events
    // deviating more than 4× the running scale — in-stream
    // monitoring with O(1) state per key. Integer α=1/8 updates with
    // truncating division, so the oracle replays the IDENTICAL
    // recurrence as a recursive CTE and the final state values
    // hash-pin the whole per-key update order, not just the flag
    // counts.
    "stream_anomaly" -> ((s, d) =>
      StreamingEvents.singleBatch(
        StreamingEvents.anomalyStream(s, d), "stream_anomaly")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          max_by(col("ewma_cents"), col("seq")).as("last_ewma_cents"),
          max_by(col("ewmad_cents"), col("seq")).as("last_ewmad_cents"))
        .orderBy("event_type")),

    // UPDATE output mode — the dashboard shape (append emits a
    // window only when the watermark CLOSES it; update re-emits a
    // key's row every time it changes). The memory sink accumulates
    // every intermediate version; per-key counts are MONOTONE under
    // accumulation, so max() over the drained versions IS the final
    // value — pinned against the same batch aggregation oracle, which
    // makes over-emission (stale versions winning) and missed updates
    // both detectable.
    "stream_update_mode" -> ((s, d) =>
      StreamGates.memory(
        StreamingEvents.windowedAgg(StreamingEvents.stream(s, d)),
        "stream_upd", "update")._1
        .groupBy("day", "event_type")
        .agg(
          max(col("n_events")).as("n_events"),
          max(col("value_cents")).as("value_cents"))
        .orderBy("day", "event_type")),

    // COMPLETE output mode — the full-snapshot-per-trigger shape for
    // small-cardinality aggregates (a memory sink in complete mode
    // REPLACES the table each batch, so what remains after the final
    // trigger is exactly the final snapshot). Pinned against the
    // one-shot batch totals.
    "stream_complete_mode" -> ((s, d) =>
      StreamGates.memory(
        StreamingEvents.stream(s, d)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum(graft.operators.Money.cents(col("value")))
              .as("value_cents")),
        "stream_cmp", "complete")._1
        .orderBy("event_type")),

    // STREAMING REACH — the cumulative unique-user curve fed by a
    // first-seen detector (one BIT of ValueState per user; the state
    // keyspace is genuinely unbounded because "ever seen" is an
    // unbounded question, but the payload is minimal and the
    // emission is exactly-once per user). Emissions aggregate to the
    // per-day new-user counts and pin against the SAME oracle string
    // as the batch `reach_curve` — replay ≡ batch, the gate not an
    // aspiration. The observed-day calendar joins from the batch
    // read so zero-new days still advance the curve.
    "stream_reach" -> ((s, d) => {
      val newPerDay = StreamingEvents.singleBatch(
          StreamingEvents.reachStream(s, d), "stream_reach")
        .groupBy("day")
        .agg(count(lit(1)).as("n_new"))
      val calendar = graft.Tables.events(s, d)
        .select(expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) " +
          "DIV 86400000000 AS BIGINT)").as("day"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      calendar
        .join(newPerDay, Seq("day"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("cum_users", sum(col("n_new")).over(w))
        .orderBy("day")
    }),

    // Native session_window with a DYNAMIC per-row gap (Spark's
    // gapDuration-as-expression form): purchases close their session
    // after 5 minutes, everything else after 30 — the
    // intent-dependent timeout a checkout flow uses. Sessions merge
    // while a window starts AT OR BEFORE the running maximum end
    // (exact boundary contact MERGES — pinned by the randomized
    // differential sweep in SessionWindowDynamicPropsSpec, whose
    // first run caught the >= split this oracle briefly had), so the
    // oracle reconstructs them with a cumulative-max island pass on
    // the identical integer-microsecond timeline.
    "session_window_dynamic" -> ((s, d) =>
      graft.Tables.events(s, d)
        .groupBy(
          col("user_id"),
          session_window(col("ts"),
            when(col("event_type") === "purchase", "5 minutes")
              .otherwise("30 minutes")).as("sw"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("n_purchases"))
        .select(
          col("user_id"),
          graft.Tables.tsMicros(col("sw.start")).as("start_us"),
          graft.Tables.tsMicros(col("sw.end")).as("end_us"),
          col("n_events"), col("n_purchases"))
        .orderBy("user_id", "start_us")),

    // Streaming CUSUM changepoint screen — the sustained-shift
    // complement of the EWMA anomaly screen: per event_type one
    // cumulative-excess integer S ← max(0, S + (x − K)), alarm +
    // reset past H. Inherently sequential recurrence ⇒ stateful
    // stream with O(1) state per key; the oracle replays the
    // identical recurrence as a recursive CTE over the same bounded
    // event slice, so the final S values hash-pin the whole per-key
    // update order.
    "stream_cusum" -> ((s, d) =>
      StreamingEvents.singleBatch(
        StreamingEvents.cusumStream(s, d), "stream_cusum")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarms"),
          max_by(col("s_cents"), col("seq")).as("last_s_cents"))
        .orderBy("event_type")),

    // WARM-START quota (StatefulProcessorWithInitialState): the
    // batch→streaming HANDOVER — history (even event ids) counted
    // once offline into the initial state, the stream processes only
    // the new half and its accept decisions must reflect the warm
    // counters. The oracle computes the combined rank arithmetically
    // (history count + stream rank per user-day), so un-loaded
    // initial state (accepts too much) and double-counted history
    // both break the hash.
    "stream_quota_warm" -> ((s, d) =>
      StreamingEvents.singleBatch(
        StreamingEvents.quotaStreamWarm(s, d), "stream_quota_warm")
        .groupBy("event_type")
        .agg(
          sum(when(col("accepted"), 1L).otherwise(0L))
            .as("n_accepted"),
          sum(when(col("accepted"), 0L).otherwise(1L))
            .as("n_dropped"))
        .orderBy("event_type")),

    // MULTI-HOP streaming (bronze→silver→gold): hop 1 materializes
    // the watermark-gated hourly silver layer through its
    // checkpointed parquet sink; hop 2 is a SECOND streaming query
    // reading that layer back as a file stream and re-aggregating
    // per type — each hop with its own recovery story, chained
    // through replayable storage (never one mega-query with chained
    // stateful aggregations). The oracle re-derives the silver layer
    // arithmetically and folds it the same way.
    "stream_multihop" -> ((s, d) =>
      StreamingEvents.multihopResult(s, d)),

    // The streaming pipeline's aggregation, batch-executed.
    "stream_window_batch" -> ((s, d) =>
      StreamingEvents
        .windowedAgg(graft.Tables.events(s, d))
        .orderBy("day", "event_type")),

    // The sliding-window variant (2-day windows, 1-day slide — every
    // event in exactly two windows), batch-executed; the oracle
    // reconstructs the window assignment with an explicit 2-row
    // offset cross join.
    "stream_sliding_batch" -> ((s, d) =>
      StreamingEvents
        .slidingAgg(graft.Tables.events(s, d))
        .orderBy("win_start", "event_type")),

    // Stream-static enrichment join transform, batch-executed (its
    // streaming twin — per-micro-batch broadcast of the bounded
    // dimension, zero join state — is asserted ≡ batch in
    // StreamingSpec).
    "stream_static_join" -> ((s, d) =>
      StreamingEvents
        .staticEnrichAgg(
          graft.Tables.events(s, d), graft.Tables.customer(s, d))
        .orderBy("segment")),

    // Native session_window aggregation (the declarative sessionizer:
    // Catalyst merges events into [first, last+gap) windows — one
    // shuffle on the session key, mergeable session state). Boundaries
    // compared in epoch MICROSECONDS, the engine's native timestamp
    // unit, so the oracle reconstructs sessions from the identical
    // integer timeline.
    "session_window_batch" -> ((s, d) =>
      graft.Tables.events(s, d)
        .groupBy(
          col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          graft.Tables.tsMicros(col("sw.start")).as("start_us"),
          graft.Tables.tsMicros(col("sw.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")),

    // The stream-stream join's shared transform, batch-executed (its
    // streaming twin — watermarks both sides, event-time-bounded
    // condition, append mode — is asserted ≡ batch in StreamingSpec).
    "stream_join_batch" -> ((s, d) =>
      StreamingEvents
        .clickViewJoin(StreamingEvents.batch(s, d))
        .orderBy("user_id", "click_id", "view_id")),

    // LEFT OUTER stream-stream join transform, batch-executed (its
    // streaming twin — append-mode outer emission governed by the
    // min-across-streams watermark — is asserted inner≡batch /
    // outer-complete-past-horizon in StreamingSpec).
    "stream_left_join_batch" -> ((s, d) =>
      StreamingEvents
        .clickViewLeftJoin(StreamingEvents.batch(s, d))
        .select("user_id", "click_id", "view_id")
        .orderBy(
          col("user_id"), col("click_id"),
          col("view_id").asc_nulls_first)),

    // FULL OUTER stream-stream join transform, batch-executed (its
    // streaming twin — both unmatched sides emitted under the same
    // min-watermark governance — is asserted inner≡batch / both outer
    // directions ⊆ batch and complete past their horizons in
    // StreamingSpec).
    "stream_full_join_batch" -> ((s, d) =>
      StreamingEvents
        .clickViewFullJoin(StreamingEvents.batch(s, d))
        .select("user_id", "click_id", "view_id")
        .orderBy(
          col("user_id"),
          col("click_id").asc_nulls_first,
          col("view_id").asc_nulls_first)),

    // Streaming AS-OF join, run THROUGH the stream: the event-time-
    // bounded stream-stream join chained into an append-mode windowed
    // aggregation picking each click's latest view (two stateful
    // operators in one query — Spark 4's multi-stateful support).
    // The final no-data micro-batch flushes exactly the clicks whose
    // hour window the propagated watermark has passed; the oracle
    // derives the same emission horizon arithmetically (min of the
    // two sides' max event times, minus the 1 h delay).
    "stream_asof" -> ((s, d) =>
      StreamGates.memory(
        StreamingEvents.clickViewAsofStream(StreamingEvents.stream(s, d)),
        "stream_asof")._1
        .orderBy("user_id", "click_id")),

    // Sessionization, batch form (window functions); its streaming
    // twin (flatMapGroupsWithState) is asserted equal in SessionizeSpec.
    "sessionize_batch" -> ((s, d) =>
      graft.streaming.Sessionize
        .sessionizeBatch(graft.Tables.events(s, d))
        .orderBy("user_id", "session_start")),

    // The CONTINUOUS sessionizer (GroupState + event-time timeout),
    // run as a real streaming query to completion. Emits exactly the
    // sessions the final watermark proves closed — which the oracle
    // derives independently in DuckDB from the batch definition
    // (end + gap < max event time), so the streaming state machine's
    // output is hash-pinned, not just spec-compared.
    "sessionize_stateful" -> ((s, d) =>
      graft.streaming.Sessionize
        .runStatefulStreamToCompletion(s, d, "sess_stateful")
        .orderBy("user_id", "session_start")),

    // The SAME continuous sessionizer on Spark 4's transformWithState
    // with EVENT-TIME TIMERS (the new API's native timeout) — run
    // against the identical closed-session oracle, so the legacy
    // GroupState timeout and the successor timer mechanism are
    // proven gate-indistinguishable.
    "sessionize_tws" -> ((s, d) =>
      graft.streaming.Sessionize
        .runTwsStreamToCompletion(s, d, "sess_tws")
        .orderBy("user_id", "session_start")),

    // The same stateful sessionizer through the DEPLOYABLE sink: a
    // checkpointed parquet file sink (exactly-once via the sink
    // manifest), read back from the files — hash-pinned against the
    // identical closed-session oracle as the memory-sink form.
    "sessionize_sink_parquet" -> ((s, d) =>
      graft.streaming.Sessionize
        .runStatefulStreamToParquet(s, d)
        .orderBy("user_id", "session_start")),

    // Streaming DataSourceV2 with REAL offset management: the
    // `eventreplay` MicroBatchStream serves the staged event log in
    // admission-controlled micro-batches; a mid-stream kill (phase 1
    // sees half the log) and a restart from the SAME checkpoint must
    // deliver every event exactly once — resumption row counts are
    // asserted in the gate, duplicates/holes are caught by this
    // oracle's count+hash.
    "stream_v2_source" -> ((s, d) =>
      graft.streaming.EventReplayGate.run(s, d)),

    // The PARTITIONED form of the eventreplay kill/restart gate:
    // composite {partition → position} offsets over a 3-file log, a
    // per-partition mid-stream kill, and the committed composite
    // offset read back from the checkpoint — every partition must
    // resume from its OWN position (the broker contract). Same
    // exactly-once oracle as the scalar gate.
    "stream_v2_partitioned" -> ((s, d) =>
      graft.streaming.EventReplayGate.runPartitioned(s, d)),

    // Broker-provenance METADATA COLUMNS through the STREAMING V2
    // source (SupportsMetadataColumns on eventreplay): _replay_part /
    // _replay_pos are hidden until named and bind positionally after
    // the data schema; per-partition aggregates — including
    // Σpos = n(n−1)/2, which pins positions as a contiguous 0-based
    // sequence — derive in the oracle from raw events via the
    // event_id mod 3 routing rule.
    "stream_v2_metadata" -> ((s, d) =>
      graft.streaming.EventReplayGate.runMetadata(s, d))
  )

  /** DuckDB derivation of the CLOSED sessions (batch sessionization +
    * `end + gap < max event time` filter) — the independent oracle for
    * the GroupState event-time-timeout sessionizer, shared by its
    * memory-sink and parquet-file-sink forms.
    */
  private val closedSessionsOracle: String =
    """WITH l AS (
      |  SELECT user_id, event_id, ts,
      |         lag(ts) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS prev_ts
      |  FROM events
      |), f AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR CAST(floor(epoch(ts)) AS BIGINT)
      |         - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM l
      |), s AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS session_idx
      |  FROM f
      |), sess AS (
      |  SELECT user_id,
      |         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |         count(*) AS n_events,
      |         CAST(max(CAST(floor(epoch(ts)) AS BIGINT))
      |              - min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)
      |           AS duration_secs,
      |         max(CAST(floor(epoch(ts)) AS BIGINT)) AS end_sec
      |  FROM s GROUP BY user_id, session_idx
      |)
      |SELECT user_id, session_start, n_events, duration_secs
      |FROM sess
      |WHERE end_sec + 1801 <=
      |  (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) FROM events)
      |ORDER BY user_id, session_start""".stripMargin

  /** The silver layer the late-drop pipeline materializes: hourly
    * windows of rows ≥ LateSplit, restricted to windows the FINAL
    * watermark closed. Shared by `stream_late_drop` (reads it
    * directly) and `stream_multihop` (hop-2 re-aggregation) so the
    * two oracles derive one layer.
    */
  private val lateSilverCtes: String =
    s"""wm AS (
       |  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events
       |), kept AS (
       |  SELECT date_trunc('hour', ts) AS h, event_type, value
       |  FROM events
       |  WHERE ts >= TIMESTAMP '${
        graft.streaming.StreamingEvents.LateSplit}'
       |), silver AS (
       |  SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, event_type,
       |         count(*) AS n_events,
       |         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
       |           AS value_cents
       |  FROM kept, wm
       |  WHERE h + INTERVAL 1 HOUR <= wm.w
       |  GROUP BY h, event_type
       |)""".stripMargin

  private val quotaOracleSql: String =
    s"""WITH r AS (
       |  SELECT event_type,
       |         row_number() OVER (
       |           PARTITION BY user_id,
       |             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
       |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC,
       |             event_id ASC) AS rn
       |  FROM events
       |)
       |SELECT event_type,
       |       CAST(sum(CASE WHEN rn <= ${
        graft.streaming.StreamingEvents.QuotaPerDay
      } THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
       |       CAST(sum(CASE WHEN rn > ${
        graft.streaming.StreamingEvents.QuotaPerDay
      } THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // The catalog round-trip (tag-pinned array<double> read) must
    // reproduce cosine_topk_brute on the raw parquet BIT-FOR-BIT —
    // the float→double widening at INSERT is exact, so the two
    // pipelines share one oracle.
    "catalog_array_column" ->
      SimilarityQueries.oracleSql("cosine_topk_brute"),
    // Same sharing for the LSH twin over the catalog table.
    "catalog_array_ann" ->
      SimilarityQueries.oracleSql("cosine_topk_lsh"),
    // Both phases' LSH top-K recomputed from the raw embeddings: the
    // v1 serve against the 80% corpus the index was pinned to, the
    // post-refresh serve against the full corpus — one statement, so
    // a stale or half-refreshed answer in either phase breaks the
    // hash.
    "catalog_ann_pinned" ->
      s"""WITH corpus1 AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < (SELECT (4 * count(*)) // 5
         |                  FROM embeddings)),
         |${SimilarityQueries.lshHiChainOver("a", "corpus1")},
         |${SimilarityQueries.lshHiChainOver("b", "embeddings")}
         |SELECT * FROM (
         |  SELECT 'v1' AS phase, qid, vec_id, rnk, sim FROM atop
         |  UNION ALL
         |  SELECT 'v2', qid, vec_id, rnk, sim FROM btop) t
         |ORDER BY phase, qid, rnk""".stripMargin,
    // Token stats recomputed from raw documents with the same
    // split + DELETE filter the stored arrays went through.
    "catalog_array_string" ->
      """SELECT lang, token, count(*) AS n_tokens,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM (
        |  SELECT doc_id, lang,
        |         unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 7 != 0
        |) t
        |WHERE token <> ''
        |GROUP BY lang, token
        |ORDER BY lang, token""".stripMargin,
    "stream_v2_source" ->
      """SELECT event_id,
        |       epoch_us(ts) AS ts_us,
        |       user_id,
        |       event_type,
        |       CAST(round(value*100) AS BIGINT) AS value_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_v2_partitioned" ->
      """SELECT event_id,
        |       epoch_us(ts) AS ts_us,
        |       user_id,
        |       event_type,
        |       CAST(round(value*100) AS BIGINT) AS value_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "webpage_scan" ->
      s"""SELECT url, CAST(n AS BIGINT) AS n_pages FROM (VALUES
         |  ('${PageParsers.EmpireUrl}', 1),
         |  ('${PageParsers.ImdbUrl}', 1),
         |  ('${PageParsers.RankerUrl}', 1)) AS t(url, n)
         |ORDER BY url""".stripMargin,
    "webpage_pushdown" ->
      s"""SELECT '${PageParsers.ImdbUrl}' AS url""".stripMargin,
    "webpage_rankings" ->
      FlagshipQueries.oracleSql("raw_rankings"),
    // The streaming Markov matrix must reproduce its batch twin
    // bit-for-bit — same oracle string, so stream ≡ batch is gated.
    "stream_event_transitions" ->
      AnalyticsQueries.oracleSql("event_transitions"),
    // Stream ≡ batch funnel, gated by the shared oracle string.
    "stream_funnel" ->
      AnalyticsQueries.oracleSql("event_funnel"),
    "rankings_sql" ->
      FlagshipQueries.oracleSql("raw_rankings"),
    "v2_sink_roundtrip" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    "catalog_compact_call" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    "catalog_dml_delete" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey % 3 <> 0
        |GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    "catalog_count_pushdown" ->
      """SELECT count(*) AS n_orders
        |FROM orders WHERE o_orderkey % 5 <> 0""".stripMargin,
    "catalog_zonemap_prune" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey <= 1000
        |GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    "catalog_minmax_pushdown" ->
      """SELECT count(*) AS n_orders,
        |       min(o_orderkey) AS min_key,
        |       max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 5 <> 0""".stripMargin,
    "catalog_enable_snapshots" ->
      """SELECT * FROM (
        |  SELECT 1 AS version, o_orderpriority AS value,
        |         count(*) AS n_orders,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 2
        |  UNION ALL
        |  SELECT 2, o_orderpriority, count(*),
        |         CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders GROUP BY 2
        |  UNION ALL
        |  SELECT 3, o_orderpriority, count(*),
        |         CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 2)
        |ORDER BY version, value""".stripMargin,
    "catalog_changefeed" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    "catalog_time_travel" ->
      """SELECT * FROM (
        |  SELECT 1 AS version, o_orderpriority AS value,
        |         count(*) AS n_orders,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 2
        |  UNION ALL
        |  SELECT 2, o_orderpriority, count(*),
        |         CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders GROUP BY 2
        |  UNION ALL
        |  SELECT 3, o_orderpriority, count(*),
        |         CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 2)
        |ORDER BY version, value""".stripMargin,
    "catalog_expire_call" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey % 3 <> 0
        |GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    "catalog_spj_join" ->
      """SELECT a.o_orderpriority AS priority,
        |       b.l_returnflag AS flag,
        |       count(*) AS n_items,
        |       CAST(sum(b.l_orderkey) AS BIGINT) AS sum_keys
        |FROM orders a JOIN lineitem b ON a.o_orderkey = b.l_orderkey
        |GROUP BY 1, 2
        |ORDER BY priority, flag""".stripMargin,
    // The same selective join recomputed from raw orders × customer.
    "catalog_runtime_bloom" ->
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey IN (7, 19)
        |GROUP BY 1 ORDER BY value""".stripMargin,
    // The post-rewrite state recomputed from raw orders with the
    // same DELETE applied.
    "catalog_rewrite_buckets" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey % 9 != 0
        |GROUP BY value ORDER BY value""".stripMargin,
    // Same join as catalog_spj_join over the sorted-bucketed pair —
    // the plan differs (no sorts), the rows must not.
    "catalog_sorted_join" ->
      """SELECT a.o_orderpriority AS priority,
        |       b.l_returnflag AS flag,
        |       count(*) AS n_items,
        |       CAST(sum(b.l_orderkey) AS BIGINT) AS sum_keys
        |FROM orders a JOIN lineitem b ON a.o_orderkey = b.l_orderkey
        |GROUP BY 1, 2
        |ORDER BY priority, flag""".stripMargin,
    // The named-key twin: same join recomputed from raw parquet —
    // key-column naming changes plans never rows.
    "catalog_spj_named" ->
      """SELECT a.o_orderpriority AS priority,
        |       b.l_returnflag AS flag,
        |       count(*) AS n_items,
        |       CAST(sum(b.l_orderkey) AS BIGINT) AS sum_keys
        |FROM orders a JOIN lineitem b ON a.o_orderkey = b.l_orderkey
        |GROUP BY 1, 2
        |ORDER BY priority, flag""".stripMargin,
    // String-keyed table state recomputed from raw documents (the
    // min/max pin the string-key ordering semantics end to end).
    "catalog_string_key" ->
      """SELECT lang AS value, count(*) AS n_docs,
        |       min(concat('d-', doc_id)) AS min_id,
        |       max(concat('d-', doc_id)) AS max_id
        |FROM documents GROUP BY 1 ORDER BY value""".stripMargin,
    // The string-key SPJ joins the same rows the long-key join does —
    // key TYPE changes plans' routing function, never rows.
    "catalog_spj_string" ->
      """SELECT a.o_orderpriority AS priority,
        |       b.l_returnflag AS flag,
        |       count(*) AS n_items
        |FROM orders a JOIN lineitem b ON a.o_orderkey = b.l_orderkey
        |GROUP BY 1, 2
        |ORDER BY priority, flag""".stripMargin,
    // Post-DML state recomputed from raw documents with the same
    // DELETE (key prefix) and point UPDATE applied.
    "catalog_string_dml" ->
      """SELECT CASE WHEN doc_id = 42 THEN 'X-' || lang
        |            ELSE lang END AS value,
        |       count(*) AS n_docs
        |FROM documents
        |WHERE concat('d-', doc_id) NOT LIKE 'd-1%'
        |GROUP BY 1 ORDER BY value""".stripMargin,
    // The composed-layout join filtered below the month boundary —
    // layout tokens route pruning and exchanges, never the rows.
    "catalog_composed_layout" ->
      """SELECT a.o_orderpriority AS priority,
        |       b.l_returnflag AS flag,
        |       count(*) AS n_items
        |FROM orders a JOIN lineitem b ON a.o_orderkey = b.l_orderkey
        |WHERE a.o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |GROUP BY 1, 2
        |ORDER BY priority, flag""".stripMargin,
    // The runtime-filtered join selects exactly the IN-list docs —
    // the key-type change routes the pruning, never the rows.
    "catalog_string_runtime" ->
      """SELECT b.lang AS lang, count(*) AS n_docs
        |FROM documents b JOIN documents o ON b.doc_id = o.doc_id
        |WHERE o.doc_id IN (7, 19, 42)
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    "catalog_bucketed_agg" ->
      """SELECT n_items, count(*) AS n_keys,
        |       CAST(sum(sum_keys) AS BIGINT) AS sum_keys
        |FROM (SELECT l_orderkey, count(*) AS n_items,
        |      CAST(sum(l_orderkey) AS BIGINT) AS sum_keys
        |      FROM lineitem GROUP BY l_orderkey) t
        |GROUP BY n_items ORDER BY n_items""".stripMargin,
    "catalog_runtime_filter" ->
      """SELECT b.l_returnflag AS flag,
        |       count(*) AS n_items,
        |       CAST(sum(b.l_orderkey) AS BIGINT) AS sum_keys
        |FROM lineitem b JOIN orders o ON b.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey % 8 < 2
        |GROUP BY 1
        |ORDER BY flag""".stripMargin,
    "catalog_dml_update" ->
      """SELECT CASE WHEN o_orderkey % 5 = 0
        |            THEN 'X-' || o_orderpriority
        |            ELSE o_orderpriority END AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |GROUP BY 1
        |ORDER BY value""".stripMargin,
    "catalog_dml_delete_mor" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey % 3 <> 0
        |GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    "catalog_dml_update_mor" ->
      """SELECT CASE WHEN o_orderkey % 5 = 0
        |            THEN 'X-' || o_orderpriority
        |            ELSE o_orderpriority END AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |GROUP BY 1
        |ORDER BY value""".stripMargin,
    "catalog_dml_merge_mor" ->
      """WITH t AS (SELECT o_orderkey AS k, o_orderpriority AS p
        |           FROM orders WHERE o_orderkey % 2 = 0),
        |s AS (SELECT o_orderkey AS k, 'M-' || o_orderpriority AS p
        |      FROM orders WHERE o_orderkey % 3 = 0),
        |merged AS (
        |  SELECT coalesce(s.k, t.k) AS key,
        |         coalesce(s.p, t.p) AS value
        |  FROM t FULL OUTER JOIN s ON t.k = s.k)
        |SELECT value, count(*) AS n_orders,
        |       CAST(sum(key) AS BIGINT) AS sum_keys
        |FROM merged GROUP BY value
        |ORDER BY value""".stripMargin,
    "catalog_changefeed_cdc" ->
      """WITH ch AS (
        |  SELECT 1 AS _commit_version, 'insert' AS _change_type,
        |         o_orderpriority AS value, o_orderkey AS key
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 2, 'insert', o_orderpriority, o_orderkey
        |  FROM orders WHERE o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT 3, 'delete', o_orderpriority, o_orderkey
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT _commit_version, _change_type, value,
        |       count(*) AS n_rows,
        |       CAST(sum(key) AS BIGINT) AS sum_keys
        |FROM ch GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "catalog_commit_retry" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    // Same key-range probe as catalog_zonemap_prune — clustering must
    // change WHICH files a scan opens, never what the query returns.
    "catalog_cluster_zonemap" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey <= 1000
        |GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    // Rollback to v1 restores the pristine full insert.
    "catalog_rollback" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    // The evolved table's final state: v1 full insert (weight NULL
    // ⇒ coalesce 0) unioned with the post-ALTER new-shape insert
    // (key-shifted, weight = key/2 ⇒ weight*2 = key, integer-exact).
    "catalog_schema_evolution" ->
      """WITH t AS (
        |  SELECT o_orderkey AS key, o_orderpriority AS value,
        |         NULL::DOUBLE AS weight
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'NEW-' || o_orderpriority,
        |         o_orderkey * 0.5
        |  FROM orders WHERE o_orderkey % 4 = 0)
        |SELECT value, count(*) AS n_rows,
        |       CAST(sum(key) AS BIGINT) AS sum_keys,
        |       CAST(sum(coalesce(weight * 2, 0)) AS BIGINT) AS weight2
        |FROM t GROUP BY value ORDER BY value""".stripMargin,
    // Per-version live-row arithmetic recomputed from raw orders:
    // v1 = the full insert, v2 adds the shifted %4 subset, v3 MoR-
    // deletes every key % 3 = 0 (tombstones: has_deletes flips, no
    // member removed).
    "catalog_snapshots_table" ->
      """WITH base AS (SELECT o_orderkey AS k FROM orders),
        |added AS (SELECT o_orderkey + 10000000 AS k FROM orders
        |          WHERE o_orderkey % 4 = 0),
        |t AS (SELECT k FROM base UNION ALL SELECT k FROM added)
        |SELECT CAST(1 AS BIGINT) AS version,
        |       (SELECT count(*) FROM base) AS live_rows,
        |       CAST(0 AS BIGINT) AS has_deletes,
        |       CAST(0 AS BIGINT) AS removed_files
        |UNION ALL
        |SELECT 2, (SELECT count(*) FROM t), 0, 0
        |UNION ALL
        |SELECT 3, (SELECT count(*) FROM t WHERE k % 3 <> 0), 1, 0
        |ORDER BY version""".stripMargin,
    // The tag pins the PRISTINE v1 — the full unmodified insert,
    // however the current state was garbled afterwards.
    "catalog_tags" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    // The deterministic ref state: tag at v1; branch created at main
    // v2, one staged commit => head 3 (branch numbering continues
    // main's at creation).
    "catalog_refs_table" ->
      """SELECT * FROM (
        |  SELECT 'audit' AS name, 'branch' AS kind,
        |         CAST(3 AS BIGINT) AS version,
        |         CAST(2 AS BIGINT) AS base_version
        |  UNION ALL
        |  SELECT 'pristine', 'tag', CAST(1 AS BIGINT), NULL
        |) ORDER BY name""".stripMargin,
    // The 1997 month-partition slice recomputed from raw orders.
    "catalog_partition_prune" ->
      """WITH t AS (
        |  SELECT o_orderkey AS key, o_orderpriority AS value,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS mo
        |  FROM orders)
        |SELECT value, count(*) AS n_orders,
        |       CAST(sum(key) AS BIGINT) AS sum_keys
        |FROM t
        |WHERE mo >= DATE '1997-01-01' AND mo < DATE '1998-01-01'
        |GROUP BY value ORDER BY value""".stripMargin,
    // The streamed one-year slice recomputed from raw orders.
    "catalog_stream_partitioned" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY value ORDER BY value""".stripMargin,
    // The straddling one-year slice recomputed from raw orders
    // (evolution changes files-opened only, never rows).
    "catalog_partition_evolution" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1994-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
        |GROUP BY value ORDER BY value""".stripMargin,
    // The key-range slice recomputed from raw orders.
    "catalog_sorted_write" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey < 10000
        |GROUP BY value ORDER BY value""".stripMargin,
    // The post-DELETE table recomputed from raw orders.
    "catalog_dml_selective" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_totalprice < 200000.0
        |GROUP BY value ORDER BY value""".stripMargin,
    // The same live-row arithmetic recomputed from raw orders.
    "catalog_files_table" ->
      """SELECT count(*) AS data_rows,
        |       CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0
        |                END) AS BIGINT) AS tombstones,
        |       CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE 1
        |                END) AS BIGINT) AS live_rows
        |FROM orders""".stripMargin,
    // The same per-month arithmetic recomputed from raw orders; the
    // token is the months-since-1970 unit value the file names carry.
    "catalog_partitions_table" ->
      """SELECT 'm' || CAST((year(o_orderdate) - 1970) * 12
        |         + month(o_orderdate) - 1 AS VARCHAR) AS partition,
        |       count(*) AS data_rows,
        |       min(o_orderkey) AS min_key,
        |       max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY partition""".stripMargin,
    // The full change history recomputed from raw orders: v1 inserts,
    // v2 tombstone deletes, NOTHING for the maintenance v3, v4
    // inserts. The commit numbers are deterministic (3 DML commits +
    // one rewrite on a fresh table).
    "catalog_cdc_maintenance" ->
      """WITH base AS (
        |  SELECT o_orderkey AS key FROM orders
        |  WHERE o_orderkey <= 20000)
        |SELECT v, kind, n_rows, sum_keys FROM (
        |  SELECT 1 AS v, 'insert' AS kind, count(*) AS n_rows,
        |         CAST(sum(key) AS BIGINT) AS sum_keys FROM base
        |  UNION ALL
        |  SELECT 2, 'delete', count(*), CAST(sum(key) AS BIGINT)
        |  FROM base WHERE key % 3 = 0
        |  UNION ALL
        |  SELECT 4, 'insert', count(*),
        |         CAST(sum(o_orderkey + 10000000) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 7 = 0
        |) t ORDER BY v, kind""".stripMargin,
    // The rebucketed SPJ aggregate recomputed from the raw parquet
    // join (bucket layout changes plans, never rows).
    "catalog_rebucket" ->
      """SELECT o.o_orderpriority AS priority, l.l_returnflag AS flag,
        |       count(*) AS n_items,
        |       CAST(sum(l.l_orderkey) AS BIGINT) AS sum_keys
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2 ORDER BY priority, flag""".stripMargin,
    // The same point lookup recomputed from raw orders.
    "catalog_bloom_prune" ->
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_custkey IN (7, 19, 31)
        |GROUP BY 1 ORDER BY value""".stripMargin,
    // The three temporal/double point lookups recomputed from raw
    // orders with the SAME probe derivation (bloom pruning changes
    // files-opened only, never rows).
    "catalog_bloom_temporal" ->
      """WITH p AS (
        |  SELECT min(CASE WHEN o_orderdate >=
        |           TIMESTAMP '1995-06-01 00:00:00'
        |           THEN o_orderdate END) AS ts,
        |         min(CASE WHEN o_totalprice >= 100000.0
        |           THEN o_totalprice END) AS price
        |  FROM orders)
        |SELECT probe, n_rows, sum_keys FROM (
        |  SELECT 'ts' AS probe, count(*) AS n_rows,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |  FROM orders, p WHERE o_orderdate = p.ts
        |  UNION ALL
        |  SELECT 'day', count(*),
        |         CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders, p
        |  WHERE CAST(o_orderdate AS DATE) = CAST(p.ts AS DATE)
        |  UNION ALL
        |  SELECT 'price', count(*),
        |         CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders, p WHERE o_totalprice = p.price
        |) t ORDER BY probe""".stripMargin,
    // The same unfiltered aggregates recomputed from raw orders.
    "catalog_colagg_pushdown" ->
      """SELECT count(*) AS n_orders,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price,
        |       epoch_us(min(o_orderdate)) AS min_ts_us,
        |       epoch_us(max(o_orderdate)) AS max_ts_us
        |FROM orders""".stripMargin,
    // The corner box recomputed from raw orders (a rewrite + zone
    // maps change files-opened only, never rows).
    "catalog_zorder_prune" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_custkey < 30000 AND o_totalprice < 50000.0
        |GROUP BY value ORDER BY value""".stripMargin,
    // The streamed destination is exactly the source = all of orders.
    "catalog_stream_sink" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY value ORDER BY value""".stripMargin,
    // Post-ingest state over all six trickle slices — the policy
    // compactions change file counts only, never rows.
    "catalog_auto_compact" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY value ORDER BY value""".stripMargin,
    // Retention changes HISTORY only — the current state is all six
    // slices regardless of what expired.
    "catalog_auto_expire" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY value ORDER BY value""".stripMargin,
    // The sub-band slice recomputed from raw orders (column zone maps
    // change files-opened only, never rows).
    "catalog_colstats_prune" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_totalprice < 100000.0
        |GROUP BY value ORDER BY value""".stripMargin,
    // The one-year month-partition slice recomputed from raw orders.
    "catalog_partition_months" ->
      """SELECT o_orderpriority AS value, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |       epoch_us(max(o_orderdate)) AS max_ts_us
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |GROUP BY value ORDER BY value""".stripMargin,
    // Final main state: orders plus the PUBLISHED staged rows (the
    // %3 W- replica), minus the CoW DELETE — the never-published
    // second branch leaves no trace.
    "catalog_wap" ->
      """WITH t AS (
        |  SELECT o_orderkey AS key, o_orderpriority AS value
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, 'W-' || o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT value, count(*) AS n_orders,
        |       CAST(sum(key) AS BIGINT) AS sum_keys
        |FROM t WHERE key % 2 <> 0
        |GROUP BY value ORDER BY value""".stripMargin,
    // Temporal columns recomputed from raw orders at UTC: the v1
    // insert plus the post-ALTER %5 replica, filtered on both
    // temporal columns exactly as the Spark side pushed them.
    "catalog_ts_column" ->
      """WITH t AS (
        |  SELECT o_orderkey AS key, o_orderpriority AS value,
        |         o_orderdate AS ts, CAST(o_orderdate AS DATE) AS day,
        |         NULL AS qty
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority, o_orderdate,
        |         CAST(o_orderdate AS DATE), o_custkey + 7
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT value, count(*) AS n_orders,
        |       CAST(sum(key) AS BIGINT) AS sum_keys,
        |       CAST(sum(coalesce(qty, 0)) AS BIGINT) AS sum_qty,
        |       epoch_us(min(ts)) AS min_ts_us,
        |       CAST(max(day) AS VARCHAR) AS max_day
        |FROM t
        |WHERE ts >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND day < DATE '1999-01-01'
        |GROUP BY value ORDER BY value""".stripMargin,
    // Vacuum reclaims orphans only — live content must be untouched.
    "catalog_vacuum" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY value""".stripMargin,
    // The MV folded from signed change rows must equal the final
    // table state recomputed from scratch (update = key%7 restate,
    // delete = key%5 removal, applied in that order).
    "catalog_incremental_mv" ->
      """WITH st AS (
        |  SELECT o_orderkey AS key,
        |         CASE WHEN o_orderkey % 7 = 0
        |              THEN 'U-' || o_orderpriority
        |              ELSE o_orderpriority END AS value
        |  FROM orders)
        |SELECT value, count(*) AS n_orders,
        |       CAST(sum(key) AS BIGINT) AS sum_keys
        |FROM st WHERE key % 5 <> 0
        |GROUP BY value ORDER BY value""".stripMargin,
    "catalog_dml_merge" ->
      """WITH t AS (SELECT o_orderkey AS k, o_orderpriority AS p
        |           FROM orders WHERE o_orderkey % 2 = 0),
        |s AS (SELECT o_orderkey AS k, 'M-' || o_orderpriority AS p
        |      FROM orders WHERE o_orderkey % 3 = 0),
        |merged AS (
        |  SELECT coalesce(s.k, t.k) AS key,
        |         coalesce(s.p, t.p) AS value
        |  FROM t FULL OUTER JOIN s ON t.k = s.k)
        |SELECT value, count(*) AS n_orders,
        |       CAST(sum(key) AS BIGINT) AS sum_keys
        |FROM merged GROUP BY value
        |ORDER BY value""".stripMargin,
    "stream_static_join" ->
      """SELECT c.c_mktsegment AS segment,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(e.value*100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY segment ORDER BY segment""".stripMargin,
    "session_window_batch" ->
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL
        |      OR us - prev_us > 1800000000 THEN 1 ELSE 0 END
        |    AS new_session
        |  FROM l
        |), s AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_idx
        |  FROM f
        |)
        |SELECT user_id,
        |       CAST(min(us) AS BIGINT) AS start_us,
        |       CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, start_us""".stripMargin,
    "sessionize_batch" ->
      """WITH l AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR CAST(floor(epoch(ts)) AS BIGINT)
        |         - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM l
        |), s AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_idx
        |  FROM f
        |)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events,
        |       CAST(max(CAST(floor(epoch(ts)) AS BIGINT))
        |            - min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)
        |         AS duration_secs
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,
    // ONE closed-session oracle bound to BOTH stateful-sessionizer
    // queries (memory sink and parquet file sink) — a fix to the
    // closed-session predicate cannot desynchronize them.
    "sessionize_sink_parquet" -> closedSessionsOracle,
    "sessionize_stateful" -> closedSessionsOracle,
    "sessionize_tws" -> closedSessionsOracle,
    // The as-of emission horizon derived arithmetically: a click
    // emits iff its 1 h tumbling window has CLOSED under the final
    // propagated watermark = min(max click ts, max view ts) − 1 h
    // (min across the two watermarked inputs, the stream-stream
    // governance rule the outer-join specs already pin). Within the
    // horizon, the match is the batch as-of: latest qualifying view,
    // ties to the larger view_id (max over (ts, id) structs).
    "stream_asof" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events
        |), c AS (
        |  SELECT user_id, event_id AS click_id, tus
        |  FROM ev WHERE event_type = 'click'
        |), v AS (
        |  SELECT user_id, event_id AS view_id, tus
        |  FROM ev WHERE event_type = 'view'
        |), wm AS (
        |  SELECT least((SELECT max(tus) FROM c),
        |               (SELECT max(tus) FROM v)) - 3600000000 AS wm
        |), j AS (
        |  SELECT c.user_id, c.click_id, c.tus AS ctus,
        |         v.view_id, v.tus AS vtus
        |  FROM c JOIN v ON v.user_id = c.user_id
        |    AND v.tus >= c.tus - 3600000000 AND v.tus <= c.tus
        |), best AS (
        |  SELECT user_id, click_id, ctus, view_id,
        |         row_number() OVER (PARTITION BY click_id
        |           ORDER BY vtus DESC, view_id DESC) AS rn
        |  FROM j
        |)
        |SELECT b.user_id, b.click_id, b.view_id
        |FROM best b, wm
        |WHERE b.rn = 1
        |  AND ((b.ctus // 3600000000) + 1) * 3600000000 <= wm.wm
        |ORDER BY b.user_id, b.click_id""".stripMargin,
    "stream_join_batch" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events
        |)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
        |FROM ev c JOIN ev v
        |  ON c.user_id = v.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.tus >= c.tus - 3600000000 AND v.tus <= c.tus
        |ORDER BY c.user_id, click_id, view_id""".stripMargin,
    "stream_left_join_batch" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events
        |)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
        |FROM (SELECT * FROM ev WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM ev WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        |  AND v.tus >= c.tus - 3600000000 AND v.tus <= c.tus
        |ORDER BY c.user_id, click_id, view_id NULLS FIRST""".stripMargin,
    "stream_full_join_batch" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events
        |)
        |SELECT COALESCE(c.user_id, v.user_id) AS user_id,
        |       c.event_id AS click_id, v.event_id AS view_id
        |FROM (SELECT * FROM ev WHERE event_type = 'click') c
        |FULL JOIN (SELECT * FROM ev WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        |  AND v.tus >= c.tus - 3600000000 AND v.tus <= c.tus
        |ORDER BY user_id, click_id NULLS FIRST,
        |         view_id NULLS FIRST""".stripMargin,
    // The raw (undoubled) events table: correct IFF the streaming
    // dedup removed exactly the injected duplicate copy of each event.
    "stream_dedup" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The quota decision replayed as a per-(user, event-time day)
    // row_number cut over the raw events — correct IFF the stateful
    // stream accepted exactly the first QuotaPerDay per key in
    // (time, id) order and flagged everything else. ONE definition
    // for both state-API implementations.
    "stream_quota" -> quotaOracleSql,
    "stream_quota_tws" -> quotaOracleSql,
    // Evicted = everything except each user's K newest events (rank
    // from newest > K in (time, id) order).
    "stream_recent_k" ->
      s"""WITH r AS (
         |  SELECT event_type, user_id,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
         |             event_id DESC) AS rfe
         |  FROM events
         |)
         |SELECT event_type, count(*) AS n_evicted,
         |       count(DISTINCT user_id) AS n_users
         |FROM r WHERE rfe > ${
          graft.streaming.StreamingEvents.RecentK
        }
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The EWMA recurrence replayed exactly: trunc division
    // (a − a % 8) // 8 matches the JVM's `/ 8` for either sign
    // (DuckDB % keeps the dividend's sign). Depth = max per-key
    // event count under the fixed AnomMaxEventId horizon.
    "stream_anomaly" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT event_id, event_type,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE event_id < ${
          graft.streaming.StreamingEvents.AnomMaxEventId
        }),
         |rn AS (
         |  SELECT event_id, event_type, cents,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY tus, event_id) AS seq
         |  FROM ev),
         |rec AS (
         |  SELECT event_type, seq, cents AS ewma,
         |         CAST(0 AS BIGINT) AS ewmad,
         |         CAST(0 AS BIGINT) AS n_flagged
         |  FROM rn WHERE seq = 1
         |  UNION ALL
         |  SELECT r.event_type, n.seq,
         |         r.ewma + ((n.cents - r.ewma)
         |           - ((n.cents - r.ewma) % 8)) // 8,
         |         r.ewmad + ((abs(n.cents - r.ewma) - r.ewmad)
         |           - ((abs(n.cents - r.ewma) - r.ewmad) % 8)) // 8,
         |         r.n_flagged + CASE WHEN r.ewmad > 0
         |           AND abs(n.cents - r.ewma) > 4 * r.ewmad
         |           THEN 1 ELSE 0 END
         |  FROM rec r JOIN rn n
         |    ON n.event_type = r.event_type AND n.seq = r.seq + 1),
         |fin AS (
         |  SELECT event_type, max(seq) AS mseq FROM rec
         |  GROUP BY event_type)
         |SELECT r.event_type, CAST(f.mseq AS BIGINT) AS n_events,
         |       r.n_flagged,
         |       r.ewma AS last_ewma_cents,
         |       r.ewmad AS last_ewmad_cents
         |FROM rec r JOIN fin f
         |  ON r.event_type = f.event_type AND r.seq = f.mseq
         |ORDER BY r.event_type""".stripMargin,
    "webpage_metadata_cols" ->
      """SELECT * FROM (VALUES
        |  ('https://www.empireonline.com/movies/features/best-movies/',
        |   CAST(2 AS INTEGER)),
        |  ('https://www.imdb.com/chart/top', CAST(0 AS INTEGER)),
        |  ('https://www.ranker.com/crowdranked-list/the-best-movies-of-all-time',
        |   CAST(1 AS INTEGER)))
        |  AS t(url, _partition_idx)
        |ORDER BY url""".stripMargin,
    "stream_update_mode" ->
      """SELECT strftime(CAST(date_trunc('day', ts) AS DATE),
        |         '%Y-%m-%d') AS day,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "stream_complete_mode" ->
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "stream_reach" ->
      """WITH fs AS (
        |  SELECT user_id,
        |         min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
        |           AS first_day
        |  FROM events GROUP BY 1
        |), nd AS (
        |  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fs GROUP BY 1
        |), cal AS (
        |  SELECT DISTINCT
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |           AS day
        |  FROM events
        |)
        |SELECT CAST(c.day AS BIGINT) AS day,
        |       CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
        |       CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY c.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_users
        |FROM cal c LEFT JOIN nd n ON c.day = n.day
        |ORDER BY day""".stripMargin,
    "session_window_dynamic" ->
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CASE WHEN event_type = 'purchase'
        |              THEN 300000000 ELSE 1800000000 END AS gap_us,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS is_p
        |  FROM events
        |), m AS (
        |  SELECT *, max(us + gap_us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prev_max_end
        |  FROM l
        |), f AS (
        |  SELECT *, CASE WHEN prev_max_end IS NULL
        |      OR us > prev_max_end THEN 1 ELSE 0 END AS new_session
        |  FROM m
        |), s AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_idx
        |  FROM f
        |)
        |SELECT user_id,
        |       CAST(min(us) AS BIGINT) AS start_us,
        |       CAST(max(us + gap_us) AS BIGINT) AS end_us,
        |       count(*) AS n_events,
        |       CAST(sum(is_p) AS BIGINT) AS n_purchases
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, start_us""".stripMargin,
    "stream_v2_metadata" ->
      """SELECT event_id % 3 AS part,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       CAST(0 AS BIGINT) AS min_pos,
        |       CAST(count(*) - 1 AS BIGINT) AS max_pos,
        |       CAST(count(*) * (count(*) - 1) // 2 AS BIGINT)
        |         AS sum_pos
        |FROM events GROUP BY 1 ORDER BY part""".stripMargin,
    "stream_cusum" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT event_id, event_type,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE event_id < ${
          graft.streaming.StreamingEvents.AnomMaxEventId
        }),
         |rn AS (
         |  SELECT event_id, event_type, cents,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY tus, event_id) AS seq
         |  FROM ev),
         |rec AS (
         |  SELECT event_type, CAST(0 AS BIGINT) AS seq,
         |         CAST(0 AS BIGINT) AS s,
         |         CAST(0 AS BIGINT) AS n_alarms
         |  FROM (SELECT DISTINCT event_type FROM ev)
         |  UNION ALL
         |  SELECT r.event_type, n.seq,
         |         CASE WHEN greatest(0, r.s + n.cents - ${
          graft.streaming.StreamingEvents.CusumK
        }) > ${graft.streaming.StreamingEvents.CusumH}
         |           THEN 0
         |           ELSE greatest(0, r.s + n.cents - ${
          graft.streaming.StreamingEvents.CusumK
        }) END,
         |         r.n_alarms + CASE WHEN
         |           greatest(0, r.s + n.cents - ${
          graft.streaming.StreamingEvents.CusumK
        }) > ${graft.streaming.StreamingEvents.CusumH}
         |           THEN 1 ELSE 0 END
         |  FROM rec r JOIN rn n
         |    ON n.event_type = r.event_type AND n.seq = r.seq + 1),
         |fin AS (
         |  SELECT event_type, max(seq) AS mseq FROM rec
         |  GROUP BY event_type)
         |SELECT r.event_type, CAST(f.mseq AS BIGINT) AS n_events,
         |       r.n_alarms, r.s AS last_s_cents
         |FROM rec r JOIN fin f
         |  ON r.event_type = f.event_type AND r.seq = f.mseq
         |ORDER BY r.event_type""".stripMargin,
    // Combined rank = batch history count + stream rank per
    // (user, event-time day); only the stream half is emitted.
    "stream_quota_warm" ->
      s"""WITH hist AS (
         |  SELECT user_id,
         |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
         |           AS day,
         |         count(*) AS c
         |  FROM events WHERE event_id % 2 = 0
         |  GROUP BY 1, 2
         |), strm AS (
         |  SELECT event_type, user_id,
         |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
         |           AS day,
         |         row_number() OVER (
         |           PARTITION BY user_id,
         |             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
         |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC,
         |             event_id ASC) AS rn
         |  FROM events WHERE event_id % 2 = 1
         |), ranked AS (
         |  SELECT s.event_type,
         |         COALESCE(h.c, 0) + s.rn AS crn
         |  FROM strm s
         |  LEFT JOIN hist h
         |    ON h.user_id = s.user_id AND h.day = s.day
         |)
         |SELECT event_type,
         |       CAST(sum(CASE WHEN crn <= ${
          graft.streaming.StreamingEvents.QuotaPerDay
        } THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
         |       CAST(sum(CASE WHEN crn > ${
          graft.streaming.StreamingEvents.QuotaPerDay
        } THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Two-batch foreachBatch merge ≡ one-shot aggregation.
    "stream_foreach_upsert" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // Identity through the compaction rewrite: both stages must carry
    // the raw table's exact aggregates; the file counts are the
    // repartition constants.
    "compact_small_files" ->
      """SELECT 's1_small' AS stage, CAST(16 AS BIGINT) AS n_files,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       count(DISTINCT event_id) AS n_ids
        |FROM events
        |UNION ALL
        |SELECT 's2_compacted', CAST(2 AS BIGINT), count(*),
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT),
        |       count(DISTINCT event_id)
        |FROM events
        |ORDER BY stage""".stripMargin,

    // Exclusion arithmetic of the late-drop run: surviving rows are
    // exactly those ≥ LateSplit (everything older arrives below the
    // phase-1 watermark), and append mode emits exactly the hourly
    // windows closed by the final watermark max(ts) − 1 hour.
    "stream_late_drop" ->
      s"""WITH $lateSilverCtes
         |SELECT hour, event_type, n_events, value_cents FROM silver
         |ORDER BY hour, event_type""".stripMargin,
    // Hop 2 re-aggregates the same silver rows per type.
    "stream_multihop" ->
      s"""WITH $lateSilverCtes
         |SELECT event_type, count(*) AS n_windows,
         |       CAST(sum(n_events) AS BIGINT) AS n_events,
         |       CAST(sum(value_cents) AS BIGINT) AS value_cents
         |FROM silver GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "stream_window_batch" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,
    "stream_sliding_batch" ->
      """SELECT strftime(date_trunc('day', ts) - o * INTERVAL 1 DAY,
        |                '%Y-%m-%d') AS win_start,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events CROSS JOIN (VALUES (0), (1)) t(o)
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin
  )
}
