package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.Tables._

/** Remaining capability-checklist items (SURVEY.md §2b): map functions,
  * CSV scalar functions, the salted-join skew pattern, and the
  * approximate/statistical aggregate family.
  *
  * The approximate aggregates (HLL count-distinct, quantile sketch) and
  * double stddev have estimator/accumulation-order dependent values
  * that no cross-engine hash can pin directly — so their queries emit
  * the EXACT side plus within-tolerance booleans, which DuckDB pins
  * (exact values computed, booleans pinned TRUE). An estimator
  * regressing out of bounds therefore fails the hash gate.
  */
object MiscQueries {

  private def cents(c: org.apache.spark.sql.Column) = Money.cents(c)

  /** Merge-based as-of join over a (event_id, user_id, event_type,
    * tus) frame: each click matched to the user's LATEST view
    * at-or-before it. NOT an inequality join (which plans as a
    * per-key scan and explodes at scale): both sides union into ONE
    * stream tagged by side, shuffle once on user_id, and a running
    * last-ignoring-nulls window carries the most recent view forward
    * — linear per partition at any scale. Views are pre-deduped per
    * (user, µs) by max event_id so the match is deterministic.
    * Extracted so AsofPropsSpec can differential-test the semantics
    * on synthetic tie-heavy frames against a brute-force scan.
    */
  private[graft] def asofJoin(ev: DataFrame): DataFrame =
    asofJoinDir(ev, forward = false, tolUs = None)

  /** Directional, tolerance-aware generalization: `forward = false`
    * matches each click to the user's LATEST view at-or-BEFORE it,
    * `forward = true` to the EARLIEST view at-or-AFTER it (the same
    * merge algorithm over reversed time). `tolUs` bounds the match
    * gap — a click whose nearest view is further away than the
    * tolerance reports NULLs, the left-join-with-window semantics of
    * pandas `merge_asof(tolerance=...)`. The tolerance is a pure
    * post-filter on the merged result, so the plan shape (one union,
    * one shuffle, one linear window pass) is unchanged.
    */
  private[graft] def asofJoinDir(
      ev: DataFrame,
      forward: Boolean,
      tolUs: Option[Long]): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
    val views = ev
      .filter(col("event_type") === "view")
      .groupBy("user_id", "tus")
      .agg(max(col("event_id")).as("view_event_id"))
    val tagged = views
      .select(
        col("user_id"),
        col("tus"),
        lit(0).as("side"),
        col("view_event_id"),
        lit(null).cast("long").as("click_event_id"))
      .unionByName(clicks.select(
        col("user_id"),
        col("tus"),
        lit(1).as("side"),
        lit(null).cast("long").as("view_event_id"),
        col("event_id").as("click_event_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      // side=0 (view) sorts before a click at the same instant in
      // EITHER direction, so the at-or-before / at-or-after bound is
      // inclusive on ties.
      .orderBy(
        if (forward) col("tus").desc else col("tus").asc,
        col("side").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val gapUs =
      if (forward) col("matched_tus") - col("tus")
      else col("tus") - col("matched_tus")
    val valid = tolUs match {
      case Some(t) => col("matched_view").isNotNull && gapUs <= t
      case None => col("matched_view").isNotNull
    }
    tagged
      .withColumn("matched_view",
        last(col("view_event_id"), ignoreNulls = true).over(w))
      .withColumn("matched_tus",
        last(when(col("side") === 0, col("tus")), ignoreNulls = true)
          .over(w))
      .filter(col("side") === 1)
      .select(
        col("user_id"),
        col("click_event_id"),
        when(valid, col("matched_view")).as("view_event_id"),
        when(valid,
          (gapUs.cast("long") / lit(1000000L)).cast("long"))
          .as("gap_secs"))
      .orderBy("user_id", "click_event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Map construction + extraction (scalar outputs only — map-typed
    // output columns don't round-trip comparably through parquet).
    "map_functions" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_orderkey") <= 50)
        .withColumn(
          "m",
          map(
            lit("qty"), cents(col("l_quantity")),
            lit("price"), cents(col("l_extendedprice"))))
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          element_at(col("m"), "qty").as("m_qty"),
          element_at(col("m"), "price").as("m_price"),
          size(col("m")).as("m_size"))
        .orderBy("l_orderkey", "l_linenumber")),

    // MAP higher-order functions — map_filter / transform_values /
    // map_zip_with, the per-row map algebra a feature-store column
    // needs (map_functions covers construction and access). The
    // oracle computes every result from the underlying scalars
    // directly, so each lambda's semantics — which entries survive
    // the filter, values transform in place, zip aligns by key —
    // pins against plain arithmetic.
    "map_hof_functions" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_orderkey") <= 50)
        .withColumn("m", map(
          lit("qty"), cents(col("l_quantity")),
          lit("price"), cents(col("l_extendedprice")),
          lit("tax"), cents(col("l_tax"))))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          size(expr("map_filter(m, (k, v) -> v > 1000)"))
            .as("n_large_entries"),
          expr("element_at(transform_values(m, (k, v) -> v DIV 100)," +
            " 'price')").as("price_dollars"),
          expr("element_at(map_zip_with(m," +
            " transform_values(m, (k, v) -> v * 3)," +
            " (k, a, b) -> b - 2 * a), 'qty')").as("zip_qty"))
        .orderBy("l_orderkey", "l_linenumber")),

    // CSV scalar functions: to_csv → from_csv round-trip.
    "csv_roundtrip" -> ((s, d) =>
      part(s, d)
        .filter(col("p_partkey") <= 50)
        .withColumn("line",
          to_csv(struct(col("p_brand"), col("p_size"))))
        .withColumn(
          "parsed",
          from_csv(
            col("line"),
            StructType(Seq(
              StructField("b", StringType),
              StructField("sz", IntegerType))),
            Map.empty[String, String]))
        .select(
          col("p_partkey"),
          col("line"),
          col("parsed.b").as("brand_back"),
          col("parsed.sz").as("size_back"))
        .orderBy("p_partkey")),

    // Salting pattern for skewed join keys: fact side carries a
    // deterministic salt, dimension side is exploded across all salt
    // values — at scale this splits a hot key's rows over `nSalts`
    // reducers. Result must equal the unsalted join (the oracle runs
    // the plain join).
    "join_salted" -> ((s, d) => {
      val nSalts = 8
      val fact = lineitem(s, d)
        .withColumn("salt", pmod(col("l_linenumber"), lit(nSalts)))
      val dim = orders(s, d)
        .withColumn("salt", explode(sequence(lit(0), lit(nSalts - 1))))
      fact
        .join(dim,
          fact("l_orderkey") === dim("o_orderkey") &&
            fact("salt") === dim("salt"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice"))).as("extprice_cents"))
        .orderBy("o_orderpriority")
    }),

    // TARGETED salting — the deployable form of join_salted: only
    // rows of DISCOVERED hot keys carry a non-zero salt, and only
    // those keys' dim rows are exploded across the salt range; the
    // cold majority of the dimension is never replicated. The hot-key
    // list is not declared — [[SkewKeys.hotOrderCustkeys]] finds it
    // from the same per-key grouped count `skew_report` publishes
    // (≥1.5× mean order count, bounded top-8 collect). SCALE.md's
    // "Skew" row has the measurement of the variants at sf0.1 with
    // an 80% hot key: blanket salting 0.93× naive (dim-replication
    // overhead EXCEEDS the skew cost), targeted salting 1.79×.
    // Salting is semantics-preserving, so the result must equal the
    // unsalted join — the oracle runs the plain join; SkewKeysSpec
    // pins that the salt engages exactly on the above-threshold keys.
    "join_salted_targeted" -> ((s, d) => {
      val nSalts = 8
      val hotKeys = typedLit(SkewKeys.hotOrderCustkeys(s, d))
      val hot = array_contains(hotKeys, col("o_custkey"))
      val fact = orders(s, d)
        .withColumn(
          "salt",
          when(hot, pmod(col("o_orderkey"), lit(nSalts)))
            .otherwise(lit(0)))
      val dim = customer(s, d)
        .withColumn(
          "salt",
          explode(
            when(array_contains(hotKeys, col("c_custkey")),
              sequence(lit(0), lit(nSalts - 1)))
              .otherwise(array(lit(0)))))
      fact
        .join(dim,
          fact("o_custkey") === dim("c_custkey") &&
            fact("salt") === dim("salt"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("totalprice_cents"))
        .orderBy("c_mktsegment")
    }),

    // Bloom-style semi-join reduction: when a selective dimension
    // filter survives only ~2% of keys, shuffling the whole fact side
    // into the join is wasted I/O at 100 TB. The build side's key set
    // is compressed into a BITSET of hash buckets (collect_set of
    // hash%m — bounded by m=1024 entries regardless of build size,
    // i.e. a 1-hash Bloom filter), broadcast, and applied to the fact
    // scan BEFORE the shuffle; false positives are then removed by the
    // exact join, so the result equals the plain join and the oracle
    // runs the plain join. This is what Spark's runtime bloom-filter
    // rewrite (spark.sql.optimizer.runtime.bloomFilter.*) does
    // automatically — expressed here as an explicit operator so the
    // reduction is plan-visible and tunable (m trades broadcast size
    // against false-positive shuffle volume).
    "bloom_semijoin_reduce" -> ((s, d) => {
      val m = 1024
      val build = orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      val bits = build
        .select(pmod(xxhash64(col("o_orderkey")), lit(m)).as("bit"))
        .distinct()
        .agg(sort_array(collect_list(col("bit"))).as("bits"))
      val probe = lineitem(s, d)
        .crossJoin(broadcast(bits)) // ONE-ROW bitset, broadcast
        .filter(array_contains(col("bits"),
          pmod(xxhash64(col("l_orderkey")), lit(m))))
        .drop("bits")
      probe
        .join(build, col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice"))).as("extprice_cents"))
        .orderBy("month")
    }),

    // As-of join — the temporal operator Spark lacks natively (match
    // each click to the user's LATEST view at-or-before it). NOT an
    // inequality join (which plans as a per-key scan and explodes at
    // scale): both sides union into ONE stream tagged by side, shuffle
    // once on user_id, and a running last-ignoring-nulls window carries
    // the most recent view forward — the merge-based as-of algorithm,
    // linear per partition at any scale. Views are pre-deduped per
    // (user, µs) so the match is deterministic.
    "join_asof" -> ((s, d) =>
      asofJoin(events(s, d)
        .select(
          col("event_id"),
          col("user_id"),
          col("event_type"),
          graft.Tables.tsMicros(col("ts")).as("tus")))),
    // Forward as-of: each click matched to the user's EARLIEST view
    // at-or-AFTER it — the same merge algorithm over reversed time
    // (identical plan shape: one union, one shuffle, linear window).
    "join_asof_forward" -> ((s, d) =>
      asofJoinDir(events(s, d)
        .select(
          col("event_id"),
          col("user_id"),
          col("event_type"),
          graft.Tables.tsMicros(col("ts")).as("tus")),
        forward = true, tolUs = None)),
    // Tolerance-bounded as-of: backward match, but a click whose
    // nearest view is more than 10 minutes old reports NULLs
    // (pandas merge_asof(tolerance=...) semantics). Post-filter on
    // the merged result — the window pass is unchanged.
    "join_asof_tolerance" -> ((s, d) =>
      asofJoinDir(events(s, d)
        .select(
          col("event_id"),
          col("user_id"),
          col("event_type"),
          graft.Tables.tsMicros(col("ts")).as("tus")),
        forward = false, tolUs = Some(600L * 1000000L))),
    // Sink + partition-pruned re-scan INSIDE the graded gate: write
    // documents hive-partitioned by lang, read back one partition.
    // The filter never touches non-en files (partition pruning — the
    // layout decision that turns a 100 TB scan into a directory pick);
    // the oracle computes the same summary straight from the source.
    "partitioned_sink_prune" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "part_sink")
      documents(s, d)
        .write
        .mode("overwrite")
        .partitionBy("lang")
        .parquet(dir)
      s.read
        .parquet(dir)
        .filter(col("lang") === "en")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // JSONL round-trip — the interchange format of training-data
    // pipelines: documents out as JSON lines, read back with an
    // explicit schema, summarized. Oracle reads the source directly,
    // so the sink+source pair must be lossless for the hash to match.
    "jsonl_roundtrip" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "jsonl")
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .write
        .mode("overwrite")
        .json(dir)
      s.read
        .schema("doc_id LONG, lang STRING, text STRING")
        .json(dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_text_chars"))
        .orderBy("lang")
    }),

    // CSV sink + source round-trip (with header + explicit read
    // schema), completing the interchange-format triangle beside
    // parquet (partitioned_sink_prune) and JSONL (jsonl_roundtrip).
    // Money goes through as integer cents so the text round-trip is
    // exact by construction.
    "csv_sink_source" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "csv_sink")
      customer(s, d)
        .select(
          col("c_custkey"),
          col("c_mktsegment"),
          cents(col("c_acctbal")).as("acctbal_cents"))
        .write
        .mode("overwrite")
        .option("header", "true")
        .csv(dir)
      s.read
        .option("header", "true")
        .schema("c_custkey LONG, c_mktsegment STRING, acctbal_cents LONG")
        .csv(dir)
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_customers"),
          // The key column round-trips too — a distinct count pins
          // that every row survived the text format individually.
          countDistinct(col("c_custkey")).as("n_keys"),
          sum(col("acctbal_cents")).as("acctbal_cents"))
        .orderBy("c_mktsegment")
    }),

    // MERGE-style upsert without a table format: full-outer join +
    // coalesce is the portable spelling of MERGE INTO (format-level
    // MERGE needs a transactional table layer; this join is what it
    // compiles to). Base = balances of customers < 1000; changes =
    // 1995 order activity per customer — matched keys UPDATE,
    // change-only keys INSERT, untouched base keys KEEP. Summarized
    // per action so the result stays small at any scale.
    "upsert_join" -> ((s, d) => {
      val base = customer(s, d)
        .filter(col("c_custkey") < 1000)
        .select(
          col("c_custkey").as("k"),
          cents(col("c_acctbal")).as("v_base"))
      val changes = orders(s, d)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_custkey").as("k"))
        .agg(sum(cents(col("o_totalprice"))).as("v_new"))
      base
        .join(changes, Seq("k"), "full_outer")
        .withColumn("v", coalesce(col("v_new"), col("v_base")))
        .withColumn(
          "action",
          when(col("v_base").isNotNull && col("v_new").isNotNull, "update")
            .when(col("v_base").isNull, "insert")
            .otherwise("keep"))
        .groupBy("action")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("v")).as("v_total"))
        .orderBy("action")
    }),

    // Column profiler — the data-quality pass a pipeline runs before
    // trusting a new drop: per-column row/null/distinct counts and
    // min/max, long format so the schema is stable whatever the table.
    // ONE aggregate pass computes every column's stats side by side
    // (a union of per-column aggregates would scan the table once per
    // column); `stack` then pivots the single result row to long form.
    // Numerics profile as integer cents, everything rendered strings.
    "profile_columns" -> ((s, d) => {
      val profiled: Seq[(String, Column)] = Seq(
        "c_acctbal_cents" -> cents(col("c_acctbal")),
        "c_mktsegment" -> col("c_mktsegment"),
        "c_name" -> col("c_name"),
        "c_nationkey" -> col("c_nationkey"))
      val aggs = count(lit(1)).as("n_rows") +: profiled.zipWithIndex
        .flatMap { case ((_, v), i) =>
          Seq(
            sum(when(v.isNull, 1L).otherwise(0L)).as(s"nulls_$i"),
            countDistinct(v).as(s"dist_$i"),
            min(v).cast("string").as(s"min_$i"),
            max(v).cast("string").as(s"max_$i"))
        }
      val stackArgs = profiled.zipWithIndex
        .map { case ((name, _), i) =>
          s"'$name', nulls_$i, dist_$i, min_$i, max_$i"
        }
        .mkString(", ")
      customer(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .select(
          col("n_rows"),
          expr(s"""stack(${profiled.size}, $stackArgs)
                  |AS (col_name, n_nulls, n_distinct, min_val, max_val)
                  |""".stripMargin))
        .select(
          "col_name", "n_rows", "n_nulls", "n_distinct",
          "min_val", "max_val")
        .orderBy("col_name")
    }),

    // PII masking: digits masked except the last four, plus a stable
    // surrogate key (the 60-bit content hash) so masked rows still
    // join/dedup. Substring split instead of lookahead because RE2
    // (the oracle's engine) has none.
    "pii_mask" -> ((s, d) =>
      customer(s, d)
        .filter(col("c_custkey") <= 50)
        .select(
          col("c_custkey"),
          concat(
            regexp_replace(
              expr("substring(c_name, 1, length(c_name) - 4)"),
              "[0-9]", "*"),
            expr("substring(c_name, length(c_name) - 3, 4)"))
            .as("masked_name"),
          graft.functions.TextFunctions.hash60(col("c_name"))
            .as("surrogate"))
        .orderBy("c_custkey")),

    // The NATIVE masking sibling of pii_mask: Spark 3.4+ `mask()`
    // does the per-character-class redaction (upper→X, lower→x,
    // digit→n, other kept; all four classes overridable) as one
    // codegen'd expression instead of the regexp_replace chain —
    // the built-in a redaction pipeline should reach for first. The
    // custom variant overrides the digit and other classes, which the
    // oracle replays as an explicit per-class regexp chain (safe
    // here: the source text contains no literal mask characters, so
    // the sequential replacements can't collide).
    "pii_mask_native" -> ((s, d) =>
      customer(s, d)
        .filter(col("c_custkey") <= 50)
        .select(
          col("c_custkey"),
          expr("mask(c_name)").as("masked_default"),
          expr("mask(c_name, 'X', 'x', '9', '*')").as("masked_custom"))
        .orderBy("c_custkey")),

    // FIXED-WIDTH format round-trip — the mainframe/EDI ingest shape
    // no packaged reader covers: rows serialize as zero-padded
    // numeric and space-padded string columns at fixed offsets
    // (4+20+4), and ingest is pure substring-schema mapping over the
    // text source (`substring` + `trim` + cast — all codegen'd
    // expressions, no parser library). The round-trip must
    // reconstruct the nation table losslessly; the oracle reads the
    // ORIGINAL table, so any padding/offset/cast slip breaks the
    // hash.
    "fixedwidth_scan" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "fixedwidth")
      nation(s, d)
        .select(format_string("%04d%-20s%04d",
          col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .as("value"))
        .write.mode("overwrite").text(dir)
      s.read.text(dir)
        .select(
          substring(col("value"), 1, 4).cast("long").as("n_nationkey"),
          trim(substring(col("value"), 5, 20)).as("n_name"),
          substring(col("value"), 25, 4).cast("long")
            .as("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // Plain-text sink + source round-trip (spark.read.text — the raw
    // line-oriented format): document texts out as lines, read back,
    // and pinned row-by-row with an order-independent checksum (sum of
    // per-line hashes mod a prime, so it's insensitive to the file
    // ordering text sinks don't preserve but still catches any
    // dropped/corrupted line). ASSUMES one doc per line — the fixture
    // corpus has no embedded \n/\r (verified at every SF); a
    // multi-line corpus needs JSONL (jsonl_roundtrip), not raw text.
    // The per-line hashes sum inside DECIMAL and re-reduce mod the
    // prime so the checksum cannot overflow at any corpus size.
    "text_sink_source" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "text_sink")
      documents(s, d)
        .select(col("text"))
        .write
        .mode("overwrite")
        .text(dir)
      s.read
        .text(dir)
        .agg(
          count(lit(1)).as("n_lines"),
          sum(length(col("value")).cast("long")).as("sum_chars"),
          (sum((graft.functions.TextFunctions.hash60(col("value"))
            % 1000000007L).cast("decimal(38,0)")) % 1000000007L)
            .cast("long").as("checksum"))
    }),

    // ORC sink + source round-trip: the second columnar format beside
    // parquet (predicate pushdown and column pruning work the same
    // way), checked losslessly through doubles — ORC preserves binary
    // doubles exactly, unlike the text formats where money had to ride
    // as integer cents.
    "orc_sink_source" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "orc_sink")
      part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .write
        .mode("overwrite")
        .orc(dir)
      s.read
        .orc(dir)
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_parts"),
          countDistinct(col("p_partkey")).as("n_keys"),
          sum(cents(col("p_retailprice"))).as("retail_cents"))
        .orderBy("p_brand")
    }),

    // Catalog surface: the session catalog as a first-class
    // sink/source — nation saved as a MANAGED table (CREATE TABLE via
    // saveAsTable into the warehouse dir; overwrite keeps repeated
    // gate/bench invocations idempotent), then queried back BY NAME
    // through the catalog instead of by path. CatalogSpec smokes SHOW
    // TABLES / DESCRIBE / the Catalog API over the same table.
    // ANALYZE/statistics surface through the gate: the dimension is
    // saved as a managed catalog table and ANALYZEd (table + column
    // stats persisted in the catalog — the input to CBO join
    // reordering and stats-driven auto-broadcast, exercised
    // plan-level in AnalyzeStatsSpec), then the query runs over the
    // analyzed table BY NAME. Stats change plans, never results —
    // which is exactly what the oracle (reading the raw parquet)
    // pins.
    "analyzed_table_agg" -> ((s, d) => {
      val tbl = graft.Fs.sessionTable(s, "graft_supp_stats")
      graft.Fs.dropTableAndLocation(s, tbl)
      supplier(s, d).write.mode("overwrite").saveAsTable(tbl)
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      s.table(tbl)
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          count(lit(1)).as("n_suppliers"),
          sum(cents(col("s_acctbal"))).as("acctbal_cents"))
        .orderBy("n_name")
    }),

    "catalog_table" -> ((s, d) => {
      val tbl = graft.Fs.sessionTable(s, "graft_nation_cat")
      graft.Fs.dropTableAndLocation(s, tbl)
      nation(s, d).write.mode("overwrite").saveAsTable(tbl)
      s.table(tbl)
        .groupBy("n_regionkey")
        .agg(
          count(lit(1)).as("n_nations"),
          min(col("n_name")).as("first_nation"))
        .orderBy("n_regionkey")
    }),

    // Per-key top-K through the CUSTOM whole-operator surface
    // (plans.GroupedTopK: logical node → planner strategy →
    // bounded-heap exec). Same semantics as the window row_number
    // form — which the oracle runs — but the plan has no per-partition
    // sort: K-row heaps per key, one clustering shuffle.
    "grouped_topk" -> ((s, d) => {
      val src = orders(s, d)
        .select(
          col("o_orderpriority"),
          col("o_orderkey"),
          cents(col("o_totalprice")).as("totalprice_cents"))
      graft.plans.GroupedTopK
        .topK(
          src,
          Seq("o_orderpriority"),
          Seq(("totalprice_cents", true), ("o_orderkey", false)),
          3)
        .orderBy("o_orderpriority", "rnk")
    }),

    // Calendar fill: generate a contiguous date series and left-join
    // the fact counts onto it so empty days appear as zero — the
    // standard time-series densification pattern.
    "date_series_fill" -> ((s, d) => {
      val days = s
        .range(1)
        .select(
          explode(
            sequence(
              to_date(lit("1995-01-01")),
              to_date(lit("1995-01-31")),
              expr("INTERVAL 1 DAY"))).as("day"))
      val counts = orders(s, d)
        .withColumn("day", to_date(col("o_orderdate")))
        .groupBy("day")
        .agg(count(lit(1)).as("n"))
      days
        .join(counts, Seq("day"), "left")
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n"), lit(0L)).as("n_orders"))
        .orderBy("day")
    }),

    // Array set operations, sorted+joined for deterministic output.
    "array_setops" -> ((s, d) =>
      part(s, d)
        .filter(col("p_partkey") <= 50)
        .withColumn("name_toks", split(col("p_name"), " "))
        .withColumn("type_toks", split(lower(col("p_type")), " "))
        .select(
          col("p_partkey"),
          array_join(array_sort(
            array_intersect(col("name_toks"), col("type_toks"))), ",")
            .as("common_toks"),
          array_join(array_sort(
            array_except(col("type_toks"), col("name_toks"))), ",")
            .as("type_only_toks"),
          array_join(array_sort(
            array_union(col("name_toks"), col("type_toks"))), ",")
            .as("all_toks"))
        .orderBy("p_partkey")),

    // Approximate aggregates — the estimator value itself is not
    // cross-engine hashable, so the oracled output is the EXACT side
    // plus a tolerance boolean (|approx−exact|/exact ≤ ε): DuckDB
    // computes the exact side and pins the boolean TRUE, so an
    // estimator drifting out of bounds fails the hash gate.
    "approx_distinct" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          approx_count_distinct(col("o_custkey")).as("approx_custs"),
          countDistinct(col("o_custkey")).as("exact_custs"))
        .select(
          col("o_orderpriority"),
          col("exact_custs"),
          (abs(col("approx_custs") - col("exact_custs"))
            .cast("double") / col("exact_custs") <= 0.2)
            .as("within_tol"))
        .orderBy("o_orderpriority")),

    // NATIVE DataSketches KLL quantile sketch (Spark 4.1's
    // kll_sketch_agg_bigint family) — the mergeable rank/quantile
    // summary a 100 TB percentile dashboard ships instead of exact
    // sorts. Gated on the RANK contract (the guarantee KLL actually
    // makes): the exact rank of the sketch's reported p50 must land
    // within ±5% of 0.5 (default k errs ~1.65%, and the band also
    // absorbs the sketch's randomized compaction), per priority AND
    // for the five per-group sketches MERGED via kll_merge_agg —
    // mergeability being the reason sketch columns beat exact
    // percentiles at scale.
    "kll_quantile_sketch" -> ((s, d) => {
      val cents = orders(s, d).select(
        col("o_orderpriority"),
        graft.operators.Money.cents(col("o_totalprice")).as("v"))
      val perPrio = cents
        .groupBy("o_orderpriority")
        .agg(expr("kll_sketch_agg_bigint(v)").as("sk"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"), col("n"),
          expr("kll_sketch_get_quantile_bigint(sk, 0.5d)").as("q50"),
          col("sk"))
      val perChecked = perPrio.as("p")
        .join(cents.as("c"), col("p.o_orderpriority") === col("c.o_orderpriority"))
        .groupBy(col("p.o_orderpriority").as("scope"), col("p.n").as("n"))
        .agg(
          (abs(sum(when(col("c.v") <= col("p.q50"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) - 0.5) <= 0.05)
            .as("p50_rank_within_tol"))
      val mergedQ = perPrio
        .agg(expr(
          "kll_sketch_get_quantile_bigint(kll_merge_agg_bigint(sk), 0.5d)")
          .as("q50"))
      val allChecked = cents
        .crossJoin(broadcast(mergedQ))
        .agg(
          count(lit(1)).as("n"),
          (abs(sum(when(col("v") <= col("q50"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) - 0.5) <= 0.05)
            .as("p50_rank_within_tol"))
        .select(lit("ALL_MERGED").as("scope"), col("n"),
          col("p50_rank_within_tol"))
      perChecked.unionByName(allChecked).orderBy("scope")
    }),

    // STREAMING twin of the KLL gate: the same sketch maintained as
    // per-priority transformWithState state over a four-micro-batch
    // replay of the order history (serialized DataSketches image in a
    // binary ValueState — what a production checkpoint holds). The
    // batch tail reads the FINAL emitted images through Spark's
    // native kll_* SQL surface — including kll_merge_agg_bigint over
    // the emitted binaries, proving the streamed state is
    // byte-compatible with the batch sketch column format — and pins
    // the identical rank contract. See StreamKllQuantile.
    "stream_kll_quantile" -> ((s, d) => {
      val cents = orders(s, d).select(
        col("o_orderpriority"),
        graft.operators.Money.cents(col("o_totalprice")).as("v"))
      val perPrio = graft.streaming.StreamKllQuantile
        .finalSketches(s, d)
        .select(col("prio").as("o_orderpriority"), col("n"),
          expr("kll_sketch_get_quantile_bigint(sk, 0.5d)").as("q50"),
          col("sk"))
      val perChecked = perPrio.as("p")
        .join(cents.as("c"),
          col("p.o_orderpriority") === col("c.o_orderpriority"))
        .groupBy(col("p.o_orderpriority").as("scope"),
          col("p.n").as("n"))
        .agg(
          (abs(sum(when(col("c.v") <= col("p.q50"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) - 0.5) <= 0.05)
            .as("p50_rank_within_tol"))
      val mergedQ = perPrio
        .agg(expr(
          "kll_sketch_get_quantile_bigint(kll_merge_agg_bigint(sk), 0.5d)")
          .as("q50"))
      val allChecked = cents
        .crossJoin(broadcast(mergedQ))
        .agg(
          count(lit(1)).as("n"),
          (abs(sum(when(col("v") <= col("q50"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) - 0.5) <= 0.05)
            .as("p50_rank_within_tol"))
        .select(lit("ALL_MERGED").as("scope"), col("n"),
          col("p50_rank_within_tol"))
      perChecked.unionByName(allChecked).orderBy("scope")
    }),

    // NATIVE DataSketches HLL (Spark 3.5+ hll_sketch_agg /
    // hll_union_agg / hll_sketch_estimate — the interoperable binary
    // sketch surface next to our own typed HLL aggregator): one
    // sketch per priority, each estimate within-tolerance of its
    // exact count, and the UNION of the five sketches estimating the
    // global distinct — the mergeability contract that makes sketch
    // columns storable and re-aggregable at any rollup level. The
    // default lgK=12 sketch errs ~1.6%; the gate allows 5%.
    "hll_native_union" -> ((s, d) => {
      val perPrio = orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          expr("hll_sketch_agg(o_custkey)").as("sk"),
          countDistinct(col("o_custkey")).as("exact_n"))
      val per = perPrio.select(
        col("o_orderpriority").as("scope"),
        col("exact_n"),
        (abs(expr("hll_sketch_estimate(sk)") - col("exact_n"))
          .cast("double") / col("exact_n") <= 0.05).as("within_tol"))
      val all = perPrio
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_u"))
        .crossJoin(broadcast(
          orders(s, d).agg(
            countDistinct(col("o_custkey")).as("exact_n"))))
        .select(
          lit("ALL_UNION").as("scope"),
          col("exact_n"),
          (abs(col("est_u") - col("exact_n")).cast("double")
            / col("exact_n") <= 0.05).as("within_tol"))
      per.unionByName(all).orderBy("scope")
    }),

    // Null-safe equality (<=>): pairs of statuses where nullified
    // values still compare equal.
    "null_safe_eq" -> ((s, d) => {
      val o = orders(s, d)
        .select(
          col("o_orderkey"),
          when(col("o_orderstatus") === "F", lit(null))
            .otherwise(col("o_orderstatus")).as("st"))
      o.toDF("k1", "st1")
        .filter(col("k1") <= 20)
        .join(o.toDF("k2", "st2").filter(col("k2") <= 20),
          col("k1") < col("k2") && col("st1") <=> col("st2"))
        .agg(count(lit(1)).as("n_nullsafe_equal_pairs"))
    }),

    // Explicit GROUPING SETS with grouping_id disambiguation.
    "grouping_sets" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
          |       CAST(grouping(l_linestatus) AS INT) AS g_status,
          |       count(*) AS n
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_flag, g_status,
          |         l_returnflag ASC NULLS FIRST,
          |         l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // collect_set made deterministic: sort, then join to one string.
    "agg_collect_set" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
            .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // Approx percentiles + stddev, bounds-oracled like approx_distinct:
    // each estimator is checked against an exact reference computed in
    // the SAME aggregation pass — percentile() for the quantiles (the
    // exact reference is the verification cost, not the production
    // path) and the exact-integer moment formula for stddev — and only
    // the booleans + exact count are emitted, so DuckDB can pin them.
    "approx_percentiles" -> ((s, d) => {
      val price = col("l_extendedprice")
      val c = cents(price)
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          percentile_approx(price, lit(0.5), lit(1000)).as("p50a"),
          percentile_approx(price, lit(0.95), lit(1000)).as("p95a"),
          expr("percentile(l_extendedprice, 0.5)").as("p50e"),
          expr("percentile(l_extendedprice, 0.95)").as("p95e"),
          stddev_samp(price).as("sd"),
          // Exact integer moments (cents): per-row square fits a long
          // (≤1e14); the sums go through decimal to avoid overflow.
          sum(c.cast("decimal(38,0)")).as("s1"),
          sum((c * c).cast("decimal(38,0)")).as("s2"))
        .select(
          col("l_returnflag"),
          col("n"),
          (abs(col("p50a") - col("p50e")) <=
            abs(col("p50e")) * 0.05 + 1.0).as("p50_ok"),
          (abs(col("p95a") - col("p95e")) <=
            abs(col("p95e")) * 0.05 + 1.0).as("p95_ok"),
          // stddev_samp (streaming double) vs the exact-moment value
          // sqrt((n·S2 − S1²)/(n(n−1)))/100; 1e-6 relative covers the
          // accumulation-order float noise, nothing more.
          (abs(
            col("sd") -
              sqrt(
                (col("n").cast("double") * col("s2").cast("double") -
                  col("s1").cast("double") * col("s1").cast("double")) /
                  (col("n").cast("double") * (col("n") - 1).cast("double"))) / 100.0)
            <= col("sd") * 1e-6).as("stddev_ok"))
        .orderBy("l_returnflag")
    }),

    // MERGEABLE-sketch distinct counting: one HLL sketch per nation
    // (partial aggregation), then sketches UNION-merged per region and
    // estimated — the two-level rollup a 1000-executor cluster uses so
    // re-aggregation never re-reads rows (Datasketches HLL, the
    // engine-native mergeable form of approx_count_distinct). Exact
    // side rides along for the tolerance pin: customers belong to one
    // nation, so the per-region exact distinct is the SUM of per-nation
    // exacts — itself computed in the same partial-aggregate pass.
    "hll_union" -> ((s, d) => {
      val nat = broadcast(
        nation(s, d).select("n_nationkey", "n_regionkey"))
      val reg = broadcast(region(s, d))
      val perNation = customer(s, d)
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_nationkey", "n_regionkey")
        .agg(
          hll_sketch_agg(col("c_custkey")).as("sk"),
          countDistinct(col("c_custkey")).as("exact_n"))
      perNation
        .groupBy("n_regionkey")
        .agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          sum(col("exact_n")).as("exact_custs"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .select(
          col("r_name"),
          col("exact_custs"),
          (abs(col("est") - col("exact_custs")).cast("double") /
            col("exact_custs") <= 0.05).as("within_tol"))
        .orderBy("r_name")
    }),

    // MERGEABLE-EXACT distinct counting via Spark 3.5+ BITMAP
    // aggregates — the dense-integer-domain complement to hll_union:
    // when the key is a bounded integer id (user ids here), fixed
    // 4KB-bucket bitmaps give EXACT distinct counts that still merge
    // by OR, so the two-level rollup (per-group partials → or-merged
    // totals) never re-reads rows AND never pays an estimator's
    // tolerance. Per event_type: bitmap_construct_agg over
    // (bucket, bit-position) decomposed ids, counted by summing
    // bitmap_count per bucket; the __all__ row re-aggregates the SAME
    // per-type bitmaps with bitmap_or_agg — users appearing under
    // several types count once, proving the merge dedups across
    // groups. Exact, so the oracle is plain count(DISTINCT).
    "bitmap_distinct_rollup" -> ((s, d) => {
      val b = events(s, d)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
      val perType = b.groupBy("event_type")
        .agg(expr("sum(bitmap_count(bm))").cast("long").as("n_distinct"))
        .select(col("event_type").as("scope"), col("n_distinct"))
      val merged = b.groupBy("bkt")
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .agg(expr("sum(bitmap_count(bm))").cast("long").as("n_distinct"))
        .select(lit("__all__").as("scope"), col("n_distinct"))
      perType.unionByName(merged).orderBy("scope")
    }),

    // Malformed-ROW tolerance in ingestion: PERMISSIVE CSV parsing
    // routes rows that fail the schema (unparseable field types)
    // into a corrupt-record column instead of failing the scan —
    // extending the reference's per-SOURCE error tolerance (S3) down
    // to row granularity, which is what a 100 TB crawl ingest needs
    // (a few broken rows must never kill a stage). The summary
    // aggregates only over clean rows, so partially-parsed corrupt
    // rows can't leak into the totals.
    "csv_corrupt_recovery" -> ((s, _) => {
      val dir = graft.Fs.scratch(s, "csv_corrupt")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir))
      val lines = Seq(
        "0,ALGERIA",
        "1,ARGENTINA",
        "2,BRAZIL",
        "notanint,CORRUPT_TYPE",
        "3,CANADA",
        "badkey,ALSO_CORRUPT",
        "5,ETHIOPIA")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "part.csv"),
        lines.mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      val schema = StructType(Seq(
        StructField("k", IntegerType),
        StructField("name", StringType),
        StructField("_corrupt", StringType)))
      s.read
        .schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(dir)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt").isNull, 1L).otherwise(0L))
            .as("n_good"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          sum(when(col("_corrupt").isNull, col("k").cast("long"))
            .otherwise(0L)).as("sum_good_keys"))
    }),

    // Schema EVOLUTION at the source: two parquet batches written with
    // different schemas (a column added between ingest generations —
    // the normal life of a long-lived 100 TB table) read back through
    // one mergeSchema scan: old files backfill the new column with
    // NULL, nothing rewrites. The summary pins row conservation and
    // the null-backfill split.
    "schema_evolution_merge" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "schema_evo")
      nation(s, d)
        .select("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(s"$dir/gen1")
      nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(s"$dir/gen2")
      s.read
        .option("mergeSchema", "true")
        .parquet(s"$dir/gen1", s"$dir/gen2")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("n_regionkey").isNull, 1L).otherwise(0L))
            .as("n_backfilled_null"),
          sum(when(col("n_regionkey").isNotNull, 1L).otherwise(0L))
            .as("n_with_region"),
          countDistinct(col("n_nationkey")).as("n_distinct_keys"))
    }),

    // Bucketed-table co-located join: both sides written bucketed on
    // the join key, so the join plans with ZERO shuffle exchanges —
    // the physical-layout strategy that turns every RECURRING
    // fact⋈fact join at 100 TB from a full-network shuffle into local
    // per-bucket merges (plan asserted shuffle-free in
    // BucketedJoinSpec; this query pins the result through the gate).
    "bucketed_join" -> ((s, d) => {
      val ordTbl = graft.Fs.sessionTable(s, "graft_ord_bkt")
      val custTbl = graft.Fs.sessionTable(s, "graft_cust_bkt")
      Seq(ordTbl, custTbl).foreach(graft.Fs.dropTableAndLocation(s, _))
      orders(s, d)
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(ordTbl)
      customer(s, d)
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable(custTbl)
      s.table(ordTbl)
        .join(
          s.table(custTbl),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("c_mktsegment")
    }),

    // HIDDEN METADATA COLUMNS — the `_metadata` struct every file
    // scan carries (file_path/file_size/row_index...), the lineage
    // hook audit pipelines read without a custom source. The table
    // writes partitioned by a derived bucket with one file per
    // partition (repartition on the partition key), then the scan
    // groups by the bucket EXTRACTED FROM _metadata.file_path — so
    // the oracle (plain per-bucket counts from raw rows) only matches
    // if the metadata column reports the true provenance of every
    // row, and n_files pins the one-file-per-partition layout.
    "file_metadata_scan" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "meta_scan")
      events(s, d)
        .withColumn("bucket", (col("event_id") % 4).cast("long"))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(dir)
      s.read.parquet(dir)
        .select(
          col("_metadata.file_path").as("fp"),
          graft.operators.Money.cents(col("value")).as("cents"))
        .withColumn("bucket",
          regexp_extract(col("fp"), "bucket=(\\d+)", 1).cast("long"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("fp")).as("n_files"),
          sum(col("cents")).as("cents"))
        .orderBy("bucket")
    }),

    // JSON QUARANTINE — the JSONL twin of csv_corrupt_recovery, a
    // DIFFERENT parser with different failure modes: truncated
    // objects, type mismatches on a declared field, and raw garbage
    // all land in the _corrupt column under PERMISSIVE instead of
    // failing the batch; good rows keep flowing. The corruption mix
    // is fixed so the recovery counts pin exactly.
    "json_corrupt_recovery" -> ((s, _) => {
      val dir = graft.Fs.scratch(s, "json_corrupt")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir))
      val lines = Seq(
        """{"k": 0, "name": "ALGERIA"}""",
        """{"k": 1, "name": "ARGENTINA"}""",
        """{"k": "notanint", "name": "CORRUPT_TYPE"}""",
        """{"k": 2, "name": "BRAZIL"""",
        """{"k": 3, "name": "CANADA"}""",
        """not json at all""",
        """{"k": 5, "name": "ETHIOPIA"}""")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "part.jsonl"),
        lines.mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      val schema = StructType(Seq(
        StructField("k", IntegerType),
        StructField("name", StringType),
        StructField("_corrupt", StringType)))
      s.read
        .schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(dir)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt").isNull, 1L).otherwise(0L))
            .as("n_good"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          sum(when(col("_corrupt").isNull, col("k").cast("long"))
            .otherwise(0L)).as("sum_good_keys"))
    }),

    // DYNAMIC PARTITION PRUNING — the OTHER partition-pruning
    // mechanism (partitioned_sink_prune pins static pruning from a
    // literal predicate): here the pruning predicate only exists at
    // RUNTIME — the kept day-partitions come from a FILTERED
    // dimension table, so Catalyst injects a dynamicpruning subquery
    // into the fact scan's partition filters and the fact table reads
    // ONLY the joined days' partitions (DppJoinSpec asserts the
    // subquery in the plan and the pruned partition count from scan
    // metrics). At 100 TB this is what keeps a fact⋈dim join from
    // scanning every partition when the dim filter is selective.
    "dpp_join" -> ((s, d) => {
      val base = graft.Fs.scratch(s, "dpp")
      val factDir = s"$base/fact"
      events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("day").parquet(factDir)
      val dimDir = s"$base/dim"
      // The dim key must be the SAME TYPE the fact's partition-column
      // inference lands on (date) — a string dim key would put a cast
      // on the join key and defeat the broadcast-reuse check DPP
      // insertion depends on.
      // The dim filter must be a real COMPARISON (dom <= 7): DPP's
      // insertion rule only fires behind a likely-selective predicate,
      // and a pre-collapsed bare boolean column does not qualify.
      events(s, d)
        .select(to_date(col("ts")).as("day"))
        .distinct()
        .withColumn("dom", dayofmonth(col("day")))
        .write.mode("overwrite").parquet(dimDir)
      val fact = s.read.parquet(factDir)
      val dim = s.read.parquet(dimDir).filter(col("dom") <= 7)
      fact
        .join(broadcast(dim.select("day")), Seq("day"))
        .groupBy("day")
        .agg(
          count(lit(1)).as("n_events"),
          sum(graft.operators.Money.cents(col("value"))).as("cents"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_events"), col("cents"))
        .orderBy("day")
    }),

    // COLUMN-LEVEL LINEAGE — "which source columns feed each output?"
    // answered from the ANALYZED plan (graft.plans.Lineage): leaf
    // relations seed names, Project/Aggregate/Window map what they
    // define to the union of referenced sources, joins/filters just
    // merge. Driver-side plan metadata — microseconds at any table
    // size, which is why catalogs ingest plan lineage instead of
    // scanning data. The probe frame exercises a join, a multi-column
    // arithmetic aggregate, a literal-only aggregate (empty source
    // set), and a window; a second probe frame pins the Union case
    // (a Union's output reuses the first child's ExprIds, so a
    // merge-only walker silently drops branches 2..n — the exact bug
    // class this gate exists to catch). The oracle pins the expected
    // edge list literally, so any regression in the walker (a dropped
    // Window case, a lost multi-source union) breaks the gate.
    "lineage_report" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag")
      val frame = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("disc_price_cents"),
          max(col("o_orderdate")).as("latest_order"))
        .withColumn("share_rows",
          sum(col("n_rows")).over(w))
      val uframe = lineitem(s, d)
        .select(col("l_returnflag").as("tag"),
          cents(col("l_extendedprice")).as("val_cents"))
        .unionByName(orders(s, d)
          .select(col("o_orderpriority").as("tag"),
            cents(col("o_totalprice")).as("val_cents")))
        .groupBy("tag")
        .agg(sum(col("val_cents")).as("cents_sum"))
      graft.plans.Lineage.report(frame)
        .unionByName(graft.plans.Lineage.report(uframe)
          .select(concat(lit("u_"), col("out_col")).as("out_col"),
            col("src_cols")))
        .orderBy("out_col")
    }),

    // Bucketed-table EXCHANGE-FREE AGGREGATION — the other payoff of
    // bucketing besides co-located joins: a groupBy on the bucket key
    // reads each bucket as one pre-clustered partition, so the plan
    // has ZERO shuffle exchanges (asserted in BucketedAggSpec) — at
    // 100 TB the recurring per-key rollup over a bucketed fact table
    // costs one local scan, not a full-network shuffle. Buckets here
    // are the per-customer order rollup; the oracle recomputes from
    // raw rows, so a bucket-pruned or double-read file breaks the
    // hash. Output folds to per-bucket-count bands to stay bounded.
    "bucketed_agg" -> ((s, d) => {
      val ordTbl = graft.Fs.sessionTable(s, "graft_ord_bktagg")
      graft.Fs.dropTableAndLocation(s, ordTbl)
      orders(s, d)
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(ordTbl)
      s.table(ordTbl)
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("cents"))
        .groupBy(col("n_orders").as("orders_per_customer"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("cents")).as("band_cents"))
        .orderBy("orders_per_customer")
    }),

    // DYNAMIC partition overwrite — the BACKFILL pattern: a
    // day-partitioned table gets one corrected day rewritten in
    // place (overwrite mode with partitionOverwriteMode=dynamic
    // touches ONLY the partitions present in the written frame),
    // while every other partition's bytes stay put. At 100 TB this
    // is the difference between rewriting one day and rewriting the
    // table. The read-back aggregates per day; the oracle computes
    // corrected-day-substituted totals from the raw events, so both
    // under-overwrite (old rows surviving) and over-overwrite (other
    // days clobbered) break the hash.
    "partition_overwrite" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "part_overwrite")
      val ev = events(s, d).select(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
          .as("day"),
        col("event_type"),
        Money.cents(col("value")).as("cents"))
      ev.write.mode("overwrite").partitionBy("day").parquet(dir)
      val firstDay = "2024-01-01"
      // The "correction": the first day's rows re-land with cents
      // doubled — a backfill-shaped rewrite of exactly one partition.
      // The overwrite mode rides on the WRITER (scoped to this one
      // write), never on the session conf — a session-global toggle
      // would turn unrelated concurrent overwrites dynamic for the
      // duration of the window.
      ev.filter(col("day") === firstDay)
        .withColumn("cents", col("cents") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(dir)
      s.read.parquet(dir)
        .groupBy("day")
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("cents")).as("total_cents"))
        .orderBy("day")
    }),

    // The `binaryFile` SOURCE surface: opaque files read as rows of
    // (path, modificationTime, length, content) — how a multimodal
    // ingest first touches image/audio archives before any codec
    // runs. The fixture pages are staged from the classpath to the
    // session's scratch, read back through the format, and pinned
    // by (name, length, md5) against literal expectations — so the
    // source's content fidelity is the thing under test. At 100 TB
    // the reader parallelizes per file (and per block for large
    // files with a configured maxPartitionBytes); metadata-only
    // projections (path/length) never load content.
    "binaryfile_scan" -> ((s, d) => {
      val dir = graft.Fs.scratch(s, "binfile")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir))
      for (p <- Seq("empire.html", "imdb.html", "ranker.html")) {
        val in = getClass.getResourceAsStream(s"/pages/$p")
        val bytes = in.readAllBytes()
        in.close()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, p), bytes)
      }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.html")
        .load(dir)
        .select(
          element_at(split(col("path"), "/"), -1).as("name"),
          col("length"),
          md5(col("content")).as("content_md5"))
        .orderBy("name")
    }),

    // k-anonymity audit — the privacy gate a dataset release runs
    // beyond PII masking: every quasi-identifier combination
    // (nation × segment × 100-unit balance band) whose group has
    // fewer than k=5 members is re-identification risk. Reported per
    // segment: group counts, risky-group counts, and how many ROWS
    // sit in risky groups (the suppression workload). At 100 TB:
    // one shuffle on the QI key, one segment reduce — the actual
    // suppression is an anti-join of the fact table against the
    // risky-combination set this query emits. Band edges use
    // floor(x/100), the identical IEEE op sequence on both engines.
    "k_anonymity" -> ((s, d) => {
      val groups = customer(s, d)
        .groupBy(
          col("c_mktsegment").as("segment"),
          col("c_nationkey").as("nat"),
          floor(col("c_acctbal") / 100).cast("long").as("band"))
        .agg(count(lit(1)).as("n"))
      groups.groupBy("segment")
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L))
            .as("n_risky_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L))
            .as("n_risky_rows"))
        .orderBy("segment")
    }),

    // Deterministic WEIGHTED sampling per group — the reproducible
    // sampling a training pipeline needs (re-running the job must
    // pick the SAME sample): integer priority = hash60(id) DIV
    // weight, keep the k smallest per source. Heavier documents get
    // proportionally smaller priorities, so inclusion odds scale
    // with weight (WeightedSampleSpec measures it), while the whole
    // draw stays a pure function of the ids — no RNG state, exact
    // integer arithmetic, oracle-rebuildable. At 100 TB the top-k
    // per group is a bounded-state aggregation (the BottomKAggregator
    // shape), not the sort+window the gate-scale form uses.
    "weighted_sample" -> ((s, d) => {
      import graft.functions.TextFunctions.hash60
      val base = documents(s, d)
        .select(col("doc_id"), col("source"),
          greatest(col("n_chars"), lit(1L)).as("w"))
        .withColumn("priority", hash60(col("doc_id").cast("string")))
        .withColumn("priority", expr("priority DIV w"))
      base
        .withColumn("smp_rank",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("source")
              .orderBy(col("priority"), col("doc_id"))))
        .filter(col("smp_rank") <= 5)
        .select("source", "smp_rank", "doc_id", "w", "priority")
        .orderBy("source", "smp_rank")
    }),

    // l-diversity audit — k-anonymity's complement: a QI group can be
    // large yet still leak if everyone in it shares the same
    // SENSITIVE value (homogeneity attack). QI = (nation, balance
    // band), sensitive = market segment; a group is low-diversity
    // when it carries fewer than l=3 distinct segments. Same
    // 100 TB shape as k_anonymity: one shuffle on the QI key (the
    // distinct-count partial-aggregates map-side), one bounded
    // reduce per nation.
    "l_diversity" -> ((s, d) => {
      val groups = customer(s, d)
        .groupBy(
          col("c_nationkey").as("nat"),
          floor(col("c_acctbal") / 100).cast("long").as("band"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("c_mktsegment")).as("ndiv"))
      groups.groupBy("nat")
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("ndiv") < 3, 1L).otherwise(0L))
            .as("n_low_div_groups"),
          sum(when(col("ndiv") < 3, col("n")).otherwise(0L))
            .as("n_rows_at_risk"),
          min(col("ndiv")).as("min_diversity"))
        .orderBy("nat")
    }),

    // t-closeness audit — the third privacy gate (k-anonymity bounds
    // group SIZE, l-diversity bounds sensitive-value VARIETY;
    // t-closeness bounds how far a group's sensitive DISTRIBUTION
    // drifts from the corpus-wide one — a group can be large and
    // varied yet still leak if it is 90% one segment when the corpus
    // is 20%). Distance is the variational EMD for categorical
    // attributes, kept EXACT: for group g,
    //   t_g = Σ_s |n_gs·N − n_s·n_g| / (2·n_g·N)
    // where the numerator is an exact long and the t > 0.5 breach
    // test is the integer comparison t_num > n_g·N (no float
    // boundary). Same 100 TB shape as its siblings: one shuffle on
    // the (QI, sensitive) key, a second on QI, a broadcast of the
    // 5-row global segment histogram, bounded per-nation reduce.
    "t_closeness" -> ((s, d) => {
      val cells = customer(s, d)
        .groupBy(
          col("c_nationkey").as("nat"),
          floor(col("c_acctbal") / 100).cast("long").as("band"),
          col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_gs"))
      val glob = customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_s"))
      val nn = customer(s, d).agg(count(lit(1)).as("n_tot"))
      // Per-group EMD numerator: present segments contribute
      // |n_gs·N − n_s·n_g|; segments ABSENT from the group still
      // contribute n_s·n_g each, folded in as (N − Σ_present n_s)·n_g
      // so the missing rows never need generating.
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy("nat", "band")
      val groups = cells
        .join(broadcast(glob), Seq("seg"))
        .crossJoin(broadcast(nn))
        .withColumn("n_g", sum(col("n_gs")).over(wg))
        .groupBy("nat", "band", "n_tot", "n_g")
        .agg(
          sum(abs(col("n_gs") * col("n_tot") -
            col("n_s") * col("n_g"))).as("present_term"),
          sum(col("n_s")).as("present_ns"))
        .withColumn("t_num",
          col("present_term") +
            (col("n_tot") - col("present_ns")) * col("n_g"))
      groups.groupBy("nat")
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("t_num") > col("n_g") * col("n_tot"), 1L)
            .otherwise(0L)).as("n_breach_groups"),
          sum(when(col("t_num") > col("n_g") * col("n_tot"),
            col("n_g")).otherwise(0L)).as("n_rows_at_risk"),
          max(col("t_num").cast("double") /
            (lit(2.0) * col("n_g").cast("double") *
              col("n_tot").cast("double"))).as("max_t"))
        .orderBy("nat")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Corrected-day-substituted totals from the raw events: day one
    // doubled, every other day untouched.
    "partition_overwrite" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)
        |         * CASE WHEN strftime(date_trunc('day', ts),
        |                  '%Y-%m-%d') = '2024-01-01'
        |                THEN 2 ELSE 1 END) AS BIGINT) AS total_cents
        |FROM events GROUP BY day ORDER BY day""".stripMargin,
    // Literal expectations (the rawRankingsCte convention for
    // fixture-derived data): the staged bytes must round-trip the
    // binaryFile source exactly.
    "binaryfile_scan" ->
      """SELECT * FROM (VALUES
        |  ('empire.html', CAST(802 AS BIGINT),
        |   'c3905f9f2ade99cdb573d96634f8b901'),
        |  ('imdb.html', CAST(1822 AS BIGINT),
        |   '17dbb6c254d15e05ef56d1fbd4ceef2d'),
        |  ('ranker.html', CAST(1562 AS BIGINT),
        |   '37e5b1c3fb1f1d5c08188ebbec35d5c8'))
        |  AS t(name, length, content_md5)
        |ORDER BY name""".stripMargin,
    "k_anonymity" ->
      """WITH g AS (
        |  SELECT c_mktsegment AS segment, c_nationkey,
        |         CAST(floor(c_acctbal / 100) AS BIGINT) AS band,
        |         count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3
        |)
        |SELECT segment, count(*) AS n_groups,
        |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_risky_groups,
        |       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |         AS n_risky_rows
        |FROM g GROUP BY segment ORDER BY segment""".stripMargin,
    "weighted_sample" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |         greatest(n_chars, 1) AS w,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |           AS BIGINT) // greatest(n_chars, 1) AS priority
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, w, priority,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY priority, doc_id) AS smp_rank
        |  FROM b)
        |SELECT source, smp_rank, doc_id, w, priority
        |FROM r WHERE smp_rank <= 5
        |ORDER BY source, smp_rank""".stripMargin,
    "l_diversity" ->
      """WITH g AS (
        |  SELECT c_nationkey AS nat,
        |         CAST(floor(c_acctbal / 100) AS BIGINT) AS band,
        |         count(*) AS n,
        |         count(DISTINCT c_mktsegment) AS ndiv
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT nat, count(*) AS n_groups,
        |       CAST(sum(CASE WHEN ndiv < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_low_div_groups,
        |       CAST(sum(CASE WHEN ndiv < 3 THEN n ELSE 0 END) AS BIGINT)
        |         AS n_rows_at_risk,
        |       CAST(min(ndiv) AS BIGINT) AS min_diversity
        |FROM g GROUP BY nat ORDER BY nat""".stripMargin,
    "t_closeness" ->
      """WITH cells AS (
        |  SELECT c_nationkey AS nat,
        |         CAST(floor(c_acctbal / 100) AS BIGINT) AS band,
        |         c_mktsegment AS seg, count(*) AS n_gs
        |  FROM customer GROUP BY 1, 2, 3
        |), gseg AS (
        |  SELECT c_mktsegment AS seg, count(*) AS n_s
        |  FROM customer GROUP BY 1
        |), nn AS (SELECT count(*) AS n_tot FROM customer),
        |gt AS (
        |  SELECT nat, band, CAST(sum(n_gs) AS BIGINT) AS n_g
        |  FROM cells GROUP BY 1, 2
        |), grp AS (
        |  SELECT c.nat, c.band, n.n_tot, g.n_g,
        |         CAST(sum(abs(c.n_gs * n.n_tot - gl.n_s * g.n_g))
        |           AS BIGINT)
        |           + (n.n_tot - CAST(sum(gl.n_s) AS BIGINT)) * g.n_g
        |           AS t_num
        |  FROM cells c
        |  JOIN gseg gl USING (seg)
        |  JOIN gt g ON g.nat = c.nat AND g.band = c.band
        |  CROSS JOIN nn n
        |  GROUP BY c.nat, c.band, n.n_tot, g.n_g
        |)
        |SELECT nat, count(*) AS n_groups,
        |       CAST(sum(CASE WHEN t_num > n_g * n_tot
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_breach_groups,
        |       CAST(sum(CASE WHEN t_num > n_g * n_tot
        |                     THEN n_g ELSE 0 END) AS BIGINT)
        |         AS n_rows_at_risk,
        |       max(CAST(t_num AS DOUBLE) /
        |           (2.0 * CAST(n_g AS DOUBLE) * CAST(n_tot AS DOUBLE)))
        |         AS max_t
        |FROM grp GROUP BY nat ORDER BY nat""".stripMargin,
    // The catalog round-trip must be lossless: the oracle reads the
    // source parquet directly, so any drop/dup through saveAsTable +
    // spark.table breaks the hash.
    "analyzed_table_agg" ->
      """SELECT n_name, count(*) AS n_suppliers,
        |       CAST(sum(CAST(round(s_acctbal*100) AS BIGINT)) AS BIGINT)
        |         AS acctbal_cents
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "catalog_table" ->
      """SELECT n_regionkey, count(*) AS n_nations,
        |       min(n_name) AS first_nation
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,
    "map_hof_functions" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST((CASE WHEN CAST(round(l_quantity*100) AS BIGINT)
        |               > 1000 THEN 1 ELSE 0 END)
        |          + (CASE WHEN CAST(round(l_extendedprice*100)
        |               AS BIGINT) > 1000 THEN 1 ELSE 0 END)
        |          + (CASE WHEN CAST(round(l_tax*100) AS BIGINT)
        |               > 1000 THEN 1 ELSE 0 END) AS INTEGER)
        |         AS n_large_entries,
        |       CAST(CAST(round(l_extendedprice*100) AS BIGINT) // 100
        |         AS BIGINT) AS price_dollars,
        |       CAST(CAST(round(l_quantity*100) AS BIGINT)
        |         AS BIGINT) AS zip_qty
        |FROM lineitem WHERE l_orderkey <= 50
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "map_functions" ->
      """SELECT l_orderkey, l_linenumber,
        |       map(['qty','price'],
        |           [CAST(round(l_quantity*100) AS BIGINT),
        |            CAST(round(l_extendedprice*100) AS BIGINT)])['qty'][1]
        |         AS m_qty,
        |       map(['qty','price'],
        |           [CAST(round(l_quantity*100) AS BIGINT),
        |            CAST(round(l_extendedprice*100) AS BIGINT)])['price'][1]
        |         AS m_price,
        |       CAST(2 AS INTEGER) AS m_size
        |FROM lineitem WHERE l_orderkey <= 50
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "csv_roundtrip" ->
      """SELECT p_partkey,
        |       concat(p_brand, ',', p_size) AS line,
        |       p_brand AS brand_back,
        |       CAST(p_size AS INTEGER) AS size_back
        |FROM part WHERE p_partkey <= 50 ORDER BY p_partkey""".stripMargin,
    "date_series_fill" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '1995-01-01',
        |    DATE '1995-01-31', INTERVAL 1 DAY)) AS DATE) AS day
        |), counts AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
        |  FROM orders GROUP BY 1
        |)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_orders
        |FROM days d LEFT JOIN counts c ON c.day = d.day
        |ORDER BY day""".stripMargin,
    "array_setops" ->
      """SELECT p_partkey,
        |  coalesce(array_to_string(list_sort(list_distinct(list_intersect(
        |    string_split(p_name, ' '),
        |    string_split(lower(p_type), ' ')))), ','), '') AS common_toks,
        |  coalesce(array_to_string(list_sort(list_distinct(list_filter(
        |    string_split(lower(p_type), ' '),
        |    x -> NOT list_contains(string_split(p_name, ' '), x)))), ','),
        |    '') AS type_only_toks,
        |  coalesce(array_to_string(list_sort(list_distinct(list_concat(
        |    string_split(p_name, ' '),
        |    string_split(lower(p_type), ' ')))), ','), '') AS all_toks
        |FROM part WHERE p_partkey <= 50 ORDER BY p_partkey""".stripMargin,
    "null_safe_eq" ->
      """SELECT count(*) AS n_nullsafe_equal_pairs FROM
        |  (SELECT o_orderkey AS k1,
        |          nullif(o_orderstatus, 'F') AS st1
        |   FROM orders WHERE o_orderkey <= 20) a
        |JOIN
        |  (SELECT o_orderkey AS k2,
        |          nullif(o_orderstatus, 'F') AS st2
        |   FROM orders WHERE o_orderkey <= 20) b
        |  ON k1 < k2 AND st1 IS NOT DISTINCT FROM st2""".stripMargin,
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
        |       CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status,
        |         l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,
    "agg_collect_set" ->
      """SELECT o_orderpriority,
        |       array_to_string(list_sort(list_distinct(
        |         list(o_orderstatus))), ',') AS statuses,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "join_salted" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |         AS extprice_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_salted_targeted" ->
      """SELECT c_mktsegment,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |         AS totalprice_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "bloom_semijoin_reduce" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |         AS extprice_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= TIMESTAMP '2001-01-01'
        |GROUP BY 1 ORDER BY month""".stripMargin,
    "csv_sink_source" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |       count(DISTINCT c_custkey) AS n_keys,
        |       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
        |         AS acctbal_cents
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "upsert_join" ->
      """WITH base AS (
        |  SELECT c_custkey AS k,
        |         CAST(round(c_acctbal*100) AS BIGINT) AS v_base
        |  FROM customer WHERE c_custkey < 1000
        |), changes AS (
        |  SELECT o_custkey AS k,
        |         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |           AS BIGINT) AS v_new
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) = 1995
        |  GROUP BY o_custkey
        |), m AS (
        |  SELECT COALESCE(c.v_new, b.v_base) AS v,
        |         CASE WHEN b.v_base IS NOT NULL AND c.v_new IS NOT NULL
        |                THEN 'update'
        |              WHEN b.v_base IS NULL THEN 'insert'
        |              ELSE 'keep' END AS action
        |  FROM base b FULL OUTER JOIN changes c ON b.k = c.k
        |)
        |SELECT action, count(*) AS n_rows,
        |       CAST(sum(v) AS BIGINT) AS v_total
        |FROM m GROUP BY action
        |ORDER BY action""".stripMargin,
    "profile_columns" ->
      """SELECT * FROM (
        |  SELECT 'c_acctbal_cents' AS col_name, count(*) AS n_rows,
        |         CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_nulls,
        |         count(DISTINCT CAST(round(c_acctbal*100) AS BIGINT))
        |           AS n_distinct,
        |         CAST(min(CAST(round(c_acctbal*100) AS BIGINT)) AS VARCHAR)
        |           AS min_val,
        |         CAST(max(CAST(round(c_acctbal*100) AS BIGINT)) AS VARCHAR)
        |           AS max_val
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', count(*),
        |         CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT),
        |         count(DISTINCT c_mktsegment),
        |         min(c_mktsegment), max(c_mktsegment)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_name', count(*),
        |         CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT),
        |         count(DISTINCT c_name), min(c_name), max(c_name)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', count(*),
        |         CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT),
        |         count(DISTINCT c_nationkey),
        |         CAST(min(c_nationkey) AS VARCHAR),
        |         CAST(max(c_nationkey) AS VARCHAR)
        |  FROM customer
        |) ORDER BY col_name""".stripMargin,
    "pii_mask" ->
      s"""SELECT c_custkey,
         |       regexp_replace(substring(c_name, 1, length(c_name) - 4),
         |         '[0-9]', '*', 'g')
         |         || substring(c_name, length(c_name) - 3, 4)
         |         AS masked_name,
         |       ${graft.functions.TextFunctions.hash60Sql("c_name")}
         |         AS surrogate
         |FROM customer WHERE c_custkey <= 50
         |ORDER BY c_custkey""".stripMargin,
    "pii_mask_native" ->
      """SELECT c_custkey,
        |       regexp_replace(regexp_replace(regexp_replace(c_name,
        |         '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
        |         '[0-9]', 'n', 'g') AS masked_default,
        |       regexp_replace(regexp_replace(regexp_replace(
        |         regexp_replace(c_name,
        |           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
        |           '[0-9]', '9', 'g'), '[^Xx9]', '*', 'g')
        |         AS masked_custom
        |FROM customer WHERE c_custkey <= 50
        |ORDER BY c_custkey""".stripMargin,
    "fixedwidth_scan" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "text_sink_source" ->
      s"""SELECT count(*) AS n_lines,
         |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
         |       CAST(sum(${graft.functions.TextFunctions.hash60Sql("text")}
         |         % 1000000007) % 1000000007 AS BIGINT) AS checksum
         |FROM documents""".stripMargin,
    "orc_sink_source" ->
      """SELECT p_brand, count(*) AS n_parts,
        |       count(DISTINCT p_partkey) AS n_keys,
        |       CAST(sum(CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT)
        |         AS retail_cents
        |FROM part GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "partitioned_sink_prune" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_text_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "grouped_topk" ->
      """SELECT o_orderpriority, o_orderkey, totalprice_cents,
        |       CAST(rnk AS INTEGER) AS rnk
        |FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(round(o_totalprice*100) AS BIGINT)
        |           AS totalprice_cents,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY CAST(round(o_totalprice*100) AS BIGINT)
        |             DESC, o_orderkey ASC) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,
    "join_asof" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events
        |), clicks AS (
        |  SELECT user_id, event_id AS click_event_id, tus
        |  FROM ev WHERE event_type = 'click'
        |), views AS (
        |  SELECT user_id, tus, max(event_id) AS view_event_id
        |  FROM ev WHERE event_type = 'view' GROUP BY user_id, tus
        |)
        |SELECT c.user_id, c.click_event_id, v.view_event_id,
        |       CAST((c.tus - v.tus) // 1000000 AS BIGINT) AS gap_secs
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.tus >= v.tus
        |ORDER BY c.user_id, click_event_id""".stripMargin,
    "join_asof_forward" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events
        |), clicks AS (
        |  SELECT user_id, event_id AS click_event_id, tus
        |  FROM ev WHERE event_type = 'click'
        |), views AS (
        |  SELECT user_id, tus, max(event_id) AS view_event_id
        |  FROM ev WHERE event_type = 'view' GROUP BY user_id, tus
        |)
        |SELECT c.user_id, c.click_event_id, v.view_event_id,
        |       CAST((v.tus - c.tus) // 1000000 AS BIGINT) AS gap_secs
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.tus <= v.tus
        |ORDER BY c.user_id, click_event_id""".stripMargin,
    "join_asof_tolerance" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events
        |), clicks AS (
        |  SELECT user_id, event_id AS click_event_id, tus
        |  FROM ev WHERE event_type = 'click'
        |), views AS (
        |  SELECT user_id, tus, max(event_id) AS view_event_id
        |  FROM ev WHERE event_type = 'view' GROUP BY user_id, tus
        |)
        |SELECT c.user_id, c.click_event_id,
        |       CASE WHEN c.tus - v.tus <= 600000000
        |            THEN v.view_event_id END AS view_event_id,
        |       CASE WHEN c.tus - v.tus <= 600000000
        |            THEN CAST((c.tus - v.tus) // 1000000 AS BIGINT)
        |       END AS gap_secs
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.tus >= v.tus
        |ORDER BY c.user_id, click_event_id""".stripMargin,
    "kll_quantile_sketch" ->
      """SELECT * FROM (
        |  SELECT o_orderpriority AS scope,
        |         CAST(count(*) AS BIGINT) AS n,
        |         TRUE AS p50_rank_within_tol
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL_MERGED', CAST(count(*) AS BIGINT), TRUE
        |  FROM orders
        |) u ORDER BY scope""".stripMargin,
    "stream_kll_quantile" ->
      """SELECT * FROM (
        |  SELECT o_orderpriority AS scope,
        |         CAST(count(*) AS BIGINT) AS n,
        |         TRUE AS p50_rank_within_tol
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL_MERGED', CAST(count(*) AS BIGINT), TRUE
        |  FROM orders
        |) u ORDER BY scope""".stripMargin,
    "hll_native_union" ->
      """SELECT * FROM (
        |  SELECT o_orderpriority AS scope,
        |         count(DISTINCT o_custkey) AS exact_n,
        |         TRUE AS within_tol
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL_UNION', count(DISTINCT o_custkey), TRUE
        |  FROM orders
        |) u ORDER BY scope""".stripMargin,
    "approx_distinct" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey) AS exact_custs,
        |       TRUE AS within_tol
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "approx_percentiles" ->
      """SELECT l_returnflag,
        |       count(*) AS n,
        |       TRUE AS p50_ok,
        |       TRUE AS p95_ok,
        |       TRUE AS stddev_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "bitmap_distinct_rollup" ->
      """SELECT event_type AS scope,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT '__all__' AS scope,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events
        |ORDER BY scope""".stripMargin,
    "hll_union" ->
      """SELECT r_name,
        |       CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_custs,
        |       TRUE AS within_tol
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "csv_corrupt_recovery" ->
      """SELECT CAST(7 AS BIGINT) AS n_rows,
        |       CAST(5 AS BIGINT) AS n_good,
        |       CAST(2 AS BIGINT) AS n_corrupt,
        |       CAST(11 AS BIGINT) AS sum_good_keys""".stripMargin,
    "schema_evolution_merge" ->
      """SELECT 2 * count(*) AS n_rows,
        |       count(*) AS n_backfilled_null,
        |       count(*) AS n_with_region,
        |       count(DISTINCT n_nationkey) AS n_distinct_keys
        |FROM nation""".stripMargin,
    // The expected column-lineage edge list, pinned literally: the
    // walker's output is a pure function of the probe frame's plan,
    // so any regression (dropped Window case, lost multi-source
    // union, literal aggregate gaining a phantom source) changes a
    // row. share_rows traces to l_returnflag because the window
    // PARTITION key determines the value; n_rows is a literal count
    // with a genuinely empty source set. The u_-prefixed rows pin the
    // Union walker case: each output position unions that position's
    // sources across ALL branches (lineitem AND orders), not just the
    // first child whose ExprIds the Union output happens to reuse.
    "lineage_report" ->
      """SELECT * FROM (VALUES
        |  ('disc_price_cents', 'l_discount,l_extendedprice'),
        |  ('l_returnflag', 'l_returnflag'),
        |  ('latest_order', 'o_orderdate'),
        |  ('n_rows', ''),
        |  ('share_rows', 'l_returnflag'),
        |  ('u_cents_sum', 'l_extendedprice,o_totalprice'),
        |  ('u_tag', 'l_returnflag,o_orderpriority'))
        |  AS t(out_col, src_cols)
        |ORDER BY out_col""".stripMargin,
    "file_metadata_scan" ->
      """SELECT CAST(event_id % 4 AS BIGINT) AS bucket,
        |       count(*) AS n_rows,
        |       CAST(1 AS BIGINT) AS n_files,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "json_corrupt_recovery" ->
      """SELECT CAST(7 AS BIGINT) AS n_rows,
        |       CAST(4 AS BIGINT) AS n_good,
        |       CAST(3 AS BIGINT) AS n_corrupt,
        |       CAST(9 AS BIGINT) AS sum_good_keys""".stripMargin,
    "dpp_join" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM events
        |WHERE CAST(strftime(ts, '%d') AS INT) <= 7
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "bucketed_agg" ->
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |)
        |SELECT CAST(n_orders AS BIGINT) AS orders_per_customer,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(cents) AS BIGINT) AS band_cents
        |FROM per_cust GROUP BY 1
        |ORDER BY orders_per_customer""".stripMargin,
    "bucketed_join" ->
      """SELECT c_mktsegment,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |         AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
  )
}
