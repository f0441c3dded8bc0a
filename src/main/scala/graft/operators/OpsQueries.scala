package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints
import graft.Tables._

/** Pipeline-operations family: the jobs that keep a 100 TB table
  * healthy and cheap to query, beyond answering any one query —
  * physical layout (Z-order clustering), data-quality auditing,
  * incremental aggregate maintenance, bag-semantics reconciliation,
  * and time-series repair.
  *
  * Scale designs:
  *   - `zorder_layout`: the Morton interleave is a pure per-row
  *     expression (no shuffle); the layout job it feeds is one
  *     `repartitionByRange(zval)` + sorted write. Multi-dimensional
  *     box predicates then prune parquet row groups on BOTH dims
  *     (`ZOrderLayoutSpec` measures the actual row-group skipping
  *     against a single-dim-sorted layout).
  *   - `dq_audit`: each table contributes ONE scan with all its
  *     per-row checks fused into a single aggregate (map-side partial
  *     → 1-row final); the referential check is a key anti-join, never
  *     a broadcast of the fact side.
  *   - `incremental_agg_state`: the mergeable-state shape of
  *     incremental view maintenance — history is reduced ONCE to
  *     per-key (count, sum) state, each new batch reduces alone, and
  *     the merge is a key-equi full-outer join of two aggregate
  *     frames. At 100 TB the history frame is a stored state table:
  *     merge cost is O(state + batch), never a re-read of history
  *     rows. The DuckDB oracle recomputes from ALL rows, so the gate
  *     itself proves merge ≡ recompute.
  *   - `ts_interpolate`: gap repair runs per-key (user) with
  *     calendar densification bounded by each key's own span; windows
  *     partition by user — no global ordering anywhere.
  */
object OpsQueries {

  private def cents(c: Column): Column = Money.cents(c)

  /** Morton (Z-order) interleave of two 8-bit coordinates — built as
    * an unrolled bit expression so it stays inside whole-stage codegen.
    */
  private def morton8(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1)
    }.reduce(_ + _).cast("long")

  /** The same interleave as ANSI SQL for the DuckDB oracle. */
  private def morton8Sql(x: String, y: String): String =
    (0 until 8).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Hilbert curve index of two 8-bit coordinates — the standard
    * iterative quadrant walk (per bit plane s: quadrant digit
    * (3·rx) XOR ry, then reflect+swap when ry=0). Unlike Morton,
    * CONSECUTIVE Hilbert indices are always spatially adjacent
    * (Manhattan distance 1 — HilbertLayoutSpec proves it
    * exhaustively), which is why it clusters range scans strictly
    * better; `curve_locality` measures the difference on the real
    * table.
    *
    * Built as a CHAIN of per-plane projections (one withColumn layer
    * per bit plane, rotated coordinates materialized as named
    * columns) rather than one nested Column expression: the rotation
    * references each coordinate three times, so a single inlined
    * expression grows ~3× per plane — ~3^8 nodes, which ballooned
    * codegen to a >100 MB task binary when first tried. The layered
    * form stays linear (Catalyst's CollapseProject declines to
    * inline multiply-referenced non-cheap aliases) — the same reason
    * the oracle mirrors it as a CTE chain. The REGISTERED queries use
    * the native [[graft.functions.HilbertIndexExpr]] (one codegen'd
    * Java loop, no projection layers); this chain is the
    * pure-DataFrame reference formulation HilbertLayoutSpec proves
    * bit-identical to it over the full grid.
    */
  private[graft] def withHilbert(
      df: DataFrame, x0: String, y0: String, out: String): DataFrame = {
    var cur = df
      .withColumn("_hx", col(x0).cast("int"))
      .withColumn("_hy", col(y0).cast("int"))
      .withColumn(out, lit(0L))
    for (s <- Seq(128, 64, 32, 16, 8, 4, 2, 1)) {
      val rx = when(col("_hx").bitwiseAND(lit(s)) > 0, 1).otherwise(0)
      val ry = when(col("_hy").bitwiseAND(lit(s)) > 0, 1).otherwise(0)
      cur = cur
        // d first — it must see the PRE-rotation coordinates.
        .withColumn(out,
          col(out) + lit(s.toLong * s) *
            (rx * 3).bitwiseXOR(ry).cast("long"))
        .withColumn("_hx2", when(ry === 0,
          when(rx === 1, lit(s - 1) - col("_hy")).otherwise(col("_hy")))
          .otherwise(col("_hx")))
        .withColumn("_hy2", when(ry === 0,
          when(rx === 1, lit(s - 1) - col("_hx")).otherwise(col("_hx")))
          .otherwise(col("_hy")))
        .withColumn("_hx", col("_hx2"))
        .withColumn("_hy", col("_hy2"))
    }
    cur.drop("_hx", "_hy", "_hx2", "_hy2")
  }

  /** The same Hilbert walk as a chain of per-bit-plane CTE steps for
    * the DuckDB oracle: `src(…, x, y, d)` → h128 → … → h1, linear
    * (each step materializes the rotated coordinates once — the
    * nested-CASE expression the Spark side builds would grow 3× per
    * plane in plain SQL).
    */
  private def hilbert8Ctes(src: String, carry: String): String =
    Seq(128, 64, 32, 16, 8, 4, 2, 1).foldLeft((src, "")) {
      case ((prev, acc), s) =>
        val step =
          s"""h$s AS (
             |  SELECT $carry,
             |         CASE WHEN (y & $s) = 0 THEN
             |           CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END
             |         ELSE x END AS x,
             |         CASE WHEN (y & $s) = 0 THEN
             |           CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END
             |         ELSE y END AS y,
             |         d + ${s.toLong * s} * CAST(xor(
             |           3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
             |           CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |           AS d
             |  FROM $prev)""".stripMargin
        (s"h$s", if (acc.isEmpty) step else s"$acc,\n$step")
    }._2

  /** Undirected customer–supplier purchase graph (node ids: customers
    * even, suppliers odd), materialized ONCE per (session, dir) via
    * `Checkpoints.pin` and memoized — shared by `pagerank_fixed` and
    * `bfs_hops` so the gate builds the edge list a single time (the
    * at-scale shape is a checkpointed edge table).
    */
  private val edgeCache = new SessionMemo[org.apache.spark.sql.DataFrame]

  private def purchaseEdges(s: SparkSession, d: String): DataFrame =
    edgeCache.getOrCompute(s, d) {
      val pairs = lineitem(s, d)
        .join(orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          (col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
      Checkpoints.pin(pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("c").as("dst"))))
    }

  /** Canonical (part a < part b, n co-orders) basket-pair frame —
    * memoized and pinned once per (session, dir): three queries
    * (`cooccurrence_topk`, `basket_rules`, `item_cf_topk`) rank or
    * price the SAME pair statistics, so the per-basket O(b²) explode
    * and its aggregation run once (the at-scale shape is a persisted
    * pair-stats table refreshed with the corpus).
    */
  private val basketPairsCache = new SessionMemo[DataFrame]

  private def basketPairs(s: SparkSession, d: String): DataFrame =
    basketPairsCache.getOrCompute(s, d) {
      // collect_set dedups within the order, so no distinct() here.
      Checkpoints.pin(lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy("l_orderkey")
        .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
        .filter(size(col("items")) >= 2)
        .select(TextQueries.pairCombinations(col("items")).as("pr"))
        .select(col("pr.a").as("pa"), col("pr.b").as("pb"))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("n_ab")))
    }

  /** Thresholded supplier CO-PURCHASE graph (edge = two suppliers
    * sharing ≥180 distinct customers), canonical u<v rows — memoized
    * and pinned once per (session, dir) now that three queries
    * (`triangle_count`, `clustering_coeff`, `degree_assortativity`)
    * consume it; the bipartite projection self-join is the expensive
    * stage, the thresholded result is small.
    */
  private val coPurchaseCache = new SessionMemo[DataFrame]

  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    coPurchaseCache.getOrCompute(s, d) {
      val cs = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
      Checkpoints.pin(cs.as("a")
        .join(cs.as("b"),
          col("a.c") === col("b.c") && col("a.sp") < col("b.sp"))
        .groupBy(col("a.sp").as("u"), col("b.sp").as("v"))
        .agg(count(lit(1)).as("ncommon"))
        .filter(col("ncommon") >= 180)
        .select("u", "v"))
    }

  /** Grid-bucketed radius self-join over a point frame (id, x, y):
    * side A posts its home cell, side B its 3×3 cell neighborhood,
    * candidates key-equi join on the cell, and the exact integer
    * d² ≤ r² filter verifies. Cell size == radius, so every in-radius
    * pair differs by ≤1 cell per axis and is found in EXACTLY one
    * (home, neighbor) combination — complete, and duplicate-free with
    * no dedup step. Factored out so SpatialGridJoinSpec can drive it
    * with a dense synthetic frame (the sf fixture plane is sparse).
    */
  private[graft] def gridPairs(pts: DataFrame, r: Long): DataFrame = {
    val home = pts.select(
      col("id").as("a"), col("x").as("xa"), col("y").as("ya"),
      expr(s"x DIV $r").as("cx"),
      expr(s"y DIV $r").as("cy"))
    val nbr = pts
      .select(
        col("id").as("b"), col("x").as("xb"), col("y").as("yb"),
        expr(s"x DIV $r").as("bx"),
        expr(s"y DIV $r").as("by"),
        explode(sequence(lit(-1L), lit(1L))).as("dx"))
      .select(
        col("b"), col("xb"), col("yb"),
        (col("bx") + col("dx")).as("cx"), col("by"),
        explode(sequence(lit(-1L), lit(1L))).as("dy"))
      .select(
        col("b"), col("xb"), col("yb"), col("cx"),
        (col("by") + col("dy")).as("cy"))
    home
      .join(nbr, Seq("cx", "cy"))
      .filter(col("a") < col("b"))
      .withColumn("d2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("d2") <= r * r)
      .select("a", "b", "d2")
  }

  /** Undirected degrees of the canonical edge list. */
  private def coPurchaseDeg(edges: DataFrame): DataFrame =
    edges.select(col("u").as("n"))
      .unionByName(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))

  /** Per-node triangle counts via the degree-ordered compact-forward
    * orientation (see `triangle_count`'s Scaladoc for why the wedge
    * work is bounded by oriented out-degree, O(sqrt m) on any graph).
    */
  private def triNodeCounts(edges: DataFrame, deg: DataFrame): DataFrame = {
    // Orient from (deg, id)-lower to higher; carry the dst rank key
    // so the wedge join can order its two legs without re-joining
    // degrees.
    val oriented = edges
      .join(deg.withColumnRenamed("n", "u")
        .withColumnRenamed("deg", "du"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v")
        .withColumnRenamed("deg", "dv"), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"),
            col("dv").as("ddeg")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"),
            col("du").as("ddeg"))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.ddeg"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("apex"),
        col("e1.dst").as("b1"), col("e2.dst").as("b2"))
    wedges
      .join(oriented.select(col("src").as("b1"), col("dst").as("b2")),
        Seq("b1", "b2"))
      .select(explode(array(col("apex"), col("b1"), col("b2")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  private val edgesSqlCte =
    """pairs_ AS (
      |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS p
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), edges AS (
      |  SELECT c AS src, p AS dst FROM pairs_
      |  UNION ALL SELECT p, c FROM pairs_
      |)""".stripMargin

  /** Z-order coordinates for customers: x = nation, y = account-balance
    * band (integer cents, so band edges are exact cross-engine).
    */
  private[operators] def customerZ(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      col("c_nationkey").cast("int").as("zx"),
      ((cents(col("c_acctbal")) + lit(100000L)) / lit(5000L))
        .cast("int").as("zy"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Key-skew report — the observability a shuffle plan consults
    // BEFORE a 100 TB join: per candidate join key, the distinct-key
    // count, the heaviest key and its exact-ppm share, and the
    // max/mean concentration ratio (×1000). One grouped count per key
    // column (the same shuffle the join itself would do), then a
    // one-row fold — nothing leaves the executors but per-key counts.
    // max_over_mean ≈ 1000 means uniform; the fixture's l_suppkey
    // here shows the hot-supplier skew that join_salted /
    // AqeSkewJoinSpec then demonstrate the mitigations for.
    "skew_report" -> ((s, d) => {
      def keyStats(keyCol: String): DataFrame =
        lineitem(s, d)
          .groupBy(col(keyCol).as("k"))
          .agg(count(lit(1)).as("n"))
          .agg(
            count(lit(1)).as("n_keys"),
            sum(col("n")).as("n_rows"),
            max(struct(col("n"), col("k"))).as("mx"))
          .select(
            lit(keyCol).as("key_col"),
            col("n_keys"),
            col("n_rows"),
            col("mx.k").as("heaviest_key"),
            col("mx.n").as("heaviest_n"),
            expr("1000000 * mx.n DIV n_rows").as("top1_share_ppm"),
            expr("(1000 * mx.n * n_keys) DIV n_rows")
              .as("max_over_mean_x1000"))
      keyStats("l_suppkey")
        .unionByName(keyStats("l_partkey"))
        .unionByName(keyStats("l_orderkey"))
        .orderBy("key_col")
    }),

    // Z-ORDER clustering key: interleave (nation, balance-band) bits so
    // rows close in BOTH dimensions land in the same parquet row
    // groups. The query pins the interleave arithmetic bit-for-bit;
    // ZOrderLayoutSpec writes the actual layouts and asserts the
    // two-dimensional scan pruning this key buys.
    "zorder_layout" -> ((s, d) =>
      customerZ(s, d)
        .withColumn("zval", morton8(col("zx"), col("zy")))
        .orderBy(col("zval"), col("c_custkey"))
        .select("c_custkey", "zx", "zy", "zval")),

    // Hilbert clustering key over the same (nation, balance-band)
    // coordinates — the space-filling curve with strictly better
    // locality than Morton (no long diagonal jumps between
    // quadrants). Same pinning contract as zorder_layout.
    "hilbert_layout" -> ((s, d) => {
      graft.functions.HilbertIndexExpr.register(s)
      customerZ(s, d)
        .withColumn("hval", expr("hilbert_index(zx, zy)"))
        .orderBy(col("hval"), col("c_custkey"))
        .select("c_custkey", "zx", "zy", "hval")
    }),

    // MEASURED curve-locality comparison on the real table: mean
    // Manhattan distance between CONSECUTIVE rows in each curve
    // order (the gaps a range scan pays when neighbors on disk are
    // far apart in key space). Exact integers; the global window is
    // the measurement harness, not a layout pass — the layouts
    // themselves are written and pruned in ZOrderLayoutSpec.
    "curve_locality" -> ((s, d) => {
      graft.functions.HilbertIndexExpr.register(s)
      val base = customerZ(s, d)
        .withColumn("zval", morton8(col("zx"), col("zy")))
        .withColumn("hval", expr("hilbert_index(zx, zy)"))
      def locality(valCol: String, name: String): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col(valCol), col("c_custkey"))
        base
          .withColumn("dx", abs(col("zx") - lag("zx", 1).over(w)))
          .withColumn("dy", abs(col("zy") - lag("zy", 1).over(w)))
          .filter(col("dx").isNotNull)
          .agg(
            count(lit(1)).as("n_pairs"),
            sum((col("dx") + col("dy")).cast("long"))
              .as("total_manhattan"))
          .select(lit(name).as("curve"), col("n_pairs"),
            col("total_manhattan"),
            expr("1000 * total_manhattan DIV n_pairs")
              .as("mean_x1000"))
      }
      locality("hval", "hilbert")
        .unionByName(locality("zval", "morton"))
        .orderBy("curve")
    }),

    // One-pass-per-table data-quality audit: row-level checks fused
    // into single aggregates, plus the cross-table referential check
    // as a key anti-join. Output is the (check, n_violations) report a
    // pipeline gate consumes.
    "dq_audit" -> ((s, d) => {
      val orphan = lineitem(s, d).select(col("l_orderkey"))
        .join(orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("orphan_lineitem_rows").as("check"), col("n"))
      val dupKeys = orders(s, d).groupBy("o_orderkey")
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") - lit(1)), lit(0L)).as("n"))
        .select(lit("duplicate_orderkeys").as("check"), col("n"))
      val cust = customer(s, d).agg(
        sum(when(col("c_acctbal") < 0, 1L).otherwise(0L))
          .as("negative_acctbal_customers"),
        sum(when(col("c_name").isNull || col("c_name") === "", 1L)
          .otherwise(0L)).as("blank_customer_names"))
      val ev = events(s, d).agg(
        sum(when(col("value") <= 0 || col("value") > 1000, 1L)
          .otherwise(0L)).as("event_value_out_of_range"),
        sum(when(col("props").isNull || col("props") === "", 1L)
          .otherwise(0L)).as("blank_event_props"))
      val unpivoted = Seq(
        cust.select(explode(map(
          lit("negative_acctbal_customers"), col("negative_acctbal_customers"),
          lit("blank_customer_names"), col("blank_customer_names")))
          .as(Seq("check", "n"))),
        ev.select(explode(map(
          lit("event_value_out_of_range"), col("event_value_out_of_range"),
          lit("blank_event_props"), col("blank_event_props")))
          .as(Seq("check", "n"))))
      (Seq(orphan, dupKeys) ++ unpivoted)
        .reduce(_ unionByName _)
        .select(col("check"), col("n").cast("long").as("n_violations"))
        .orderBy("check")
    }),

    // In-flight data-quality counters via `observe` (CollectMetrics):
    // at 100 TB a pipeline must self-report row counts and value
    // bounds WITHOUT a second pass — `observe` piggybacks aggregate
    // metrics on the main action's tasks (accumulator-style partials,
    // one scan total), where a separate metrics query would re-read
    // the table. The observed pipeline here is an order filter whose
    // payload goes to a `noop` sink (the driving action); the query's
    // RESULT rows are the observed metrics themselves, and the oracle
    // recomputes the identical aggregates with a dedicated pass —
    // hash equality proves the piggybacked counters are exact, not
    // approximate. Money stays in integer cents (Money.scala) so the
    // sum is the same long on both engines.
    "observe_metrics" -> ((s, d) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      val pipeline = orders(s, d)
        .filter(col("o_orderstatus") =!= "P")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(cents(col("o_totalprice"))).as("sum_cents"),
          count(when(col("o_totalprice") > 200000.0, 1)).as("n_big"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
      pipeline.write.format("noop").mode("overwrite").save()
      val m = obs.get
      def l(k: String): Long = m(k).asInstanceOf[Number].longValue()
      Seq((l("n_rows"), l("sum_cents"), l("n_big"),
          l("min_key"), l("max_key")))
        .toDF("n_rows", "sum_cents", "n_big", "min_key", "max_key")
    }),

    // Streaming twin of observe_metrics: the same CollectMetrics
    // counters attached to a three-batch event replay, harvested
    // from each micro-batch's progress event and summed — the
    // always-on pipeline's self-reporting path (per-batch counts
    // ride the batch's own tasks; alerting reads progress, never the
    // sink). Oracle recomputes over the whole log in one pass;
    // count/sum decompose exactly across batches, so hash equality
    // proves no batch was dropped or double-counted
    // (StreamObserve.scala).
    "stream_observe_metrics" -> ((s, d) =>
      graft.streaming.StreamObserve.run(s, d)),

    // Offline STATE-STORE inspection: a three-batch replayed
    // streaming agg commits its per-key (count, cents-sum) buffers
    // to a checkpoint, and the query's RESULT is what Spark's
    // `statestore` data source reads back out of that checkpoint —
    // the non-destructive way to debug stateful pipelines at 100 TB
    // (one scan partition per state partition, no replay, no sink
    // round-trip). The oracle recomputes the aggregates from the raw
    // events in one batch pass; hash equality proves the checkpoint
    // state is exactly the aggregation's truth, end to end
    // (StateStoreRead.scala has the staging + provider notes).
    "state_store_read" -> ((s, d) =>
      graft.streaming.StateStoreRead.run(s, d)),

    // State CHANGE FEED over the same checkpoint (one streaming run
    // serves both readers, memoized per session like a production
    // checkpoint serves every inspection): every per-batch state
    // mutation since batch 0, folded per key into (n_updates,
    // final count, final sum). n_updates is the sharp claim — exactly
    // one update per batch that touched the key; the oracle
    // recomputes it as the number of distinct replay slices each
    // event_type appears in, pure event_id arithmetic DuckDB
    // reproduces exactly (StateStoreRead.changeFeed).
    "state_store_changefeed" -> ((s, d) =>
      graft.streaming.StateStoreRead.changeFeed(s, d)),

    // Incremental aggregate maintenance: history reduced once to
    // per-user (count, cents) state, the new batch reduced alone, then
    // ONE key-equi full-outer merge of the two state frames. The
    // oracle recomputes from all rows — hash equality IS the
    // merge ≡ recompute proof.
    "incremental_agg_state" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), col("ts"), cents(col("value")).as("v"))
      val cut = lit("2024-01-20").cast("timestamp")
      def state(df: DataFrame): DataFrame = df.groupBy("user_id").agg(
        count(lit(1)).as("n"), sum(col("v")).as("s"))
      val hist = state(ev.filter(col("ts") < cut))
        .withColumnRenamed("n", "n1").withColumnRenamed("s", "s1")
      val batch = state(ev.filter(col("ts") >= cut))
        .withColumnRenamed("n", "n2").withColumnRenamed("s", "s2")
      hist.join(batch, Seq("user_id"), "full_outer")
        .select(
          col("user_id"),
          (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L)))
            .as("n_events"),
          (coalesce(col("s1"), lit(0L)) + coalesce(col("s2"), lit(0L)))
            .as("sum_cents"))
        .orderBy("user_id")
    }),

    // Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL): multiplicity
    // -aware reconciliation between two order populations — the
    // "what changed, counted" diff that DISTINCT set ops destroy.
    "setop_except_all" -> ((s, d) => {
      val a = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val b = orders(s, d).filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey"))
      a.exceptAll(b)
        .groupBy("o_custkey").agg(count(lit(1)).as("surplus"))
        .orderBy(col("surplus").desc, col("o_custkey"))
        .limit(25)
    }),
    "setop_intersect_all" -> ((s, d) => {
      val a = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val b = orders(s, d).filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey"))
      a.intersectAll(b)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_common"))
        .orderBy(col("n_common").desc, col("o_custkey"))
        .limit(25)
    }),

    // Iterative GRAPH analytics: 5 fixed PageRank iterations over the
    // undirected customer–supplier purchase graph, in EXACT integer
    // arithmetic (mass scaled to 1e12; per-edge contribution
    // r*85 DIV (100*deg)) so an iterative random walk is hash-pinned
    // cross-engine. The edge list and degrees are materialized ONCE
    // (`Checkpoints.pin` — the at-scale shape is a checkpointed edge
    // table; without it every round would re-scan the fact join);
    // each round is then one key-equi join + one aggregation shuffling
    // on the node key only. NOTE: like dedup_clusters, construction
    // runs jobs eagerly, so static plan audits see only the final
    // round — the per-round shape is guarded here in code. The oracle
    // unrolls the same 5 rounds as chained CTEs (no recursion needed
    // for a FIXED iteration count); Scala `/` on positive longs is the
    // same floor division as `DIV`/`//`.
    "pagerank_fixed" -> ((s, d) => {
      val edges = purchaseEdges(s, d)
      val degs = Checkpoints.pin(
        edges.groupBy("src").agg(count(lit(1)).as("deg")))
      val nodes = edges.select(col("src").as("node")).distinct()
      val n = nodes.count()
      val r0 = nodes.withColumn("r", lit(1000000000000L / n))
      val base = 150000000000L / n
      // NOT hoisted (r19 A/B): pre-joining edges ⋈ degs into one
      // pinned table measured 2.58 → 3.22 s — the per-round degs join
      // is a cheap broadcast over an already-pinned frame, and the
      // hoisted table's eager materialization cost more than five of
      // them.
      val r5 = (1 to 5).foldLeft(r0) { (r, _) =>
        edges
          .join(r.withColumnRenamed("node", "src"), Seq("src"))
          .join(degs, Seq("src"))
          .select(col("dst"),
            expr("(r * 85) DIV (100 * deg)").as("contrib"))
          .groupBy("dst")
          .agg(sum(col("contrib")).as("mass_in"))
          .select(col("dst").as("node"),
            (lit(base) + col("mass_in")).as("r"))
      }
      r5.select(col("node"), col("r").as("mass"))
        .orderBy(col("mass").desc, col("node"))
        .limit(20)
    }),

    // Bounded BFS from a seed node (supplier 1) over the shared
    // purchase graph: 3 frontier-expansion rounds, each one key-equi
    // join + a min-hop aggregation — the "blast radius" primitive
    // (lineage/contamination spread). Shares the memoized checkpointed
    // edge list with pagerank_fixed; the oracle unrolls the same
    // rounds.
    "bfs_hops" -> ((s, d) => {
      val edges = purchaseEdges(s, d)
      val d0 = s.range(1)
        .select(lit(3L).as("node"), lit(0).as("hop"))
      val d3 = (1 to 3).foldLeft(d0.toDF) { (dist, k) =>
        // Expand only the PREVIOUS round's frontier — nodes reached
        // earlier were already expanded, and re-joining them would
        // redo up to rounds× the edge work for results min(hop)
        // discards anyway.
        val frontier = edges
          .join(
            dist.filter(col("hop") === k - 1)
              .withColumnRenamed("node", "src"),
            Seq("src"))
          .select(col("dst").as("node"), lit(k).as("hop"))
        dist.unionByName(frontier)
          .groupBy("node").agg(min(col("hop")).as("hop"))
      }
      d3.orderBy("node")
    }),

    // Triangle counting over the supplier CO-PURCHASE graph (edge =
    // two suppliers sharing >= 180 distinct customers — the strength
    // threshold keeps the projected graph sparse; the raw projection
    // of a bipartite fact table is near-complete and meaningless).
    // Orientation is DEGREE-ORDERED compact-forward: every canonical
    // edge u<v is re-oriented from the (degree, id)-lower endpoint to
    // the higher one, so wedge generation at each node is bounded by
    // its ORIENTED out-degree (O(sqrt(m)) on any graph) instead of its
    // raw degree — the standard guard against the quadratic wedge
    // blow-up at hub nodes that kills naive triangle joins at 100 TB.
    // The result (per-node triangle participation) is orientation-
    // independent, so the oracle counts the same triangles with the
    // naive a<b<c three-way join.
    "triangle_count" -> ((s, d) => {
      val edges = coPurchaseEdges(s, d)
      triNodeCounts(edges, coPurchaseDeg(edges))
        .orderBy(col("n_triangles").desc, col("node"))
        .limit(20)
    }),

    // LOCAL CLUSTERING COEFFICIENT per node of the same co-purchase
    // graph: coeff = 2T/(d(d−1)) in exact ppm — "how interconnected
    // is each supplier's neighborhood", the per-node texture that
    // global triangle counts flatten. Reuses the memoized thresholded
    // edge list; triangles come from the identical degree-oriented
    // wedge join as `triangle_count` (id-ordered in the oracle — the
    // two enumerations agree because both count each triangle once);
    // the tie-out is a key-equi left join of two aggregated frames.
    // Nodes of degree <2 have no defined coefficient and are the
    // peel `kcore` handles, so they are excluded here.
    "clustering_coeff" -> ((s, d) => {
      val edges = coPurchaseEdges(s, d)
      val deg = coPurchaseDeg(edges)
      val tri = triNodeCounts(edges, deg)
      deg.filter(col("deg") >= 2)
        .join(tri.withColumnRenamed("node", "n"), Seq("n"), "left")
        .withColumn("n_tri", coalesce(col("n_triangles"), lit(0L)))
        .withColumn("coeff_ppm",
          expr("1000000 * 2 * n_tri DIV (deg * (deg - 1))"))
        .select(col("n").as("node"), col("deg"), col("n_tri"),
          col("coeff_ppm"))
        .orderBy("node")
    }),

    // DEGREE ASSORTATIVITY of the co-purchase graph — one row of
    // exact Pearson sufficient statistics over (deg(u), deg(v)) at
    // every directed edge: do high-degree suppliers trade with other
    // hubs (num > 0) or with the periphery (num < 0)? Both edge
    // directions are counted, making the two marginals identical, so
    // ONE den term suffices (den1 = den2 by symmetry). Two key-equi
    // degree joins + a one-row aggregate; r = num/den is the
    // consumer's float, kept out of the pinned output.
    "degree_assortativity" -> ((s, d) => {
      val edges = coPurchaseEdges(s, d)
      val deg = coPurchaseDeg(edges)
      val both = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      both
        .join(deg.select(col("n").as("u"), col("deg").as("x")),
          Seq("u"))
        .join(deg.select(col("n").as("v"), col("deg").as("y")),
          Seq("v"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(
          col("n"), col("sx"), col("sxy"), col("sxx"),
          (col("n") * col("sxy") - col("sx") * col("sx")).as("num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
    }),

    // Ratio-to-report: each group's share of the grand total in exact
    // ppm — the denominator is a ONE-ROW aggregate broadcast back
    // (bounded by 1), never a global window over raw rows. The ppm is
    // base-1000 LONG DIVISION (quotient, then two remainder×1000
    // steps) so the largest intermediate is remainder×1000 < total
    // ×1000: exact floor(rev*1e6/total) without the rev×1e6 product,
    // which would overflow int64 already at ~sf2.
    "ratio_to_report" -> ((s, d) => {
      val grouped = orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("revenue_cents"))
      grouped
        .crossJoin(grouped.agg(
          sum(col("revenue_cents")).as("total_cents")))
        .select(
          col("o_orderpriority"),
          col("n_orders"),
          col("revenue_cents"),
          expr(
            """(revenue_cents DIV total_cents) * 1000000
               + ((revenue_cents % total_cents) * 1000
                  DIV total_cents) * 1000
               + (((revenue_cents % total_cents) * 1000 % total_cents)
                  * 1000 DIV total_cents)""")
            .as("share_ppm"))
        .orderBy("o_orderpriority")
    }),

    // Robust statistics: median + median-absolute-deviation of the
    // balance distribution, both interpolated quantiles over integer
    // cents. Outputs are scaled ×4 (interpolation midpoints of
    // half-integers are quarter-integers) and cast to BIGINT so the
    // pin is exact. Two histogram-style passes, no global sort of raw
    // rows beyond the percentile aggregate.
    // Robust ANOMALY DETECTION over the daily event volumes — the
    // monitoring alarm a pipeline runs on its own throughput: a
    // (type, day) count is anomalous when its deviation from the
    // type's median exceeds 3× the median absolute deviation
    // (mad_robust's estimator, per key). Quarter-units (×4) clear
    // the .25 fractions interpolated medians produce, so every
    // comparison and count is exact-integer; the worst day rides a
    // zero-padded (deviation, day) string max — an order-free
    // aggregation, no window. State: one row per (type, day), then
    // one per type.
    "event_anomaly" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(
          col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
            .as("day"))
        .agg(count(lit(1)).as("n"))
      val med = daily.groupBy("event_type")
        .agg(percentile(col("n"), lit(0.5)).as("med"))
      val dev = daily.join(med, Seq("event_type"))
        .withColumn("dev", abs(col("n") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(percentile(col("dev"), lit(0.5)).as("mad"))
      dev.join(mad, Seq("event_type"))
        .withColumn("dev_x4", (col("dev") * 4).cast("long"))
        .withColumn("mad_x4", (col("mad") * 4).cast("long"))
        .withColumn("anom",
          (col("dev_x4") > col("mad_x4") * 3).cast("long"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_days"),
          (max(col("med")) * 4).cast("long").as("median_x4"),
          max(col("mad_x4")).as("mad_x4"),
          sum(col("anom")).as("n_anomalous"),
          coalesce(
            substring(
              max(when(col("anom") === 1,
                concat(
                  lpad(col("dev_x4").cast("string"), 12, "0"),
                  col("day")))),
              13, 10),
            lit("none")).as("worst_day"))
        .orderBy("event_type")
    }),

    "mad_robust" -> ((s, d) => {
      val c = customer(s, d)
        .select(cents(col("c_acctbal")).as("v"))
      val med = c.agg(percentile(col("v"), lit(0.5)).as("m"))
      c.crossJoin(med)
        .select(abs(col("v") - col("m")).as("dev"), col("m"))
        .agg(
          (first(col("m")) * 4).cast("long").as("median_x4"),
          (percentile(col("dev"), lit(0.5)) * 4).cast("long")
            .as("mad_x4"))
    }),

    // SNAPSHOT DIFF — the CDC-shaped audit between two corpus states:
    // which documents were added / removed / changed / unchanged, per
    // source. The second state is DERIVED deterministically from the
    // first (hash-bucketed drops, edits, and additions), so both
    // engines build the identical "v2" and the diff itself — one
    // full-outer key join comparing content fingerprints — is what
    // the hash pins. At 100 TB this is the ingest-to-ingest delta
    // report: only doc ids and fingerprints shuffle, never content.
    "snapshot_diff" -> ((s, d) => {
      import graft.functions.TextFunctions.{hash60, normText}
      val v1 = documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("hb", pmod(hash60(normText(col("text"))), lit(10)))
      val v2 = v1.filter(col("hb") =!= 0) // bucket 0 removed
        .withColumn("text",
          when(col("hb").isin(1, 2), concat(col("text"), lit(" v2")))
            .otherwise(col("text"))) // buckets 1-2 edited
        .select(col("doc_id"), col("source"), col("text"))
        .unionByName(v1.filter(col("hb") === 3) // bucket 3 spawns adds
          .select((col("doc_id") + 10000000L).as("doc_id"),
            col("source"), concat(lit("new "), col("text")).as("text")))
      val f1 = v1.select(col("doc_id"), col("source").as("src1"),
        hash60(col("text")).as("fp1"))
      val f2 = v2.select(col("doc_id"), col("source").as("src2"),
        hash60(col("text")).as("fp2"))
      f1.join(f2, Seq("doc_id"), "full_outer")
        .select(
          coalesce(col("src1"), col("src2")).as("source"),
          when(col("fp1").isNull, "added")
            .when(col("fp2").isNull, "removed")
            .when(col("fp1") === col("fp2"), "unchanged")
            .otherwise("changed").as("status"))
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "status")
    }),

    // WINSORIZED robust statistics per group — the outlier-capping
    // pass a metrics pipeline runs before averaging: clamp each value
    // to the group's exact nearest-rank [p05, p95] band and report
    // raw vs clamped sums plus the clamp counts. Quantiles are
    // NEAREST-RANK by explicit integer formula (idx = ceil(p·n) as
    // (k·n + k') DIV 20 — no interpolation, no quantile-definition
    // drift between engines); everything stays integer cents, so the
    // whole row hash-pins. One shuffle to rank per group, one
    // key-equi join back — the window partitions by group, never
    // globally.
    "winsorized_stats" -> ((s, d) => {
      val v = events(s, d)
        .select(col("event_type"), col("event_id"),
          cents(col("value")).as("v"))
      val w = Window.partitionBy("event_type").orderBy(col("v").asc)
      val ranked = v.withColumn("rn", row_number().over(w))
      val n = v.groupBy("event_type").agg(count(lit(1)).as("n"))
      val bounds = ranked.join(n, "event_type")
        .filter(
          col("rn") === expr("(n + 19) DIV 20") ||
            col("rn") === expr("(19 * n + 19) DIV 20"))
        .groupBy("event_type")
        .agg(min(col("v")).as("p05"), max(col("v")).as("p95"))
      v.join(bounds, "event_type")
        .withColumn("clamped",
          least(greatest(col("v"), col("p05")), col("p95")))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          min(col("p05")).as("p05_cents"),
          min(col("p95")).as("p95_cents"),
          sum(col("v")).as("sum_raw_cents"),
          sum(col("clamped")).as("sum_winsorized_cents"),
          sum(when(col("v") < col("p05"), 1L).otherwise(0L))
            .as("n_clamped_low"),
          sum(when(col("v") > col("p95"), 1L).otherwise(0L))
            .as("n_clamped_high"))
        .orderBy("event_type")
    }),

    // Market-basket CO-OCCURRENCE: part pairs ordered together, top-30
    // by support. Baskets aggregate per order (state bounded by the
    // order's own line count — naturally small, unlike corpus-frequency
    // posting lists, so no df cap is needed), pairs explode per basket
    // (O(b²) with tiny b), counts partial-aggregate map-side, top-30
    // via TakeOrderedAndProject. The related-items primitive.
    "cooccurrence_topk" -> ((s, d) =>
      // Reads the memoized pinned pair frame (collect_set inside it
      // already dedups within the order — a prior .distinct() would
      // shuffle the whole fact projection twice).
      basketPairs(s, d)
        .select(col("pa").as("part_a"), col("pb").as("part_b"),
          col("n_ab").as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(30)),

    // ASSOCIATION RULES a→b over the same order baskets: support,
    // confidence and lift in exact ppm for every DIRECTED pair
    // co-ordered ≥2 times, top-30 by lift. The pair frame is the
    // bounded per-basket O(b²) explode (b ≈ items per order, never
    // corpus-scale); per-item order counts join back ON THE ITEM KEY
    // (one shuffle per side, both frames already aggregated), and the
    // basket total is a one-row broadcast. Lift stays integer by
    // cross-multiplying: lift_ppm = 10⁶·n_ab·N DIV (n_a·n_b) — at
    // n_ab ≤ N ≤ 10⁹ the numerator is ≤ 10²⁴/… bounded because n_ab
    // ≤ min(n_a, n_b) keeps 10⁶·n_ab·N ≤ 10⁶·N² — fine to N ≈ 3·10⁶
    // per long; beyond that the documented widening is decimal(38).
    "basket_rules" -> ((s, d) => {
      val b = lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = basketPairs(s, d).filter(col("n_ab") >= 2)
      // Directed rules: both orientations of each canonical pair.
      val rules = pairs.select(
          col("pa").as("ante"), col("pb").as("cons"), col("n_ab"))
        .unionByName(pairs.select(
          col("pb").as("ante"), col("pa").as("cons"), col("n_ab")))
      val itemN = b.groupBy(col("l_partkey").as("item"))
        .agg(count(lit(1)).as("n_item"))
      val total = b.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      rules
        .join(itemN.select(col("item").as("ante"),
          col("n_item").as("n_a")), Seq("ante"))
        .join(itemN.select(col("item").as("cons"),
          col("n_item").as("n_b")), Seq("cons"))
        .crossJoin(broadcast(total))
        .withColumn("support_ppm",
          expr("1000000 * n_ab DIV n_baskets"))
        .withColumn("confidence_ppm",
          expr("1000000 * n_ab DIV n_a"))
        .withColumn("lift_ppm",
          expr("1000000 * n_ab * n_baskets DIV (n_a * n_b)"))
        .select("ante", "cons", "n_ab", "n_a", "n_b",
          "support_ppm", "confidence_ppm", "lift_ppm")
        .orderBy(col("lift_ppm").desc, col("n_ab").desc,
          col("ante"), col("cons"))
        .limit(30)
    }),

    // ITEM-ITEM COLLABORATIVE FILTERING: for each of the 20 most
    // co-ordered parts, its top-5 neighbors by binary cosine over the
    // order×part incidence matrix — cos²(a,b) = n_ab²/(n_a·n_b) kept
    // exact in ppm (squaring avoids the sqrt; n_ab ≤ min(n_a,n_b)
    // bounds the numerator by 10⁶·n_ab ≤ 10⁶·N per factor). The
    // neighbor window partitions by the anchor item (per-item state =
    // its candidate pairs, basket-bounded); the anchor set is a
    // 20-row broadcast semi-join, so the full pair frame is pruned
    // before any window runs — the "related items" serving shape.
    "item_cf_topk" -> ((s, d) => {
      val b = lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = basketPairs(s, d)
      val sym = pairs.select(
          col("pa").as("item"), col("pb").as("nbr"), col("n_ab"))
        .unionByName(pairs.select(
          col("pb").as("item"), col("pa").as("nbr"), col("n_ab")))
      val itemN = b.groupBy(col("l_partkey").as("item"))
        .agg(count(lit(1)).as("n_item"))
      val anchors = sym.groupBy("item")
        .agg(sum(col("n_ab")).as("w"))
        .orderBy(col("w").desc, col("item"))
        .limit(20)
        .select("item")
      val w = Window.partitionBy("item")
        .orderBy(col("cos2_ppm").desc, col("n_ab").desc,
          col("nbr").asc)
      sym
        .join(broadcast(anchors), Seq("item"), "left_semi")
        .join(itemN.select(col("item"), col("n_item").as("n_a")),
          Seq("item"))
        .join(itemN.select(col("item").as("nbr"),
          col("n_item").as("n_b")), Seq("nbr"))
        .withColumn("cos2_ppm",
          expr("1000000 * n_ab * n_ab DIV (n_a * n_b)"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("item", "rnk", "nbr", "n_ab", "cos2_ppm")
        .orderBy("item", "rnk")
    }),

    // WEIGHTED single-source shortest paths (3-round Bellman-Ford)
    // over the purchase graph, edge weight = the CHEAPEST trade
    // between the endpoints in cents — "what is the lowest-cost
    // 3-trade route from supplier 1 to every counterparty". Each
    // round is one key-equi join + min-aggregation over the full
    // tentative-distance frame (relaxation can improve already-seen
    // nodes, so unlike bfs_hops the frontier trick would be WRONG
    // here — correctness forces the full rejoin, and the oracle
    // unrolls the identical rounds). Distances stay ≤ 3·max-cents,
    // far inside long range at any scale.
    "sssp_weighted" -> ((s, d) => {
      val wp = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(
          (col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
        .agg(min(cents(col("l_extendedprice"))).as("wgt"))
      val edges = Checkpoints.pin(
        wp.select(col("c").as("src"), col("p").as("dst"), col("wgt"))
          .unionByName(
            wp.select(col("p").as("src"), col("c").as("dst"),
              col("wgt"))))
      val d0 = s.range(1)
        .select(lit(3L).as("node"), lit(0L).as("dist"))
      // NOT pinned per round (r19 A/B): the 2³ duplicate relaxation
      // subtrees (19.9 CPU-s for 2.6 s wall) evaluate as concurrent
      // independent stages; per-round pins measured 2.86 → 3.44 s —
      // serialization cost exceeded the recompute saved.
      val dk = (1 to 3).foldLeft(d0.toDF) { (dist, _) =>
        val relaxed = edges
          .join(dist.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"),
            (col("dist") + col("wgt")).as("dist"))
        dist.unionByName(relaxed)
          .groupBy("node").agg(min(col("dist")).as("dist"))
      }
      dk.orderBy("node")
    }),

    // K-CORE PEELING (3 rounds, k=5) over the purchase graph: nodes
    // with fewer than 5 distinct counterparties are removed and the
    // degrees of their neighbors recomputed — the standard graph
    // densification pass before community/triangle work (peripheral
    // one-trade nodes dominate raw purchase graphs and add nothing
    // but join fan-out). Each round is one degree aggregation + two
    // semi-joins filtering the edge list to surviving endpoints —
    // all key-equi, monotone shrinking. Reports each survivor with
    // its round-3 degree; a fixed round count (like pagerank_fixed)
    // keeps the oracle an unrolled CTE chain rather than a fixpoint.
    "kcore" -> ((s, d) => {
      val k = 5
      val edges0 = purchaseEdges(s, d)
      // NOT pinned per round (r19 A/B): the fold's 3³ duplicate
      // subtree evaluations (18.7 CPU-s for 1.6 s wall) run as
      // CONCURRENT independent stages, so per-round pins measured
      // 1.75 → 1.89 s — the eager materializations serialized the
      // rounds for no wall win at the measured scale.
      val peeled = (1 to 3).foldLeft(edges0) { (edges, _) =>
        val alive = edges.groupBy("src")
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("src").as("node"))
        edges
          .join(alive.withColumnRenamed("node", "src"),
            Seq("src"), "left_semi")
          .join(alive.withColumnRenamed("node", "dst"),
            Seq("dst"), "left_semi")
      }
      peeled.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("core_deg"))
        .orderBy("node")
    }),

    // BENFORD first-digit audit of order totals — the classic
    // fabricated-amounts screen a data-governance pass runs over any
    // money column. One scan, 9-row output: observed first-significant-
    // digit counts vs the Benford expectation, both in exact ppm (the
    // expectations are the nine pre-rounded log₁₀(1+1/d) constants —
    // summing to exactly 10⁶ — hardcoded identically in both engines,
    // so no runtime float enters the comparison). The first digit
    // comes from the decimal string of the cents integer: ×100 shifts
    // the decimal point, which never changes the leading significant
    // digit.
    "benford_audit" -> ((s, d) => {
      val expPpm = typedLit(Map(
        1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
        5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
        9 -> 45757L))
      orders(s, d)
        .select(substring(cents(col("o_totalprice")).cast("string"),
          1, 1).cast("int").as("digit"))
        .groupBy("digit")
        .agg(count(lit(1)).as("n"))
        .withColumn("n_total",
          sum(col("n")).over(Window.partitionBy()))
        .withColumn("obs_ppm", expr("1000000 * n DIV n_total"))
        .withColumn("exp_ppm", element_at(expPpm, col("digit")))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
        .select("digit", "n", "obs_ppm", "exp_ppm", "dev_ppm")
        .orderBy("digit")
    }),

    // SKYLINE (Pareto frontier): parts not dominated on (bigger size,
    // cheaper price). The dominance test runs on the BOUNDED size
    // domain — per-size min prices (≤50 rows), running mins over that
    // tiny domain, broadcast back by an equi-join — never a global
    // window over raw rows and never the quadratic all-pairs
    // dominance self-join. p is dominated iff some q has
    // (sz ≥ ∧ price <) or (sz > ∧ price ≤).
    "skyline_pareto" -> ((s, d) => {
      val p = part(s, d).select(
        col("p_partkey"),
        col("p_size").cast("long").as("sz"),
        cents(col("p_retailprice")).as("price"))
      val perSize = p.groupBy("sz").agg(min(col("price")).as("mp"))
      val wGe = Window.orderBy(col("sz").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wGt = Window.orderBy(col("sz").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val doms = perSize.select(
        col("sz"),
        min(col("mp")).over(wGe).as("min_ge"),
        min(col("mp")).over(wGt).as("min_gt"))
      p.join(doms, Seq("sz"))
        .filter(!(col("min_ge") < col("price") ||
          coalesce(col("min_gt"), lit(Long.MaxValue)) <= col("price")))
        .select(col("p_partkey"), col("sz"), col("price"))
        .orderBy("sz", "price", "p_partkey")
    }),

    // Time-series LINEAR INTERPOLATION: per-user daily totals, gaps
    // densified over each user's own span and filled with the exact
    // integer interpolation (v1*(d2-d)+v2*(d-d1))*1000 div (d2-d1) —
    // integer cents and day offsets, so both engines produce identical
    // longs. Windows partition by user; no global sort.
    "ts_interpolate" -> ((s, d) => {
      val obs = events(s, d)
        .groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(sum(cents(col("value"))).as("v"))
      val spine = obs.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val j = spine.join(obs, Seq("user_id", "day"), "left")
      val back = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val fwd = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
      val obsDay = when(col("v").isNotNull, col("day"))
      j.select(
        col("user_id"), col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(back).as("pv"),
        last(obsDay, ignoreNulls = true).over(back).as("pd"),
        first(col("v"), ignoreNulls = true).over(fwd).as("nv"),
        first(obsDay, ignoreNulls = true).over(fwd).as("nd"))
        .select(
          col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("v").isNotNull.as("observed"),
          when(col("v").isNotNull, col("v") * 1000L)
            .otherwise(expr(
              """(pv * datediff(nd, day) + nv * datediff(day, pd)) * 1000
                 DIV datediff(nd, pd)"""))
            .as("value_milli_cents"))
        .orderBy("user_id", "day")
    }),

    // CDC LOG COMPACTION — the Debezium/Hudi/Delta ingestion shape
    // `upsert_join` doesn't cover: an ORDERED change log per key with
    // DELETE tombstones, compacted to latest-op-wins state. The event
    // stream reads as the log (key = user_id, op = D for error events
    // else U, payload = cents), the winner per key is one max_by over
    // the (ts, event_id) order — a single hash aggregation carrying
    // O(1) state per key, never a per-key sort — and tombstoned keys
    // drop from live state but are REPORTED (a compactor that
    // silently loses deletes corrupts downstream sync). Output is the
    // bounded compaction summary, not row-scale state.
    "cdc_compact" -> ((s, d) => {
      val log = events(s, d).select(
        col("user_id").as("k"),
        when(col("event_type") === "error", "D").otherwise("U")
          .as("op"),
        Money.cents(col("value")).as("v"),
        col("ts"), col("event_id"))
      log
        .groupBy("k")
        .agg(
          max_by(
            struct(col("op"), col("v")),
            struct(col("ts"), col("event_id"))).as("last"),
          count(lit(1)).as("n_ops"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("last.op") === "U", 1L).otherwise(0L))
            .as("n_live"),
          sum(when(col("last.op") === "D", 1L).otherwise(0L))
            .as("n_tombstoned"),
          sum(when(col("last.op") === "U", col("last.v"))
            .otherwise(0L)).as("live_cents"),
          sum(col("n_ops")).as("n_log_rows"))
    }),

    // LATE-ARRIVING DIMENSION handling — the warehouse load pattern
    // where fact rows land before their dimension row exists: facts
    // keep loading against an UNKNOWN member (never dropped, never
    // blocked) and reconcile when the dimension backfills. Simulated
    // by hiding every 50th customer from the dimension; the LEFT join
    // + coalesce('UNKNOWN') is the unknown-member fallback, and the
    // per-segment report carries the orphan count a reconciliation
    // job watches. The join stays a key-equi shuffle (customer is
    // row-scale); only the fallback literal differs from a normal
    // dim join.
    "late_arriving_dim" -> ((s, d) => {
      val dim = customer(s, d)
        .filter(col("c_custkey") % 50 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      orders(s, d)
        .join(dim, col("o_custkey") === col("c_custkey"), "left")
        .withColumn("segment",
          coalesce(col("c_mktsegment"), lit("UNKNOWN")))
        .groupBy("segment")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(Money.cents(col("o_totalprice"))).as("cents"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("n_orphaned"))
        .orderBy("segment")
    }),

    // HITS hubs & authorities — the OTHER eigenvector centrality
    // (pagerank_fixed ranks by random-walk mass; HITS separates
    // "buys broadly" hubs from "bought broadly" authorities, the
    // natural reading on a bipartite purchase graph). Two mutual-
    // reinforcement rounds over the customer→supplier edges of the
    // shared pinned edge list: a(p) = Σ h(c), h(c) = Σ a(p), each
    // side MAX-normalized to 10⁶ with exact integer division (the
    // usual L2 norm is a float; max-normalization preserves the
    // ranking and keeps every intermediate a long — bounded by
    // 10⁶·n_customers ≈ 1.5e18 at sf10). Every step is a key-equi
    // join + hash agg; the norm is a one-row broadcast.
    "hits_scores" -> ((s, d) => {
      val cp = purchaseEdges(s, d)
        .filter(col("src") % 2 === 0)
        .select(col("src").as("c"), col("dst").as("p"))
      def maxNorm(df: DataFrame, v: String): DataFrame = {
        val m = df.agg(max(col(v)).as("mx"))
        val keep = df.columns.filter(_ != v).map(col).toSeq
        // Pinned (r19): each normalized frame is consumed by BOTH the
        // next round's join and (for the last round) the report union,
        // and the norm itself reads `df` twice (max + rescale) — an
        // unpinned chain re-evaluated the full prior-round subtree per
        // reference, doubling work at every maxNorm (2 rounds × 2
        // norms ≈ 16× the round-1 join work in the final plan). The
        // frames are O(nodes) of two longs.
        Checkpoints.pin(df.crossJoin(broadcast(m))
          .select(keep :+ expr(s"(1000000 * $v) DIV mx").as(v): _*))
      }
      val h0 = cp.select("c").distinct()
        .withColumn("h", lit(1000000L))
      val (h2, a2) = (1 to 2)
        .foldLeft((h0, h0.select(col("c").as("p"), col("h").as("a")))) {
          case ((h, aPrev), round) =>
            val a = maxNorm(
              cp.join(h, Seq("c"))
                .groupBy("p").agg(sum(col("h")).as("a")), "a")
            val hn = maxNorm(
              cp.join(a, Seq("p"))
                .groupBy("c").agg(sum(col("a")).as("h")), "h")
            // This round's frames are materialized: release the
            // previous round's pins (round 1's inputs are unpinned).
            if (round > 1) { Checkpoints.unpin(h); Checkpoints.unpin(aPrev) }
            (hn, a)
        }
      a2.orderBy(col("a").desc, col("p")).limit(10)
        .select(lit("authority").as("kind"), col("p").as("node"),
          col("a").as("score"))
        .unionByName(
          h2.orderBy(col("h").desc, col("c")).limit(10)
            .select(lit("hub").as("kind"), col("c").as("node"),
              col("h").as("score")))
        .orderBy(col("kind"), col("score").desc, col("node"))
    }),

    // Deterministic MODE aggregate — the categorical "most common
    // value per group" report. Spark 3.4's builtin mode() breaks
    // ties arbitrarily (expressly non-deterministic), so the modal
    // order month per priority class computes as count + rank with
    // the (n DESC, month ASC) tiebreak pinned — the only mode a
    // cross-engine hash gate can accept.
    "agg_mode" -> ((s, d) => {
      val counts = orders(s, d)
        .groupBy(
          col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("n").desc, col("month"))
      counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderpriority"), col("month").as("mode_month"),
          col("n"))
        .orderBy("o_orderpriority")
    }),

    // SPATIAL NEIGHBOR JOIN — the grid-bucketed radius search every
    // geo pipeline runs (store catchments, sensor clustering), with
    // the same no-all-pairs discipline as the near-dup families.
    // Points are deterministic integer coordinates derived from the
    // customer key (a 1000×1000 plane); side A posts its HOME cell,
    // side B posts its full 3×3 cell NEIGHBORHOOD, and the join is
    // key-equi on the cell. Cell size == radius (5), so any pair
    // within L2 radius differs by ≤1 cell per axis and is found in
    // EXACTLY one (home, neighbor) combination — complete with no
    // cross-band dedup step. The exact integer d² ≤ r² filter then
    // prunes the corner candidates. Neighborhood fan-out is the fixed
    // 9×, independent of data size; candidate volume is bounded by
    // cell occupancy, never n².
    "spatial_grid_join" -> ((s, d) =>
      gridPairs(
        customer(s, d).select(
          col("c_custkey").as("id"),
          ((col("c_custkey") * 2654435761L) % 1000L).as("x"),
          ((col("c_custkey") * 40503L) % 1000L).as("y")),
        5L)
        .orderBy("a", "b"))
  )

  val oracleSql: Map[String, String] = Map(
    "skew_report" -> {
      def one(keyCol: String) =
        s"""SELECT '$keyCol' AS key_col, t.n_keys, t.n_rows,
           |       h.heaviest_key, h.heaviest_n,
           |       (1000000 * h.heaviest_n) // t.n_rows
           |         AS top1_share_ppm,
           |       (1000 * h.heaviest_n * t.n_keys) // t.n_rows
           |         AS max_over_mean_x1000
           |FROM (SELECT count(*) AS n_keys,
           |             CAST(sum(n) AS BIGINT) AS n_rows
           |      FROM (SELECT $keyCol AS k, count(*) AS n
           |            FROM lineitem GROUP BY 1) c1) t,
           |     (SELECT k AS heaviest_key, CAST(n AS BIGINT)
           |               AS heaviest_n
           |      FROM (SELECT $keyCol AS k, count(*) AS n
           |            FROM lineitem GROUP BY 1) c2
           |      ORDER BY n DESC, k DESC LIMIT 1) h""".stripMargin
      s"""${one("l_suppkey")}
         |UNION ALL
         |${one("l_partkey")}
         |UNION ALL
         |${one("l_orderkey")}
         |ORDER BY key_col""".stripMargin
    },
    "zorder_layout" ->
      s"""WITH z AS (
         |  SELECT c_custkey,
         |         CAST(c_nationkey AS INTEGER) AS zx,
         |         CAST((CAST(round(c_acctbal*100) AS BIGINT) + 100000)
         |              // 5000 AS INTEGER) AS zy
         |  FROM customer
         |)
         |SELECT c_custkey, zx, zy,
         |       CAST(${morton8Sql("zx", "zy")} AS BIGINT) AS zval
         |FROM z ORDER BY zval, c_custkey""".stripMargin,
    "hilbert_layout" ->
      s"""WITH z AS (
         |  SELECT c_custkey,
         |         CAST(c_nationkey AS INTEGER) AS zx,
         |         CAST((CAST(round(c_acctbal*100) AS BIGINT) + 100000)
         |              // 5000 AS INTEGER) AS zy
         |  FROM customer
         |),
         |h0 AS (
         |  SELECT c_custkey, zx, zy, zx AS x, zy AS y,
         |         CAST(0 AS BIGINT) AS d
         |  FROM z),
         |${hilbert8Ctes("h0", "c_custkey, zx, zy")}
         |SELECT c_custkey, zx, zy, d AS hval
         |FROM h1 ORDER BY hval, c_custkey""".stripMargin,
    "curve_locality" ->
      s"""WITH z AS (
         |  SELECT c_custkey,
         |         CAST(c_nationkey AS INTEGER) AS zx,
         |         CAST((CAST(round(c_acctbal*100) AS BIGINT) + 100000)
         |              // 5000 AS INTEGER) AS zy
         |  FROM customer
         |),
         |h0 AS (
         |  SELECT c_custkey, zx, zy, zx AS x, zy AS y,
         |         CAST(0 AS BIGINT) AS d
         |  FROM z),
         |${hilbert8Ctes("h0", "c_custkey, zx, zy")},
         |bz AS (
         |  SELECT z.c_custkey, z.zx, z.zy,
         |         CAST(${morton8Sql("z.zx", "z.zy")} AS BIGINT) AS zval,
         |         h1.d AS hval
         |  FROM z JOIN h1 ON z.c_custkey = h1.c_custkey),
         |hd AS (
         |  SELECT 'hilbert' AS curve,
         |         abs(zx - lag(zx) OVER w) + abs(zy - lag(zy) OVER w)
         |           AS md
         |  FROM bz WINDOW w AS (ORDER BY hval, c_custkey)),
         |md_ AS (
         |  SELECT 'morton' AS curve,
         |         abs(zx - lag(zx) OVER w) + abs(zy - lag(zy) OVER w)
         |           AS md
         |  FROM bz WINDOW w AS (ORDER BY zval, c_custkey)),
         |u AS (
         |  SELECT * FROM hd WHERE md IS NOT NULL
         |  UNION ALL SELECT * FROM md_ WHERE md IS NOT NULL)
         |SELECT curve, count(*) AS n_pairs,
         |       CAST(sum(md) AS BIGINT) AS total_manhattan,
         |       CAST((1000 * CAST(sum(md) AS BIGINT)) // count(*)
         |         AS BIGINT) AS mean_x1000
         |FROM u GROUP BY curve ORDER BY curve""".stripMargin,
    "dq_audit" ->
      """SELECT * FROM (
        |  SELECT 'orphan_lineitem_rows' AS "check",
        |         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |           (SELECT 1 FROM orders o
        |            WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
        |  UNION ALL
        |  SELECT 'duplicate_orderkeys',
        |         -- CAST: sum(BIGINT) is HUGEINT in DuckDB and would
        |         -- degrade the whole unioned column to float64
        |         (SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT) FROM
        |           (SELECT count(*) AS c FROM orders
        |            GROUP BY o_orderkey HAVING count(*) > 1) t)
        |  UNION ALL
        |  SELECT 'negative_acctbal_customers',
        |         (SELECT count(*) FROM customer WHERE c_acctbal < 0)
        |  UNION ALL
        |  SELECT 'blank_customer_names',
        |         (SELECT count(*) FROM customer
        |          WHERE c_name IS NULL OR c_name = '')
        |  UNION ALL
        |  SELECT 'event_value_out_of_range',
        |         (SELECT count(*) FROM events
        |          WHERE value <= 0 OR value > 1000)
        |  UNION ALL
        |  SELECT 'blank_event_props',
        |         (SELECT count(*) FROM events
        |          WHERE props IS NULL OR props = '')
        |) ORDER BY "check"""".stripMargin,
    "observe_metrics" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |         AS BIGINT) AS sum_cents,
        |       count(CASE WHEN o_totalprice > 200000.0 THEN 1 END)
        |         AS n_big,
        |       min(o_orderkey) AS min_key,
        |       max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderstatus <> 'P'""".stripMargin,
    "stream_observe_metrics" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       count(CASE WHEN value > 100.0 THEN 1 END) AS n_big,
        |       count(CASE WHEN props IS NULL OR props = '' THEN 1 END)
        |         AS n_blank_props
        |FROM events""".stripMargin,
    "state_store_changefeed" ->
      """WITH m AS (SELECT max(event_id) + 1 AS mx FROM events),
        |sliced AS (
        |  SELECT event_type,
        |         CASE WHEN event_id < (SELECT mx FROM m) // 3 THEN 0
        |              WHEN event_id < (2 * (SELECT mx FROM m)) // 3
        |                THEN 1
        |              ELSE 2 END AS slice,
        |         CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type,
        |       count(DISTINCT slice) AS n_updates,
        |       count(*) AS n_events,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM sliced GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "state_store_read" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "incremental_agg_state" ->
      """SELECT user_id,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "setop_except_all" ->
      """WITH diff AS (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |)
        |SELECT o_custkey, count(*) AS surplus FROM diff
        |GROUP BY o_custkey
        |ORDER BY surplus DESC, o_custkey LIMIT 25""".stripMargin,
    "setop_intersect_all" ->
      """WITH common AS (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |)
        |SELECT o_custkey, count(*) AS n_common FROM common
        |GROUP BY o_custkey
        |ORDER BY n_common DESC, o_custkey LIMIT 25""".stripMargin,
    "pagerank_fixed" -> {
      val iters = (1 to 5).map { k =>
        s"""r$k AS (
           |  SELECT e.dst AS node,
           |         CAST((SELECT b FROM base)
           |           + sum(r.r * 85 // (100 * dg.deg)) AS BIGINT) AS r
           |  FROM edges e
           |  JOIN r${k - 1} r ON e.src = r.node
           |  JOIN degs dg ON dg.src = e.src
           |  GROUP BY e.dst
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesSqlCte, degs AS (
         |  SELECT src, count(*) AS deg FROM edges GROUP BY src
         |), params AS (
         |  SELECT count(DISTINCT src) AS n FROM edges
         |), base AS (
         |  SELECT CAST(150000000000 // n AS BIGINT) AS b FROM params
         |), r0 AS (
         |  SELECT DISTINCT src AS node,
         |         CAST(1000000000000 // (SELECT n FROM params) AS BIGINT)
         |           AS r
         |  FROM edges
         |),
         |$iters
         |SELECT node, r AS mass FROM r5
         |ORDER BY mass DESC, node LIMIT 20""".stripMargin
    },
    "bfs_hops" -> {
      val rounds = (1 to 3).map { k =>
        s"""f$k AS (
           |  SELECT e.dst AS node, $k AS hop
           |  FROM edges e JOIN d${k - 1} d ON e.src = d.node
           |  WHERE d.hop = ${k - 1}
           |), d$k AS (
           |  SELECT node, min(hop) AS hop FROM (
           |    SELECT * FROM d${k - 1} UNION ALL SELECT * FROM f$k) u
           |  GROUP BY node
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesSqlCte,
         |d0 AS (SELECT CAST(3 AS BIGINT) AS node, 0 AS hop),
         |$rounds
         |SELECT node, hop FROM d3 ORDER BY node""".stripMargin
    },
    "triangle_count" ->
      """WITH cs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sp
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), te AS (
        |  SELECT a.sp AS u, b.sp AS v
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.sp < b.sp
        |  GROUP BY a.sp, b.sp HAVING count(*) >= 180
        |), tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c3
        |  FROM te e1 JOIN te e2 ON e1.v = e2.u
        |       JOIN te e3 ON e3.u = e1.u AND e3.v = e2.v
        |)
        |SELECT node, count(*) AS n_triangles FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c3 FROM tri) x
        |GROUP BY node ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin,
    "clustering_coeff" ->
      """WITH cs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sp
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), te AS (
        |  SELECT a.sp AS u, b.sp AS v
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.sp < b.sp
        |  GROUP BY a.sp, b.sp HAVING count(*) >= 180
        |), deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM te UNION ALL SELECT v FROM te) x
        |  GROUP BY n
        |), tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c3
        |  FROM te e1 JOIN te e2 ON e1.v = e2.u
        |       JOIN te e3 ON e3.u = e1.u AND e3.v = e2.v
        |), tn AS (
        |  SELECT node, count(*) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c3 FROM tri) x
        |  GROUP BY node
        |)
        |SELECT d.n AS node, d.deg,
        |       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
        |       CAST(1000000 * 2 * coalesce(t.n_tri, 0)
        |         // (d.deg * (d.deg - 1)) AS BIGINT) AS coeff_ppm
        |FROM deg d LEFT JOIN tn t ON t.node = d.n
        |WHERE d.deg >= 2 ORDER BY node""".stripMargin,
    "degree_assortativity" ->
      """WITH cs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sp
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), te AS (
        |  SELECT a.sp AS u, b.sp AS v
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.sp < b.sp
        |  GROUP BY a.sp, b.sp HAVING count(*) >= 180
        |), deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM te UNION ALL SELECT v FROM te) x
        |  GROUP BY n
        |), ed AS (
        |  SELECT u, v FROM te UNION ALL SELECT v, u FROM te
        |), j AS (
        |  SELECT du.deg AS x, dv.deg AS y
        |  FROM ed JOIN deg du ON du.n = ed.u
        |          JOIN deg dv ON dv.n = ed.v
        |)
        |SELECT count(*) AS n,
        |       CAST(sum(x) AS BIGINT) AS sx,
        |       CAST(sum(x*y) AS BIGINT) AS sxy,
        |       CAST(sum(x*x) AS BIGINT) AS sxx,
        |       CAST(count(*) * sum(x*y) - sum(x) * sum(x) AS BIGINT)
        |         AS num,
        |       CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS BIGINT)
        |         AS den
        |FROM j""".stripMargin,
    "ratio_to_report" ->
      """WITH g AS (
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |              AS BIGINT) AS revenue_cents
        |  FROM orders GROUP BY o_orderpriority
        |), t AS (
        |  SELECT CAST(sum(revenue_cents) AS BIGINT) AS total_cents
        |  FROM g
        |)
        |SELECT o_orderpriority, n_orders, revenue_cents,
        |       CAST((revenue_cents // total_cents) * 1000000
        |         + ((revenue_cents % total_cents) * 1000
        |            // total_cents) * 1000
        |         + (((revenue_cents % total_cents) * 1000 % total_cents)
        |            * 1000 // total_cents) AS BIGINT) AS share_ppm
        |FROM g, t ORDER BY o_orderpriority""".stripMargin,
    "event_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT event_type, quantile_cont(n, 0.5) AS med
        |  FROM daily GROUP BY 1
        |), dev AS (
        |  SELECT d.event_type, d.day, d.n, m.med,
        |         abs(d.n - m.med) AS dev
        |  FROM daily d JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1
        |), f AS (
        |  SELECT d.event_type, d.day, d.med,
        |         CAST(d.dev * 4 AS BIGINT) AS dev_x4,
        |         CAST(m.mad * 4 AS BIGINT) AS mad_x4
        |  FROM dev d JOIN mad m USING (event_type)
        |)
        |SELECT event_type, count(*) AS n_days,
        |       CAST(max(med) * 4 AS BIGINT) AS median_x4,
        |       max(mad_x4) AS mad_x4,
        |       CAST(sum(CASE WHEN dev_x4 > 3 * mad_x4
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
        |       COALESCE(substr(max(CASE WHEN dev_x4 > 3 * mad_x4
        |         THEN lpad(CAST(dev_x4 AS VARCHAR), 12, '0') || day
        |         END), 13, 10), 'none') AS worst_day
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    "mad_robust" ->
      """WITH c AS (
        |  SELECT CAST(round(c_acctbal*100) AS BIGINT) AS v
        |  FROM customer
        |), m AS (SELECT quantile_cont(v, 0.5) AS m FROM c)
        |SELECT CAST(m.m * 4 AS BIGINT) AS median_x4,
        |       CAST(quantile_cont(abs(c.v - m.m), 0.5) * 4 AS BIGINT)
        |         AS mad_x4
        |FROM c, m GROUP BY m.m""".stripMargin,
    "snapshot_diff" -> {
      val norm =
        "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
      val hb =
        s"CAST('0x' || substr(md5($norm), 1, 15) AS BIGINT) % 10"
      val fp = "CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)"
      s"""WITH v1 AS (
         |  SELECT doc_id, source, text, $hb AS hb FROM documents),
         |v2 AS (
         |  SELECT doc_id, source,
         |         CASE WHEN hb IN (1, 2) THEN text || ' v2'
         |              ELSE text END AS text
         |  FROM v1 WHERE hb <> 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, source, 'new ' || text
         |  FROM v1 WHERE hb = 3),
         |f1 AS (SELECT doc_id, source AS src1, $fp AS fp1 FROM v1),
         |f2 AS (SELECT doc_id, source AS src2, $fp AS fp2 FROM v2)
         |SELECT coalesce(src1, src2) AS source,
         |       CASE WHEN fp1 IS NULL THEN 'added'
         |            WHEN fp2 IS NULL THEN 'removed'
         |            WHEN fp1 = fp2 THEN 'unchanged'
         |            ELSE 'changed' END AS status,
         |       count(*) AS n_docs
         |FROM f1 FULL JOIN f2 USING (doc_id)
         |GROUP BY source, status ORDER BY source, status""".stripMargin
    },
    "winsorized_stats" ->
      """WITH v AS (
        |  SELECT event_type, event_id,
        |         CAST(round(value*100) AS BIGINT) AS v
        |  FROM events),
        |n_ AS (SELECT event_type, count(*) AS n FROM v
        |       GROUP BY event_type),
        |ranked AS (
        |  SELECT event_type, v,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY v ASC) AS rn
        |  FROM v),
        |bounds AS (
        |  SELECT r.event_type, min(r.v) AS p05, max(r.v) AS p95
        |  FROM ranked r JOIN n_ ON n_.event_type = r.event_type
        |  WHERE r.rn = (n_.n + 19) // 20
        |     OR r.rn = (19 * n_.n + 19) // 20
        |  GROUP BY r.event_type)
        |SELECT v.event_type, count(*) AS n,
        |       min(b.p05) AS p05_cents, min(b.p95) AS p95_cents,
        |       CAST(sum(v.v) AS BIGINT) AS sum_raw_cents,
        |       CAST(sum(least(greatest(v.v, b.p05), b.p95)) AS BIGINT)
        |         AS sum_winsorized_cents,
        |       CAST(sum(CASE WHEN v.v < b.p05 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_clamped_low,
        |       CAST(sum(CASE WHEN v.v > b.p95 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_clamped_high
        |FROM v JOIN bounds b ON b.event_type = v.event_type
        |GROUP BY v.event_type ORDER BY v.event_type""".stripMargin,
    "cooccurrence_topk" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |)
        |SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |       count(*) AS n_orders
        |FROM b x JOIN b y
        |  ON x.l_orderkey = y.l_orderkey
        | AND x.l_partkey < y.l_partkey
        |GROUP BY part_a, part_b
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 30""".stripMargin,
    "basket_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS (
        |  SELECT x.l_partkey AS pa, y.l_partkey AS pb,
        |         count(*) AS n_ab
        |  FROM b x JOIN b y
        |    ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), rules AS (
        |  SELECT pa AS ante, pb AS cons, n_ab FROM pairs
        |  UNION ALL SELECT pb, pa, n_ab FROM pairs
        |), item_n AS (
        |  SELECT l_partkey AS item, count(*) AS n_item FROM b
        |  GROUP BY 1
        |), tot AS (
        |  SELECT count(DISTINCT l_orderkey) AS n_baskets FROM b
        |)
        |SELECT r.ante, r.cons, r.n_ab,
        |       a.n_item AS n_a, c.n_item AS n_b,
        |       CAST(1000000 * r.n_ab // t.n_baskets AS BIGINT)
        |         AS support_ppm,
        |       CAST(1000000 * r.n_ab // a.n_item AS BIGINT)
        |         AS confidence_ppm,
        |       CAST(1000000 * r.n_ab * t.n_baskets
        |         // (a.n_item * c.n_item) AS BIGINT) AS lift_ppm
        |FROM rules r
        |JOIN item_n a ON a.item = r.ante
        |JOIN item_n c ON c.item = r.cons
        |CROSS JOIN tot t
        |ORDER BY lift_ppm DESC, n_ab DESC, ante, cons
        |LIMIT 30""".stripMargin,
    "item_cf_topk" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS (
        |  SELECT x.l_partkey AS pa, y.l_partkey AS pb,
        |         count(*) AS n_ab
        |  FROM b x JOIN b y
        |    ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2
        |), sym AS (
        |  SELECT pa AS item, pb AS nbr, n_ab FROM pairs
        |  UNION ALL SELECT pb, pa, n_ab FROM pairs
        |), item_n AS (
        |  SELECT l_partkey AS item, count(*) AS n_item FROM b
        |  GROUP BY 1
        |), anchors AS (
        |  SELECT item FROM sym GROUP BY item
        |  ORDER BY sum(n_ab) DESC, item LIMIT 20
        |), scored AS (
        |  SELECT s.item, s.nbr, s.n_ab,
        |         CAST(1000000 * s.n_ab * s.n_ab
        |           // (a.n_item * c.n_item) AS BIGINT) AS cos2_ppm
        |  FROM sym s
        |  JOIN item_n a ON a.item = s.item
        |  JOIN item_n c ON c.item = s.nbr
        |  WHERE s.item IN (SELECT item FROM anchors)
        |), ranked AS (
        |  SELECT item, nbr, n_ab, cos2_ppm,
        |         row_number() OVER (PARTITION BY item
        |           ORDER BY cos2_ppm DESC, n_ab DESC, nbr ASC)
        |           AS rnk
        |  FROM scored
        |)
        |SELECT item, CAST(rnk AS INT) AS rnk, nbr, n_ab, cos2_ppm
        |FROM ranked WHERE rnk <= 5 ORDER BY item, rnk""".stripMargin,
    "sssp_weighted" -> {
      val rounds = (1 to 3).map { k =>
        s"""f$k AS (
           |  SELECT e.dst AS node, d.dist + e.wgt AS dist
           |  FROM wedges e JOIN d${k - 1} d ON e.src = d.node
           |), d$k AS (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT * FROM d${k - 1} UNION ALL SELECT * FROM f$k) u
           |  GROUP BY node
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH wp AS (
         |  SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS p,
         |         min(CAST(round(l.l_extendedprice * 100) AS BIGINT))
         |           AS wgt
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2
         |), wedges AS (
         |  SELECT c AS src, p AS dst, wgt FROM wp
         |  UNION ALL SELECT p, c, wgt FROM wp
         |),
         |d0 AS (SELECT CAST(3 AS BIGINT) AS node,
         |              CAST(0 AS BIGINT) AS dist),
         |$rounds
         |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
    },
    "kcore" -> {
      val rounds = (1 to 3).map { r =>
        s"""a$r AS (
           |  SELECT src AS node FROM e${r - 1}
           |  GROUP BY src HAVING count(*) >= 5
           |), e$r AS (
           |  SELECT e.src, e.dst FROM e${r - 1} e
           |  WHERE e.src IN (SELECT node FROM a$r)
           |    AND e.dst IN (SELECT node FROM a$r)
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesSqlCte,
         |e0 AS (SELECT src, dst FROM edges),
         |$rounds
         |SELECT src AS node, count(*) AS core_deg
         |FROM e3 GROUP BY src ORDER BY node""".stripMargin
    },
    "benford_audit" ->
      """WITH digits AS (
        |  SELECT CAST(substr(CAST(
        |           CAST(round(o_totalprice * 100) AS BIGINT)
        |           AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders
        |), cnt AS (
        |  SELECT digit, count(*) AS n FROM digits GROUP BY 1
        |), tot AS (SELECT sum(n) AS n_total FROM cnt)
        |SELECT c.digit, c.n,
        |       CAST(1000000 * c.n // t.n_total AS BIGINT) AS obs_ppm,
        |       CAST(CASE c.digit
        |         WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |         WHEN 3 THEN 124939 WHEN 4 THEN 96910
        |         WHEN 5 THEN 79181 WHEN 6 THEN 66947
        |         WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |         ELSE 45757 END AS BIGINT) AS exp_ppm,
        |       CAST(abs(CAST(1000000 * c.n // t.n_total AS BIGINT) -
        |         CASE c.digit
        |           WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |           WHEN 3 THEN 124939 WHEN 4 THEN 96910
        |           WHEN 5 THEN 79181 WHEN 6 THEN 66947
        |           WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |           ELSE 45757 END) AS BIGINT) AS dev_ppm
        |FROM cnt c CROSS JOIN tot t ORDER BY c.digit""".stripMargin,
    "skyline_pareto" ->
      """WITH p AS (
        |  SELECT p_partkey, CAST(p_size AS BIGINT) AS sz,
        |         CAST(round(p_retailprice*100) AS BIGINT) AS price
        |  FROM part
        |), ps AS (
        |  SELECT sz, min(price) AS mp FROM p GROUP BY sz
        |), doms AS (
        |  SELECT sz,
        |    min(mp) OVER (ORDER BY sz DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS min_ge,
        |    min(mp) OVER (ORDER BY sz DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS min_gt
        |  FROM ps
        |)
        |SELECT p.p_partkey, p.sz, p.price
        |FROM p JOIN doms d ON p.sz = d.sz
        |WHERE NOT (d.min_ge < p.price
        |  OR COALESCE(d.min_gt, 9223372036854775807) <= p.price)
        |ORDER BY p.sz, p.price, p.p_partkey""".stripMargin,
    "ts_interpolate" ->
      """WITH obs AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |           AS v
        |  FROM events GROUP BY user_id, 2
        |), spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(min(day),
        |           max(day), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM obs GROUP BY user_id
        |), j AS (
        |  SELECT s.user_id, s.day, o.v,
        |    last_value(o.v IGNORE NULLS) OVER
        |      (PARTITION BY s.user_id ORDER BY s.day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN o.v IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER
        |      (PARTITION BY s.user_id ORDER BY s.day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(o.v IGNORE NULLS) OVER
        |      (PARTITION BY s.user_id ORDER BY s.day
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN o.v IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER
        |      (PARTITION BY s.user_id ORDER BY s.day
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM spine s LEFT JOIN obs o
        |    ON s.user_id = o.user_id AND s.day = o.day
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       v IS NOT NULL AS observed,
        |       CAST(CASE WHEN v IS NOT NULL THEN v * 1000
        |            ELSE (pv * datediff('day', day, nd)
        |                  + nv * datediff('day', pd, day)) * 1000
        |                 // datediff('day', pd, nd) END AS BIGINT)
        |         AS value_milli_cents
        |FROM j ORDER BY user_id, day""".stripMargin,
    "cdc_compact" ->
      """WITH log AS (
        |  SELECT user_id AS k,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END
        |           AS op,
        |         CAST(round(value*100) AS BIGINT) AS v,
        |         ts, event_id
        |  FROM events
        |), win AS (
        |  SELECT k, op, v,
        |         row_number() OVER (PARTITION BY k
        |           ORDER BY ts DESC, event_id DESC) AS rn,
        |         count(*) OVER (PARTITION BY k) AS n_ops
        |  FROM log
        |), last AS (SELECT * FROM win WHERE rn = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_live,
        |       CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_tombstoned,
        |       CAST(sum(CASE WHEN op = 'U' THEN v ELSE 0 END)
        |         AS BIGINT) AS live_cents,
        |       CAST(sum(n_ops) AS BIGINT) AS n_log_rows
        |FROM last""".stripMargin,
    "late_arriving_dim" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_custkey % 50 <> 0
        |)
        |SELECT coalesce(d.c_mktsegment, 'UNKNOWN') AS segment,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |         AS BIGINT) AS cents,
        |       CAST(sum(CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0
        |         END) AS BIGINT) AS n_orphaned
        |FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    "hits_scores" ->
      s"""WITH $edgesSqlCte,
         |cp AS (SELECT c, p FROM pairs_),
         |h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h
         |       FROM cp),
         |a1r AS (SELECT p, CAST(sum(h) AS BIGINT) AS a
         |        FROM cp JOIN h0 USING (c) GROUP BY p),
         |a1 AS (SELECT p, CAST(1000000 * a
         |         // (SELECT max(a) FROM a1r) AS BIGINT) AS a
         |       FROM a1r),
         |h1r AS (SELECT c, CAST(sum(a) AS BIGINT) AS h
         |        FROM cp JOIN a1 USING (p) GROUP BY c),
         |h1 AS (SELECT c, CAST(1000000 * h
         |         // (SELECT max(h) FROM h1r) AS BIGINT) AS h
         |       FROM h1r),
         |a2r AS (SELECT p, CAST(sum(h) AS BIGINT) AS a
         |        FROM cp JOIN h1 USING (c) GROUP BY p),
         |a2 AS (SELECT p, CAST(1000000 * a
         |         // (SELECT max(a) FROM a2r) AS BIGINT) AS a
         |       FROM a2r),
         |h2r AS (SELECT c, CAST(sum(a) AS BIGINT) AS h
         |        FROM cp JOIN a2 USING (p) GROUP BY c),
         |h2 AS (SELECT c, CAST(1000000 * h
         |         // (SELECT max(h) FROM h2r) AS BIGINT) AS h
         |       FROM h2r)
         |SELECT * FROM (
         |  (SELECT 'authority' AS kind, p AS node, a AS score
         |   FROM a2 ORDER BY a DESC, p LIMIT 10)
         |  UNION ALL
         |  (SELECT 'hub' AS kind, c AS node, h AS score
         |   FROM h2 ORDER BY h DESC, c LIMIT 10)
         |) u ORDER BY kind, score DESC, node""".stripMargin,
    "agg_mode" ->
      """WITH counts AS (
        |  SELECT o_orderpriority,
        |         strftime(o_orderdate, '%Y-%m') AS month,
        |         count(*) AS n
        |  FROM orders GROUP BY 1, 2
        |), r AS (
        |  SELECT o_orderpriority, month, n,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY n DESC, month) AS rn
        |  FROM counts
        |)
        |SELECT o_orderpriority, month AS mode_month,
        |       CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin,
    "spatial_grid_join" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |         (c_custkey * 2654435761) % 1000 AS x,
        |         (c_custkey * 40503) % 1000 AS y
        |  FROM customer
        |)
        |SELECT a.id AS a, b.id AS b,
        |       CAST((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)
        |         AS BIGINT) AS d2
        |FROM pts a JOIN pts b
        |  ON a.id < b.id
        | AND (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) <= 25
        |ORDER BY a, b""".stripMargin
  )
}
