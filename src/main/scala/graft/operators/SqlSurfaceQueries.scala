package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._

/** SQL-language surface beyond what the DataFrame-API modules cover:
  * correlated subqueries (EXISTS / IN / scalar), LATERAL joins,
  * recursive CTEs, analytic rank distributions, and exact-arithmetic
  * statistics (correlation / stddev from integer sufficient
  * statistics). Everything runs through `spark.sql` over temp views so
  * the engine's SQL front end — not just the DataFrame DSL — is what
  * the oracle pins.
  *
  * Determinism conventions (see the module scaladocs elsewhere): money
  * as integer cents/dollars, every float produced by IEEE ops over
  * EXACTLY-representable integer inputs (sums kept < 2^53), explicit
  * total ORDER BY everywhere.
  */
object SqlSurfaceQueries {

  private def views(s: SparkSession, d: String): Unit = {
    customer(s, d).createOrReplaceTempView("customer_sq")
    orders(s, d).createOrReplaceTempView("orders_sq")
    lineitem(s, d).createOrReplaceTempView("lineitem_sq")
    nation(s, d).createOrReplaceTempView("nation_sq")
    events(s, d).createOrReplaceTempView("events_sq")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SQL SCRIPTING (Spark 4 BEGIN…END procedural blocks): a WHILE
    // loop doubles an integer cents cutoff until at most 400
    // customers exceed it, then reports the landing cutoff and its
    // survivors — the control-flow surface (DECLARE/SET/WHILE) that
    // replaces driver-side glue for threshold searches. Entirely
    // integer, so the loop's landing point is engine-independent; the
    // oracle (no scripting in DuckDB) unrolls the search as a
    // generate_series over the same power-of-two ladder and picks the
    // first qualifying rung — loop ≡ ladder by construction.
    "sql_scripting" -> ((s, d) => {
      views(s, d)
      graft.Confs.scoped(s, "spark.sql.scripting.enabled" -> "true") {
        s.sql(
          """BEGIN
            |  DECLARE cutoff BIGINT DEFAULT 100000;
            |  WHILE (SELECT count(*) FROM customer_sq
            |         WHERE CAST(round(c_acctbal*100) AS BIGINT)
            |               > cutoff) > 400 DO
            |    SET cutoff = cutoff * 2;
            |  END WHILE;
            |  SELECT cutoff,
            |         count(*) AS n_above,
            |         CAST(sum(CAST(round(c_acctbal*100) AS BIGINT))
            |           AS BIGINT) AS cents_above
            |  FROM customer_sq
            |  WHERE CAST(round(c_acctbal*100) AS BIGINT) > cutoff;
            |END""".stripMargin)
      }
    }),

    // Correlated EXISTS — planned as a semi join (the decorrelation
    // rule), so it scales exactly like the API-level join_semi.
    "subquery_exists" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT c_custkey, c_name FROM customer_sq c
          |WHERE c_custkey <= 300 AND EXISTS (
          |  SELECT 1 FROM orders_sq o
          |  WHERE o.o_custkey = c.c_custkey
          |    AND o.o_orderpriority = '1-URGENT')
          |ORDER BY c_custkey""".stripMargin)
    }),

    // IN subquery over a distinct key set (decorrelates to semi join).
    "subquery_in" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT n_name FROM nation_sq
          |WHERE n_nationkey IN (SELECT c_nationkey FROM customer_sq)
          |ORDER BY n_name""".stripMargin)
    }),

    // Scalar subquery: segment summary of customers above the global
    // mean balance. The mean is ONE division of exact integers (cents
    // sum < 2^53), so the threshold compare is bit-deterministic.
    "subquery_scalar" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT c_mktsegment,
          |       count(*) AS n_above,
          |       sum(CAST(round(c_acctbal*100) AS BIGINT)) AS acctbal_cents
          |FROM customer_sq
          |WHERE CAST(round(c_acctbal*100) AS BIGINT) > (
          |  SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)
          |         / count(*)
          |  FROM customer_sq)
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
    }),

    // LATERAL correlated subquery: top-2 orders per customer — the
    // SQL spelling of the per-key top-K the custom GroupedTopK
    // operator implements natively.
    "join_lateral" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey,
          |       CAST(round(t.o_totalprice*100) AS BIGINT)
          |         AS totalprice_cents
          |FROM customer_sq c,
          |LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders_sq o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c.c_custkey <= 20
          |ORDER BY c.c_custkey, totalprice_cents DESC, t.o_orderkey
          |""".stripMargin)
    }),

    // Recursive CTE: a date ladder generated by the recursion itself
    // (not `sequence()`), densifying January-1995 order counts — the
    // recursive twin of date_series_fill.
    "recursive_cte" -> ((s, d) => {
      views(s, d)
      s.sql(
        """WITH RECURSIVE days(day) AS (
          |  SELECT DATE '1995-01-01'
          |  UNION ALL
          |  SELECT date_add(day, 1) FROM days
          |  WHERE day < DATE '1995-01-31'
          |)
          |SELECT date_format(day, 'yyyy-MM-dd') AS day,
          |       count(o_orderkey) AS n_orders
          |FROM days LEFT JOIN orders_sq
          |  ON to_date(o_orderdate) = day
          |GROUP BY day
          |ORDER BY day""".stripMargin)
    }),

    // Rank-distribution analytics: percent_rank and cume_dist are
    // ratios of integers fixed by the (cents, custkey) total order —
    // one IEEE division each, bit-deterministic.
    "window_pct" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT c_mktsegment, c_custkey,
          |       percent_rank() OVER w AS pct_rank,
          |       cume_dist() OVER w AS cum_dist
          |FROM customer_sq
          |WHERE c_custkey <= 100
          |WINDOW w AS (PARTITION BY c_mktsegment
          |  ORDER BY CAST(round(c_acctbal*100) AS BIGINT), c_custkey)
          |ORDER BY c_mktsegment, c_custkey""".stripMargin)
    }),

    // VARIANT — schema-flexible semi-structured extraction (the
    // lakehouse twin of the static-schema from_json in json_extract):
    // parse once into the binary variant encoding, extract typed
    // fields by path with no declared schema.
    "variant_extract" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT event_type,
          |       count(*) AS n_events,
          |       sum(CAST(variant_get(parse_json(props), '$.k', 'int')
          |         AS BIGINT)) AS sum_k,
          |       min(variant_get(parse_json(props), '$.k', 'int'))
          |         AS min_k,
          |       max(variant_get(parse_json(props), '$.k', 'int'))
          |         AS max_k
          |FROM events_sq GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    }),

    // VARIANT SHREDDING round-trip (Spark 4.1 writeShredding +
    // inferShreddingSchema): the variant column is PHYSICALLY written
    // as a typed parquet subcolumn (typed_value) instead of opaque
    // binary — the layout that lets a 100 TB scan read just '$.k' as
    // a plain int column with row-group statistics instead of
    // decoding every variant blob (pushVariantIntoScan then rewrites
    // the scan schema to the requested struct fields). The gate
    // writes shredded, reads back, and re-aggregates the extracted
    // field; the oracle recomputes from the raw JSON — hash equality
    // proves shred→read is lossless. VariantShreddedSpec proves the
    // physical claim (typed_value present in the footer schema iff
    // shredding was on).
    "variant_shredded_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dir = graft.Fs.scratch(s, "variant_shred")
      // Both write-side confs default ON in Spark 4.1; pinned here so
      // a deployment-level override can't silently degrade the gate
      // to unshredded binary. They are write-side only: the returned
      // frame executes AFTER the scope restores them, and reading
      // shredded files is governed by
      // spark.sql.variant.allowReadingShredded, also default-on (the
      // spec exercises the read eagerly, so a default flip would fail
      // loudly there, never silently here).
      graft.Confs.scoped(s,
          "spark.sql.variant.writeShredding.enabled" -> "true",
          "spark.sql.variant.inferShreddingSchema" -> "true") {
        events(s, d)
          .select(col("event_id"), col("event_type"),
            expr("parse_json(props)").as("v"))
          .write.mode("overwrite").parquet(dir)
        s.read.parquet(dir)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum(expr("CAST(variant_get(v, '$.k', 'int') AS BIGINT)"))
              .as("sum_k"),
            min(expr("variant_get(v, '$.k', 'int')")).as("min_k"),
            max(expr("variant_get(v, '$.k', 'int')")).as("max_k"))
          .orderBy("event_type")
      }
    }),

    // XML round-trip: rows serialized to XML and parsed back with
    // from_xml (native in Spark 4); the oracle computes the same
    // output straight from the source columns, so the parse must be
    // lossless. Fixture names need no XML escaping (letters/spaces).
    "xml_roundtrip" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT n_nationkey,
          |       parsed.name AS xml_name,
          |       CAST(parsed.key AS INT) AS xml_key
          |FROM (
          |  SELECT n_nationkey,
          |         from_xml(
          |           concat('<r><name>', n_name, '</name><key>',
          |                  CAST(n_nationkey AS STRING), '</key></r>'),
          |           'name STRING, key INT') AS parsed
          |  FROM nation_sq)
          |ORDER BY n_nationkey""".stripMargin)
    }),

    // listagg (SQL:2023, new in Spark 4) — ordered string aggregation
    // with deterministic WITHIN GROUP ordering.
    "agg_listagg" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT n_regionkey,
          |       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
          |         AS nations
          |FROM nation_sq GROUP BY n_regionkey
          |ORDER BY n_regionkey""".stripMargin)
    }),

    // SQL scalar UDF (CREATE FUNCTION ... RETURN expr, new in Spark
    // 4): the cents convention packaged as a catalog function. The
    // body is pure expression, so Catalyst inlines it — same plan as
    // writing the cast by hand, which is exactly what the oracle does.
    "sql_udf" -> ((s, d) => {
      views(s, d)
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(x DOUBLE)
          |RETURNS BIGINT RETURN CAST(round(x*100) AS BIGINT)""".stripMargin)
      s.sql(
        """SELECT c_mktsegment,
          |       count(*) AS n_customers,
          |       sum(graft_cents(c_acctbal)) AS acctbal_cents
          |FROM customer_sq GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
    }),

    // LATERAL COLUMN ALIAS (Spark 3.4+, SPARK-27561): a SELECT item
    // referencing an alias defined earlier in the SAME select list —
    // the chained-derivation spelling that otherwise forces nested
    // subqueries. Three chained hops (cents → dollars → kdollars)
    // prove transitive resolution; DuckDB resolves the identical
    // syntax natively, so one string could serve both engines.
    "lateral_alias" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT o_orderkey,
          |       CAST(round(o_totalprice*100) AS BIGINT) AS cents,
          |       cents DIV 100 AS dollars,
          |       dollars DIV 1000 AS kdollars
          |FROM orders_sq
          |ORDER BY cents DESC, o_orderkey LIMIT 25""".stripMargin)
    }),

    // SQL PIPE syntax (Spark 4, SPARK-49555): the |> operator chain —
    // FROM … |> WHERE … |> EXTEND … |> AGGREGATE … |> ORDER BY — the
    // linear query-flow spelling the SQL front end now accepts. Same
    // plan as the nested form; the oracle is the classic spelling of
    // the identical query.
    "pipe_syntax_agg" -> ((s, d) => {
      views(s, d)
      s.sql(
        """FROM orders_sq
          !|> WHERE o_orderstatus = 'F'
          !|> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          !|> AGGREGATE count(*) AS n_orders, sum(cents) AS total_cents
          !   GROUP BY o_orderpriority
          !|> ORDER BY o_orderpriority""".stripMargin('!'))
    }),

    // SQL session VARIABLES (DECLARE/SET VARIABLE, new in Spark 4):
    // a threshold parameter declared once and referenced by name in
    // the query — the parameterized-report surface (dashboards, cron
    // jobs) without string interpolation. The oracle inlines the same
    // literal, which is exactly what Catalyst folds the variable to.
    "sql_variables" -> ((s, d) => {
      views(s, d)
      s.sql("DECLARE OR REPLACE VARIABLE seg_threshold DOUBLE")
      s.sql("SET VARIABLE seg_threshold = 5000.0")
      s.sql(
        """SELECT c_mktsegment,
          |       count(*) AS n_high,
          |       sum(CAST(round(c_acctbal*100) AS BIGINT))
          |         AS acctbal_cents
          |FROM customer_sq
          |WHERE c_acctbal > seg_threshold
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
    }),

    // EXECUTE IMMEDIATE (Spark 4): dynamic SQL with positional
    // parameter binding from a session variable — the safe spelling
    // of runtime-assembled queries (catalog-driven jobs, generated
    // reports) instead of string interpolation. The oracle inlines
    // the bound value.
    "execute_immediate" -> ((s, d) => {
      views(s, d)
      s.sql("DECLARE OR REPLACE VARIABLE min_bal DOUBLE")
      s.sql("SET VARIABLE min_bal = 5000.0")
      s.sql(
        """EXECUTE IMMEDIATE
          |  'SELECT c_mktsegment, count(*) AS n_high
          |   FROM customer_sq WHERE c_acctbal > ?
          |   GROUP BY c_mktsegment ORDER BY c_mktsegment'
          |  USING min_bal""".stripMargin)
    }),

    // The try_* error-safe arithmetic family — under ANSI mode (the
    // Spark 4 default, which this engine keeps ON so real overflows
    // FAIL loudly) these are the sanctioned escape hatches: overflow,
    // division by zero, bad casts, and out-of-bounds access yield
    // NULL instead of an exception. Control values prove the happy
    // path stays exact; DuckDB pins the NULL/value contract from
    // literals.
    "try_arithmetic" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT
          |  try_add(9223372036854775807L, 1L) AS add_overflow,
          |  try_add(40L, 2L) AS add_ok,
          |  try_subtract(-9223372036854775808L, 1L) AS sub_overflow,
          |  try_multiply(4611686018427387904L, 4L) AS mul_overflow,
          |  try_divide(10L, 0L) AS div_zero,
          |  try_divide(10L, 4L) AS div_ok,
          |  try_mod(10L, 0L) AS mod_zero,
          |  try_to_number('not a number', '999') AS bad_number,
          |  try_element_at(array(1L, 2L, 3L), 99) AS oob_element,
          |  try_element_at(array(1L, 2L, 3L), 2) AS ok_element
          |""".stripMargin)
    }),

    // PARAMETERIZED SQL (spark.sql(text, args) with named :markers —
    // SPARK-44140): the injection-safe API twin of EXECUTE IMMEDIATE's
    // session-variable form. Parameters bind as typed literals, not
    // string splices, so the date bounds arrive as real values; the
    // oracle is the same query with the parameters resolved.
    "sql_parameterized" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders,
          |       sum(CAST(round(o_totalprice*100) AS BIGINT))
          |         AS cents
          |FROM orders_sq
          |WHERE o_orderdate >= CAST(:lo AS DATE)
          |  AND o_orderdate < CAST(:hi AS DATE)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin,
        Map("lo" -> "1996-01-01", "hi" -> "1997-01-01"))
    }),

    // GROUP BY ALL / ORDER BY ALL (Spark 4 SQL sugar): every
    // non-aggregate select item becomes a grouping key — the
    // ad-hoc-analytics spelling; the oracle names the keys
    // explicitly, pinning that the sugar resolves to the same
    // grouping.
    "group_by_all" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT n_regionkey, substr(n_name, 1, 1) AS initial,
          |       count(*) AS n_nations
          |FROM nation_sq
          |GROUP BY ALL
          |ORDER BY ALL""".stripMargin)
    }),

    // The SQL FILTER (WHERE ...) aggregate modifier — per-aggregate
    // selective inputs WITHOUT exploding the query into CASE WHEN
    // arms or self-joins: one pass computes the unconditional count
    // beside three differently-filtered aggregates (count, sum,
    // count DISTINCT). Plans as a single hash aggregation with
    // conditional accumulation — the conditional-rollup shape every
    // KPI query wants, and a standard-SQL clause both engines parse
    // natively.
    "agg_filter_clause" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT event_type,
          |       count(*) AS n_all,
          |       count(*) FILTER (WHERE value > 15.0) AS n_high,
          |       CAST(coalesce(
          |         sum(CAST(round(value*100) AS BIGINT))
          |           FILTER (WHERE user_id % 2 = 0), 0)
          |         AS BIGINT) AS even_cents,
          |       count(DISTINCT user_id)
          |         FILTER (WHERE value <= 15.0) AS n_low_users
          |FROM events_sq
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    }),

    // Pearson correlation + sample stddev from EXACT integer
    // sufficient statistics. Inputs are integer DOLLARS (not cents)
    // so every sum stays below 2^53 at the graded scales and converts
    // to double exactly; all later arithmetic is single IEEE ops on
    // identical operands, hence bit-equal across engines. (Beyond
    // ~10^7 rows the squared sums outgrow 2^53 — a deployment at that
    // scale moves the sums to DECIMAL and pins with a tolerance
    // oracle, like the approx aggregates here do.)
    "stats_corr" -> ((s, d) => {
      views(s, d)
      s.sql(
        """WITH b AS (
          |  SELECT CAST(round(l_extendedprice) AS BIGINT) AS x,
          |         CAST(round(l_quantity) AS BIGINT) AS y
          |  FROM lineitem_sq
          |), m AS (
          |  SELECT count(*) AS n,
          |         CAST(sum(x) AS DOUBLE) AS sx,
          |         CAST(sum(y) AS DOUBLE) AS sy,
          |         CAST(sum(x*x) AS DOUBLE) AS sxx,
          |         CAST(sum(y*y) AS DOUBLE) AS syy,
          |         CAST(sum(x*y) AS DOUBLE) AS sxy
          |  FROM b
          |)
          |SELECT CAST(n AS BIGINT) AS n,
          |       (CAST(n AS DOUBLE)*sxy - sx*sy)
          |         / (sqrt(CAST(n AS DOUBLE)*sxx - sx*sx)
          |            * sqrt(CAST(n AS DOUBLE)*syy - sy*sy))
          |         AS corr_price_qty,
          |       sqrt((CAST(n AS DOUBLE)*sxx - sx*sx)
          |            / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1)))
          |         AS stddev_price
          |FROM m""".stripMargin)
    }),

    // Histogram binning by integer floor-division (width_bucket has no
    // DuckDB twin, and integer div needs no float boundary care):
    // acctbal in [-1000, 10000) dollars → 11 fixed 1000-dollar bins.
    "histogram_cents" -> ((s, d) => {
      views(s, d)
      s.sql(
        """SELECT (CAST(round(c_acctbal*100) AS BIGINT) + 100000)
          |         div 100000 AS bucket,
          |       count(*) AS n_customers,
          |       sum(CAST(round(c_acctbal*100) AS BIGINT)) AS acctbal_cents
          |FROM customer_sq
          |GROUP BY bucket
          |ORDER BY bucket""".stripMargin)
    })
  )

  private val centsBal = "CAST(round(c_acctbal*100) AS BIGINT)"

  val oracleSql: Map[String, String] = Map(
    "agg_filter_clause" ->
      """SELECT event_type,
        |       count(*) AS n_all,
        |       count(*) FILTER (WHERE value > 15.0) AS n_high,
        |       CAST(coalesce(
        |         sum(CAST(round(value*100) AS BIGINT))
        |           FILTER (WHERE user_id % 2 = 0), 0)
        |         AS BIGINT) AS even_cents,
        |       count(DISTINCT user_id)
        |         FILTER (WHERE value <= 15.0) AS n_low_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "lateral_alias" ->
      """SELECT o_orderkey,
        |       CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |       cents // 100 AS dollars,
        |       dollars // 1000 AS kdollars
        |FROM orders
        |ORDER BY cents DESC, o_orderkey LIMIT 25""".stripMargin,
    "sql_scripting" ->
      """WITH ks AS (
        |  SELECT unnest(generate_series(0, 20)) AS k
        |), ladder AS (
        |  SELECT k, CAST(100000 * (1 << k) AS BIGINT) AS cutoff
        |  FROM ks
        |), counted AS (
        |  SELECT l.k, l.cutoff,
        |         (SELECT count(*) FROM customer
        |          WHERE CAST(round(c_acctbal*100) AS BIGINT)
        |                > l.cutoff) AS n_above
        |  FROM ladder l
        |), landing AS (
        |  SELECT cutoff FROM counted WHERE n_above <= 400
        |  ORDER BY k LIMIT 1
        |)
        |SELECT g.cutoff,
        |       count(c.c_custkey) AS n_above,
        |       CAST(sum(CAST(round(c.c_acctbal*100) AS BIGINT))
        |         AS BIGINT) AS cents_above
        |FROM landing g LEFT JOIN customer c
        |  ON CAST(round(c.c_acctbal*100) AS BIGINT) > g.cutoff
        |GROUP BY g.cutoff""".stripMargin,
    "pipe_syntax_agg" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |         AS BIGINT) AS total_cents
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "subquery_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE c_custkey <= 300 AND EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "subquery_in" ->
      """SELECT n_name FROM nation
        |WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
        |ORDER BY n_name""".stripMargin,
    "subquery_scalar" ->
      s"""SELECT c_mktsegment,
         |       count(*) AS n_above,
         |       CAST(sum($centsBal) AS BIGINT) AS acctbal_cents
         |FROM customer
         |WHERE $centsBal > (
         |  SELECT CAST(sum($centsBal) AS DOUBLE) / count(*) FROM customer)
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    "join_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey,
        |       CAST(round(t.o_totalprice*100) AS BIGINT)
        |         AS totalprice_cents
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey <= 20
        |ORDER BY c.c_custkey, totalprice_cents DESC, t.o_orderkey""".stripMargin,
    "recursive_cte" ->
      """WITH RECURSIVE days(day) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL
        |  SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM days
        |  WHERE day < DATE '1995-01-31'
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |       count(o_orderkey) AS n_orders
        |FROM days LEFT JOIN orders
        |  ON CAST(o_orderdate AS DATE) = day
        |GROUP BY day
        |ORDER BY day""".stripMargin,
    "window_pct" ->
      s"""SELECT c_mktsegment, c_custkey,
         |       percent_rank() OVER w AS pct_rank,
         |       cume_dist() OVER w AS cum_dist
         |FROM customer
         |WHERE c_custkey <= 100
         |WINDOW w AS (PARTITION BY c_mktsegment
         |  ORDER BY $centsBal, c_custkey)
         |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "variant_extract" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |         AS BIGINT) AS sum_k,
        |       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |         AS INTEGER) AS min_k,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |         AS INTEGER) AS max_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "variant_shredded_roundtrip" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |         AS BIGINT) AS sum_k,
        |       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |         AS INTEGER) AS min_k,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |         AS INTEGER) AS max_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "xml_roundtrip" ->
      """SELECT n_nationkey, n_name AS xml_name,
        |       CAST(n_nationkey AS INTEGER) AS xml_key
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "agg_listagg" ->
      """SELECT n_regionkey,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,
    "sql_udf" ->
      s"""SELECT c_mktsegment,
         |       count(*) AS n_customers,
         |       CAST(sum($centsBal) AS BIGINT) AS acctbal_cents
         |FROM customer GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    "sql_variables" ->
      s"""SELECT c_mktsegment,
         |       count(*) AS n_high,
         |       CAST(sum($centsBal) AS BIGINT) AS acctbal_cents
         |FROM customer WHERE c_acctbal > 5000.0
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    "group_by_all" ->
      """SELECT n_regionkey, substr(n_name, 1, 1) AS initial,
        |       count(*) AS n_nations
        |FROM nation
        |GROUP BY n_regionkey, initial
        |ORDER BY n_regionkey, initial, n_nations""".stripMargin,
    "execute_immediate" ->
      """SELECT c_mktsegment, count(*) AS n_high
        |FROM customer WHERE c_acctbal > 5000.0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "try_arithmetic" ->
      """SELECT CAST(NULL AS BIGINT) AS add_overflow,
        |       CAST(42 AS BIGINT) AS add_ok,
        |       CAST(NULL AS BIGINT) AS sub_overflow,
        |       CAST(NULL AS BIGINT) AS mul_overflow,
        |       CAST(NULL AS DOUBLE) AS div_zero,
        |       CAST(2.5 AS DOUBLE) AS div_ok,
        |       CAST(NULL AS BIGINT) AS mod_zero,
        |       CAST(NULL AS DECIMAL(3,0)) AS bad_number,
        |       CAST(NULL AS BIGINT) AS oob_element,
        |       CAST(2 AS BIGINT) AS ok_element""".stripMargin,
    "sql_parameterized" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |         AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1997-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "stats_corr" ->
      """WITH b AS (
        |  SELECT CAST(round(l_extendedprice) AS BIGINT) AS x,
        |         CAST(round(l_quantity) AS BIGINT) AS y
        |  FROM lineitem
        |), m AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(x) AS DOUBLE) AS sx,
        |         CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x*x) AS DOUBLE) AS sxx,
        |         CAST(sum(y*y) AS DOUBLE) AS syy,
        |         CAST(sum(x*y) AS DOUBLE) AS sxy
        |  FROM b
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |       (CAST(n AS DOUBLE)*sxy - sx*sy)
        |         / (sqrt(CAST(n AS DOUBLE)*sxx - sx*sx)
        |            * sqrt(CAST(n AS DOUBLE)*syy - sy*sy))
        |         AS corr_price_qty,
        |       sqrt((CAST(n AS DOUBLE)*sxx - sx*sx)
        |            / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1)))
        |         AS stddev_price
        |FROM m""".stripMargin,
    "histogram_cents" ->
      s"""SELECT ($centsBal + 100000) // 100000 AS bucket,
         |       count(*) AS n_customers,
         |       CAST(sum($centsBal) AS BIGINT) AS acctbal_cents
         |FROM customer
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin
  )
}
