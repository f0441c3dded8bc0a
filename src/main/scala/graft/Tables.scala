package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, unix_micros}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Loaders for the driver-generated parquet star schema
  * (/root/testdata/sf{0.001,0.01,0.1} — see TESTDATA.md / FIXTURES.md §B).
  *
  * All queries read through here so the scan shape is uniform: a plain
  * parquet scan that Catalyst can push filters into and prune columns
  * from. At 100 TB the same call sites work unchanged against a
  * partitioned table root — nothing below assumes single-file layout.
  */
object Tables {

  /** Fixture-schema canary: expected column order and the ACCEPTED
    * catalog-type variants per column. The driver regenerates the
    * fixtures between rounds and has already changed physical
    * encodings once (events.ts ns-int64 → timestamp[us]); that drift
    * silently compressed the event timeline 1000× before any query
    * failed. This check turns the next such drift into one precise
    * error at first load — naming the table, the column, the arrived
    * type and the accepted set — instead of N wrong answers.
    * Timestamp columns accept every flavor the loaders tolerate
    * (ns-as-long / LTZ / NTZ); anything else is a one-variant pin.
    */
  private val Ts = Set("bigint", "timestamp", "timestamp_ntz")
  private val expected: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq(
      "n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq(
      "c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq(
      "s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq(
      "p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq(
      "o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> Ts, "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq(
      "l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> Ts),
    "events" -> Seq(
      "event_id" -> Set("bigint"), "ts" -> Ts,
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq(
      "doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq(
      "vec_id" -> Set("bigint"), "embedding" -> Set("array<float>"),
      "label" -> Set("int")))

  private def check(name: String, schema: StructType): Unit =
    expected.get(name).foreach { cols =>
      // Order-insensitive on purpose: every loader and query selects
      // columns BY NAME, so a reordered fixture (or a spec's synthetic
      // twin table) is harmless; missing/renamed columns and changed
      // physical types are the drifts that corrupt results silently.
      val actual =
        schema.map(f => f.name -> f.dataType.catalogString).toMap
      val missing = cols.map(_._1).filterNot(actual.contains)
      val extra = actual.keySet -- cols.map(_._1).toSet
      require(missing.isEmpty && extra.isEmpty,
        s"fixture schema drift: table '$name' has columns " +
          s"[${schema.fieldNames.mkString(", ")}], expected " +
          s"[${cols.map(_._1).mkString(", ")}]" +
          (if (missing.nonEmpty) s"; missing: ${missing.mkString(", ")}"
           else "") +
          (if (extra.nonEmpty) s"; unexpected: ${extra.mkString(", ")}"
           else "") +
          " — the driver regenerated the fixture with a new layout; " +
          "update Tables.expected and the loaders (FIXTURES.md §B)")
      cols.foreach { case (n, allowed) =>
        require(allowed(actual(n)),
          s"fixture schema drift: $name.$n arrived as '${actual(n)}', " +
            s"accepted encodings are {${allowed.mkString(", ")}} — the " +
            "driver regenerated the fixture with a new physical type; " +
            "teach the loaders the new flavor before trusting any " +
            "result (FIXTURES.md §B)")
      }
    }

  /** Spread the per-row work above a scan whose input layout cannot
    * feed every core (guide §2.5 "input skew: one huge unsplittable
    * file"): the driver-generated fixtures are ONE file × ONE row
    * group, and parquet splits only at row-group boundaries, so every
    * scan — and all the expression work codegen fuses into the scan
    * stage — runs on a single core no matter the cluster size.
    *
    * Deliberately NOT applied inside [[table]]: two r18 A/Bs (blanket
    * Tables-level, then helper-level) measured broad application as a
    * net LOSS. The exchange only repays where (a) the per-row work is
    * extreme (substring explosion, shingle HOFs, failure-path
    * try_cast) AND (b) the spread subtree is evaluated exactly once —
    * inside a Checkpoints.pin build or a single-consumer plan. Put
    * under a subtree that several plan branches re-evaluate
    * (minhashSigs/simhashPairs-style shared helpers), the inserted
    * exchange defeated AQE's runtime stage dedup and multiplied the
    * heavy work by the branch count (measured: minhash family CPU
    * 4→24 s); in cheap typed pipelines the extra stage's per-task
    * overhead alone regressed fixture-scale wall 2-4×. Call sites
    * with MEASURED wins opt in; everything else keeps the
    * exchange-free scan. Width follows `defaultParallelism` (never a
    * constant), and results are partitioning-invariant by engine
    * convention (PartitionInvarianceSpec).
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Inferred schemas, one per (files, parquet confs) key, kept for
    * the whole JVM. Inferring a parquet schema launches a Spark job
    * that reads a footer, on every read of every table, although the
    * fixture files never change; with the schema given, Spark plans
    * the same relation (both paths make it nullable) and starts no
    * job. The key holds each file's path, length and modification
    * time, so a replaced file infers again, and every set
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` entry plus
    * `spark.sql.caseSensitive` — every conf the parquet schema
    * converter reads, `nanosAsLong` among them — so a changed conf
    * infers again too.
    */
  private val schemas =
    new ConcurrentHashMap[(Seq[(String, Long, Long)], Map[String, String]),
      StructType]()

  /** Schema of `dir/name.parquet`, from [[schemas]]. The canary runs
    * once per key, when the schema is inferred; a failed check stores
    * nothing, so the drift fails again on the next load.
    */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val path = new Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A file lists as itself; a directory as every file under it.
    // `listStatus`, not `listFiles`: a `LocatedFileStatus` copies the
    // permissions, which the local filesystem reads with an `ls`
    // process per file; path, length and mtime need none.
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files)
      else Seq(st)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    } + (SQLConf.CASE_SENSITIVE.key ->
      spark.conf.get(SQLConf.CASE_SENSITIVE.key))
    val key = (files(fs.getFileStatus(path)).map(f =>
      (f.getPath.toString, f.getLen, f.getModificationTime)), confs)
    Option(schemas.get(key)).getOrElse {
      val inferred = spark.read.parquet(path.toString).schema
      check(name, inferred)
      schemas.put(key, inferred)
      inferred
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts has shipped in TWO physical encodings across fixture
    * generations (FIXTURES.md §B): ns-int64 (read as a raw long under
    * spark.sql.legacy.parquet.nanosAsLong=true, truncated here to µs)
    * and, since 2026-08-13, native timestamp[us] with no UTC-adjust
    * flag, which Spark reads as TIMESTAMP_NTZ. Both arrive here as a
    * proper timestamp column; all registered event queries aggregate
    * at ≥second granularity so the ns→µs truncation of the old
    * encoding is observationally irrelevant.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** Event-time in epoch MICROSECONDS, safe for every timestamp
    * flavor the fixtures have shipped: `unix_micros` itself rejects
    * TIMESTAMP_NTZ, so the column is first cast to TimestampType —
    * a no-op for an already-LTZ column, and a wall-clock-preserving
    * reinterpretation for NTZ because every graft session pins
    * spark.sql.session.timeZone=UTC (Verify/Bench/Explain/tests).
    * Use this instead of raw `unix_micros` anywhere `ts` (or a
    * window bound derived from it) feeds integer time arithmetic.
    */
  def tsMicros(c: Column): Column = unix_micros(c.cast(TimestampType))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
