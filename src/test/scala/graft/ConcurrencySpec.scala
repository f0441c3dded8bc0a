package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CyclicBarrier,
  ExecutionException, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** Queries that survive a neighbour: a query run in a sibling
  * `newSession()` at the same time as another one — the same query or
  * a different one — must answer exactly as it does alone, or fail
  * loudly on its own account. Every registered query but the counter
  * gates first answers solo, all in one session as `graft.Verify` runs
  * them; then two fresh sibling sessions run it at once, started
  * together behind a barrier, and both answers must equal the solo
  * one; then all of them run in mixed batches of at most eight.
  * Every session is released ([[Fs.release]]) once it has answered,
  * and the last test checks that none left a scratch dir or a table.
  */
class ConcurrencySpec extends SparkTestBase {

  // The gates whose require() reads a process-global counter of
  // graft.sources: a neighbour's scans move the same counter, so they
  // wait for per-scan DSv2 metrics (ROADMAP item 1). The first test
  // derives this list from the sources.
  private val CounterGates = Set(
    "catalog_auto_compact",
    "catalog_bloom_prune",
    "catalog_bloom_temporal",
    "catalog_cluster_zonemap",
    "catalog_colagg_pushdown",
    "catalog_colstats_prune",
    "catalog_composed_layout",
    "catalog_count_pushdown",
    "catalog_minmax_pushdown",
    "catalog_partition_evolution",
    "catalog_partition_months",
    "catalog_partition_prune",
    "catalog_runtime_bloom",
    "catalog_runtime_filter",
    "catalog_sorted_write",
    "catalog_spj_named",
    "catalog_stream_partitioned",
    "catalog_string_key",
    "catalog_string_runtime",
    "catalog_ts_column",
    "catalog_zonemap_prune",
    "catalog_zorder_prune")

  private val Queries =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(CounterGates)

  // The queries that answer no rows at sf0.001; every other one must
  // answer some, or a pair of empty answers would pass.
  private val AnswersNothing = Set(
    "clustering_coeff",
    "spatial_grid_join",
    "title_fuzzy",
    "tpch_q7",
    "triangle_count")

  private val MaxBatch = 8

  /** The token of every session this spec made. */
  private val tokens = new ConcurrentLinkedQueue[String]

  private def fresh(): SparkSession = {
    val s = spark.newSession()
    tokens.add(Fs.sessionToken(s))
    s
  }

  private def answer(s: SparkSession, q: String): Seq[Row] =
    SparkEntry.queries(q)(s, sfDir).collect().toSeq

  /** What the session of `token` left behind: its scratch dir and
    * its kv and `spark_catalog` tables.
    */
  private def leftovers(token: String): Seq[String] = {
    val suffix = "_" + token
    val kv = Option(
      Paths.get(sources.KvGate.warehouse, "default").toFile.list())
      .toSeq.flatten.filter(_.endsWith(suffix))
    val catalog = spark.catalog.listTables("default").collect()
      .map(_.name).filter(_.endsWith(suffix))
    Seq(Fs.root.resolve(token)).filter(Files.exists(_)).map(_.toString) ++
      kv ++ catalog
  }

  private lazy val solo: Map[String, Either[Throwable, Seq[Row]]] = {
    val s = fresh()
    try Queries.map { q =>
      q -> (try Right(answer(s, q)) catch { case e: Exception => Left(e) })
    }.toMap
    finally Fs.release(s)
  }

  private def soloRows(q: String): Seq[Row] = solo(q) match {
    case Right(rows) => rows
    case Left(e) => fail(s"$q failed solo: $e", e)
  }

  /** Run every query of `qs` in its own sibling session, all started
    * together behind a barrier, and release the sessions; each outcome
    * is its rows or the exception that ended it.
    */
  private def together(qs: Seq[String]): Seq[Either[Throwable, Seq[Row]]] = {
    val pool = Executors.newFixedThreadPool(qs.size)
    val start = new CyclicBarrier(qs.size)
    val ss = qs.map(_ => fresh())
    try {
      qs.zip(ss).map { case (q, s) =>
        pool.submit(new Callable[Seq[Row]] {
          override def call(): Seq[Row] = {
            start.await(60, TimeUnit.SECONDS)
            answer(s, q)
          }
        })
      }.map { f =>
        try Right(f.get(300, TimeUnit.SECONDS))
        catch { case e: ExecutionException => Left(e.getCause) }
      }
    } finally {
      pool.shutdownNow()
      ss.foreach(Fs.release)
    }
  }

  private def assertSolo(
      qs: Seq[String], got: Seq[Either[Throwable, Seq[Row]]]): Unit =
    qs.zip(got).foreach {
      case (q, Left(e)) => fail(s"$q failed beside a neighbour: $e", e)
      case (q, Right(rows)) =>
        assert(rows === soloRows(q),
          s"$q answered differently beside a neighbour")
    }

  test("the counter gates are the builders that read a graft.sources counter") {
    def lines(dir: String) = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => Files.readAllLines(f).asScala)
    val Obj = """^(?:private\[\w+\] )?object (\w+)\b.*""".r
    val Counter =
      """^\s*val (\w+) = new java\.util\.concurrent\.atomic\.AtomicLong\b.*""".r
    var obj = ""
    val counters = lines("src/main/scala/graft/sources").flatMap {
      case Obj(o) => obj = o; None
      case Counter(v) => Some(s"$obj.$v")
      case _ => None
    }
    assert(counters.nonEmpty)
    val Key = """^    "(\w+)" -> .*""".r
    val Def = """^  (?:private.* )?def .*""".r
    val reads = counters.map(c => s"\\b${c.replace(".", "\\.")}\\.get\\b".r)
    var key: Option[String] = None
    val readers = lines("src/main/scala/graft/operators").flatMap {
      case Key(k) => key = Some(k); None
      case Def() => key = None; None
      case l => key.filter(_ => reads.exists(_.findFirstIn(l).isDefined))
    }.toSet
    assert(readers === CounterGates)
  }

  Queries.foreach { q =>
    test(s"$q twice at once in sibling sessions answers as it does solo") {
      assert(soloRows(q).nonEmpty || AnswersNothing(q),
        s"$q answered no rows solo")
      assertSolo(Seq(q, q), together(Seq(q, q)))
    }
  }

  test("a mixed batch of different gates at once answers as each does solo") {
    // Deal the queries round-robin, so each batch mixes families.
    val n = (Queries.size + MaxBatch - 1) / MaxBatch
    (0 until n).map(i => Queries.drop(i).grouped(n).map(_.head).toSeq)
      .foreach(batch => assertSolo(batch, together(batch)))
  }

  test("every released session left no scratch dir and no table") {
    solo
    val left = tokens.asScala.toSeq.flatMap(leftovers)
    assert(left.isEmpty, left.mkString(", "))
  }
}
