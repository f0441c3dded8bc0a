package graft

import java.util.concurrent.{Callable, CyclicBarrier, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.{Row, SparkSession}

/** Queries that survive a neighbour: a gate run in a sibling
  * `newSession()` at the same time as another gate — the same one or a
  * different one — must answer exactly as it does alone, or fail loudly
  * on its own account. Each gate first answers solo; then two sibling
  * sessions run it at once, started together behind a barrier, and
  * both answers must equal the solo one; then one mixed batch runs
  * every gate at once.
  */
class ConcurrencySpec extends SparkTestBase {

  // One gate per kv family, the ANN gate that also writes an index
  // beside its table, and one streaming gate. Left out: the gates whose
  // require() reads a process-global counter (catalog_zonemap_prune,
  // catalog_cluster_zonemap, the count and min/max pushdown gates and
  // the other skip-counting gates such as catalog_string_runtime) — a
  // neighbour's scans move the same counter, so they wait for per-scan
  // DSv2 metrics (ROADMAP item 2).
  private val Gates = Seq(
    "catalog_compact_call",
    "catalog_dml_merge_mor",
    "catalog_snapshots_table",
    "catalog_tags",
    "catalog_spj_join",
    "catalog_stream_sink",
    "catalog_ann_pinned",
    "stream_dedup")

  private lazy val solo: Map[String, Seq[Row]] =
    Gates.map(q => q -> answer(spark.newSession(), q)).toMap

  private def answer(s: SparkSession, q: String): Seq[Row] =
    SparkEntry.queries(q)(s, sfDir).collect().toSeq

  /** Run every gate of `gates` in its own sibling session, all started
    * together behind a barrier; each outcome is its rows or the
    * exception that ended it.
    */
  private def together(gates: Seq[String]): Seq[Either[Throwable, Seq[Row]]] = {
    val pool = Executors.newFixedThreadPool(gates.size)
    val start = new CyclicBarrier(gates.size)
    try {
      gates.map { q =>
        val s = spark.newSession()
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
    } finally pool.shutdownNow()
  }

  private def assertSolo(
      gates: Seq[String], got: Seq[Either[Throwable, Seq[Row]]]): Unit =
    gates.zip(got).foreach {
      case (q, Left(e)) => fail(s"$q failed beside a neighbour: $e", e)
      case (q, Right(rows)) =>
        assert(rows === solo(q), s"$q answered differently beside a neighbour")
    }

  Gates.foreach { q =>
    test(s"$q twice at once in sibling sessions answers as it does solo") {
      assert(solo(q).nonEmpty, s"$q answered no rows solo")
      assertSolo(Seq(q, q), together(Seq(q, q)))
    }
  }

  test("a mixed batch of different gates at once answers as each does solo") {
    assertSolo(Gates, together(Gates))
  }
}
