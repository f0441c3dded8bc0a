package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM: set up, warm up on the small data, then
  * run whole passes over a workload's queries, each pass in a fresh
  * session and in a seeded order. Raw measurements go to `out` as JSON
  * lines; `run.py` computes the metrics and checks the digests.
  *
  * Arguments are `key=value` pairs: `queries` (comma-separated registry
  * names), `data` (scale-factor directory), `warm` (the small
  * scale-factor directory of the warm-up round), `seed`, `passes`,
  * `trace` (0 or 1), `cores`, `scratch` (where the warehouse lives),
  * `out`, and `launch_ms` (epoch ms at which the process was launched).
  * `mode=selftest` checks the digest instead.
  */
object Harness {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  // Epoch milliseconds with nanoTime resolution, comparable with the
  // millisecond timestamps of Spark's listener events.
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def epochMs(nano: Long): Double = epoch0 + (nano - nano0) / 1e6

  private def gcSeconds: Double = gcs.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    if (opt.get("mode").contains("selftest")) sys.exit(Digest.selfTest())

    val queries = opt("queries").split(",").toSeq
    val registry = graft.SparkEntry.queries
    val unknown = queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unregistered queries: ${unknown.mkString(",")}")
    val builders = queries.map(q => q -> registry(q)).toMap
    val cores = opt("cores").toInt
    val scratch = Paths.get(opt("scratch"))
    val out = new Records(Paths.get(opt("out")))
    val hostRef = new HostRef(cores)
    try {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toUri.toString)
        .config("spark.local.dir", scratch.resolve("local").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val contextMs = epochMs(System.nanoTime())
      val tracer = if (opt("trace") == "1") Some(new Tracer(spark.sparkContext, out)) else None

      // Warm-up, untimed: the workload's own queries once on the small
      // tables, and the reference kernel until the JIT has compiled it.
      val warm = spark.newSession()
      queries.foreach { q =>
        try builders(q)(warm, opt("warm")).collect()
        catch { case NonFatal(e) => System.err.println(s"warm-up $q: $e") }
      }
      release(spark, warm)
      (1 to 10).foreach(_ => hostRef.run())
      out.write("type" -> "setup", "launch_ms" -> opt("launch_ms").toDouble,
        "context_ms" -> contextMs, "ready_ms" -> epochMs(System.nanoTime()))

      val seed = opt("seed").toLong
      val data = opt("data")
      (0 until opt("passes").toInt).foreach { pass =>
        // Pass 0, the coldest, is never traced. After it, traced and
        // untraced passes alternate ABBA-wise (T U U T ...), so neither
        // side gets all the earlier passes.
        val traced = tracer.isDefined && pass > 0 && Seq(0, 3).contains((pass - 1) % 4)
        val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
        val session = spark.newSession()
        if (traced) tracer.get.attach(session)
        order.zipWithIndex.foreach { case (q, i) =>
          val ref = hostRef.run()
          timed(out, pass, i, q, traced, ref)(builders(q)(session, data))
        }
        if (traced) tracer.get.detach(session)
        release(spark, session)
        out.write("type" -> "pass", "pass" -> pass, "traced" -> traced,
          "disk_b" -> (du(scratch.resolve("tmp")) + du(scratch.resolve("warehouse"))))
      }
      // Let the context cleaner drop what the last passes left behind.
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      out.write("type" -> "end",
        "heap_b" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      spark.stop()
    } finally {
      hostRef.close()
      out.close()
    }
  }

  /** Times one query: the builder call, then a full collect. The digest
    * is taken after the clock stops.
    */
  private def timed(out: Records, pass: Int, seq: Int, name: String, traced: Boolean,
      ref: Double)(build: => org.apache.spark.sql.DataFrame): Unit = {
    val jit0 = jit.getTotalCompilationTime
    val gc0 = gcSeconds
    val cg0 = CodeGenerator.compileTime
    val cgn0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    var t1 = t0
    val result = try {
      val df = build
      t1 = System.nanoTime()
      Right((df.schema, df.collect()))
    } catch { case NonFatal(e) => Left(e) }
    val t2 = System.nanoTime()
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val common = Seq("type" -> "query", "pass" -> pass, "seq" -> seq, "name" -> name,
      "traced" -> traced, "ref_s" -> ref, "t0" -> epochMs(t0), "t1" -> epochMs(t1),
      "t2" -> epochMs(t2), "wall_s" -> (t2 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
      "cpu_s" -> cpu, "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
      "gc_s" -> (gcSeconds - gc0), "codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
      "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgn0))
    result match {
      case Right((schema, rows)) =>
        out.write(common ++ Seq("rows" -> rows.length, "digest" -> Digest.of(schema, rows)): _*)
      case Left(e) =>
        out.write(common :+ ("error" -> s"${e.getClass.getName}: ${e.getMessage}"): _*)
    }
  }

  /** Frees what a pass cached or pinned, through public APIs only. */
  private def release(spark: SparkSession, session: SparkSession): Unit = {
    session.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Bytes of the regular files under `dir`. */
  private def du(dir: Path): Long = {
    var total = 0L
    if (Files.exists(dir)) Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        if (a.isRegularFile) total += a.size
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
    })
    total
  }
}
