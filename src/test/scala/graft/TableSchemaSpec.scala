package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import graft.streaming.StreamingEvents

/** `Tables` infers each fixture file's schema once per JVM: a read
  * whose file and parquet confs were seen before starts no Spark job,
  * through a DataFrame or through SQL on `Tables.view`; a replaced
  * file or a changed conf infers again, and the canary checks each
  * newly inferred schema.
  */
class TableSchemaSpec extends SparkTestBase {

  /** Listener events that `counts` while `body` runs. */
  private def eventsDuring(counts: SparkListenerEvent => Boolean)(
      body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counts(e)) n.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (counts(e)) n.incrementAndGet()
    }
    ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusShim.drain(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int =
    eventsDuring(_.isInstanceOf[SparkListenerJobStart])(body)

  test("a known table and the events stream start no job in a fresh session") {
    Tables.lineitem(spark, sfDir)
    StreamingEvents.stream(spark, sfDir)
    val s = spark.newSession()
    assert(jobsDuring {
      Tables.lineitem(s, sfDir)
      StreamingEvents.stream(s, sfDir)
    } == 0)
  }

  test("a drifted file written to the same path trips the canary") {
    val dir = SparkTestBase.tempDir("graft_schema_memo")
    try {
      val path = dir.resolve("lineitem.parquet")
      Files.copy(Paths.get(sfDir, "lineitem.parquet"), path)
      Tables.lineitem(spark, dir.toString)
      assert(jobsDuring(Tables.lineitem(spark, dir.toString)) == 0)
      val stage = dir.resolve("stage").toString
      Tables.lineitem(spark, sfDir)
        .withColumn("l_quantity", col("l_quantity").cast("int"))
        .coalesce(1)
        .write.parquet(stage)
      Files.move(Fs.onlyPart(stage, ".parquet"), path,
        StandardCopyOption.REPLACE_EXISTING)
      val e = intercept[IllegalArgumentException] {
        Tables.lineitem(spark, dir.toString)
      }
      assert(e.getMessage.contains("lineitem.l_quantity"), e.getMessage)
      assert(e.getMessage.contains("'int'"), e.getMessage)
    } finally Fs.deleteRecursively(dir)
  }

  test("SQL through Tables.view plans with no job in a fresh session") {
    Tables.orders(spark, sfDir)
    val s = spark.newSession()
    assert(jobsDuring {
      s.sql(s"SELECT count(*) FROM ${Tables.view(s, sfDir, "orders")}")
        .queryExecution.executedPlan
    } == 0)
  }

  test("a session registers a fixture view once") {
    // Each registration is a command with a SQL execution of its own.
    val s = spark.newSession()
    def executions(body: => Unit): Int =
      eventsDuring(_.isInstanceOf[SparkListenerSQLExecutionStart])(body)
    var v = ""
    assert(executions { v = Tables.view(s, sfDir, "orders") } > 0)
    assert(executions(assert(Tables.view(s, sfDir, "orders") == v)) == 0)
  }

  test("a drifted file trips the canary through Tables.view") {
    val dir = SparkTestBase.tempDir("graft_schema_view")
    try {
      val path = dir.resolve("lineitem.parquet")
      Files.copy(Paths.get(sfDir, "lineitem.parquet"), path)
      val count = () => spark.sql("SELECT count(*) FROM " +
        Tables.view(spark, dir.toString, "lineitem")).head().getLong(0)
      val rows = count()
      val stage = dir.resolve("stage").toString
      Tables.lineitem(spark, sfDir)
        .withColumn("l_quantity", col("l_quantity").cast("int"))
        .coalesce(1)
        .write.parquet(stage)
      Files.move(Fs.onlyPart(stage, ".parquet"), path,
        StandardCopyOption.REPLACE_EXISTING)
      val e = intercept[IllegalArgumentException](count())
      assert(e.getMessage.contains("lineitem.l_quantity"), e.getMessage)
      assert(rows > 0)
    } finally Fs.deleteRecursively(dir)
  }

  test("catalog_string_runtime reads its fixture and its dim without inference") {
    // Building it runs the table's INSERT, the dim's write and the
    // pruned join: 8 jobs. Reading the documents fixture twice and the
    // dim once through SQL-on-file inferred each schema with a job
    // more, 11 in all.
    val build = SparkEntry.queries("catalog_string_runtime")
    build(spark, sfDir)
    assert(jobsDuring(build(spark, sfDir)) == 8)
  }

  test("flipping nanosAsLong in a session infers the schema again") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    Tables.events(spark, sfDir)
    val s = spark.newSession()
    s.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
    assert(jobsDuring(Tables.events(s, sfDir)) > 0)
    assert(jobsDuring(Tables.events(s, sfDir)) == 0)
    s.conf.set(key, spark.conf.get(key))
    assert(jobsDuring(Tables.events(s, sfDir)) == 0)
  }

  test("a staged replay takes its schema from the frame it wrote") {
    // Building stream_observe_metrics runs the key-range max, the
    // staging write and the replay's micro-batches: 7 jobs. Reading
    // the staged files' footers for their schema made it 8.
    val build = SparkEntry.queries("stream_observe_metrics")
    build(spark, sfDir)
    assert(jobsDuring(build(spark, sfDir)) == 7)
  }
}
