package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The streaming Markov-transition tally must equal the batch
  * `event_transitions` matrix even when the log arrives in MULTIPLE
  * micro-batches — the per-user ValueState chain has to continue
  * across batch boundaries (the single-batch AvailableNow gate can't
  * see a broken continuation, so this spec forces three batches).
  */
class StreamTransitionsSpec extends SparkTestBase {

  test("multi-batch replay reproduces the batch transition matrix") {
    import spark.implicits._
    // transformWithState requires the RocksDB provider.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
    val base = Fs.scratch(spark, "stream_transitions")
    val stage = s"$base/stage"

    // Stage the fixture events as three time-ordered slices — one
    // micro-batch each under maxFilesPerTrigger=1. Slicing by global
    // (tsSec, event_id) order means every user's later events land in
    // later batches, which is the arrival order a real log delivers.
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("CAST(" +
          "unix_timestamp(date_trunc('second', ts)) AS BIGINT)")
          .as("tsSec"))
    val n = ev.count()
    val slices = ev.orderBy("tsSec", "event_id").collect()
      .grouped((n / 3 + 1).toInt).toSeq
    slices.zipWithIndex.foreach { case (rows, i) =>
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1),
          ev.schema)
        .write.parquet(s"$stage/slice$i")
    }
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("tsSec", LongType)))
    val sink = "stream_transitions_spec"
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$stage/slice*")
      .as[graft.streaming.StreamingEvents.TransEv]
      .groupByKey(_.user_id)
      .transformWithState(
        new graft.streaming.StreamingEvents.TransitionsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF()
      .writeStream
      .format("memory")
      .queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val lastBatch = q.lastProgress.batchId
    assert(lastBatch >= 2,
      s"expected >=3 micro-batches, saw batchId $lastBatch — the " +
        "multi-batch continuity this spec exists for was not exercised")

    val streamed = spark.table(sink)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) ->
        r.getAs[Long]("n")).toMap
    val batch = SparkEntry.queries("event_transitions")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) ->
        r.getAs[Long]("n")).toMap
    assert(streamed == batch,
      s"stream (${streamed.size} cells) diverged from batch " +
        s"(${batch.size} cells)")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("multi-batch funnel replay reproduces the batch funnel row") {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val base = Fs.scratch(spark, "stream_funnel_spec")
      val stage = s"$base/stage"
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("CAST(" +
            "unix_timestamp(date_trunc('second', ts)) AS BIGINT)")
            .as("tsSec"))
      val ordered = ev.orderBy("tsSec", "event_id").collect()
      val n = ordered.length
      // Slice boundaries must fall BETWEEN seconds: the funnel's
      // per-second grouping (views before clicks within one second)
      // breaks if one second straddles two micro-batches.
      def cutAfter(target: Int): Int = {
        var i = target
        while (i < n &&
          ordered(i).getAs[Long]("tsSec") ==
            ordered(i - 1).getAs[Long]("tsSec")) i += 1
        i
      }
      val cuts = Seq(0, cutAfter(n / 3), cutAfter(2 * n / 3), n)
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(
              ordered.slice(a, b).toSeq, 1),
            ev.schema)
          .write.parquet(s"$stage/slice$i")
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tsSec",
          org.apache.spark.sql.types.LongType)))
      val sink = "stream_funnel_spec"
      val q = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$stage/slice*")
        .as[graft.streaming.StreamingEvents.TransEv]
        .groupByKey(_.user_id)
        .transformWithState(
          new graft.streaming.StreamingEvents.FunnelProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream
        .format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.lastProgress.batchId >= 2,
        "the funnel continuity needs >=3 micro-batches")
      val counts = spark.table(sink)
        .groupBy("stage").count().collect()
        .map(r => r.getAs[String]("stage") -> r.getAs[Long]("count"))
        .toMap
      val batch = SparkEntry.queries("event_funnel")(spark, sfDir)
        .collect().head
      assert(counts.getOrElse("viewed", 0L) ==
        batch.getAs[Long]("n_viewed"))
      assert(counts.getOrElse("clicked", 0L) ==
        batch.getAs[Long]("n_clicked_after_view"))
      assert(counts.getOrElse("purchased", 0L) ==
        batch.getAs[Long]("n_purchased_after_click"))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
