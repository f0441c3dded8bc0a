package graft

import graft.streaming.{StreamGates, StreamNearDup}

/** The stateful streaming near-dup must agree EXACTLY with an
  * independent batch implementation of the same corpus-capped
  * contract on the same input — the stateful machinery (bounded
  * ListState buckets, overflow poisoning, multi-batch replay) must be
  * invisible in the answer. The DuckDB oracle is the second,
  * engine-external pin (CORRECTNESS gate).
  */
class StreamNearDupSpec extends SparkTestBase {

  test("streaming screen ≡ independent batch twin, and finds matches") {
    val cap = graft.operators.TextQueries.BucketCap
    val streamed = StreamNearDup.run(spark, sfDir, cap).collect().toSeq
    val batch = StreamNearDup.batchTwin(spark, sfDir, cap)
      .collect().toSeq
    assert(streamed.nonEmpty,
      "no near-dups found — the fixture has cross-split duplicates")
    assert(streamed === batch,
      s"stateful pipeline diverged from the batch twin:\n" +
        s"stream=${streamed.take(5)}...\nbatch=${batch.take(5)}...")
  }

  test("bucket state survives a checkpointed kill/restart") {
    // Phase 1 drains ONLY the corpus files (state built, zero pairs
    // emitted) and stops — the deterministic stand-in for a crash
    // after ingesting the index side. Phase 2 reopens the SAME
    // checkpoint after the query files appear: the file source must
    // resume past the corpus files without reprocessing them, and the
    // RocksDB ListState band buckets must come back intact — every
    // probe scores against RESTORED state, never recomputed state. A
    // lost or replayed bucket changes pairs and breaks the batch-twin
    // equality.
    val cap = graft.operators.TextQueries.BucketCap
    val base = Fs.scratch(spark, "neardup_restart")
    val stageDir = s"$base/stage"
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val t0 = System.currentTimeMillis()

    def drain(staged: StreamGates.Staged)
        : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      StreamGates.run(StreamNearDup.pipeline(spark, staged, cap))(
        _.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .start())

    val total = Tables.documents(spark, sfDir).count()
    val corpusN = StreamNearDup.CorpusSplit
    val q1 = drain(StreamGates.stage(StreamNearDup.docs(spark, sfDir),
      stageDir, StreamNearDup.corpusSlices, t0))
    val rows1 = q1.map(_.numInputRows).sum
    assert(rows1 === corpusN,
      s"phase 1 ingested $rows1 docs, expected the $corpusN corpus")

    val q2 = drain(StreamGates.stage(StreamNearDup.docs(spark, sfDir),
      stageDir, StreamNearDup.querySlices, t0 + 60000))
    val rows2 = q2.map(_.numInputRows).sum
    assert(rows2 === total - corpusN,
      s"phase 2 ingested $rows2 docs, expected ${total - corpusN} — " +
        "a restart must resume past the corpus files, not replay them")

    val schema = org.apache.spark.sql.Encoders
      .product[StreamNearDup.PairOut].schema
    val got = StreamNearDup.bestMatch(
      spark.read.schema(schema).parquet(out)).collect().toSeq
    val want = StreamNearDup.batchTwin(spark, sfDir, cap)
      .collect().toSeq
    assert(got.nonEmpty && got === want,
      "restored-state results diverge from the batch twin")
  }
}
