package graft

import java.nio.file.{Files, Paths}

/** The durability tier behind the iterative operators' per-generation
  * pins (`graft.Checkpoints`): by default they `localCheckpoint` —
  * right for the single-JVM gate, unrecoverable on executor loss at
  * cluster scale — and when `spark.graft.checkpoint.dir` is set they
  * switch to reliable `Dataset.checkpoint`, whose files on shared
  * storage survive executor churn. This spec runs the two most
  * iterative registered queries under BOTH tiers and asserts the
  * results are identical, and that the reliable run actually wrote
  * checkpoint files where it was told to.
  */
class ReliableCheckpointSpec extends SparkTestBase {

  private def rows(q: String, s: org.apache.spark.sql.SparkSession) =
    SparkEntry.queries(q)(s, sfDir).collect().map(_.toString).sorted.toSeq

  test("reliable-checkpoint tier matches the local tier and writes files") {
    val ckptDir = SparkTestBase.tempDir("graft-reliable-ckpt")
    // Separate session object: the memoized iterative frames key on
    // the session, so the reliable run cannot reuse a local-tier pin.
    val reliable = spark.newSession()
    reliable.conf.set(Checkpoints.ConfKey, ckptDir.toString)

    for (q <- Seq("dedup_clusters", "bpe_train_merges", "pagerank_fixed")) {
      assert(rows(q, reliable) == rows(q, spark), s"$q diverged across tiers")
    }

    // The reliable run must have gone through sc.setCheckpointDir +
    // Dataset.checkpoint: rdd-* checkpoint data lands under the dir.
    val walk = Files.walk(ckptDir)
    val wroteRddData =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.exists(_.getFileName.toString.startsWith("rdd-"))
      } finally walk.close()
    assert(wroteRddData, s"no rdd-* checkpoint data under $ckptDir")
    Fs.deleteRecursively(Paths.get(ckptDir.toString))
  }
}
