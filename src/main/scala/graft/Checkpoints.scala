package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durability tier for the eager per-generation pins inside the
  * iterative operators (near-dup cluster labels, BPE merge training,
  * the purchase-graph edge/degree tables). Two tiers:
  *
  *   - default: `localCheckpoint(true)` — truncates lineage and keeps
  *     the blocks on executor-local storage. Fast and correct in a
  *     single-JVM gate run, but on a real cluster a block dies with
  *     its executor: an executor loss mid-fixpoint makes the pinned
  *     frame unrecoverable and fails the job. Fine for local[n];
  *     wrong for a week-long 100 TB label-propagation job.
  *
  *   - reliable: set `spark.graft.checkpoint.dir` (session conf) or
  *     `SPARK_GRAFT_CHECKPOINT_DIR` (env) to an HDFS-compatible path
  *     and every pin becomes `Dataset.checkpoint(eager = true)` —
  *     checkpoint FILES on shared storage survive executor loss, so
  *     a lost task just recomputes from the last pinned generation.
  *     This is the deployable tier: at cluster scale executor churn
  *     is routine and the iterative operators are exactly the
  *     longest-running jobs. (Reliable checkpointing computes the
  *     plan a second time to write the files — the standard Spark
  *     trade; per-round frames here are small relative to the scans
  *     that produce them.)
  *
  * `unpin` releases what a tier can release: local-checkpoint blocks
  * are dropped via `unpersist`; reliable checkpoint files stay until
  * the context cleaner collects them (enable
  * `spark.cleaner.referenceTracking.cleanCheckpoints` on a real
  * deployment) — `unpersist` is harmless there.
  */
object Checkpoints {
  val ConfKey = "spark.graft.checkpoint.dir"

  private def reliableDir(s: SparkSession): Option[String] =
    s.conf.getOption(ConfKey)
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
      .filter(_.nonEmpty)

  /** Eagerly materialize `df` at the configured durability tier and
    * return the lineage-truncated frame.
    */
  def pin(df: DataFrame): DataFrame =
    reliableDir(df.sparkSession) match {
      case Some(dir) =>
        // The checkpoint dir belongs to the context, not the session:
        // pointing it at this session's dir and writing happen under
        // one lock, so a sibling session's pin never lands in this
        // session's dir, which Fs.release may delete.
        synchronized {
          df.sparkSession.sparkContext.setCheckpointDir(dir)
          df.checkpoint()
        }
      case None => df.localCheckpoint(true)
    }

  /** Release a previously pinned generation (block storage only; see
    * class doc for reliable-file lifecycle).
    */
  def unpin(df: DataFrame): Unit = { df.unpersist(); () }
}
