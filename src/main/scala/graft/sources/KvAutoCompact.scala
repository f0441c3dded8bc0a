package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, lit, pmod}

/** POLICY-DRIVEN MAINTENANCE — `TBLPROPERTIES
  * ('write.auto_compact'='t')`: after every successful DATA commit
  * (batch append/overwrite/DML and each streaming epoch), the write
  * path checks the live file count and, when any bucket exceeds t
  * data files (or the table exceeds t, unbucketed), runs the SAME
  * maintenance rewrite `system.rewrite_buckets` / `system.compact`
  * would — CDC-invisible (`#maintenance` manifest header), base-
  * pinned (`maintenance_base`: a concurrent commit interleaving with
  * the rewrite aborts it rather than being dropped), bucket-routed
  * and key-sorted where the layout asks. This is Delta's
  * auto-compaction shape: synchronous after the triggering commit,
  * so ingest latency absorbs the maintenance and file counts are
  * BOUNDED BY CONSTRUCTION instead of by an operator remembering to
  * CALL compact — at 100 TB with streaming ingest, a per-epoch file
  * per bucket turns a month of micro-batches into tens of thousands
  * of files per bucket without this.
  *
  * Scope guards: only snapshotted, non-quarantined (no rebucket in
  * flight), non-branch targets; the policy rewrite itself is a
  * maintenance commit and never re-triggers (recursion-free). A lost
  * base-pin race skips the compaction — the NEXT data commit
  * re-evaluates the same policy, so the bound is eventually
  * re-established without ever failing the user's (already
  * committed) write.
  */
object KvAutoCompact {

  /** Policy compactions run in this JVM (gate/spec observability). */
  val compactions = new java.util.concurrent.atomic.AtomicLong

  /** The post-data-commit policy hook — BOTH standing policies, in
    * the only sound order: compaction first (it appends a
    * maintenance version), then retention (so the keep_last bound
    * holds on what the commit actually left behind).
    */
  def maybeMaintain(path: String): Unit = {
    maybeCompact(path)
    maybeExpire(path)
  }

  /** `expire.keep_last` — the retention policy: drop history beyond
    * the newest n versions through the SAME reclamation the manual
    * `system.expire_snapshots` runs (tagged versions and
    * branch-referenced files survive; a streaming change-feed
    * consumer that falls further behind than n degrades to the
    * documented initial-snapshot resume — pick n with consumers in
    * mind). Checking costs one directory listing when there is
    * nothing to drop.
    */
  def maybeExpire(path: String): Unit = {
    val meta = KvBucketing.readMetaFull(path)
    val keep = meta.autoExpire.getOrElse(return)
    if (!meta.snapshots) return
    // a rebucket in flight owns the table's history bookkeeping
    if (meta.rebucketTarget.isDefined) return
    if (KvSnapshots.versions(path).size <= keep) return
    KvSnapshots.expire(path, keep)
    ()
  }

  def maybeCompact(path: String): Unit = {
    val meta = KvBucketing.readMetaFull(path)
    val threshold = meta.autoCompact.getOrElse(return)
    if (!meta.snapshots) return
    // a rebucket in flight owns the layout — the quarantine clears
    // before any policy rewrite may touch placement
    if (meta.rebucketTarget.isDefined) return
    val head = KvSnapshots.latest(path).getOrElse(return)
    val data = KvSnapshots.dataFiles(
      KvSnapshots.membersWithStats(path, head))
    // SELECTIVE, SPARE-THE-LARGEST victim choice. A hard t-file
    // bound forces SOME re-merging of accumulated data (with at most
    // t files, N trickle commits cannot all avoid each other —
    // the LSM size-tiering trade), so the goal is good constants,
    // not a bound no policy can meet:
    //   - only groups (buckets, or the whole table unbucketed) OVER
    //     the threshold participate at all;
    //   - within a breached group, everything but the single LARGEST
    //     file (exact manifest row count; ties by name) merges into
    //     one — the group lands at 2 files, so it re-breaches only
    //     after (t−1) further commits, and the biggest accumulation
    //     is never re-read. Measured (AUTOCOMPACT_PROBE.json, t=4):
    //     write amplification 3.3× at 24 commits, 7.3× at 72 —
    //     sub-linear in commits and strictly better than the
    //     minimal-merge alternative (4.3×/10.4×), with 3× fewer
    //     maintenance commits; raising t lowers it further;
    //   - files with TOMBSTONES are never victims: replacing a data
    //     file while its positional deletes stay members would break
    //     the live-row interlock (and folding them is
    //     rewrite_buckets' job — the policy only bounds file COUNT).
    val tombstoned: Set[String] =
      KvSnapshots.deleteIndex(path, head).keySet
    def victimsOf(group: Seq[KvSnapshots.KvFileStat]): Seq[String] = {
      if (group.size <= threshold) return Nil
      val eligible = group.filterNot(f => tombstoned(f.name))
      if (eligible.size < 2) return Nil
      val spared =
        if (threshold >= 2)
          Seq(eligible.maxBy(f => (f.rows, f.name)).name)
        else Nil
      eligible.map(_.name).filterNot(spared.contains)
    }
    val victims: Seq[String] = (meta.buckets match {
      case Some(_) =>
        data.groupBy(f => KvBucketing.fileBucket(f.name))
          .values.toSeq.flatMap(g => victimsOf(g.toSeq))
      case None => victimsOf(data)
    }).sorted
    if (victims.isEmpty) return
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(return)
    val keyName = KvSchema.keyNameOf(path)
    // Read ONLY the victims (scan_files) and replace exactly them
    // (replace_files): untouched buckets and each breached bucket's
    // big file are never read, never rewritten, never restated —
    // this is the whole difference between a policy a 100 TB table
    // can run on every commit and one that rewrites the table.
    val src = spark.read
      .format("graft.sources.KvJsonlSink")
      .option("scan_files", victims.mkString(","))
      .load(path)
    val shaped = meta.buckets match {
      case Some(n) =>
        val bucketExpr = KvBucketing.bucketExprFor(
          col(keyName), KvSchema.keyType(KvSchema.currentCols(path)), n)
        src.repartition(n, bucketExpr)
          .sortWithinPartitions(col(keyName))
      case None =>
        src.repartition(1).sortWithinPartitions(col(keyName))
    }
    try {
      shaped.write
        .format("graft.sources.KvJsonlSink")
        .option("layout_rewrite", "true")
        .option("maintenance", "true")
        .option("maintenance_base", head.toString)
        .option("replace_files", victims.mkString(","))
        .mode("append")
        .save(path)
      compactions.incrementAndGet()
      ()
    } catch {
      // base pin lost to a concurrent commit: the policy re-fires on
      // that commit's own trigger — skipping is the correct move (the
      // user's write already committed; only the advisory rewrite
      // yields)
      case _: KvSnapshots.CommitConflictException => ()
    }
  }
}
