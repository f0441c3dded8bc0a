package graft.sources

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}

/** The offset machinery both kv version streams share — the rows
  * feed below and the `$changes` stream (KvChanges.scala): offset =
  * manifest version, admission by commits, the AvailableNow drain
  * pin and the fail-loud checkpoint check. A subclass only plans a
  * version range's partitions and reads them. `what` names the
  * stream in the checkpoint error, `legacyName` in the no-arg
  * `latestOffset` error.
  */
abstract class KvVersionStream(
    path: String, maxBytesPerTrigger: Option[Long], what: String,
    legacyName: String)
    extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** AvailableNow drain target, captured EXPLICITLY at prepare time
    * (the Kafka source idiom — see EventReplaySource for the longer
    * rationale): commits landing after query start must not extend
    * the drain.
    */
  @volatile private var availableNowEnd: Option[Int] = None

  private def head: Int =
    availableNowEnd.getOrElse(KvSnapshots.latest(path).getOrElse(0))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(KvSnapshots.latest(path).getOrElse(0))

  /** A FRESH stream starts just before the OLDEST RETAINED snapshot
    * (not 0): after `expire_snapshots` the early manifests are gone,
    * and anchoring at oldest−1 makes the first batch the oldest
    * retained snapshot's full membership — the "initial snapshot"
    * semantics every table-stream source ships.
    */
  override def initialOffset(): Offset =
    KvVersionOffset(
      KvSnapshots.versions(path).headOption.map(_ - 1).getOrElse(0))

  override def deserializeOffset(json: String): Offset =
    KvVersionOffset.parse(json)

  // Admission-control sources get the (start, limit) overload; the
  // legacy no-arg form must never be called.
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      s"$legacyName implements SupportsAdmissionControl — " +
        "latestOffset(start, limit) is the entry point")

  /** Admission: by default ONE commit per micro-batch, whatever the
    * limit asks — version grain is the natural CDC unit (a commit is
    * indivisible) and row-based limits don't subdivide it. With
    * `maxBytesPerTrigger` set, a batch admits as many CONSECUTIVE
    * commits as fit the bytes target (always at least one — the
    * progress guarantee every Spark source honors). That turns a
    * from-scratch replay from O(commits) micro-batches into
    * O(data / target): the difference between a 100 TB table's
    * history replaying in hours of per-commit checkpoint round-trips
    * versus a bounded number of right-sized batches.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KvVersionOffset].version
    // A checkpoint AHEAD of the table's history (table dropped and
    // recreated under the same path, or manifests lost) must fail
    // loud, mirroring the expired-version error in
    // planInputPartitions — silently clamping would plan empty
    // batches forever, masking that the checkpoint no longer
    // corresponds to this table. `head` (not the availableNow pin) is
    // the comparison point: a drain target captured below the
    // checkpoint is the same staleness.
    val latest = KvSnapshots.latest(path).getOrElse(0)
    if (s > latest)
      throw new IllegalStateException(
        s"$what of $path resumed from checkpoint version $s, " +
          s"but the table's latest snapshot is v$latest — the " +
          "checkpoint does not belong to this table's history " +
          "(dropped and recreated?); restart with a fresh checkpoint")
    KvVersionOffset(KvFeedAdmission.admit(
      path, s, math.max(s, head), maxBytesPerTrigger))
  }

  override def reportLatestOffset(): Offset = KvVersionOffset(head)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Streaming CHANGE FEED over a snapshotted kv table — `spark
  * .readStream.table("graft_kv.default.t")`, the Delta-CDF /
  * Iceberg-incremental-read shape: the table's own commit log (its
  * snapshot manifests, KvSnapshots.scala) doubles as the streaming
  * offset log.
  *
  *   - Offset = manifest VERSION. `initialOffset` is version 0
  *     (before the first commit); the checkpoint therefore resumes
  *     mid-history exactly like any other source.
  *   - One COMMIT per micro-batch (admission control: `latestOffset
  *     (start, limit)` advances a single version), so batch N carries
  *     exactly commit N's delta — the grain downstream CDC consumers
  *     reason about. Under Trigger.AvailableNow the engine keeps
  *     planning one-commit batches until the drain target captured at
  *     prepare time is reached.
  *   - A batch's rows are the files ADDED by its commit
  *     (`members(v) -- members(v-1)`): exact for append-only history
  *     (INSERT INTO). A copy-on-write rewrite (DML, INSERT OVERWRITE)
  *     re-adds its surviving rows and its removals are NOT emitted —
  *     the documented file-add-feed contract; full CDC would need
  *     per-commit tombstone manifests.
  *
  * Files already committed never change (the sink only ever publishes
  * new names), so a batch is replayable forever — the property that
  * makes checkpoint recovery exact.
  */
class KvChangeFeedStream(
    path: String, fields: Array[String],
    cols: Seq[KvSchema.Col] = KvSchema.Legacy,
    maxBytesPerTrigger: Option[Long] = None)
    extends KvVersionStream(
      path, maxBytesPerTrigger, "change feed", "kv changefeed") {

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KvVersionOffset].version
    val e = end.asInstanceOf[KvVersionOffset].version
    if (e <= s) Array.empty
    else {
      // Union of per-commit deltas across (s, e] — normally one
      // version, but a checkpoint restart replays whatever range the
      // offset log pinned. Every version IN the range must still be
      // retained (an expired one means the checkpoint predates the
      // table's retained history — fail loud, the deltas are gone);
      // a missing PREDECESSOR manifest only degrades the diff to the
      // version's full membership — at-least-once across expiration,
      // the earliest-offset-reset contract.
      val before: Set[String] =
        if (s == 0) Set.empty
        else KvSnapshots.membersIfPresent(path, s)
          .map(_.toSet).getOrElse(Set.empty)
      val added = (s + 1 to e).flatMap { v =>
        val cur = KvSnapshots.membersIfPresent(path, v).getOrElse(
          throw new IllegalStateException(
            s"change feed of $path needs snapshot v$v, which has " +
              s"been expired (retained: " +
              s"${KvSnapshots.versions(path).mkString(", ")}) — " +
              "restart the stream with a fresh checkpoint to resume " +
              "from the oldest retained snapshot"))
        val prevOpt: Option[Set[String]] =
          if (v == 1) Some(Set.empty)
          else KvSnapshots.membersIfPresent(path, v - 1).map(_.toSet)
        prevOpt match {
          // MAINTENANCE commit (live rows unchanged — KvSnapshots
          // .isMaintenance): its re-added files are the SAME rows
          // relocated, so the add-only feed emits nothing. Never
          // applies to a degraded diff (missing predecessor) — there
          // the full membership IS the contract.
          case Some(_) if KvSnapshots.isMaintenance(path, v) =>
            Seq.empty
          case Some(prev) => cur.filterNot(prev.contains)
          case None => cur
        }
      }.distinct
        .filterNot(before.contains)
        // DATA files only: a `.del` member added by a merge-on-read
        // DML is a REMOVAL record — the rows feed stays add-only
        // (see the contract above); the `$changes` CDC table is
        // where tombstones surface as delete rows.
        .filterNot(KvSnapshots.isDeleteFile)
        .sorted
      // A degraded range (missing predecessor ⇒ a version's FULL
      // membership became the batch — the initial-snapshot case) must
      // apply the END version's tombstones, or rows already deleted
      // by then would resurrect in the replayed snapshot. For pure
      // add-diffs this is a no-op: tombstones never target a file
      // created by the same or a later commit.
      val dels = KvSnapshots.deleteIndex(path, e)
      added
        .map(n => KvInputPartition(
          java.nio.file.Paths.get(path, n).toString,
          dels.getOrElse(n, Array.empty[Long])): InputPartition)
        .toArray
    }
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new KvReaderFactory(fields, Array.empty, cols = cols)
}

/** `{"version":N}` in the checkpoint offset log. */
case class KvVersionOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object KvVersionOffset {
  private val Json = """\{"version":(\d+)\}""".r
  def parse(json: String): KvVersionOffset = json.trim match {
    case Json(v) => KvVersionOffset(v.toInt)
    case other => throw new IllegalArgumentException(
      s"bad kv changefeed offset: $other")
  }
}

/** Shared streaming-admission arithmetic for the rows feed AND the
  * `$changes` CDC stream: walk forward from a start version,
  * admitting as many consecutive commits as fit a bytes target —
  * always at least one (the progress guarantee every Spark source
  * honors). Without a target, one commit per batch: the natural CDC
  * grain. With one, a from-scratch replay of a 100 TB table's history
  * plans O(data / target) micro-batches instead of O(commits).
  */
private[sources] object KvFeedAdmission {

  /** Highest admissible end version in (start, target]. */
  def admit(
      path: String, start: Int, target: Int,
      maxBytesPerTrigger: Option[Long]): Int =
    maxBytesPerTrigger match {
      case None => math.min(start + 1, target)
      case Some(maxB) =>
        // Sizes come from the live files (metadata-only — one
        // Files.size per added file, the same listing the batch
        // planner pays); a version whose predecessor manifest expired
        // degrades to full membership, matching what the planner will
        // actually read for it.
        var v = start
        var total = 0L
        var continue = true
        while (continue && v < target) {
          val next = addedBytes(path, v + 1)
          if (v > start && total + next > maxB) continue = false
          else { v += 1; total += next }
        }
        v
    }

  /** Bytes of the data files version `v` ADDED over its predecessor
    * (the batch content a feed emits for it).
    */
  private def addedBytes(path: String, v: Int): Long = {
    val cur = KvSnapshots.membersIfPresent(path, v)
      .getOrElse(Seq.empty)
    val prev: Set[String] =
      if (v <= 1) Set.empty
      else KvSnapshots.membersIfPresent(path, v - 1)
        .map(_.toSet).getOrElse(Set.empty)
    cur.filterNot(prev.contains)
      .filterNot(KvSnapshots.isDeleteFile)
      .map { n =>
        try java.nio.file.Files.size(java.nio.file.Paths.get(path, n))
        catch { case _: java.io.IOException => 0L }
      }.sum
  }
}
