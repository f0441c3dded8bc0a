package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `<table>$changes` CDC view of a snapshotted kv table — the
  * Delta `table_changes` / Iceberg `.changes` metadata-table shape:
  * every retained commit replayed as typed CHANGE ROWS
  * (`_change_type` ∈ insert | delete, `_commit_version` = the
  * snapshot that produced it), batch (whole retained history) or
  * streaming (one commit per micro-batch, same offset machinery as
  * the rows feed).
  *
  * Unlike the rows feed (KvChangeFeed.scala — add-only by documented
  * contract), this table emits REMOVALS:
  *
  *   - a merge-on-read DML's tombstones become delete rows — the
  *     positions are resolved against their (still retained) data
  *     files, so the emitted row carries the actual deleted values;
  *   - a copy-on-write rewrite's removed files become delete rows
  *     for every row LIVE at the predecessor version (the
  *     predecessor's tombstones are subtracted — a row deleted at
  *     v−1 must not be re-reported deleted at v), and its added
  *     files become insert rows. A rewrite that re-adds survivors
  *     therefore RESTATES them (delete+insert of the same values) —
  *     the honest row-set diff of a file-granular log, exactly what
  *     Iceberg's changelog emits for rewritten files without
  *     row-lineage tracking;
  *   - a REMOVED delete file (`system.rollback` across a MoR DELETE:
  *     the data file stays a member, its tombstones vanish) emits
  *     INSERT rows for the resurrected positions — rows live again
  *     at the commit are part of its row-set diff.
  *
  * Everything is computed from retained manifests + retained files,
  * so a batch read is replayable and a streaming checkpoint resumes
  * exactly; expired history degrades the OLDEST retained version to
  * an initial-snapshot batch (all live rows as inserts), the
  * earliest-offset contract every table-stream source ships.
  */
object KvChanges {

  val Schema: StructType = StructType(Seq(
    StructField("key", LongType),
    StructField("value", StringType),
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", IntegerType, nullable = false)))

  /** The changes view of an EVOLVED table: its CURRENT columns plus
    * the two bookkeeping columns — the Delta-CDF convention (history
    * is read with the table's current schema; rows written before an
    * ADD COLUMN surface NULL there, renames apply retroactively via
    * the stable field ids).
    */
  def schemaFor(cols: Seq[KvSchema.Col]): StructType =
    StructType(KvSchema.toStruct(cols).fields.toSeq ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", IntegerType, nullable = false)))

  /** Change partitions of commit `v`. `initial` = emit the version's
    * full LIVE membership as inserts (predecessor expired or absent —
    * the initial-snapshot degradation); otherwise the exact
    * add/remove/tombstone diff against v−1.
    */
  def commitPartitions(
      path: String, v: Int, initial: Boolean): Seq[InputPartition] = {
    // MAINTENANCE commits (compaction/cluster/zorder/rewrite_buckets/
    // rebucket — KvSnapshots.isMaintenance) are live-row-set no-ops:
    // emitting their file diff would RESTATE every surviving row of
    // every rewritten file, and at 100 TB one compaction would push
    // the whole table through every CDC consumer as phantom changes
    // (Delta's dataChange=false / Iceberg RewriteFiles semantics).
    // The skip never applies to an INITIAL snapshot: when the
    // predecessor expired, this version's full membership IS the
    // contract, whatever kind of commit produced it.
    if (!initial && KvSnapshots.isMaintenance(path, v)) return Seq.empty
    val cur = KvSnapshots.membersWithStats(path, v).map(_.name)
    val curData = cur.filterNot(KvSnapshots.isDeleteFile).toSet
    val curDels = cur.filter(KvSnapshots.isDeleteFile).toSet
    def part(
        file: String, tpe: String, include: Array[Long],
        exclude: Array[Long], useInclude: Boolean) =
      KvChangePartition(
        java.nio.file.Paths.get(path, file).toString,
        v, tpe, include, exclude, useInclude)
    if (initial) {
      val dels = KvSnapshots.deleteIndex(path, v)
      curData.toSeq.sorted.map(f =>
        part(f, "insert", Array.empty,
          dels.getOrElse(f, Array.empty[Long]), useInclude = false))
    } else {
      val prev: Seq[String] =
        if (v == 1) Seq.empty
        else KvSnapshots.members(path, v - 1)
      val prevData = prev.filterNot(KvSnapshots.isDeleteFile).toSet
      val prevDels = prev.filter(KvSnapshots.isDeleteFile).toSet
      val prevDelIndex: Map[String, Array[Long]] =
        if (v == 1) Map.empty else KvSnapshots.deleteIndex(path, v - 1)
      val inserts = (curData -- prevData).toSeq.sorted.map(f =>
        part(f, "insert", Array.empty, Array.empty, useInclude = false))
      val removed = (prevData -- curData).toSeq.sorted.map(f =>
        part(f, "delete", Array.empty,
          prevDelIndex.getOrElse(f, Array.empty[Long]),
          useInclude = false))
      // New tombstones: read each one's (file, positions) and emit
      // exactly those rows as deletes. The referenced data files are
      // members of v−1 (a delta commit keeps every previous member),
      // so they are retained on disk as long as v−1's manifest is.
      val tombstoned = (curDels -- prevDels).toSeq.sorted
        .flatMap(d => KvSnapshots.readDeleteFile(path, d).toSeq)
        .groupMapReduce(_._1)(_._2)(_ ++ _)
        .toSeq.sortBy(_._1)
        .map { case (f, ps) =>
          part(f, "delete", ps.distinct.toArray.sorted, Array.empty,
            useInclude = true)
        }
      // REMOVED delete files — `system.rollback` across a MoR DELETE
      // produces exactly this: a data file stays a member while the
      // `.del` that tombstoned some of its rows vanishes from the
      // membership. Those rows are live again at v, so the commit's
      // honest row-set diff must emit them as INSERTS (resurrections);
      // dropping them silently would desynchronize every CDC consumer
      // (the incremental-MV gate's fold, most directly). Positions
      // still tombstoned at v (by a delete file both versions share)
      // are NOT back — subtract the current index per file.
      val resurrected =
        if ((prevDels -- curDels).isEmpty) Seq.empty
        else {
          val curDelIndex = KvSnapshots.deleteIndex(path, v)
          (curData intersect prevData).toSeq.sorted.flatMap { f =>
            val was = prevDelIndex.getOrElse(f, Array.empty[Long])
            val still = curDelIndex.getOrElse(f, Array.empty[Long]).toSet
            val back = was.filterNot(still)
            if (back.isEmpty) None
            else Some(part(f, "insert", back, Array.empty,
              useInclude = true))
          }
        }
      inserts ++ removed ++ tombstoned ++ resurrected
    }
  }
}

/** One change-emitting file read: `useInclude` → emit ONLY the rows
  * at `include` positions (tombstone-sourced deletes); else emit all
  * rows EXCEPT `exclude` positions (added files / removed files net
  * of prior tombstones). Both position lists are sorted.
  */
case class KvChangePartition(
    file: String, version: Int, changeType: String,
    include: Array[Long], exclude: Array[Long], useInclude: Boolean)
    extends InputPartition

class KvChangesTable(path: String, tableName: String)
    extends Table with SupportsRead {
  private lazy val cols: Seq[KvSchema.Col] = KvSchema.currentCols(path)
  override def name(): String = tableName
  override def schema(): StructType = KvChanges.schemaFor(cols)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // Same size-based streaming admission knob as the rows feed: a
    // CDC replay defaults to one commit per batch (the transactional
    // fold grain) but can right-size batches by bytes — correctness
    // is unaffected either way because every change row carries its
    // `_commit_version`.
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map { v =>
      val b = org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(v)
      require(b > 0, s"maxBytesPerTrigger must be positive; got $v")
      b
    }
    new KvChangesScanBuilder(path, cols, maxBytes)
  }
}

class KvChangesScanBuilder(
    path: String, cols: Seq[KvSchema.Col],
    maxBytesPerTrigger: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = KvChanges.schemaFor(cols)
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new KvChangesScan(path, required, cols, maxBytesPerTrigger)
}

class KvChangesScan(
    path: String, required: StructType, cols: Seq[KvSchema.Col],
    maxBytesPerTrigger: Option[Long] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"kvjsonl changes $path"

  /** Batch = the WHOLE retained history: any version whose
    * predecessor manifest is gone — the oldest retained one, or a
    * version just past a GAP (tag-protected retention is
    * non-contiguous after expiration) — degrades to an initial
    * snapshot; exact diffs everywhere else.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val versions = KvSnapshots.versions(path)
    versions.flatMap { v =>
      val initial = v > 1 &&
        KvSnapshots.membersIfPresent(path, v - 1).isEmpty
      KvChanges.commitPartitions(path, v, initial)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvChangesReaderFactory(required.fieldNames, cols)

  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new KvChangesStream(path, required.fieldNames, cols,
      maxBytesPerTrigger)
}

class KvChangesReaderFactory(
    fields: Array[String], cols: Seq[KvSchema.Col] = KvSchema.Legacy)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new KvChangesReader(
      partition.asInstanceOf[KvChangePartition], fields, cols)
}

/** Sequential file read with the same one-pointer position merge as
  * the main reader, emitting (pruned) change rows.
  */
class KvChangesReader(
    p: KvChangePartition, fields: Array[String],
    cols: Seq[KvSchema.Col] = KvSchema.Legacy)
    extends PartitionReader[InternalRow] {

  /** Data columns resolve by CURRENT name against the registry (same
    * contract as the main scan); history rows predating an ADD COLUMN
    * surface NULL there. Only pay the extras parse when a projected
    * field needs it.
    */
  private val colByName: Map[String, KvSchema.Col] =
    cols.map(c => c.name -> c).toMap
  private val needsExtras =
    fields.exists(f => colByName.get(f).exists(_.id > 2))

  private val in = java.nio.file.Files.newBufferedReader(
    java.nio.file.Paths.get(p.file),
    java.nio.charset.StandardCharsets.UTF_8)
  private val typeUtf8 = UTF8String.fromString(p.changeType)
  private var pos = -1L
  private var cursor = 0
  private var row: InternalRow = _
  private var done = false

  @annotation.tailrec
  final override def next(): Boolean =
    if (done) false
    else {
      val line = in.readLine()
      if (line == null) { done = true; false }
      else {
        pos += 1
        val emit =
          if (p.useInclude) {
            while (cursor < p.include.length && p.include(cursor) < pos)
              cursor += 1
            cursor < p.include.length && p.include(cursor) == pos
          } else {
            while (cursor < p.exclude.length && p.exclude(cursor) < pos)
              cursor += 1
            !(cursor < p.exclude.length && p.exclude(cursor) == pos)
          }
        if (!emit) next()
        else {
          val (k, v, extras) =
            if (needsExtras) KvSchema.parseRow(line)
            else {
              val (k0, v0) = KvJsonlSink.parseLine(line)
              (k0, v0, null)
            }
          row = InternalRow.fromSeq(fields.toSeq.map {
            case "_change_type" => typeUtf8
            case "_commit_version" => Int.box(p.version)
            case f => colByName.get(f) match {
              case Some(c) if c.id == 1 => k match {
                case None => null
                case Some(l: Long) => Long.box(l)
                case Some(s: String) => UTF8String.fromString(s)
                case Some(other) => throw new IllegalStateException(
                  s"kvjsonl key token of unexpected class ${other.getClass}")
              }
              case Some(c) if c.id == 2 =>
                v.map(UTF8String.fromString).orNull
              case Some(c) => extras.get(c.storageName) match {
                case None => null
                case Some(x) =>
                  KvSchema.materializeExtra(x, c.dtype, c.storageName)
              }
              case None => throw new IllegalArgumentException(
                s"kvjsonl changes scan cannot produce column $f " +
                  s"(columns: ${cols.map(_.name).mkString(", ")})")
            }
          })
          true
        }
      }
    }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Streaming half: the rows feed's offset machinery
  * ([[KvVersionStream]]), but batches carry typed change rows instead
  * of bare adds.
  */
class KvChangesStream(
    path: String, fields: Array[String],
    cols: Seq[KvSchema.Col] = KvSchema.Legacy,
    maxBytesPerTrigger: Option[Long] = None)
    extends KvVersionStream(
      path, maxBytesPerTrigger, "changes stream", "kv changes stream") {

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KvVersionOffset].version
    val e = end.asInstanceOf[KvVersionOffset].version
    if (e <= s) Array.empty
    else (s + 1 to e).flatMap { v =>
      require(
        KvSnapshots.membersIfPresent(path, v).isDefined,
        s"changes stream of $path needs snapshot v$v, which has been " +
          s"expired (retained: " +
          s"${KvSnapshots.versions(path).mkString(", ")}) — restart " +
          "with a fresh checkpoint to resume from the oldest " +
          "retained snapshot")
      // A missing PREDECESSOR degrades this commit to an initial
      // snapshot (all live rows as inserts) — at-least-once across
      // expiration, same contract as the rows feed.
      val initial = v > 1 &&
        KvSnapshots.membersIfPresent(path, v - 1).isEmpty
      KvChanges.commitPartitions(path, v, initial)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvChangesReaderFactory(fields, cols)
}
