package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** MERGE-ON-READ row-level DML for kvjsonl tables (`TBLPROPERTIES
  * ('dml'='mor')`) — the DELTA-BASED protocol (`SupportsDelta`,
  * SPARK-35801), the Iceberg position-delete shape:
  *
  *   - the row ID is (`_file`, `_pos`) — the physical line address the
  *     scan already materializes as metadata columns;
  *   - DELETE writes one TOMBSTONE LINE per matched row into a
  *     positional delete file (`delete-<job>-<part>.del`, lines
  *     `dataFile<TAB>pos`) instead of rewriting the survivors'
  *     file groups — at 100 TB a 0.1% delete costs 0.1% tombstone
  *     writes, not a full-group rewrite (the copy-on-write debit
  *     VERDICT r13 named as the substrate's largest scale gap);
  *   - UPDATE / MERGE are represented as delete+insert
  *     (`representUpdateAsDeleteAndInsert`): tombstone the old
  *     address, append the new row to an ordinary data file;
  *   - the commit APPENDS both kinds to the snapshot manifest under
  *     the same OCC conditional put as every other commit
  *     (KvSnapshots.commitWith), with Iceberg-style conflict
  *     validation: concurrent pure data APPENDS rebase fine (the
  *     delta only addresses rows that existed at scan time);
  *     anything else that landed since the operation's scan —
  *     a concurrent DELETE's tombstones, a rewrite that removed
  *     files — aborts with CommitConflictException rather than
  *     committing a delta computed against vanished state;
  *   - scans apply tombstones in the reader with a sequential merge
  *     (KvPartitionReader), so every read path — including this
  *     operation's own rewrite scan — sees only live rows: an UPDATE
  *     can never resurrect a previously deleted row.
  *
  * Unlike the copy-on-write operation (KvRowLevelOperation), the scan
  * here keeps filter pushdown and runtime filtering ENABLED: a delta
  * commit only touches the rows it addresses, so skipping
  * non-matching rows is exactly right (the CoW hazard — row-skipping
  * survivors out of a whole-table replacement — does not exist).
  *
  * MoR requires snapshots: delete files are manifest members, and
  * time travel keeps reading pre-DML versions without them.
  */
class KvMorRowLevelOperation(
    path: String, cmd: RowLevelOperation.Command,
    buckets: Option[Int])
    extends RowLevelOperation with SupportsDelta {

  /** The snapshot version this operation's scan will read — captured
    * at operation creation, the base the commit-time conflict
    * validation compares against.
    */
  private val scanVersion: Int = KvSnapshots.latest(path).getOrElse(0)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    // Membership pins to the scan version (conflict detection needs
    // a stable base), but the SCHEMA must be the table's CURRENT one:
    // Catalyst plans the whole rewrite against table.schema(), and
    // the re-insert rows are written current-shape.
    new KvScanBuilder(path, buckets, snapshots = true,
      pinnedVersion = Some(scanVersion).filter(_ > 0),
      colsOverride = Some(KvSchema.currentCols(path)))

  override def rowId(): Array[NamedReference] =
    Array(
      Expressions.column(KvJsonlSink.FileColumn),
      Expressions.column(KvJsonlSink.PosColumn))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder = {
    // The delta write's ROW schema (inserts / the re-inserted half of
    // updates) is the table schema; row-id and metadata projections
    // arrive separately through the DeltaWriter calls. A pure DELETE
    // writes no data rows at all — its schema is EMPTY (struct<>),
    // discovered the hard way on the first end-to-end DELETE.
    val s = info.schema()
    val want = KvSchema.currentCols(path)
    require(
      s.isEmpty ||
        (s.length == want.length &&
          s.zip(want).forall { case (f, c) =>
          KvSchema.normalize(f.dataType) == c.dtype }),
      s"kvjsonl MoR delta write needs " +
        s"${KvSchema.toStruct(want).catalogString} or no data " +
        s"columns (DELETE); got ${s.catalogString}")
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new KvMorDeltaBatchWrite(path, info.queryId(), scanVersion)
      }
    }
  }

  override def description(): String =
    s"kvjsonl MoR $cmd on $path (scan v$scanVersion)"
}

class KvMorDeltaBatchWrite(
    path: String, jobId: String, scanVersion: Int)
    extends DeltaBatchWrite {

  // The table's own writer factory (KvDataWriter is also the delta
  // writer): inserts route by the layout read once, driver-side — an
  // in-flight rebucket's target count included — as for every write.
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    KvWriterFactory.forTable(path, jobId)

  /** Publish every task's data and delete files through the one
    * publish (data files get their bloom sidecars), then APPEND their
    * manifest entries. A delete file's `rows` is its tombstone count —
    * what keeps the manifest-only COUNT(*) exact on a MoR table. The
    * 0-row file a plain task opens eagerly is not data: a pure DELETE
    * adds only its tombstones.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = java.nio.file.Paths.get(path)
    val published = messages.toSeq
      .flatMap { case KvCommitMessage(fs) => fs }.filter(_.rows > 0L)
    published.foreach(KvJsonlSink.publish(dir, _))
    val added = published.map(_.stat)
    KvSnapshots.commitWith(path) { base =>
      val cur =
        if (base == 0) Seq.empty[KvSnapshots.KvFileStat]
        else KvSnapshots.membersWithStats(path, base)
      if (base != scanVersion) {
        // Conflict validation (the Iceberg validateDataFilesExist /
        // validateNoConflictingDeletes shape): commits that landed
        // since this operation's scan are tolerable ONLY if they are
        // pure data appends — the delta addresses (file, pos) row ids
        // that still exist and are still live. A removed file or a
        // concurrent tombstone falsifies that; committing anyway
        // could delete the wrong rows or double-tombstone (which
        // would corrupt the manifest's exact live-row arithmetic).
        val atScan: Set[String] =
          if (scanVersion == 0) Set.empty
          else KvSnapshots.membersWithStats(path, scanVersion)
            .map(_.name).toSet
        val now = cur.map(_.name).toSet
        val removed = atScan -- now
        val newDeletes =
          (now -- atScan).filter(KvSnapshots.isDeleteFile)
        if (removed.nonEmpty || newDeletes.nonEmpty)
          throw new KvSnapshots.CommitConflictException(
            s"MoR $jobId on $path scanned v$scanVersion but v$base " +
              "holds conflicting changes since " +
              s"(removed: ${removed.mkString(",")}; concurrent " +
              s"deletes: ${newDeletes.mkString(",")}) — rerun the DML")
      }
      cur ++ added
    }
    KvJsonlSink.cleanupJobTemp(path, jobId)
    java.nio.file.Files.write(
      dir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    KvJsonlSink.cleanupJobTemp(path, jobId)
}
