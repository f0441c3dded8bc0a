package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.Distribution
import org.apache.spark.sql.connector.expressions.{SortOrder, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `kvjsonl` DataSourceV2 WRITE path — the sink-side twin of the
  * `webpage` read connector, implementing the V2 two-phase commit
  * protocol that makes distributed writes EXACTLY-ONCE under task
  * retries and speculation:
  *
  *   1. every task attempt writes to a private temp file keyed by
  *      (partitionId, taskId) — concurrent attempts never collide;
  *   2. a task's `commit()` returns the temp path as its
  *      WriterCommitMessage; `abort()` deletes it;
  *   3. the DRIVER's `BatchWrite.commit` publishes exactly the files
  *      named in the commit messages (rename into the target dir +
  *      `_SUCCESS` manifest) — uncommitted/duplicate attempts are
  *      never visible to readers;
  *   4. `BatchWrite.abort` removes all temp output.
  *
  * Rows are (key BIGINT, value STRING) → one JSON line each, readable
  * back with `spark.read.schema(...).json(dir)` — the
  * `v2_sink_roundtrip` query pins the round trip through the oracle
  * gate, and `V2SinkSpec` drives the protocol edges directly
  * (duplicate attempt publication, temp-file invisibility).
  *
  * Local-filesystem rename stands in for the deployment FS committer;
  * the protocol shape (attempt isolation + driver-side publish) is
  * exactly what a cloud committer implements with multipart uploads.
  */
class KvJsonlSink extends TableProvider {
  // Format-path reads of a SCHEMA-EVOLVED table dir (written through
  // the catalog) must surface the evolved columns, not the founding
  // pair — the registry travels with the directory.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    if (path == null || path.isEmpty) KvJsonlSink.Schema
    else KvSchema.toStruct(KvSchema.currentCols(path))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "kvjsonl sink requires a path (\".save(dir)\" or option(\"path\"))")
    new KvJsonlTable(path)
  }
}

object KvJsonlSink {
  val Schema: StructType = StructType(Seq(
    StructField("key", LongType),
    StructField("value", StringType)))

  /** Hidden `_file` metadata column (the provenance column every
    * file-based source exposes); also the row-level operations'
    * required metadata attribute — see KvRowLevelOperation.
    */
  val FileColumn = "_file"

  /** Hidden `_pos` metadata column: the row's 0-based physical line
    * ordinal within its file. (`_file`, `_pos`) is the stable row
    * address the merge-on-read path uses as its ROW ID — positional
    * delete files tombstone exactly these addresses (see
    * KvMerge.scala), the Iceberg position-delete shape.
    */
  val PosColumn = "_pos"

  def tempDir(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path, "_temporary")

  /** Per-JOB attempt scratch: `_temporary/<jobId>/`. Batch jobs are
    * scoped to their own subdir so one job's commit-time cleanup can
    * never delete a CONCURRENT job's in-flight attempt files — found
    * by KvOccSpec's racing-INSERT test (NoSuchFileException in the
    * loser's writer when the winner's commit swept the shared dir).
    * A streaming epoch's job id is its epoch tag (`[q<qid>-]e<epoch>`),
    * so an epoch's scratch is one subdir too.
    */
  def tempDir(path: String, jobId: String): java.nio.file.Path =
    java.nio.file.Paths.get(path, "_temporary", jobId)

  /** Job-scoped temp cleanup: drop this job's subdir, then the base
    * `_temporary` IF now empty — a concurrent job's live subdir keeps
    * it (DirectoryNotEmptyException, swallowed by design); a lone job
    * leaves the table dir as clean as the pre-subdir layout did.
    */
  def cleanupJobTemp(path: String, jobId: String): Unit = {
    graft.Fs.deleteRecursively(tempDir(path, jobId))
    try { java.nio.file.Files.deleteIfExists(tempDir(path)); () }
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }

  /** Publish one written file into the table dir: move its temp file
    * to the final name, then write its bloom sidecar. The sidecar
    * lands AFTER its data file: a reader racing the window sees data
    * without sidecar = "unknown, don't skip" — the safe direction.
    * Every commit (batch, streaming epoch, merge-on-read) publishes
    * through here.
    */
  def publish(dir: java.nio.file.Path, f: KvWrittenFile): Unit = {
    java.nio.file.Files.move(
      java.nio.file.Paths.get(f.tempFile),
      dir.resolve(f.finalName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    if (f.blooms.nonEmpty)
      KvBloom.writeSidecar(
        dir.resolve(KvBloom.sidecarName(f.finalName)), f.blooms)
  }

  /** One founding-schema row → one sink line ([[KvDataWriter]]);
    * [[parseLine]] is its single inverse.
    */
  def formatLine(row: InternalRow): String = {
    val value =
      if (row.isNullAt(1)) "null"
      else "\"" + escape(row.getUTF8String(1).toString) + "\""
    val key = if (row.isNullAt(0)) "null" else row.getLong(0).toString
    s"""{"key":$key,"value":$value}"""
  }

  /** Decode a quoted-escaped string token: `start` points AT the
    * opening quote; returns (decoded, index just past the closing
    * quote). The exact inverse of [[escape]] — one escape dialect
    * format-wide. Bounds-checked so a truncated line fails with the
    * contractual IllegalArgumentException, never an index error.
    */
  def unquoteAt(line: String, start: Int): (String, Int) = {
    require(start < line.length && line.charAt(start) == '"',
      s"bad kvjsonl line: $line")
    var i = start + 1
    val b = new StringBuilder
    while (i < line.length && line.charAt(i) != '"') {
      val c = line.charAt(i)
      if (c == '\\') {
        require(i + 1 < line.length, s"bad kvjsonl line: $line")
        line.charAt(i + 1) match {
          case '"' => b.append('"'); i += 2
          case '\\' => b.append('\\'); i += 2
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'u' =>
            require(i + 6 <= line.length, s"bad kvjsonl line: $line")
            b.append(Integer.parseInt(
              line.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => throw new IllegalArgumentException(
            s"bad escape \\$other in kvjsonl line: $line")
        }
      } else { b.append(c); i += 1 }
    }
    require(i < line.length, s"bad kvjsonl line: $line")
    (b.toString, i + 1)
  }

  /** Parse the key token of a sink line: (key, index of the char
    * right after the token — always the `,` before the value field).
    * The token is SELF-DESCRIBING: `null` → None, a leading quote →
    * a STRING key (string-keyed tables — KvSchema.keyType), anything
    * else → the founding bare long. One parse for both key types, so
    * every reader path (scan, CDC, change feed) handles string-keyed
    * tables with no type flag threaded through.
    */
  def parseKeyTok(line: String): (Option[Any], Int) = {
    require(line.startsWith("{\"key\":"), s"bad kvjsonl line: $line")
    if (7 < line.length && line.charAt(7) == '"') {
      val (s, after) = unquoteAt(line, 7)
      (Some(s), after)
    } else {
      var i = 7
      while (i < line.length && line.charAt(i) != ',') i += 1
      val keyTok = line.substring(7, i)
      (if (keyTok == "null") None else Some(keyTok.toLong), i)
    }
  }

  /** Key-only parse of a sink line — the cheap prefix read the
    * pushed-filter path uses to reject rows before [[parseLine]]
    * pays for the value unescape. Long or String per the table's key
    * type ([[parseKeyTok]]).
    */
  def parseKey(line: String): Option[Any] = parseKeyTok(line)._1

  /** Exact inverse of the writer's line format (see
    * [[formatLine]]): `{"key":K,"value":V}` with K a
    * long, a quoted [[escape]]d string (string-keyed tables) or
    * `null`, and V `null` or a double-quoted [[escape]]d
    * string. Strict by design — these files are only ever written by
    * this sink, so a malformed line is corruption, not dialect. A
    * SCHEMA-EVOLVED line (KvSchema.formatRow) keeps this exact prefix
    * and appends `,"c<id>":...` fields after the value token; this
    * parser stops at the value token either way, so every founding
    * (key, value) projection — the $changes table, the change feed,
    * the fast scan path — reads evolved files unchanged.
    */
  def parseLine(line: String): (Option[Any], Option[String]) = {
    val (key, keyEnd) = parseKeyTok(line)
    var i = keyEnd
    require(line.startsWith(",\"value\":", i),
      s"bad kvjsonl line: $line")
    i += 9
    if (line.startsWith("null", i)) {
      // Terminator check: after the `null` token a well-formed line
      // continues with `}` (founding 2-column format) or `,` (evolved
      // extra fields). Without it a TRUNCATED line `{"key":1,"value":null`
      // would parse cleanly, weakening the "malformed line is
      // corruption" contract this strict parser exists to enforce.
      require(i + 4 < line.length &&
        (line.charAt(i + 4) == '}' || line.charAt(i + 4) == ','),
        s"bad kvjsonl line: $line")
      (key, None)
    }
    else {
      // bounds-checked quoted parse ([[unquoteAt]]) — a line cut at
      // ANY byte inside the value token fails with the contractual
      // IllegalArgumentException, never an index error
      val (v, after) = unquoteAt(line, i)
      // terminator check, same rationale as the null branch: without
      // it a line truncated right before its closing `}` parses
      // cleanly and the corruption contract silently weakens
      require(after < line.length &&
        (line.charAt(after) == '}' || line.charAt(after) == ','),
        s"bad kvjsonl line: $line")
      (key, Some(v))
    }
  }

  /** Minimal JSON string escaping for the value column (the key is a
    * long). Mirrors what a JSON reader must invert; kept tiny because
    * the sink's point is the COMMIT PROTOCOL, not a serializer.
    */
  def escape(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }
}

object KvJsonlTable {
  /** The V2 transform for a partition unit — the one mapping from
    * [[KvBucketing.PartUnit]] to Spark's transform vocabulary.
    */
  def partTransform(
      unit: KvBucketing.PartUnit, colName: String): Transform = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    unit match {
      case KvBucketing.PartDays => E.days(colName)
      case KvBucketing.PartMonths => E.months(colName)
      case KvBucketing.PartYears => E.years(colName)
      case KvBucketing.PartHours => E.hours(colName)
    }
  }

  /** The (distribution, ordering) a kv write requests — one decision
    * for the table's writes and the row-level rewrite
    * (KvRowLevelOperation). `buckets` and `partition` (unit, column
    * name) are the transforms the caller can resolve; a format-path
    * write passes neither. Correctness never depends on the request:
    * the routed writer sends any row to its cell's file. It is the
    * file-count control — each task sees ~one cell and writes ~one
    * file.
    *
    *   - `layoutRewrite` (the system.* maintenance rewrites): the
    *     procedure's own repartition decides file boundaries — a
    *     standing distribution would re-shuffle a range-split rewrite,
    *     and AQE would then coalesce it to one task — while a plain
    *     key sort keeps every per-bucket file sorted (any subsequence
    *     of a key-sorted task stream is key-sorted).
    *   - composed (unit × bucket): cluster by both transforms.
    *   - bucketed: cluster by bucket; a SORTED bucketed table also
    *     orders by (bucket, key), so every bucket FILE lands sorted —
    *     what lets the scan report SupportsReportOrdering and a
    *     co-bucketed sort-merge join skip its sorts.
    *   - date-partitioned: cluster by the partition transform.
    *   - sorted (TBLPROPERTIES 'write.sort'='key'): a GLOBAL key order
    *     — range distribution plus in-partition sort — so each task
    *     emits one file with a key range disjoint from its siblings'
    *     and the manifest zone maps prune from the first INSERT
    *     (Iceberg's write.sort-order as a standing property).
    *   - otherwise nothing.
    */
  def writeRequirement(
      keyName: String, buckets: Option[Int],
      partition: Option[(KvBucketing.PartUnit, String)],
      sorted: Boolean, layoutRewrite: Boolean = false)
      : (Distribution, Array[SortOrder]) = {
    import org.apache.spark.sql.connector.distributions.Distributions
    import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
    val keyAsc = E.sort(E.column(keyName), SortDirection.ASCENDING)
    (buckets, partition) match {
      case _ if layoutRewrite => (Distributions.unspecified(), Array(keyAsc))
      case (Some(n), Some((unit, col))) =>
        (Distributions.clustered(
          Array(partTransform(unit, col), E.bucket(n, keyName))),
          Array.empty)
      case (Some(n), None) =>
        (Distributions.clustered(Array(E.bucket(n, keyName))),
          if (sorted)
            Array(E.sort(E.bucket(n, keyName), SortDirection.ASCENDING),
              keyAsc)
          else Array.empty)
      case (None, Some((unit, col))) =>
        (Distributions.clustered(Array(partTransform(unit, col))),
          Array.empty)
      case _ if sorted => (Distributions.ordered(Array(keyAsc)), Array(keyAsc))
      case _ => (Distributions.unspecified(), Array.empty)
    }
  }
}

class KvJsonlTable(
    path: String,
    viaCatalog: Boolean = false,
    pinnedVersion: Option[Int] = None,
    branch: Option[String] = None)
    extends Table
    with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with SupportsMetadataColumns {
  override def name(): String =
    s"kvjsonl($path${pinnedVersion.fold("")(v => s"@v$v")}" +
      s"${branch.fold("")(b => s"@branch=$b")})"

  /** The table's columns — the founding (key, value) pair unless a
    * `_schema.json` registry records evolution (KvSchema.scala). A
    * PINNED table reports the schema in effect AT that snapshot, so
    * time travel across an ALTER reads old versions with their own
    * shape.
    */
  private lazy val cols: Seq[KvSchema.Col] =
    KvSchema.colsAsOf(path, pinnedVersion)
  override def schema(): StructType = KvSchema.toStruct(cols)

  /** CURRENT display name of the key column (field id 1) — the name
    * every Catalyst-facing transform/ordering reference must carry
    * (the key is a role, not a literal name; KvSchema.keyName).
    */
  private lazy val keyName: String = KvSchema.keyName(cols)

  /** Table meta (see KvBucketing.scala): bucket partitioning ⇒ the
    * scan reports KeyGroupedPartitioning (storage-partitioned joins)
    * and every batch write routes rows to per-bucket files; snapshots
    * ⇒ membership comes from manifests and commits retain history
    * (time travel — see KvSnapshots.scala).
    */
  private lazy val meta: KvBucketing.KvMeta =
    KvBucketing.readMetaFull(path)
  private def buckets: Option[Int] = meta.buckets

  /** The partition transform as (unit, current column name): what the
    * table's writes and its copy-on-write rewrite both cluster by.
    */
  private lazy val partitionCol: Option[(KvBucketing.PartUnit, String)] =
    meta.partition.map { case (unit, id) =>
      unit -> cols.find(_.id == id).map(_.name).getOrElse(
        throw new IllegalStateException(
          s"partition field id $id missing from the schema of $path"))
    }

  override def partitioning(): Array[Transform] =
    buckets.toArray.map(n =>
      org.apache.spark.sql.connector.expressions.Expressions
        .bucket(n, keyName)) ++
      meta.partition.toArray.flatMap { case (u, id) =>
        cols.find(_.id == id).map(c =>
          KvJsonlTable.partTransform(u, c.name))
      }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    if (meta.snapshots) m.put("snapshots", "true")
    if (meta.mor) m.put("dml", "mor")
    if (meta.sorted) m.put("write.sort", keyName)
    if (meta.blooms.nonEmpty)
      m.put("bloom_cols", meta.blooms.flatMap(id =>
        cols.find(_.id == id).map(_.name)).mkString(","))
    // Bucket-generation observability (system.rebucket): an operator
    // reading DESCRIBE EXTENDED can see both that an evolution is IN
    // FLIGHT (claims suppressed) and where the current generation
    // starts (pins below it read unclaimed).
    meta.rebucketTarget.foreach(n =>
      m.put("rebucket.in_progress_to", n.toString))
    meta.bucketsFrom.foreach(v =>
      m.put("buckets.from_version", v.toString))
    meta.autoCompact.foreach(t =>
      m.put("write.auto_compact", t.toString))
    meta.autoExpire.foreach(n =>
      m.put("expire.keep_last", n.toString))
    m
  }

  override def metadataColumns(): Array[MetadataColumn] =
    Array(
      new MetadataColumn {
        override def name(): String = KvJsonlSink.FileColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "jsonl file this row was read from"
      },
      new MetadataColumn {
        override def name(): String = KvJsonlSink.PosColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "0-based physical line ordinal within _file (the MoR row id)"
      })
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
    // Snapshotted tables are streamable: their manifest log is a
    // change feed (KvChangeFeed.scala).
    if (meta.snapshots) caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // Size-based streaming admission (`spark.readStream
    // .option("maxBytesPerTrigger", "128m")`): at 100 TB a
    // commit-per-batch replay is O(commits) micro-batches; a bytes
    // target makes it O(data / target). Batch reads ignore it.
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map { v =>
      val b = org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(v)
      require(b > 0, s"maxBytesPerTrigger must be positive; got $v")
      b
    }
    // `scan_files` (comma-separated member names): restrict the scan
    // to exactly these committed files — the read half of the
    // SELECTIVE maintenance rewrite (KvAutoCompact), which must read
    // only the small files it merges, never the whole table.
    val scanFiles = Option(options.get("scan_files")).map(
      _.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    new KvScanBuilder(path, buckets, meta.snapshots, pinnedVersion,
      maxBytesPerTrigger = maxBytes, branch = branch,
      partitionSpec = meta.partition, scanFilesOnly = scanFiles)
  }

  /** SQL row-level DML (DELETE / UPDATE / MERGE) via the GROUP-BASED
    * (copy-on-write) protocol: Catalyst rewrites the command into a
    * distributed query computing the surviving rows of the affected
    * groups and hands them to this operation's write, whose commit
    * REPLACES those groups atomically. This table is one group (no
    * partitioning metadata), so the write is truncate-and-publish
    * under the existing two-phase commit — the same shape
    * Delta/Iceberg use per file-group, and the rewrite query itself
    * is an ordinary distributed plan (scan + anti-condition filter /
    * merge join), never a driver-side row loop.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot run row-level DML against a time-travel snapshot: ${name()}")
    if (meta.mor)
      // MERGE-ON-READ (TBLPROPERTIES 'dml'='mor'): the delta-based
      // protocol — positional tombstones committed beside the data,
      // applied at scan time; a 0.1% DELETE writes 0.1% tombstone
      // lines instead of rewriting whole file groups. KvMerge.scala.
      () => new KvMorRowLevelOperation(path, info.command(), buckets)
    else
      () => new KvRowLevelOperation(path, info.command(),
        buckets, partitionCol, meta.snapshots, meta.sorted)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot write to a time-travel snapshot: ${name()}")
    // WRITE-AUDIT-PUBLISH staging: `.option("branch", "audit")`
    // targets the branch's manifest lineage (KvBranches.scala) — the
    // files publish to the table dir as usual but ONLY the branch's
    // manifests reference them, so main readers never see the commit
    // until system.fast_forward adopts it.
    val writeBranch = Option(info.options.get("branch"))
    writeBranch.foreach { b =>
      require(meta.snapshots,
        s"branch writes need a snapshotted table ($path is not)")
      require(KvBranches.exists(path, b),
        s"no branch '$b' of $path (branches: " +
          s"${KvBranches.list(path).mkString(", ")}) — " +
          "CALL system.create_branch first")
    }
    // Fail at plan time, not mid-write, on a schema the sink can't
    // hold: the incoming row shape must match the table's CURRENT
    // columns type-for-type (names are the caller's business — a
    // format-path save of differently-named columns of the right
    // types has always worked).
    val s = info.schema()
    val want = KvSchema.currentCols(path)
    require(
      s.length == want.length &&
        s.zip(want).forall { case (f, c) =>
          // normalize: the registry's array types are canonically
          // containsNull=true, but a query writing `array(1.0, 2.0)`
          // legitimately carries containsNull=false — a strictly
          // MORE nullable sink column always holds it
          KvSchema.normalize(f.dataType) == c.dtype },
      s"kvjsonl sink at $path writes " +
        s"${KvSchema.toStruct(want).catalogString}; got ${s.catalogString}")
    // Maintenance rewrites (system.rewrite_buckets / rebucket) OWN
    // their placement: `.option("layout_rewrite", "true")` suppresses
    // the standing distribution request (writeRequirement).
    val layoutRewrite = "true" == info.options.get("layout_rewrite")
    // `maintenance=true` (set ONLY by the system.* rewrite
    // procedures): the commit is flagged live-rows-unchanged, so the
    // `$changes` CDC table emits nothing for it (KvSnapshots
    // .commitWith has the full contract). Independent of
    // layout_rewrite — compact/cluster/zorder keep their standing
    // distributions but are maintenance all the same.
    val maint = "true" == info.options.get("maintenance")
    // `maintenance_base=<version>` (set by the system.* procedures):
    // the snapshot version the rewrite SCANNED. The commit refuses to
    // publish against any other base — the exact guard against a
    // concurrent commit landing between the rewrite's read and its
    // publish, which a truncate-replace would otherwise silently
    // drop AND (being maintenance-flagged) hide from CDC. A refused
    // rewrite is simply re-run; at 100 TB compaction racing a
    // streaming append is the common case, not the corner.
    val maintBase: Option[Int] =
      Option(info.options.get("maintenance_base")).map(_.toInt)
    require(maintBase.isEmpty || maint,
      "maintenance_base is only meaningful on a maintenance commit")
    // `replace_files` (comma-separated member names): GROUP-SELECTIVE
    // maintenance commit — membership keeps every file NOT named and
    // swaps exactly the named set for this write's output (the same
    // replaceOnly protocol the row-level DML commit uses, including
    // its fail-loud conflict check when a named file was concurrently
    // replaced). The write half of the selective compaction: a policy
    // that could only truncate-replace the WHOLE table would rewrite
    // 100 TB on every trigger.
    val replaceFiles: Option[Set[String]] =
      Option(info.options.get("replace_files")).map(
        _.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    require(replaceFiles.isEmpty || (maint && meta.snapshots),
      "replace_files is a maintenance option on snapshotted tables")
    new WriteBuilder with SupportsTruncate {
      // mode("overwrite") plans as truncate-then-append; the actual
      // delete happens DRIVER-SIDE at commit time so a failed job
      // never leaves the target half-cleared (abort keeps old files).
      private var truncateFirst = false
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      // The per-write queryId is baked into batch final names so an
      // APPEND write can never collide with (and REPLACE) an earlier
      // job's same-numbered partitions.
      override def build(): Write = new KvWrite(path, info.queryId(),
        KvJsonlTable.writeRequirement(keyName,
          // Resolving the layout transforms needs the catalog's
          // FunctionCatalog: a format/path write to a bucketed or
          // partitioned dir still routes rows to their files, it just
          // can't ask for the pre-shuffle.
          if (viaCatalog) buckets else None,
          if (viaCatalog) partitionCol else None,
          meta.sorted, layoutRewrite),
        new KvJsonlBatchWrite(path, truncateFirst, info.queryId(),
          writeBranch,
          replaceOnly = replaceFiles.map(s => () => s),
          maintenance = maint,
          requireBase = maintBase),
        streamRefusal =
          if (layoutRewrite)
            Some("layout_rewrite is a batch-maintenance option")
          else if (writeBranch.nonEmpty)
            Some("streaming append to a BRANCH is not supported — " +
              "stream to main, or stage with batch writes and fast_forward")
          else None)
    }
  }
}

/** The one kv `Write`: the layout's (distribution, ordering) request
  * ([[KvJsonlTable.writeRequirement]]) over a batch write, plus the
  * streaming write unless `streamRefusal` says why this write is
  * batch-only.
  */
class KvWrite(
    path: String, queryId: String,
    requirement: (Distribution, Array[SortOrder]),
    batch: BatchWrite,
    streamRefusal: Option[String])
    extends RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution = requirement._1
  override def requiredOrdering(): Array[SortOrder] = requirement._2
  override def toBatch: BatchWrite = batch
  override def toStreaming: streaming.StreamingWrite = {
    streamRefusal.foreach(m => throw new UnsupportedOperationException(m))
    new KvJsonlStreamingWrite(path, queryId)
  }
}

/** One published file: temp path, final name, and the per-file
  * statistics the task tracked while writing (row count + min/max
  * over non-null keys — the manifest ZONE MAP a 100 TB planner reads
  * instead of the data).
  */
case class KvWrittenFile(
    tempFile: String, finalName: String, rows: Long,
    minKey: Option[Long], maxKey: Option[Long],
    colStats: Map[Int, Option[(String, String)]] = Map.empty,
    blooms: Map[Int, KvBloom.Bloom] = Map.empty,
    /** False for STRING-keyed tables: their key has no long zone map,
      * and the manifest must record the distinction EXPLICITLY —
      * minKey=None with keysKnown=true means "provably no non-null
      * keys" and licenses zone-map skipping under IsNotNull(key),
      * which would silently drop every row of a string-keyed file.
      */
    keyStatsKnown: Boolean = true) {

  /** The manifest entry this file commits as — the one conversion
    * every commit (batch, streaming, merge-on-read) uses.
    */
  def stat: KvSnapshots.KvFileStat =
    KvSnapshots.KvFileStat(finalName, rows, minKey, maxKey,
      keysKnown = keyStatsKnown, colStats = colStats)
}

/** Per-file stat accumulation, one per file [[KvDataWriter]] opens —
  * ONE definition of what the manifest records. Beyond the
  * key zone map, every EVOLVED fixed-domain column (bigint / double /
  * timestamp / date, id > 2) gets a per-file min/max tracked in the
  * same single pass — the manifest-level data skipping parquet
  * footers give every column, recovered for the line format. Stats
  * are keyed by FIELD ID (rename-proof, like the schema registry);
  * a double column that saw a NaN records NO stats (unknown — NaN
  * breaks range reasoning, and "didn't skip" is the only safe
  * failure direction).
  */
final class KvKeyStats(
    cols: Seq[KvSchema.Col] = KvSchema.Legacy,
    bloomIds: Seq[Int] = Nil) {
  import org.apache.spark.sql.types.{DateType, DoubleType, LongType,
    StringType, TimestampType}

  private var rows = 0L
  private var minKey = Long.MaxValue
  private var maxKey = Long.MinValue
  private var hasKeys = false
  /** STRING-keyed tables track no key zone map (no safe token format
    * for string bounds in the unescaped manifest; blooms and hash
    * buckets carry their point lookups instead) — the written file
    * says so explicitly (KvWrittenFile.keyStatsKnown).
    */
  private val keyIsLong = KvSchema.keyType(cols) == LongType

  private final class Track(
      val id: Int, val ord: Int, val isDouble: Boolean,
      val isDate: Boolean) {
    var has = false
    var nan = false
    var minL = Long.MaxValue
    var maxL = Long.MinValue
    var minD = java.lang.Double.POSITIVE_INFINITY
    var maxD = java.lang.Double.NEGATIVE_INFINITY
  }

  private val tracked: Array[Track] =
    cols.iterator.zipWithIndex.collect {
      case (c, i) if c.id > 2 &&
          (c.dtype == LongType || c.dtype == TimestampType ||
            c.dtype == DateType || c.dtype == DoubleType) =>
        new Track(c.id, i, c.dtype == DoubleType, c.dtype == DateType)
    }.toArray

  /** Bloom-tracked columns (table meta `blooms`, KvBloom.scala):
    * value hashes accumulate in the same single pass the zone maps
    * use; the filters are built once at task commit. STRING, BIGINT,
    * TIMESTAMP, DATE and DOUBLE columns qualify (enforced at DDL —
    * every point-lookup-able scalar; the temporal types hash their
    * int64 storage tokens, doubles their normalized bit pattern), the
    * key never (its zone maps already skip point lookups on
    * sorted/clustered data).
    */
  private val bloomTracked
      : Array[(Int, Int, org.apache.spark.sql.types.DataType,
        KvBloom.Builder)] =
    cols.iterator.zipWithIndex.collect {
      // the key column (id 1) qualifies only when STRING: a string
      // key has no zone map, so the bloom sidecar is what carries its
      // point lookups; a long key's zone maps already skip on
      // sorted/clustered data and stay bloom-free
      case (c, i) if (c.id > 1 ||
            (c.id == 1 && c.dtype == StringType)) &&
          bloomIds.contains(c.id) &&
          (c.dtype == StringType || c.dtype == LongType ||
            c.dtype == TimestampType || c.dtype == DateType ||
            c.dtype == DoubleType) =>
        (c.id, i, c.dtype, new KvBloom.Builder)
    }.toArray

  def update(row: InternalRow): Unit = {
    rows += 1
    if (keyIsLong && !row.isNullAt(0)) {
      val k = row.getLong(0)
      if (k < minKey) minKey = k
      if (k > maxKey) maxKey = k
      hasKeys = true
    }
    var j = 0
    while (j < tracked.length) {
      val t = tracked(j)
      if (!row.isNullAt(t.ord)) {
        if (t.isDouble) {
          val v = row.getDouble(t.ord)
          if (java.lang.Double.isNaN(v)) t.nan = true
          else {
            if (v < t.minD) t.minD = v
            if (v > t.maxD) t.maxD = v
            t.has = true
          }
        } else {
          val v =
            if (t.isDate) row.getInt(t.ord).toLong else row.getLong(t.ord)
          if (v < t.minL) t.minL = v
          if (v > t.maxL) t.maxL = v
          t.has = true
        }
      }
      j += 1
    }
    j = 0
    while (j < bloomTracked.length) {
      val (_, ord, dtype, builder) = bloomTracked(j)
      if (!row.isNullAt(ord))
        builder.add(dtype match {
          case StringType =>
            KvBloom.hashBytes(row.getUTF8String(ord).getBytes)
          case DoubleType => KvBloom.hashDouble(row.getDouble(ord))
          case DateType => KvBloom.hashLong(row.getInt(ord).toLong)
          // LongType and TimestampType: the storage token is the long
          case _ => KvBloom.hashLong(row.getLong(ord))
        })
      j += 1
    }
  }

  def written(tempFile: String, finalName: String): KvWrittenFile =
    KvWrittenFile(tempFile, finalName, rows,
      if (hasKeys) Some(minKey) else None,
      if (hasKeys) Some(maxKey) else None,
      keyStatsKnown = keyIsLong,
      blooms = bloomTracked.iterator.flatMap { case (id, _, _, b) =>
        b.result().map(id -> _)
      }.toMap, // field-id keyed, unchanged across the type widening
      colStats = tracked.iterator.flatMap { t =>
        if (t.nan) None // unknown — never a basis for skipping
        else if (!t.has) Some(t.id -> None) // known all-null
        else Some(t.id -> Some((
          if (t.isDouble) t.minD.toString else t.minL.toString,
          if (t.isDouble) t.maxD.toString else t.maxL.toString)))
      }.toMap)
}

/** A task's message: the files it wrote, in cell order (one per cell
  * it saw; a plain task's one file). The driver publishes exactly the
  * named files.
  */
case class KvCommitMessage(files: Seq[KvWrittenFile])
    extends WriterCommitMessage

class KvJsonlBatchWrite(
    path: String, truncateFirst: Boolean, jobId: String,
    branch: Option[String] = None,
    replaceOnly: Option[() => Set[String]] = None,
    maintenance: Boolean = false,
    requireBase: Option[Int] = None)
    extends BatchWrite {

  // Bucket/day routing is decided by the TABLE DIR's metadata, not
  // the caller, so every write path (catalog insert, DML rewrite,
  // format-path save) keeps a bucketed table bucketed and a
  // partitioned table partitioned.
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    KvWriterFactory.forTable(path, jobId)

  /** Driver-side publish: ONLY files named in commit messages become
    * visible. Rename is per-file; the `_SUCCESS` manifest written last
    * is the read-side completeness marker (the standard Hadoop
    * committer contract).
    *
    * TRUNCATE ordering (unsnapshotted tables): PUBLISH the replacement
    * files first, THEN sweep the stale ones. A directory-listing
    * reader concurrent with the window between the two steps sees a
    * SUPERSET (old and new together — transient duplicates, the same
    * window shape INSERT OVERWRITE has always had on listing-based
    * sources); it can never see a HOLE (rows missing from both
    * generations), which the delete-first ordering allowed. Final
    * names carry the per-write queryId, so a replacement can never
    * collide with a stale name. Snapshotted tables have no window at
    * all — truncate is LOGICAL (replaced files stay for prior
    * versions; membership flips atomically with the manifest).
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = java.nio.file.Paths.get(path)
    val snapshots = KvBucketing.readMetaFull(path).snapshots
    // GROUP-SELECTIVE row-level commit: replace exactly the files the
    // rewrite SCAN planned (every pruned file held pure survivors and
    // stays). Resolved lazily — the scan plans before any write task
    // runs, the thunk reads its report at commit time. Selective
    // rewrites never publish 0-row replacement files (a scanned file
    // whose every row was deleted is simply DROPPED from membership;
    // an eager writer's empty temp is not data) — without this, an
    // all-pruned DML would still commit one empty file as a new
    // version.
    val replaced: Option[Set[String]] = replaceOnly.map(_.apply())
    val published = {
      val all = messages.toSeq.flatMap { case KvCommitMessage(fs) => fs }
      if (replaced.isDefined) all.filter(_.rows > 0L) else all
    }
    publishFiles(dir, published)
    if (replaced.exists(_.isEmpty) && published.isEmpty) {
      // the DML condition pruned EVERY file — a provable no-op;
      // don't churn a new identical snapshot version
      KvJsonlSink.cleanupJobTemp(path, jobId)
      java.nio.file.Files.write(
        dir.resolve("_SUCCESS"), Array.emptyByteArray)
      return
    }
    if (!snapshots) {
      if (replaced.isDefined)
        replaced.get.foreach { n =>
          java.nio.file.Files.deleteIfExists(dir.resolve(n))
          KvBloom.deleteSidecarOf(dir.resolve(n))
        }
      else if (truncateFirst)
        sweepStale(dir, published.map(_.finalName).toSet)
    }
    if (snapshots) {
      // OCC append commit: the previous membership is computed INSIDE
      // the conditional-put retry, so a loser rebases onto the
      // winner's version instead of dropping its files (a truncate
      // re-proposes just its own files at the next version — two
      // overlapping INSERT OVERWRITEs serialize last-writer-wins,
      // the SQL semantics). A group-selective DML rebases too, but
      // FAILS LOUD if a concurrent commit replaced one of its scanned
      // files — committing anyway would resurrect rows the other
      // writer removed or lose its rewrite.
      def nextMembership(prev: Seq[KvSnapshots.KvFileStat])
          : Seq[KvSnapshots.KvFileStat] = {
        val kept = replaced match {
          case Some(scanned) =>
            val names = prev.map(_.name).toSet
            val gone = scanned -- names
            if (gone.nonEmpty)
              throw new KvSnapshots.CommitConflictException(
                s"group-selective rewrite of $path scanned files a " +
                  s"concurrent commit replaced: ${gone.mkString(", ")}")
            prev.filterNot(st => scanned(st.name))
          case None => if (truncateFirst) Seq.empty else prev
        }
        kept ++ published.map(_.stat)
      }
      branch match {
        // Branch-targeted write (write-audit-publish): the commit
        // lands on the BRANCH's lineage; main's manifests — and every
        // main reader — are untouched by construction.
        case Some(b) =>
          KvBranches.commit(path, b) { head =>
            nextMembership(KvBranches.membersWithStats(path, b, head))
          }
        case None =>
          KvSnapshots.commitWith(path, maintenance) { base =>
            // The BASE PIN (maintenance_base): a maintenance rewrite
            // must publish against exactly the version it scanned —
            // any other base means a concurrent commit interleaved,
            // and this truncate-replace would drop its changes while
            // the flag hides the damage from CDC. Exact where the
            // row-count interlock below is only a heuristic (a
            // concurrent +N/−N pair nets to zero); the count check
            // stays as the spoof backstop for flagged writes that
            // carry no pin.
            requireBase.foreach { b0 =>
              if (base != b0)
                throw new KvSnapshots.CommitConflictException(
                  s"maintenance rewrite of $path scanned v$b0 but " +
                    s"would publish against v$base — a concurrent " +
                    "commit interleaved; re-run the maintenance call")
            }
            val prev =
              if (base == 0) Seq.empty
              else KvSnapshots.membersWithStats(path, base)
            val next = nextMembership(prev)
            // The maintenance flag's commit-time INTERLOCK: flagged
            // commits are CDC-invisible, so a flagged write that
            // actually changed the live row set would silently
            // desynchronize every CDC consumer. Manifest row counts
            // are exact (the writer tracked them), so prove the
            // no-op before publishing; unknown counts (migrated
            // pre-snapshot files, rows = -1) can't prove and fail
            // the flag rather than trust it. (A count-level check is
            // a HEURISTIC — see the base pin above for the exact
            // interleaving guard the system.* procedures ride.)
            if (maintenance) {
              def live(m: Seq[KvSnapshots.KvFileStat]): Option[Long] =
                if (m.exists(_.rows < 0)) None
                else Some(
                  KvSnapshots.dataFiles(m).map(_.rows).sum -
                    KvSnapshots.deleteFiles(m).map(_.rows).sum)
              (live(prev), live(next)) match {
                case (Some(a), Some(b)) if a == b => ()
                case (a, b) => throw new IllegalStateException(
                  s"maintenance-flagged commit to $path does not " +
                    s"preserve the live row set (before=$a after=$b) " +
                    "— refusing to hide it from the change feeds")
              }
            }
            next
          }
      }
    }
    KvJsonlSink.cleanupJobTemp(path, jobId)
    java.nio.file.Files.write(
      dir.resolve("_SUCCESS"), Array.emptyByteArray)
    // POLICY MAINTENANCE (write.auto_compact): a DATA commit to main
    // re-evaluates the file-count policy; the policy rewrite itself
    // is maintenance-flagged, so it can never re-trigger here.
    if (!maintenance && branch.isEmpty)
      KvAutoCompact.maybeMaintain(path)
  }

  /** Step 1 of the truncate commit (package-visible so the
    * reader-during-replace spec can drive the window between the two
    * steps deterministically): move every committed temp file to its
    * final name.
    */
  private[graft] def publishFiles(
      dir: java.nio.file.Path, published: Seq[KvWrittenFile]): Unit =
    published.foreach(KvJsonlSink.publish(dir, _))

  /** Step 2: delete every data file the replacement didn't publish
    * (and its bloom sidecar — a sidecar's lifetime IS its data
    * file's).
    */
  private[graft] def sweepStale(
      dir: java.nio.file.Path, keep: Set[String]): Unit = {
    val old = java.nio.file.Files.list(dir)
    try old.forEach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".jsonl") && !keep(n)) {
        java.nio.file.Files.delete(p)
        KvBloom.deleteSidecarOf(p)
      }
    } finally old.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    KvJsonlSink.cleanupJobTemp(path, jobId)
}

/** Streaming (micro-batch) write path: same attempt-isolation protocol
  * per epoch, with the epoch id baked into BOTH the temp and the final
  * file names. That makes the per-epoch driver commit IDEMPOTENT —
  * after a crash between sink commit and checkpoint offset commit, the
  * restarted query replays the SAME epoch id and the publish renames
  * land on the SAME final names (REPLACE, not duplicate). This is the
  * standard exactly-once contract for a file-based streaming sink;
  * `V2StreamingSinkSpec` drives the restart path end-to-end through a
  * checkpointed query.
  */
class KvJsonlStreamingWrite(path: String, queryId: String = "")
    extends streaming.StreamingWrite {

  private val snapshots = KvBucketing.readMetaFull(path).snapshots

  /** Per-query file tag for SNAPSHOTTED targets. The plain epoch-only
    * names are safe for an unsnapshotted sink (one query owns a plain
    * sink, and a replayed rename REPLACES in place); a snapshotted
    * table keeps REPLACED FILES READABLE for prior versions, so a
    * second query (or a fresh run restarting at epoch 0) landing on
    * the same names would corrupt committed history. The streaming
    * queryId is stable across driver restarts (it rides in the
    * checkpoint), which is exactly what the replay detection needs.
    */
  private val qTag: String =
    if (snapshots) s"q${queryId.replace("-", "")}-" else ""

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    val meta = KvBucketing.readMetaFull(path)
    // Every target streams through the SAME writer the batch path
    // uses, with the epoch-scoped job tag as its jobId — file names
    // come out epoch-prefixed AND unit/bucket-suffixed
    // (`part-q<qid>-e00001-00003-d9862.jsonl`), so replay detection
    // and layout contracts compose. Routed layouts need snapshots:
    // the manifest commit is what makes a replayed epoch a no-op (an
    // unsnapshotted routed layout has no transactional membership to
    // dedup against).
    require(meta.buckets.isEmpty && meta.partition.isEmpty ||
      meta.snapshots,
      "streaming append to a BUCKETED or DATE-PARTITIONED kvjsonl " +
        s"table requires TBLPROPERTIES ('snapshots'='true'): $path")
    require(!snapshots || queryId.nonEmpty,
      s"snapshotted streaming append to $path needs the query id " +
        "for epoch replay detection")
    // A named top-level factory: the instance ships to executors, so it
    // must not capture this (non-serializable) driver-side write object.
    KvWriterFactory.forTable(path, qTag, meta)
  }

  /** Per-epoch publish. Unsnapshotted: idempotent renames onto
    * epoch-keyed names (replay REPLACES in place). Snapshotted:
    * EXACTLY-ONCE via the manifest — the epoch's files enter
    * membership in ONE OCC manifest commit, and a replayed epoch is
    * detected by its file-name prefix already being a member (all of
    * an epoch's files entered atomically, so any one present ⇒ the
    * epoch committed; the check races nothing, because this query is
    * the only writer of its own epoch names and Spark serializes a
    * query's epochs). A crash BETWEEN rename and manifest commit
    * leaves unreferenced files — invisible to every snapshot reader,
    * re-published (or orphan-swept by system.vacuum) on replay.
    * Concurrent batch INSERTs interleave safely: the OCC loser
    * rebases its membership onto the winner's version, same as any
    * two batch appends.
    */
  override def commit(
      epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val dir = java.nio.file.Paths.get(path)
    val files = messages.toSeq.flatMap { case KvCommitMessage(fs) => fs }
    if (!snapshots) {
      files.foreach(KvJsonlSink.publish(dir, _))
    } else {
      val prefix = s"part-${epochJob(epochId)}-"
      val replayed = KvSnapshots.latest(path).exists(v =>
        KvSnapshots.members(path, v).exists(_.startsWith(prefix)))
      if (!replayed) {
        // 0-row task files never publish: an epoch's manifest commit
        // carries exactly its data, and an all-empty epoch commits
        // NOTHING (no snapshot churn from idle triggers). A routed
        // task reports one file per bucket/unit SEEN, so only plain
        // tasks produce empties.
        val data = files.filter(_.rows > 0L)
        if (data.nonEmpty) {
          data.foreach(KvJsonlSink.publish(dir, _))
          KvSnapshots.commitWith(path) { base =>
            val prev =
              if (base == 0) Seq.empty[KvSnapshots.KvFileStat]
              else KvSnapshots.membersWithStats(path, base)
            prev ++ data.map(_.stat)
          }
          ()
        }
      }
    }
    // losing speculative attempts of this epoch
    KvJsonlSink.cleanupJobTemp(path, epochJob(epochId))
    java.nio.file.Files.write(
      dir.resolve("_SUCCESS"), Array.emptyByteArray)
    // POLICY MAINTENANCE (write.auto_compact): each epoch commit
    // re-evaluates the file-count policy — the trickle-ingest shape
    // the policy exists for (one file per bucket per epoch). Runs
    // synchronously inside the epoch commit (Delta's auto-compaction
    // latency trade) and is epoch-serialized by Spark, so the base
    // pin cannot race this query's own next epoch.
    if (snapshots) KvAutoCompact.maybeMaintain(path)
    ()
  }

  override def abort(
      epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    KvJsonlSink.cleanupJobTemp(path, epochJob(epochId))

  private def epochJob(epochId: Long): String =
    KvWriterFactory.epochJob(qTag, epochId)
}

/** The one kv writer factory — batch, streaming and merge-on-read
  * delta writes: the table's write layout, read from its meta ONCE per
  * job on the driver ([[KvWriterFactory.forTable]]), so every task of
  * a write formats and routes rows the same way even if an ALTER lands
  * mid-job. A batch task's job id is `tag` (the write's queryId); a
  * streaming task's is its epoch tag `<tag>e<epoch>`
  * ([[KvWriterFactory.epochJob]]).
  */
case class KvWriterFactory(
    path: String, tag: String, cols: Seq[KvSchema.Col],
    buckets: Option[Int], partition: Option[(KvBucketing.PartUnit, Int)],
    bloomIds: Seq[Int])
    extends DeltaWriterFactory with streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): KvDataWriter =
    new KvDataWriter(this, tag, partitionId, taskId)

  override def createWriter(
      partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new KvDataWriter(this, KvWriterFactory.epochJob(tag, epochId),
      partitionId, taskId)
}

object KvWriterFactory {
  /** The layout of the table at `path` as of now. During a bucket-count
    * evolution (system.rebucket) writers route by the TARGET count:
    * the rewrite itself and any interleaved append land
    * new-generation files, while scans claim Unknown until the publish
    * flips `buckets` (KvBucketing.KvMeta). A caller that already read
    * the meta to check it passes that read, so the check and the
    * routing see the same meta.
    */
  def forTable(path: String, tag: String): KvWriterFactory =
    forTable(path, tag, KvBucketing.readMetaFull(path))

  def forTable(path: String, tag: String,
      meta: KvBucketing.KvMeta): KvWriterFactory =
    KvWriterFactory(path, tag, KvSchema.currentCols(path),
      meta.rebucketTarget.orElse(meta.buckets), meta.partition,
      meta.blooms)

  /** A streaming epoch's job id. The per-query tag is empty for an
    * unsnapshotted sink (one query owns it, and a replayed epoch's
    * renames REPLACE in place).
    */
  def epochJob(tag: String, epochId: Long): String = f"${tag}e$epochId%05d"
}

/** One task attempt's writer, for every kv layout. A row's CELL is its
  * (partition-unit value, bucket) under the layout — `-d9862`,
  * `-b0007`, both (`-m334-b0007`, partition first, so the partition
  * pruner and the bucket grouper each parse their own suffix), or none
  * on a plain table. Each cell the task sees gets a private temp file
  * `attempt-<job>-<pid>-<task><suffix>`, keyed by the attempt identity
  * so a speculative duplicate writes elsewhere; the driver publishes
  * only the attempt whose message reaches it, as
  * `part-<job>-<pid><suffix>.jsonl`.
  *
  * Bucket routing is the table's key-type spec (KvBucketing.bucketOf /
  * bucketOfString — what the scan claims and the served V2 function
  * evaluates); partition routing is the unit's token, with NULL values
  * in the explicit `null` partition. Under the write's requested
  * clustering a task sees ~one cell; without it (format-path writes)
  * the fan-out is the correctness backstop. A plain task opens its
  * one file eagerly, so a 0-row task still reports a 0-row file; a
  * routed task reports one file per cell it saw.
  *
  * As a merge-on-read delta writer (KvMerge.scala) inserts are plain
  * writes; deletes buffer (file, pos) tombstones, flushed sorted to one
  * `.del` file reported after the task's data files. The buffer is
  * bounded by the task's matched-row count — two numbers and a name
  * per row, the order of memory the task's shuffle buffers hold.
  */
final class KvDataWriter(
    layout: KvWriterFactory, jobId: String, partitionId: Int,
    taskId: Long)
    extends DeltaWriter[InternalRow] {
  import layout.cols

  // Founding tables keep the byte-identical fast-path formatter.
  private val evolved = cols != KvSchema.Legacy
  private val keyIsLong =
    KvSchema.keyType(cols) == org.apache.spark.sql.types.LongType
  private val nBuckets = layout.buckets.getOrElse(0)
  private val unit = layout.partition.map(_._1)
  /** The partition column's row ordinal (-1: unpartitioned), resolved
    * once — the write schema was validated type-for-type against
    * `cols`.
    */
  private val partIdx = layout.partition.fold(-1) { case (_, id) =>
    val i = cols.indexWhere(_.id == id)
    require(i >= 0, s"partition field id $id missing from the write " +
      s"schema of ${layout.path}")
    i
  }
  private val partIsDate = partIdx >= 0 &&
    cols(partIdx).dtype == org.apache.spark.sql.types.DateType
  private val routed = partIdx >= 0 || nBuckets > 0

  private val tempBase = {
    val d = KvJsonlSink.tempDir(layout.path, jobId)
    java.nio.file.Files.createDirectories(d) // idempotent; executor-side
    d
  }

  /** One cell's file: `tok` is the partition-unit value (NullTok for
    * the null partition, 0 when unpartitioned), `bucket` -1 when
    * unbucketed.
    */
  private final class CellOut(val tok: Long, val bucket: Int) {
    val suffix: String =
      unit.fold("")(u => KvBucketing.partSuffix(
        if (tok == KvDataWriter.NullTok) None else Some(tok), u)) +
        (if (bucket < 0) "" else KvBucketing.bucketSuffix(bucket))
    val temp: java.nio.file.Path =
      tempBase.resolve(f"attempt-$jobId-$partitionId%05d-$taskId$suffix")
    val out: java.io.BufferedWriter = java.nio.file.Files.newBufferedWriter(
      temp, java.nio.charset.StandardCharsets.UTF_8)
    val stats = new KvKeyStats(cols, layout.bloomIds)
  }

  private val open =
    scala.collection.mutable.HashMap.empty[(Long, Int), CellOut]

  private def cell(tok: Long, bucket: Int): CellOut =
    open.getOrElseUpdate((tok, bucket), new CellOut(tok, bucket))

  /** The last row's cell: a task that sees one cell — every plain
    * task, and a routed one under its requested clustering — writes
    * with no map lookup.
    */
  private var last: CellOut = if (routed) null else cell(0L, -1)

  override def write(row: InternalRow): Unit = {
    if (routed) {
      val tok =
        if (partIdx < 0) 0L
        else if (row.isNullAt(partIdx)) KvDataWriter.NullTok
        else unit.get.unitOf(
          if (partIsDate) row.getInt(partIdx).toLong
          else row.getLong(partIdx), partIsDate)
      val b =
        if (nBuckets == 0) -1
        else if (keyIsLong)
          KvBucketing.bucketOf(
            if (row.isNullAt(0)) null else Long.box(row.getLong(0)),
            nBuckets)
        else
          KvBucketing.bucketOfString(
            if (row.isNullAt(0)) null else row.getUTF8String(0), nBuckets)
      if (last == null || last.tok != tok || last.bucket != b)
        last = cell(tok, b)
    }
    last.out.write(
      if (evolved) KvSchema.formatRow(row, cols)
      else KvJsonlSink.formatLine(row))
    last.out.write('\n')
    last.stats.update(row)
  }

  /** Metadata-carrying variant invoked by the row-level-operation
    * rewrite (DataAndMetadataWritingSparkTask): `meta` is the
    * operation's required metadata projection (`_file`). The commit
    * scopes its replacement by the files the rewrite's scan planned
    * (KvRowLevelOperation), so the writer discards it.
    */
  override def write(meta: InternalRow, row: InternalRow): Unit =
    write(row)

  override def insert(row: InternalRow): Unit = write(row)

  private val tombstones =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  /** `id` is the MoR rowId projection in declaration order: (_file
    * STRING, _pos BIGINT). The delete file records the file NAME —
    * manifests are location-independent.
    */
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    tombstones += ((
      java.nio.file.Paths.get(id.getUTF8String(0).toString)
        .getFileName.toString,
      id.getLong(1)))

  /** Unreachable under representUpdateAsDeleteAndInsert = true; kept
    * semantically correct anyway — an update IS delete + insert.
    */
  override def update(
      meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val cells = open.values.toSeq.sortBy(c => (c.tok, c.bucket))
    cells.foreach(_.out.close())
    val data = cells.map(c => c.stats.written(c.temp.toString,
      f"part-$jobId-$partitionId%05d${c.suffix}.jsonl"))
    KvCommitMessage(
      if (tombstones.isEmpty) data
      else {
        val tmp = tempBase.resolve(
          f"attempt-$jobId-$partitionId%05d-$taskId.del")
        java.nio.file.Files.write(tmp,
          tombstones.sorted.map { case (n, p) => s"$n\t$p" }
            .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // a delete file carries no key statistics
        data :+ KvWrittenFile(tmp.toString,
          f"delete-$jobId-$partitionId%05d.del",
          tombstones.size.toLong, None, None, keyStatsKnown = false)
      })
  }

  override def abort(): Unit = {
    open.values.foreach { c =>
      c.out.close()
      java.nio.file.Files.deleteIfExists(c.temp)
    }
    tombstones.clear()
  }

  override def close(): Unit = ()
}

object KvDataWriter {
  /** The null partition's cell token; sorts first, as the null
    * partition always has.
    */
  val NullTok: Long = Long.MinValue
}
