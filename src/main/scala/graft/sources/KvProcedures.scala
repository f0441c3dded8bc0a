package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Snapshot-lifecycle procedures for the kv catalog. The
  * compact/expire pair (KvCatalog.scala) covers file-grain and
  * history-retention maintenance; this file completes the lifecycle
  * a production table format ships — cluster/rollback/vacuum plus
  * the tag/drop_tag pair (expire-proof named version pins,
  * KvRefs.scala):
  *
  *   - `system.cluster`  — sort-by-key data layout rewrite, the step
  *     that makes the manifest zone maps actually PRUNE (Delta
  *     `OPTIMIZE ZORDER BY` / Iceberg `rewrite_data_files(sort)`
  *     shape, on the connector's single long key);
  *   - `system.rollback` — commit a PRIOR snapshot's membership as
  *     the new current version (Iceberg `rollback_to_snapshot`
  *     shape): an undo that never rewrites data and keeps history
  *     linear — the rolled-back-over versions stay readable;
  *   - `system.vacuum`   — delete files in the table directory that
  *     NO retained manifest references (crashed-job leftovers,
  *     expired-then-restored edges), the safety-net half of
  *     reclamation that `expire_snapshots` (which only walks
  *     manifests) structurally cannot see.
  *
  * All three are metadata-driven and run on the driver except
  * cluster's rewrite, which is a distributed job through the
  * connector's two-phase-commit write — same contract as
  * `system.compact`.
  */
object KvProcedures {

  private[sources] def localScan(
      schema: StructType, row: InternalRow): util.Iterator[Scan] = {
    val out: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(row)
    }
    util.Collections.singletonList(out).iterator()
  }

  private[sources] def requireSnapshotted(
      table: String, dir: java.nio.file.Path): Unit =
    require(KvBucketing.readMetaFull(dir.toString).snapshots,
      s"$table is not a snapshotted table " +
        "(TBLPROPERTIES ('snapshots'='true'))")

  /** Run a layout rewrite with a TIGHT range-exchange sample.
    *
    * Every `repartitionByRange` below derives its partition
    * boundaries from a per-partition sample (default hint: 100 keys/
    * partition). At production row counts the sampling error is
    * noise, but a LAYOUT REWRITE's whole product is its boundaries —
    * skewed samples at small-to-medium partition sizes yield files
    * whose key ranges are wider than the data requires, which
    * directly loosens the zone maps the rewrite exists to tighten
    * (observed: the sf0.001 cluster gate's probe intersected 4 of 8
    * files where exact boundaries intersect 2). A 10_000-key hint
    * keeps boundaries near-exact; the driver-side sample stays
    * bounded regardless (RangePartitioner caps the TOTAL sample at
    * 1e6 keys ≈ 8 MB), so this is safe at any scale and costs only
    * the sampling pass the exchange already runs.
    */
  private[sources] def withTightRangeSample[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    graft.Confs.scoped(spark,
      "spark.sql.execution.rangeExchange.sampleSizePerPartition" -> "10000")(
      body)
}

/** `system.cluster` — sort-by-key layout rewrite:
  *
  * {{{ CALL graft_kv.system.cluster(table => 'default.t',
  *                                  target_files => 8) }}}
  *
  * Reads the table's CURRENT snapshot (merge-on-read tombstones
  * applied — clustering doubles as tombstone materialization),
  * range-repartitions on the key, sorts within partitions, and
  * commits the sorted files as the next snapshot. After the rewrite
  * every data file covers a DISJOINT key range, so the manifest zone
  * maps ([[KvSnapshots.KvFileStat]]) skip all but the files a key
  * predicate can touch — the layout half of data skipping, which at
  * 100 TB matters more than the stats themselves (stats over randomly
  * placed keys have full-range min/max and prune nothing; the
  * `catalog_cluster_zonemap` gate require()s the before/after pruning
  * difference). Returns one row
  * (files_before, files_after, n_rows, version).
  */
class KvClusterProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "cluster"
  override def description(): String =
    "rewrite a snapshotted kv table sorted by key into target_files " +
      "files with disjoint key ranges"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "cluster"
      override def description(): String =
        KvClusterProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("target_files", IntegerType)
            .defaultValue("8")
            .comment("file count after the rewrite (one key range each)")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val target =
          if (input.numFields > 1 && !input.isNullAt(1)) input.getInt(1)
          else 8
        require(target >= 1, s"target_files must be >= 1, got $target")
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        require(KvBucketing.readMeta(dir.toString).isEmpty,
          "system.cluster supports unbucketed tables only (a bucketed " +
            "table's layout contract is hash placement, not key order)")
        require(KvBucketing.readMetaFull(dir.toString).partition.isEmpty,
          "system.cluster supports unpartitioned tables only (a " +
            "temporally partitioned table's layout contract is its " +
            "unit routing; clustering by key would multiply files per " +
            "unit without improving partition pruning)")
        require(
          KvSchema.keyType(KvSchema.currentCols(dir.toString)) ==
            org.apache.spark.sql.types.LongType,
          "system.cluster needs a BIGINT key: clustering exists to " +
            "tighten key zone maps, and STRING keys record none " +
            "(their point lookups ride bloom sidecars and hash " +
            "buckets instead)")

        def dataFileCount: Long =
          KvSnapshots.latest(dir.toString).map { v =>
            KvSnapshots.dataFiles(
              KvSnapshots.membersWithStats(dir.toString, v)).size.toLong
          }.getOrElse(0L)

        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.col
        val before = dataFileCount
        // Range-partition + in-partition sort: each write task emits
        // one file whose (minKey, maxKey) is disjoint from every
        // sibling's. The read and the overwrite target the same dir —
        // safe under the sink's two-phase commit (tasks read the old
        // membership while replacements stage in _temporary; the
        // manifest flip at driver commit is atomic).
        val keyName = KvSchema.keyNameOf(dir.toString)
        // maintenance_base: publish only against the version this
        // rewrite scanned — a concurrent commit interleaving would
        // otherwise be dropped by the overwrite AND hidden from CDC
        val v0 = KvSnapshots.latest(dir.toString).getOrElse(0)
        KvProcedures.withTightRangeSample(spark) {
          spark.read
            .format("graft.sources.KvJsonlSink")
            .load(dir.toString)
            .repartitionByRange(target, col(keyName))
            .sortWithinPartitions(keyName)
            .write
            .format("graft.sources.KvJsonlSink")
            .option("maintenance", "true")
            .option("maintenance_base", v0.toString)
            .mode("overwrite")
            .save(dir.toString)
        }
        val after = dataFileCount
        val version = KvSnapshots.latest(dir.toString).getOrElse(0)
        val nRows = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)
          .count()
        KvProcedures.localScan(KvClusterProcedure.OutSchema,
          InternalRow(before, after, nRows, version.toLong))
      }
    }
}

object KvClusterProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("files_before", LongType),
    StructField("files_after", LongType),
    StructField("n_rows", LongType),
    StructField("version", LongType)))
}

/** `system.rollback` — undo to a prior snapshot without rewriting
  * data:
  *
  * {{{ CALL graft_kv.system.rollback(table => 'default.t',
  *                                   version => 2) }}}
  *
  * Commits version N+1 with EXACTLY the membership of the target
  * version — history stays linear and append-only (no manifest is
  * ever deleted here; `expire_snapshots` remains the only
  * reclamation), the rolled-back-over versions stay time-travel
  * readable, and the change feed sees the rollback as one ordinary
  * commit. This is the operational answer to a bad batch at 100 TB:
  * O(metadata) undo instead of an O(data) restore job. Returns one
  * row (from_version, to_version, new_version).
  */
class KvRollbackProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "rollback"
  override def description(): String =
    "commit a prior snapshot's membership as the new current version"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "rollback"
      override def description(): String =
        KvRollbackProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("version", IntegerType)
            .comment("snapshot version to roll back to (must be retained)")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        require(!input.isNullAt(1), "version is required")
        val to = input.getInt(1)
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val path = dir.toString
        val from = KvSnapshots.latest(path).getOrElse(
          throw new IllegalStateException(
            s"$table has no committed snapshots to roll back"))
        // membersWithStats fail-louds on an unknown/expired version,
        // listing what IS retained — rolling back to reclaimed
        // history must be an error, never an empty table.
        val membership = KvSnapshots.membersWithStats(path, to)
        val newV = KvSnapshots.commit(path, membership)
        KvProcedures.localScan(KvRollbackProcedure.OutSchema,
          InternalRow(from.toLong, to.toLong, newV.toLong))
      }
    }
}

object KvRollbackProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("from_version", LongType),
    StructField("to_version", LongType),
    StructField("new_version", LongType)))
}

/** `system.vacuum` — reclaim files NO retained manifest references:
  *
  * {{{ CALL graft_kv.system.vacuum(table => 'default.t',
  *                                 older_than_ms => 86400000) }}}
  *
  * `expire_snapshots` walks manifests and can only delete what some
  * manifest names; a crashed job's published-but-never-committed
  * files (or files restored by hand next to the table) are invisible
  * to it and would sit in the directory forever — harmless to reads
  * (snapshotted membership is the manifest, never the listing) but
  * real bytes at 100 TB. Vacuum takes the complement: list the
  * directory, keep everything ANY retained manifest references, plus
  * live metadata (`_snapshots`, `_meta.json`, `_SUCCESS`) and
  * in-flight attempt scratch (`_temporary` — deleting a racing job's
  * staging is exactly the bug the per-job temp split fixed), delete
  * the rest — but ONLY files older than the `older_than_ms` grace
  * window (default 3 days, Iceberg's `remove_orphan_files` default).
  * The grace window is the concurrent-writer guard: batch and delta
  * commits publish files to their FINAL names BEFORE the manifest
  * conditional-put lands (KvJsonlBatchWrite.commit,
  * KvMorDeltaBatchWrite.commit), so a vacuum racing that window sees
  * referenced-by-nothing files that are about to become members —
  * deleting them would let the writer's commit succeed while its
  * manifest references vanished files, silent data loss. Any sane
  * grace dwarfs a commit's publish→manifest gap; `older_than_ms => 0`
  * remains available for tests and for tables provably quiesced.
  * Returns one row (files_referenced, orphans_deleted).
  */
class KvVacuumProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "vacuum"
  override def description(): String =
    "delete table-dir files no retained snapshot references"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "vacuum"
      override def description(): String =
        KvVacuumProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("older_than_ms", LongType)
            .defaultValue(KvVacuumProcedure.DefaultGraceMs.toString)
            .comment("only delete orphans last modified more than this " +
              "many ms ago (grace window for in-flight commits)")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val grace =
          if (input.numFields > 1 && !input.isNullAt(1)) input.getLong(1)
          else KvVacuumProcedure.DefaultGraceMs
        require(grace >= 0, s"older_than_ms must be >= 0, got $grace")
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val path = dir.toString
        // Branch manifests are live references too (KvBranches.scala):
        // a file staged on an un-published branch is not an orphan.
        val referenced: Set[String] =
          KvSnapshots.versions(path)
            .flatMap(v => KvSnapshots.members(path, v)).toSet ++
            KvBranches.referencedFiles(path)
        val keepNames =
          Set(KvSnapshots.DirName, KvBucketing.MetaFile, "_SUCCESS",
            "_temporary", KvSchema.FileName, KvRefs.FileName)
        val cutoff = System.currentTimeMillis() - grace
        var deleted = 0L
        val s = java.nio.file.Files.list(dir)
        val orphans =
          try s.iterator().asScala
            .filter { p =>
              val n = p.getFileName.toString
              // a LIVE data file's bloom sidecar is referenced BY its
              // data file (sidecars never appear in manifests); an
              // orphaned data file's sidecar orphans with it
              !referenced(n) && !referenced(n.stripSuffix(".bloom")) &&
                !keepNames(n) &&
                // Grace window: a file younger than the cutoff may be a
                // concurrent commit's published-but-not-yet-manifested
                // output — skipping it is the difference between
                // reclamation and data loss. An unreadable mtime skips
                // too (the conservative direction).
                (try java.nio.file.Files.getLastModifiedTime(p)
                   .toMillis <= cutoff
                 catch { case _: java.io.IOException => false })
            }
            .map(_.getFileName.toString)
            .toList
          finally s.close()
        orphans.foreach { n =>
          java.nio.file.Files.deleteIfExists(dir.resolve(n))
          deleted += 1
        }
        KvProcedures.localScan(KvVacuumProcedure.OutSchema,
          InternalRow(referenced.size.toLong, deleted))
      }
    }
}

object KvVacuumProcedure {
  /** 3 days — Iceberg `remove_orphan_files`' default, orders of
    * magnitude beyond any commit's publish→manifest window.
    */
  val DefaultGraceMs: Long = 3L * 24 * 3600 * 1000

  val OutSchema: StructType = StructType(Seq(
    StructField("files_referenced", LongType),
    StructField("orphans_deleted", LongType)))
}

/** `system.tag` — pin a human name to a retained snapshot version
  * (KvRefs.scala):
  *
  * {{{ CALL graft_kv.system.tag(table => 'default.t',
  *                              name => 'training-data-v1',
  *                              version => 7) }}}
  *
  * After which `VERSION AS OF 'training-data-v1'` reads v7 forever:
  * tagged versions survive `expire_snapshots` however old they get —
  * the lineage pin a 100 TB training pipeline needs (the dataset a
  * model shipped from stays readable until the tag is dropped).
  * Omitting `version` tags the CURRENT snapshot. Tags are immutable
  * pins: re-pointing requires an explicit drop first. Returns one row
  * (name, version).
  */
class KvTagProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "tag"
  override def description(): String =
    "pin a name to a snapshot version (expire-proof; " +
      "readable as VERSION AS OF 'name')"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "tag"
      override def description(): String =
        KvTagProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("name", StringType)
            .comment("tag name ([A-Za-z0-9._-]+, not an integer)")
            .build(),
          procedures.ProcedureParameter
            .in("version", IntegerType)
            .defaultValue("NULL")
            .comment("snapshot version to pin (default: the current one)")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val tagName = input.getUTF8String(1).toString
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val path = dir.toString
        val v =
          if (input.numFields > 2 && !input.isNullAt(2)) input.getInt(2)
          else KvSnapshots.latest(path).getOrElse(
            throw new IllegalStateException(
              s"$table has no committed snapshots to tag"))
        KvRefs.tag(path, tagName, v)
        KvProcedures.localScan(KvTagProcedure.OutSchema,
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(tagName),
            v.toLong))
      }
    }
}

object KvTagProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("version", LongType)))
}

/** `system.drop_tag` — remove a tag; the pinned version becomes
  * expirable again under the ordinary keep_last policy. Returns one
  * row (name, was_version).
  */
class KvDropTagProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "drop_tag"
  override def description(): String =
    "remove a snapshot tag (the version becomes expirable again)"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "drop_tag"
      override def description(): String =
        KvDropTagProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("name", StringType)
            .comment("tag to drop")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val tagName = input.getUTF8String(1).toString
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val was = KvRefs.dropTag(dir.toString, tagName)
        KvProcedures.localScan(KvDropTagProcedure.OutSchema,
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(tagName),
            was.toLong))
      }
    }
}

object KvDropTagProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("was_version", LongType)))
}

/** `system.create_branch` — start a writable branch at main's current
  * snapshot (KvBranches.scala has the write-audit-publish overview):
  *
  * {{{ CALL graft_kv.system.create_branch(table => 'default.t',
  *                                        name => 'audit') }}}
  *
  * After which `.option("branch", "audit")` writes land on the
  * branch's lineage, `VERSION AS OF 'audit'` reads its head, and
  * `system.fast_forward` publishes it to main atomically. Returns one
  * row (name, base_version).
  */
class KvCreateBranchProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "create_branch"
  override def description(): String =
    "start a writable branch at the current snapshot " +
      "(write-audit-publish staging)"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "create_branch"
      override def description(): String =
        KvCreateBranchProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("name", StringType)
            .comment("branch name ([A-Za-z0-9._-]+, not an integer)")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val branchName = input.getUTF8String(1).toString
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val base = KvBranches.create(dir.toString, branchName)
        KvProcedures.localScan(KvCreateBranchProcedure.OutSchema,
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(branchName),
            base.toLong))
      }
    }
}

object KvCreateBranchProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("base_version", LongType)))
}

/** `system.fast_forward` — atomically publish a branch to main:
  *
  * {{{ CALL graft_kv.system.fast_forward(table => 'default.t',
  *                                       branch => 'audit') }}}
  *
  * Commits the branch head's EXACT membership as main's next version
  * under the same OCC conditional-put every commit uses — but only if
  * main has not advanced past the branch's creation base (the
  * fast-forward precondition; a diverged main fails LOUD with a
  * CommitConflictException rather than silently clobbering concurrent
  * work). The branch itself stays (re-audit or drop at leisure).
  * Returns one row (branch, branch_head, new_version).
  */
class KvFastForwardProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "fast_forward"
  override def description(): String =
    "publish a branch's head to main atomically (fails if main " +
      "advanced since the branch was created)"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "fast_forward"
      override def description(): String =
        KvFastForwardProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("branch", StringType)
            .comment("branch to publish")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val branchName = input.getUTF8String(1).toString
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val path = dir.toString
        val base = KvBranches.base(path, branchName)
        val head = KvBranches.head(path, branchName)
        val members = KvBranches.membersWithStats(path, branchName, head)
        val newV = KvSnapshots.commitWith(path) { mainBase =>
          if (mainBase != base)
            throw new KvSnapshots.CommitConflictException(
              s"main of $table is at v$mainBase but branch " +
                s"'$branchName' was created at v$base — not " +
                "fast-forwardable (main advanced mid-audit; create a " +
                "fresh branch from the new head and re-apply)")
          members
        }
        KvProcedures.localScan(KvFastForwardProcedure.OutSchema,
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(branchName),
            head.toLong, newV.toLong))
      }
    }
}

object KvFastForwardProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("branch", StringType),
    StructField("branch_head", LongType),
    StructField("new_version", LongType)))
}

/** `system.drop_branch` — abandon a branch; files staged only on it
  * become vacuum-reclaimable orphans. Returns one row
  * (name, was_head).
  */
class KvDropBranchProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "drop_branch"
  override def description(): String =
    "drop a branch (its staged-only files become vacuum-reclaimable)"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "drop_branch"
      override def description(): String =
        KvDropBranchProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("name", StringType)
            .comment("branch to drop")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val branchName = input.getUTF8String(1).toString
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val was = KvBranches.drop(dir.toString, branchName)
        KvProcedures.localScan(KvDropBranchProcedure.OutSchema,
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(branchName),
            was.toLong))
      }
    }
}

object KvDropBranchProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("was_head", LongType)))
}

/** `system.set_partition` — PARTITION EVOLUTION (Iceberg
  * `ALTER TABLE ... REPLACE PARTITION FIELD`, reduced to the sound
  * core this format can carry):
  *
  * {{{ CALL graft_kv.system.set_partition(table => 'default.t',
  *                                        spec => 'months(ts)') }}}
  *
  * A METADATA-ONLY change: no file is rewritten. Files written before
  * the change keep their old unit tokens (`-d9862`), files after it
  * carry the new one (`-m334`) — every token self-describes its unit
  * via the suffix tag, and the scan compiles one pushed interval PER
  * UNIT, so both generations keep pruning under the same predicate
  * (KvScan.partRanges). `spec => 'none'` disables routing for new
  * writes (old tokens stop pruning too — the current spec names the
  * column the intervals compile against).
  *
  * The partition COLUMN is permanent once set (KvMeta.partitionLineage):
  * tokens record their unit but not their column, so re-partitioning
  * over a different column would make every leftover token ambiguous
  * — rejected loudly, including across a disable/re-enable cycle.
  * Returns one row (spec, column).
  */
class KvSetPartitionProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "set_partition"
  override def description(): String =
    "evolve the table's temporal partition spec (metadata-only; " +
      "unit changes and disable only — the column is permanent)"

  private val SpecRe = """([a-z]+)\(([A-Za-z0-9_]+)\)""".r

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "set_partition"
      override def description(): String =
        KvSetPartitionProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("spec", StringType)
            .comment("'years|months|days|hours(col)' or 'none'")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val spec = input.getUTF8String(1).toString
        val dir = cat.resolveTableDir(table).toString
        val meta = KvBucketing.readMetaFull(dir)
        require(meta.buckets.isEmpty,
          s"$table is bucketed — bucket and temporal partitioning " +
            "are mutually exclusive")
        def out(specStr: String, colStr: String) =
          KvProcedures.localScan(KvSetPartitionProcedure.OutSchema,
            InternalRow(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(specStr),
              org.apache.spark.unsafe.types.UTF8String
                .fromString(colStr)))
        spec match {
          case "none" =>
            if (meta.partition.isDefined) {
              val next = meta.copy(partition = None)
              // lineage is retained — writeMeta refuses empty metas,
              // and a never-otherwise-flagged table keeps its pin
              KvBucketing.writeMeta(dir, next)
            }
            out("none", "")
          case SpecRe(unitName, colName) =>
            val unit = KvBucketing.partUnit(unitName).getOrElse(
              throw new IllegalArgumentException(
                s"unknown partition transform '$unitName' " +
                  "(years|months|days|hours)"))
            val cols = KvSchema.currentCols(dir)
            val c = cols.find(_.name.equalsIgnoreCase(colName))
              .getOrElse(throw new IllegalArgumentException(
                s"${unit.name}() partition column $colName is not a " +
                  s"column of $table"))
            require(
              c.dtype == org.apache.spark.sql.types.TimestampType ||
                (c.dtype == org.apache.spark.sql.types.DateType &&
                  unit.supportsDate),
              s"${unit.name}() partitioning needs a TIMESTAMP" +
                (if (unit.supportsDate) " or DATE" else "") +
                s" column; ${c.name} is ${c.dtype.simpleString}")
            val lineage =
              meta.partitionLineage.orElse(meta.partition.map(_._2))
            lineage.foreach(lid => require(lid == c.id,
              s"the partition column of $table is permanent once set " +
                s"(field id $lid" +
                cols.find(_.id == lid).map(x => s" '${x.name}'")
                  .getOrElse("") +
                "): partition tokens in file names do not record " +
                "their column, so re-partitioning over a different " +
                "column would make existing tokens ambiguous"))
            KvBucketing.writeMeta(dir, meta.copy(
              partition = Some((unit, c.id)),
              partitionLineage = Some(c.id)))
            out(s"${unit.name}(${c.name})", c.name)
          case other => throw new IllegalArgumentException(
            s"bad partition spec '$other': " +
              "'years|months|days|hours(col)' or 'none'")
        }
      }
    }
}

object KvSetPartitionProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("spec", StringType),
    StructField("column", StringType)))
}

/** `system.zorder` — MULTI-DIMENSIONAL clustering rewrite (Delta
  * `OPTIMIZE ZORDER BY` / Iceberg `rewrite_data_files(zorder)`):
  *
  * {{{ CALL graft_kv.system.zorder(table => 'default.t',
  *                                 cols => 'ck,price',
  *                                 target_files => 8) }}}
  *
  * Rows are ordered by the MORTON INTERLEAVE of the two named
  * columns' 16-bit min/max-scaled coordinates and range-partitioned
  * into `target_files` files, so rows close in BOTH dimensions land
  * in the same file. The payoff is the composition with per-column
  * zone maps (KvFileStat.colStats): after the rewrite each file's
  * recorded [min,max] on EACH named column is a narrow band, and a
  * predicate box on either or both columns skips most files at
  * planning — the 2-D file pruning a single-key sort cannot give
  * (sorting by `a` leaves `b` scattered: every file then spans all
  * of `b`). `system.cluster` remains the 1-D (key) form.
  *
  * The interleave is an unrolled bit expression (whole-stage codegen,
  * no UDF); coordinates scale by the table's CURRENT global min/max
  * (one metadata-cheap agg), NULLs sort first. Same table contract
  * as cluster: snapshotted, unbucketed, unpartitioned; the rewrite is
  * one distributed job through the sink's two-phase commit with an
  * atomic manifest flip. Returns (files_before, files_after, n_rows,
  * version).
  */
class KvZorderProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "zorder"
  override def description(): String =
    "rewrite a snapshotted kv table in Morton (Z-order) of two " +
      "columns for multi-dimensional zone-map pruning"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "zorder"
      override def description(): String =
        KvZorderProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("cols", StringType)
            .comment("two comma-separated numeric-domain columns " +
              "(bigint/double/timestamp/date), e.g. 'ck,price'")
            .build(),
          procedures.ProcedureParameter
            .in("target_files", IntegerType)
            .defaultValue("8")
            .comment("file count after the rewrite (one z-band each)")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val colsArg = input.getUTF8String(1).toString
        val target =
          if (input.numFields > 2 && !input.isNullAt(2)) input.getInt(2)
          else 8
        require(target >= 1, s"target_files must be >= 1, got $target")
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        require(KvBucketing.readMeta(dir.toString).isEmpty,
          "system.zorder supports unbucketed tables only")
        require(KvBucketing.readMetaFull(dir.toString).partition.isEmpty,
          "system.zorder supports unpartitioned tables only (a " +
            "temporally partitioned table's layout contract is its " +
            "unit routing)")
        // A 'write.sort'='key' table's write path REQUESTS a global
        // key order that would silently re-sort the z-arranged rows —
        // the call would "succeed" while leaving a key-sorted layout.
        // Fail loud instead of no-opping.
        require(!KvBucketing.readMetaFull(dir.toString).sorted,
          "system.zorder conflicts with TBLPROPERTIES " +
            "('write.sort'='key') — the standing key sort would undo " +
            "the z-order layout at write time")
        val names = colsArg.split(',').map(_.trim).filter(_.nonEmpty)
        require(names.length == 2,
          s"system.zorder takes exactly two columns; got '$colsArg'")
        val schema = KvSchema.currentCols(dir.toString)
        val zcols = names.map { n =>
          val c = schema.find(_.name.equalsIgnoreCase(n)).getOrElse(
            throw new IllegalArgumentException(
              s"z-order column $n is not a column of $table"))
          require(c.dtype != org.apache.spark.sql.types.StringType,
            s"z-order needs a numeric-domain column; ${c.name} is " +
              c.dtype.simpleString)
          c
        }

        def dataFileCount: Long =
          KvSnapshots.latest(dir.toString).map { v =>
            KvSnapshots.dataFiles(
              KvSnapshots.membersWithStats(dir.toString, v)).size.toLong
          }.getOrElse(0L)

        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column

        val df = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)

        // Monotone double view of any supported column domain.
        def asD(c: KvSchema.Col): Column = c.dtype match {
          case org.apache.spark.sql.types.DateType =>
            datediff(col(c.name), lit("1970-01-01")).cast("double")
          case _ => col(c.name).cast("double")
        }
        val bounds = df.agg(
          min(asD(zcols(0))), max(asD(zcols(0))),
          min(asD(zcols(1))), max(asD(zcols(1)))).head()
        def coord(c: KvSchema.Col, mnI: Int, mxI: Int): Column =
          if (bounds.isNullAt(mnI) ||
              bounds.getDouble(mxI) <= bounds.getDouble(mnI)) lit(0L)
          else {
            val mn = bounds.getDouble(mnI); val mx = bounds.getDouble(mxI)
            // NULL → coordinate 0 (placement only — reads never
            // depend on where a row landed)
            least(lit(65535L), greatest(lit(0L),
              floor((coalesce(asD(c), lit(mn)) - lit(mn)) /
                lit(mx - mn) * 65536.0).cast("long")))
          }
        // 16-bit Morton interleave, unrolled so it stays inside
        // whole-stage codegen (same shape as the zorder_layout gate's
        // 8-bit form).
        def morton16(x: Column, y: Column): Column =
          (0 until 16).map { i =>
            shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i) +
              shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1)
          }.reduce(_ + _).cast("long")

        val before = dataFileCount
        val v0 = KvSnapshots.latest(dir.toString).getOrElse(0)
        KvProcedures.withTightRangeSample(
          org.apache.spark.sql.SparkSession.active) {
          df.withColumn("_z",
              morton16(coord(zcols(0), 0, 1), coord(zcols(1), 2, 3)))
            .repartitionByRange(target, col("_z"))
            .sortWithinPartitions("_z")
            .select(schema.map(c => col(c.name)): _*)
            .write
            .format("graft.sources.KvJsonlSink")
            .option("maintenance", "true")
            .option("maintenance_base", v0.toString)
            .mode("overwrite")
            .save(dir.toString)
        }
        val after = dataFileCount
        val version = KvSnapshots.latest(dir.toString).getOrElse(0)
        val nRows = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)
          .count()
        KvProcedures.localScan(KvZorderProcedure.OutSchema,
          InternalRow(before, after, nRows, version.toLong))
      }
    }
}

object KvZorderProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("files_before", LongType),
    StructField("files_after", LongType),
    StructField("n_rows", LongType),
    StructField("version", LongType)))
}

/** `system.rewrite_buckets` — per-bucket file compaction for BUCKETED
  * snapshotted tables (the bucketed gap between `system.compact`,
  * which is plain-table-only, and `system.cluster`, which is key-range
  * layout): rewrite the table to `target_files_per_bucket` files per
  * bucket (default ONE; >1 range-splits each bucket into key-disjoint
  * sorted files — the file-size bound a 100 TB bucket needs), rows
  * key-ascending within each — which restores the
  * SupportsReportOrdering claim a 'write.sort'='key' bucketed table
  * loses after appends (two files per bucket concatenate; see
  * KvScan.outputOrdering), and on a merge-on-read table FOLDS the
  * accumulated tombstones into the rewrite (the scan applies them, the
  * overwrite membership carries no delete files — Iceberg's
  * rewrite_data_files + rewrite_position_delete_files in one pass).
  *
  * {{{ CALL graft_kv.system.rewrite_buckets(table => 'default.t') }}}
  *
  * Atomic like every commit here: readers keep the old snapshot until
  * the manifest flips; old files stay readable for time travel and
  * reclaim via expire_snapshots.
  */
class KvRewriteBucketsProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "rewrite_buckets"
  override def description(): String =
    "rewrite a bucketed kv table to target_files_per_bucket " +
      "key-sorted file(s) per bucket"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "rewrite_buckets"
      override def description(): String =
        KvRewriteBucketsProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("target_files_per_bucket", IntegerType)
            .defaultValue("1")
            .comment("key-RANGE-split each bucket into this many " +
              "sorted files (bounds file size at scale; ranges are " +
              "disjoint, so zone maps and the merge read both hold)")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        val perBucket =
          if (input.numFields > 1 && !input.isNullAt(1)) input.getInt(1)
          else 1
        require(perBucket >= 1 && perBucket <= 4096,
          s"target_files_per_bucket out of range [1, 4096]: $perBucket")
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val meta = KvBucketing.readMetaFull(dir.toString)
        require(meta.partition.isEmpty,
          "system.rewrite_buckets does not yet cover COMPOSED " +
            "(unit × bucket) layouts — their per-cell rewrite " +
            "scoping is future work; the write.auto-routed fan-out " +
            "keeps every write correctly tokened meanwhile")
        val n = meta.buckets.getOrElse(throw new IllegalArgumentException(
          "system.rewrite_buckets needs a bucketed table — " +
            "system.compact covers plain tables, system.cluster " +
            "key-range layouts"))

        def counts: (Long, Long) =
          KvSnapshots.latest(dir.toString).map { v =>
            val st = KvSnapshots.membersWithStats(dir.toString, v)
            (KvSnapshots.dataFiles(st).size.toLong,
              KvSnapshots.deleteFiles(st).size.toLong)
          }.getOrElse((0L, 0L))

        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.{coalesce, col, lit, pmod}
        val (filesBefore, delsBefore) = counts
        // The SAME bucket function the writer routes by and the scan
        // reports (floorMod on key, null → 0): repartitioning by it
        // puts each bucket wholly in one task, and the (bucket, key)
        // task sort makes each bucket's single file key-ascending —
        // the layout the ordering report needs. The writer's routing
        // remains the correctness backstop either way.
        val keyName = KvSchema.keyNameOf(dir.toString)
        val bucketExpr = KvBucketing.bucketExprFor(col(keyName),
          KvSchema.keyType(KvSchema.currentCols(dir.toString)), n)
        val src = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)
        // target_files_per_bucket > 1: RANGE-partition on (bucket,
        // key) instead — each task holds one contiguous (bucket, key)
        // slice, the routed writer emits one file per bucket it sees,
        // so every bucket lands as ~perBucket key-sorted files with
        // DISJOINT key ranges. The ordering claim survives because
        // fragmented buckets k-way merge at read
        // (KvMergingBucketReader), and zone maps get tighter, not
        // looser. This is the 100 TB maintenance knob: one file per
        // bucket at bucket(8) over 100 TB is a 12.5 TB file.
        // layout_rewrite: the procedure's repartition IS the layout —
        // the sink must not re-shuffle it under the table's standing
        // global-key distribution (which AQE then coalesces). A plain
        // key sort per task keeps every routed bucket file ascending.
        val v0 = KvSnapshots.latest(dir.toString).getOrElse(0)
        KvProcedures.withTightRangeSample(spark) {
          (if (perBucket == 1)
            src.repartition(n, bucketExpr)
          else
            src.repartitionByRange(
              n * perBucket, bucketExpr, col(keyName)))
            .sortWithinPartitions(col(keyName))
            .write
            .format("graft.sources.KvJsonlSink")
            .option("layout_rewrite", "true")
            .option("maintenance", "true")
            .option("maintenance_base", v0.toString)
            .mode("overwrite")
            .save(dir.toString)
        }
        val (filesAfter, delsAfter) = counts
        require(delsAfter == 0,
          s"rewrite_buckets of $table left delete files behind")
        val version = KvSnapshots.latest(dir.toString).getOrElse(0)
        val nRows = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)
          .count()
        KvProcedures.localScan(KvRewriteBucketsProcedure.OutSchema,
          InternalRow(filesBefore, filesAfter, delsBefore, nRows,
            version.toLong))
      }
    }
}

object KvRewriteBucketsProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("files_before", LongType),
    StructField("files_after", LongType),
    StructField("tombstone_files_folded", LongType),
    StructField("n_rows", LongType),
    StructField("version", LongType)))
}

/** `system.rebucket` — BUCKET-COUNT EVOLUTION for bucketed
  * snapshotted tables: a full OCC-committed rewrite of the data under
  * a new `bucket(n, key)` count, the bucket dimension's equivalent of
  * partition evolution. At 100 TB a table created `bucket(8, key)`
  * eventually needs 256 — without this, the only path is a manual
  * export/recreate that loses tags, history and CDC.
  *
  * {{{ CALL graft_kv.system.rebucket(
  *       table => 'default.t', buckets => 16) }}}
  *
  * Crash-safe by QUARANTINE, not by luck (KvBucketing.KvMeta): the
  * procedure (1) marks `rebucketTarget` in the table meta — from this
  * instant every writer routes by the target count and every scan
  * claims UnknownPartitioning; (2) runs the rewrite through the
  * ordinary two-phase-commit overwrite (readers keep the old snapshot
  * until the manifest flips; MoR tombstones fold like
  * rewrite_buckets); (3) publishes — `buckets` flips to the target,
  * the quarantine marker clears, and `bucketsFrom` records the
  * rewrite's version so pinned/tagged reads BELOW it (old-generation
  * membership) keep claiming Unknown forever. A crash in any window
  * leaves a table whose claims are suppressed (degraded plans, right
  * rows) and whose repair is re-running the same call.
  *
  * Branches are frozen out (like schema evolution): a branch's
  * membership is not rewritten, so publishing a new count under it
  * would let a later branch commit (version > bucketsFrom) claim a
  * grouping its old-generation files don't have.
  */
class KvRebucketProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "rebucket"
  override def description(): String =
    "rewrite a bucketed kv table under a new bucket(n, key) count"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "rebucket"
      override def description(): String =
        KvRebucketProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("buckets", IntegerType)
            .comment("the new bucket count")
            .build(),
          procedures.ProcedureParameter
            .in("target_files_per_bucket", IntegerType)
            .defaultValue("1")
            .comment("key-RANGE-split each new bucket into this many " +
              "sorted files — bounds output file size AND rewrite " +
              "parallelism independently of the target count (an " +
              "8→16 rebucket of a 100 TB table must not be 16 tasks " +
              "writing ~6 TB files)")
            .build())

      override def call(input: InternalRow): util.Iterator[Scan] = {
        val table = input.getUTF8String(0).toString
        require(input.numFields > 1 && !input.isNullAt(1),
          "system.rebucket needs a buckets => n argument")
        val newN = input.getInt(1)
        require(newN >= 1 && newN <= 4096,
          s"bucket count out of range [1, 4096]: $newN")
        val perBucket =
          if (input.numFields > 2 && !input.isNullAt(2)) input.getInt(2)
          else 1
        require(perBucket >= 1 && perBucket <= 4096,
          s"target_files_per_bucket out of range [1, 4096]: $perBucket")
        val dir = cat.resolveTableDir(table)
        KvProcedures.requireSnapshotted(table, dir)
        val meta = KvBucketing.readMetaFull(dir.toString)
        require(meta.partition.isEmpty,
          "system.rebucket does not yet cover COMPOSED " +
            "(unit × bucket) layouts — their per-cell rewrite " +
            "scoping is future work")
        val oldN = meta.buckets.getOrElse(
          throw new IllegalArgumentException(
            "system.rebucket needs a bucketed table — use CREATE " +
              "TABLE ... PARTITIONED BY (bucket(n, <key column>)) " +
              "for the initial layout"))
        require(KvBranches.list(dir.toString).isEmpty,
          s"cannot rebucket while branches exist " +
            s"(${KvBranches.list(dir.toString).mkString(", ")}) — " +
            "fast-forward or drop them first (branch memberships are " +
            "not rewritten)")

        // Meta writes below are READ-MODIFY-WRITE against the LIVE
        // meta, patching only the rebucket fields: a concurrent ALTER
        // landing during the (potentially long) rewrite — bloom_cols,
        // partition, sort — must survive the publish, not be
        // clobbered by a copy of the meta read before quarantine.
        def patchMeta(patch: KvBucketing.KvMeta => KvBucketing.KvMeta)
            : Unit =
          KvBucketing.writeMeta(dir.toString,
            patch(KvBucketing.readMetaFull(dir.toString)))

        // (1) QUARANTINE: writers route by the target, scans stop
        // claiming KeyGroupedPartitioning. Atomic meta write; a crash
        // after this point leaves a sound (claim-suppressed) table.
        patchMeta(_.copy(rebucketTarget = Some(newN)))

        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.{coalesce, col, lit, pmod}
        // (2) REWRITE under the new count: the routed writer (already
        // reading the quarantine target) re-places every row.
        // target_files_per_bucket = 1 keeps one task/file per new
        // bucket; > 1 RANGE-partitions on (bucket, key) instead, so
        // rewrite parallelism is newN×perBucket tasks and each bucket
        // lands as ~perBucket key-sorted files with DISJOINT key
        // ranges (fragmented buckets k-way merge at read —
        // KvMergingBucketReader — so sorted layouts keep their claim
        // either way).
        val keyName = KvSchema.keyNameOf(dir.toString)
        val bucketExpr = KvBucketing.bucketExprFor(col(keyName),
          KvSchema.keyType(KvSchema.currentCols(dir.toString)), newN)
        val src = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)
        val v0 = KvSnapshots.latest(dir.toString).getOrElse(0)
        KvProcedures.withTightRangeSample(spark) {
          (if (perBucket == 1)
            src.repartition(newN, bucketExpr)
          else
            src.repartitionByRange(
              newN * perBucket, bucketExpr, col(keyName)))
            .sortWithinPartitions(col(keyName))
            .write
            .format("graft.sources.KvJsonlSink")
            .option("layout_rewrite", "true")
            .option("maintenance", "true")
            .option("maintenance_base", v0.toString)
            .mode("overwrite")
            .save(dir.toString)
        }

        // (3) PUBLISH: flip the count, clear the quarantine, pin the
        // generation boundary at the rewrite's committed version.
        // Branch freeze-out is re-verified HERE, not just at entry: a
        // branch created DURING the rewrite seeded old-generation
        // membership, and publishing under it would let later branch
        // commits (version >= bucketsFrom) claim the new-count
        // grouping their files don't have — when newN > oldN the old
        // tokens all fall inside [0, newN), so the scan's fail-loud
        // guard could never catch it. Failing here leaves the table
        // QUARANTINED (claims suppressed, rows right); the repair is
        // dropping/fast-forwarding the branch and re-running the call.
        require(KvBranches.list(dir.toString).isEmpty,
          s"a branch was created while rebucketing $table " +
            s"(${KvBranches.list(dir.toString).mkString(", ")}) — " +
            "the table stays quarantined (claims suppressed); drop " +
            "or fast-forward the branch and re-run system.rebucket")
        val version = KvSnapshots.latest(dir.toString).getOrElse(0)
        patchMeta(_.copy(buckets = Some(newN), rebucketTarget = None,
          bucketsFrom = Some(version)))

        val stats = KvSnapshots.membersWithStats(dir.toString, version)
        require(KvSnapshots.deleteFiles(stats).isEmpty,
          s"rebucket of $table left delete files behind")
        val nRows = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)
          .count()
        KvProcedures.localScan(KvRebucketProcedure.OutSchema,
          InternalRow(oldN.toLong, newN.toLong,
            KvSnapshots.dataFiles(stats).size.toLong, nRows,
            version.toLong))
      }
    }
}

object KvRebucketProcedure {
  val OutSchema: StructType = StructType(Seq(
    StructField("buckets_before", LongType),
    StructField("buckets_after", LongType),
    StructField("files_after", LongType),
    StructField("n_rows", LongType),
    StructField("version", LongType)))
}
