package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** Bucket partitioning for kvjsonl tables — the layout that makes
  * STORAGE-PARTITIONED JOINS possible: two tables bucketed the same
  * way on `key` join with ZERO shuffle, because Spark's
  * KeyGroupedPartitioning machinery proves both scans already cluster
  * rows identically (SPARK-37377, the Iceberg bucket-join shape). At
  * 100 TB the join shuffle is usually THE dominant cost of a fact-fact
  * join; bucketing both tables at write time pays one clustered write
  * and then every subsequent co-keyed join is exchange-free.
  *
  * The bucket function is `floorMod(key, n)` (null key → bucket 0) —
  * deliberately transparent rather than a murmur-style hash, because
  * every participant must agree on it EXACTLY and the specs verify
  * row placement by recomputing it: the writer routes rows with it,
  * the scan reports it as the partition transform, and the V2
  * FunctionCatalog serves it to Catalyst so plans can (a) prove two
  * scans compatible via `canonicalName` and (b) evaluate it when a
  * write requests `Distributions.clustered(bucket(n, key))`. A skewed
  * long domain would want the hash variant; the machinery is
  * identical.
  *
  * Bucketed tables keep the connector's FLAT file layout — the bucket
  * id is carried in the file NAME (`part-...-b0003.jsonl`), not a
  * subdirectory — so every existing code path (truncate, compact
  * listing, `_file` provenance, the two-phase commit) works unchanged
  * on bucketed tables.
  */
object KvBucketing {

  /** Table-level metadata, one tiny JSON file per table dir. Absent ⇒
    * unpartitioned, unsnapshotted (every pre-existing table).
    */
  val MetaFile = "_meta.json"

  /** Full table meta: optional bucket partitioning, the snapshots
    * (time-travel) flag — see KvSnapshots.scala — the DML mode:
    * `mor` = MERGE-ON-READ row-level operations (positional delete
    * files applied at scan time, SupportsDelta) instead of the
    * default copy-on-write group rewrite (MoR requires snapshots —
    * delete files are manifest-tracked members of a version) — and
    * optional TEMPORAL PARTITIONING: `partition` holds the unit
    * (days / months) and the FIELD ID (rename-proof, like the schema
    * registry) of the TIMESTAMP/DATE column the table is
    * `PARTITIONED BY (days(col))` / `(months(col))` over. Like
    * buckets, the partition value is carried in the file NAME
    * (`part-...-d9862.jsonl` epoch days / `-m334` months since
    * 1970-01), keeping the flat layout every existing code path
    * works on.
    */
  /** `partitionLineage` is the ONE field id this table has ever been
    * temporally partitioned over — set at the first enable, immutable
    * afterwards, retained across a disable. Partition tokens in file
    * names record the unit but NOT the column, so re-partitioning
    * over a DIFFERENT column would make every leftover token
    * ambiguous (a `-d` token from the old column pruned against the
    * new column's predicate = silent wrong results). Pinning the
    * lineage makes partition EVOLUTION (unit changes, disable,
    * re-enable) sound by construction; the deployment-scale
    * alternative is Iceberg's per-file spec ids.
    */
  /** `sorted`: every batch write to this table requests a GLOBAL
    * key order (range distribution + in-partition sort), so files
    * land with disjoint key ranges and the manifest zone maps prune
    * from the first INSERT — `system.cluster`'s layout as a standing
    * write-path property instead of a maintenance call (Iceberg's
    * `write.sort-order`).
    */
  /** `blooms`: the FIELD IDS (rename-proof) of columns every write
    * tracks a per-file bloom filter sidecar for (KvBloom.scala) —
    * `TBLPROPERTIES ('bloom_cols'='value,user')`. STRING / BIGINT /
    * TIMESTAMP / DATE / DOUBLE columns (every equality-testable
    * scalar whose point lookups zone maps can't skip on).
    */
  /** `rebucketTarget` / `bucketsFrom`: BUCKET-COUNT EVOLUTION
    * (`system.rebucket`) bookkeeping, the bucket dimension's answer
    * to partition lineage. File-name bucket tokens record a POSITION
    * under the count they were written with, not the count itself, so
    * a table whose membership mixes generations must never claim
    * KeyGroupedPartitioning — the claim would be silently wrong.
    * `rebucketTarget` marks a rebucket IN FLIGHT: writers route by
    * the target (so the rewrite and any interleaved append land
    * new-generation), readers claim UnknownPartitioning (sound in
    * every crash window — a torn rebucket degrades plans, never
    * results). `bucketsFrom` records the first main-space snapshot
    * version whose membership is wholly the CURRENT count's
    * generation: pinned/tagged reads below it also claim Unknown.
    * Both absent on every never-rebucketed table (byte-identical
    * meta).
    */
  /** `autoCompact`: POLICY-DRIVEN MAINTENANCE (`TBLPROPERTIES
    * ('write.auto_compact'='t')`) — when a data commit leaves more
    * than t live data files in any bucket (or t total on an
    * unbucketed table), the write path itself runs the maintenance
    * rewrite (CDC-invisible, base-pinned) before returning. At
    * 100 TB with streaming ingest the alternative is an operator
    * remembering to CALL compact — see KvAutoCompact.scala.
    */
  /** `autoExpire`: the RETENTION half of policy-driven maintenance
    * (`TBLPROPERTIES ('expire.keep_last'='n')`) — after a data
    * commit, history beyond the newest n versions is expired
    * (tagged versions and branch-referenced files survive, exactly
    * like a manual `system.expire_snapshots`). Without it, a
    * streaming table's manifest log and retained files grow without
    * bound until an operator remembers to call expire.
    */
  case class KvMeta(
      buckets: Option[Int], snapshots: Boolean, mor: Boolean = false,
      partition: Option[(PartUnit, Int)] = None,
      partitionLineage: Option[Int] = None,
      sorted: Boolean = false,
      blooms: Seq[Int] = Nil,
      rebucketTarget: Option[Int] = None,
      bucketsFrom: Option[Int] = None,
      autoCompact: Option[Int] = None,
      autoExpire: Option[Int] = None) {
    def isEmpty: Boolean =
      buckets.isEmpty && !snapshots && !mor && partition.isEmpty &&
        partitionLineage.isEmpty && !sorted && blooms.isEmpty &&
        rebucketTarget.isEmpty && bucketsFrom.isEmpty &&
        autoCompact.isEmpty && autoExpire.isEmpty
  }

  /** The connector's bucket spec. Null keys go to bucket 0 (they can
    * never satisfy an equi-join, so their placement only needs to be
    * deterministic, not balanced).
    */
  def bucketOf(key: java.lang.Long, n: Int): Int =
    if (key == null) 0 else java.lang.Math.floorMod(key.longValue, n.toLong).toInt

  /** The STRING-key bucket spec: `floorMod(hash(key), n)` where
    * `hash` is exactly Spark's own `hash()` SQL function on one
    * string argument (Murmur3 over the UTF-8 bytes, seed 42) — the
    * same transparency contract as the long spec's `floorMod(key, n)`:
    * every participant (writer routing, the scan's partition claim,
    * the served V2 function, maintenance rewrites) recomputes it
    * identically, and a spec or an operator can reproduce the routing
    * with public SQL (`pmod(hash(key), n)`). Null keys → bucket 0,
    * like the long spec.
    */
  def bucketOfString(
      key: org.apache.spark.unsafe.types.UTF8String, n: Int): Int =
    if (key == null) 0
    else java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(key, org.apache.spark.sql.types.StringType, 42L).toInt,
      n)

  /** Bucket routing dispatched on the key's runtime class — for
    * call sites holding parsed keys or materialized join-key
    * literals whose static type is Any (runtime filter sets, parsed
    * line tokens). Long and String are the only key classes the
    * format produces; anything else is a caller bug worth failing
    * loudly on.
    */
  def bucketOfAny(key: Any, n: Int): Int = key match {
    case null => 0
    case l: Long => bucketOf(l, n)
    case s: String => bucketOfString(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), n)
    case other => throw new IllegalArgumentException(
      s"no bucket routing for key class ${other.getClass}")
  }

  /** The bucket-routing Column a maintenance rewrite repartitions by
    * — the DataFrame-expression twin of [[bucketOf]] /
    * [[bucketOfString]], defined ONCE so a procedure can never route
    * differently than the writer it feeds (split-brain routing =
    * rows silently landing in files whose name-token disagrees with
    * every reader's recomputation). Long keys: `pmod(key, n)` with
    * null → 0; string keys: `pmod(hash(key), n)` — Spark's own
    * `hash()` IS the string spec — with an explicit null guard
    * (hash(NULL) is the seed, not NULL, so coalesce alone would
    * misroute null keys).
    */
  def bucketExprFor(
      keyCol: org.apache.spark.sql.Column,
      dtype: DataType, n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, hash, lit, pmod, when}
    dtype match {
      case LongType => coalesce(pmod(keyCol, lit(n.toLong)), lit(0L))
      case org.apache.spark.sql.types.StringType =>
        when(keyCol.isNull, lit(0)).otherwise(pmod(hash(keyCol), lit(n)))
      case other => throw new IllegalArgumentException(
        s"no bucket routing for key type $other")
    }
  }

  def writeMeta(dir: String, meta: KvMeta): Unit = {
    require(!meta.isEmpty, "refusing to write an empty table meta")
    val fields =
      meta.buckets.map(n => s""""buckets":$n""").toSeq ++
        (if (meta.snapshots) Seq(""""snapshots":true""") else Seq.empty) ++
        (if (meta.mor) Seq(""""dml":"mor"""") else Seq.empty) ++
        meta.partition.map { case (u, id) =>
          s""""p${u.name}":$id""" }.toSeq ++
        // written only when it differs from the current spec's column
        // (disable keeps it; the common enabled case stays compact)
        meta.partitionLineage
          .filterNot(id => meta.partition.exists(_._2 == id))
          .map(id => s""""plineage":$id""").toSeq ++
        (if (meta.sorted) Seq(""""sort":"key"""") else Seq.empty) ++
        // semicolon-joined so the strict comma-split parser below
        // reads the list as ONE field
        (if (meta.blooms.nonEmpty)
          Seq(s""""blooms":"${meta.blooms.sorted.mkString(";")}"""")
        else Seq.empty) ++
        meta.rebucketTarget.map(n => s""""rebucket":$n""").toSeq ++
        meta.bucketsFrom.map(v => s""""bfrom":$v""").toSeq ++
        meta.autoCompact.map(t => s""""autocompact":$t""").toSeq ++
        meta.autoExpire.map(n => s""""autoexpire":$n""").toSeq
    // Temp + atomic rename, same as the manifest commit: an in-place
    // rewrite (ALTER flipping the snapshots flag) interrupted mid-write
    // would leave a truncated meta that bricks every subsequent access.
    graft.Fs.replaceAtomically(java.nio.file.Paths.get(dir, MetaFile),
      fields.mkString("{", ",", "}").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
  }

  def writeMeta(dir: String, buckets: Int): Unit =
    writeMeta(dir, KvMeta(Some(buckets), snapshots = false))

  private val BucketsField = """"buckets":(\d+)""".r
  private val SnapshotsField = """"snapshots":true""".r
  private val MorField = """"dml":"mor"""".r
  private val PdaysField = """"pdays":(\d+)""".r
  private val PmonthsField = """"pmonths":(\d+)""".r
  private val PyearsField = """"pyears":(\d+)""".r
  private val PhoursField = """"phours":(\d+)""".r
  private val PlineageField = """"plineage":(\d+)""".r
  private val SortField = """"sort":"key"""".r
  private val BloomsField = """"blooms":"(\d+(?:;\d+)*)"""".r
  private val RebucketField = """"rebucket":(\d+)""".r
  private val BfromField = """"bfrom":(\d+)""".r
  private val AutoCompactField = """"autocompact":(\d+)""".r
  private val AutoExpireField = """"autoexpire":(\d+)""".r

  def readMetaFull(dir: String): KvMeta = {
    val p = java.nio.file.Paths.get(dir, MetaFile)
    if (!java.nio.file.Files.isRegularFile(p))
      KvMeta(None, snapshots = false)
    else {
      val s = new String(
        java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(s.startsWith("{") && s.endsWith("}"),
        s"corrupt $MetaFile in $dir: $s")
      val fields = s.substring(1, s.length - 1).split(',').toSeq
        .filter(_.nonEmpty)
      // Strict field set: an unknown field is corruption (this file
      // is only ever written by writeMeta), never silently ignored.
      val meta = fields.foldLeft(KvMeta(None, snapshots = false)) {
        case (m, BucketsField(n)) => m.copy(buckets = Some(n.toInt))
        case (m, SnapshotsField()) => m.copy(snapshots = true)
        case (m, MorField()) => m.copy(mor = true)
        case (m, PdaysField(id)) =>
          m.copy(partition = Some((PartDays, id.toInt)))
        case (m, PmonthsField(id)) =>
          m.copy(partition = Some((PartMonths, id.toInt)))
        case (m, PyearsField(id)) =>
          m.copy(partition = Some((PartYears, id.toInt)))
        case (m, PhoursField(id)) =>
          m.copy(partition = Some((PartHours, id.toInt)))
        case (m, PlineageField(id)) =>
          m.copy(partitionLineage = Some(id.toInt))
        case (m, SortField()) => m.copy(sorted = true)
        case (m, BloomsField(ids)) =>
          m.copy(blooms = ids.split(';').map(_.toInt).toSeq)
        case (m, RebucketField(n)) =>
          m.copy(rebucketTarget = Some(n.toInt))
        case (m, BfromField(v)) =>
          m.copy(bucketsFrom = Some(v.toInt))
        case (m, AutoCompactField(t)) =>
          m.copy(autoCompact = Some(t.toInt))
        case (m, AutoExpireField(n)) =>
          m.copy(autoExpire = Some(n.toInt))
        case (_, other) => throw new IllegalArgumentException(
          s"corrupt $MetaFile field in $dir: $other")
      }
      require(!meta.isEmpty, s"corrupt (empty) $MetaFile in $dir: $s")
      // an enabled spec IS its own lineage (writeMeta elides the
      // redundant field)
      if (meta.partitionLineage.isEmpty && meta.partition.isDefined)
        meta.copy(partitionLineage = meta.partition.map(_._2))
      else meta
    }
  }

  def readMeta(dir: String): Option[Int] = readMetaFull(dir).buckets

  private val BucketInName = """-b(\d+)\.jsonl$""".r

  /** Final-name suffix the routed writer (KvDataWriter) appends;
    * [[fileBucket]] is its exact inverse on the file NAME (not path).
    */
  def bucketSuffix(bucket: Int): String = f"-b$bucket%04d"

  def fileBucket(fileName: String): Option[Int] =
    BucketInName.findFirstMatchIn(fileName).map(_.group(1).toInt)

  val MicrosPerDay: Long = 86400L * 1000 * 1000

  val MicrosPerHour: Long = 3600L * 1000 * 1000

  /** Temporal partition GRANULARITY — Iceberg's full transform family
    * (`years`/`months`/`days`/`hours`). One trait, four divisors —
    * the whole partition machinery (routing, file-name tokens,
    * pruning, the served V2 transform function) is
    * granularity-generic through it.
    */
  sealed abstract class PartUnit(
      val name: String, val tag: Char) extends Serializable {
    /** Unit value of a raw storage token (micros for TIMESTAMP
      * columns, epoch days for DATE columns). Floors toward -∞ so
      * pre-1970 values land in the right calendar unit.
      */
    def unitOf(raw: Long, isDate: Boolean): Long

    /** `hours` is meaningless over DATE (every row would share the
      * midnight hour) — Iceberg rejects it too.
      */
    def supportsDate: Boolean = true
  }

  case object PartDays extends PartUnit("days", 'd') {
    def unitOf(raw: Long, isDate: Boolean): Long =
      if (isDate) raw else java.lang.Math.floorDiv(raw, MicrosPerDay)
  }

  case object PartMonths extends PartUnit("months", 'm') {
    def unitOf(raw: Long, isDate: Boolean): Long = {
      val ld = java.time.LocalDate.ofEpochDay(
        PartDays.unitOf(raw, isDate))
      (ld.getYear - 1970).toLong * 12 + (ld.getMonthValue - 1)
    }
  }

  case object PartYears extends PartUnit("years", 'y') {
    def unitOf(raw: Long, isDate: Boolean): Long =
      (java.time.LocalDate.ofEpochDay(PartDays.unitOf(raw, isDate))
        .getYear - 1970).toLong
  }

  case object PartHours extends PartUnit("hours", 'h') {
    def unitOf(raw: Long, isDate: Boolean): Long = {
      require(!isDate, "hours() is not defined over DATE columns")
      java.lang.Math.floorDiv(raw, MicrosPerHour)
    }
    override def supportsDate: Boolean = false
  }

  def partUnit(name: String): Option[PartUnit] = name match {
    case "days" => Some(PartDays)
    case "months" => Some(PartMonths)
    case "years" => Some(PartYears)
    case "hours" => Some(PartHours)
    case _ => None
  }

  /** A partitioned write's token for one row's partition-column
    * value; None for NULL rows.
    */
  def partToken(
      raw: Option[Long], isDate: Boolean, unit: PartUnit): Option[Long] =
    raw.map(unit.unitOf(_, isDate))

  // the optional trailing bucket token admits COMPOSED layouts
  // (months(ts) × bucket(n, key) → `-m334-b0007.jsonl`): the partition
  // parse sees through the bucket suffix, the bucket parse anchors on
  // its own suffix, and each machinery stays blind to the other's token
  private val PartInName = """-([dmyh])(-?\d+|null)(?:-b\d+)?\.jsonl$""".r

  /** Partition suffix (`-d9862` / `-m334`); [[filePart]] is its exact
    * inverse. `null` marks the null partition (rows whose partition
    * column is NULL — they can never satisfy a comparison, so a
    * range prune always skips them).
    */
  def partSuffix(tok: Option[Long], unit: PartUnit): String =
    s"-${unit.tag}${tok.fold("null")(_.toString)}"

  /** None = no partition token in the name; Some(None) = the null
    * partition; Some(Some(v)) = unit value v. The unit is the
    * TABLE's (from its meta) — a token of the other unit's tag is
    * treated as token-less (never skipped), so a transform change
    * could never mis-prune leftover files.
    */
  def filePart(
      fileName: String, unit: PartUnit): Option[Option[Long]] =
    PartInName.findFirstMatchIn(fileName)
      .filter(_.group(1).head == unit.tag)
      .map { m =>
        val g = m.group(2)
        if (g == "null") None else Some(g.toLong)
      }

  /** Day-granularity reader kept for specs/tools. */
  def fileDay(fileName: String): Option[Option[Long]] =
    filePart(fileName, PartDays)
}

/** The `days` / `months` V2 functions the kv catalog serves through
  * FunctionCatalog — resolving the scan/write-reported transform is
  * what lets a catalog write request
  * `Distributions.clustered(days(col))`: Spark shuffles incoming rows
  * by unit BEFORE the write, so each task sees ~one unit value and
  * writes ~one file per value instead of every task fanning out
  * across all of them — the file-count control a date-partitioned
  * 100 TB write needs. One implementation, parameterized by the same
  * [[KvBucketing.PartUnit]] the writer and the pruner use, so all
  * three sides of the transform agree by construction.
  */
class KvPartFnUnbound(unit: KvBucketing.PartUnit)
    extends UnboundFunction {
  override def name(): String = unit.name
  override def description(): String =
    s"${unit.name}(col): ${unit.name}-since-epoch of a " +
      "timestamp/date — kvjsonl partition spec"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 1 &&
      (inputType(0).dataType ==
        org.apache.spark.sql.types.TimestampType ||
        (inputType(0).dataType == org.apache.spark.sql.types.DateType &&
          unit.supportsDate)),
      s"${unit.name} expects (TIMESTAMP)" +
        (if (unit.supportsDate) " or (DATE)" else "") +
        s"; got ${inputType.catalogString}")
    new KvPartFnBound(unit,
      isDate = inputType(0).dataType ==
        org.apache.spark.sql.types.DateType)
  }
}

class KvPartFnBound(unit: KvBucketing.PartUnit, isDate: Boolean)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] =
    Array(
      if (isDate) org.apache.spark.sql.types.DateType
      else org.apache.spark.sql.types.TimestampType)
  override def resultType(): DataType = IntegerType
  override def name(): String = unit.name
  override def canonicalName(): String = s"graft.kv.${unit.name}"
  override def isResultNullable: Boolean = true
  override def isDeterministic: Boolean = true

  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null
    else if (isDate)
      Int.box(unit.unitOf(input.getInt(0).toLong, isDate = true).toInt)
    else
      Int.box(unit.unitOf(input.getLong(0), isDate = false).toInt)
}

/** The `bucket` V2 function the kv catalog serves through
  * FunctionCatalog — Catalyst resolves the scan-reported
  * `bucket(n, key)` transform against THIS object: equality of
  * [[KvBucketBound.canonicalName]] across two scans is what lets
  * EnsureRequirements prove their KeyGroupedPartitionings compatible
  * (the storage-partitioned join), and `produceResult` is what the
  * shuffle evaluates when a write requests clustering by the
  * transform.
  */
class KvBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): floorMod(key, n) — kvjsonl bucket spec"

  override def bind(inputType: StructType): BoundFunction = {
    require(
      inputType.length == 2 &&
        inputType(0).dataType == IntegerType &&
        (inputType(1).dataType == LongType ||
          inputType(1).dataType ==
            org.apache.spark.sql.types.StringType),
      "bucket expects (INT n, BIGINT key) or (INT n, STRING key); " +
        s"got ${inputType.catalogString}")
    if (inputType(1).dataType == LongType) new KvBucketBound
    else new KvBucketBoundStr
  }
}

class KvBucketBound extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] =
    Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.kv.bucket"
  override def isResultNullable: Boolean = false
  override def isDeterministic: Boolean = true

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val key: java.lang.Long =
      if (input.isNullAt(1)) null else Long.box(input.getLong(1))
    Int.box(KvBucketing.bucketOf(key, n))
  }
}

/** The STRING-key binding of the same `bucket` transform —
  * [[KvBucketing.bucketOfString]] (Spark's `hash()` mod n). One
  * canonical name for the whole transform family, like Iceberg's
  * bucket: partitioning compatibility between two scans already
  * requires their join keys to agree in TYPE, so a long-keyed and a
  * string-keyed claim can never be conflated by name alone.
  */
class KvBucketBoundStr extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] =
    Array(IntegerType, org.apache.spark.sql.types.StringType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.kv.bucket"
  override def isResultNullable: Boolean = false
  override def isDeterministic: Boolean = true

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val key: org.apache.spark.unsafe.types.UTF8String =
      if (input.isNullAt(1)) null else input.getUTF8String(1)
    Int.box(KvBucketing.bucketOfString(key, n))
  }
}

/** Spec/gate observability for the runtime-filter path (single-JVM
  * counters, the local stand-in for custom task metrics).
  */
object KvRuntimeFilter {
  /** Files whose bucket a runtime join-key filter proved empty of
    * matches — whole-file I/O skipped at the planning of a
    * runtime-filtered scan.
    */
  val prunedFiles = new java.util.concurrent.atomic.AtomicLong
  /** Rows skipped by the reader's runtime key-set check (the
    * row-level residue of the runtime filter on files that DID need
    * opening).
    */
  val rowSkips = new java.util.concurrent.atomic.AtomicLong
}
