package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, Write, WriteBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** READ side of the kvjsonl connector (the write side and line format
  * live in KvJsonlSink.scala): one input partition per committed
  * `.jsonl` file — the same file-grain parallelism the parquet source
  * uses, minus intra-file splitting (line-oriented JSON has no row
  * groups; at deployment scale the sink's per-task files are already
  * the right split size because each was one write task's output).
  * Temp-dir attempt files are structurally invisible (they live under
  * `_temporary`, never matching the top-level listing), so a reader
  * concurrent with a write only ever sees published files — the
  * read-side half of the sink's exactly-once story.
  */
class KvScanBuilder(
    path: String,
    buckets: Option[Int] = None,
    snapshots: Boolean = false,
    pinnedVersion: Option[Int] = None,
    forRowLevelOp: Boolean = false,
    colsOverride: Option[Seq[KvSchema.Col]] = None,
    maxBytesPerTrigger: Option[Long] = None,
    branch: Option[String] = None,
    partitionSpec: Option[(KvBucketing.PartUnit, Int)] = None,
    scannedSink: Option[
      java.util.concurrent.atomic.AtomicReference[Set[String]]] = None,
    scanFilesOnly: Option[Set[String]] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  /** The table's columns at THIS scan's version: pinned reads use the
    * schema in effect at the pinned snapshot (time travel across an
    * ALTER), current reads the registry head. `colsOverride` is the
    * row-level-DML escape hatch — a MoR rewrite scan pins MEMBERSHIP
    * to its scan version but must still produce CURRENT-schema rows,
    * because Catalyst plans the rewrite against the table's current
    * schema.
    */
  private val cols: Seq[KvSchema.Col] =
    colsOverride.getOrElse(KvSchema.colsAsOf(path, pinnedVersion))

  /** CURRENT display name of the key column (field id 1) — pushed
    * filters and aggregate references arrive under it.
    */
  private val keyName: String = KvSchema.keyName(cols)

  // Column pruning lands HERE, not in the reader: a 2-column table
  // still profits (count(*) scans parse no fields), and the `_file`
  // metadata column only materializes when the plan asks for it.
  private var required: StructType = KvSchema.toStruct(cols)
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Key-predicate pushdown: comparisons against the long key are
  // evaluated in the reader on the PARSED key, before any value
  // unescape or UTF8String materialization — the row-level analogue
  // of parquet's row-group skip (this format has no per-file stats,
  // so file-level pruning isn't available; at deployment scale the
  // sink would write a min/max manifest to get it). Every filter is
  // ALSO returned to Spark for re-evaluation — the reader skip is a
  // pure optimization, never a correctness dependency, so a
  // predicate class the reader half-understands can't corrupt
  // results.
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    // A ROW-LEVEL-OPERATION scan accepts the DML's MATCHING condition
    // (Catalyst pushes it exactly so stats-capable formats can narrow
    // the affected file groups) for FILE-LEVEL pruning ONLY: a file
    // the zone maps / partition tokens prove condition-free holds
    // pure survivors, is excluded from the rewrite, and SURVIVES the
    // group-selective commit untouched (KvJsonlBatchWrite replaces
    // exactly the files this scan planned). Reader-side ROW skipping
    // stays disabled (KvScan gates it on forRowLevelOp) — it would
    // drop the survivors the rewrite must carry forward out of an
    // opened file. Discovered by `DELETE WHERE key = 2` leaving an
    // empty table back when the whole-table truncate commit paired
    // with row-accurate skipping.
    pushed =
      filters.filter(f =>
        KvKeyPredicate.supports(f, keyName) ||
          KvExtraPredicate.supports(f, cols) ||
          KvZoneMap.supportsCol(f, cols) ||
          // equality on a bloom column: accepted for FILE-level
          // sidecar pruning only (KvBloomPrune; Spark re-evaluates
          // the filter on every surviving row)
          KvBloomPrune.compile(Array(f), bloomIds, cols).nonEmpty)
    filters
  }

  /** The table's bloom-filter column ids (meta `blooms`) — what makes
    * an equality predicate pushable for sidecar file skipping.
    */
  private lazy val bloomIds: Seq[Int] =
    KvBucketing.readMetaFull(path).blooms
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  /** COUNT(*) / MIN(key) / MAX(key) answered from the MANIFEST (no
    * grouping, no residual filters, snapshotted table with per-file
    * stats recorded at commit): complete pushdown — the scan emits
    * the single final row and never opens a data file. At 100 TB this
    * is the difference between a metadata lookup and a table scan;
    * the same stats feed [[KvScan.estimateStatistics]] for the
    * planner. Anything the manifest can't answer exactly (a filter, a
    * group-by, an aggregate over `value`, an unknown-stats migrated
    * file, a row-level-op rewrite scan) declines the pushdown and the
    * ordinary scan+aggregate runs.
    */
  private var pushedAggs: Option[Seq[KvAggScan.PushedAgg]] = None

  // Spark probes supportCompletePushDown then pushAggregation with
  // the same Aggregation; compiling reads the whole manifest, so the
  // result is cached by instance identity rather than computed twice.
  private var compiledCache
      : (org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
        Option[Seq[KvAggScan.PushedAgg]]) = null

  private def compileAggs(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[KvAggScan.PushedAgg]] = {
    if (compiledCache != null && (compiledCache._1 eq agg))
      return compiledCache._2
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    def isKey(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: NamedReference =>
          r.fieldNames.sameElements(Array(keyName))
        case _ => false
      }
    // MIN/MAX over an EVOLVED fixed-domain column answer from the
    // per-column zone maps (KvFileStat.colStats) — same contract as
    // the key: exact stats on every data file, no tombstones. A
    // NaN-bearing double file recorded NO stats, so the presence
    // check below also declines exactly the case where IEEE range
    // reasoning and Spark's NaN-is-largest MIN/MAX would disagree.
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[KvSchema.Col] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        cols.find(c => c.name == r.fieldNames.head && c.id > 2 &&
          (c.dtype == LongType ||
            c.dtype == org.apache.spark.sql.types.DoubleType ||
            c.dtype == org.apache.spark.sql.types.TimestampType ||
            c.dtype == org.apache.spark.sql.types.DateType))
      case _ => None
    }
    val result: Option[Seq[KvAggScan.PushedAgg]] =
      // scanFilesOnly: a FILE-RESTRICTED scan (the selective
      // maintenance read) must never answer aggregates from the FULL
      // manifest — decline, the ordinary restricted scan runs.
      if (!(snapshots && !forRowLevelOp && pushed.isEmpty &&
          scanFilesOnly.isEmpty &&
          agg.groupByExpressions().isEmpty &&
          agg.aggregateExpressions().nonEmpty)) None
      else {
        // MIN/MAX over a STRING key must decline OUTRIGHT (not via
        // the keysKnown check below, which an EMPTY table vacuously
        // passes): AggMinKey's result schema is LongType, and serving
        // it under a STRING column would corrupt the exchange.
        val keyLong = KvSchema.keyType(cols) == LongType
        val compiled = agg.aggregateExpressions().toSeq.map {
          case _: CountStar => Some(KvAggScan.AggCount)
          case m: Min if isKey(m.column()) =>
            if (keyLong) Some(KvAggScan.AggMinKey) else None
          case m: Max if isKey(m.column()) =>
            if (keyLong) Some(KvAggScan.AggMaxKey) else None
          case m: Min => colOf(m.column()).map(KvAggScan.AggMinCol)
          case m: Max => colOf(m.column()).map(KvAggScan.AggMaxCol)
          case _ => None
        }
        if (!compiled.forall(_.isDefined)) None
        else {
          // ONE manifest read; requirements are per-agg: COUNT needs
          // exact row counts (tombstone counts are exact too — the
          // manifest answer is dataRows − deletedRows), MIN/MAX need
          // exact key stats AND no tombstones (a positional delete
          // could have removed the extremal row, making the file
          // stats an over-approximation — sound for zone-map
          // skipping, wrong as an aggregate ANSWER). A migrated
          // manifest may have neither — decline, scan instead.
          val stats = pinnedVersion.orElse(KvSnapshots.latest(path))
            .map(KvSnapshots.membersWithStats(path, _, branch))
            .getOrElse(Seq.empty)
          val hasDeletes = KvSnapshots.deleteFiles(stats).nonEmpty
          val ok = compiled.flatten.forall {
            case KvAggScan.AggCount => stats.forall(_.rows >= 0)
            case KvAggScan.AggMinKey | KvAggScan.AggMaxKey =>
              !hasDeletes &&
                KvSnapshots.dataFiles(stats).forall(_.keysKnown)
            case KvAggScan.AggMinCol(c) => !hasDeletes &&
              KvSnapshots.dataFiles(stats)
                .forall(_.colStats.contains(c.id))
            case KvAggScan.AggMaxCol(c) => !hasDeletes &&
              KvSnapshots.dataFiles(stats)
                .forall(_.colStats.contains(c.id))
          }
          if (ok) Some(compiled.flatten) else None
        }
      }
    compiledCache = (agg, result)
    result
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = compileAggs(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedAggs = compileAggs(agg)
    pushedAggs.isDefined
  }

  override def build(): Scan = pushedAggs match {
    case Some(aggs) => new KvAggScan(path, pinnedVersion, aggs, branch)
    case None => new KvScan(path, required, pushed, buckets, snapshots,
      pinnedVersion, forRowLevelOp, cols, maxBytesPerTrigger, branch,
      partitionSpec, scannedSink, scanFilesOnly)
  }
}

/** The manifest-only aggregate scan: one partition, one row, zero
  * data files opened. `served` is the spec/gate observability
  * counter.
  */
class KvAggScan(
    path: String, pinnedVersion: Option[Int],
    aggs: Seq[KvAggScan.PushedAgg],
    branch: Option[String] = None)
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(aggs.map {
      case KvAggScan.AggCount => org.apache.spark.sql.types
        .StructField("count(*)", LongType, nullable = false)
      case KvAggScan.AggMinKey => org.apache.spark.sql.types
        .StructField("min(key)", LongType, nullable = true)
      case KvAggScan.AggMaxKey => org.apache.spark.sql.types
        .StructField("max(key)", LongType, nullable = true)
      case KvAggScan.AggMinCol(c) => org.apache.spark.sql.types
        .StructField(s"min(${c.name})", c.dtype, nullable = true)
      case KvAggScan.AggMaxCol(c) => org.apache.spark.sql.types
        .StructField(s"max(${c.name})", c.dtype, nullable = true)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"kvjsonl $path PushedAggregation: [${aggs.mkString(", ")}] " +
      "(manifest-only)"

  override def planInputPartitions(): Array[InputPartition] = {
    val stats = pinnedVersion.orElse(KvSnapshots.latest(path)) match {
      case None => Seq.empty[KvSnapshots.KvFileStat]
      case Some(v) =>
        val st = KvSnapshots.membersWithStats(path, v, branch)
        // Fail-loud TOCTOU guard: a commit landing between the
        // builder's check and execution could de-qualify the stats.
        require(
          aggs.forall {
            case KvAggScan.AggCount => st.forall(_.rows >= 0)
            case KvAggScan.AggMinKey | KvAggScan.AggMaxKey =>
              KvSnapshots.deleteFiles(st).isEmpty &&
                KvSnapshots.dataFiles(st).forall(_.keysKnown)
            case KvAggScan.AggMinCol(c) =>
              KvSnapshots.deleteFiles(st).isEmpty &&
                KvSnapshots.dataFiles(st)
                  .forall(_.colStats.contains(c.id))
            case KvAggScan.AggMaxCol(c) =>
              KvSnapshots.deleteFiles(st).isEmpty &&
                KvSnapshots.dataFiles(st)
                  .forall(_.colStats.contains(c.id))
          },
          s"manifest v$v of $path lost the stats the pushed " +
            "aggregate needs (concurrent commit?)")
        st
    }
    val data = KvSnapshots.dataFiles(stats)
    // Column min/max from the recorded tokens, boxed to the column's
    // INTERNAL type (micros long / epoch-day int / long / double) —
    // all-null files contribute nothing, an empty reduce is SQL NULL.
    def colAgg(
        c: KvSchema.Col, pick: ((String, String)) => String,
        reduce: (Long, Long) => Long,
        reduceD: (Double, Double) => Double): Any = {
      val toks = data.flatMap(st => st.colStats(c.id).map(pick))
      c.dtype match {
        case org.apache.spark.sql.types.DoubleType =>
          toks.map(_.toDouble).reduceOption(reduceD)
            .map(Double.box).orNull
        case org.apache.spark.sql.types.DateType =>
          toks.map(_.toLong).reduceOption(reduce)
            .map(l => Int.box(l.toInt)).orNull
        case _ =>
          toks.map(_.toLong).reduceOption(reduce).map(Long.box).orNull
      }
    }
    val values: Seq[Any] = aggs.map {
      // COUNT(*) over a MoR table = physical data rows minus
      // tombstones — both exact manifest numbers.
      case KvAggScan.AggCount =>
        data.map(_.rows).sum -
          KvSnapshots.deleteFiles(stats).map(_.rows).sum
      case KvAggScan.AggMinKey =>
        data.flatMap(_.minKey)
          .reduceOption(math.min(_, _)).map(Long.box).orNull
      case KvAggScan.AggMaxKey =>
        data.flatMap(_.maxKey)
          .reduceOption(math.max(_, _)).map(Long.box).orNull
      case KvAggScan.AggMinCol(c) =>
        colAgg(c, _._1, math.min(_, _), math.min(_, _))
      case KvAggScan.AggMaxCol(c) =>
        colAgg(c, _._2, math.max(_, _), math.max(_, _))
    }
    KvAggScan.served.incrementAndGet()
    Array(KvAggPartition(values))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          partition: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val values =
            partition.asInstanceOf[KvAggPartition].values
          private var done = false
          override def next(): Boolean =
            if (done) false else { done = true; true }
          override def get(): InternalRow =
            InternalRow.fromSeq(values)
          override def close(): Unit = ()
        }
    }
}

case class KvAggPartition(values: Seq[Any]) extends InputPartition

object KvAggScan {
  sealed trait PushedAgg
  case object AggCount extends PushedAgg {
    override def toString: String = "COUNT(*)"
  }
  case object AggMinKey extends PushedAgg {
    override def toString: String = "MIN(key)"
  }
  case object AggMaxKey extends PushedAgg {
    override def toString: String = "MAX(key)"
  }
  final case class AggMinCol(c: KvSchema.Col) extends PushedAgg {
    override def toString: String = s"MIN(${c.name})"
  }
  final case class AggMaxCol(c: KvSchema.Col) extends PushedAgg {
    override def toString: String = s"MAX(${c.name})"
  }

  /** Manifest-answered aggregates served in this JVM (observability
    * for the gates' fail-loud requires).
    */
  val served = new java.util.concurrent.atomic.AtomicLong
}

/** The reader-side compiled form of the pushed key predicates.
  * Filters arrive named by the table's CURRENT key-column name
  * (`kn` — KvSchema.keyName), never the literal `key`: the key is a
  * role (field id 1), its display name is per-table.
  */
object KvKeyPredicate {
  import org.apache.spark.sql.sources._

  def supports(f: Filter, kn: String): Boolean = f match {
    case EqualTo(a, _: java.lang.Long) => a == kn
    case GreaterThan(a, _: java.lang.Long) => a == kn
    case GreaterThanOrEqual(a, _: java.lang.Long) => a == kn
    case LessThan(a, _: java.lang.Long) => a == kn
    case LessThanOrEqual(a, _: java.lang.Long) => a == kn
    // string-keyed tables: Catalyst types the literal by the column,
    // so a String-valued key comparison can only arise over a STRING
    // key — the value class IS the key-type dispatch
    case EqualTo(a, _: String) => a == kn
    case GreaterThan(a, _: String) => a == kn
    case GreaterThanOrEqual(a, _: String) => a == kn
    case LessThan(a, _: String) => a == kn
    case LessThanOrEqual(a, _: String) => a == kn
    case IsNotNull(a) => a == kn
    case _ => false
  }

  /** String comparisons must match SPARK's string order — UTF8String
    * binary (code-point) order, which java.lang.String.compareTo
    * (UTF-16 code-unit order) disagrees with for [U+E000, U+FFFF] vs
    * supplementary-plane characters. A reader-side skip that used the
    * wrong order would silently drop matching rows.
    */
  private def cmpStr(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Conjunction of all supported filters over the parsed key (None
    * = null key; Long or String per the table's key type):
    * comparisons are null-rejecting like SQL. Callers pre-filter with
    * [[supports]], so attribute names need no re-check here — every
    * supported shape over the key column evaluates, anything else
    * passes through (Spark re-applies). A type mismatch between the
    * parsed key and the literal (impossible outside file corruption —
    * the id→type binding is immutable) never skips.
    */
  def eval(filters: Array[Filter], key: Option[Any]): Boolean =
    filters.forall {
      case IsNotNull(_) => key.isDefined
      case EqualTo(_, v: java.lang.Long) =>
        key.exists { case l: Long => l == v.longValue; case _ => true }
      case GreaterThan(_, v: java.lang.Long) =>
        key.exists { case l: Long => l > v.longValue; case _ => true }
      case GreaterThanOrEqual(_, v: java.lang.Long) =>
        key.exists { case l: Long => l >= v.longValue; case _ => true }
      case LessThan(_, v: java.lang.Long) =>
        key.exists { case l: Long => l < v.longValue; case _ => true }
      case LessThanOrEqual(_, v: java.lang.Long) =>
        key.exists { case l: Long => l <= v.longValue; case _ => true }
      case EqualTo(_, v: String) =>
        key.exists { case s: String => s == v; case _ => true }
      case GreaterThan(_, v: String) =>
        key.exists { case s: String => cmpStr(s, v) > 0; case _ => true }
      case GreaterThanOrEqual(_, v: String) =>
        key.exists { case s: String => cmpStr(s, v) >= 0; case _ => true }
      case LessThan(_, v: String) =>
        key.exists { case s: String => cmpStr(s, v) < 0; case _ => true }
      case LessThanOrEqual(_, v: String) =>
        key.exists { case s: String => cmpStr(s, v) <= 0; case _ => true }
      case _ => true
    }

  /** Test observability: rows skipped by reader-side predicate
    * evaluation in this JVM (single-JVM specs read it; at deployment
    * this would be a custom task metric).
    */
  val skipped = new java.util.concurrent.atomic.AtomicLong
}

/** Reader-side pushdown for EVOLVED comparable columns — bigint,
  * timestamp and date extras (ids > 2), whose storage tokens are all
  * integer-domain (long / micros / epoch-days). Comparisons compile
  * once per scan to (storage field, op, long) and evaluate on the
  * PARSED token map, skipping rows before InternalRow materialization.
  * Zone maps stay key-only (manifests record key stats alone), so this
  * is the row-level half of pushdown for evolved columns; like every
  * pushed filter here it is returned to Spark for re-evaluation, but
  * the SKIP itself must be exact — a skipped row never reaches Spark —
  * which is why [[token]] refuses any literal class it doesn't know
  * byte-for-byte (refusal = the filter isn't accepted at all).
  */
object KvExtraPredicate {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types.{DateType, TimestampType}

  sealed trait Op
  case object OpEq extends Op
  case object OpGt extends Op
  case object OpGe extends Op
  case object OpLt extends Op
  case object OpLe extends Op
  case object OpNotNull extends Op

  /** One compiled predicate over a storage field's integer token. */
  final case class Compiled(storage: String, op: Op, v: Long)

  /** Literal → the column's token domain. Uses the SAME conversions
    * Spark used to build the literal (DateTimeUtils), so the reader's
    * token compare is bit-identical to the engine's own semantics.
    */
  private[sources] def token(
      dtype: org.apache.spark.sql.types.DataType,
      value: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    (dtype, value) match {
      case (LongType, l: java.lang.Long) => Some(l.longValue)
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(DateTimeUtils.fromJavaTimestamp(t))
      case (TimestampType, t: java.time.Instant) =>
        Some(DateTimeUtils.instantToMicros(t))
      case (DateType, d: java.sql.Date) =>
        Some(DateTimeUtils.fromJavaDate(d).toLong)
      case (DateType, d: java.time.LocalDate) =>
        Some(DateTimeUtils.localDateToDays(d).toLong)
      case _ => None
    }
  }

  private def comparable(c: KvSchema.Col): Boolean =
    c.id > 2 && (c.dtype == LongType || c.dtype == TimestampType ||
      c.dtype == DateType)

  def compile(f: Filter, cols: Seq[KvSchema.Col]): Option[Compiled] = {
    def col(name: String): Option[KvSchema.Col] =
      cols.find(c => c.name == name && comparable(c))
    f match {
      case IsNotNull(a) =>
        col(a).map(c => Compiled(c.storageName, OpNotNull, 0L))
      case EqualTo(a, v) => for { c <- col(a); t <- token(c.dtype, v) }
        yield Compiled(c.storageName, OpEq, t)
      case GreaterThan(a, v) => for { c <- col(a); t <- token(c.dtype, v) }
        yield Compiled(c.storageName, OpGt, t)
      case GreaterThanOrEqual(a, v) =>
        for { c <- col(a); t <- token(c.dtype, v) }
          yield Compiled(c.storageName, OpGe, t)
      case LessThan(a, v) => for { c <- col(a); t <- token(c.dtype, v) }
        yield Compiled(c.storageName, OpLt, t)
      case LessThanOrEqual(a, v) =>
        for { c <- col(a); t <- token(c.dtype, v) }
          yield Compiled(c.storageName, OpLe, t)
      case _ => None
    }
  }

  def supports(f: Filter, cols: Seq[KvSchema.Col]): Boolean =
    compile(f, cols).isDefined

  /** Conjunction over a parsed line's extras. Absent = NULL, which is
    * null-rejecting for every op here (IsNotNull included — that IS
    * the test). A token of an unexpected class never skips (the only
    * safe failure direction; cannot occur for compiled columns, whose
    * tokens are always longs).
    */
  def eval(ps: Array[Compiled], extras: Map[String, Any]): Boolean =
    ps.forall { p =>
      extras.get(p.storage) match {
        case Some(x: Long) => p.op match {
          case OpNotNull => true
          case OpEq => x == p.v
          case OpGt => x > p.v
          case OpGe => x >= p.v
          case OpLt => x < p.v
          case OpLe => x <= p.v
        }
        case Some(_) => true // unexpected token class — never skip
        case None => false
      }
    }

  /** Rows skipped by evolved-column predicate evaluation in this JVM
    * (gate/spec observability, like KvKeyPredicate.skipped).
    */
  val skipped = new java.util.concurrent.atomic.AtomicLong
}

/** FILE-level partition pruning for temporally partitioned tables
  * (`PARTITIONED BY (days(col))` / `(months(col))` —
  * KvBucketing.KvMeta.partition): pushed comparisons on the partition
  * column compile to an inclusive unit interval (epoch days / months
  * since 1970-01), and a file whose name-token value falls outside it
  * is skipped WITHOUT OPENING — pruning independent of key zone maps,
  * on the axis a 100 TB time-series table is actually laid out by.
  * Always an over-approximation in the safe direction: bounds only
  * ever widen to whole units (a file can only be skipped when NO row
  * in its unit could match), unknown literal classes impose no bound,
  * and files without a token never skip.
  */
object KvPartitionPrune {
  import org.apache.spark.sql.sources._

  /** Inclusive [lo, hi] unit interval; existing only when at least
    * one comparison bound the partition column (an active range also
    * skips the null partition — NULL satisfies no comparison).
    */
  final case class UnitRange(lo: Long, hi: Long) {
    def admits(v: Option[Long]): Boolean =
      v.exists(d => d >= lo && d <= hi)
  }

  def compile(
      filters: Array[Filter],
      pcol: KvSchema.Col,
      unit: KvBucketing.PartUnit): Option[UnitRange] = {
    val isDate = pcol.dtype == org.apache.spark.sql.types.DateType
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var active = false
    def bound(value: Any)(apply: Long => Unit): Unit =
      KvExtraPredicate.token(pcol.dtype, value).foreach { t =>
        apply(unit.unitOf(t, isDate)); active = true
      }
    filters.foreach {
      case EqualTo(a, v) if a == pcol.name =>
        bound(v) { d => lo = math.max(lo, d); hi = math.min(hi, d) }
      case GreaterThan(a, v) if a == pcol.name =>
        // ts > T admits unit(T) itself (rows later in the same unit)
        // — conservative; DATE+days could tighten to d+1 but never
        // must.
        bound(v) { d => lo = math.max(lo, d) }
      case GreaterThanOrEqual(a, v) if a == pcol.name =>
        bound(v) { d => lo = math.max(lo, d) }
      case LessThan(a, v) if a == pcol.name =>
        bound(v) { d => hi = math.min(hi, d) }
      case LessThanOrEqual(a, v) if a == pcol.name =>
        bound(v) { d => hi = math.min(hi, d) }
      case _ => ()
    }
    if (active) Some(UnitRange(lo, hi)) else None
  }

  /** Files skipped by day-partition pruning in this JVM (gate/spec
    * observability).
    */
  val prunedFiles = new java.util.concurrent.atomic.AtomicLong
}

class KvScan(
    path: String, required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    buckets: Option[Int] = None,
    snapshots: Boolean = false,
    pinnedVersion: Option[Int] = None,
    forRowLevelOp: Boolean = false,
    cols: Seq[KvSchema.Col] = KvSchema.Legacy,
    maxBytesPerTrigger: Option[Long] = None,
    branch: Option[String] = None,
    partitionSpec: Option[(KvBucketing.PartUnit, Int)] = None,
    scannedSink: Option[
      java.util.concurrent.atomic.AtomicReference[Set[String]]] = None,
    scanFilesOnly: Option[Set[String]] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsRuntimeV2Filtering
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  /** CURRENT display name of the key column (field id 1): partition
    * transforms, ordering claims and runtime predicates all speak it.
    */
  private val keyName: String = KvSchema.keyName(cols)

  /** ONE snapshot resolution and ONE manifest parse per Scan (= per
    * planned query). Planning consults the membership repeatedly —
    * estimateStatistics, planInputPartitions, the row-level
    * scan-file report — and the tombstone index derives from the
    * same manifest, so the uncached shape paid ~5 parses per query,
    * each O(files). At 100 TB a manifest is metadata-SIZED, not
    * free: a million-file table's manifest is ~10^8 text bytes.
    * Caching per Scan also makes a query SNAPSHOT-CONSISTENT:
    * statistics, pruning and rows all come from the SAME version
    * even when a commit lands between planning calls (previously
    * each call re-resolved latest(), so a mid-planning commit could
    * hand statistics from one version and rows from another). Scans
    * are per-query driver objects — nothing outlives its query, so
    * no invalidation story is needed: DROP/expire/rebucket land in
    * versions a later query's fresh Scan resolves.
    */
  private lazy val snapshotState: Option[
      (Int, Seq[KvSnapshots.KvFileStat], Map[String, Array[Long]])] =
    pinnedVersion.orElse(KvSnapshots.latest(path)).map { v =>
      val stats = KvSnapshots.membersWithStats(path, v, branch)
      (v, stats, KvSnapshots.deleteIndexOf(path, stats))
    }

  /** The table meta, read once per Scan (same lifetime argument as
    * [[snapshotState]]): claim/ordering/bloom/runtime-filter
    * resolution all consult it, and one query must speak ONE meta.
    */
  private lazy val metaCached: KvBucketing.KvMeta =
    KvBucketing.readMetaFull(path)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"kvjsonl $path PushedFilters: [${pushed.mkString(", ")}]" +
      buckets.fold("")(n => s" buckets: $n") +
      pinnedVersion.fold("")(v => s" version: $v") +
      branch.fold("")(b => s" branch: $b")

  /** Join-key values pushed at RUNTIME (dynamic partition pruning /
    * runtime filtering): Spark materializes the selective side's keys
    * and hands them to [[filter]] before (re-)planning input
    * partitions. Driver-side state — BatchScanExec calls filter()
    * then planInputPartitions() on this same Scan instance.
    */
  private val runtimeKeysCell =
    new java.util.concurrent.atomic.AtomicReference[Option[Set[Any]]](
      None)
  private def runtimeKeys: Option[Set[Any]] = runtimeKeysCell.get()

  /** Empty (⇒ no runtime filtering) for a ROW-LEVEL-OPERATION scan:
    * Spark's runtime group filter would push the keys MATCHING the
    * DML condition, and pruning by them drops the survivors a
    * whole-table-replacement commit must rewrite — sound only for
    * per-group committers that preserve unscanned groups. Discovered
    * the hard way: DELETE key%2=0 on a bucket(4) table pruned the
    * odd-key buckets (pure survivors) out of the rewrite and the
    * truncate-replace deleted them. Pinned by KvSnapshotsSpec's
    * compose test and KvBucketingSpec's %2 DML test. (The static
    * twin of this hazard — pushed DML conditions — is rejected in
    * KvScanBuilder.pushFilters.)
    */
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (forRowLevelOp)
      Array.empty
    else {
      // the key (bucket file pruning + reader row skip) AND every
      // declared bloom column: a selective dim join on a bloomed
      // string/long column prunes fact FILES at runtime through the
      // sidecars — DPP for columns no layout clusters by. Restricted
      // to columns surviving THIS scan's projection: Spark's
      // PartitionPruning resolves every declared attribute against
      // the scan output and FAILS on a pruned-out one.
      val present = required.fieldNames.toSet
      (keyName +: metaCached.blooms.flatMap(id =>
        cols.find(_.id == id).map(_.name)))
        .filter(present)
        .map(org.apache.spark.sql.connector.expressions.Expressions
          .column)
        .toArray
    }

  /** Runtime predicates arrive as V2 `Predicate`s (IN / = over the
    * join key with materialized literals). Anything unparseable is
    * IGNORED — the runtime filter is a pure optimization (Spark
    * re-applies the join itself), so the only safe failure mode is
    * "no pruning", never "wrong pruning". At deployment scale the IN
    * list is bounded by Spark's own DPP fallback thresholds; here it
    * compiles to (a) whole-bucket file pruning when the table is
    * bucketed — key k can only live in bucket floorMod(k, n), so a
    * bucket outside the runtime key set's bucket image is skipped
    * without opening its files — and (b) a reader-side key-set row
    * skip for files that do get opened.
    */
  override def filter(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = if (!forRowLevelOp) {
    val sets = predicates.flatMap(KvRuntimePredicate.keySet(_, keyName))
    if (sets.nonEmpty)
      runtimeKeysCell.set(Some(sets.reduce(_ intersect _)))
    // runtime predicates over BLOOM columns compile to extra sidecar
    // conjuncts — same evaluation as the static pushed ones
    val bloomIds = metaCached.blooms
    if (bloomIds.nonEmpty)
      runtimeBloom = predicates.toSeq.flatMap(
        KvBloomPrune.compileV2(_, bloomIds, cols))
  }

  /** Runtime (field id → candidate hashes) conjuncts from [[filter]]
    * — driver-side state like runtimeKeys; BatchScanExec calls
    * filter() then (re-)plans partitions on this same instance.
    */
  private var runtimeBloom: Seq[(Int, Array[Long])] = Nil

  /** The bucket count this scan may CLAIM (and group partitions by):
    * suppressed to None while a `system.rebucket` is in flight
    * (membership may mix generations in every crash window) and for
    * pinned/tagged/branch reads below `bucketsFrom` (their membership
    * predates the current count — its file tokens are positions under
    * the OLD count, so a KeyGroupedPartitioning claim would be
    * silently wrong). Suppression degrades the plan (Spark shuffles),
    * never the rows.
    */
  private lazy val claimBuckets: Option[Int] =
    buckets.flatMap { _ =>
      val meta = metaCached
      if (meta.rebucketTarget.isDefined) None
      else if (pinnedVersion.exists(v => meta.bucketsFrom.exists(_ > v)))
        None
      // the CURRENT count, not the constructor's: a table object
      // loaded before a rebucket published must group (and claim) the
      // new generation's files under the new count, never the old
      else meta.buckets
    }

  /** Bucketed tables report `KeyGroupedPartitioning(bucket(n, key), n)`
    * — the storage-partitioned-join handshake. ALL n buckets are
    * always planned (an empty bucket yields a no-file partition), so
    * two same-n tables present identical sorted partition-value lists
    * and EnsureRequirements can align them 1:1 without the
    * push-part-values machinery. Unbucketed tables report the honest
    * UnknownPartitioning — as do bucketed scans whose membership may
    * not be single-generation ([[claimBuckets]]).
    */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    claimBuckets match {
      case Some(n) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, keyName)),
            n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** The scan's data files, each with its SORTED tombstone positions
    * (merge-on-read: the manifest's `.del` members are loaded ONCE at
    * planning into a name→positions index — tombstones are one line
    * per deleted row, so this is metadata-sized — and each file's
    * slice rides into its partition; the reader applies them in one
    * sequential merge while counting lines). Empty for unsnapshotted
    * and tombstone-free tables.
    */
  /** The pushed unit-intervals over the partition column, compiled
    * once per scan — one interval PER TEMPORAL UNIT, not just the
    * current spec's: after partition EVOLUTION (days → months, say)
    * the table's files carry MIXED-generation tokens, each
    * self-describing its unit via the suffix tag, and every
    * generation prunes under its own interval. All intervals derive
    * from the same pushed timestamp bounds on the same column
    * (partition lineage pins the column across evolutions), so a
    * `-d` file from before the change and an `-m` file from after
    * both skip on the same predicate.
    */
  private lazy val partRanges
      : Seq[(KvBucketing.PartUnit, KvPartitionPrune.UnitRange)] =
    (for {
      (_, id) <- partitionSpec.toSeq
      pcol <- cols.find(_.id == id).toSeq
      unit <- Seq(KvBucketing.PartHours, KvBucketing.PartDays,
        KvBucketing.PartMonths, KvBucketing.PartYears)
      if unit.supportsDate ||
        pcol.dtype != org.apache.spark.sql.types.DateType
      r <- KvPartitionPrune.compile(pushed, pcol, unit)
    } yield (unit, r))

  /** Compiled bloom point-lookup conjuncts (field id → candidate
    * hashes) from the pushed equality predicates — empty unless the
    * table declares bloom columns AND the query filters on one, so
    * non-point-lookup scans never touch a sidecar.
    */
  private lazy val bloomConjuncts: Seq[(Int, Array[Long])] =
    KvBloomPrune.compile(pushed, metaCached.blooms, cols)

  /** A 'write.sort'='key' table whose every data file is key-sorted:
    * all writes (batch, streaming, DML rewrites) ran under the
    * requested sort. MoR tables don't qualify — MERGE's delta writer
    * appends data files with no ordering request, and per-file
    * provenance isn't tracked.
    */
  private lazy val sortedLayout: Boolean = {
    val meta = metaCached
    meta.sorted && !meta.mor
  }

  /** Per-partition ordering report (SupportsReportOrdering): a
    * 'write.sort'='key' table's scan claims key-ascending partitions
    * on EVERY membership state — unbucketed partitions are single
    * sorted files, and a fragmented bucket (two appends → two sorted
    * files) is K-WAY MERGED by the reader (KvMergingBucketReader)
    * instead of concatenated. Paired with KeyGroupedPartitioning this
    * removes the SORTS from a co-bucketed sort-merge join, on top of
    * the exchanges SPJ already removes — at 100 TB the sort of a
    * fact-fact join is the second-largest cost after its shuffle.
    * MoR tables never claim (sortedLayout above); a pruned-out `key`
    * column can't anchor the SortOrder, so those scans don't claim
    * (and, consistently, their readers don't merge).
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (sortedLayout && required.fieldNames.contains(keyName)) {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      Array(Expressions.sort(Expressions.column(keyName),
        SortDirection.ASCENDING))
    } else Array.empty

  /** Partition file skip: a file whose name-token value falls outside
    * the pushed interval (or the null partition, which no comparison
    * admits) never opens. Token-less files never skip, and a file's
    * token is only ever tested against ITS OWN unit's interval. The
    * prune counter only moves on COUNTED listings (partition
    * planning) — the statistics estimate walks the same list and
    * must not double-count.
    */
  private def dayAdmits(fileName: String, count: Boolean): Boolean =
    partRanges.forall { case (unit, r) =>
      KvBucketing.filePart(fileName, unit).forall { v =>
        val keep = r.admits(v)
        if (!keep && count)
          KvPartitionPrune.prunedFiles.incrementAndGet()
        keep
      }
    }

  private def listFiles(
      countPrunes: Boolean = true): Array[(String, Array[Long])] =
    if (snapshots) {
      // Snapshotted table: membership is the MANIFEST (pinned version
      // for a time-travel read, else the latest), never the directory
      // — retained prior-version files must stay invisible to a
      // current read. The manifest's per-file zone maps (min/max key)
      // skip files a pushed or runtime key predicate proves matchless
      // — the row-group-stats skip parquet footers provide, recovered
      // for a plain line format. Unknown stats (rows = -1, a migrated
      // pre-snapshot file) never skip; a known keyless file (rows
      // recorded, no non-null keys) is matchless under every
      // null-rejecting key comparison. Tombstones only ever REMOVE
      // rows, so a file's recorded key range is an over-approximation
      // of its live rows — exactly the sound direction for skipping.
      snapshotState match {
        case None => Array.empty
        case Some((_, stats, dels)) =>
          KvSnapshots.dataFiles(stats)
            // scan_files: the selective-maintenance read — membership
            // ∩ the named set (a name that expired between selection
            // and read simply drops out; the writer's base pin is
            // what detects real interleaving)
            .filter(st => scanFilesOnly.forall(_.contains(st.name)))
            .filter(st => dayAdmits(st.name, countPrunes))
            .filter { st =>
              val keep =
                KvZoneMap.mayMatch(st, pushed, keyName) &&
                  KvZoneMap.mayMatchCols(st, pushed, cols) &&
                  runtimeKeys.forall(ks => KvZoneMap.mayMatchKeys(st, ks))
              if (!keep) KvZoneMap.prunedFiles.incrementAndGet()
              keep
            }
            // Bloom sidecar skip (KvBloom.scala) — static point
            // lookups AND runtime join-key sets on bloom columns;
            // runs AFTER the free manifest checks so only zone-map
            // survivors pay the sidecar read
            .filter { st =>
              val keep = KvBloomPrune.mayMatch(
                path, st.name, bloomConjuncts ++ runtimeBloom)
              if (!keep && countPrunes)
                KvBloomPrune.prunedFiles.incrementAndGet()
              keep
            }
            .sortBy(_.name)
            .map(st => (
              java.nio.file.Paths.get(path, st.name).toString,
              dels.getOrElse(st.name, Array.empty[Long])))
            .toArray
      }
    } else {
      val dir = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isDirectory(dir)) Array.empty
      else {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala
          .map(_.toString)
          .filter(_.endsWith(".jsonl"))
          .filter(f => scanFilesOnly.forall(_.contains(
            java.nio.file.Paths.get(f).getFileName.toString)))
          .filter(f => dayAdmits(
            java.nio.file.Paths.get(f).getFileName.toString,
            countPrunes))
          .filter { f =>
            val keep = KvBloomPrune.mayMatch(path,
              java.nio.file.Paths.get(f).getFileName.toString,
              bloomConjuncts ++ runtimeBloom)
            if (!keep && countPrunes)
              KvBloomPrune.prunedFiles.incrementAndGet()
            keep
          }
          .toArray
          .sorted // deterministic partition order across runs
          .map((_, Array.empty[Long]))
        finally s.close()
      }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // A row-level-operation scan REPORTS its planned file set: the
    // group-selective commit (KvJsonlBatchWrite.replaceOnly) replaces
    // exactly these files and keeps every pruned file untouched —
    // the scan/commit handshake that turns file pruning on the DML
    // condition from a correctness hazard into the optimization.
    scannedSink.foreach(_.set(
      listFiles(countPrunes = false).map { case (f, _) =>
        java.nio.file.Paths.get(f).getFileName.toString
      }.toSet))
    claimBuckets match {
      case None =>
        // Unbucketed (or claim-suppressed around a rebucket): one
        // partition per committed file (no per-file key stats, so a
        // runtime filter prunes rows in the reader, never files).
        listFiles().map { case (f, dels) =>
          KvInputPartition(f, dels): InputPartition
        }
      case Some(n) =>
        val byBucket = listFiles().groupBy { case (f, _) =>
          val name = java.nio.file.Paths.get(f).getFileName.toString
          KvBucketing.fileBucket(name).getOrElse(
            throw new IllegalStateException(
              s"unbucketed file $f in bucketed table $path"))
        }
        // Fail-loud generation guard: a token outside [0, n) means
        // the membership mixes bucket generations (a torn rebucket
        // that somehow escaped the claim quarantine) — dropping the
        // file from the (0 until n) grouping below would be silent
        // data loss, so refuse instead.
        require(byBucket.keys.forall(b => b >= 0 && b < n),
          s"bucketed table $path membership carries bucket tokens " +
            s"outside [0, $n) — mixed bucket generations; re-run " +
            "system.rebucket to repair")
        val keep: Option[Set[Int]] = runtimeKeys.map(
          _.map(k => KvBucketing.bucketOfAny(k, n)))
        (0 until n).map { i =>
          val all = byBucket.getOrElse(i, Array.empty[(String, Array[Long])])
          val files =
            if (keep.forall(_.contains(i))) all
            else {
              KvRuntimeFilter.prunedFiles.addAndGet(all.length.toLong)
              Array.empty[(String, Array[Long])]
            }
          KvBucketPartition(files.map(_._1), i, files.map(_._2))
            : InputPartition
        }.toArray
    }
  }

  /** Planner statistics: byte size from the live file list (what
    * every file source reports — it drives the hint-free broadcast
    * decision), and EXACT row counts from the snapshot manifest when
    * the table records them. Estimates by contract — a pushed filter
    * makes them upper bounds, which is the conservative direction for
    * join sizing.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val files = listFiles(countPrunes = false)
    val size = files.map { case (f, _) =>
      try java.nio.file.Files.size(java.nio.file.Paths.get(f))
      catch { case _: java.io.IOException => 0L }
    }.sum
    val rows: java.util.OptionalLong =
      if (!snapshots) java.util.OptionalLong.empty()
      else snapshotState match {
        case None => java.util.OptionalLong.of(0L)
        case Some((_, stats, _)) =>
          // Live rows = data rows − tombstones (both manifest-exact).
          val counts = KvSnapshots.dataFiles(stats).map(_.rows)
          if (counts.forall(_ >= 0))
            java.util.OptionalLong.of(counts.sum -
              KvSnapshots.deleteFiles(stats).map(_.rows).sum)
          else java.util.OptionalLong.empty()
      }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // A row-level-operation reader gets NO filters: every pushed
    // predicate served file-level pruning only, and a row skip in an
    // OPENED file would drop survivors the rewrite must carry.
    new KvReaderFactory(required.fieldNames,
      if (forRowLevelOp) Array.empty else pushed, runtimeKeysCell, cols,
      mergeSortedBuckets = sortedLayout)

  /** Streaming read = the table's CHANGE FEED (KvChangeFeed.scala),
    * offsets = snapshot manifest versions — hence snapshotted tables
    * only: without retained manifests there is no commit log to tail.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(snapshots,
      s"streaming reads of $path need a snapshotted table " +
        "(TBLPROPERTIES ('snapshots'='true')) — the manifest log is " +
        "the offset log")
    require(branch.isEmpty,
      "streaming reads follow MAIN's manifest log; a branch is an " +
        "audit staging area, not a feed — fast-forward it first")
    new KvChangeFeedStream(path, required.fieldNames, cols,
      maxBytesPerTrigger)
  }
}

/** Compile a runtime V2 predicate to a join-key set (None = can't,
  * which disables pruning for that predicate — never wrong, only
  * less pruned).
  */
object KvRuntimePredicate {
  import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private def isKey(e: Expression, kn: String): Boolean = e match {
    case r: NamedReference => r.fieldNames.sameElements(Array(kn))
    case _ => false
  }

  /** A materialized join-key literal: Long for BIGINT keys, String
    * for STRING keys (V2 string literals carry UTF8String values —
    * decoded once here, so set membership downstream compares
    * java.lang.String against the parser's String keys). A NULL
    * literal (Option(l.value) empty) or any other type → None, and
    * the whole predicate is ignored — the only safe failure mode for
    * a pure optimization is "no pruning".
    */
  private def keyLit(e: Expression): Option[Any] = e match {
    case l: Literal[_] if l.dataType == LongType =>
      Option(l.value).map(_.asInstanceOf[java.lang.Long].longValue)
    case l: Literal[_] if l.dataType == StringType =>
      Option(l.value).map(_.toString)
    case _ => None
  }

  /** `kn` is the table's current key-column name (the key is a role
    * — field id 1 — not a literal name). Elements are Long or String
    * per the key column's type (never mixed — one column, one type).
    */
  def keySet(p: Predicate, kn: String): Option[Set[Any]] =
    p.name() match {
      case "IN" =>
        val cs = p.children()
        if (cs.length >= 2 && isKey(cs.head, kn)) {
          val vals = cs.tail.map(keyLit)
          if (vals.forall(_.isDefined)) Some(vals.flatten.toSet)
          else None
        } else None
      case "=" =>
        p.children() match {
          case Array(k, v) if isKey(k, kn) => keyLit(v).map(Set(_))
          case Array(v, k) if isKey(k, kn) => keyLit(v).map(Set(_))
          case _ => None
        }
      case _ => None
    }
}

case class KvInputPartition(
    file: String, deletes: Array[Long] = Array.empty)
    extends InputPartition

/** One bucket of a bucketed kvjsonl table: all its committed files
  * (with per-file tombstone positions, aligned by index), plus the
  * partition key (the bucket ordinal) that KeyGrouped planning groups
  * and aligns on.
  */
case class KvBucketPartition(
    files: Array[String], bucket: Int,
    deletes: Array[Array[Long]] = Array.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

class KvReaderFactory(
    fields: Array[String],
    pushed: Array[org.apache.spark.sql.sources.Filter],
    /** Shared with the owning scan through a mutable CELL, not a
      * value: Spark materializes the reader factory during PLANNING
      * (the supportsColumnar probe), which is BEFORE runtime
      * filtering hands the scan its join-key set via filter(). A
      * value snapshot taken then is always None — the reader-side
      * runtime key skip would be dead code. The cell is read at
      * task-serialization time (driver, after filter()), so the
      * serialized factory carries the final set to executors.
      */
    runtimeKeysCell: java.util.concurrent.atomic.AtomicReference[
      Option[Set[Any]]] =
      new java.util.concurrent.atomic.AtomicReference(None),
    cols: Seq[KvSchema.Col] = KvSchema.Legacy,
    mergeSortedBuckets: Boolean = false)
    extends PartitionReaderFactory {
  private def runtimeKeys: Option[Set[Any]] = runtimeKeysCell.get()
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case KvInputPartition(file, dels) =>
        new KvPartitionReader(Array(file), fields, pushed, runtimeKeys,
          Array(dels), cols)
      case KvBucketPartition(files, bucket, dels) =>
        // Tombstone arrays align with files BY INDEX; planning always
        // builds them together (or passes an explicit empty for
        // tombstone-free scans). A length mismatch is a planner bug —
        // fail loud rather than "default" to dropping every tombstone
        // in the partition, which would silently resurrect deleted
        // rows.
        if (dels.nonEmpty && dels.length != files.length)
          throw new IllegalStateException(
            s"bucket $bucket partition carries ${dels.length} " +
              s"tombstone slices for ${files.length} files — " +
              "misaligned merge-on-read planning")
        val delsOf: Int => Array[Long] = i =>
          if (dels.isEmpty) Array.empty[Long] else dels(i)
        val keyOrd = fields.indexOf(KvSchema.keyName(cols))
        if (mergeSortedBuckets && files.length > 1 && keyOrd >= 0)
          // SORTED table, fragmented bucket: k-way MERGE the bucket's
          // key-ascending files so the partition stays key-ascending
          // — what makes the scan's ordering claim (outputOrdering)
          // hold on EVERY membership state, not just one-file
          // buckets. Each sub-reader keeps its own sequential
          // tombstone cursor; the wrapper only chooses emission
          // order. When `key` isn't projected no ordering was
          // claimed (the SortOrder couldn't anchor), so concatenation
          // is fine and the merge is skipped.
          new KvMergingBucketReader(
            files.indices.map(i =>
              new KvPartitionReader(Array(files(i)), fields, pushed,
                runtimeKeys, Array(delsOf(i)), cols)).toArray,
            keyOrd)
        else
          new KvPartitionReader(files, fields, pushed, runtimeKeys,
            files.indices.map(delsOf).toArray, cols)
    }
}

/** K-way merge over one bucket's key-sorted files (see
  * KvReaderFactory): one-row lookahead per sub-reader, smallest key
  * wins, NULL keys first (Spark's ascending-nulls-first default —
  * the same order the write path's requested SortOrder produced
  * inside each file). Sub-readers build a fresh InternalRow per line,
  * so the lookahead buffer never aliases.
  */
class KvMergingBucketReader(
    subs: Array[KvPartitionReader], keyOrd: Int)
    extends PartitionReader[InternalRow] {

  private val heads = new Array[InternalRow](subs.length)
  private var initialized = false
  private var current: InternalRow = _

  private def advance(i: Int): Unit =
    heads(i) = if (subs(i).next()) subs(i).get() else null

  override def next(): Boolean = {
    if (!initialized) {
      var i = 0
      while (i < subs.length) { advance(i); i += 1 }
      initialized = true
    }
    var best = -1
    var bestKey = 0L
    var bestNull = false
    var i = 0
    while (i < heads.length) {
      val h = heads(i)
      if (h != null) {
        val isNull = h.isNullAt(keyOrd)
        val k = if (isNull) 0L else h.getLong(keyOrd)
        val wins =
          best < 0 ||
            (isNull && !bestNull) ||
            (isNull == bestNull && !isNull && k < bestKey)
        if (wins) { best = i; bestKey = k; bestNull = isNull }
      }
      i += 1
    }
    if (best < 0) false
    else {
      current = heads(best)
      advance(best)
      true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = subs.foreach(_.close())
}

class KvPartitionReader(
    files: Array[String], fields: Array[String],
    pushed: Array[org.apache.spark.sql.sources.Filter],
    runtimeKeys: Option[Set[Any]] = None,
    deletes: Array[Array[Long]] = Array.empty,
    cols: Seq[KvSchema.Col] = KvSchema.Legacy)
    extends PartitionReader[InternalRow] {

  import KvPartitionReader._

  /** Each requested field resolved ONCE against the scan's column
    * registry: metadata columns by reserved name, data columns by
    * their CURRENT name (so a renamed column still reads its stable
    * storage field). SrcExtra only exists on schema-evolved tables —
    * founding tables keep the byte-identical fast parse.
    */
  private val srcs: Array[FieldSrc] = fields.map { f =>
    if (f == KvJsonlSink.FileColumn) SrcFile
    else if (f == KvJsonlSink.PosColumn) SrcPos
    else cols.find(_.name == f) match {
      case Some(c) if c.id == 1 => SrcKey
      case Some(c) if c.id == 2 => SrcValue
      case Some(c) => SrcExtra(c.storageName, c.dtype)
      case None => throw new IllegalArgumentException(
        s"kvjsonl scan cannot produce column $f " +
          s"(columns: ${cols.map(_.name).mkString(", ")})")
    }
  }

  /** Only pay the extras parse when a projected field needs it: a
    * (key, value) projection of an evolved table still skips the tail
    * in one pass.
    */
  private val needsExtras = srcs.exists(_.isInstanceOf[SrcExtra])

  /** The pushed filters split by evaluation site: key predicates run
    * on the cheap key-prefix parse; evolved-column predicates need the
    * full token parse (and so only ever cost anything on evolved
    * tables that pushed one).
    */
  private val keyPushed =
    pushed.filter(KvKeyPredicate.supports(_, KvSchema.keyName(cols)))
  private val extraPushed: Array[KvExtraPredicate.Compiled] =
    pushed.flatMap(KvExtraPredicate.compile(_, cols))

  private var fileIdx = -1
  private var in: java.io.BufferedReader = _
  private var fileUtf8: UTF8String = _
  private var row: InternalRow = _

  /** Physical position of the CURRENT line within its file (0-based
    * line ordinal, counted over every line including predicate- and
    * tombstone-skipped ones — the stable row address the merge-on-read
    * delete files and the `_pos` metadata column are defined over).
    */
  private var pos = -1L

  /** This file's tombstones (sorted ascending) and the merge cursor:
    * positions arrive sorted and lines are read sequentially, so the
    * check is one pointer compare per line, never a search.
    */
  private var dels: Array[Long] = Array.empty
  private var delIdx = 0

  /** Advance to the next file; false when the partition is exhausted.
    * (A bucket partition holds several files; empty-file-list
    * partitions — a pruned or genuinely empty bucket — read nothing.)
    */
  private def nextFile(): Boolean = {
    if (in != null) in.close()
    fileIdx += 1
    if (fileIdx >= files.length) { in = null; false }
    else {
      val f = files(fileIdx)
      in = java.nio.file.Files.newBufferedReader(
        java.nio.file.Paths.get(f),
        java.nio.charset.StandardCharsets.UTF_8)
      fileUtf8 = UTF8String.fromString(f)
      pos = -1L
      dels =
        if (fileIdx < deletes.length) deletes(fileIdx)
        else Array.empty[Long]
      delIdx = 0
      true
    }
  }

  @annotation.tailrec
  final override def next(): Boolean = {
    if (in == null && !nextFile()) false
    else {
      val line = in.readLine()
      if (line == null) {
        if (!nextFile()) false else next()
      } else {
        pos += 1
        // Advance past any stale cursor entries first (defensive: the
        // index is deduped at planning, but a cursor stuck on a
        // duplicate would silently stop applying later tombstones).
        while (delIdx < dels.length && dels(delIdx) < pos) delIdx += 1
        if (delIdx < dels.length && dels(delIdx) == pos) {
          // Merge-on-read: this physical row is tombstoned by a
          // positional delete file — invisible to every read,
          // including the row-level-operation rewrite scans (an
          // UPDATE must never resurrect a deleted row).
          delIdx += 1
          next()
        } else if (pushed.nonEmpty || runtimeKeys.isDefined) {
          val k = KvJsonlSink.parseKey(line)
          if (keyPushed.nonEmpty && !KvKeyPredicate.eval(keyPushed, k)) {
            KvKeyPredicate.skipped.incrementAndGet()
            next()
          } else if (runtimeKeys.exists(ks => !k.exists(ks.contains))) {
            // Runtime join-key set: a row whose key is outside it can
            // never match the join (null keys included — IN(null) is
            // never true), so skipping preserves the result. The
            // set's element type follows the key column's (Long or
            // String — KvRuntimePredicate.keyLit), matching the
            // parser's key classes, so membership is exact for both.
            KvRuntimeFilter.rowSkips.incrementAndGet()
            next()
          } else if (extraPushed.nonEmpty) {
            // Evolved-column predicates need the full token parse —
            // done ONCE here and handed to materialization, so a
            // surviving row never parses twice.
            val parsed = KvSchema.parseRow(line)
            if (!KvExtraPredicate.eval(extraPushed, parsed._3)) {
              KvExtraPredicate.skipped.incrementAndGet()
              next()
            } else { materializeParsed(parsed); true }
          } else { materialize(line); true }
        } else { materialize(line); true }
      }
    }
  }

  private def materialize(line: String): Unit =
    materializeParsed(
      if (needsExtras) KvSchema.parseRow(line)
      else {
        val (k0, v0) = KvJsonlSink.parseLine(line)
        (k0, v0, null)
      })

  private def materializeParsed(
      parsed: (Option[Any], Option[String], Map[String, Any])): Unit = {
    val (k, v, extras) = parsed
    row = InternalRow.fromSeq(srcs.toSeq.map {
      case SrcKey => k match {
        case None => null
        case Some(l: Long) => Long.box(l)
        case Some(s: String) => UTF8String.fromString(s)
        case Some(other) => throw new IllegalStateException(
          s"kvjsonl key token of unexpected class ${other.getClass}")
      }
      case SrcValue => v.map(UTF8String.fromString).orNull
      case SrcFile => fileUtf8
      case SrcPos => Long.box(pos)
      case SrcExtra(storage, dtype) =>
        // Absent = NULL: a file written before the ADD COLUMN simply
        // lacks the storage field (parquet's missing-column reads).
        extras.get(storage) match {
          case None => null
          case Some(x) => KvSchema.materializeExtra(x, dtype, storage)
        }
    })
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (in != null) in.close()
}

object KvPartitionReader {
  /** Where a projected field's bytes come from — resolved once per
    * reader in the constructor, never per row.
    */
  sealed trait FieldSrc
  case object SrcKey extends FieldSrc
  case object SrcValue extends FieldSrc
  case object SrcFile extends FieldSrc
  case object SrcPos extends FieldSrc
  final case class SrcExtra(
      storage: String, dtype: org.apache.spark.sql.types.DataType)
      extends FieldSrc
}

/** The group-based row-level operation behind SQL DELETE / UPDATE /
  * MERGE on a kvjsonl table (KvJsonlTable.newRowLevelOperationBuilder
  * has the protocol overview). The scan is the ordinary kvjsonl scan;
  * the write is the ordinary two-phase-commit batch write in truncate
  * mode, because this table is a single replacement group. Catalyst
  * owns the rewrite query (surviving-rows filter, update projection,
  * or merge join) — the connector only supplies scan + replace-write.
  */
class KvRowLevelOperation(
    path: String, cmd: RowLevelOperation.Command,
    buckets: Option[Int] = None,
    partition: Option[(KvBucketing.PartUnit, String)] = None,
    snapshots: Boolean = false, sorted: Boolean = false)
    extends RowLevelOperation {

  override def command(): RowLevelOperation.Command = cmd

  /** The scan → commit handshake that makes the rewrite
    * GROUP-SELECTIVE: the rewrite scan records the files it planned
    * (after pruning by the pushed DML condition against zone maps /
    * partition tokens), and the write's commit replaces EXACTLY that
    * set — pruned files hold pure survivors and stay untouched. At
    * 100 TB this is the difference between `DELETE WHERE ts <
    * retention` rewriting one month's files and rewriting the table.
    * One operation instance serves one DML, so this driver-side cell
    * is single-writer by construction.
    */
  private val scanned =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](null)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    // forRowLevelOp: the rewrite's scan carries every survivor OF THE
    // FILES IT OPENS — pushed DML conditions prune whole files only
    // (KvScanBuilder.pushFilters), reader row-skip and the runtime
    // key filter stay disabled (KvScan gates both).
    new KvScanBuilder(path, buckets, snapshots,
      forRowLevelOp = true, scannedSink = Some(scanned))

  /** `_file` rides along so Catalyst plans the metadata-aware
    * replace-write (ProjectingInternalRow strips the rewrite's
    * bookkeeping columns before rows reach the writer — the same
    * task path Iceberg's copy-on-write uses). The commit replaces
    * exactly the files the rewrite's scan planned, so the writer
    * discards the metadata row.
    */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(KvJsonlSink.FileColumn))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = info.schema()
    val want = KvSchema.currentCols(path)
    require(
      s.length == want.length &&
        s.zip(want).forall { case (f, c) =>
          KvSchema.normalize(f.dataType) == c.dtype },
      s"kvjsonl row-level write needs " +
        s"${KvSchema.toStruct(want).catalogString}; " +
        s"got ${s.catalogString}")
    // The rewrite requests the same (distribution, ordering) as the
    // table's own writes (row-level ops always resolve through the
    // catalog, so the bucket function resolves): without it every
    // rewrite task of a bucketed table fans out across ALL buckets —
    // up to n open writers per task and tasks×n files per DML instead
    // of ~n — a sorted table's replacement bands stop being
    // zone-map-prunable, and a partitioned table's rewrite tasks each
    // write a file per partition they see.
    val requirement = KvJsonlTable.writeRequirement(
      KvSchema.keyName(want), buckets, partition, sorted)
    new WriteBuilder {
      override def build(): Write = new KvWrite(path, info.queryId(),
        requirement,
        new KvJsonlBatchWrite(path, truncateFirst = true, info.queryId(),
          replaceOnly = Some(replacedFiles _)),
        streamRefusal = Some("a row-level rewrite is batch-only"))
    }
  }

  private def replacedFiles(): Set[String] = {
    val s = scanned.get()
    if (s == null)
      throw new IllegalStateException(
        s"row-level rewrite of $path committed before its scan " +
          "planned — the group-selective commit has no replaced set")
    s
  }
}

/** `KvCatalog` — a DataSourceV2 `TableCatalog` over a warehouse
  * directory of kvjsonl tables, registered per session with
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft_kv",
  *   "graft.sources.KvCatalog")
  * spark.conf.set("spark.sql.catalog.graft_kv.warehouse", dir)
  * }}}
  *
  * (`KvGate.table` does this for the registered gates), after which
  * the FULL SQL DDL/DML surface resolves against it:
  * CREATE/DROP TABLE, INSERT INTO/OVERWRITE, SELECT, and — through
  * `SupportsRowLevelOperations` on the table — DELETE FROM, UPDATE
  * and MERGE INTO, the DML triad Spark's built-in file sources don't
  * support at all. Layout: `warehouse/<namespace>/<table>/` holding
  * the table's `.jsonl` files, one directory level per namespace
  * (single-level namespaces, like a database of tables).
  *
  * The catalog itself is metadata-only (directory listings and
  * renames); every data-bearing operation goes through the scan /
  * two-phase-commit write, so the catalog adds no scale constraint
  * beyond the connector's own.
  */
class KvCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: java.nio.file.Path = _

  /** Reserved virtual namespace holding the catalog's maintenance
    * procedures (`CALL graft_kv.system.compact(...)`) — always
    * "exists", holds no tables, cannot be created or dropped.
    */
  private val SystemNs = Array("system")

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"catalog $name requires spark.sql.catalog.$name.warehouse")
    warehouse = java.nio.file.Paths.get(wh)
    // `default` exists from birth, like the session catalog's.
    java.nio.file.Files.createDirectories(warehouse.resolve("default"))
  }

  override def name(): String = catalogName

  private def nsPath(ns: Array[String]): java.nio.file.Path = {
    if (ns.length != 1)
      throw new NoSuchNamespaceException(ns)
    warehouse.resolve(ns.head)
  }

  private def tablePath(ident: Identifier): java.nio.file.Path =
    nsPath(ident.namespace()).resolve(ident.name())

  // ---- tables ----

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (ns.sameElements(SystemNs)) return Array.empty
    val p = nsPath(ns)
    if (!java.nio.file.Files.isDirectory(p))
      throw new NoSuchNamespaceException(ns)
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(d => Identifier.of(ns, d.getFileName.toString))
      .toArray
      .sortBy(_.name())
    finally s.close()
  }

  /** Virtual CDC table suffix: `t$changes` reads table `t`'s commit
    * history as typed change rows (KvChanges.scala) — the Iceberg
    * metadata-table addressing shape (quote it in SQL:
    * {{{ SELECT * FROM graft_kv.default.`t$changes` }}}).
    */
  private val ChangesSuffix = "$changes"

  /** Commit-history metadata table: `t$snapshots` (KvMetaTables
    * .scala) — one row per retained manifest version, manifest-only.
    */
  private val SnapshotsSuffix = "$snapshots"

  /** Named-ref metadata table: `t$refs` — one row per tag and branch
    * (KvMetaTables.scala), the WAP lifecycle's observability surface.
    */
  private val RefsSuffix = "$refs"

  /** Per-file metadata table: `t$files` — one row per current-snapshot
    * member with its zone maps and layout token (KvMetaTables.scala).
    */
  private val FilesSuffix = "$files"

  /** Per-partition metadata table: `t$partitions` — one row per layout
    * token (bucket / temporal unit) of the current snapshot, the
    * manifest aggregated by partition (KvMetaTables.scala).
    */
  private val PartitionsSuffix = "$partitions"

  override def loadTable(ident: Identifier): Table = {
    if (ident.name().endsWith(PartitionsSuffix)) {
      val base = Identifier.of(
        ident.namespace(), ident.name().stripSuffix(PartitionsSuffix))
      val p = tablePath(base)
      if (!java.nio.file.Files.isDirectory(p))
        throw new NoSuchTableException(base)
      require(KvBucketing.readMetaFull(p.toString).snapshots,
        s"${base.name()}$PartitionsSuffix needs a snapshotted base " +
          "table (TBLPROPERTIES ('snapshots'='true')) — the manifest " +
          "is what the rows come from")
      return new KvPartitionsMetaTable(
        p.toString, s"kvjsonl partitions($p)")
    }
    if (ident.name().endsWith(FilesSuffix)) {
      val base = Identifier.of(
        ident.namespace(), ident.name().stripSuffix(FilesSuffix))
      val p = tablePath(base)
      if (!java.nio.file.Files.isDirectory(p))
        throw new NoSuchTableException(base)
      require(KvBucketing.readMetaFull(p.toString).snapshots,
        s"${base.name()}$FilesSuffix needs a snapshotted base table " +
          "(TBLPROPERTIES ('snapshots'='true')) — the manifest is " +
          "what the rows come from")
      return new KvFilesMetaTable(p.toString, s"kvjsonl files($p)")
    }
    if (ident.name().endsWith(RefsSuffix)) {
      val base = Identifier.of(
        ident.namespace(), ident.name().stripSuffix(RefsSuffix))
      val p = tablePath(base)
      if (!java.nio.file.Files.isDirectory(p))
        throw new NoSuchTableException(base)
      require(KvBucketing.readMetaFull(p.toString).snapshots,
        s"${base.name()}$RefsSuffix needs a snapshotted base table " +
          "(TBLPROPERTIES ('snapshots'='true')) — tags and branches " +
          "pin manifest versions")
      return new KvRefsMetaTable(p.toString, s"kvjsonl refs($p)")
    }
    if (ident.name().endsWith(SnapshotsSuffix)) {
      val base = Identifier.of(
        ident.namespace(), ident.name().stripSuffix(SnapshotsSuffix))
      val p = tablePath(base)
      if (!java.nio.file.Files.isDirectory(p))
        throw new NoSuchTableException(base)
      require(KvBucketing.readMetaFull(p.toString).snapshots,
        s"${base.name()}$SnapshotsSuffix needs a snapshotted base " +
          "table (TBLPROPERTIES ('snapshots'='true')) — the manifest " +
          "log IS the history")
      return new KvSnapshotsMetaTable(
        p.toString, s"kvjsonl snapshots($p)")
    }
    if (ident.name().endsWith(ChangesSuffix)) {
      val base = Identifier.of(
        ident.namespace(), ident.name().stripSuffix(ChangesSuffix))
      val p = tablePath(base)
      if (!java.nio.file.Files.isDirectory(p))
        throw new NoSuchTableException(base)
      require(KvBucketing.readMetaFull(p.toString).snapshots,
        s"${base.name()}$ChangesSuffix needs a snapshotted base table " +
          "(TBLPROPERTIES ('snapshots'='true')) — the manifest log IS " +
          "the change history")
      return new KvChangesTable(p.toString, s"kvjsonl changes($p)")
    }
    val p = tablePath(ident)
    if (!java.nio.file.Files.isDirectory(p))
      throw new NoSuchTableException(ident)
    new KvJsonlTable(p.toString, viaCatalog = true)
  }

  /** TIME TRAVEL — `SELECT ... FROM t VERSION AS OF n` resolves here
    * (and `TIMESTAMP AS OF` below): the returned table is PINNED to
    * snapshot n's manifest; reads see exactly that membership and
    * writes are rejected. Requires the table to have been created
    * with TBLPROPERTIES ('snapshots'='true') — see KvSnapshots.scala.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    // VERSION-PINNED metadata tables: `t$files VERSION AS OF n` (and
    // `t$partitions`) answer "what was the layout THEN" — the debug
    // companion of data time travel. Tags resolve like data reads;
    // snapshot-membership tables only ($snapshots/$refs/$changes are
    // global or carry their own range options).
    for (suffix <- Seq(ChangesSuffix, SnapshotsSuffix, RefsSuffix)
        if ident.name().endsWith(suffix))
      throw new IllegalArgumentException(
        s"${ident.name()} is not version-addressable — it IS the " +
          "history (use $files/$partitions for a pinned layout)")
    for (suffix <- Seq(PartitionsSuffix, FilesSuffix)
        if ident.name().endsWith(suffix)) {
      val base = Identifier.of(
        ident.namespace(), ident.name().stripSuffix(suffix))
      val bp = tablePath(base)
      if (!java.nio.file.Files.isDirectory(bp))
        throw new NoSuchTableException(base)
      require(KvBucketing.readMetaFull(bp.toString).snapshots,
        s"${base.name()}$suffix needs a snapshotted base table " +
          "(TBLPROPERTIES ('snapshots'='true'))")
      def make(v: Int, branch: Option[String]): Table =
        if (suffix == FilesSuffix)
          new KvFilesMetaTable(bp.toString,
            s"kvjsonl files($bp) v$v", Some(v), branch)
        else
          new KvPartitionsMetaTable(bp.toString,
            s"kvjsonl partitions($bp) v$v", Some(v), branch)
      version.toIntOption
        .orElse(KvRefs.resolve(bp.toString, version)) match {
        case Some(v) =>
          val have = KvSnapshots.versions(bp.toString)
          require(have.contains(v),
            s"no snapshot v$v of ${base.name()} " +
              s"(versions: ${have.mkString(", ")})")
          return make(v, None)
        case None if KvBranches.exists(bp.toString, version) =>
          // the WAP audit question: "what files is my branch staging"
          return make(
            KvBranches.head(bp.toString, version), Some(version))
        case None =>
          throw new IllegalArgumentException(
            s"'$version' is neither a snapshot version, a tag, nor " +
              s"a branch of ${base.name()}")
      }
    }
    val p = tablePath(ident)
    if (!java.nio.file.Files.isDirectory(p))
      throw new NoSuchTableException(ident)
    require(KvBucketing.readMetaFull(p.toString).snapshots,
      s"table ${ident.name()} was not created with " +
        "TBLPROPERTIES ('snapshots'='true'); no versions to travel to")
    // An integer is a version pin; anything else resolves as a TAG
    // (KvRefs.scala) or a BRANCH head (KvBranches.scala) —
    // `VERSION AS OF 'training-data-v1'` / `VERSION AS OF 'audit'`.
    // Tags and branches share one name namespace (enforced at
    // creation), so the order here can never pick the wrong kind.
    version.toIntOption
      .orElse(KvRefs.resolve(p.toString, version)) match {
      case Some(v) =>
        val have = KvSnapshots.versions(p.toString)
        require(have.contains(v),
          s"no snapshot v$v of ${ident.name()} " +
            s"(versions: ${have.mkString(", ")})")
        new KvJsonlTable(p.toString, viaCatalog = true,
          pinnedVersion = Some(v))
      case None if KvBranches.exists(p.toString, version) =>
        // Branch AUDIT read: pinned to the branch's current head, on
        // the branch's own manifest lineage.
        new KvJsonlTable(p.toString, viaCatalog = true,
          pinnedVersion = Some(KvBranches.head(p.toString, version)),
          branch = Some(version))
      case None =>
        throw new IllegalArgumentException(
          s"'$version' is neither a snapshot version, a tag, nor a " +
            s"branch of ${ident.name()} (tags: " +
            s"${KvRefs.read(p.toString).keys.toSeq.sorted.mkString(", ")}; " +
            s"branches: ${KvBranches.list(p.toString).mkString(", ")})")
    }
  }

  /** `TIMESTAMP AS OF` — Spark hands the timestamp in MICROSECONDS;
    * resolve to the newest snapshot committed at or before it.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    for (suffix <- Seq(ChangesSuffix, SnapshotsSuffix, RefsSuffix)
        if ident.name().endsWith(suffix))
      throw new IllegalArgumentException(
        s"${ident.name()} is not timestamp-addressable — it IS the " +
          "history (use $files/$partitions for a pinned layout)")
    // TIMESTAMP AS OF on $files/$partitions resolves exactly like a
    // data read: newest snapshot committed at or before the instant.
    for (suffix <- Seq(PartitionsSuffix, FilesSuffix)
        if ident.name().endsWith(suffix)) {
      val base = Identifier.of(
        ident.namespace(), ident.name().stripSuffix(suffix))
      val bp = tablePath(base)
      if (!java.nio.file.Files.isDirectory(bp))
        throw new NoSuchTableException(base)
      require(KvBucketing.readMetaFull(bp.toString).snapshots,
        s"${base.name()}$suffix needs a snapshotted base table " +
          "(TBLPROPERTIES ('snapshots'='true'))")
      val v = KvSnapshots.resolveTimestamp(bp.toString, timestamp)
      return if (suffix == FilesSuffix)
        new KvFilesMetaTable(bp.toString,
          s"kvjsonl files($bp) v$v", Some(v))
      else
        new KvPartitionsMetaTable(bp.toString,
          s"kvjsonl partitions($bp) v$v", Some(v))
    }
    val p = tablePath(ident)
    if (!java.nio.file.Files.isDirectory(p))
      throw new NoSuchTableException(ident)
    require(KvBucketing.readMetaFull(p.toString).snapshots,
      s"table ${ident.name()} was not created with " +
        "TBLPROPERTIES ('snapshots'='true'); no versions to travel to")
    new KvJsonlTable(p.toString, viaCatalog = true,
      pinnedVersion = Some(
        KvSnapshots.resolveTimestamp(p.toString, timestamp)))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // The only supported partitioning is bucket(n, key) — the layout
    // behind storage-partitioned joins (see KvBucketing.scala). The
    // sink's commit protocol publishes whole files either way; a
    // bucketed table just carries the bucket in the file name.
    def parseBucket(
        t: org.apache.spark.sql.connector.expressions.Transform)
        : Option[Int] = {
      val n = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().asInstanceOf[Number].intValue
      }
      val col = t.arguments().collectFirst {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames().mkString(".")
      }
      // The bucket column is the KEY column — field id 1, the
      // table's FIRST column, whatever it is named (`key`,
      // `o_orderkey`, `user_id`): bucketing, zone maps, sorted
      // layout and MoR addressing are one clustering machinery
      // over that role, so they must agree on the column.
      require(n.nonEmpty && col.exists(c =>
          schema.nonEmpty &&
            c.equalsIgnoreCase(schema.fields(0).name)),
        s"kvjsonl bucketing must be bucket(n, <first column>) — " +
          s"the key column; got $t over ${schema.catalogString}")
      require(n.get >= 1 && n.get <= 4096,
        s"kvjsonl bucket count out of range [1, 4096]: ${n.get}")
      n
    }
    // TEMPORAL PARTITIONING — `years|months|days|hours(ts)`,
    // Iceberg's full transform family: the common 100 TB table
    // layouts. The unit token rides in the file name (like buckets),
    // and scan-time pruning on a temporal predicate skips whole
    // files independent of key zone maps (one granularity-generic
    // machinery: KvBucketing.PartUnit).
    def parseUnit(
        t: org.apache.spark.sql.connector.expressions.Transform)
        : Option[(KvBucketing.PartUnit, String)] = {
      val col = t.arguments().collectFirst {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames().mkString(".")
      }
      require(col.nonEmpty,
        s"kvjsonl ${t.name}() partitioning needs a column; got $t")
      col.map(c => (KvBucketing.partUnit(t.name).get, c))
    }
    def isUnit(
        t: org.apache.spark.sql.connector.expressions.Transform)
        : Boolean = KvBucketing.partUnit(t.name).isDefined
    val (buckets, partColName)
        : (Option[Int], Option[(KvBucketing.PartUnit, String)]) =
      partitions match {
        case Array() => (None, None)
        case Array(t) if t.name == "bucket" => (parseBucket(t), None)
        case Array(t) if isUnit(t) => (None, parseUnit(t))
        // COMPOSED layout — `PARTITIONED BY (months(ts),
        // bucket(n, key))` in either order: the standard 100 TB fact
        // layout (temporal unit for retention and pruning, hash
        // bucket for exchange-free joins). File names carry both
        // tokens; the partition pruner and the bucket machinery each
        // parse their own.
        case Array(u, b) if isUnit(u) && b.name == "bucket" =>
          (parseBucket(b), parseUnit(u))
        case Array(b, u) if b.name == "bucket" && isUnit(u) =>
          (parseBucket(b), parseUnit(u))
        case other => throw new UnsupportedOperationException(
          "kvjsonl tables support PARTITIONED BY (bucket(n, key)), " +
            "PARTITIONED BY (years|months|days|hours(col)), or the " +
            "composed (unit(col), bucket(n, key)); " +
            s"got ${other.mkString(", ")}")
      }
    // Schema rules (KvSchema.scala has the storage model): the first
    // column is ALWAYS the key column — bucketing, predicate/
    // aggregate pushdown, zone maps and the MoR row addressing build
    // on the ROLE (field id 1); its display NAME is the user's
    // (`key`, `o_orderkey`, `user_id`, …), fixed for the table's
    // life, while its storage token stays the literal `key`. The key
    // TYPE is BIGINT (the founding type — full range machinery) or
    // STRING (`doc_id`, `url`, content hashes — hash bucketing + SPJ
    // + bloom point lookups + DML/CDC; range machinery declined, see
    // KvSchema.keyType). Every column's type must be one the line
    // format encodes. The founding (key BIGINT, value STRING) pair
    // stays registry-free and byte-identical to every pre-evolution
    // table; anything wider — a non-`key` key name, a STRING key —
    // births a column registry with stable field ids.
    require(
      schema.nonEmpty && (schema(0).dataType == LongType ||
        schema(0).dataType == StringType),
      "kvjsonl tables require a BIGINT or STRING key as their first " +
        s"column; got ${schema.catalogString}")
    schema.fields.foreach { f =>
      require(KvSchema.isSupported(f.dataType),
        s"kvjsonl column ${f.name} has unsupported type " +
          s"${f.dataType.simpleString} " +
          s"(${KvSchema.SupportedTypeNames} only)")
      KvSchema.requireValidColName(f.name)
      require(!KvSchema.isReserved(f.name),
        s"column name ${f.name} is reserved for a metadata column")
    }
    require(
      schema.fields.map(_.name.toLowerCase(java.util.Locale.ROOT))
        .distinct.length == schema.length,
      s"duplicate column names in ${schema.catalogString}")
    val cols: Seq[KvSchema.Col] = {
      // Field-id assignment: key is id 1; a STRING column named
      // `value` keeps the founding id 2 (and its literal storage
      // name, so such tables interoperate with founding readers);
      // everything else gets fresh ids from 3.
      val valueIdx = schema.fields.indexWhere(f =>
        f.name == "value" && f.dataType == StringType)
      var nextId = 2
      // normalize: registry types are canonical (arrays store
      // containsNull=true — the line format always admits a null
      // element token), so a reload can never disagree with CREATE.
      schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val dt = KvSchema.normalize(f.dataType)
        if (i == 0) KvSchema.Col(1, f.name, dt)
        else if (i == valueIdx) KvSchema.Col(2, f.name, dt)
        else { nextId += 1; KvSchema.Col(nextId, f.name, dt) }
      }
    }
    // Opt-in snapshot retention (time travel): TBLPROPERTIES
    // ('snapshots'='true'). Strict parse — a typo'd value must not
    // silently create an unsnapshotted table.
    val snapshots = Option(properties.get("snapshots")) match {
      case None => false
      case Some("true") => true
      case Some("false") => false
      case Some(other) => throw new IllegalArgumentException(
        s"table property snapshots must be true or false; got '$other'")
    }
    // DML mode: 'cow' (default — group-based copy-on-write rewrite)
    // or 'mor' (merge-on-read: positional delete files applied at
    // scan, SupportsDelta — KvMerge.scala). Strict parse, like
    // snapshots. MoR requires snapshots: delete files are manifest
    // members, and commit conflict detection needs the version log.
    val mor = Option(properties.get("dml")) match {
      case None | Some("cow") => false
      case Some("mor") => true
      case Some(other) => throw new IllegalArgumentException(
        s"table property dml must be cow or mor; got '$other'")
    }
    require(!mor || snapshots,
      "TBLPROPERTIES ('dml'='mor') requires ('snapshots'='true') — " +
        "positional delete files live in the snapshot manifests")
    // Resolve the partition column against the final column set;
    // recorded by FIELD ID so a later RENAME stays metadata-only.
    val partition: Option[(KvBucketing.PartUnit, Int)] =
      partColName.map { case (unit, cn) =>
        val c = cols.find(_.name.equalsIgnoreCase(cn)).getOrElse(
          throw new IllegalArgumentException(
            s"${unit.name}() partition column $cn is not a column of " +
              s"${schema.catalogString}"))
        require(
          c.dtype == org.apache.spark.sql.types.TimestampType ||
            (c.dtype == org.apache.spark.sql.types.DateType &&
              unit.supportsDate),
          s"${unit.name}() partitioning needs a TIMESTAMP" +
            (if (unit.supportsDate) " or DATE" else "") +
            s" column; $cn is ${c.dtype.simpleString}")
        (unit, c.id)
      }
    // Standing write-path sort order: TBLPROPERTIES
    // ('write.sort'='key'). Strict parse. Plain tables get a GLOBAL
    // key order (range-disjoint files → zone maps prune from the
    // first INSERT); BUCKETED tables sort WITHIN each bucket's file
    // (the Iceberg bucket+sort-order layout: the scan reports the
    // ordering and co-keyed sort-merge joins skip their sorts — see
    // KvScan.outputOrdering). Date-partitioned layouts still own
    // their placement.
    // accepts the literal 'key' (the role) or the key column's actual
    // name — both mean "sort by field id 1"
    val sorted = Option(properties.get("write.sort")) match {
      case None => false
      case Some(v)
          if v == "key" || v.equalsIgnoreCase(schema.fields(0).name) =>
        true
      case Some(other) => throw new IllegalArgumentException(
        "table property write.sort supports only the key column " +
          s"('key' or '${schema.fields(0).name}'); got '$other'")
    }
    require(!sorted || partition.isEmpty,
      "TBLPROPERTIES ('write.sort'='key') composes with plain and " +
        "bucketed tables only — a date-partitioned layout owns its " +
        "placement")
    require(!sorted || schema.fields(0).dataType == LongType,
      "TBLPROPERTIES ('write.sort') needs a BIGINT key: the sorted " +
        "layout's payoff is key zone maps and sort-elided merge " +
        "joins, and STRING keys record no zone maps (their point " +
        "lookups ride bloom sidecars and hash buckets instead)")
    // Per-file bloom filter columns: TBLPROPERTIES
    // ('bloom_cols'='value,user') — resolved to FIELD IDS (rename-
    // proof) and validated to the point-lookup types (STRING /
    // BIGINT / TIMESTAMP / DATE / DOUBLE — zone maps only beat blooms
    // when the column correlates with write order, and the key is the
    // clustering column). See KvBloom.scala.
    val blooms: Seq[Int] =
      Option(properties.get("bloom_cols")).toSeq.flatMap(
        KvCatalog.resolveBloomCols(_, cols, schema.catalogString))
    // POLICY-DRIVEN MAINTENANCE: TBLPROPERTIES
    // ('write.auto_compact'='t') — a data commit that leaves more
    // than t live data files in any bucket (or t total, unbucketed)
    // triggers the maintenance rewrite from the write path itself
    // (KvAutoCompact.scala). Strict parse; needs snapshots (the
    // rewrite is a maintenance commit — CDC-invisible, base-pinned —
    // which only exists on a version log); temporally partitioned
    // layouts keep manual compaction (per-unit policy would need
    // per-unit rewrite scoping).
    val autoCompact: Option[Int] =
      Option(properties.get("write.auto_compact")).map { v =>
        val t =
          try v.toInt
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                "table property write.auto_compact must be an " +
                  s"integer file-count threshold; got '$v'")
          }
        require(t >= 1 && t <= 100000,
          s"write.auto_compact threshold out of range [1, 100000]: $t")
        t
      }
    require(autoCompact.isEmpty || snapshots,
      "TBLPROPERTIES ('write.auto_compact') requires " +
        "('snapshots'='true') — the policy compaction is a " +
        "maintenance commit on the version log")
    require(autoCompact.isEmpty || partition.isEmpty,
      "write.auto_compact composes with plain and bucketed tables " +
        "only — date-partitioned layouts keep manual compaction")
    // The RETENTION policy: TBLPROPERTIES ('expire.keep_last'='n') —
    // after each data commit, history beyond the newest n versions
    // expires (tags and branch-referenced files survive, like the
    // manual CALL). Strict parse; snapshots required by definition.
    val autoExpire: Option[Int] =
      Option(properties.get("expire.keep_last")).map { v =>
        val n =
          try v.toInt
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                "table property expire.keep_last must be an integer " +
                  s"version count; got '$v'")
          }
        require(n >= 1 && n <= 1000000,
          s"expire.keep_last out of range [1, 1000000]: $n")
        n
      }
    require(autoExpire.isEmpty || snapshots,
      "TBLPROPERTIES ('expire.keep_last') requires " +
        "('snapshots'='true') — there is no history to retain " +
        "without a version log")
    val p = tablePath(ident)
    if (java.nio.file.Files.isDirectory(p))
      throw new TableAlreadyExistsException(ident)
    java.nio.file.Files.createDirectories(p)
    val meta = KvBucketing.KvMeta(buckets, snapshots, mor, partition,
      sorted = sorted, blooms = blooms, autoCompact = autoCompact,
      autoExpire = autoExpire)
    if (!meta.isEmpty) KvBucketing.writeMeta(p.toString, meta)
    if (cols != KvSchema.Legacy)
      KvSchema.write(p.toString,
        KvSchema.Registry(Seq(KvSchema.Version(0, cols))))
    new KvJsonlTable(p.toString, viaCatalog = true)
  }

  /** Append a new schema version derived from the current one. The
    * version takes effect FROM the next snapshot commit (latest + 1),
    * so every EXISTING snapshot — including the current one — keeps
    * reading with the schema it was written under; a current
    * (unpinned) read always uses the registry head. Unsnapshotted
    * tables have no versions to key by (and no time travel), so their
    * registry is effectively single-headed at from=0.
    */
  private def evolveSchema(
      dir: String,
      change: (KvSchema.Registry, Seq[KvSchema.Col]) => Seq[KvSchema.Col])
      : Unit = {
    // Schema evolution is FROZEN while branches exist: Version.from
    // markers are MAIN-space, so an ALTER landing mid-audit would
    // silently re-shape branch reads that never saw it.
    require(KvBranches.list(dir).isEmpty,
      s"cannot ALTER the schema while branches exist " +
        s"(${KvBranches.list(dir).mkString(", ")}) — fast-forward or " +
        "drop them first")
    val reg = KvSchema.read(dir).getOrElse(
      KvSchema.Registry(Seq(KvSchema.Version(0, KvSchema.Legacy))))
    val from =
      if (KvBucketing.readMetaFull(dir).snapshots)
        KvSnapshots.latest(dir).getOrElse(0) + 1
      else 0
    val next = change(reg, reg.current)
    KvSchema.write(dir, KvSchema.Registry(
      reg.versions :+ KvSchema.Version(from, next)))
  }

  private def singleName(fieldNames: Array[String]): String = {
    require(fieldNames.length == 1,
      "kvjsonl columns are flat; nested field " +
        s"${fieldNames.mkString(".")} is not supported")
    fieldNames.head
  }

  /** Mutable table metadata: the `snapshots` flag (the MIGRATION
    * story for time travel) and the COLUMN SET (schema evolution —
    * the ADD/RENAME/DROP COLUMN cases below). For snapshots:
    *
    *   - ENABLE (`ALTER TABLE t SET TBLPROPERTIES ('snapshots' =
    *     'true')`): metadata-only — the current files become snapshot
    *     v1 with UNKNOWN row counts (a 100 TB enablement must not
    *     scan; counts refresh on the next rewrite commit, until which
    *     the count(*) pushdown and exact numRows simply decline).
    *   - DISABLE (`... UNSET TBLPROPERTIES ('snapshots')`): collapses
    *     history — files outside the CURRENT membership and all
    *     manifests are deleted, returning the table to plain
    *     directory-listing semantics.
    *
    * Bucketing (and the key column) stay immutable by design.
    */
  override def alterTable(
      ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!java.nio.file.Files.isDirectory(p))
      throw new NoSuchTableException(ident)
    val dir = p.toString
    changes.foreach {
      case set: TableChange.SetProperty
          if set.property() == "snapshots" && set.value() == "true" =>
        val meta = KvBucketing.readMetaFull(dir)
        require(!meta.snapshots,
          s"${ident.name()} already has snapshots enabled")
        val files = {
          val s = java.nio.file.Files.list(p)
          try s.iterator().asScala
            .map(_.getFileName.toString)
            .filter(_.endsWith(".jsonl"))
            .toSeq.sorted
          finally s.close()
        }
        KvSnapshots.commit(dir, files.map(
          KvSnapshots.KvFileStat(_, -1L, None, None, keysKnown = false)))
        KvBucketing.writeMeta(dir, meta.copy(snapshots = true))
      case rm: TableChange.RemoveProperty
          if rm.property() == "snapshots" =>
        val meta = KvBucketing.readMetaFull(dir)
        require(meta.snapshots,
          s"${ident.name()} does not have snapshots enabled")
        // A MoR table's CURRENT state includes tombstones; collapsing
        // to directory-listing semantics would drop them and
        // resurrect every deleted row.
        require(!meta.mor,
          s"cannot disable snapshots on ${ident.name()}: the table " +
            "uses merge-on-read DML, whose delete files only exist " +
            "in the snapshot manifests")
        // Tags pin versions; collapsing history would tear the pinned
        // manifests out from under `VERSION AS OF 'name'` readers.
        require(KvRefs.read(dir).isEmpty,
          s"cannot disable snapshots on ${ident.name()}: tags exist " +
            s"(${KvRefs.read(dir).keys.toSeq.sorted.mkString(", ")}) — " +
            "drop them first")
        // Branches stage unpublished commits whose files the
        // delete-non-members sweep below would reclaim.
        require(KvBranches.list(dir).isEmpty,
          s"cannot disable snapshots on ${ident.name()}: branches " +
            s"exist (${KvBranches.list(dir).mkString(", ")}) — " +
            "fast-forward or drop them first")
        // Crash-ordering matters: (1) delete non-member files — the
        // table is still snapshotted, so reads (manifest-driven) never
        // see them anyway; (2) flip the meta — from here reads list
        // the directory, which now holds exactly the membership;
        // (3) drop the manifests, by now unreferenced. The reverse
        // order has a window where meta says snapshots but the
        // manifests are gone: the table reads EMPTY and the next
        // commit would orphan every existing file.
        val current: Set[String] = KvSnapshots.latest(dir)
          .map(KvSnapshots.members(dir, _).toSet).getOrElse(Set.empty)
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.toSeq.foreach { f =>
          val n = f.getFileName.toString
          if (n.endsWith(".jsonl") && !current.contains(n))
            java.nio.file.Files.delete(f)
        } finally s.close()
        val flipped = meta.copy(snapshots = false)
        if (flipped.isEmpty)
          java.nio.file.Files.deleteIfExists(
            p.resolve(KvBucketing.MetaFile))
        else
          KvBucketing.writeMeta(dir, flipped)
        // A schema-evolved table's registry keys its Version.from
        // markers to the numbering being destroyed here; after a
        // re-enable (numbering restarts at v1) stale markers would
        // resolve VERSION AS OF pins against the WRONG schema version
        // (e.g. a pinned v1 surfacing the pre-ALTER column set for
        // post-ALTER data). Collapse to a single Version(0, current):
        // the history those markers described is gone either way.
        KvSchema.read(dir).filter(_.versions.length > 1).foreach { reg =>
          KvSchema.write(dir,
            KvSchema.Registry(Seq(KvSchema.Version(0, reg.current))))
        }
        // Strict delete: a silently-surviving _snapshots dir after the
        // meta flip would corrupt version numbering on re-enable.
        graft.Fs.deleteRecursivelyVerified(p.resolve(KvSnapshots.DirName))

      // ---- BLOOM COLUMNS can be enabled / re-targeted / disabled
      // after CREATE, metadata-only and always SOUND: files written
      // before the change have no sidecar (or a sidecar keyed to
      // field ids the scan no longer asks about) and read as
      // "unknown — don't skip"; files written after track the new
      // set. Field ids are never reused, so a stale sidecar can
      // never answer for a different column.
      case set: TableChange.SetProperty
          if set.property() == "bloom_cols" =>
        val ids = KvCatalog.resolveBloomCols(
          set.value(), KvSchema.currentCols(dir), ident.name())
        require(ids.nonEmpty,
          s"ALTER TABLE ${ident.name()} SET ('bloom_cols') names no " +
            "columns — UNSET the property to disable blooms")
        KvBucketing.writeMeta(dir,
          KvBucketing.readMetaFull(dir).copy(blooms = ids))
      case rm: TableChange.RemoveProperty
          if rm.property() == "bloom_cols" =>
        val meta = KvBucketing.readMetaFull(dir)
        require(meta.blooms.nonEmpty,
          s"${ident.name()} has no bloom_cols to unset")
        val flipped = meta.copy(blooms = Nil)
        if (flipped.isEmpty)
          java.nio.file.Files.deleteIfExists(
            p.resolve(KvBucketing.MetaFile))
        else KvBucketing.writeMeta(dir, flipped)

      // ---- AUTO-COMPACT POLICY can be enabled / re-tuned / disabled
      // after CREATE, metadata-only: the policy only ever fires at
      // the NEXT data commit, so flipping it has no immediate I/O and
      // is sound in every ordering (an in-flight write reads the
      // policy after its own commit — it sees either the old or the
      // new threshold, both valid).
      case set: TableChange.SetProperty
          if set.property() == "write.auto_compact" =>
        val t =
          try set.value().toInt
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                "table property write.auto_compact must be an " +
                  s"integer file-count threshold; got '${set.value()}'")
          }
        require(t >= 1 && t <= 100000,
          s"write.auto_compact threshold out of range [1, 100000]: $t")
        val meta = KvBucketing.readMetaFull(dir)
        require(meta.snapshots,
          s"write.auto_compact on ${ident.name()} requires snapshots " +
            "— the policy compaction is a maintenance commit on the " +
            "version log")
        require(meta.partition.isEmpty,
          "write.auto_compact composes with plain and bucketed " +
            "tables only — date-partitioned layouts keep manual " +
            "compaction")
        KvBucketing.writeMeta(dir, meta.copy(autoCompact = Some(t)))
      case rm: TableChange.RemoveProperty
          if rm.property() == "write.auto_compact" =>
        val meta = KvBucketing.readMetaFull(dir)
        require(meta.autoCompact.nonEmpty,
          s"${ident.name()} has no write.auto_compact to unset")
        val flipped = meta.copy(autoCompact = None)
        if (flipped.isEmpty)
          java.nio.file.Files.deleteIfExists(
            p.resolve(KvBucketing.MetaFile))
        else KvBucketing.writeMeta(dir, flipped)

      // ---- AUTO-EXPIRE RETENTION POLICY: same metadata-only
      // enable/re-tune/disable as auto_compact — the policy only
      // fires at the next data commit.
      case set: TableChange.SetProperty
          if set.property() == "expire.keep_last" =>
        val n =
          try set.value().toInt
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                "table property expire.keep_last must be an integer " +
                  s"version count; got '${set.value()}'")
          }
        require(n >= 1 && n <= 1000000,
          s"expire.keep_last out of range [1, 1000000]: $n")
        val meta = KvBucketing.readMetaFull(dir)
        require(meta.snapshots,
          s"expire.keep_last on ${ident.name()} requires snapshots — " +
            "there is no history to retain without a version log")
        KvBucketing.writeMeta(dir, meta.copy(autoExpire = Some(n)))
      case rm: TableChange.RemoveProperty
          if rm.property() == "expire.keep_last" =>
        val meta = KvBucketing.readMetaFull(dir)
        require(meta.autoExpire.nonEmpty,
          s"${ident.name()} has no expire.keep_last to unset")
        val flipped = meta.copy(autoExpire = None)
        if (flipped.isEmpty)
          java.nio.file.Files.deleteIfExists(
            p.resolve(KvBucketing.MetaFile))
        else KvBucketing.writeMeta(dir, flipped)

      // ---- SCHEMA EVOLUTION (KvSchema.scala): ADD / RENAME / DROP
      // COLUMN are all METADATA-ONLY — no data file is read or
      // rewritten, the only I/O is the registry write. Old snapshots
      // keep reading with the schema they were written under.
      case add: TableChange.AddColumn =>
        val colName = singleName(add.fieldNames())
        require(KvSchema.isSupported(add.dataType()),
          s"kvjsonl column $colName has unsupported type " +
            s"${add.dataType().simpleString} " +
            s"(${KvSchema.SupportedTypeNames} only)")
        require(add.position() == null,
          "kvjsonl ADD COLUMN appends; FIRST/AFTER positions are not " +
            "supported (column order is storage-id order)")
        require(add.isNullable,
          "kvjsonl added columns are nullable by construction — " +
            "files written before the ALTER read the new column as NULL")
        KvSchema.requireValidColName(colName)
        require(!KvSchema.isReserved(colName),
          s"column name $colName is reserved for a metadata column")
        evolveSchema(dir, (reg, cur) => {
          require(!cur.exists(_.name.equalsIgnoreCase(colName)),
            s"column $colName already exists in ${ident.name()}")
          cur :+ KvSchema.Col(reg.nextId, colName,
            KvSchema.normalize(add.dataType()))
        })
      case ren: TableChange.RenameColumn =>
        val fromName = singleName(ren.fieldNames())
        val toName = ren.newName()
        KvSchema.requireValidColName(toName)
        require(!KvSchema.isReserved(toName),
          s"column name $toName is reserved for a metadata column")
        evolveSchema(dir, (_, cur) => {
          val col = cur.find(_.name.equalsIgnoreCase(fromName))
            .getOrElse(throw new IllegalArgumentException(
              s"no column $fromName in ${ident.name()}"))
          require(col.id != 1,
            "the key column cannot be renamed — bucketing, pushdown " +
              "and the MoR row addressing are defined over it")
          require(!cur.exists(_.name.equalsIgnoreCase(toName)),
            s"column $toName already exists in ${ident.name()}")
          // Pure metadata: data stays under the id-derived storage
          // name, so no file changes and old snapshots keep the old
          // name through their own schema version.
          cur.map(c => if (c.id == col.id) c.copy(name = toName) else c)
        })
      case upd: TableChange.UpdateColumnType =>
        val colName = singleName(upd.fieldNames())
        evolveSchema(dir, (_, cur) => {
          val col = cur.find(_.name.equalsIgnoreCase(colName))
            .getOrElse(throw new IllegalArgumentException(
              s"no column $colName in ${ident.name()}"))
          // The ONE safe widening: every stored bigint token is
          // exactly representable as a double, the reader coerces
          // old-encoding values at materialization, and pinned reads
          // keep the old type through their own schema version. The
          // key (id 1) and the id-2 string slot are structural.
          require(
            col.id > 2 && col.dtype == LongType &&
              upd.newDataType() == org.apache.spark.sql.types.DoubleType,
            s"unsupported type change ${col.dtype.simpleString} -> " +
              s"${upd.newDataType().simpleString} for $colName: only " +
              "bigint -> double widening is metadata-safe (anything " +
              "else would reinterpret or rewrite stored data)")
          cur.map(c =>
            if (c.id == col.id) c.copy(dtype = upd.newDataType()) else c)
        })
      case del: TableChange.DeleteColumn =>
        val colName = singleName(del.fieldNames())
        evolveSchema(dir, (_, cur) => {
          cur.find(_.name.equalsIgnoreCase(colName)) match {
            case None =>
              if (del.ifExists()) cur
              else throw new IllegalArgumentException(
                s"no column $colName in ${ident.name()}")
            case Some(col) =>
              require(col.id != 1,
                "the key column cannot be dropped — bucketing, " +
                  "pushdown and the MoR row addressing are defined " +
                  "over it")
              require(!KvBucketing.readMetaFull(dir).partition
                  .exists(_._2 == col.id),
                s"cannot drop ${col.name}: it is the table's " +
                  "partition column (the file layout is keyed to it)")
              // Metadata-only: old files keep the field, readers of
              // the new schema never project it; the id is never
              // reused (Registry.nextId walks ALL versions), so a
              // later ADD can't resurrect dropped data.
              cur.filterNot(_.id == col.id)
          }
        })

      case other => throw new UnsupportedOperationException(
        "kvjsonl tables support ADD/RENAME/DROP COLUMN, " +
          "bigint->double widening, and the snapshots property; " +
          s"got $other (bucketing and the key column are immutable)")
    }
    new KvJsonlTable(dir, viaCatalog = true)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!java.nio.file.Files.isDirectory(p)) false
    // Verified delete: returning true while the directory survives
    // would make the next CREATE TABLE throw TableAlreadyExists.
    else { graft.Fs.deleteRecursivelyVerified(p); true }
  }

  override def renameTable(
      oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!java.nio.file.Files.isDirectory(from))
      throw new NoSuchTableException(oldIdent)
    val to = tablePath(newIdent)
    if (java.nio.file.Files.isDirectory(to))
      throw new TableAlreadyExistsException(newIdent)
    java.nio.file.Files.move(from, to)
  }

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] = {
    val s = java.nio.file.Files.list(warehouse)
    try s.iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(d => Array(d.getFileName.toString))
      .toArray
      .sortBy(_.head)
    finally s.close()
  }

  override def listNamespaces(
      ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (namespaceExists(ns)) Array.empty
    else throw new NoSuchNamespaceException(ns)

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.sameElements(SystemNs) ||
      (ns.length == 1 &&
        java.nio.file.Files.isDirectory(warehouse.resolve(ns.head)))

  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] =
    if (namespaceExists(ns)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(ns)

  override def createNamespace(
      ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (ns.length != 1)
      throw new IllegalArgumentException(
        s"kv catalog namespaces are single-level: ${ns.mkString(".")}")
    if (namespaceExists(ns))
      throw new NamespaceAlreadyExistsException(ns)
    java.nio.file.Files.createDirectories(warehouse.resolve(ns.head))
  }

  override def alterNamespace(
      ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "kv catalog namespaces carry no metadata to alter")

  // ---- functions (the V2 FunctionCatalog surface) ----
  //
  // Catalyst resolves a scan-reported `bucket(n, key)` transform by
  // loading `bucket` from THIS catalog with an EMPTY-namespace
  // identifier (V2ExpressionUtils.loadV2FunctionOpt) — serving it here
  // is what turns the reported KeyGroupedPartitioning into a
  // TransformExpression that storage-partitioned-join planning can
  // compare across scans and that a clustered-write shuffle can
  // evaluate.

  override def listFunctions(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty || ns.sameElements(SystemNs))
      Array(Identifier.of(ns, "bucket"), Identifier.of(ns, "days"),
        Identifier.of(ns, "months"), Identifier.of(ns, "years"),
        Identifier.of(ns, "hours"))
    else if (namespaceExists(ns)) Array.empty
    else throw new NoSuchNamespaceException(ns)

  override def loadFunction(
      ident: Identifier): functions.UnboundFunction =
    if (ident.namespace().isEmpty ||
        ident.namespace().sameElements(SystemNs))
      ident.name() match {
        case "bucket" => new KvBucketUnbound
        case "days" => new KvPartFnUnbound(KvBucketing.PartDays)
        case "months" => new KvPartFnUnbound(KvBucketing.PartMonths)
        case "years" => new KvPartFnUnbound(KvBucketing.PartYears)
        case "hours" => new KvPartFnUnbound(KvBucketing.PartHours)
        case _ => throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident)
      }
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // ---- procedures (CALL graft_kv.system.<proc>(...)) ----

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(SystemNs))
      Array(
        Identifier.of(SystemNs, "compact"),
        Identifier.of(SystemNs, "expire_snapshots"),
        Identifier.of(SystemNs, "cluster"),
        Identifier.of(SystemNs, "rollback"),
        Identifier.of(SystemNs, "vacuum"),
        Identifier.of(SystemNs, "tag"),
        Identifier.of(SystemNs, "drop_tag"),
        Identifier.of(SystemNs, "create_branch"),
        Identifier.of(SystemNs, "fast_forward"),
        Identifier.of(SystemNs, "drop_branch"),
        Identifier.of(SystemNs, "set_partition"),
        Identifier.of(SystemNs, "zorder"),
        Identifier.of(SystemNs, "rewrite_buckets"),
        Identifier.of(SystemNs, "rebucket"))
    else Array.empty

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(SystemNs))
      throw new IllegalArgumentException(
        s"no such procedure: ${ident.namespace().mkString(".")}." +
          s"${ident.name()} (procedures live in the system namespace)")
    ident.name() match {
      case "compact" => new KvCompactProcedure(this)
      case "expire_snapshots" => new KvExpireProcedure(this)
      case "cluster" => new KvClusterProcedure(this)
      case "rollback" => new KvRollbackProcedure(this)
      case "vacuum" => new KvVacuumProcedure(this)
      case "tag" => new KvTagProcedure(this)
      case "drop_tag" => new KvDropTagProcedure(this)
      case "create_branch" => new KvCreateBranchProcedure(this)
      case "fast_forward" => new KvFastForwardProcedure(this)
      case "drop_branch" => new KvDropBranchProcedure(this)
      case "set_partition" => new KvSetPartitionProcedure(this)
      case "zorder" => new KvZorderProcedure(this)
      case "rewrite_buckets" => new KvRewriteBucketsProcedure(this)
      case "rebucket" => new KvRebucketProcedure(this)
      case other => throw new IllegalArgumentException(
        s"no such procedure: system.$other (the kv catalog ships " +
          "system.compact(table, target_files), " +
          "system.expire_snapshots(table, keep_last), " +
          "system.cluster(table, target_files), " +
          "system.rollback(table, version), " +
          "system.vacuum(table, older_than_ms), " +
          "system.tag(table, name, version), " +
          "system.drop_tag(table, name), " +
          "system.create_branch(table, name), " +
          "system.fast_forward(table, branch), " +
          "system.drop_branch(table, name), " +
          "system.set_partition(table, spec) and " +
          "system.zorder(table, cols, target_files))")
    }
  }

  /** Resolve `"namespace.table"` (or bare `"table"` → default) to its
    * directory, for procedures that take the table as a string arg.
    */
  private[sources] def resolveTableDir(
      table: String): java.nio.file.Path = {
    val parts = table.split('.')
    val ident = parts match {
      case Array(t) => Identifier.of(Array("default"), t)
      case Array(ns, t) => Identifier.of(Array(ns), t)
      case _ => throw new IllegalArgumentException(
        s"table must be 'table' or 'namespace.table': $table")
    }
    val p = tablePath(ident)
    if (!java.nio.file.Files.isDirectory(p))
      throw new NoSuchTableException(ident)
    p
  }

  override def dropNamespace(
      ns: Array[String], cascade: Boolean): Boolean = {
    if (ns.sameElements(SystemNs))
      throw new IllegalArgumentException(
        "the system namespace is reserved for procedures")
    if (!namespaceExists(ns)) return false
    if (!cascade && listTables(ns).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${ns.head} is not empty")
    graft.Fs.deleteRecursivelyVerified(warehouse.resolve(ns.head))
    true
  }
}

/** `system.compact` — the small-files MAINTENANCE procedure
  * (Iceberg's `rewrite_data_files` shape):
  *
  * {{{ CALL graft_kv.system.compact(table => 'default.t',
  *                                  target_files => 2) }}}
  *
  * A long-appended table accumulates one file per write task per
  * job; at 100 TB the resulting file-count — not byte-count — is
  * what kills scan planning (one input partition per file here, one
  * footer/open per file everywhere). The rewrite is a DISTRIBUTED
  * job: the table read through its own scan, repartitioned to the
  * target file count, written back through the connector's
  * two-phase-commit overwrite — tasks read the old files while the
  * replacement stays invisible in `_temporary`, and the
  * publish+sweep happens at driver commit. Like every mutation in
  * this connector the commit assumes SINGLE-WRITER-AT-A-TIME; a
  * reader listing a plain (non-snapshotted) table's directory inside
  * the publish→sweep window can observe BOTH generations at once
  * (transient duplicate rows — the replacement publishes before the
  * stale files sweep, so the window never shows a hole), exactly as
  * with INSERT OVERWRITE (snapshotted tables don't have the window —
  * membership flips atomically with the manifest).
  * Returns one row (files_before, files_after, n_rows) via a
  * LocalScan.
  *
  * The batch `compact_small_files` gate pins the same maintenance
  * shape for parquet paths; this is its catalog-DML twin, invocable
  * from pure SQL.
  */
class KvCompactProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "compact"
  override def description(): String =
    "rewrite a kv table's jsonl files into target_files files"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "compact"
      override def description(): String = KvCompactProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("target_files", org.apache.spark.sql.types.IntegerType)
            .defaultValue("1")
            .comment("file count after the rewrite")
            .build())

      override def call(
          input: InternalRow): util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val table = input.getUTF8String(0).toString
        val target =
          if (input.numFields > 1 && !input.isNullAt(1)) input.getInt(1)
          else 1
        require(target >= 1, s"target_files must be >= 1, got $target")
        val dir = cat.resolveTableDir(table)
        require(KvBucketing.readMetaFull(dir.toString).isEmpty,
          "system.compact supports plain tables only (a bucketed " +
            "table's file grain is its buckets, and a snapshotted " +
            "table's retained files would break the file-count " +
            "contract — expire_snapshots is its maintenance path)")

        def jsonlCount: Long = {
          val s = java.nio.file.Files.list(dir)
          try s.iterator().asScala
            .count(_.getFileName.toString.endsWith(".jsonl"))
          finally s.close()
        }

        val spark = org.apache.spark.sql.SparkSession.active
        val before = jsonlCount
        val rows = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)
          .repartition(target)
          .write
          .format("graft.sources.KvJsonlSink")
          .option("maintenance", "true")
          .mode("overwrite")
          .save(dir.toString)
        val after = jsonlCount
        val nRows = spark.read
          .format("graft.sources.KvJsonlSink")
          .load(dir.toString)
          .count()
        val out: org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.LocalScan {
            override def readSchema(): StructType =
              KvCompactProcedure.OutSchema
            override def rows(): Array[InternalRow] =
              Array(InternalRow(before, after, nRows))
          }
        util.Collections.singletonList(out).iterator()
      }
    }
}

object KvCompactProcedure {
  val OutSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("files_before", LongType),
    org.apache.spark.sql.types.StructField("files_after", LongType),
    org.apache.spark.sql.types.StructField("n_rows", LongType)))
}

/** `system.expire_snapshots` — the RECLAMATION half of time travel
  * (Iceberg's `expire_snapshots` shape):
  *
  * {{{ CALL graft_kv.system.expire_snapshots(
  *       table => 'default.t', keep_last => 1) }}}
  *
  * A snapshotted table never deletes data at commit; history is
  * reclaimed HERE, explicitly: drop all but the newest `keep_last`
  * manifests, then delete every data file referenced only by the
  * dropped ones (a file shared with a surviving snapshot stays). At
  * 100 TB this split — cheap retained commits, scheduled expiration —
  * is what makes copy-on-write affordable. Metadata-only (manifest
  * reads + file deletes), so it runs on the driver; returns one row
  * (snapshots_before, snapshots_after, files_deleted).
  */
class KvExpireProcedure(cat: KvCatalog)
    extends procedures.UnboundProcedure {

  override def name(): String = "expire_snapshots"
  override def description(): String =
    "drop all but the newest keep_last snapshots and reclaim their files"

  override def bind(
      inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = "expire_snapshots"
      override def description(): String =
        KvExpireProcedure.this.description()
      override def isDeterministic: Boolean = false

      override def parameters(): Array[procedures.ProcedureParameter] =
        Array(
          procedures.ProcedureParameter
            .in("table", StringType)
            .comment("'namespace.table' (or bare table => default ns)")
            .build(),
          procedures.ProcedureParameter
            .in("keep_last", org.apache.spark.sql.types.IntegerType)
            .defaultValue("1")
            .comment("how many newest snapshots survive")
            .build())

      override def call(
          input: InternalRow): util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val table = input.getUTF8String(0).toString
        val keep =
          if (input.numFields > 1 && !input.isNullAt(1)) input.getInt(1)
          else 1
        val dir = cat.resolveTableDir(table)
        require(KvBucketing.readMetaFull(dir.toString).snapshots,
          s"$table is not a snapshotted table " +
            "(TBLPROPERTIES ('snapshots'='true'))")
        val (before, after, deleted) =
          KvSnapshots.expire(dir.toString, keep)
        val out: org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.LocalScan {
            override def readSchema(): StructType =
              KvExpireProcedure.OutSchema
            override def rows(): Array[InternalRow] =
              Array(InternalRow(before, after, deleted))
          }
        util.Collections.singletonList(out).iterator()
      }
    }
}

object KvExpireProcedure {
  val OutSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("snapshots_before", LongType),
    org.apache.spark.sql.types.StructField("snapshots_after", LongType),
    org.apache.spark.sql.types.StructField("files_deleted", LongType)))
}

/** Shared DDL validation for the `bloom_cols` table property (CREATE
  * TABLE and ALTER ... SET): resolves a comma list of column names to
  * FIELD IDS (rename-proof) and enforces the point-lookup types —
  * every equality-testable scalar (STRING / BIGINT / TIMESTAMP /
  * DATE / DOUBLE), never a BIGINT key (its manifest zone maps
  * already skip point lookups — a STRING key qualifies, blooms being
  * its only file-skip machinery) and never arrays (no point lookups
  * to serve). See KvBloom.scala.
  */
object KvCatalog {
  private[sources] def resolveBloomCols(
      spec: String, cols: Seq[KvSchema.Col], what: String): Seq[Int] =
    spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { cn =>
      val c = cols.find(_.name.equalsIgnoreCase(cn)).getOrElse(
        throw new IllegalArgumentException(
          s"bloom_cols column $cn is not a column of $what"))
      // a BIGINT key's manifest zone maps already skip point lookups;
      // a STRING key has no zone maps, so its bloom sidecar is
      // exactly what carries `WHERE doc_id = '...'` at 100 TB
      require(c.id > 1 ||
        c.dtype == org.apache.spark.sql.types.StringType,
        "bloom_cols cannot include a BIGINT key " +
          "column — its manifest zone maps already skip point lookups")
      require(
        c.dtype == org.apache.spark.sql.types.StringType ||
          c.dtype == LongType ||
          c.dtype == org.apache.spark.sql.types.TimestampType ||
          c.dtype == org.apache.spark.sql.types.DateType ||
          c.dtype == org.apache.spark.sql.types.DoubleType,
        "bloom_cols needs STRING/BIGINT/TIMESTAMP/DATE/DOUBLE " +
          s"columns; $cn is ${c.dtype.simpleString}")
      c.id
    }
}
