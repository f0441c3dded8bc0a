package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{ArrayType, DataType, DateType, DoubleType, LongType, StringType, StructField, StructType, TimestampType}

/** SCHEMA EVOLUTION for kvjsonl tables — the Iceberg field-ID model
  * reduced to this connector's essentials:
  *
  *   - every column has a STABLE FIELD ID, assigned once at CREATE /
  *     ADD COLUMN and never reused. The JSON line format stores data
  *     under the ID-derived name (`"c<id>"` — except the founding
  *     `key`/`value` pair, ids 1 and 2, which keep their literal
  *     storage names so every pre-evolution file and the fast-path
  *     parser stay byte-compatible), so RENAME COLUMN is pure
  *     metadata: no file rewrite, no reader mapping table;
  *   - the schema HISTORY lives in `_schema.json` beside the table's
  *     `_meta.json`: a list of versions, each recording the snapshot
  *     version it took effect FROM. A current read uses the newest
  *     entry; a `VERSION AS OF v` read uses the newest entry with
  *     `from <= v` — old snapshots read with their own schema, the
  *     "Done" contract of time travel across a schema change;
  *   - ADD COLUMN is metadata-only: files written before it simply
  *     lack the storage field and read as NULL (exactly parquet's
  *     missing-column semantics). DROP COLUMN is metadata-only too:
  *     old files keep the field, readers never project it. Field
  *     TYPES are immutable per id except the one SAFE WIDENING,
  *     bigint → double (ALTER COLUMN c TYPE DOUBLE): every stored
  *     long token is exactly representable, the reader coerces
  *     old-encoding values at materialization, and old snapshots keep
  *     reading the old type through their own schema version. All
  *     other changes would need a rewrite; unsupported by design;
  *   - absent `_schema.json` ⇒ the founding fixed schema
  *     (`key BIGINT, value STRING`) — every pre-evolution table reads
  *     and writes byte-identically to before this layer existed.
  *
  * DELIBERATELY UNSUPPORTED: column DEFAULT values. Existence
  * defaults (Iceberg initial-default) need the reader to distinguish
  * "field absent because the row predates the column" from "writer
  * wrote NULL" — but this format writes explicit nulls and
  * [[parseExtras]] folds them into absence, which is exactly what
  * makes absent-means-NULL reads and the null-vs-missing equivalence
  * simple and safe. Added columns are nullable and read NULL for
  * pre-ALTER rows, full stop; a pipeline that wants a fill value says
  * `coalesce(c, default)` where it reads.
  *
  * Supported column types: BIGINT, STRING, DOUBLE, TIMESTAMP (stored
  * as int64 micros-since-epoch), DATE (int32 days-since-epoch), and
  * ARRAY&lt;BIGINT&gt; / ARRAY&lt;DOUBLE&gt; (JSON array tokens — the
  * embedding-vector types; see [[typeName]]) — the
  * id→type binding is permanent, so a storage field's JSON encoding
  * never changes across the table's life. The KEY column (id 1) is a
  * ROLE, not a name: it is always the FIRST column, always BIGINT,
  * and its DISPLAY name is chosen at CREATE (`key`, `o_orderkey`,
  * `user_id`, …) and immutable afterwards — bucketing,
  * predicate/aggregate pushdown, zone maps and the MoR row
  * addressing are all defined over field id 1, and every name-based
  * site resolves the CURRENT name through [[keyName]]. The STORAGE
  * token stays the literal `key` whatever the display name, so
  * every file and the fast-path parser are byte-identical across
  * naming choices.
  *
  * Like the rest of the catalog's metadata, writes are atomic
  * (temp + rename) and assume single-writer DDL; data commits are
  * OCC-protected separately (KvSnapshots.commitWith).
  */
object KvSchema {

  val FileName = "_schema.json"

  /** One column: stable id, CURRENT name at this schema version, and
    * the (immutable) type. The storage name is derived from the id
    * alone — the indirection that makes rename metadata-only.
    */
  case class Col(id: Int, name: String, dtype: DataType) {
    def storageName: String = id match {
      case 1 => "key"
      case 2 => "value"
      case n => s"c$n"
    }
  }

  /** The founding pair — also the implicit schema of every table with
    * no `_schema.json`.
    */
  val Legacy: Seq[Col] =
    Seq(Col(1, "key", LongType), Col(2, "value", StringType))

  /** CURRENT display name of the key column (field id 1) — what
    * Catalyst-facing sites (pushed filters, partition transforms,
    * ordering claims, runtime predicates) must match against, since
    * Spark names attributes by the table's current schema. Falls back
    * to the founding `key` for a registry-free table.
    */
  def keyName(cols: Seq[Col]): String =
    cols.find(_.id == 1).map(_.name).getOrElse("key")

  /** [[keyName]] resolved from a table directory's registry. */
  def keyNameOf(dir: String): String = keyName(currentCols(dir))

  /** Type of the key column (field id 1): BIGINT (the founding type)
    * or STRING — chosen at CREATE, immutable afterwards like every
    * id→type binding. A STRING key (`doc_id`, `url`, a content hash)
    * keeps hash bucketing, storage-partitioned joins, bloom point
    * lookups, DML and CDC; the RANGE machinery (key zone maps,
    * MIN/MAX(key) pushdown, 'write.sort', z-order, cluster) stays
    * BIGINT-only by design — string identifiers are equality assets,
    * not range assets, and the manifest's unescaped token format
    * cannot hold arbitrary string bounds safely.
    */
  def keyType(cols: Seq[Col]): DataType =
    cols.find(_.id == 1).map(_.dtype).getOrElse(LongType)

  def keyIsString(cols: Seq[Col]): Boolean =
    keyType(cols) == StringType

  /** Names no user column may take: the scan's metadata columns and
    * the `$changes` CDC table's bookkeeping columns (a user column
    * with one of these names would shadow them in projections).
    * Checked CASE-INSENSITIVELY ([[isReserved]]): Spark resolves
    * column references case-insensitively by default, so a column
    * named `_File` would shadow `_file` in projections just the same
    * — and broken MoR row addressing is silent data corruption.
    */
  val ReservedNames: Set[String] =
    Set("_file", "_pos", "_change_type", "_commit_version")

  def isReserved(name: String): Boolean =
    ReservedNames(name.toLowerCase(java.util.Locale.ROOT))

  /** Legal user column names: the same identifier charset tags use
    * (KvRefs.NameRe minus `.` and `-`, which Spark treats as
    * structural in references). The restriction is LOAD-BEARING, not
    * cosmetic: names land inside the hand-rolled `_schema.json`
    * whose regex parser ([[VersionRe]]) scans for literal `]}` — a
    * backtick-quoted name containing regex-structural text (e.g.
    * `` `x]}` ``) would write a registry that parses back with every
    * later column SILENTLY DROPPED, permanently orphaning their
    * data. Enforced at every DDL site (CREATE / ADD / RENAME) and as
    * a backstop in [[write]], so no registry that can be written can
    * ever read back differently.
    */
  private val ColNameRe = "[A-Za-z0-9_]+".r

  def validColName(name: String): Boolean = ColNameRe.matches(name)

  def requireValidColName(name: String): Unit =
    require(validColName(name),
      s"invalid kvjsonl column name '$name': letters, digits and _ " +
        "only (the schema registry's line format cannot hold " +
        "structural characters safely)")

  /** One schema version: effective for snapshots >= `from`. */
  case class Version(from: Int, cols: Seq[Col])

  case class Registry(versions: Seq[Version]) {
    require(versions.nonEmpty, "empty schema registry")
    def current: Seq[Col] = versions.last.cols

    /** Schema as of snapshot `v`: the newest version in effect at or
      * before it. A pin below every recorded `from` (possible only on
      * a registry materialized by a later ALTER) falls back to the
      * FIRST version — which the ALTER path seeds with the schema the
      * table had before any change.
      */
    def asOf(v: Int): Seq[Col] =
      versions.filter(_.from <= v).lastOption
        .getOrElse(versions.head).cols

    /** Ids are never reused, even for dropped columns. */
    def nextId: Int =
      (versions.flatMap(_.cols.map(_.id)) :+ 2).max + 1
  }

  /** For error messages — the one list of what [[isSupported]] says. */
  val SupportedTypeNames =
    "bigint/string/double/timestamp/date/array<bigint>/" +
      "array<double>/array<string>"

  /** TIMESTAMP and DATE encode as the integer tokens Spark already
    * uses internally — micros-since-epoch (int64) and days-since-epoch
    * (int32) — so the line format needs NO new dialect: both are bare
    * long tokens to [[parseExtras]], lossless in both directions, and
    * the id→type binding stays permanent like every other column. The
    * session timezone never touches storage (micros/days are absolute),
    * exactly parquet's TIMESTAMP(MICROS)/DATE physical model.
    */
  /** ARRAY<BIGINT> / ARRAY<DOUBLE> / ARRAY<STRING> columns — the
    * embedding-vector and token/tag-list types a training pipeline's
    * central assets actually carry — encode as JSON array tokens
    * (`[1.0,2.5]` / `["the","\"q\""]`, `null` elements allowed), the
    * one place the line format grows a bracket dialect. String
    * elements use the SAME quoted-escape encoding as every scalar
    * string field (one escape dialect format-wide). Arrays are
    * VALUE-ONLY columns: no zone maps (no total order worth a range),
    * no bloom sidecars, no predicate pushdown — every stats/pushdown
    * site matches on the fixed-domain scalar types and so declines
    * arrays by construction. Nested arrays stay unsupported by
    * design.
    */
  def typeName(t: DataType): String = t match {
    case LongType => "bigint"
    case StringType => "string"
    case DoubleType => "double"
    case TimestampType => "timestamp"
    case DateType => "date"
    case ArrayType(LongType, _) => "array<bigint>"
    case ArrayType(DoubleType, _) => "array<double>"
    case ArrayType(StringType, _) => "array<string>"
    case other => throw new IllegalArgumentException(
      s"kvjsonl columns support $SupportedTypeNames; got $other")
  }

  def typeOf(s: String): DataType = s match {
    case "bigint" => LongType
    case "string" => StringType
    case "double" => DoubleType
    case "timestamp" => TimestampType
    case "date" => DateType
    case "array<bigint>" => ArrayType(LongType, containsNull = true)
    case "array<double>" => ArrayType(DoubleType, containsNull = true)
    case "array<string>" => ArrayType(StringType, containsNull = true)
    case other => throw new IllegalArgumentException(
      s"corrupt $FileName type: $other")
  }

  def isSupported(t: DataType): Boolean = t match {
    case LongType | StringType | DoubleType | TimestampType |
        DateType => true
    case ArrayType(LongType, _) | ArrayType(DoubleType, _) |
        ArrayType(StringType, _) => true
    case _ => false
  }

  /** The registry's canonical form of a supported type: arrays store
    * as containsNull=true (the line format always admits a `null`
    * element token), so a DDL-supplied ArrayType(_, false) and its
    * registry round-trip can never disagree. Scalars are their own
    * canonical form.
    */
  def normalize(t: DataType): DataType = t match {
    case ArrayType(et, _) => ArrayType(et, containsNull = true)
    case other => other
  }

  def toStruct(cols: Seq[Col]): StructType =
    StructType(cols.map(c =>
      StructField(c.name, c.dtype, nullable = true)))

  // ---- registry persistence (hand-rolled like _meta.json: this file
  // is only ever written by `write`, so the parser is strict) ----

  def write(dir: String, reg: Registry): Unit = {
    // Backstop for the DDL-site validation: every name this file can
    // hold must read back identically (KvSchemaPropsSpec pins it as a
    // property over the full accepted charset).
    reg.versions.flatMap(_.cols).foreach(c => requireValidColName(c.name))
    val body = reg.versions.map { v =>
      val cols = v.cols.map(c =>
        s"""{"id":${c.id},"name":"${escapeName(c.name)}",""" +
          s""""type":"${typeName(c.dtype)}"}""").mkString("[", ",", "]")
      s"""{"from":${v.from},"cols":$cols}"""
    }.mkString("""{"versions":[""", ",", "]}")
    graft.Fs.replaceAtomically(Paths.get(dir, FileName),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // Column names land inside JSON string literals; the catalog
  // validates identifiers, but escape the two structural characters
  // anyway so a hostile name can't corrupt the registry.
  private def escapeName(n: String): String =
    n.replace("\\", "\\\\").replace("\"", "\\\"")

  private val VersionRe =
    """\{"from":(\d+),"cols":\[(.*?)\]\}""".r
  private val ColRe =
    """\{"id":(\d+),"name":"((?:[^"\\]|\\.)*)","type":"([\w<>]+)"\}""".r

  def read(dir: String): Option[Registry] = {
    val p = Paths.get(dir, FileName)
    if (!Files.isRegularFile(p)) None
    else {
      val s = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(s.startsWith("""{"versions":[""") && s.endsWith("]}"),
        s"corrupt $FileName in $dir: $s")
      val versions = VersionRe.findAllMatchIn(s).map { m =>
        val cols = ColRe.findAllMatchIn(m.group(2)).map { c =>
          Col(c.group(1).toInt,
            c.group(2).replace("\\\"", "\"").replace("\\\\", "\\"),
            typeOf(c.group(3)))
        }.toSeq
        require(cols.nonEmpty, s"corrupt $FileName version in $dir")
        Version(m.group(1).toInt, cols)
      }.toSeq
      require(versions.nonEmpty, s"corrupt $FileName in $dir: $s")
      Some(Registry(versions))
    }
  }

  /** One parsed extra-field token → the column's InternalRow value —
    * THE shared materializer of every evolved-column reader (the scan,
    * the `$changes` CDC table, the change feed), so a new column type
    * can never half-land in one path. Absent fields never reach here
    * (absent = NULL); the token is a Long, Double or String per the
    * writer's encoding.
    */
  def materializeExtra(x: Any, dtype: DataType, storage: String): Any =
    dtype match {
      case LongType => Long.box(x.asInstanceOf[Long])
      case DoubleType => x match {
        case d: Double => Double.box(d)
        // bigint → double widened column: tokens written before the
        // ALTER are longs — exactly representable, coerce.
        case l: Long => Double.box(l.toDouble)
        case other => throw new IllegalStateException(
          s"double column $storage holds ${other.getClass}")
      }
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String
          .fromString(x.asInstanceOf[String])
      case TimestampType => Long.box(x.asInstanceOf[Long]) // micros
      case DateType => Int.box(x.asInstanceOf[Long].toInt) // epoch days
      case ArrayType(et, _) =>
        val xs = x.asInstanceOf[Array[Any]]
        val out = new Array[Any](xs.length)
        var i = 0
        while (i < xs.length) {
          out(i) = xs(i) match {
            case null => null
            case l: Long =>
              // An integral token in a double array cannot occur via
              // this writer (fmtDouble always emits a '.'/'E'), but
              // widening is exact — the same leniency the scalar
              // double case extends to pre-widening tokens.
              if (et == DoubleType) Double.box(l.toDouble)
              else if (et == LongType) Long.box(l)
              else throw new IllegalStateException(
                s"string array column $storage holds a numeric token")
            case d: Double =>
              if (et == DoubleType) Double.box(d)
              else throw new IllegalStateException(
                s"bigint array column $storage holds a double token")
            case s: String =>
              if (et == StringType)
                org.apache.spark.unsafe.types.UTF8String.fromString(s)
              else throw new IllegalStateException(
                s"numeric array column $storage holds a string token")
            case other => throw new IllegalStateException(
              s"array column $storage holds ${other.getClass}")
          }
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case other => throw new IllegalStateException(
        s"unreachable kvjsonl column type $other")
    }

  /** The table's CURRENT columns (registry, or the founding pair). */
  def currentCols(dir: String): Seq[Col] =
    read(dir).map(_.current).getOrElse(Legacy)

  /** Columns as of a (possibly pinned) snapshot version. */
  def colsAsOf(dir: String, pinned: Option[Int]): Seq[Col] =
    pinned match {
      case None => currentCols(dir)
      case Some(v) => read(dir).map(_.asOf(v)).getOrElse(Legacy)
    }

  // ---- row format (the generalized twin of KvJsonlSink.formatLine /
  // parseLine; the founding 2-col fast path is byte-identical) ----

  /** One row → one sink line. `key` and `value` fields are ALWAYS
    * present (value as `null` when the schema no longer carries id 2)
    * so [[parseTail]]'s fixed prefix — and every pre-evolution
    * reader's — keeps holding; extra columns append as
    * `,"c<id>":<json>` in schema order.
    */
  def formatRow(
      row: org.apache.spark.sql.catalyst.InternalRow,
      cols: Seq[Col]): String = {
    val b = new StringBuilder(64)
    b.append("{\"key\":")
    if (row.isNullAt(0)) b.append("null")
    // string keys use the same quoted-escape dialect as every other
    // string field; the token is self-describing (leading quote), so
    // readers need no type flag to parse it
    else if (cols.headOption.exists(c => c.id == 1 &&
        c.dtype == StringType))
      b.append('"')
        .append(KvJsonlSink.escape(row.getUTF8String(0).toString))
        .append('"')
    else b.append(row.getLong(0))
    // id-2 slot: present in the line even when dropped from the schema
    val valueIdx = cols.indexWhere(_.id == 2)
    b.append(",\"value\":")
    if (valueIdx < 0 || row.isNullAt(valueIdx)) b.append("null")
    else b.append('"')
      .append(KvJsonlSink.escape(row.getUTF8String(valueIdx).toString))
      .append('"')
    cols.zipWithIndex.foreach { case (c, i) =>
      if (c.id > 2) {
        b.append(",\"").append(c.storageName).append("\":")
        if (row.isNullAt(i)) b.append("null")
        else c.dtype match {
          case LongType => b.append(row.getLong(i))
          case DoubleType => b.append(fmtDouble(row.getDouble(i)))
          case StringType => b.append('"')
            .append(KvJsonlSink.escape(row.getUTF8String(i).toString))
            .append('"')
          // Spark's internal representations ARE the storage tokens.
          case TimestampType => b.append(row.getLong(i)) // micros
          case DateType => b.append(row.getInt(i)) // epoch days
          case ArrayType(et, _) =>
            val arr = row.getArray(i)
            b.append('[')
            var j = 0
            while (j < arr.numElements()) {
              if (j > 0) b.append(',')
              if (arr.isNullAt(j)) b.append("null")
              else et match {
                case LongType => b.append(arr.getLong(j))
                case DoubleType => b.append(fmtDouble(arr.getDouble(j)))
                // same quoted-escape dialect as scalar strings — one
                // string encoding format-wide
                case StringType => b.append('"')
                  .append(KvJsonlSink.escape(
                    arr.getUTF8String(j).toString))
                  .append('"')
                case other => throw new IllegalStateException(
                  s"unreachable array element type $other")
              }
              j += 1
            }
            b.append(']')
          case other => throw new IllegalStateException(
            s"unreachable column type $other")
        }
      }
    }
    b.append('}')
    b.toString
  }

  /** Doubles round-trip via Double.toString; NaN/±Infinity are
    * written as bare tokens — not strict JSON, but this format's only
    * reader is [[parseExtras]], and lossy null-ing real float states
    * would be worse than a dialect.
    */
  private def fmtDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == Double.PositiveInfinity) "Infinity"
    else if (d == Double.NegativeInfinity) "-Infinity"
    else java.lang.Double.toString(d)

  /** Full parse of one sink line: the founding (key, value) prefix —
    * byte-compatible with [[KvJsonlSink.parseLine]] — plus the evolved
    * extra fields as a storage-name→value map (see [[parseExtras]]).
    * The scan's generalized materializer; founding-format lines come
    * back with the shared empty map.
    */
  def parseRow(line: String)
      : (Option[Any], Option[String], Map[String, Any]) = {
    val (key, keyEnd) = KvJsonlSink.parseKeyTok(line)
    var i = keyEnd
    require(line.startsWith(",\"value\":", i),
      s"bad kvjsonl line: $line")
    i += 9
    val value: Option[String] =
      if (line.startsWith("null", i)) { i += 4; None }
      else {
        // bounds-checked quoted parse (KvJsonlSink.unquoteAt) — a
        // truncated value token fails with the contractual
        // IllegalArgumentException, never an index error, matching
        // the extras/array parser's guarantee below
        val (v, after) = KvJsonlSink.unquoteAt(line, i)
        i = after
        Some(v)
      }
    (key, value, parseExtras(line, i))
  }

  /** Parse the extra fields of a line, returning (valueEnd reached —
    * always) a name→Any map (Long / Double / String per the writer's
    * encoding; `null` fields are simply absent). `i` must point at
    * the character right after the value field's token (where the
    * founding parser stops: either `}` or `,`). Returns an EMPTY map
    * for founding-format lines without touching the heap beyond the
    * shared empty.
    */
  def parseExtras(line: String, start: Int): Map[String, Any] = {
    var i = start
    if (i < line.length && line.charAt(i) == '}') return Map.empty
    var m = Map.empty[String, Any]
    // every scan below is BOUNDS-CHECKED so a truncated line — cut at
    // any byte — fails with the format's contractual message, never a
    // StringIndexOutOfBoundsException (the lines are only ever written
    // by this module, so truncation IS corruption; the failure mode
    // still must be the deliberate one)
    def corrupt(): Nothing =
      throw new IllegalArgumentException(s"bad kvjsonl line: $line")
    // One bounded quoted-string parse for scalar fields AND array
    // elements (the writer uses one escape dialect for both). `at`
    // points at the opening quote; returns (value, index after the
    // closing quote).
    def quoted(at: Int): (String, Int) = {
      var j = at + 1
      val b = new StringBuilder
      while (j < line.length && line.charAt(j) != '"') {
        val c = line.charAt(j)
        if (c == '\\') {
          if (j + 1 >= line.length) corrupt()
          line.charAt(j + 1) match {
            case '"' => b.append('"'); j += 2
            case '\\' => b.append('\\'); j += 2
            case 'n' => b.append('\n'); j += 2
            case 'r' => b.append('\r'); j += 2
            case 't' => b.append('\t'); j += 2
            case 'u' =>
              if (j + 6 > line.length) corrupt()
              b.append(Integer.parseInt(
                line.substring(j + 2, j + 6), 16).toChar)
              j += 6
            case other => throw new IllegalArgumentException(
              s"bad escape \\$other in kvjsonl line: $line")
          }
        } else { b.append(c); j += 1 }
      }
      if (j >= line.length) corrupt()
      (b.toString, j + 1)
    }
    while (i < line.length && line.charAt(i) == ',') {
      i += 1
      if (i >= line.length || line.charAt(i) != '"') corrupt()
      i += 1
      val nameStart = i
      while (i < line.length && line.charAt(i) != '"') i += 1
      if (i >= line.length) corrupt()
      val name = line.substring(nameStart, i)
      i += 1
      if (i >= line.length || line.charAt(i) != ':') corrupt()
      i += 1
      if (i >= line.length) corrupt()
      line.charAt(i) match {
        case 'n' => // null
          require(line.startsWith("null", i), s"bad kvjsonl line: $line")
          i += 4
        case '"' =>
          val (v, ni) = quoted(i)
          i = ni
          m = m.updated(name, v)
        case '[' =>
          // ARRAY token: numeric, quoted-string or null elements (the
          // DDL admits array<bigint> / array<double> /
          // array<string>), no nesting.
          i += 1
          val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
          if (i < line.length && line.charAt(i) == ']') i += 1
          else {
            var done = false
            while (!done) {
              if (line.startsWith("null", i)) { buf += null; i += 4 }
              else if (i < line.length && line.charAt(i) == '"') {
                val (v, ni) = quoted(i)
                buf += v
                i = ni
              } else {
                val tokStart = i
                // bounds-checked like the scalar path: a TRUNCATED
                // line (`[1.0,` and nothing after) must fail with the
                // format's contractual message, not an index error
                while (i < line.length &&
                  line.charAt(i) != ',' && line.charAt(i) != ']')
                  i += 1
                if (i == tokStart)
                  throw new IllegalArgumentException(
                    s"bad kvjsonl array in line: $line")
                buf += numToken(line.substring(tokStart, i))
              }
              if (i >= line.length)
                throw new IllegalArgumentException(
                  s"bad kvjsonl array in line: $line")
              line.charAt(i) match {
                case ',' => i += 1
                case ']' => i += 1; done = true
                case _ => throw new IllegalArgumentException(
                  s"bad kvjsonl array in line: $line")
              }
            }
          }
          m = m.updated(name, buf.toArray)
        case _ =>
          val tokStart = i
          while (i < line.length && line.charAt(i) != ',' &&
            line.charAt(i) != '}') i += 1
          m = m.updated(name, numToken(line.substring(tokStart, i)))
      }
    }
    require(i < line.length && line.charAt(i) == '}',
      s"bad kvjsonl line: $line")
    m
  }

  /** One bare numeric token → Long or Double per the writer's
    * encoding (shared by the scalar and array-element paths —
    * fmtDouble's NaN/±Infinity dialect included).
    */
  private def numToken(tok: String): Any =
    if (tok == "NaN") Double.NaN
    else if (tok == "Infinity") Double.PositiveInfinity
    else if (tok == "-Infinity") Double.NegativeInfinity
    else if (tok.indexOf('.') >= 0 || tok.indexOf('E') >= 0 ||
      tok.indexOf('e') >= 0) java.lang.Double.parseDouble(tok)
    else java.lang.Long.parseLong(tok)
}
