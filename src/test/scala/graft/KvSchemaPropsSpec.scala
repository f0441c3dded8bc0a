package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KvSchema

/** Randomized round-trip for the evolved kvjsonl line format
  * (KvSchema.formatRow / parseRow) in ugly territory: control
  * characters, JSON metacharacters, unicode, surrogate-adjacent
  * BMP chars, NaN/±Infinity/−0.0/denormals, Long extremes, arbitrary
  * null patterns, and randomized column sets (value present/absent,
  * 0–4 extras of mixed types). The writer and its only parser must be
  * exact inverses on EVERY input — a lossy pair would silently
  * corrupt an evolved table. Fixed seeds, CosinePropsSpec pattern.
  */
class KvSchemaPropsSpec extends AnyFunSuite {

  private val strGen: Gen[String] = Gen.frequency(
    4 -> Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('"', '\\', '\n', '\r', '\t', ',', ':', '{', '}'),
      1 -> Gen.oneOf('\u0000', '\u0001', '\u001f'),
      1 -> Gen.oneOf('\u00e9', '\u4e2d', '\u2603'))).map(_.mkString),
    1 -> Gen.const(""),
    1 -> Gen.const("null"),
    1 -> Gen.const("NaN"))

  private val dblGen: Gen[Double] = Gen.frequency(
    5 -> Gen.chooseNum(-1e6, 1e6),
    1 -> Gen.const(Double.NaN),
    1 -> Gen.const(Double.PositiveInfinity),
    1 -> Gen.const(Double.NegativeInfinity),
    1 -> Gen.const(-0.0),
    1 -> Gen.const(Double.MinPositiveValue),
    1 -> Gen.const(Double.MaxValue))

  private val lngGen: Gen[Long] = Gen.frequency(
    5 -> Gen.chooseNum(-1000000L, 1000000L),
    1 -> Gen.const(Long.MinValue),
    1 -> Gen.const(Long.MaxValue),
    1 -> Gen.const(0L))

  /** Random column set: key always; value slot (id 2) half the time;
    * 0–4 extras with ids 3.. and mixed types.
    */
  private val colsGen: Gen[Seq[KvSchema.Col]] = for {
    hasValue <- Gen.oneOf(true, false)
    nExtra <- Gen.chooseNum(0, 4)
    types <- Gen.listOfN(nExtra,
      Gen.oneOf(LongType, StringType, DoubleType))
  } yield {
    val base = Seq(KvSchema.Col(1, "key", LongType)) ++
      (if (hasValue) Seq(KvSchema.Col(2, "value", StringType))
       else Seq.empty)
    base ++ types.zipWithIndex.map { case (t, i) =>
      KvSchema.Col(3 + i, s"x$i", t)
    }
  }

  private def cellGen(c: KvSchema.Col): Gen[Any] =
    Gen.frequency(
      1 -> Gen.const(null),
      4 -> (c.dtype match {
        case LongType => lngGen.map(Long.box)
        case DoubleType => dblGen.map(Double.box)
        case StringType =>
          strGen.map(s => UTF8String.fromString(s): Any)
        case other => throw new IllegalStateException(other.toString)
      }))

  private def rowGen(cols: Seq[KvSchema.Col]): Gen[Seq[Any]] =
    Gen.sequence[Seq[Any], Any](cols.map(cellGen))

  test("formatRow/parseRow are exact inverses on hostile random rows") {
    val params = Gen.Parameters.default
    var checked = 0
    (0 until 500).foreach { i =>
      val seed = Seed(90210L + i)
      val cols = colsGen.apply(params, seed).get
      val cells = rowGen(cols).apply(params, seed.next).get
      val row = InternalRow.fromSeq(cells)
      val line = KvSchema.formatRow(row, cols)
      val (k, v, extras) = KvSchema.parseRow(line)

      // key (position 0, id 1)
      assert(k === Option(cells.head).map(_.asInstanceOf[Long]),
        s"key diverged on $line")
      // value (id 2; absent from the schema ⇒ parses back None)
      val valueIdx = cols.indexWhere(_.id == 2)
      val wantV =
        if (valueIdx < 0) None
        else Option(cells(valueIdx)).map(_.toString)
      assert(v === wantV, s"value diverged on $line")
      // extras: null cells are ABSENT from the map (same observable
      // as null under the absent-means-NULL read contract)
      cols.zipWithIndex.filter(_._1.id > 2).foreach { case (c, idx) =>
        val got = extras.get(c.storageName)
        Option(cells(idx)) match {
          case None =>
            assert(got.isEmpty, s"phantom ${c.storageName} in $line")
          case Some(x: java.lang.Double) if x.isNaN =>
            assert(got.exists(g => g.asInstanceOf[Double].isNaN),
              s"NaN lost in $line")
          case Some(x) =>
            val want: Any = x match {
              case u: UTF8String => u.toString
              case other => other
            }
            assert(got.contains(want),
              s"${c.storageName} diverged on $line: " +
                s"got $got want $want")
        }
      }
      checked += 1
    }
    assert(checked == 500)
  }

  test("any registry write() accepts reads back with the IDENTICAL " +
      "column list (property over the full accepted name charset)") {
    val params = Gen.Parameters.default
    val nameGen: Gen[String] = for {
      n <- Gen.chooseNum(1, 12)
      cs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaNumChar, 2 -> Gen.const('_')))
    } yield cs.mkString
    val dir = SparkTestBase.tempDir("kvschema-props").toString
    (0 until 200).foreach { i =>
      val seed = Seed(4242L + i)
      val nVersions = Gen.chooseNum(1, 4).apply(params, seed).get
      var s = seed.next
      var nextId = 3
      val versions = (0 until nVersions).map { vi =>
        val nCols = Gen.chooseNum(0, 5).apply(params, s).get; s = s.next
        val extras = (0 until nCols).map { _ =>
          val name = nameGen.apply(params, s).get; s = s.next
          val t = Gen.oneOf(LongType, StringType, DoubleType)
            .apply(params, s).get; s = s.next
          nextId += 1
          KvSchema.Col(nextId, name, t)
        }
        KvSchema.Version(vi * 2,
          Seq(KvSchema.Col(1, "key", LongType)) ++ extras)
      }
      val reg = KvSchema.Registry(versions)
      KvSchema.write(dir, reg)
      val back = KvSchema.read(dir).get
      assert(back.versions.map(v => (v.from, v.cols)) ===
        reg.versions.map(v => (v.from, v.cols)),
        s"registry round-trip diverged at iteration $i")
    }
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a TRUNCATED null-value line is rejected, not parsed clean") {
    for (bad <- Seq("{\"key\":1,\"value\":null", "{\"key\":1,\"value\":nul",
        "{\"key\":1,\"value\":nullx")) {
      intercept[IllegalArgumentException](
        graft.sources.KvJsonlSink.parseLine(bad))
      intercept[Exception](KvSchema.parseRow(bad))
    }
    // the two legal continuations still parse
    assert(graft.sources.KvJsonlSink.parseLine(
      "{\"key\":1,\"value\":null}") === ((Some(1L), None)))
    assert(KvSchema.parseRow(
      "{\"key\":1,\"value\":null,\"c3\":7}")._3 === Map("c3" -> 7L))
  }

  test("founding-format lines parse identically through both parsers") {
    val params = Gen.Parameters.default
    (0 until 200).foreach { i =>
      val seed = Seed(777L + i)
      val k = Gen.option(lngGen).apply(params, seed).get
      val v = Gen.option(strGen).apply(params, seed.next).get
      val row = InternalRow.fromSeq(Seq(
        k.map(Long.box).orNull,
        v.map(UTF8String.fromString).orNull))
      val line = graft.sources.KvJsonlSink.formatLine(row)
      assert(graft.sources.KvJsonlSink.parseLine(line) === ((k, v)))
      val (pk, pv, extras) = KvSchema.parseRow(line)
      assert((pk, pv) === ((k, v)))
      assert(extras.isEmpty)
    }
  }
}
