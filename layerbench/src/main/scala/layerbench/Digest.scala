package layerbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-sensitive SHA-256 of a collected result: the schema, then
  * every row in the order `collect()` returned it. Each value is
  * written with a type tag, so `1`, `1L`, `1.0` and `"1"` differ, as
  * do `null` and the string "null".
  */
object Digest {
  def of(schema: StructType, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.catalogString.getBytes(StandardCharsets.UTF_8))
    val b = new java.lang.StringBuilder
    rows.foreach { r =>
      b.setLength(0)
      b.append('\n')
      cell(b, r)
      md.update(b.toString.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def cell(b: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => b.append("N")
    case s: String => b.append("s").append(s.length).append(':').append(s)
    case d: Double => b.append("d").append(java.lang.Double.toString(d))
    case f: Float => b.append("f").append(java.lang.Float.toString(f))
    case n: Long => b.append("l").append(n)
    case n: Int => b.append("i").append(n)
    case n: Short => b.append("h").append(n)
    case n: Byte => b.append("y").append(n)
    case z: Boolean => b.append(if (z) "T" else "F")
    case m: java.math.BigDecimal => b.append("m").append(m.toPlainString)
    case m: scala.math.BigDecimal => b.append("m").append(m.bigDecimal.toPlainString)
    case bytes: Array[Byte] =>
      b.append("x")
      bytes.foreach(x => b.append(f"${x & 0xff}%02x"))
    case r: Row =>
      b.append('(')
      var i = 0
      while (i < r.length) {
        if (i > 0) b.append(',')
        cell(b, r.get(i))
        i += 1
      }
      b.append(')')
    case m: scala.collection.Map[_, _] =>
      b.append('{')
      m.foreach { case (k, x) => cell(b, k); b.append("->"); cell(b, x); b.append(',') }
      b.append('}')
    case xs: Iterable[_] =>
      b.append('[')
      xs.foreach { x => cell(b, x); b.append(',') }
      b.append(']')
    case other => b.append("o").append(other.getClass.getSimpleName)
        .append(':').append(other.toString)
  }

  /** Checks the digest's own contract; returns the number of failures. */
  def selfTest(): Int = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType),
      StructField("xs", ArrayType(LongType))))
    def rows(v: Double, k: String = "a") = Array(
      Row(k, v, Seq(1L, 2L)), Row("b", -0.0, null), Row(null, Double.NaN, Seq()))
    val base = of(schema, rows(1.5))
    val intSchema = StructType(schema.fields.updated(1, StructField("v", IntegerType)))
    val checks = Seq(
      "same rows, same digest" -> (of(schema, rows(1.5)) == base),
      "fresh arrays, same digest" -> (of(schema, rows(1.5).map(r =>
        Row.fromSeq(r.toSeq))) == base),
      "row order matters" -> (of(schema, rows(1.5).reverse) != base),
      "one ulp matters" -> (of(schema, rows(Math.nextUp(1.5))) != base),
      "null is not \"null\"" -> (of(schema, rows(1.5, null)) != of(schema, rows(1.5, "null"))),
      "string boundaries matter" ->
        (of(schema, Array(Row("ab", 1.0, null))) != of(schema, Array(Row("a", 1.0, null)))),
      "schema matters" -> (of(intSchema, Array.empty[Row]) != of(schema, Array.empty[Row])),
      "empty differs from one row" -> (of(schema, Array.empty[Row]) != of(schema, rows(1.5).take(1))),
      "int, long, double and string differ" -> (Seq[Any](1, 1L, "1", 1.0).map(x =>
        of(schema, Array(Row(x)))).distinct.size == 4),
      "digest is hex SHA-256" -> base.matches("[0-9a-f]{64}"))
    checks.foreach { case (name, ok) =>
      println(s"${if (ok) "PASS" else "FAIL"} digest: $name")
    }
    checks.count(!_._2)
  }
}
