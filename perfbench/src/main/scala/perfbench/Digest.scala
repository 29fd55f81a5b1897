package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result, computed the same way by
  * `oracle.py` from the DuckDB oracle's rows: columns sorted by name,
  * each value rendered canonically (doubles by their exact bits,
  * timestamps as epoch microseconds), rows sorted by their UTF-8 bytes.
  */
object Digest {
  final case class Result(digest: String, rows: Long)

  def of(schema: StructType, rows: Array[Row]): Result = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name)
    val lines = rows.map { r =>
      order.map { case (f, i) => canon(r.get(i), f.dataType) }.mkString("\u0001").getBytes(UTF_8)
    }
    java.util.Arrays.sort(lines, (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(l)
    }
    Result(md.digest().map("%02x".format(_)).mkString, rows.length.toLong)
  }

  private def bits(d: Double): String =
    if (d.isNaN) "NaN" else java.lang.Double.doubleToRawLongBits(d).toString

  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp      => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case i: java.time.Instant       => i.getEpochSecond * 1000000L + i.getNano / 1000
    case l: java.time.LocalDateTime => micros(l.toInstant(java.time.ZoneOffset.UTC))
  }

  def canon(v: Any, t: DataType): String = (v, t) match {
    case (null, _)                                    => "\\N"
    case (x, FloatType)                               => bits(x.asInstanceOf[Float].toDouble)
    case (x, DoubleType)                              => bits(x.asInstanceOf[Double])
    case (x: java.math.BigDecimal, _: DecimalType)    => x.stripTrailingZeros.toPlainString
    case (x: scala.math.BigDecimal, _: DecimalType)   => x.bigDecimal.stripTrailingZeros.toPlainString
    case (x: String, _)                               => escape(x)
    case (x, TimestampType | TimestampNTZType)        => micros(x).toString
    case (x: Array[Byte], BinaryType)                 => x.map("%02x".format(_)).mkString
    case (x: scala.collection.Seq[_], ArrayType(et, _)) => x.map(canon(_, et)).mkString("[", ",", "]")
    case (x: Row, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, i) => canon(x.get(i), f.dataType) }.mkString("{", ",", "}")
    case (x: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      x.toSeq.map { case (k, mv) => canon(k, kt) + ":" + canon(mv, vt) }.sorted.mkString("<", ",", ">")
    case (x, _) => x.toString // booleans, integers, dates (ISO)
  }

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\u0001", "\\1").replace("\n", "\\n")
}
