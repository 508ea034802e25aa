package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result: every row is rendered
  * to a canonical string, hashed, and the hashes are summed, so the same
  * multiset of rows gives the same fingerprint whatever the partitioning
  * or tie order. The schema's column names and types are part of it. */
object Fingerprint {

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => "d" + b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp => "t" + t.toInstant.toString
    case t: java.time.Instant => "t" + t.toString
    case d: java.sql.Date => "D" + d.toLocalDate.toString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "s" + s
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    val h = md.digest(canon(r).getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  /** `rows:hexsum:schemaHash` of a fully collected result. */
  def of(schema: StructType, rows: Iterator[Row]): (Long, String) = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    val sh = MessageDigest.getInstance("SHA-256")
      .digest(schema.fields.map(f => f.name + ":" + f.dataType.simpleString)
        .mkString(",").getBytes(UTF_8))
      .take(4).map(x => f"${x & 0xff}%02x").mkString
    (n, f"$n:$sum%016x:$sh")
  }
}
