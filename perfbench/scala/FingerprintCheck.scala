package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Self-check of [[Fingerprint]], run by `perfbench/tests/test_logic.py`:
  * exits non-zero on the first property that does not hold. No Spark
  * session is needed. */
object FingerprintCheck {
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType),
    StructField("s", StringType), StructField("m", MapType(StringType, IntegerType)),
    StructField("a", ArrayType(DoubleType))))

  private def row(k: Long, v: Double, s: String): Row =
    Row(k, v, s, Map("x" -> 1, "y" -> 2), Seq(v, -v))

  private val rows = Seq(row(1, 0.5, "a"), row(2, -1.25, "Привет\nмир"), row(3, 1e-300, null))

  private def fp(rs: Seq[Row], sc: StructType = schema): String = Fingerprint.of(sc, rs.iterator)._2

  def main(args: Array[String]): Unit = {
    val base = fp(rows)
    val checks = Seq(
      "row order does not matter" -> (fp(rows.reverse) == base),
      "a duplicated row changes it" -> (fp(rows :+ rows.head) != base),
      "a changed value changes it" -> (fp(rows.updated(0, row(1, 0.5000000001, "a"))) != base),
      "-0.0 and 0.0 are the same value" ->
        (fp(Seq(row(9, -0.0, "z"))) == fp(Seq(row(9, 0.0, "z")))),
      "map entry order does not matter" ->
        (Fingerprint.canon(Map("y" -> 2, "x" -> 1)) == Fingerprint.canon(Map("x" -> 1, "y" -> 2))),
      "null and the string \"null\" differ" ->
        (fp(Seq(row(3, 1.0, null))) != fp(Seq(row(3, 1.0, "null")))),
      "column names are part of it" ->
        (fp(rows, StructType(schema.fields.updated(0, StructField("key", LongType)))) != base),
      "the row count leads" -> base.startsWith("3:"),
      // pinned: the recorded catalog reference depends on this encoding
      "the encoding is stable" -> (base == "3:3f2898bb6531f1b3:124f5fdf"))
    val bad = checks.collect { case (name, false) => name }
    if (bad.nonEmpty) {
      System.err.println(s"fingerprint: FAILED ${bad.mkString("; ")} (base = $base)")
      sys.exit(1)
    }
    println(s"fingerprint: ${checks.size} properties hold")
  }
}
