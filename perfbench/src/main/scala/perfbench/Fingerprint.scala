package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent content fingerprint of a result set: the row count plus
  * the wrapping 64-bit sum of one MD5-derived hash per row. Each row is
  * rendered column by column in case-insensitive column-name order, with one
  * canonical text per value, so the same rows give the same fingerprint
  * whichever engine produced them (perfbench/make_fingerprints.py is the DuckDB
  * side of the same rule). Doubles render as their IEEE-754 bits: the
  * comparison is exact. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  private val Sep = "\u001f"

  def render(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else f"${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  private def rowHash(cells: Seq[String]): Long = {
    val md5 = MessageDigest.getInstance("MD5")
      .digest(cells.mkString(Sep).getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md5, 0, 8).getLong
  }

  /** Whether `got` is the expected fingerprint of `name`; a mismatch or a
    * missing expectation is reported on stderr. */
  def matches(name: String, got: Fingerprint, expected: Map[String, Fingerprint]): Boolean = {
    val ok = expected.get(name).contains(got)
    if (!ok) System.err.println(s"[perfbench] $name: fingerprint $got, expected ${expected.get(name)}")
    ok
  }

  /** Fingerprint of `rows` whose columns are named `columns`. */
  def of(columns: Seq[String], rows: Iterable[Row]): Fingerprint = {
    val order = columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => render(r.get(i))))
      n += 1
    }
    Fingerprint(n, f"$sum%016x")
  }
}
