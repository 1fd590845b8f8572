package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result, computed the same
  * way as `fingerprint.py` computes it over a DuckDB oracle result:
  *
  *  - `rows`: the row count;
  *  - `hash`: the sum (mod 2^64) over rows of the first 8 bytes of the
  *    MD5 of the row's canonical text, built from its non-float columns
  *    in column-name order;
  *  - `floats`: per float-valued column, (sum, sum of |x|, non-null
  *    count, weighted sum). The weighted sum is the sum of x * w(row),
  *    where w(row) in [0, 1) is the top 53 bits of the row's hash over
  *    2^53: it ties each value to its row without depending on row
  *    order. Float columns are compared with a tolerance, since two
  *    engines may sum in different orders.
  *
  * A column is float-valued when any of its non-null values is a float,
  * double or decimal.
  */
object Fingerprint {
  final case class FloatCol(sum: Double, sumAbs: Double, n: Long, weighted: Double)
  final case class Fp(rows: Long, hash: String, floats: Map[String, FloatCol]) {
    def json: Map[String, Any] = Map(
      "rows" -> rows, "hash" -> hash,
      "floats" -> floats.map { case (c, f) =>
        c -> Seq(f.sum, f.sumAbs, f.n, f.weighted) })
  }

  private def asFloat(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case b: java.math.BigDecimal => Some(b.doubleValue)
    case b: scala.math.BigDecimal => Some(b.toDouble)
    case _ => None
  }

  private def micros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong)

  /** Canonical text of a non-float value (nested floats print with
    * Java's shortest round-trip form, as Python's `repr` does). */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case s: String => s
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: Instant => micros(t).toString
    case t: LocalDateTime => micros(t.toInstant(ZoneOffset.UTC)).toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: Double => d.toString
    case f: Float => f.toDouble.toString
    case other => other.toString
  }

  def rowHash(text: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  def rowWeight(hash: Long): Double = (hash >>> 11).toDouble / (1L << 53).toDouble

  def of(columns: Seq[String], rows: Array[Row]): Fp = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val (floatCols, textCols) = order.partition { case (_, i) =>
      rows.exists(r => asFloat(r.get(i)).isDefined)
    }
    val hashes = rows.map(r => rowHash(textCols.map { case (c, i) => c + "=" + canon(r.get(i)) }
      .mkString("\u0001")))
    val floats = floatCols.map { case (c, i) =>
      val xs = rows.zip(hashes).flatMap { case (r, h) => asFloat(r.get(i)).map(_ -> rowWeight(h)) }
      c -> FloatCol(xs.map(_._1).sum, xs.map(x => math.abs(x._1)).sum, xs.length.toLong,
        xs.map { case (x, w) => x * w }.sum)
    }.toMap
    Fp(rows.length.toLong, java.lang.Long.toUnsignedString(hashes.sum, 16), floats)
  }
}
