package graftbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a result: row count plus the sum, modulo
  * 2^64, of the first 8 bytes of each row's MD5. A row is its columns in
  * name order, each written in a canonical text form that
  * `perfbench/digest.py` reproduces for DuckDB results:
  *
  *  - every number, integral or not, as its exact value rounded half-even
  *    to 6 decimal places (the oracle convention, `Determinism.f6`), with
  *    trailing zeros dropped, so `3`, `3.0` and DECIMAL `3.000000` agree;
  *  - timestamps as microseconds since the epoch, read as UTC;
  *  - dates in ISO form; strings quoted; arrays and structs in order;
  *    maps sorted by key; null as a sentinel.
  */
object Digest {

  def of(df: DataFrame): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, sum) = df.rdd.mapPartitions { rows =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var sum = 0L
      val sb = new StringBuilder
      rows.foreach { r =>
        sb.setLength(0)
        order.foreach { i => canon(r.get(i), sb); sb.append('\u0001') }
        sum += head64(md.digest(sb.toString.getBytes(StandardCharsets.UTF_8)))
        n += 1
      }
      Iterator.single((n, sum))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    f"$n:$sum%016x"
  }

  private def head64(h: Array[Byte]): Long =
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (h(i) & 0xffL))

  private def number(d: JBigDecimal, sb: StringBuilder): Unit = {
    val q = d.setScale(6, RoundingMode.HALF_EVEN)
    sb.append(if (q.signum == 0) "0" else q.stripTrailingZeros.toPlainString)
  }

  private def floating(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Infinity" else "-Infinity")
    else number(new JBigDecimal(d), sb)

  private def micros(epochSecond: Long, nano: Int): Long =
    Math.addExact(Math.multiplyExact(epochSecond, 1000000L), (nano / 1000).toLong)

  def canon(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append('∅')
    case b: Boolean => sb.append(b)
    case s: String => sb.append('"').append(s).append('"')
    case x: Byte => sb.append(x.toLong)
    case x: Short => sb.append(x.toLong)
    case x: Int => sb.append(x.toLong)
    case x: Long => sb.append(x)
    case x: java.math.BigInteger => sb.append(x.toString)
    case x: BigInt => sb.append(x.toString)
    case x: Float => floating(x.toDouble, sb)
    case x: Double => floating(x, sb)
    case x: JBigDecimal => number(x, sb)
    case x: BigDecimal => number(x.bigDecimal, sb)
    case t: java.sql.Timestamp =>
      sb.append(micros(Math.floorDiv(t.getTime, 1000L), t.getNanos))
    case t: java.time.Instant => sb.append(micros(t.getEpochSecond, t.getNano))
    case t: java.time.LocalDateTime =>
      sb.append(micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano))
    case d: java.sql.Date => sb.append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append(d.toString)
    case a: Array[Byte] => a.foreach(b => sb.append(f"${b & 0xff}%02x"))
    case m: scala.collection.Map[_, _] =>
      val kv = m.toSeq.map { case (k, x) =>
        val kb = new StringBuilder; canon(k, kb)
        val vb = new StringBuilder; canon(x, vb)
        (kb.toString, vb.toString)
      }.sortBy(_._1)
      sb.append('<')
      kv.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(','); sb.append(k).append('=').append(x) }
      sb.append('>')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); canon(x, sb) }
      sb.append(']')
    case r: Row =>
      sb.append('{')
      (0 until r.length).foreach { i => if (i > 0) sb.append(','); canon(r.get(i), sb) }
      sb.append('}')
    case other =>
      throw new IllegalArgumentException(s"no canonical form for ${other.getClass.getName}")
  }
}
