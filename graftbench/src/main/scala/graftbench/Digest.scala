package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-insensitive content digest of a result set.
  *
  * Each row becomes a canonical string (columns sorted by name, so a
  * reordered projection does not change it; doubles rounded to 10
  * significant digits and floats to 6, so a changed summation order
  * does not either), each string is hashed to 64 bits, and the row
  * hashes are ADDED modulo 2^64. Addition commutes, so any row order
  * gives the same digest while duplicates still count (a multiset
  * hash, unlike XOR).
  */
object Digest {

  private val DoubleDigits = new MathContext(10)
  private val FloatDigits = new MathContext(6)

  private def canonFloating(d: Double, mc: MathContext): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "+Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonFloating(d, DoubleDigits)
    case f: Float => canonFloating(f.toDouble, FloatDigits)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp =>
      s"ts:${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case d: java.sql.Date => s"date:${d.toLocalDate}"
    case bytes: Array[Byte] => bytes.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Canonical string of one row given its column names. */
  def canonRow(names: Seq[String], cells: Seq[Any]): String =
    names.zip(cells).sortBy(_._1)
      .map { case (n, c) => s"$n=${canon(c)}" }.mkString("|")

  def hash64(s: String): Long = {
    val md = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md).getLong
  }

  /** (row count, digest) of rows held locally. */
  def ofRows(names: Seq[String], rows: Iterator[Seq[Any]]): (Long, String) = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += hash64(canonRow(names, r)) }
    (n, f"$sum%016x")
  }

  /** (row count, digest) of a DataFrame, computed on the executors in
    * one execution of its plan as declared (`toRdd`, the same physical
    * plan a `toRdd.count()` runs).
    */
  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val names = schema.fieldNames.toSeq
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var sum = 0L
      it.foreach { r =>
        n += 1
        sum += hash64(canonRow(names, toRow(r).asInstanceOf[Row].toSeq))
      }
      Iterator((n, sum))
    }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }
}
