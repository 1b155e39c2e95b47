package graftbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-independent fingerprint of a result: its row count and the sum
  * (mod 2^64) of a 64-bit hash per row. A row hashes its values in
  * column-name order, with every floating or decimal value rounded to
  * `Digits` significant digits, so summation order inside Spark cannot
  * change the fingerprint while any real change to a value does.
  */
object Fingerprint {
  val Digits = 6
  private val mc = new MathContext(Digits)

  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val header = hash64(schema.fieldNames.sorted.mkString(","))
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val conv = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val row = conv(r).asInstanceOf[Row]
        h += hash64(order.map(i => canon(row.get(i))).mkString("\u0001"))
        n += 1
      }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    (n, f"${h + header}%016x")
  }

  /** Canonical sorted text of a small result, for row-identity checks. */
  def rows(df: DataFrame): Seq[String] = rows(df.collect(), df.schema.fieldNames)

  def rows(collected: Array[Row], names: Array[String]): Seq[String] = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    collected.toSeq.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal =>
      if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
