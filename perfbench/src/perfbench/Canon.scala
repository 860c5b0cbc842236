package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.Row

/** Order-independent digest of a query result: row count plus the
  * wrapping sum of a 64-bit hash of each row's canonical text. Floating
  * values are rounded to 10 significant digits, so a different
  * summation order across partitions cannot flip the digest. */
object Canon {
  private val mc = new MathContext(10)

  def value(v: Any): String = v match {
    case null => "<null>"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new JBigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => value(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => value(b.bigDecimal)
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => o.toString
  }

  def rowHash(r: Row): Long = {
    val s = value(r)
    (MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }

  /** (row count, digest) of a collected result. */
  def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.foldLeft(0L)((h, r) => h + rowHash(r)))
}

/** JSON in and out of the harness, with the Jackson that Spark ships. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}
