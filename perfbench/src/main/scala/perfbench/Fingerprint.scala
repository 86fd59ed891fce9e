package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import scala.util.hashing.MurmurHash3

/** An order-independent reduction of a query result: its row count plus
  * a 128-bit hash that does not depend on row order or column order.
  *
  * Each row is canonicalized the way `tools/check.py`'s `canon`/`norm`
  * does before comparing with DuckDB: columns sorted by name, doubles
  * rounded to 6 decimal places. Doubles are additionally cut to 10
  * significant digits, so a large aggregate whose last bits depend on
  * summation order still canonicalizes to one value. Every column takes
  * part, so no output column can be pruned away.
  */
final case class Fingerprint(rows: Long, h1: Long, h2: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, h1 + o.h1, h2 + o.h2)
  def show: String = f"$rows:$h1%016x$h2%016x"
}

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0, 0, 0)

  def parse(s: String): Fingerprint = {
    val Array(n, h) = s.split(':')
    Fingerprint(n.toLong, java.lang.Long.parseUnsignedLong(h.take(16), 16),
      java.lang.Long.parseUnsignedLong(h.drop(16), 16))
  }

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else {
      val r6 = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
      val r = r6.round(new java.math.MathContext(10, java.math.RoundingMode.HALF_EVEN))
      val s = r.bigDecimal.stripTrailingZeros().toPlainString
      if (s == "-0") "0" else s
    }

  /** Canonical text of one value; nested values canonicalize recursively,
    * map entries and struct fields in key/name order. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => double(b.doubleValue)
    case b: BigDecimal => double(b.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    // instants as epoch microseconds, so the text does not depend on the
    // JVM's default time zone
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "T" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (n, i) => n + "=" + canon(r.get(i)) }.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Hash of one row given as (column name, value) pairs. */
  def row(cells: Seq[(String, Any)]): Fingerprint = {
    val text = cells.map { case (n, v) => (n, canon(v)) }.sorted
      .map { case (n, v) => n + "=" + v }.mkString("\u0001")
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    Fingerprint(1, MurmurHash3.bytesHash(bytes, 0x5eed).toLong << 32 ^
      MurmurHash3.bytesHash(bytes, 0x1234567).toLong & 0xffffffffL,
      MurmurHash3.bytesHash(bytes, 0x7ab1e).toLong << 32 ^
      MurmurHash3.bytesHash(bytes, 0x0ddba11).toLong & 0xffffffffL)
  }

  def ofRows(names: Seq[String], rows: Iterator[Seq[Any]]): Fingerprint =
    rows.foldLeft(Empty)((acc, r) => acc + row(names.zip(r)))

  /** Fingerprint a DataFrame by running its already-planned physical plan
    * (`queryExecution.toRdd`): the plan is not re-optimized, and the
    * reduction runs inside the tasks. */
  def of(df: DataFrame): Fingerprint = {
    val schema: StructType = df.schema
    val names = schema.fieldNames.toSeq
    val types = schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      val conv = types.map(CatalystTypeConverters.createToScalaConverter)
      Iterator.single(ofRows(names, it.map(r =>
        types.indices.map(i => conv(i)(r.get(i, types(i)))))))
    }.fold(Empty)(_ + _)
  }
}
