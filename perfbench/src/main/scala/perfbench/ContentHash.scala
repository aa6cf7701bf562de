package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import java.nio.charset.StandardCharsets.UTF_8

/** Order-insensitive content digest of a row multiset: the row count plus
  * the wrapping sum of a 64-bit hash of each row's canonical text. Two
  * results agree iff they hold the same rows in any order (up to hash
  * collisions). Doubles are rendered to 6 significant digits, so a sum
  * whose last bits depend on the order partitions were merged in still
  * digests the same.
  */
object ContentHash {

  final case class Digest(rows: Long, hash: Long) {
    def render: String = f"$rows%d:$hash%016x"
  }

  object Digest {
    def parse(s: String): Digest = {
      val Array(n, h) = s.split(":")
      Digest(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
    }
  }

  /** Digest of already-typed rows (the mailbox generator's expectations). */
  def ofValues(rows: Iterable[Iterable[Any]]): Digest = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += hash64(r.map(canonical).mkString("\u001f")) }
    Digest(n, h)
  }

  /** Digest of a DataFrame's collected rows. */
  def of(df: DataFrame): Digest = ofRows(df.collect().toSeq)

  def ofRows(rows: Seq[Row]): Digest = ofValues(rows.map(_.toSeq))

  /** Canonical text of one value; nested rows, arrays and maps recurse. */
  def canonical(v: Any): String = v match {
    case null => "␀"
    case d: Double => fmtDouble(d)
    case f: Float => fmtDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canonical).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toPlainString

  /** 64-bit FNV-1a over UTF-8 bytes, finished with a murmur3 fmix64 so
    * that summing hashes of similar rows does not cancel low bits.
    */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(UTF_8)
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}
