package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: the row count, the
  * 64-bit wrapping sum of each row's hash, and a hash of the schema.
  * Summing makes the digest independent of row order while still
  * counting duplicate rows.
  */
object Digest {

  /** Canonical text of one value. Byte arrays and nested values render
    * by content (their `toString` is an identity hash or depends on the
    * collection class); timestamps and dates render as UTC instants so
    * the JVM's default zone cannot change the digest.
    */
  def render(v: Any): String = v match {
    case null                   => "∅"
    case b: Array[Byte]         => "0x" + b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp  => s"ts:${t.getTime / 1000}.${t.getNanos}"
    case d: java.sql.Date       => s"date:${d.toLocalDate}"
    case i: java.time.Instant   => s"ts:${i.getEpochSecond}.${i.getNano}"
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case r: Row                 => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_]            => a.map(render).mkString("[", ",", "]")
    case other                  => other.toString
  }

  private def hash64(s: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
    x
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(render(r)))
    f"${rows.length}:$sum%016x:${hash64(schema.simpleString)}%016x"
  }
}
