package perfbench

import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.hashing.MurmurHash3

/** Row count plus an order-independent 64-bit hash of a query result.
  *
  * Columns are visited in name order, so a result whose columns come back
  * in another order hashes the same. Row hashes are summed, so row order
  * and partitioning do not matter while duplicate rows still count. Any
  * changed value changes its row hash: doubles hash by their exact bits,
  * strings by their UTF-8 bytes, nested values recursively (maps as
  * unordered entry sets).
  */
final case class ResultHash(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object ResultHash {

  def of(columns: Seq[String], rows: Array[Row]): ResultHash = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2).toArray
    var sum = 0L
    rows.foreach { r =>
      var h = 0x5bd1e995L
      order.foreach(i => h = mix(h * 31 + value(r.get(i))))
      sum += mix(h)
    }
    ResultHash(rows.length.toLong, sum)
  }

  /** SplitMix64 finaliser. */
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def bytes(tag: Long, b: Array[Byte]): Long =
    mix(tag ^ (MurmurHash3.bytesHash(b, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.bytesHash(b, 0x2f0e1d3c).toLong & 0xffffffffL))

  private def seq(tag: Long, xs: Iterable[Any]): Long =
    xs.foldLeft(tag)((h, x) => mix(h * 31 + value(x)))

  private def value(v: Any): Long = v match {
    case null => 0x7f4a7c159e3779b9L
    case b: Boolean => mix(if (b) 11L else 13L)
    case b: Byte => mix(17L * 1000003 + b)
    case s: Short => mix(19L * 1000003 + s)
    case i: Int => mix(23L * 1000003 + i)
    case l: Long => mix(29L * 1000003 + l)
    case f: Float => mix(31L * 1000003 + java.lang.Float.floatToIntBits(f))
    case d: Double => mix(37L * 1000003 + java.lang.Double.doubleToLongBits(d))
    case s: String => bytes(41L, s.getBytes(UTF_8))
    case b: Array[Byte] => bytes(43L, b)
    case r: Row => seq(47L, r.toSeq)
    case m: scala.collection.Map[_, _] =>
      m.foldLeft(53L)((h, kv) => h + mix(value(kv._1) * 31 + value(kv._2)))
    case s: scala.collection.Seq[_] => seq(59L, s)
    case other => bytes(61L, s"${other.getClass.getName}:$other".getBytes(UTF_8))
  }
}
