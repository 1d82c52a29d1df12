package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col

/** Order-independent table digest: the sum mod 2^64 of a SHA-256 prefix
  * of every row, with columns in name order. `gen.py` computes the same
  * digest for the expected table, so equal digests and counts mean equal
  * multisets of rows, with doubles compared bit for bit. */
object Digest {

  def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => "d" + "%016x".format(java.lang.Double.doubleToRawLongBits(d))
    case s: String => "s" + s
    case other =>
      throw new IllegalStateException(s"unexpected cell type ${other.getClass}")
  }

  def rowHash(r: Row): Long = {
    val text = (0 until r.length).map(i => cell(r.get(i))).mkString("\u001f")
    val h = MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
    ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** (row count, unsigned decimal digest). */
  def of(df: DataFrame): (Long, String) = {
    val sorted = df.select(df.columns.sorted.map(c => col(s"`$c`")): _*)
    val parts = sorted.mapPartitions { rows =>
      var n, sum = 0L
      rows.foreach { r => n += 1; sum += rowHash(r) }
      Iterator((n, sum))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    (parts.map(_._1).sum, java.lang.Long.toUnsignedString(parts.map(_._2).sum))
  }
}
