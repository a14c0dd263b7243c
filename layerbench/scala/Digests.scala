package layerbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Order-free digest of a frame's rows: row count, XOR of 64-bit row
  * hashes, and the sum of their low 32 bits. Two outputs with the same
  * rows in any order or partitioning have the same digest.
  */
final case class Digest(n: Long, xor: Long, sum32: Long) {
  def show: String = s"$n:$xor:$sum32"
}

object Digests {
  private var seq = 0L

  private def aggs(cols: Seq[String]): Seq[Column] = {
    val h = xxhash64(cols.map(col): _*)
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"), sum(h.bitwiseAND(lit(0xffffffffL))).as("s"))
  }

  private def fromRow(r: Row): Digest =
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))

  /** Force `df` through the `noop` sink and collect its digest in the
    * same job with `Dataset.observe`.
    */
  def noopObserved(df: DataFrame, cols: Seq[String]): Digest = {
    seq += 1
    val obs = Observation(s"lb_digest_$seq")
    val a = aggs(cols)
    df.observe(obs, a.head, a.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Digest(m("n").asInstanceOf[Long],
      Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L),
      Option(m("s")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Digest by aggregation (checked outputs read back from storage). */
  def aggregate(df: DataFrame, cols: Seq[String]): Digest = {
    val a = aggs(cols)
    fromRow(df.agg(a.head, a.tail: _*).head())
  }
}
