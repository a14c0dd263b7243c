package graft.sources

import graft.TestSpark
import graft.gen.Props
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** `IcebergLite`'s one-aggregate lineage metrics against a grouped
  * `count`/`bit_xor` over the same rows, for any wave, bucket assignment
  * and partitioning.
  */
class WaveLineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One case: the wave (ascending), each row's (bucket, hash), and how
    * the rows are partitioned before the aggregate.
    */
  final case class Case(wave: Seq[Int], rows: Seq[(Int, Long)], parts: Int, layout: String)

  private val caseGen: Gen[Case] = for {
    buckets <- Gen.choose(1, 12)
    wave <- Gen.atLeastOne(0 until buckets).map(_.toSeq.sorted)
    // rows land in a subset of the wave, so some wave buckets may get none
    used <- Gen.atLeastOne(wave)
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 300))
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(used.toSeq), Gen.long))
    parts <- Gen.choose(1, 7)
    layout <- Gen.oneOf("roundRobin", "byHash", "rebalance", "coalesce")
  } yield Case(wave, rows, parts, layout)

  /** Fixed cases the generator may not draw: a non-contiguous resumed
    * wave, a single bucket, and wave buckets with no rows.
    */
  private val fixed = Seq(
    Case(Seq(1, 4, 5), Seq(1 -> 7L, 4 -> -1L, 5 -> Long.MinValue, 1 -> 7L, 4 -> 3L), 3, "roundRobin"),
    Case(Seq(6), (1 to 50).map(i => 6 -> (i * 0x9E3779B97F4A7C15L)), 4, "byHash"),
    Case(Seq(0, 2, 9, 11), Seq(9 -> 42L), 2, "rebalance"),
    Case(Seq(3, 8), Nil, 1, "coalesce"))

  private def frame(c: Case): DataFrame = {
    val df = c.rows.toDF("bucket", "h")
    c.layout match {
      case "roundRobin" => df.repartition(c.parts)
      case "byHash" => df.repartition(c.parts, col("h"))
      case "rebalance" => df.repartition(c.parts).hint("rebalance", col("bucket"))
      case "coalesce" => df.repartition(c.parts).coalesce(math.max(1, c.parts / 2))
    }
  }

  /** None when the observed aggregate equals the grouped reference. */
  private def mismatch(c: Case): Option[String] = {
    val df = frame(c)
    val obs = Observation()
    df.observe(obs, IcebergLite.waveLineage(c.wave, col("bucket"), col("h")).as("lineage"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get("lineage").asInstanceOf[scala.collection.Seq[Long]]
    val got = c.wave.indices.map(i => c.wave(i) -> ((m(i), m(c.wave.size + i))))
    val grouped = df.groupBy("bucket").agg(count(lit(1)), bit_xor(col("h"))).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = c.wave.map(b => b -> grouped.getOrElse(b, (0L, 0L)))
    if (m.size == 2 * c.wave.size && got == want) None
    else Some(s"wave ${c.wave} ${c.layout}/${c.parts}: got $got, want $want")
  }

  test("one lineage aggregate == groupBy(bucket).agg(count, bit_xor) on fixed cases") {
    fixed.foreach { c =>
      val bad = mismatch(c)
      assert(bad.isEmpty, bad)
    }
  }

  test("one lineage aggregate == groupBy(bucket).agg(count, bit_xor) on generated waves") {
    Props.check("waveLineage", caseGen, seed = 0x11AE46EL, count = 25)(mismatch)
  }
}
