package layerbench

import graft.functions.GraftFunctions.polylabel
import graft.geom.{Fixtures, Polylabel}
import graft.sources.{GeoTables, PolyRow}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `polylabel` over a skewed mix: many synthetic star polygons (6..512
  * vertices, cycled by id so the vertex total never depends on the seed)
  * plus a few 8,854-vertex Norway copies packed into the last two of 50
  * partitions. Map-only: cached input -> polylabel expression -> noop.
  */
final class LabelSkewed(scale: Double = 1.0) extends Workload {
  val name = "label_skewed"
  val nSyn: Int = (12000 * scale).toInt
  val nNorway: Int = (192 * scale).toInt
  val synSlices = 48
  val inputRows: Long = nSyn + nNorway
  val warmupJobs = 4
  // pinned in PolylabelSpec
  val norwayLabel = (10.29301152092468, 61.6784192527327, 1.636877832493017)

  private var input: DataFrame = _
  private var seed = 0L

  def setUp(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    seed = c.seed
    val s = seed
    // rows are generated inside the tasks that cache them, so no job
    // ships input data from the driver
    val syn = spark.range(0L, nSyn.toLong, 1L, synSlices).map(id => LabelSkewed.synthetic(s, id))
    val nw = spark.range(0L, nNorway.toLong, 1L, 2).map(id => LabelSkewed.norway(id))
    input = syn.union(nw).toDF.persist(StorageLevel.MEMORY_ONLY)
    input.count()
  }

  def labels(df: DataFrame): DataFrame =
    df.withColumn("label", polylabel(col("exterior"), col("holes"), col("tolerance")))
      .select(col("poly_id"), col("label.x").as("x"), col("label.y").as("y"),
        col("label.dist").as("dist"))

  val cols = Seq("poly_id", "x", "y", "dist")

  def job(c: Ctx): Digest =
    c.tracer.span("functions.polylabel") { Digests.noopObserved(labels(input), cols) }

  def check(c: Ctx): (Digest, Seq[Check]) = {
    val out = c.sub("check/labels").toString
    labels(input).write.mode("overwrite").parquet(out)
    val back = c.spark.read.parquet(out)
    val digest = Digests.aggregate(back, cols)
    val rows = back.collect().map(r =>
      r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val nw = rows.filter(_._1.startsWith("nw-")).values.toSeq
    val pinned = Check("norway_label_pinned",
      nw.size == nNorway && nw.forall(_ == norwayLabel),
      s"${nw.distinct.mkString(",")} vs $norwayLabel")
    val jn = JtsPolygon.of("norway", Fixtures.norway)
    val (nx, ny, nd) = norwayLabel
    val norwayGrid = jn.gridMax(32)
    val norwayOk = Check("norway_label_oracle",
      jn.contains(nx, ny) && nd >= norwayGrid - 1.0 - 1e-9 &&
        math.abs(jn.signedDistance(nx, ny) - nd) <= 1e-9 * math.max(1.0, nd),
      s"grid max $norwayGrid")
    val sampled = Oracles.sample((0L until nSyn.toLong).toVector, 150, c.seed ^ 0x5eedL)
    val bad = sampled.map(LabelSkewed.synthetic(seed, _)).flatMap { p =>
      val j = JtsPolygon.of(p)
      rows.get(p.poly_id) match {
        case None => Some(s"${p.poly_id}: missing")
        case Some((x, y, d)) =>
          val g = j.gridMax(32)
          val sd = j.signedDistance(x, y)
          if (!j.contains(x, y)) Some(s"${p.poly_id}: label outside")
          else if (math.abs(sd - d) > 1e-9 * math.max(1.0, d)) Some(s"${p.poly_id}: dist $d vs $sd")
          else if (d < g - p.tolerance - 1e-12) Some(s"${p.poly_id}: dist $d < grid max $g - tol")
          else None
      }
    }
    val count = Check("row_count", rows.size == inputRows, s"${rows.size} rows")
    (digest, Seq(pinned, norwayOk, count,
      Check("synthetic_labels_oracle", bad.isEmpty, bad.take(3).mkString("; "))))
  }

  def probes(c: Ctx, out: Layers): Unit = {
    Probes.kernelNorway(out)
    val polys = (0L until nSyn.toLong).map(i => GeoTables.toPolygon(LabelSkewed.synthetic(seed, i)))
    val vertices = polys.map(_.rings.map(_.nVertices).sum.toLong).sum
    val ns = Probes.medianOf(3) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < polys.size) { Polylabel.polylabel(polys(i), 0.01); i += 1 }
      System.nanoTime() - t0
    }
    out.put("geom.polylabel_ns_per_vertex", ns.toDouble / vertices)
    val kernelNs = ns + nNorway * out.values("geom.norway_ms_per_call") * 1e6
    Probes.expression(c, labels(input), cols, inputRows, kernelNs, out)
  }
}

object LabelSkewed {
  val vertexCycle = Seq(6, 12, 24, 48, 96, 512)

  /** Synthetic star polygon `id`; its vertex count cycles with the id. */
  def synthetic(seed: Long, id: Long): PolyRow = {
    val rng = new scala.util.Random(seed * 1000003L + id)
    val cx = -20.0 + rng.nextDouble() * 40.0
    val cy = 30.0 + rng.nextDouble() * 30.0
    val radius = 0.05 + rng.nextDouble() * 0.8
    val p = GeoTables.syntheticPolygon(seed * 1000003L + id, cx, cy, radius,
      vertexCycle((id % vertexCycle.size).toInt))
    Oracles.polyRow(s"syn-$id", p, 0.01)
  }

  def norway(id: Long): PolyRow = Oracles.polyRow(s"nw-$id", Fixtures.norway, 1.0)
}
