import graft.functions.ExprHelpers
import graft.geom.{Fixtures, Polylabel, PolygonG, Ring}
import graft.operators.Tiling
import graft.sources.{GeoTables, Images}

/** The JVM side of tools/kernel_ab.py, compiled against one source tree's
  * classes. It uses only API that both sides of an A/B share:
  * `Polylabel.polylabel`, `Fixtures`, `GeoTables.syntheticPolygon`,
  * `Images.footprint`, `widthOf` and `heightOf`, `Tiling.TileSize`, and
  * `ExprHelpers.signedDist(x, y, PolygonG)`, the `signed_dist` expression's
  * entry, for the signed-distance probes.
  *
  * {{{
  *   KernelAb hash   one JSON line: counts and hashes of every label and
  *                   every signedDistance probe over the corpus below
  *   KernelAb time   one JSON line: per-call label time (us) per vertex-
  *                   count group, for `image_pipeline`-like rectangles, for
  *                   the tiles `image_pipeline` labels and for Norway, the
  *                   median of 5 passes after 2 warm-up;
  *                   and the same per "<group>+build", where each call
  *                   first builds its polygon from raw coordinate arrays
  *                   (`Ring.of`, `new PolygonG`), so work that a change
  *                   moves between polygon construction and the label
  *                   call cannot read as a kernel gain or loss
  * }}}
  *
  * Corpus: the 12,000 seed-1 `label_skewed` polygons (6-512 vertices,
  * tolerance 0.01), Norway (tolerance 1.0) and the fixtures; as probes,
  * every vertex of every one of them and each vertex moved by +1e-9 in y,
  * 200,000 uniform probes over Norway's bbox, and 50,000 over a Norway copy
  * with a NaN vertex and a 600-vertex hole.
  */
object KernelAb {
  val vertexCycle = Seq(6, 12, 24, 48, 96, 512)
  val nSynthetic = 12000

  /** Polygon `id` of `label_skewed` at `seed`: the workload's centre,
    * radius and vertex cycle, drawn by `GeoTables.syntheticPolygon`.
    */
  def synthetic(seed: Long, id: Long): PolygonG = {
    val rng = new scala.util.Random(seed * 1000003L + id)
    val cx = -20.0 + rng.nextDouble() * 40.0
    val cy = 30.0 + rng.nextDouble() * 30.0
    val radius = 0.05 + rng.nextDouble() * 0.8
    GeoTables.syntheticPolygon(seed * 1000003L + id, cx, cy, radius,
      vertexCycle((id % vertexCycle.size).toInt))
  }

  /** FNV-style 64-bit hash over the raw bits of the doubles fed to it. */
  final class Hash {
    var h = 0xcbf29ce484222325L
    var n = 0L
    def add(d: Double): Unit = {
      h = (h ^ java.lang.Double.doubleToRawLongBits(d)) * 0x100000001b3L
      h ^= h >>> 29
      n += 1
    }
    def hex: String = f"$h%016x"
  }

  def label(p: PolygonG, tol: Double, into: Hash): Unit =
    try {
      val r = Polylabel.polylabel(p, tol)
      into.add(r.x); into.add(r.y); into.add(r.dist)
    } catch { case _: IllegalArgumentException => into.add(Double.NaN) }

  /** Norway with vertex 4,000's x set to NaN and a 600-vertex circular hole
    * of radius 0.8 around its pinned label point (clearance 1.64).
    */
  def norwayNanHole: PolygonG = {
    val ext = Fixtures.norway.exterior
    val xs = ext.xs.clone()
    xs(4000) = Double.NaN
    val hole = Ring((0 until 600).map { i =>
      val a = -2.0 * math.Pi * i / 600
      (10.29301152092468 + 0.8 * math.cos(a), 61.6784192527327 + 0.8 * math.sin(a))
    })
    new PolygonG(Ring.of(xs, ext.ys.clone()), Array(hole))
  }

  /** `n` signedDistance probes of `p`, uniform over Norway's bbox widened
    * by 5 % on each side.
    */
  def uniformProbes(p: PolygonG, n: Int, seed: Long, into: Hash): Unit = {
    val ext = Fixtures.norway.exterior
    val minX = ext.xs.min; val maxX = ext.xs.max
    val minY = ext.ys.min; val maxY = ext.ys.max
    val rnd = new scala.util.Random(seed)
    var i = 0
    while (i < n) {
      val px = minX + (rnd.nextDouble() * 1.1 - 0.05) * (maxX - minX)
      val py = minY + (rnd.nextDouble() * 1.1 - 0.05) * (maxY - minY)
      into.add(ExprHelpers.signedDist(px, py, p))
      i += 1
    }
  }

  def hash(): String = {
    val corpus = (0L until nSynthetic.toLong).map(id => (synthetic(1L, id), 0.01)) ++
      Fixtures.all.map { case (_, p, t) => (p, t) }
    val labels = new Hash
    corpus.foreach { case (p, t) => label(p, t, labels) }
    val probes = new Hash
    for ((p, _) <- corpus) {
      for (r <- p.rings; i <- r.xs.indices) {
        probes.add(ExprHelpers.signedDist(r.xs(i), r.ys(i), p))
        probes.add(ExprHelpers.signedDist(r.xs(i), r.ys(i) + 1e-9, p))
      }
    }
    uniformProbes(Fixtures.norway, 200000, 42L, probes)
    uniformProbes(norwayNanHole, 50000, 43L, probes)
    s"""{"labels": ${labels.n}, "label_hash": "${labels.hex}", """ +
      s""""probes": ${probes.n}, "probe_hash": "${probes.hex}"}"""
  }

  /** 2,000 axis-aligned rectangles with `image_pipeline`'s tile-footprint
    * tolerance, a 64th of the shorter side.
    */
  def rects: Seq[(PolygonG, Double)] = {
    val rnd = new scala.util.Random(7L)
    Seq.fill(2000) {
      val (x0, y0) = (rnd.nextDouble() * 100.0, rnd.nextDouble() * 50.0)
      val (w, h) = (0.01 + rnd.nextDouble() * 0.05, 0.01 + rnd.nextDouble() * 0.05)
      (PolygonG(Seq((x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0))), math.min(w, h) / 64.0)
    }
  }

  /** The 1,430 tile footprints of `image_pipeline`'s 160 images, cut as
    * `Tiling.tile` cuts them, as the rings `Tiling.assign` labels, with
    * its tolerance, a 64th of the shorter side. Aspect ratios reach 9.4,
    * against at most 6 in `rects`.
    */
  def tiles: Seq[(PolygonG, Double)] = (0L until 160L).flatMap { id =>
    val (fx0, fy0, fx1, fy1) = Images.footprint(id)
    val nx = Images.widthOf(id) / Tiling.TileSize
    val ny = Images.heightOf(id) / Tiling.TileSize
    val stepX = (fx1 - fx0) / nx
    val stepY = (fy1 - fy0) / ny
    for (ty <- 0 until ny; tx <- 0 until nx) yield {
      val (x0, y0) = (fx0 + tx * stepX, fy1 - (ty + 1) * stepY)
      val (x1, y1) = (fx0 + (tx + 1) * stepX, fy1 - ty * stepY)
      (PolygonG(Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))), math.min(x1 - x0, y1 - y0) / 64.0)
    }
  }

  /** Each ring of `p` as fresh raw coordinate arrays, closed. */
  def raw(p: PolygonG): Array[(Array[Double], Array[Double])] = p.rings.map(r => (r.xs.clone(), r.ys.clone()))

  /** The polygon of `rings`, built as a decoder builds it. */
  def build(rings: Array[(Array[Double], Array[Double])]): PolygonG =
    new PolygonG(Ring.of(rings(0)._1, rings(0)._2), rings.tail.map { case (xs, ys) => Ring.of(xs, ys) })

  def time(): String = {
    val groups = vertexCycle.map { nv =>
      nv.toString -> (0L until nSynthetic.toLong).filter(id => vertexCycle((id % vertexCycle.size).toInt) == nv)
        .map(synthetic(1L, _)).map((_, 0.01))
    } ++ Seq("rect" -> rects, "tiles" -> tiles, "norway" -> Seq.fill(20)((Fixtures.norway, 1.0)))
    val rawGroups = groups.map { case (name, ps) => s"$name+build" -> ps.map { case (p, t) => (raw(p), t) } }
    val sink = new Hash
    def perCall[T](name: String, ps: Seq[(T, Double)])(call: (T, Double) => Unit) = {
      val t0 = System.nanoTime()
      ps.foreach { case (p, t) => call(p, t) }
      name -> (System.nanoTime() - t0) / 1e3 / ps.size
    }
    val perPass = (0 until 7).map { _ =>
      groups.map { case (name, ps) => perCall(name, ps)(label(_, _, sink)) } ++
        rawGroups.map { case (name, rs) => perCall(name, rs)((r, t) => label(build(r), t, sink)) }
    }.drop(2)
    val medians = (groups.map(_._1) ++ rawGroups.map(_._1)).map { name =>
      val xs = perPass.map(_.toMap.apply(name)).sorted
      f""""$name": ${xs(xs.size / 2)}%.3f"""
    }
    medians.mkString("{", ", ", s""", "sink": "${sink.hex}"}""")
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("hash") => println(hash())
    case Some("time") => println(time())
    case _ =>
      System.err.println("usage: KernelAb hash|time")
      sys.exit(2)
  }
}
