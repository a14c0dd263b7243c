package graft.geom

import org.locationtech.jts.geom.{Coordinate, GeometryFactory, LinearRing, Polygon}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.scalatest.funsuite.AnyFunSuite

/** `Polylabel.signedDistance` against JTS, an independent geometry
  * implementation: away from the outline its sign is JTS `covers`, and its
  * magnitude is the JTS distance to the polygon boundary.
  */
class JtsDifferentialSpec extends AnyFunSuite {
  private val gf = new GeometryFactory()

  private def jtsRing(r: Ring): LinearRing =
    gf.createLinearRing(Array.tabulate(r.nVertices)(i => new Coordinate(r.xs(i), r.ys(i))))

  private def jts(p: PolygonG): Polygon =
    gf.createPolygon(jtsRing(p.exterior), p.holes.map(jtsRing))

  /** Checks every probe; returns how many were far enough from the outline
    * for the sign check.
    */
  private def compare(label: String, poly: PolygonG, probes: Seq[(Double, Double)]): Int = {
    val j = jts(poly)
    val boundary = j.getBoundary
    val covers = PreparedGeometryFactory.prepare(j)
    var signed = 0
    for ((x, y) <- probes) {
      val sd = Polylabel.signedDistance(x, y, poly)
      val pt = gf.createPoint(new Coordinate(x, y))
      val dj = boundary.distance(pt)
      assert(math.abs(math.abs(sd) - dj) <= 1e-12 * dj,
        s"$label: |signedDistance| ${math.abs(sd)} vs JTS distance $dj at ($x, $y)")
      if (dj > 1e-9) {
        signed += 1
        assert((sd > 0.0) == covers.covers(pt),
          s"$label: signedDistance $sd vs JTS covers ${covers.covers(pt)} at ($x, $y)")
      }
    }
    signed
  }

  /** Uniform probes over the bbox grown by 10 %, plus probes jittered
    * around sampled vertices (near the outline, on both sides).
    */
  private def probes(poly: PolygonG, rnd: scala.util.Random, uniform: Int,
                     perRing: Int, jitter: Double): Seq[(Double, Double)] = {
    val bb = Geom.boundingRect(poly.exterior)
    val u = Seq.fill(uniform)((bb.minX - 0.1 * bb.width + rnd.nextDouble() * 1.2 * bb.width,
      bb.minY - 0.1 * bb.height + rnd.nextDouble() * 1.2 * bb.height))
    val near = poly.rings.toSeq.flatMap { r =>
      Seq.fill(perRing) {
        val i = rnd.nextInt(r.nEdges)
        (r.xs(i) + (rnd.nextDouble() * 2.0 - 1.0) * jitter,
          r.ys(i) + (rnd.nextDouble() * 2.0 - 1.0) * jitter)
      }
    }
    u ++ near
  }

  test("Norway: sign == JTS covers, |signedDistance| == JTS boundary distance") {
    val rnd = new scala.util.Random(0x5EED)
    val signed = compare("norway", Fixtures.norway,
      probes(Fixtures.norway, rnd, uniform = 400, perRing = 200, jitter = 1e-3))
    assert(signed > 550)
  }

  test("seeded polygons with holes: sign == JTS covers, distance == JTS") {
    for (seed <- 1 to 30) {
      val rnd = new scala.util.Random(seed)
      val scale = math.pow(10.0, -1.0 + rnd.nextDouble() * 4.0)
      val ox = (rnd.nextDouble() * 2.0 - 1.0) * 1e3
      val oy = (rnd.nextDouble() * 2.0 - 1.0) * 1e3
      def star(n: Int, cx: Double, cy: Double, r: Double): Seq[(Double, Double)] =
        Seq.tabulate(n) { i =>
          val a = 2.0 * math.Pi * i / n
          val ri = r * (0.5 + 0.5 * rnd.nextDouble())
          (ox + scale * (cx + ri * math.cos(a)), oy + scale * (cy + ri * math.sin(a)))
        }
      // holes lie in the disc of radius 0.4 that the exterior (radius
      // >= 0.5) always contains, and apart from each other
      val holes = Seq.tabulate(1 + rnd.nextInt(3)) { j =>
        star(3 + rnd.nextInt(200), 0.2 * (j - 1), 0.0, 0.08).reverse
      }
      val poly = PolygonG(star(6 + rnd.nextInt(2000), 0.0, 0.0, 1.0), holes)
      val signed = compare(s"seed $seed (scale $scale, offset ($ox, $oy))", poly,
        probes(poly, rnd, uniform = 150, perRing = 40, jitter = 1e-3 * scale))
      assert(signed > 100, s"seed $seed")
    }
  }
}
