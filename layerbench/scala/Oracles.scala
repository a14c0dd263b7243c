package layerbench

import graft.sources.{PolyRow, PtRow}
import org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, Envelope, GeometryFactory, Location, Polygon}

/** Independent reference geometry for the oracles: JTS (point location,
  * distance to the boundary) and plain brute force. Nothing here calls
  * the program's geometry code.
  */
final class JtsPolygon(val id: String, exterior: Seq[(Double, Double)],
                       holes: Seq[Seq[(Double, Double)]]) {
  private def ring(pts: Seq[(Double, Double)]) = {
    val cs = pts.map { case (x, y) => new Coordinate(x, y) }
    val closed = if (cs.head.equals2D(cs.last)) cs else cs :+ cs.head
    JtsPolygon.gf.createLinearRing(closed.toArray)
  }
  val poly: Polygon = JtsPolygon.gf.createPolygon(ring(exterior), holes.map(ring).toArray)
  val env: Envelope = poly.getEnvelopeInternal
  private lazy val locator = new IndexedPointInAreaLocator(poly)
  private lazy val boundary = poly.getBoundary

  /** Strictly inside (boundary points excluded), by JTS point location. */
  def contains(x: Double, y: Double): Boolean =
    env.contains(x, y) && locator.locate(new Coordinate(x, y)) == Location.INTERIOR

  def covers(x: Double, y: Double): Boolean =
    env.contains(x, y) && locator.locate(new Coordinate(x, y)) != Location.EXTERIOR

  /** Distance to the outline, positive inside, negative outside. */
  def signedDistance(x: Double, y: Double): Double = {
    val d = boundary.distance(JtsPolygon.gf.createPoint(new Coordinate(x, y)))
    if (covers(x, y)) d else -d
  }

  /** Maximum signed distance over an n x n grid of cell centres. */
  def gridMax(n: Int): Double = {
    var best = Double.NegativeInfinity
    for (i <- 0 until n; j <- 0 until n) {
      val x = env.getMinX + (i + 0.5) / n * env.getWidth
      val y = env.getMinY + (j + 0.5) / n * env.getHeight
      best = math.max(best, signedDistance(x, y))
    }
    best
  }
}

object JtsPolygon {
  val gf = new GeometryFactory()
  def of(r: PolyRow): JtsPolygon = new JtsPolygon(r.poly_id,
    r.exterior.map(p => (p.x, p.y)), Option(r.holes).getOrElse(Nil).map(_.map(p => (p.x, p.y))))
  def of(id: String, p: graft.geom.PolygonG): JtsPolygon = new JtsPolygon(id,
    p.exterior.xs.indices.map(i => (p.exterior.xs(i), p.exterior.ys(i))),
    p.holes.toSeq.map(h => h.xs.indices.map(i => (h.xs(i), h.ys(i)))))
}

object Oracles {

  /** Cell id of (x, y) at `level`: Morton-interleaved grid coordinates
    * over the lon/lat plane with the level in bits 53+, re-derived from
    * the cell-id layout.
    */
  def cellOf(x: Double, y: Double, level: Int): Long = {
    val n = 1L << level
    def grid(v: Double, min: Double, span: Double): Long =
      math.min(n - 1, math.max(0L, math.floor((v - min) / span * n.toDouble).toLong))
    val ix = grid(x, -180.0, 360.0)
    val iy = grid(y, -90.0, 180.0)
    var m = 0L
    for (b <- 0 until level) {
      m |= ((ix >> b) & 1L) << (2 * b)
      m |= ((iy >> b) & 1L) << (2 * b + 1)
    }
    (level.toLong << 53) | m
  }

  /** Driver-side union-find: every id in `ids` mapped to the smallest id
    * of its connected component under `edges`.
    */
  def components(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(a: Long): Long = {
      var r = a
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = a
      while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(i => i -> find(i)).toMap
  }

  def sample[T](xs: IndexedSeq[T], n: Int, seed: Long): IndexedSeq[T] =
    new scala.util.Random(seed).shuffle(xs.indices.toVector).take(n).sorted.map(xs)

  def polyRow(id: String, p: graft.geom.PolygonG, tol: Double): PolyRow =
    PolyRow(id,
      p.exterior.xs.indices.map(i => PtRow(p.exterior.xs(i), p.exterior.ys(i))),
      p.holes.toSeq.map(h => h.xs.indices.map(i => PtRow(h.xs(i), h.ys(i)))), tol)
}
