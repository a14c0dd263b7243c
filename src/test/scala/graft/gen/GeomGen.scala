package graft.gen

import graft.geom.{CellIndex, Geom, PolygonG, Ring}
import org.scalacheck.Gen

/** A generated polygon and what kind it is, for failure messages. */
final case class GenPoly(kind: String, poly: PolygonG) {
  override def toString: String = {
    val e = poly.exterior
    s"$kind polygon, rings of ${poly.rings.map(_.nVertices).mkString("/")} vertices, " +
      s"exterior from (${e.xs.headOption.getOrElse(Double.NaN)}, ${e.ys.headOption.getOrElse(Double.NaN)})"
  }
}

/** The shared scalacheck generators of geometry inputs: polygons with
  * holes at scales 1e-6 to 1e150, polygons with a NaN vertex, polygons on
  * the cell grid, mega-polygons, and probe points (uniform, clustered, on
  * an edge, on a vertex, on a cell edge).
  */
object GeomGen {

  type Pts = Seq[(Double, Double)]

  /** `n` vertices at evenly spaced angles around (cx, cy), each at a
    * radius drawn from [r0, r1]: a star-shaped ring, counter-clockwise.
    */
  def star(n: Int, cx: Double, cy: Double, r0: Double, r1: Double): Gen[Pts] =
    Gen.listOfN(n, Gen.choose(r0, r1)).map(_.zipWithIndex.map { case (r, i) =>
      val a = 2.0 * math.Pi * i / n
      (cx + r * math.cos(a), cy + r * math.sin(a))
    })

  /** A scale drawn log-uniformly from 1e-6 to 1e150 and an offset of
    * either sign up to a million times the scale (at most 1e150).
    */
  val scaleAndOffset: Gen[(Double, Double)] = for {
    e <- Gen.choose(-6.0, 150.0)
    scale = math.pow(10.0, e)
    top = math.log10(math.min(1e150, scale * 1e6))
    oe <- Gen.choose(-6.0, top)
    sign <- Gen.oneOf(1.0, -1.0)
  } yield (scale, sign * math.pow(10.0, oe))

  /** Hole slots inside the unit star's inner radius 0.6: centres at least
    * 0.3 apart, so holes of radius <= 0.15 never touch each other.
    */
  private val holeSlots = Seq((-0.25, 0.0), (0.25, 0.05), (0.0, -0.3))

  /** A scale of 0.05-5 degrees and a centre inside the cell grid's domain
    * with a margin of 10 degrees, so the placed unit star stays inside it.
    */
  private val inDomain: Gen[(Double, Double, Double)] = for {
    scale <- Gen.choose(0.05, 5.0)
    cx <- Gen.choose(CellIndex.MinX + 10.0, CellIndex.MinX + CellIndex.SpanX - 10.0)
    cy <- Gen.choose(CellIndex.MinY + 10.0, CellIndex.MinY + CellIndex.SpanY - 10.0)
  } yield (scale, cx, cy)

  /** A star exterior of `nExt` vertices (radii 0.6-1) with `nHoles` star
    * holes of 3-300 vertices (radius <= 0.15, clockwise), scaled by and
    * moved to `at`'s (scale, x, y); by default [[scaleAndOffset]], the same
    * offset on both axes.
    */
  private def starWithHoles(nExt: Gen[Int], nHoles: Gen[Int], holeVertices: Gen[Int],
                            at: Gen[(Double, Double, Double)] = scaleAndOffset.map { case (s, o) => (s, o, o) })
      : Gen[(Pts, Seq[Pts])] =
    for {
      n <- nExt
      ext <- star(n, 0.0, 0.0, 0.6, 1.0)
      k <- nHoles
      holes <- Gen.sequence[Seq[Pts], Pts](holeSlots.take(k).map { case (cx, cy) =>
        for { m <- holeVertices; r <- Gen.choose(0.05, 0.15); h <- star(m, cx, cy, 0.5 * r, r) } yield h.reverse
      })
      (scale, ox, oy) <- at
    } yield {
      def place(ring: Pts): Pts = ring.map { case (x, y) => (ox + scale * x, oy + scale * y) }
      (place(ext), holes.map(place))
    }

  /** 3-600-vertex star exteriors; those of 12 or more vertices (whose
    * inner circle holds every hole slot) get 0-3 holes.
    */
  val withHoles: Gen[GenPoly] =
    starWithHoles(Gen.choose(3, 600), Gen.choose(0, 3), Gen.choose(3, 300)).map { case (e, hs) =>
      GenPoly("holes", PolygonG(e, if (e.size >= 12) hs else Nil))
    }

  /** A 12-200-vertex star with 1-3 holes of 3-60 vertices, placed by
    * [[inDomain]]: a polygon with holes that the cell grid indexes.
    */
  val withHolesInDomain: Gen[GenPoly] =
    starWithHoles(Gen.choose(12, 200), Gen.choose(1, 3), Gen.choose(3, 60), inDomain).map { case (e, hs) =>
      GenPoly("holes, in domain", PolygonG(e, hs))
    }

  /** A polygon of [[withHoles]] with one coordinate of one vertex set to
    * NaN.
    */
  val withNaNVertex: Gen[GenPoly] = for {
    GenPoly(_, p) <- withHoles
    ri <- Gen.choose(0, p.rings.length - 1)
    vi <- Gen.choose(0, p.rings(ri).nVertices - 2)
    inX <- Gen.oneOf(true, false)
  } yield {
    val rings = p.rings.map { r =>
      val xs = r.xs.clone(); val ys = r.ys.clone()
      if (r eq p.rings(ri)) { if (inX) xs(vi) = Double.NaN else ys(vi) = Double.NaN }
      // drop the closing vertex, so Ring.of re-closes the ring from vertex 0
      Ring.of(xs.init, ys.init)
    }
    GenPoly(s"NaN-vertex (ring $ri, vertex $vi)", new PolygonG(rings.head, rings.tail))
  }

  /** One mega-polygon: a 5,000-8,000-vertex star with 0-2 holes of
    * 300-1,200 vertices, at a generated scale.
    */
  val mega: Gen[GenPoly] =
    starWithHoles(Gen.choose(5000, 8000), Gen.choose(0, 2), Gen.choose(300, 1200))
      .map { case (e, hs) => GenPoly("mega", PolygonG(e, hs)) }

  /** x of the grid line `ix` at `level`, by the arithmetic of
    * `CellIndex.cellRect`, so the polygon's edges are the cells' edges.
    */
  def gridX(ix: Long, level: Int): Double =
    CellIndex.MinX + ix.toDouble / CellIndex.gridSize(level).toDouble * CellIndex.SpanX
  def gridY(iy: Long, level: Int): Double =
    CellIndex.MinY + iy.toDouble / CellIndex.gridSize(level).toDouble * CellIndex.SpanY

  /** A rectilinear polygon whose every vertex is a cell corner at
    * `level`: a rectangle of 3-12 x 3-12 cells, or an L cut from one, either
    * winding, with an optional rectangular hole one cell clear of the
    * outline. Its edges run along cell edges.
    */
  def gridAligned(level: Int): Gen[GenPoly] = {
    val n = CellIndex.gridSize(level)
    for {
      w <- Gen.choose(3L, 12L); h <- Gen.choose(3L, 12L)
      a <- Gen.choose(1L, n - w - 1); c <- Gen.choose(1L, n - h - 1)
      ell <- Gen.oneOf(true, false)
      w1 <- Gen.choose(1L, w - 1); h1 <- Gen.choose(1L, h - 1)
      ccw <- Gen.oneOf(true, false)
      hole <- Gen.oneOf(true, false)
    } yield {
      def pt(ix: Long, iy: Long) = (gridX(ix, level), gridY(iy, level))
      val outline =
        if (ell) Seq(pt(a, c), pt(a + w, c), pt(a + w, c + h1), pt(a + w1, c + h1), pt(a + w1, c + h), pt(a, c + h))
        else Seq(pt(a, c), pt(a + w, c), pt(a + w, c + h), pt(a, c + h))
      // the hole spans grid lines a+1 .. a+w-1 by c+1 .. top, inside the
      // rectangle's bottom rows, which the L keeps whole
      val top = if (ell) c + h1 - 1 else c + h - 1
      val holes =
        if (hole && top > c + 1) Seq(Seq(pt(a + 1, c + 1), pt(a + 1, top), pt(a + w - 1, top), pt(a + w - 1, c + 1)))
        else Nil
      GenPoly(s"grid-aligned at level $level (${if (ell) "L" else "rectangle"}, ${holes.size} holes)",
        PolygonG(if (ccw) outline else outline.reverse, holes))
    }
  }

  /** A diamond whose four vertices are cell corners at `level`: its edges
    * are diagonals through cell corners.
    */
  def gridDiamond(level: Int): Gen[GenPoly] = {
    val n = CellIndex.gridSize(level)
    for {
      r <- Gen.choose(1L, 6L)
      a <- Gen.choose(r + 1, n - r - 1); c <- Gen.choose(r + 1, n - r - 1)
    } yield {
      def pt(ix: Long, iy: Long) = (gridX(ix, level), gridY(iy, level))
      GenPoly(s"grid diamond at level $level", PolygonG(Seq(pt(a, c - r), pt(a + r, c), pt(a, c + r), pt(a - r, c))))
    }
  }

  /** A probe of `p`: uniform over its bbox grown by 10 %, clustered near a
    * vertex, on an edge (interpolated, so within rounding of it), on a
    * vertex, or on a cell edge at `level` (one coordinate snapped to the
    * grid line at or below it).
    */
  def point(p: PolygonG, level: Int): Gen[(Double, Double)] = {
    val bb = Geom.boundingRect(p.exterior)
    val w = bb.width; val h = bb.height
    val uniform = for {
      u <- Gen.choose(-0.1, 1.1); v <- Gen.choose(-0.1, 1.1)
    } yield (bb.minX + u * w, bb.minY + v * h)
    val vertex = for {
      r <- Gen.oneOf(p.rings.toSeq.filter(_.nVertices > 0))
      i <- Gen.choose(0, r.nVertices - 1)
    } yield (r.xs(i), r.ys(i))
    val clustered = for {
      (x, y) <- vertex
      e <- Gen.choose(-9.0, -2.0)
      dx <- Gen.choose(-1.0, 1.0); dy <- Gen.choose(-1.0, 1.0)
    } yield (x + dx * math.pow(10.0, e) * w, y + dy * math.pow(10.0, e) * h)
    val onEdge = for {
      r <- Gen.oneOf(p.rings.toSeq.filter(_.nEdges > 0))
      i <- Gen.choose(0, r.nEdges - 1)
      t <- Gen.oneOf(Gen.choose(0.0, 1.0), Gen.const(0.5))
    } yield (r.xs(i) + t * (r.xs(i + 1) - r.xs(i)), r.ys(i) + t * (r.ys(i + 1) - r.ys(i)))
    val onCellEdge = for {
      (x, y) <- uniform
      inX <- Gen.oneOf(true, false)
    } yield
      if (inX) (gridX(CellIndex.ixOf(x, level), level), y)
      else (x, gridY(CellIndex.iyOf(y, level), level))
    Gen.frequency(3 -> uniform, 2 -> clustered, 2 -> onEdge, 2 -> vertex, 2 -> onCellEdge)
  }

  /** A polygon and `n` of its probes. */
  def withPoints(polys: Gen[GenPoly], level: Int, n: Int): Gen[(GenPoly, Seq[(Double, Double)])] =
    for { gp <- polys; pts <- Gen.listOfN(n, point(gp.poly, level)) } yield (gp, pts)
}
