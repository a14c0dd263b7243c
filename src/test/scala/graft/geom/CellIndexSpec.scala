package graft.geom

import org.scalatest.funsuite.AnyFunSuite

class CellIndexSpec extends AnyFunSuite {
  import CellIndex._

  private val rng = new scala.util.Random(42)
  private def lon() = rng.nextDouble() * 360.0 - 180.0
  private def lat() = rng.nextDouble() * 180.0 - 90.0

  test("spread/compact bits round-trip") {
    for (_ <- 1 to 2000) {
      val v = rng.nextLong() & ((1L << 26) - 1)
      assert(compactBits(spreadBits(v)) === v)
    }
  }

  test("encode/decode round-trip: level, ix, iy") {
    for (_ <- 1 to 2000) {
      val (x, y, lvl) = (lon(), lat(), rng.nextInt(MaxLevel + 1))
      val c = cellOf(x, y, lvl)
      assert(levelOf(c) === lvl)
      assert(ixOfCell(c) === ixOf(x, lvl))
      assert(iyOfCell(c) === iyOf(y, lvl))
    }
  }

  test("point is inside its own cell's rect") {
    for (_ <- 1 to 2000) {
      val (x, y, lvl) = (lon(), lat(), rng.nextInt(21))
      val r = cellRect(cellOf(x, y, lvl))
      assert(x >= r.minX - 1e-9 && x <= r.maxX + 1e-9)
      assert(y >= r.minY - 1e-9 && y <= r.maxY + 1e-9)
    }
  }

  test("parent of a point's cell is the point's cell one level up") {
    for (_ <- 1 to 2000) {
      val (x, y) = (lon(), lat())
      val lvl = 1 + rng.nextInt(MaxLevel)
      assert(parent(cellOf(x, y, lvl)) === cellOf(x, y, lvl - 1))
    }
  }

  test("children of parent include the cell") {
    for (_ <- 1 to 2000) {
      val (x, y) = (lon(), lat())
      val lvl = 1 + rng.nextInt(MaxLevel)
      val c = cellOf(x, y, lvl)
      assert(childrenOf(parent(c)).contains(c))
    }
  }

  test("kRing: symmetric membership, correct size away from boundary") {
    val c = cellOf(0.0, 0.0, 10)
    val ring = kRing(c, 2)
    assert(ring.length === 25)
    assert(ring.contains(c))
    for (other <- ring) assert(kRing(other, 2).contains(c))
  }

  test("kRing clamps at domain boundary") {
    val corner = pack(0, 0, 5)
    assert(kRing(corner, 1).length === 4) // 2x2 instead of 3x3
  }

  test("cover matches brute force on fixtures at several levels") {
    for ((name, poly, _) <- Fixtures.all
         if name != "norway" && Geom.signedArea(poly) != 0.0;
         lvl <- Seq(coverLevelFor(poly, 16), coverLevelFor(poly, 64))) {
      val fast = cover(poly, lvl).toSet
      val brute = bruteCover(poly, lvl)
      assert(fast === brute, s"cover mismatch for $name at level $lvl")
    }
  }

  test("norway cover at its target level is consistent with brute force") {
    val lvl = coverLevelFor(Fixtures.norway, 256)
    val fast = cover(Fixtures.norway, lvl).toSet
    val brute = bruteCover(Fixtures.norway, lvl)
    assert(fast === brute)
    info(s"norway cover level $lvl -> ${fast.size} cells")
  }

  test("every point of the polygon maps to a cover cell (prefilter is a superset)") {
    val poly = Fixtures.ell
    val lvl = coverLevelFor(poly, 16)
    val cov = cover(poly, lvl)
    for (_ <- 1 to 5000) {
      val x = rng.nextDouble() * 4.0
      val y = rng.nextDouble() * 4.0
      if (Geom.pointInPolygon(x, y, poly)) {
        assert(cov.contains(cellOf(x, y, lvl)), s"point ($x,$y) not covered")
      }
    }
  }

  /** O(cells x edges) oracle: every cell in the bbox range whose rect
    * intersects the polygon (corner-in-poly, rect-center-in-poly,
    * poly-vertex-in-rect, or edge-crosses-rect).
    */
  private def bruteCover(poly: PolygonG, level: Int): Set[Long] = {
    val bb = Geom.boundingRect(poly.exterior)
    val x0 = ixOf(bb.minX, level); val x1 = ixOf(bb.maxX, level)
    val y0 = iyOf(bb.minY, level); val y1 = iyOf(bb.maxY, level)
    val out = Set.newBuilder[Long]
    var ix = x0
    while (ix <= x1) {
      var iy = y0
      while (iy <= y1) {
        val c = pack(ix, iy, level)
        if (rectIntersects(cellRect(c), poly)) out += c
        iy += 1
      }
      ix += 1
    }
    out.result()
  }

  private def rectIntersects(r: Rect2, poly: PolygonG): Boolean = {
    val corners = Seq((r.minX, r.minY), (r.maxX, r.minY), (r.maxX, r.maxY), (r.minX, r.maxY))
    if (corners.exists { case (x, y) => Geom.pointInPolygon(x, y, poly) }) return true
    if (Geom.pointInPolygon((r.minX + r.maxX) / 2, (r.minY + r.maxY) / 2, poly)) return true
    poly.rings.exists { ring =>
      (0 until ring.nEdges).exists { i =>
        val ax = ring.xs(i); val ay = ring.ys(i)
        val bx = ring.xs(i + 1); val by = ring.ys(i + 1)
        (ax >= r.minX && ax <= r.maxX && ay >= r.minY && ay <= r.maxY) ||
          segCrossesRect(ax, ay, bx, by, r)
      }
    }
  }

  private def segCrossesRect(ax: Double, ay: Double, bx: Double, by: Double, r: Rect2): Boolean = {
    def d(ox: Double, oy: Double, qx: Double, qy: Double, px: Double, py: Double) =
      (qx - ox) * (py - oy) - (qy - oy) * (px - ox)
    def segSeg(p1x: Double, p1y: Double, p2x: Double, p2y: Double,
               p3x: Double, p3y: Double, p4x: Double, p4y: Double): Boolean = {
      val d1 = d(p3x, p3y, p4x, p4y, p1x, p1y)
      val d2 = d(p3x, p3y, p4x, p4y, p2x, p2y)
      val d3 = d(p1x, p1y, p2x, p2y, p3x, p3y)
      val d4 = d(p1x, p1y, p2x, p2y, p4x, p4y)
      ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) && ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
    }
    segSeg(ax, ay, bx, by, r.minX, r.minY, r.maxX, r.minY) ||
      segSeg(ax, ay, bx, by, r.maxX, r.minY, r.maxX, r.maxY) ||
      segSeg(ax, ay, bx, by, r.maxX, r.maxY, r.minX, r.maxY) ||
      segSeg(ax, ay, bx, by, r.minX, r.maxY, r.minX, r.minY)
  }
}
