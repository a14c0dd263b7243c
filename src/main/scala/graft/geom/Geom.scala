package graft.geom

/** A 2-D point (f64 end-to-end, per the reference FFI contract,
  * /root/reference/src/ffi.rs:65-69).
  */
final case class Pt(x: Double, y: Double)

/** Axis-aligned rectangle (reference `Rect`, /root/reference/src/lib.rs:136-161). */
final case class Rect2(minX: Double, minY: Double, maxX: Double, maxY: Double) {
  def width: Double = maxX - minX
  def height: Double = maxY - minY
  /** Center, `(min + max) / 2` per geo's `Rect::center`. */
  def centerX: Double = (maxX + minX) / 2.0
  def centerY: Double = (maxY + minY) / 2.0
}

/** A closed linear ring, indexed for the distance scan. `xs`/`ys` always
  * carry the duplicated closing vertex (the constructor appends it when
  * absent, mirroring geo's `Polygon::new` ring closing). Edge `i` runs from
  * vertex `i` to `i+1`.
  *
  * The index groups the edges into fixed-size blocks, one bounding box per
  * block, so `Polylabel.signedDistance` can pick the block nearest a probe,
  * skip whole blocks in O(1) when they cannot hold a nearer edge, and take
  * the parity of a block lying wholly right of the probe from its two chain
  * endpoints. The 32-edge blocks re-derive the reference's prepared-polygon
  * structure (reference src/lib.rs:89-161); every ring is built with them,
  * once, so every consumer of a decoded polygon reads the same index.
  *
  * Block `b` holds edges `b*BlockSize until min((b+1)*BlockSize, nEdges)`;
  * its bbox spans their endpoints, vertices `start..end` inclusive. A block
  * holding a NaN coordinate gets an all-NaN bbox (a NaN vertex would
  * otherwise be invisible to the min/max), so every bound test on it is
  * false and the scan always visits its edges one by one.
  *
  * The second level is not the reference's: superblock `s` groups blocks
  * `s*SuperSize until min((s+1)*SuperSize, nBlocks)` under one bbox, the
  * union of theirs, all-NaN when any of them is, so the scan can skip or
  * settle the parity of `SuperSize * BlockSize` edges with one box test.
  * A ring of one superblock (at most `SuperSize * BlockSize` edges) keeps
  * no superblock bbox, and the scan never tests one for it.
  */
final class Ring private (val xs: Array[Double], val ys: Array[Double]) {
  import Polylabel.{BlockSize, SuperSize}
  def nVertices: Int = xs.length
  val nEdges: Int = math.max(xs.length - 1, 0)
  // NOTE: precomputing per-edge deltas/lengths was measured 2.3x SLOWER
  // than recomputing them in the scan — the probe loop is memory-bound and
  // three extra arrays (212 KB for Norway) evict the vertex data from L2
  val nBlocks: Int = if (nEdges == 0) 0 else (nEdges + BlockSize - 1) / BlockSize
  val bMinX: Array[Double] = Ring.boxes(nBlocks)
  val bMinY: Array[Double] = Ring.boxes(nBlocks)
  val bMaxX: Array[Double] = Ring.boxes(nBlocks)
  val bMaxY: Array[Double] = Ring.boxes(nBlocks)
  val nSupers: Int = (nBlocks + SuperSize - 1) / SuperSize
  private def superBoxes = if (nSupers > 1) nSupers else 0
  val sMinX: Array[Double] = Ring.boxes(superBoxes)
  val sMinY: Array[Double] = Ring.boxes(superBoxes)
  val sMaxX: Array[Double] = Ring.boxes(superBoxes)
  val sMaxY: Array[Double] = Ring.boxes(superBoxes)
  fillBoxes()

  // A method, not a constructor block: scalac's `locally` leaves a value
  // on the operand stack, HotSpot cannot OSR-compile a loop entered that
  // way, and the loop ran interpreted until the constructor itself got
  // compiled (Norway's box fill under C1: ~1.0 ms after 190 calls, against
  // ~0.11 ms as a method).
  private def fillBoxes(): Unit = {
    var b = 0
    while (b < nBlocks) {
      val start = b * BlockSize
      val end = math.min(start + BlockSize, nEdges)
      var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
      var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
      var nan = false
      var i = start
      // every edge endpoint, i.e. vertices start..end inclusive
      while (i <= end) {
        val x = xs(i); val y = ys(i)
        if (x < minX) minX = x
        if (x > maxX) maxX = x
        if (y < minY) minY = y
        if (y > maxY) maxY = y
        if (x != x || y != y) nan = true
        i += 1
      }
      if (nan) { minX = Double.NaN; minY = Double.NaN; maxX = Double.NaN; maxY = Double.NaN }
      bMinX(b) = minX; bMinY(b) = minY; bMaxX(b) = maxX; bMaxY(b) = maxY
      b += 1
    }
    var s = 0
    while (s < superBoxes) {
      var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
      var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
      var nan = false
      b = s * SuperSize
      val end = math.min(b + SuperSize, nBlocks)
      while (b < end) {
        if (bMinX(b) < minX) minX = bMinX(b)
        if (bMaxX(b) > maxX) maxX = bMaxX(b)
        if (bMinY(b) < minY) minY = bMinY(b)
        if (bMaxY(b) > maxY) maxY = bMaxY(b)
        if (bMinX(b) != bMinX(b)) nan = true
        b += 1
      }
      if (nan) { minX = Double.NaN; minY = Double.NaN; maxX = Double.NaN; maxY = Double.NaN }
      sMinX(s) = minX; sMinY(s) = minY; sMaxX(s) = maxX; sMaxY(s) = maxY
      s += 1
    }
  }
}

object Ring {
  private val NoBoxes = new Array[Double](0)
  // a ring of one superblock shares one empty array for its four
  private def boxes(n: Int): Array[Double] = if (n == 0) NoBoxes else new Array[Double](n)

  def apply(pts: Iterable[(Double, Double)]): Ring =
    of(pts.map(_._1).toArray, pts.map(_._2).toArray)

  def of(xs0: Array[Double], ys0: Array[Double]): Ring = {
    require(xs0.length == ys0.length, "xs/ys length mismatch")
    if (xs0.isEmpty) new Ring(xs0, ys0)
    else if (xs0.head == xs0.last && ys0.head == ys0.last) new Ring(xs0, ys0)
    else new Ring(xs0 :+ xs0.head, ys0 :+ ys0.head)
  }
}

/** Polygon = exterior ring + interior rings (holes). */
final class PolygonG(val exterior: Ring, val holes: Array[Ring]) {
  /** Exterior first, then holes — the ring iteration order the reference
    * uses in its distance scan (/root/reference/src/lib.rs:116-118).
    */
  val rings: Array[Ring] = exterior +: holes
}

object PolygonG {
  def apply(exterior: Iterable[(Double, Double)],
            holes: Iterable[Iterable[(Double, Double)]] = Nil): PolygonG =
    new PolygonG(Ring(exterior), holes.map(Ring(_)).toArray)
}

/** Closed-form planar geometry re-derived from first principles (shoelace,
  * area-weighted centroid, clamped-projection segment distance). These
  * reproduce the behaviour of the geo-crate functions the reference
  * delegates to (SURVEY.md §2.3) so that fixture outputs match bit-exactly.
  */
object Geom {

  /** Twice the signed area of a ring, shoelace with coordinates shifted by
    * the ring's first vertex for numerical stability.
    */
  def ringTwiceArea(r: Ring): Double = {
    val n = r.nEdges
    if (n <= 0) return 0.0
    val sx = r.xs(0); val sy = r.ys(0)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val ax = r.xs(i) - sx; val ay = r.ys(i) - sy
      val bx = r.xs(i + 1) - sx; val by = r.ys(i + 1) - sy
      acc += ax * by - bx * ay
      i += 1
    }
    acc
  }

  /** Signed area of a ring (CCW positive). */
  def ringSignedArea(r: Ring): Double = ringTwiceArea(r) / 2.0

  /** Signed area of a polygon: sum of per-ring signed areas (holes, wound
    * opposite to the exterior, subtract naturally).
    */
  def signedArea(p: PolygonG): Double = {
    var acc = ringSignedArea(p.exterior)
    var i = 0
    while (i < p.holes.length) { acc += ringSignedArea(p.holes(i)); i += 1 }
    acc
  }

  /** Bounding rectangle of the exterior ring (holes lie inside by
    * definition; the reference's bounding_rect likewise derives the search
    * extent from the outline).
    */
  def boundingRect(r: Ring): Rect2 = {
    var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
    var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
    var i = 0
    while (i < r.xs.length) {
      val x = r.xs(i); val y = r.ys(i)
      if (x < minX) minX = x
      if (x > maxX) maxX = x
      if (y < minY) minY = y
      if (y > maxY) maxY = y
      i += 1
    }
    Rect2(minX, minY, maxX, maxY)
  }

  /** Area-weighted polygon centroid (exterior minus holes), accumulated
    * with a common shift (the exterior's first vertex) for stability.
    * Returns None for zero-area polygons.
    */
  def centroid(p: PolygonG): Option[Pt] = {
    val ext = p.exterior
    if (ext.nEdges <= 0) return None
    val sx = ext.xs(0); val sy = ext.ys(0)
    var twiceA = 0.0
    var accX = 0.0
    var accY = 0.0
    val rs = p.rings
    var ri = 0
    while (ri < rs.length) {
      val r = rs(ri)
      val n = r.nEdges
      var i = 0
      while (i < n) {
        val ax = r.xs(i) - sx; val ay = r.ys(i) - sy
        val bx = r.xs(i + 1) - sx; val by = r.ys(i + 1) - sy
        val cross = ax * by - bx * ay
        twiceA += cross
        accX += (ax + bx) * cross
        accY += (ay + by) * cross
        i += 1
      }
      ri += 1
    }
    if (twiceA == 0.0) None
    else Some(Pt(sx + accX / (3.0 * twiceA), sy + accY / (3.0 * twiceA)))
  }

  /** Distance from point (px,py) to segment (ax,ay)-(bx,by): clamped
    * projection, with the perpendicular branch computed as
    * |cross| / |d|  (normalised cross product), matching the reference's
    * delegated per-segment distance arithmetic exactly.
    */
  def segmentDistance(px: Double, py: Double,
                      ax: Double, ay: Double,
                      bx: Double, by: Double): Double = {
    if (ax == bx && ay == by) {
      val dx = ax - px; val dy = ay - py
      return math.sqrt(dx * dx + dy * dy)
    }
    val dx = bx - ax
    val dy = by - ay
    val d2 = dx * dx + dy * dy
    val dot = (px - ax) * dx + (py - ay) * dy
    // branch on dot <= 0 / dot >= d2 rather than fl(dot/d2) <= 0 / >= 1:
    // the same classification except when the quotient ROUNDS exactly
    // onto the 0/1 boundary (where both formulas return distances within
    // one ulp anyway), and — critically — the IDENTICAL tests the fused
    // kernel scan uses (Polylabel.signedDistance), so the two surfaces
    // agree bit-for-bit on every input (property-checked in PolylabelSpec)
    if (dot <= 0.0) {
      val ex = ax - px; val ey = ay - py
      math.sqrt(ex * ex + ey * ey)
    } else if (dot >= d2) {
      val ex = bx - px; val ey = by - py
      math.sqrt(ex * ex + ey * ey)
    } else {
      val s = ((ay - py) * dx - (ax - px) * dy) / d2
      math.abs(s) * math.sqrt(d2)
    }
  }

  /** Even-odd ray-cast point-in-polygon over all rings (a point inside a
    * hole gets odd-parity flipped back to outside), edge by edge: the
    * per-edge reference for tests and oracles. The engine tests points by
    * the sign bit of [[Polylabel.signedDistance]], which equals this bit
    * for bit and skips blocks through the ring index.
    */
  def pointInPolygon(px: Double, py: Double, p: PolygonG): Boolean = {
    var inside = false
    val rs = p.rings
    var ri = 0
    while (ri < rs.length) {
      val r = rs(ri)
      val n = r.nEdges
      var i = 0
      while (i < n) {
        val ax = r.xs(i); val ay = r.ys(i)
        val bx = r.xs(i + 1); val by = r.ys(i + 1)
        if (((ay > py) != (by > py)) &&
            (px < (bx - ax) * (py - ay) / (by - ay) + ax)) {
          inside = !inside
        }
        i += 1
      }
      ri += 1
    }
    inside
  }
}
