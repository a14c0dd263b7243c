package graft.geom

/** Pole-of-inaccessibility label point + its distance to the outline. */
final case class LabelResult(x: Double, y: Double, dist: Double)

/** Binary max-heap of quadtree search nodes (reference `Qcell`,
  * /root/reference/src/lib.rs:27-58: cell centroid, half extent, signed
  * distance of the centroid, and the admissible upper bound
  * `distance + halfExtent * sqrt(2)` — the cell-corner Chebyshev bound),
  * keyed on that upper bound and replicating Rust's
  * `std::collections::BinaryHeap` sift order exactly (push = sift-up;
  * pop = swap-in-last + sift-down-to-bottom + sift-up; extend = append +
  * Floyd-rebuild-or-sift policy). Cells with EQUAL upper bounds therefore
  * pop in the same order as the reference, which pins tie-breaking when
  * two candidate cells have identical distances (observable on the FFI
  * octagon fixture).
  *
  * Storage is an index heap: the heap holds record ids with a parallel
  * key array, and each record's (cx, cy, halfExtent, distance) sits in a
  * strided pool whose slots are reused after their record pops. A sift
  * step moves one int and one double and compares keys in place; no
  * per-cell allocation. The comparisons are those of a heap of whole
  * records, so the pop order is the same.
  */
private[graft] final class CellHeap(initialCapacity: Int = 64) {
  private final val S = 4 // pool doubles per record: cx, cy, halfExtent, distance
  private var ids = new Array[Int](math.max(initialCapacity, 8))
  private var keys = new Array[Double](ids.length)
  private var n = 0
  private var pool = new Array[Double](ids.length * S)
  // ids of popped records, ready for reuse; `used` slots were ever handed out
  private var free = new Array[Int](ids.length)
  private var nFree = 0
  private var used = 0

  def size: Int = n
  def nonEmpty: Boolean = n > 0

  // popped cell fields (read after pop())
  var cx = 0.0; var cy = 0.0; var halfExtent = 0.0
  var distance = 0.0; var maxDistance = 0.0

  /** Room for `more` further records, in the heap and in the pool. */
  private def ensure(more: Int): Unit = {
    if (n + more > ids.length) {
      var c = ids.length
      while (c < n + more) c *= 2
      ids = java.util.Arrays.copyOf(ids, c)
      keys = java.util.Arrays.copyOf(keys, c)
    }
    if ((used + more) * S > pool.length) {
      var c = pool.length / S
      while (c < used + more) c *= 2
      pool = java.util.Arrays.copyOf(pool, c * S)
      free = java.util.Arrays.copyOf(free, c)
    }
  }

  @inline private def move(from: Int, to: Int): Unit = {
    ids(to) = ids(from); keys(to) = keys(from)
  }

  // each sift lifts the record at pos0 out as the "hole element" (id, key)
  // and writes it back where the hole stops
  private def siftUp(start: Int, pos0: Int): Unit = {
    var pos = pos0
    val id = ids(pos); val key = keys(pos)
    var done = false
    while (!done && pos > start) {
      val parent = (pos - 1) / 2
      if (key <= keys(parent)) done = true
      else { move(parent, pos); pos = parent }
    }
    ids(pos) = id; keys(pos) = key
  }

  def pop(): Unit = {
    n -= 1
    val id = ids(0)
    val b = id * S
    cx = pool(b); cy = pool(b + 1); halfExtent = pool(b + 2)
    distance = pool(b + 3); maxDistance = keys(0)
    free(nFree) = id
    nFree += 1
    if (n > 0) {
      move(n, 0)
      siftDownToBottom(0)
    }
  }

  private def siftDownToBottom(pos0: Int): Unit = {
    val end = n
    val start = pos0
    var pos = pos0
    val id = ids(pos); val key = keys(pos)
    var child = 2 * pos + 1
    while (child <= end - 2) {
      if (keys(child) <= keys(child + 1)) child += 1
      move(child, pos)
      pos = child
      child = 2 * pos + 1
    }
    if (child == end - 1) {
      move(child, pos)
      pos = child
    }
    ids(pos) = id; keys(pos) = key
    siftUp(start, pos)
  }

  /** Classic sift-down over pos0..n: promote the larger child (right wins
    * ties) while it beats the sifted element.
    */
  private def siftDownRange(pos0: Int): Unit = {
    val end = n
    var pos = pos0
    val id = ids(pos); val key = keys(pos)
    var child = 2 * pos + 1
    var done = false
    while (!done && child <= end - 2) {
      if (keys(child) <= keys(child + 1)) child += 1
      if (key >= keys(child)) done = true
      else { move(child, pos); pos = child; child = 2 * pos + 1 }
    }
    if (!done && child == end - 1 && key < keys(child)) {
      move(child, pos)
      pos = child
    }
    ids(pos) = id; keys(pos) = key
  }

  /** Floyd heapify of the whole array. */
  private def rebuild(): Unit = {
    var i = n / 2
    while (i > 0) { i -= 1; siftDownRange(i) }
  }

  /** Begin appending `count` records for extend; call `append` exactly
    * `count` times, then `finishExtend(count)`.
    */
  def beginExtend(count: Int): Unit = ensure(count)

  @inline def append(x: Double, y: Double, he: Double, d: Double, maxD: Double): Unit = {
    val id =
      if (nFree > 0) { nFree -= 1; free(nFree) }
      else { used += 1; used - 1 }
    val b = id * S
    pool(b) = x; pool(b + 1) = y; pool(b + 2) = he; pool(b + 3) = d
    ids(n) = id; keys(n) = maxD
    n += 1
  }

  /** Restore the heap property after `count` appended records, with the
    * batch-vs-size policy Rust's `BinaryHeap::extend` uses (full Floyd
    * rebuild when the batch rivals the existing heap — the reference's
    * 40-byte element gives the 2048/40 = 51 small-heap hybrid threshold).
    */
  def finishExtend(count: Int): Unit = {
    val start = n - count
    val betterToRebuild =
      if (start < count) true
      else if (n <= 51) count > n / 2
      else count > n / 4
    if (betterToRebuild) rebuild()
    else {
      var i = start
      while (i < n) { siftUp(0, i); i += 1 }
    }
  }
}

/** Re-derivation of the polylabel pole-of-inaccessibility algorithm
  * (branch-and-bound quadtree search over a max-priority queue ordered by
  * the Chebyshev-corner upper bound), matching the reference
  * (/root/reference/src/lib.rs:336-398) f64-exactly on its fixture tests.
  *
  * Pure, allocation-light, per-row compute: no Spark types in here — the
  * Catalyst expression layer (graft.functions) adapts columns to this.
  */
object Polylabel {

  /** Edges per skip-block (reference BLOCK_SIZE, src/lib.rs:90). */
  final val BlockSize = 32

  /** Blocks per superblock, the second bbox level of [[Ring]]
    * (ours, not the reference's): 8 blocks = 256 edges. Counted inside
    * `polylabel` on seed-1 `label_skewed` polygons, box tests per
    * `signedDistance` probe (edge-scanned blocks per probe), one level
    * against superblocks of 4 / 8 / 16 blocks: Norway (277 blocks) 554
    * (1.54) against 150 (2.32) / 89 (2.35) / 70 (1.75); the 512-vertex
    * stars (16 blocks) 32 against 19.6 / 22.1 / 32. Per call under C1
    * (medians of 5 alternating JVMs, 4-core box): Norway 0.77 ms against
    * 0.34 / 0.30 / 0.30 ms, the 512-vertex stars 129 us against 88 / 87 /
    * 118 us. 16 gives Norway nothing more and merges the stars' two
    * superblocks into one; 4 tests twice the superblocks.
    */
  final val SuperSize = 8

  private val Sqrt2 = math.sqrt(2.0)

  /** Relative guard of the endpoint-parity shortcut in [[signedDistance]]
    * (derivation there). The worst-case error it must cover is ~3.1u with
    * u = 2^-53, i.e. ~2^-51.4; 1e-12 leaves a factor of ~2,900 for the
    * rounding of the guard itself.
    */
  private[geom] final val ParityEps = 1e-12

  /** Whether every edge of a chain whose vertices all lie in the box
    * (minX, minY, maxX, maxY) that straddles `py` passes the per-edge
    * crossing test at `px`, so the chain's parity is the XOR of its two end
    * vertices' `y > py` (the guard derived in [[signedDistance]]). False on
    * a NaN or infinite box.
    */
  private def whollyRight(px: Double, py: Double, minX: Double, minY: Double,
                          maxX: Double, maxY: Double): Boolean = {
    val w = maxX - minX
    w * (maxY - minY) < Double.PositiveInfinity &&
      px < minX - (ParityEps * (math.abs(minX) + math.abs(maxX) + w) +
        4.0 * java.lang.Double.MIN_NORMAL / math.min(math.abs(py), 1.0))
  }

  /** The edges `start until end` of a ring's vertex arrays, on top of a
    * minimum distance so far: the new minimum over their distances when
    * `nearer`, the old one otherwise, negated (sign bit set, so -0.0 for 0)
    * when `parity` and an odd number of them flip the ray-cast parity.
    * Distances are >= +0, so the sign bit carries nothing else.
    */
  private def scanEdges(xs: Array[Double], ys: Array[Double], start: Int, end: Int,
                        px: Double, py: Double, minDistance0: Double,
                        parity: Boolean, nearer: Boolean): Double = {
    var inside = false
    var minDistance = minDistance0
    // fl(minDistance * minDistance), maintained alongside. The edge scan
    // works on SQUARED distances and takes the (expensive, serial-port)
    // sqrt/div only for edges that can still beat the minimum: IEEE-754
    // sqrt is monotone and sqrt(fl(m*m)) == m exactly, so an edge with
    // squared distance >= minSq can never produce d < minDistance — the
    // per-edge result (and hence the final value) is BIT-IDENTICAL to
    // calling Geom.segmentDistance on every edge, ~nEdges sqrt+div ops
    // cheaper per probe.
    var minSq = minDistance * minDistance
    var i = start
    while (i < end) {
      val ax = xs(i); val ay = ys(i)
      val bx = xs(i + 1); val by = ys(i + 1)
      if (parity &&
          ((ay > py) != (by > py)) &&
          (px < (bx - ax) * (py - ay) / (by - ay) + ax)) {
        inside = !inside
      }
      if (nearer) {
        // Geom.segmentDistance inlined with squared-distance gating;
        // every arithmetic expression that can win keeps its exact
        // original shape (same ops, same order)
        // ux/uy = px-ax / py-ay reused across dot, cross, and the
        // endpoint-a norm: IEEE negation and sign-symmetric multiply
        // keep every reused expression bit-equal to the originals
        val ex = bx - ax; val ey = by - ay
        val ux = px - ax; val uy = py - ay
        if (ex == 0.0 && ey == 0.0) {
          val q = ux * ux + uy * uy
          if (q < minSq) {
            val d = math.sqrt(q)
            if (d < minDistance) { minDistance = d; minSq = d * d }
          }
        } else {
          val d2 = ex * ex + ey * ey
          val dot = ux * ex + uy * ey
          // branch tests dot<=0 / dot>=d2 — the SAME classification
          // Geom.segmentDistance uses, so kernel and per-edge
          // surfaces agree bit-for-bit (property-checked); avoiding
          // the division here is the measured round-2 kernel win
          if (dot <= 0.0) {
            val q = ux * ux + uy * uy
            if (q < minSq) {
              val d = math.sqrt(q)
              if (d < minDistance) { minDistance = d; minSq = d * d }
            }
          } else if (dot >= d2) {
            val vx = bx - px; val vy = by - py
            val q = vx * vx + vy * vy
            if (q < minSq) {
              val d = math.sqrt(q)
              if (d < minDistance) { minDistance = d; minSq = d * d }
            }
          } else {
            // == fl((ay-py)*ex) - fl((ax-px)*ey) by sign symmetry
            val cross = ux * ey - uy * ex
            // (|cross|/d2*sqrt(d2))^2 == cross^2/d2 up to a few ulp;
            // the 1e-9 relative slack over-admits candidates, never
            // rejects a true winner. cross^2 can overflow to +Inf
            // for ~1e160-scale coordinates while cross/d2 is still
            // finite — an overflowed gate must ADMIT (compute the
            // exact distance), not skip the edge.
            val cc = cross * cross
            if (cc < minSq * d2 * 1.000000001 || cc == Double.PositiveInfinity) {
              val s = cross / d2
              val d = math.abs(s) * math.sqrt(d2)
              if (d < minDistance) { minDistance = d; minSq = d * d }
            }
          }
        }
      }
      i += 1
    }
    if (inside) -minDistance else minDistance
  }

  /** Signed distance from (px,py) to the polygon outline: positive inside,
    * negative outside. One pass over all rings accumulates both the even-odd
    * ray-cast parity and the minimum point-to-edge distance, reading the
    * block index every [[Ring]] carries.
    * Arithmetic mirrors /root/reference/src/lib.rs:163-233 for f64 parity.
    *
    * The sign bit is the even-odd parity, exactly: clear inside, set
    * outside (-0.0 for an outside point on the outline). So
    * `doubleToRawLongBits(signedDistance(x, y, poly)) >= 0` is the engine's
    * one point-in-polygon test (`pip`, the cover's gap fill, `rasterize`),
    * equal to [[Geom.pointInPolygon]] on every input.
    *
    * Visit order. When the polygon has more than one block, one pass first
    * picks the seed: the first box, in ring order, with the smallest
    * point-to-bbox squared lower bound, among the superblocks of
    * multi-superblock rings and the blocks of one-superblock rings. A seed
    * superblock is then narrowed to its nearest block. The scan visits
    * every superblock once in ring order (exterior, then holes), starting
    * at the seed's and wrapping around; the seed superblock's blocks are
    * visited from the seed block on, wrapping within it. The seed sets a
    * near-final minimum at once, so almost every later superblock or block
    * fails the bound and is skipped. A single-block polygon's edges are
    * scanned at once, and a ring of one superblock goes straight to its
    * blocks.
    *
    * Per superblock of a multi-superblock ring, then per block, in that
    * order:
    *  - distance: the box's edges can hold a nearer edge only while the
    *    point-to-bbox squared distance is below `minSq`;
    *  - parity: edges can flip parity only if the bbox straddles the ray
    *    (`minY <= py < maxY`) and reaches right of `px`;
    *  - endpoint parity: a straddling box lying wholly right of `px` by
    *    the guard below flips `inside` iff `(ys(start) > py) != (ys(end) > py)`
    *    for its chain's first and last vertices, the telescoped XOR of its
    *    per-edge half-open tests.
    * A superblock that fails the distance bound and cannot flip parity or
    * settled it by its endpoints is skipped whole. Otherwise its blocks
    * take the per-block steps, with parity already done when the
    * superblock settled it, so each edge's flip is counted exactly once:
    * by its superblock, by its block, or by the edge test.
    *
    * Why the shortcut is exact. Edge i flips parity iff its half-open test
    * holds and `px < xc`, xc = fl(fl(fl(fl(bx-ax)*fl(py-ay))/fl(by-ay)) + ax).
    * So it suffices that every crossing edge of the chain has xc > px. With
    * ex = fl(bx-ax): if ex >= 0 the quotient is >= 0 (rounding is
    * monotone and `py-ay`, `by-ay` share a sign), so xc >= ax >= minX. If
    * ex < 0, |fl(py-ay)| <= |fl(by-ay)| bounds the quotient by |ex|(1+u)^2,
    * so xc >= minX - 3.01u(W + M), W = maxX - minX, M = max |box x|.
    * The guard is therefore
    * {{{
    *   px < minX - (ParityEps * (|minX| + |maxX| + W) + 2^-1020 / min(|py|, 1))
    *   and W * (maxY - minY) < +Inf
    * }}}
    * The second term covers an underflowing product fl(bx-ax)*fl(py-ay):
    * its absolute error 2^-1075, divided by |by-ay| >= 2^-53 |py|, stays
    * below 2^-1022 / |py|. The finite-area test rules out overflow, since
    * |fl(bx-ax)| <= W and |fl(py-ay)| <= |fl(by-ay)| <= maxY - minY.
    * The derivation uses only the box's W, M and y-extent, so it holds for
    * any contiguous chain whose vertices lie in the box: a block's 32 edges
    * or a superblock's 256. The comparison is false on NaN or infinite
    * boxes (and for py = 0), so those fall through to the next level down.
    *
    * Why the result is bit-identical to calling Geom.segmentDistance and
    * Geom.pointInPolygon edge by edge. The distance is the minimum over
    * each edge's exact per-edge value, and every gate below (the superblock
    * and block bounds, the squared-distance gate) admits every edge that
    * could still lower the current minimum, so the order of visits cannot
    * change it. A superblock's box contains its blocks' boxes and rounding
    * is monotone, so its bound never exceeds theirs. Parity is an XOR of
    * per-edge flips, so it cannot change either.
    */
  def signedDistance(px: Double, py: Double, poly: PolygonG): Double = {
    val rings = poly.rings
    // a lone block: no bound can skip it, so its edges are scanned at once
    // (scanEdges' sign bit is set inside, the opposite of this result's)
    if (rings.length == 1 && rings(0).nBlocks == 1) {
      val r = rings(0)
      return -scanEdges(r.xs, r.ys, 0, r.nEdges, px, py, Double.PositiveInfinity, true, true)
    }
    var inside = false
    var minDistance = Double.PositiveInfinity
    // fl(minDistance * minDistance), the bound the boxes are tested against
    var minSq = Double.PositiveInfinity

    // the seed block and the superblock count; a lone empty ring needs no
    // seed pass. seedSuper >= 0 while the nearest box is a superblock, not
    // yet narrowed to a block
    var seedRing = 0; var seedBlock = 0
    var left = if (rings.length == 1) rings(0).nBlocks else 0
    if (rings.length > 1 || left > 1) {
      left = 0
      var best = Double.PositiveInfinity
      var seedSuper = -1
      var ri = 0
      while (ri < rings.length) {
        val r = rings(ri)
        if (r.nSupers > 1) {
          var sb = 0
          while (sb < r.nSupers) {
            val sminX = r.sMinX(sb); val sminY = r.sMinY(sb)
            val smaxX = r.sMaxX(sb); val smaxY = r.sMaxY(sb)
            val dx = if (px < sminX) sminX - px else if (px > smaxX) px - smaxX else 0.0
            val dy = if (py < sminY) sminY - py else if (py > smaxY) py - smaxY else 0.0
            val lb = dx * dx + dy * dy
            if (lb < best) { best = lb; seedRing = ri; seedSuper = sb }
            sb += 1
          }
        } else {
          var b = 0
          while (b < r.nBlocks) {
            val bminX = r.bMinX(b); val bminY = r.bMinY(b)
            val bmaxX = r.bMaxX(b); val bmaxY = r.bMaxY(b)
            val dx = if (px < bminX) bminX - px else if (px > bmaxX) px - bmaxX else 0.0
            val dy = if (py < bminY) bminY - py else if (py > bmaxY) py - bmaxY else 0.0
            val lb = dx * dx + dy * dy
            if (lb < best) { best = lb; seedRing = ri; seedBlock = b; seedSuper = -1 }
            b += 1
          }
        }
        left += r.nSupers
        ri += 1
      }
      if (seedSuper >= 0) {
        val r = rings(seedRing)
        best = Double.PositiveInfinity
        var b = seedSuper * SuperSize
        val end = math.min(b + SuperSize, r.nBlocks)
        while (b < end) {
          val bminX = r.bMinX(b); val bminY = r.bMinY(b)
          val bmaxX = r.bMaxX(b); val bmaxY = r.bMaxY(b)
          val dx = if (px < bminX) bminX - px else if (px > bmaxX) px - bmaxX else 0.0
          val dy = if (py < bminY) bminY - py else if (py > bmaxY) py - bmaxY else 0.0
          val lb = dx * dx + dy * dy
          if (lb < best) { best = lb; seedBlock = b }
          b += 1
        }
      }
    }

    // every superblock once, in ring order from the seed's, wrapping
    // around; `first` is the block its visit starts at
    var ri = seedRing
    var sb = seedBlock / SuperSize
    var first = seedBlock
    while (left > 0) {
      val r = rings(ri)
      val ys = r.ys
      while (sb < r.nSupers && left > 0) {
        val b0 = sb * SuperSize
        val b1 = math.min(b0 + SuperSize, r.nBlocks)
        // parity of the whole superblock settled, or no edge of it can flip
        var superCross = false
        var visit = true
        if (r.nSupers > 1) {
          val sminX = r.sMinX(sb); val sminY = r.sMinY(sb)
          val smaxX = r.sMaxX(sb); val smaxY = r.sMaxY(sb)
          val dx = if (px < sminX) sminX - px else if (px > smaxX) px - smaxX else 0.0
          val dy = if (py < sminY) sminY - py else if (py > smaxY) py - smaxY else 0.0
          superCross = py < sminY || py >= smaxY || px > smaxX
          if (!superCross && px < sminX && whollyRight(px, py, sminX, sminY, smaxX, smaxY)) {
            if ((ys(b0 * BlockSize) > py) != (ys(math.min(b1 * BlockSize, r.nEdges)) > py))
              inside = !inside
            superCross = true
          }
          visit = !(superCross && dx * dx + dy * dy >= minSq)
        }
        var b = first
        var n = if (visit) b1 - b0 else 0
        while (n > 0) {
          val start = b * BlockSize
          val end = math.min(start + BlockSize, r.nEdges)
          val bminX = r.bMinX(b); val bminY = r.bMinY(b)
          val bmaxX = r.bMaxX(b); val bmaxY = r.bMaxY(b)

          // lower bound on the distance to any edge in this block
          val dx = if (px < bminX) bminX - px else if (px > bmaxX) px - bmaxX else 0.0
          val dy = if (py < bminY) bminY - py else if (py > bmaxY) py - bmaxY else 0.0
          val skipDist = dx * dx + dy * dy >= minSq

          // edges here can only flip parity if the bbox straddles y and
          // extends right of x
          var skipCross = superCross || py < bminY || py >= bmaxY || px > bmaxX
          if (!skipCross && px < bminX && whollyRight(px, py, bminX, bminY, bmaxX, bmaxY)) {
            if ((ys(start) > py) != (ys(end) > py)) inside = !inside
            skipCross = true
          }

          if (!(skipDist && skipCross)) {
            val m = scanEdges(r.xs, ys, start, end, px, py, minDistance, !skipCross, !skipDist)
            if (java.lang.Double.doubleToRawLongBits(m) < 0L) { inside = !inside; minDistance = -m }
            else minDistance = m
            minSq = minDistance * minDistance
          }
          b += 1
          if (b == b1) b = b0
          n -= 1
        }
        sb += 1
        left -= 1
        first = sb * SuperSize
      }
      ri = if (ri + 1 == rings.length) 0 else ri + 1
      sb = 0
      first = 0
    }
    if (inside) minDistance else -minDistance
  }

  @inline private def appendCell(queue: CellHeap, cx: Double, cy: Double,
                                 halfExtent: Double, poly: PolygonG): Unit = {
    val d = signedDistance(cx, cy, poly)
    queue.append(cx, cy, halfExtent, d, d + halfExtent * Sqrt2)
  }

  /** Typed error surface (SURVEY.md K15): the reference's two distinct
    * failure codes, /root/reference/src/errors.rs:8-13. The SQL expression
    * surface collapses both to the (NaN, NaN, NaN) sentinel like the
    * reference's C ABI; this Dataset-side ADT preserves them.
    */
  sealed abstract class PolylabelError(val message: String)
  object PolylabelError {
    /** reference src/errors.rs:9-10 (centroid() returned None) */
    case object CentroidCalculation
      extends PolylabelError("Couldn't calculate a centroid for the input Polygon")
    /** reference src/errors.rs:11-12 (bounding_rect() returned None) */
    case object RectCalculation
      extends PolylabelError("Couldn't calculate a bounding box for the input Polygon")
  }

  /** Compute the pole of inaccessibility of `poly` to within `tolerance`.
    * Degenerate polygons (zero signed area) yield (0,0); zero-extent
    * bounding boxes yield the bbox min corner — both per the reference's
    * short-circuits (src/lib.rs:340-352). Throws on error; use
    * [[polylabelEither]] for the typed error surface.
    */
  def polylabel(poly: PolygonG, tolerance: Double): LabelResult =
    polylabelEither(poly, tolerance) match {
      case Right(r) => r
      case Left(e) => throw new IllegalArgumentException(e.message)
    }

  /** Result-typed variant preserving the reference's error distinction
    * (src/lib.rs:345-347 RectCalculation, :361-363 CentroidCalculation).
    */
  def polylabelEither(poly: PolygonG,
                      tolerance: Double): Either[PolylabelError, LabelResult] = {
    // The reference accepts any tolerance but never terminates for
    // tolerance <= 0 or NaN (the prune test `max - best <= tol` can never
    // fire while half-extents stay positive). Those inputs are rejected
    // here; the SQL surface maps this to the (NaN, NaN) error sentinel.
    require(tolerance > 0.0 && !tolerance.isInfinity,
      s"tolerance must be a finite positive number, got $tolerance")
    if (Geom.signedArea(poly) == 0.0) return Right(LabelResult(0.0, 0.0, 0.0))

    // reference src/lib.rs:345-347: no usable bounding rect -> error.
    // Reachable with an empty exterior or non-finite coordinates (NaN
    // vertices give a NaN signed area, which passes the == 0 guard).
    if (poly.exterior.xs.length == 0) return Left(PolylabelError.RectCalculation)
    val bbox = Geom.boundingRect(poly.exterior)
    if (!java.lang.Double.isFinite(bbox.width) || !java.lang.Double.isFinite(bbox.height))
      return Left(PolylabelError.RectCalculation)
    val cellSize = math.min(bbox.width, bbox.height)
    if (cellSize == 0.0) return Right(LabelResult(bbox.minX, bbox.minY, 0.0))

    // reference src/lib.rs:361-363: centroid failure is a DISTINCT error.
    // Reachable with finite bbox but overflowing shoelace accumulators
    // (coordinates near DBL_MAX): the centroid comes out non-finite.
    val c = Geom.centroid(poly) match {
      case Some(p) if java.lang.Double.isFinite(p.x) && java.lang.Double.isFinite(p.y) => p
      case _ => return Left(PolylabelError.CentroidCalculation)
    }
    Right(search(poly, tolerance, bbox, cellSize, c))
  }

  private def search(poly: PolygonG, tolerance: Double, bbox: Rect2,
                     cellSize: Double, c: Pt): LabelResult = {
    var halfExtent = cellSize / 2.0

    // initial guesses: polygon centroid and bbox center, with the
    // reference's seed selection (src/lib.rs:361-374)
    val centroidDist = signedDistance(c.x, c.y, poly)
    val bboxDist = signedDistance(bbox.centerX, bbox.centerY, poly)
    var bestX = c.x; var bestY = c.y; var bestDist = centroidDist
    if (bboxDist < centroidDist) {
      bestX = bbox.centerX; bestY = bbox.centerY; bestDist = bboxDist
    }

    // seed the queue with a regular grid of cells of size cellSize.
    // Guard the grid size: extreme aspect ratios (> ~6.7e7) make nx*ny
    // exceed any sane allocation (and would overflow the Int cast). Do
    // NOT skip seeding in that case (an empty queue would silently return
    // the centroid/bbox seed, violating the tolerance contract with no
    // signal) — clamp to <= 4096 cells along the long axis and grow the
    // seed cell to match: maxDistance = d + halfExtent*sqrt(2) is a valid
    // upper bound for ANY cell size, so branch-and-bound still refines to
    // the requested tolerance, just from a coarser start. One genuine
    // escape hatch remains: when even the FINAL refinement breadth
    // (~longSide/tolerance cells) blows the same budget, the clamped
    // cascade would grind ~forever (every along-ridge cell splits until
    // halfExtent ~ tolerance) and a hang is strictly worse than the
    // reference's own degradation on such inputs (its usize grid fails
    // allocation) — those keep the seed-only fallback, explicitly.
    val queue = new CellHeap()
    var gridCellSize = halfExtent * 2.0
    var seedHalf = halfExtent
    var nx = math.ceil(bbox.width / gridCellSize).toLong
    var ny = math.ceil(bbox.height / gridCellSize).toLong
    if (nx > (1L << 26) || ny > (1L << 26) || nx * ny > (1L << 26)) {
      if (math.max(bbox.width, bbox.height) / tolerance <= (1L << 26).toDouble) {
        gridCellSize = math.max(gridCellSize, math.max(bbox.width, bbox.height) / 4096.0)
        seedHalf = gridCellSize / 2.0
        nx = math.ceil(bbox.width / gridCellSize).toLong
        ny = math.ceil(bbox.height / gridCellSize).toLong
      } else {
        nx = 0L; ny = 0L // intractable extent/tolerance: seed-only
      }
    }
    val nCells = nx * ny
    if (nCells > 0) {
      queue.beginExtend(nCells.toInt)
      var gx = 0L
      while (gx < nx) {
        var gy = 0L
        while (gy < ny) {
          val px = (bbox.minX + gx.toDouble * gridCellSize) + seedHalf
          val py = (bbox.minY + gy.toDouble * gridCellSize) + seedHalf
          appendCell(queue, px, py, seedHalf, poly)
          gy += 1
        }
        gx += 1
      }
      queue.finishExtend(nCells.toInt)
    }

    // branch-and-bound: pop the cell with the best upper bound; prune when
    // it cannot beat the current best by more than tolerance; else split
    while (queue.nonEmpty) {
      queue.pop()
      val cellX = queue.cx; val cellY = queue.cy
      if (queue.distance > bestDist) {
        bestX = cellX; bestY = cellY; bestDist = queue.distance
      }
      if (queue.maxDistance - bestDist > tolerance) {
        halfExtent = queue.halfExtent / 2.0
        queue.beginExtend(4)
        appendCell(queue, cellX - halfExtent, cellY - halfExtent, halfExtent, poly)
        appendCell(queue, cellX + halfExtent, cellY - halfExtent, halfExtent, poly)
        appendCell(queue, cellX - halfExtent, cellY + halfExtent, halfExtent, poly)
        appendCell(queue, cellX + halfExtent, cellY + halfExtent, halfExtent, poly)
        queue.finishExtend(4)
      }
    }

    LabelResult(bestX, bestY, bestDist)
  }
}
