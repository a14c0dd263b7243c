package graft.geom

import graft.gen.BruteForce
import org.scalatest.funsuite.AnyFunSuite

/** Kernel correctness: the reference's own unit tests, ported with their
  * exact f64 expected values (/root/reference/src/lib.rs:400-501,
  * src/ffi.rs:119-141).
  */
class PolylabelSpec extends AnyFunSuite {

  test("poly1 (Shapely test polygon), tolerance 10.0 — exact point") {
    val r = Polylabel.polylabel(Fixtures.poly1, 10.0)
    assert(r.x === 59.356155563645696)
    assert(r.y === 121.83919629746435)
  }

  test("poly2 concave: label is inside the polygon, centroid is not") {
    val r = Polylabel.polylabel(Fixtures.poly2, 1.0)
    assert(Geom.pointInPolygon(r.x, r.y, Fixtures.poly2))
    val c = Geom.centroid(Fixtures.poly2).get
    assert(!Geom.pointInPolygon(c.x, c.y, Fixtures.poly2))
  }

  test("poly3 London suburb, tolerance 0.001 — exact point") {
    val r = Polylabel.polylabel(Fixtures.poly3, 0.001)
    assert(r.x === -0.45556816445920356)
    assert(r.y === 51.54848888202887)
  }

  test("L shape, tolerance 0.1 — exact point") {
    val r = Polylabel.polylabel(Fixtures.ell, 0.1)
    assert(r.x === 0.5625)
    assert(r.y === 0.5625)
  }

  test("L shape centroid matches the reference doctest value") {
    val c = Geom.centroid(Fixtures.ell).get
    assert(c.x === 1.3571428571428572)
    assert(c.y === 1.3571428571428572)
  }

  test("degenerate collinear ring -> (0,0)") {
    val r = Polylabel.polylabel(Fixtures.degenerateA, 1.0)
    assert(r.x === 0.0 && r.y === 0.0)
  }

  test("degenerate bow-tie ring -> (0,0)") {
    val r = Polylabel.polylabel(Fixtures.degenerateB, 1.0)
    assert(r.x === 0.0 && r.y === 0.0)
  }

  test("square with hole, tolerance 1.0 — exact point") {
    val r = Polylabel.polylabel(Fixtures.squareWithHole, 1.0)
    assert(r.x === 35.15625)
    assert(r.y === 35.15625)
  }

  test("octagon with two holes (FFI fixture), tolerance 0.1") {
    // The reference pins (3.125, 2.875) in src/ffi.rs:140, but that test is
    // feature-gated (#[cfg(feature = "ffi")]) and CI runs `cargo test`
    // WITHOUT --features ffi (.github/workflows/rust.yml:54), so the value
    // is stale: (3.125, 2.875) lies exactly ON a hole edge (signed distance
    // -0.0) while the polygon admits 0.498 clearance (numeric ground truth).
    // The current algorithm returns the point below, dist 0.486, within the
    // tolerance-0.1 guarantee of the true pole.
    val r = Polylabel.polylabel(Fixtures.hexagonTwoHoles, 0.1)
    assert(r.x === 2.515625)
    assert(r.y === 2.828125)
    assert(Geom.pointInPolygon(r.x, r.y, Fixtures.hexagonTwoHoles))
    assert(r.dist > 0.48 && r.dist < 0.4979)
  }

  test("norway mainland (8,854 vertices), tolerance 1.0 — pinned golden") {
    // Bench-only in the reference (benches/benchmark.rs:27-33, no published
    // point); our computed value is pinned as the golden (FIXTURES.md §1).
    val r = Polylabel.polylabel(Fixtures.norway, 1.0)
    assert(Geom.pointInPolygon(r.x, r.y, Fixtures.norway))
    assert(r.x === 10.29301152092468)
    assert(r.y === 61.6784192527327)
    assert(r.dist === 1.636877832493017)
  }

  test("smaller tolerance never yields a worse distance") {
    for ((_, p, tol) <- Fixtures.all if Geom.signedArea(p) != 0.0) {
      val coarse = Polylabel.polylabel(p, tol)
      val fine = Polylabel.polylabel(p, tol / 10.0)
      assert(fine.dist >= coarse.dist - 1e-12)
    }
  }

  test("K15 typed surface: the two reference error codes are distinguishable") {
    import Polylabel.PolylabelError._
    // RectCalculation (reference src/errors.rs:11-12): infinite vertex ->
    // non-finite signed area passes the ==0 guard, bbox width is infinite
    val nanPoly = PolygonG(Seq((0.0, 0.0), (Double.PositiveInfinity, 0.0),
      (1.0, 1.0), (0.0, 0.0)))
    assert(Polylabel.polylabelEither(nanPoly, 0.1) === Left(RectCalculation))

    // CentroidCalculation (src/errors.rs:9-10): finite bbox but the
    // shoelace accumulators overflow -> non-finite centroid
    val huge = PolygonG(Seq((1.0e300, 1.0e300), (1.7e300, 1.0e300),
      (1.7e300, 1.7e300), (1.0e300, 1.7e300), (1.0e300, 1.0e300)))
    assert(Polylabel.polylabelEither(huge, 0.1) === Left(CentroidCalculation))

    // happy path stays Right and equals the throwing surface
    val r = Polylabel.polylabelEither(Fixtures.ell, 0.001)
    assert(r === Right(Polylabel.polylabel(Fixtures.ell, 0.001)))

    // both errors surface as exceptions (-> NaN sentinel in SQL) on the
    // throwing entry point
    assertThrows[IllegalArgumentException](Polylabel.polylabel(nanPoly, 0.1))
    assertThrows[IllegalArgumentException](Polylabel.polylabel(huge, 0.1))
  }

  test("extreme aspect + intractable extent/tolerance falls back to seed") {
    // width/height ~ 4e16 AND width/tolerance ~ 4e12 (past any refinement
    // budget): the guard must fall back to the seed — terminating — not
    // throw, underallocate, or grind through ~1e12 cell splits
    val sliver = PolygonG(Seq((0.0, 0.0), (4.0e12, 0.0), (4.0e12, 1.0e-4),
      (0.0, 1.0e-4), (0.0, 0.0)))
    val r = Polylabel.polylabel(sliver, 1.0)
    assert(java.lang.Double.isFinite(r.x) && java.lang.Double.isFinite(r.y))
    assert(Geom.pointInPolygon(r.x, r.y, sliver))
  }

  test("extreme aspect with tractable tolerance: clamped grid refines") {
    // aspect 1e8 trips the per-axis 2^26 gate, but extent/tolerance = 1e4
    // is tractable — the clamped (<= 4096-per-axis) seed grid must run
    // and the branch-and-bound deliver the tolerance contract
    val strip = PolygonG(Seq((0.0, 0.0), (1.0e8, 0.0), (1.0e8, 1.0),
      (0.0, 1.0), (0.0, 0.0)))
    val r = Polylabel.polylabel(strip, 1.0e4)
    assert(Geom.pointInPolygon(r.x, r.y, strip))
    assert(r.dist === 0.5) // pole clearance of a 1-unit-tall strip
  }

  test("kernel signedDistance == per-edge segmentDistance + parity, bit-exact") {
    // the fused block-scan kernel (sqrt/div gating, block bbox skips)
    // must agree BIT-FOR-BIT with the naive per-edge formulation on
    // random polygons and probes — the gating must never change a result
    val rnd = new scala.util.Random(0xC0FFEE)
    for (_ <- 0 until 60) {
      val n = 3 + rnd.nextInt(60)
      val pts = Seq.tabulate(n)(_ =>
        (rnd.nextDouble() * 20.0 - 10.0, rnd.nextDouble() * 20.0 - 10.0))
      val poly = PolygonG(pts :+ pts.head)
      for (_ <- 0 until 40) {
        val px = rnd.nextDouble() * 30.0 - 15.0
        val py = rnd.nextDouble() * 30.0 - 15.0
        val got = Polylabel.signedDistance(px, py, poly)
        val want = BruteForce.signedDistance(px, py, poly)
        assert(java.lang.Double.doubleToLongBits(got) ===
          java.lang.Double.doubleToLongBits(want),
          s"kernel $got != per-edge $want at ($px, $py)")
      }
    }
  }

  test("kernel signedDistance == per-edge oracle on multi-block rings, bit-exact") {
    // nearest-block-first order and endpoint parity must not change a bit.
    // Rings of 33-5,000 vertices (2-157 blocks) with 0-3 holes, scales and
    // offsets from 1e-6 to 1e150; probes on vertices, edge midpoints, at a
    // vertex's y, on both sides of a block's bbox minX and of the
    // endpoint-parity guard.
    for (seed <- 1 to 40) {
      val rnd = new scala.util.Random(seed)
      val scale = math.pow(10.0, -6.0 + rnd.nextDouble() * 156.0)
      val offset = (if (rnd.nextBoolean()) 1.0 else -1.0) *
        math.pow(10.0, -6.0 + rnd.nextDouble() * (math.log10(math.min(1e150, scale * 1e6)) + 6.0))
      def star(n: Int, cx: Double, cy: Double, r: Double): Seq[(Double, Double)] =
        Seq.tabulate(n) { i =>
          val a = 2.0 * math.Pi * i / n
          val ri = r * (0.5 + 0.5 * rnd.nextDouble())
          (offset + scale * (cx + ri * math.cos(a)), offset + scale * (cy + ri * math.sin(a)))
        }
      val n = seed % 10 match { case 0 => 33; case 1 => 5000; case _ => 33 + rnd.nextInt(4968) }
      val holes = Seq.tabulate(rnd.nextInt(4)) { j =>
        star(3 + rnd.nextInt(400), 0.2 * (j - 1), 0.1 * (j % 2), 0.05).reverse
      }
      val poly = PolygonG(star(n, 0.0, 0.0, 1.0), holes)
      val bb = Geom.boundingRect(poly.exterior)
      def check(px: Double, py: Double): Unit = {
        val got = Polylabel.signedDistance(px, py, poly)
        val want = BruteForce.signedDistance(px, py, poly)
        assert(java.lang.Double.doubleToLongBits(got) ===
          java.lang.Double.doubleToLongBits(want),
          s"seed $seed (n=$n, holes=${holes.size}, scale=$scale, offset=$offset): " +
            s"kernel $got != per-edge $want at ($px, $py)")
      }
      for (_ <- 0 until 30)
        check(bb.minX - 0.1 * bb.width + rnd.nextDouble() * 1.2 * bb.width,
          bb.minY - 0.1 * bb.height + rnd.nextDouble() * 1.2 * bb.height)
      for (ring <- poly.rings) {
        val step = math.max(1, ring.nEdges / 25)
        var i = 0
        while (i < ring.nEdges) {
          check(ring.xs(i), ring.ys(i))
          check((ring.xs(i) + ring.xs(i + 1)) / 2.0, (ring.ys(i) + ring.ys(i + 1)) / 2.0)
          check(bb.minX + rnd.nextDouble() * bb.width, ring.ys(i))
          i += step
        }
      }
      for (r <- poly.rings; b <- 0 until r.nBlocks if rnd.nextInt(4) == 0) {
        val bminX = r.bMinX(b); val bmaxX = r.bMaxX(b)
        // a y the block straddles: one of its vertex ys below bmaxY
        val start = b * Polylabel.BlockSize
        for (py <- (start to math.min(start + Polylabel.BlockSize, r.nEdges))
               .map(r.ys(_)).find(_ < r.bMaxY(b))) {
          val guard = bminX - (Polylabel.ParityEps *
            (math.abs(bminX) + math.abs(bmaxX) + (bmaxX - bminX)) +
            4.0 * java.lang.Double.MIN_NORMAL / math.min(math.abs(py), 1.0))
          for (px <- Seq(Math.nextDown(bminX), bminX, Math.nextUp(bminX),
                         Math.nextDown(guard), guard, Math.nextUp(guard)))
            check(px, py)
        }
      }
    }
  }

  test("a NaN vertex disables endpoint parity for its block, bit-exact") {
    // block 0 (edges 0-31) lies right of the probes and straddles their y;
    // the NaN vertex makes edge 19 fail its crossing test, so the block's
    // endpoints (y 0 and 32) must not decide its parity
    val pts = Seq.tabulate(40)(i => (if (i == 20) Double.NaN else 10.0, i.toDouble)) ++
      Seq((-10.0, 39.0), (-10.0, 0.0))
    val poly = PolygonG(pts)
    for ((px, py) <- Seq((5.0, 19.5), (-5.0, 19.5), (5.0, 25.0), (9.0, 3.5))) {
      val got = Polylabel.signedDistance(px, py, poly)
      val want = BruteForce.signedDistance(px, py, poly)
      assert(java.lang.Double.doubleToLongBits(got) ===
        java.lang.Double.doubleToLongBits(want), s"kernel $got != per-edge $want at ($px, $py)")
    }
  }

  test("kernel signedDistance == per-edge oracle across superblocks, bit-exact") {
    // superblock skips, superblock endpoint parity and the superblock seed
    // must not change a bit. Exteriors of 600-5,000 vertices (3-20
    // superblocks) with 1-2 holes of 300-1,200 vertices (2-5 superblocks),
    // every third seed with a NaN vertex; probes at superblock boundary
    // vertex ys, on both sides of a superblock's bbox minX and guard, and
    // inside the holes, where the seed superblock is a hole's.
    val superEdges = Polylabel.SuperSize * Polylabel.BlockSize
    var holeSeeds = 0
    for (seed <- 1 to 24) {
      val rnd = new scala.util.Random(1000 + seed)
      val scale = math.pow(10.0, -6.0 + rnd.nextDouble() * 156.0)
      val offset = (if (rnd.nextBoolean()) 1.0 else -1.0) *
        math.pow(10.0, -6.0 + rnd.nextDouble() * (math.log10(math.min(1e150, scale * 1e6)) + 6.0))
      def star(n: Int, cx: Double, cy: Double, r0: Double, r1: Double): Seq[(Double, Double)] =
        Seq.tabulate(n) { i =>
          val a = 2.0 * math.Pi * i / n
          val ri = r0 + (r1 - r0) * rnd.nextDouble()
          (offset + scale * (cx + ri * math.cos(a)), offset + scale * (cy + ri * math.sin(a)))
        }
      val n = 600 + rnd.nextInt(4401)
      val ext0 = star(n, 0.0, 0.0, 0.6, 1.0)
      val ext = if (seed % 3 == 0) {
        val k = rnd.nextInt(n)
        ext0.updated(k, if (rnd.nextBoolean()) (Double.NaN, ext0(k)._2) else (ext0(k)._1, Double.NaN))
      } else ext0
      val holeCentres = Seq((-0.25, 0.0), (0.25, 0.05)).take(1 + rnd.nextInt(2))
      val holes = holeCentres.map { case (cx, cy) => star(300 + rnd.nextInt(901), cx, cy, 0.1, 0.2).reverse }
      val poly = PolygonG(ext, holes)
      assert(poly.rings.forall(_.nSupers >= 2), s"seed $seed: a ring of one superblock")
      val bb = Geom.boundingRect(poly.exterior)
      def check(px: Double, py: Double): Unit = {
        val got = Polylabel.signedDistance(px, py, poly)
        val want = BruteForce.signedDistance(px, py, poly)
        assert(java.lang.Double.doubleToLongBits(got) ===
          java.lang.Double.doubleToLongBits(want),
          s"seed $seed (n=$n, holes=${holes.map(_.size)}, scale=$scale, offset=$offset): " +
            s"kernel $got != per-edge $want at ($px, $py)")
      }
      for (_ <- 0 until 30)
        check(bb.minX - 0.1 * bb.width + rnd.nextDouble() * 1.2 * bb.width,
          bb.minY - 0.1 * bb.height + rnd.nextDouble() * 1.2 * bb.height)
      for (r <- poly.rings; sb <- 0 until r.nSupers) {
        val sminX = r.sMinX(sb); val smaxX = r.sMaxX(sb)
        val first = sb * superEdges
        val last = math.min(first + superEdges, r.nEdges)
        // the ys of the superblock's boundary vertices, across the polygon
        for (py <- Seq(r.ys(first), r.ys(last)); _ <- 0 until 2)
          check(bb.minX - 0.1 * bb.width + rnd.nextDouble() * 1.2 * bb.width, py)
        // a y the superblock straddles, on both sides of minX and the guard
        for (py <- (first to last).map(r.ys(_)).find(_ < r.sMaxY(sb))) {
          val guard = sminX - (Polylabel.ParityEps *
            (math.abs(sminX) + math.abs(smaxX) + (smaxX - sminX)) +
            4.0 * java.lang.Double.MIN_NORMAL / math.min(math.abs(py), 1.0))
          for (px <- Seq(Math.nextDown(sminX), sminX, Math.nextUp(sminX),
                         Math.nextDown(guard), guard, Math.nextUp(guard)))
            check(px, py)
        }
      }
      // inside each hole, near its outline: the nearest superblock bbox (the
      // seed's) is then usually the hole's; count the probes where it is
      for ((h, hi) <- poly.holes.zipWithIndex) {
        val cx = offset + scale * holeCentres(hi)._1
        val cy = offset + scale * holeCentres(hi)._2
        for (i <- 0 until h.nEdges by 7) {
          val px = cx + 0.9 * (h.xs(i) - cx)
          val py = cy + 0.9 * (h.ys(i) - cy)
          val bounds = for ((r, ri) <- poly.rings.zipWithIndex; sb <- 0 until r.nSupers) yield {
            val dx = math.max(math.max(r.sMinX(sb) - px, px - r.sMaxX(sb)), 0.0)
            val dy = math.max(math.max(r.sMinY(sb) - py, py - r.sMaxY(sb)), 0.0)
            (dx * dx + dy * dy, ri)
          }
          if (bounds.minBy(_._1)._2 > 0) holeSeeds += 1
          check(px, py)
        }
      }
    }
    assert(holeSeeds > 100, s"only $holeSeeds probes had a hole's superblock nearest")
  }

  test("a NaN vertex disables endpoint parity for its superblock, bit-exact") {
    // edges 0-599 run up x = 10 and span three superblocks; superblock 1
    // (edges 256-511) lies right of the probes and straddles their y, and
    // the NaN vertex 300 makes edge 299 fail its crossing test, so neither
    // the superblock's endpoints (y 256 and 512) nor its block's may decide
    // its parity
    val pts = Seq.tabulate(601)(i => (if (i == 300) Double.NaN else 10.0, i.toDouble)) ++
      Seq((-10.0, 600.0), (-10.0, 0.0))
    val poly = PolygonG(pts)
    assert(poly.rings(0).nSupers === 3)
    for ((px, py) <- Seq((5.0, 299.5), (-5.0, 299.5), (5.0, 400.0), (9.0, 260.5), (5.0, 256.0))) {
      val got = Polylabel.signedDistance(px, py, poly)
      val want = BruteForce.signedDistance(px, py, poly)
      assert(java.lang.Double.doubleToLongBits(got) ===
        java.lang.Double.doubleToLongBits(want), s"kernel $got != per-edge $want at ($px, $py)")
    }
  }
}
