package graft.geom

import org.scalatest.funsuite.AnyFunSuite

/** Independent cross-validation of the Norway golden (FIXTURES.md §1).
  *
  * The reference treats Norway as bench-only (benches/benchmark.rs:27-33)
  * and publishes no label point, so the repo's pinned value is
  * self-certified by the kernel that produced it. This spec certifies it
  * by a SEPARATE route that never runs the quadtree search:
  * `signedDistance` alone — itself pinned against the reference's eight
  * exact fixture outputs — is evaluated over a dense grid plus local
  * refinement, establishing that no point in the polygon has clearance
  * better than the golden distance + the golden's tolerance (1.0). That
  * is exactly the optimality contract polylabel(tol) promises, checked
  * without trusting the search.
  */
class NorwayCrossCheckSpec extends AnyFunSuite {

  test("golden label is feasible: clearance at the pinned point equals dist") {
    val poly = Fixtures.norway
    val d = Polylabel.signedDistance(10.29301152092468, 61.6784192527327, poly)
    assert(d === 1.636877832493017) // the pinned golden distance, exactly
    assert(Geom.pointInPolygon(10.29301152092468, 61.6784192527327, poly))
  }

  test("golden label is optimal within tolerance: exhaustive grid + refinement") {
    val poly = Fixtures.norway
    val bb = Geom.boundingRect(poly.exterior)
    val golden = 1.636877832493017
    val tol = 1.0 // the tolerance the golden was computed at

    // coarse pass: 320x320 grid (cell ~0.04 x 0.08 deg); keep the best
    // few cells, then refine each neighbourhood on a 50x50 sub-grid.
    // Clearance is 1-Lipschitz, so the refinement grid pitch bounds the
    // residual error: true max <= observed max + pitch * sqrt(2)/2.
    val n = 320
    val sx = bb.width / n
    val sy = bb.height / n
    var cand = List.empty[(Double, Double, Double)]
    var best = Double.NegativeInfinity
    var gy = 0
    while (gy < n) {
      var gx = 0
      while (gx < n) {
        val x = bb.minX + (gx + 0.5) * sx
        val y = bb.minY + (gy + 0.5) * sy
        val d = Polylabel.signedDistance(x, y, poly)
        if (d > best - 0.3) { // keep everything near the running best
          cand ::= ((x, y, d))
          if (d > best) best = d
        }
        gx += 1
      }
      gy += 1
    }
    val keep = cand.filter(_._3 > best - 0.3)
    var refined = best
    for ((cx, cy, _) <- keep) {
      val m = 50
      val rx = sx / m
      val ry = sy / m
      var iy = -m
      while (iy <= m) {
        var ix = -m
        while (ix <= m) {
          val d = Polylabel.signedDistance(cx + ix * rx, cy + iy * ry, poly)
          if (d > refined) refined = d
          ix += 1
        }
        iy += 1
      }
    }
    val pitch = math.max(sx, sy) / 50.0
    val residual = pitch * math.sqrt(2.0) / 2.0
    // independent optimality bound: nothing beats the golden by more than
    // the tolerance it was computed at
    assert(refined <= golden + tol,
      s"grid found clearance $refined > golden + tol (${golden + tol})")
    // and the golden is genuinely near the optimum the grid sees
    assert(golden >= refined - tol - residual,
      s"golden $golden is worse than grid optimum $refined beyond tol+residual")
  }
}
