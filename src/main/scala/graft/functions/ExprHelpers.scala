package graft.functions

import graft.geom._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Static entry points the generated (Janino) code calls — keeping every
  * graft expression inside whole-stage codegen: the surrounding operators
  * stay fused, and the expression itself is a monomorphic static call.
  * Generated code references `graft.functions.ExprHelpers.<m>(...)`.
  */
object ExprHelpers {

  def cellOf(x: Double, y: Double, level: Int): Long =
    CellIndex.cellOf(x, y, level)

  def cellParent(cell: Long): Long = CellIndex.parent(cell)

  def kRing(cell: Long, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellIndex.kRing(cell, k))

  /** TextOps.fingerprint's kernel as one scalar: positional fingerprint
    * over the first 64 CHARACTERS (code points, matching both engines'
    * ascii(substr(text, k, 1)) semantics): sum_k cp_k * ((k*2654435761)
    * mod 65536), mod 1e9+7. Characters past the string contribute 0.
    */
  def textFingerprint(t: org.apache.spark.unsafe.types.UTF8String): Long = {
    val s = t.toString
    var sum = 0L
    var i = 0
    var k = 0
    while (i < s.length && k < 64) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      k += 1
      sum += cp.toLong * ((k.toLong * 2654435761L) % 65536L)
    }
    sum % 1000000007L
  }

  /** Sign-LSH bucket of a quantized embedding: bit j of the result is
    * (sum_i q_i * w(j, i)) > 0 with the closed-form integer plane weight
    * w(j, i) = ((j*dim + i) * 2654435761) mod 2001 - 1000 — one pure
    * per-row computation (the SQL oracles re-derive the same closed
    * form). Elements past min(dim, q.numElements) contribute 0, matching
    * the relational formulation's inner join on i.
    */
  def lshBucket(q: ArrayData, planes: Int, dim: Int): Long = {
    val n = math.min(dim, q.numElements())
    var bucket = 0L
    var j = 0
    while (j < planes) {
      val base = j.toLong * dim
      var proj = 0L
      var i = 0
      while (i < n) {
        proj += q.getLong(i) * (((base + i) * 2654435761L) % 2001L - 1000L)
        i += 1
      }
      if (proj > 0L) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  /** IVF-Flat coarse quantizer: the 0-based index of the `rank`-th
    * nearest centroid to quantized vector `q` by EXACT integer squared-L2
    * distance, ties broken toward the lower centroid index (the SQL
    * oracle mirrors this with ORDER BY d2, cid). `cent` is the row-major
    * flattened nLists x dim centroid matrix (dim = cent.numElements /
    * nLists). Components past min(dim, q.numElements) are skipped on
    * both sides, matching the relational formulation's inner join on i.
    * rank >= nLists returns the last (furthest) centroid index.
    */
  def ivfNearest(q: ArrayData, cent: ArrayData, nLists: Int, rank: Int): Int = {
    val dim = cent.numElements() / nLists
    val n = math.min(dim, q.numElements())
    val d = new Array[Long](nLists)
    var c = 0
    while (c < nLists) {
      val base = c * dim
      var s = 0L
      var i = 0
      while (i < n) {
        val diff = q.getLong(i) - cent.getLong(base + i)
        s += diff * diff
        i += 1
      }
      d(c) = s
      c += 1
    }
    // rank-th smallest by (d2, index): repeated selection — nLists is the
    // codebook size (<= a few hundred) and rank <= nProbe, so this stays
    // a tiny in-register loop; real d2 never reaches the MaxValue marker
    var chosen = -1
    var r = 0
    while (r <= rank) {
      var best = -1
      var bestD = Long.MaxValue
      var j = 0
      while (j < nLists) {
        if (d(j) < bestD) { bestD = d(j); best = j }
        j += 1
      }
      if (best < 0) return chosen
      chosen = best
      d(best) = Long.MaxValue
      r += 1
    }
    chosen
  }

  def cover(poly: PolygonG, level: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellIndex.cover(poly, level))

  /** Even-odd point-in-polygon: the sign bit of the kernel's signed
    * distance (clear inside; -0.0 is an outside point on the outline).
    */
  def pip(x: Double, y: Double, poly: PolygonG): Boolean =
    java.lang.Double.doubleToRawLongBits(Polylabel.signedDistance(x, y, poly)) >= 0L

  def signedDist(x: Double, y: Double, poly: PolygonG): Double =
    Polylabel.signedDistance(x, y, poly)

  private val nanRow: InternalRow = {
    val r = new GenericInternalRow(3)
    r.setDouble(0, Double.NaN); r.setDouble(1, Double.NaN); r.setDouble(2, Double.NaN)
    r
  }

  /** A malformed polygon (null from [[GeomEncoding.decodePolygon]]) and
    * the kernel's typed errors (`IllegalArgumentException`) map to the
    * (NaN, NaN, NaN) sentinel; anything else the kernel throws is a bug
    * and fails the task.
    */
  def polylabel(poly: PolygonG, tolerance: Double): InternalRow = {
    if (poly == null) return nanRow
    val r =
      try Polylabel.polylabel(poly, tolerance)
      catch { case _: IllegalArgumentException => return nanRow }
    val row = new GenericInternalRow(3)
    row.setDouble(0, r.x); row.setDouble(1, r.y); row.setDouble(2, r.dist)
    row
  }
}
