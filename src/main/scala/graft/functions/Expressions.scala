package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.geom._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Column encodings shared by all graft geometry expressions:
  * {{{
  *   point  struct<x: double, y: double>
  *   ring   array<struct<x: double, y: double>>    (closed or not — auto-closed)
  *   holes  array<array<struct<x: double, y: double>>>
  * }}}
  * mirroring the reference FFI's nested-array ABI
  * (/root/reference/src/ffi.rs:12-24) as Spark nested types.
  *
  * Every expression here implements `doGenCode` as a static call into
  * graft.functions.ExprHelpers, so the surrounding stage STAYS inside
  * whole-stage codegen (a CodegenFallback expression would force the whole
  * stage into interpreted projection — measured in PlanSpec).
  *
  * Every expression declares its exact `nullable`, never a blanket `true`.
  * Spark infers `isnotnull(e)` from a join key or a null-intolerant
  * predicate over a nullable `e` and pushes that filter below the
  * `Project` that computes `e`, where it evaluates `e` again: on a
  * join-key path an over-declared `nullable` re-runs the expression
  * inside the filter. A non-nullable `e` lets the filter fold away.
  */
object GeomEncoding {
  val pointType: StructType =
    StructType(Seq(StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false)))
  val ringType: ArrayType = ArrayType(pointType, containsNull = false)
  val holesType: ArrayType = ArrayType(ringType, containsNull = false)
  val labelType: StructType =
    StructType(Seq(StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))

  /** One ring's vertices. An `UnsafeArrayData` (cached frames, local
    * relations, rows between operators; not the column views a vectorized
    * parquet scan hands to generated code) is read in place: element `i`
    * is a 24-byte `UnsafeRow` of two doubles at the offset in its
    * offset-and-size word, x at +8 and y at +16 past the one-word null
    * bitset. Those are the bytes `getStruct(i, 2).getDouble(0|1)` reads,
    * without the row object that call allocates per vertex (C1 has no
    * escape analysis to remove it). Any other `ArrayData`, and a null or
    * differently sized element (a wider point struct), goes through
    * `getStruct`, so a null point still fails the decode.
    */
  def ringFrom(ad: ArrayData): Ring = {
    val n = ad.numElements()
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val u = ad match { case u: UnsafeArrayData => u; case _ => null }
    var i = 0
    while (i < n) {
      val offsetAndSize = if (u == null) 0L else u.getLong(i)
      if (offsetAndSize.toInt == 24 && !u.isNullAt(i)) {
        val at = u.getBaseOffset + (offsetAndSize >> 32)
        xs(i) = Platform.getDouble(u.getBaseObject, at + 8)
        ys(i) = Platform.getDouble(u.getBaseObject, at + 16)
      } else {
        val row = ad.getStruct(i, 2)
        xs(i) = row.getDouble(0)
        ys(i) = row.getDouble(1)
      }
      i += 1
    }
    Ring.of(xs, ys)
  }

  /** The one decode of the four polygon expressions: null holes mean no
    * holes, and a malformed polygon (a null ring or point, a short point
    * struct) decodes to null. `polylabel` maps that null to its NaN
    * sentinel; `pip`, `signed_dist` and `polygon_cover` return SQL null.
    */
  def decodePolygon(ext: ArrayData, holes: ArrayData): PolygonG =
    try {
      val hs =
        if (holes == null || holes.numElements() == 0) Array.empty[Ring]
        else {
          val out = new Array[Ring](holes.numElements())
          var i = 0
          while (i < out.length) { out(i) = ringFrom(holes.getArray(i)); i += 1 }
          out
        }
      new PolygonG(ringFrom(ext), hs)
    } catch {
      case _: IllegalArgumentException | _: IndexOutOfBoundsException |
           _: NullPointerException => null
    }

  /** Catalyst type of one parsed GeoJSON polygon. */
  val polygonStructType: StructType = StructType(Seq(
    StructField("exterior", ringType),
    StructField("holes", holesType)))

  /** The one GeoJSON polygon parser: a `Polygon` geometry, or a Feature
    * wrapping one, as a [[polygonStructType]] row; null for any other
    * geometry type. Malformed coordinates throw (callers map that to
    * SQL null).
    */
  def geoJsonPolygon(node0: JsonNode): InternalRow = {
    val node = if (node0.has("geometry")) node0.get("geometry") else node0
    val tpe = node.get("type")
    if (tpe == null || tpe.asText() != "Polygon") return null
    val coords = node.get("coordinates")
    if (coords == null || coords.size() == 0) return null
    def ring(r: JsonNode): GenericArrayData = {
      val pts = new Array[Any](r.size())
      var i = 0
      while (i < pts.length) {
        val row = new GenericInternalRow(2)
        row.setDouble(0, r.get(i).get(0).asDouble())
        row.setDouble(1, r.get(i).get(1).asDouble())
        pts(i) = row
        i += 1
      }
      new GenericArrayData(pts)
    }
    val holes = new Array[Any](coords.size() - 1)
    var i = 1
    while (i < coords.size()) { holes(i - 1) = ring(coords.get(i)); i += 1 }
    val out = new GenericInternalRow(2)
    out.update(0, ring(coords.get(0)))
    out.update(1, new GenericArrayData(holes))
    out
  }
}

/** Shared eval and codegen for the (x?, y?, exterior, holes, extra?)
  * expressions: null out iff a required child is null; SQL-null holes
  * mean no holes; the polygon is decoded once per row through
  * [[GeomEncoding.decodePolygon]] and handed to the ExprHelpers method,
  * whose signature is (leading..., polygon, trailing...). A malformed
  * polygon yields SQL null unless `nullOnMalformed` is false, in which
  * case the helper receives the null. Each one declares its exact
  * `nullable` ([[GeomEncoding]]).
  */
private[functions] trait PolygonCallCodegen extends Expression {
  /** required children (null-propagating) before the polygon */
  protected def leadingChildren: Seq[Expression] = Seq.empty
  protected def exteriorChild: Expression
  protected def holesChild: Expression
  /** required children after the polygon */
  protected def trailingChildren: Seq[Expression] = Seq.empty
  /** ExprHelpers method name */
  protected def helperMethod: String
  protected def nullOnMalformed: Boolean = true
  /** The helper call on the evaluated (non-null) leading and trailing
    * values, for the interpreted path.
    */
  protected def callHelper(args: Seq[Any], poly: PolygonG): Any

  override def eval(input: InternalRow): Any = {
    val required = leadingChildren ++ (exteriorChild +: trailingChildren)
    val values = required.map(_.eval(input))
    if (values.contains(null)) return null
    val ext = values(leadingChildren.length).asInstanceOf[ArrayData]
    val poly = GeomEncoding.decodePolygon(ext,
      holesChild.eval(input).asInstanceOf[ArrayData])
    if (poly == null && nullOnMalformed) null
    else callHelper(values.patch(leadingChildren.length, Nil, 1), poly)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lead = leadingChildren.map(_.genCode(ctx))
    val ext = exteriorChild.genCode(ctx)
    val trail = trailingChildren.map(_.genCode(ctx))
    val h = holesChild.genCode(ctx)
    val required = lead ++ (ext +: trail)
    val poly = ctx.freshName("poly")
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    val nullCheck = required.map(g => s"${g.isNull}").mkString(" || ")
    val args = (lead.map(_.value) :+ poly) ++ trail.map(_.value)
    val call = s"${ev.value} = graft.functions.ExprHelpers.$helperMethod(${args.mkString(", ")});"
    val guardedCall =
      if (nullOnMalformed) s"if ($poly == null) { ${ev.isNull} = true; } else { $call }"
      else call
    ev.copy(code =
      code"""
        ${required.map(_.code).fold(EmptyBlock)(_ + _)}
        boolean ${ev.isNull} = $nullCheck;
        $javaType ${ev.value} = $default;
        if (!${ev.isNull}) {
          ${h.code}
          graft.geom.PolygonG $poly = graft.functions.GeomEncoding.decodePolygon(${ext.value},
            (org.apache.spark.sql.catalyst.util.ArrayData) (${h.isNull} ? null : ${h.value}));
          $guardedCall
        }
      """)
  }
}

/** `polylabel(exterior, holes, tolerance) -> struct<x, y, dist>`.
  *
  * The SQL surface of the kernel (SURVEY.md §2.1 K1/K13): any error —
  * malformed ring, non-positive tolerance — yields the (NaN, NaN, NaN)
  * sentinel, the same error collapse as the reference's C ABI
  * (/root/reference/src/ffi.rs:78-80). Null exterior/tolerance yield null;
  * null holes mean "no holes". Deterministic. So it is nullable exactly
  * when `exterior` or `tolerance` is (the [[GeomEncoding]] rule).
  */
case class PolylabelExpr(exterior: Expression, holes: Expression, tolerance: Expression)
    extends Expression with PolygonCallCodegen {
  override def children: Seq[Expression] = Seq(exterior, holes, tolerance)
  override def dataType: DataType = GeomEncoding.labelType
  override def nullable: Boolean = exterior.nullable || tolerance.nullable
  override def prettyName: String = "polylabel"

  override protected def exteriorChild: Expression = exterior
  override protected def holesChild: Expression = holes
  override protected def trailingChildren: Seq[Expression] = Seq(tolerance)
  override protected def helperMethod: String = "polylabel"
  override protected def nullOnMalformed: Boolean = false

  override protected def callHelper(args: Seq[Any], poly: PolygonG): Any =
    ExprHelpers.polylabel(poly, args(0).asInstanceOf[Double])

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(exterior = c(0), holes = c(1), tolerance = c(2))
}

/** `cell_of(x, y, level) -> bigint` — hierarchical quadkey cell of a point
  * (graft.geom.CellIndex). Null-safe: any null input -> null.
  */
case class CellOfExpr(x: Expression, y: Expression, level: Expression)
    extends TernaryExpression {
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = level
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_of"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    CellIndex.cellOf(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.ExprHelpers.cellOf($a, $b, $c)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(x = f, y = s, level = t)
}

/** `cell_parent(cell) -> bigint`. */
case class CellParentExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_parent"

  override protected def nullSafeEval(c: Any): Any =
    CellIndex.parent(c.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.cellParent($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `text_fingerprint(text) -> bigint` — TextOps.fingerprint's positional
  * rolling fingerprint as a single codegen'd scalar (one projection per
  * row; the explode(64)+groupBy formulation it replaces pushed 64 rows
  * per document into an exchange).
  */
case class TextFingerprintExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "text_fingerprint"

  override protected def nullSafeEval(s: Any): Any =
    ExprHelpers.textFingerprint(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.ExprHelpers.textFingerprint($s)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `cell_kring(cell, k) -> array<bigint>` — all cells within Chebyshev
  * distance k (kNN candidate neighbourhood), sorted.
  */
case class CellKRingExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cell_kring"

  override protected def nullSafeEval(c: Any, k: Any): Any =
    ExprHelpers.kRing(c.asInstanceOf[Long], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, k) => s"graft.functions.ExprHelpers.kRing($c, $k)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `lsh_bucket(q, planes, dim) -> bigint` — sign-LSH bucket of a quantized
  * (array<bigint>) embedding, computed per row in ONE codegen'd pass.
  * Replaces the relational posexplode -> broadcast-join -> two-level
  * groupBy formulation, which shuffled dim x planes (= 512) rows per
  * vector where this emits 1.
  */
case class LshBucketExpr(q: Expression, planes: Expression, dim: Expression)
    extends TernaryExpression {
  override def first: Expression = q
  override def second: Expression = planes
  override def third: Expression = dim
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  override protected def nullSafeEval(a: Any, p: Any, d: Any): Any =
    ExprHelpers.lshBucket(a.asInstanceOf[ArrayData], p.asInstanceOf[Int], d.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, p, d) => s"graft.functions.ExprHelpers.lshBucket($a, $p, $d)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(q = f, planes = s, dim = t)
}

/** `ivf_nearest(q, cent, nLists, rank) -> int` — IVF-Flat coarse
  * quantizer: the 0-based index of the `rank`-th nearest centroid to the
  * quantized (array<bigint>) vector `q`, by exact integer squared-L2
  * distance, ties toward the lower centroid index. `cent` is the
  * row-major flattened nLists x dim codebook — bounded metadata inlined
  * as a literal, so list assignment is ONE codegen'd projection per row
  * (no join, no shuffle; same shape as lsh_bucket).
  */
case class IvfNearestExpr(q: Expression, cent: Expression,
                          nLists: Expression, rank: Expression)
    extends QuaternaryExpression {
  override def first: Expression = q
  override def second: Expression = cent
  override def third: Expression = nLists
  override def fourth: Expression = rank
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_nearest"

  override def nullSafeEval(a: Any, c: Any, n: Any, r: Any): Any =
    ExprHelpers.ivfNearest(a.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      n.asInstanceOf[Int], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, c, n, r) =>
      s"graft.functions.ExprHelpers.ivfNearest($a, $c, $n, $r)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, o: Expression): Expression =
    copy(q = f, cent = s, nLists = t, rank = o)
}

/** `polygon_cover(exterior, holes, level) -> array<bigint>` — exact set of
  * level-`level` cells intersecting the polygon (PIP-join prefilter).
  */
case class PolygonCoverExpr(exterior: Expression, holes: Expression, level: Expression)
    extends Expression with PolygonCallCodegen {
  override def children: Seq[Expression] = Seq(exterior, holes, level)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "polygon_cover"

  override protected def exteriorChild: Expression = exterior
  override protected def holesChild: Expression = holes
  override protected def trailingChildren: Seq[Expression] = Seq(level)
  override protected def helperMethod: String = "cover"

  override protected def callHelper(args: Seq[Any], poly: PolygonG): Any =
    ExprHelpers.cover(poly, args(0).asInstanceOf[Int])

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(exterior = c(0), holes = c(1), level = c(2))
}

/** `pip(x, y, exterior, holes) -> boolean` — exact even-odd ray-cast
  * point-in-polygon (the refine predicate after the cell equi-join).
  */
case class PipExpr(x: Expression, y: Expression, exterior: Expression, holes: Expression)
    extends Expression with PolygonCallCodegen {
  override def children: Seq[Expression] = Seq(x, y, exterior, holes)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "pip"

  override protected def leadingChildren: Seq[Expression] = Seq(x, y)
  override protected def exteriorChild: Expression = exterior
  override protected def holesChild: Expression = holes
  override protected def helperMethod: String = "pip"

  override protected def callHelper(args: Seq[Any], poly: PolygonG): Any =
    ExprHelpers.pip(args(0).asInstanceOf[Double], args(1).asInstanceOf[Double], poly)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(x = c(0), y = c(1), exterior = c(2), holes = c(3))
}

/** `signed_dist(x, y, exterior, holes) -> double` — signed distance to the
  * polygon outline (positive inside), the kNN-join refinement metric.
  */
case class SignedDistExpr(x: Expression, y: Expression, exterior: Expression, holes: Expression)
    extends Expression with PolygonCallCodegen {
  override def children: Seq[Expression] = Seq(x, y, exterior, holes)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "signed_dist"

  override protected def leadingChildren: Seq[Expression] = Seq(x, y)
  override protected def exteriorChild: Expression = exterior
  override protected def holesChild: Expression = holes
  override protected def helperMethod: String = "signedDist"

  override protected def callHelper(args: Seq[Any], poly: PolygonG): Any =
    ExprHelpers.signedDist(args(0).asInstanceOf[Double], args(1).asInstanceOf[Double], poly)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(x = c(0), y = c(1), exterior = c(2), holes = c(3))
}

/** `geojson_polygon(str) -> struct<exterior: ring, holes: array<ring>>` —
  * parse a GeoJSON `Polygon` geometry (or a Feature wrapping one), per the
  * reference's ell.geojson shape (/root/reference/ell.geojson:1-23).
  * Malformed input or another geometry type -> null. Parsing is cold-path
  * (ingest), so this one stays CodegenFallback.
  */
case class GeoJsonPolygonExpr(child: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = GeomEncoding.polygonStructType
  override def nullable: Boolean = true
  override def prettyName: String = "geojson_polygon"

  @transient private lazy val mapper = new ObjectMapper()

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) return null
    try GeomEncoding.geoJsonPolygon(mapper.readTree(s.toString))
    catch { case _: Exception => null }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

/** `geojson_feature_collection(str) -> array<struct<exterior, holes>>` —
  * every Polygon feature of a GeoJSON FeatureCollection (the reference's
  * ell.geojson shape); a lone Feature or geometry counts as a collection
  * of one. Malformed input -> null; non-Polygon features are skipped.
  * Ingest-path, CodegenFallback.
  */
case class GeoJsonFeatureCollectionExpr(child: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(GeomEncoding.polygonStructType)
  override def nullable: Boolean = true
  override def prettyName: String = "geojson_feature_collection"

  @transient private lazy val mapper = new ObjectMapper()

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) return null
    try {
      val node: JsonNode = mapper.readTree(s.toString)
      val feats =
        if (node.get("type").asText() == "FeatureCollection") node.get("features")
        else mapper.createArrayNode().add(node)
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = 0
      while (i < feats.size()) {
        val parsed = GeomEncoding.geoJsonPolygon(feats.get(i))
        if (parsed != null) out += parsed
        i += 1
      }
      new GenericArrayData(out.toArray)
    } catch { case _: Exception => null }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}
