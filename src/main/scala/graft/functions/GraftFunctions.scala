package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registry + Column API for the graft geometry expressions. Spark-first
  * surface: every function is a native Catalyst `Expression` (not a Scala
  * UDF), registered both into the session FunctionRegistry (for
  * `spark.sql`) and exposed as `Column` helpers (for the DataFrame API).
  */
object GraftFunctions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "polylabel" -> (e => PolylabelExpr(e(0), e(1), e(2))),
    "cell_of" -> (e => CellOfExpr(e(0), e(1), e(2))),
    "cell_parent" -> (e => CellParentExpr(e(0))),
    "cell_kring" -> (e => CellKRingExpr(e(0), e(1))),
    "lsh_bucket" -> (e => LshBucketExpr(e(0), e(1), e(2))),
    "ivf_nearest" -> (e => IvfNearestExpr(e(0), e(1), e(2), e(3))),
    "text_fingerprint" -> (e => TextFingerprintExpr(e(0))),
    "polygon_cover" -> (e => PolygonCoverExpr(e(0), e(1), e(2))),
    "pip" -> (e => PipExpr(e(0), e(1), e(2), e(3))),
    "signed_dist" -> (e => SignedDistExpr(e(0), e(1), e(2), e(3))),
    "geojson_polygon" -> (e => GeoJsonPolygonExpr(e(0))),
    "geojson_feature_collection" -> (e => GeoJsonFeatureCollectionExpr(e(0))))

  /** Idempotent registration into an existing session: names the
    * registry already has (a session built with [[GraftExtensions]]) are
    * left as they are, so each function is registered exactly once.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!registry.functionExists(new FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  // DataFrame Column API — Columns are built DIRECTLY from the catalyst
  // expressions (org.apache.spark.sql.graftbridge.ColumnBridge), not via
  // the registry-resolved function-call route, which made every operator
  // silently require GraftSession.install first (vanilla sessions threw
  // UNRESOLVED_ROUTINE). The registry (register / GraftExtensions)
  // remains the `spark.sql(...)` surface.
  private val builders = all.toMap
  private def fn(name: String, cols: Column*): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      builders(name)(cols.map(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression)))

  def polylabel(exterior: Column, holes: Column, tolerance: Column): Column =
    fn("polylabel", exterior, holes, tolerance)
  def cell_of(x: Column, y: Column, level: Column): Column =
    fn("cell_of", x, y, level)
  def cell_parent(cell: Column): Column = fn("cell_parent", cell)
  def cell_kring(cell: Column, k: Column): Column = fn("cell_kring", cell, k)
  def lsh_bucket(q: Column, planes: Column, dim: Column): Column =
    fn("lsh_bucket", q, planes, dim)
  def ivf_nearest(q: Column, cent: Column, nLists: Column, rank: Column): Column =
    fn("ivf_nearest", q, cent, nLists, rank)
  def text_fingerprint(text: Column): Column =
    fn("text_fingerprint", text)
  def polygon_cover(exterior: Column, holes: Column, level: Column): Column =
    fn("polygon_cover", exterior, holes, level)
  def pip(x: Column, y: Column, exterior: Column, holes: Column): Column =
    fn("pip", x, y, exterior, holes)
  def signed_dist(x: Column, y: Column, exterior: Column, holes: Column): Column =
    fn("signed_dist", x, y, exterior, holes)
  def geojson_polygon(s: Column): Column = fn("geojson_polygon", s)
  def geojson_feature_collection(s: Column): Column =
    fn("geojson_feature_collection", s)
}

/** `SparkSessionExtensions` hook so `--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` registers everything on a plain
  * spark-submit without touching user code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    // naive pip-over-cross-join -> staged cell equi-join (plan sugar; the
    // explicit SpatialJoins API remains the primary surface)
    ext.injectOptimizerRule(_ => graft.plans.PipJoinRewrite)
  }
}
