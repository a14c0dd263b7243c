package graft.gen

import graft.TestSpark
import org.apache.spark.sql.DataFrame

/** The ways a polygon expression can meet its rings: evaluated by
  * whole-stage codegen or interpreted, over rings built in the query, read
  * from a cache or read from parquet.
  */
object SparkModes {
  private def spark = TestSpark.spark

  /** Whole-stage codegen only: a generated-code compile error fails the
    * query instead of falling back to the interpreted path.
    */
  val codegenConf: Seq[(String, String)] = Seq("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
  val interpretedConf: Seq[(String, String)] = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  /** (mode, conf): "codegen" and "eval", as `ArrayClassProbe` names them. */
  val modes: Seq[(String, Seq[(String, String)])] = Seq("codegen" -> codegenConf, "eval" -> interpretedConf)

  def withConf[T](kv: Seq[(String, String)])(f: => T): T = {
    val orig = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally orig.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `exterior`/`holes` rebuilt by `transform` inside the same projection:
    * `GenericArrayData` of `GenericInternalRow` points (a null point stays
    * null).
    */
  val rebuiltExterior = "transform(exterior, p -> IF(p IS NULL, NULL, named_struct('x', p.x, 'y', p.y)))"
  val rebuiltHoles =
    "transform(holes, r -> transform(r, p -> IF(p IS NULL, NULL, named_struct('x', p.x, 'y', p.y))))"

  /** The polygon frame as read from a cache and from parquet, each with the
    * `ArrayData` class its rings reach the polygon expressions as, by mode:
    * the cache's rows are unsafe rows, and so are parquet's interpreted
    * rows, but whole-stage codegen reads the vectorized parquet reader's
    * column vectors in place, as views that take the per-element decode.
    */
  def storedFrames(df: DataFrame, name: String)(
      f: Seq[(String, DataFrame, String => String)] => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    df.write.mode("overwrite").parquet(dir)
    val cached = df.cache()
    cached.count()
    try f(Seq(("cached", cached, _ => "UnsafeArrayData"),
      ("parquet", spark.read.parquet(dir), m => if (m == "codegen") "ColumnarArray" else "UnsafeArrayData")))
    finally cached.unpersist()
  }
}
