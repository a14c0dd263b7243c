package graft.plans

import graft.TestSpark
import graft.functions.GraftFunctions._
import graft.sources.GeoTables
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule must turn a naive pip-filtered cross join into a
  * cell equi-join WITHOUT changing results.
  */
class PipJoinRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val polys = GeoTables.syntheticPolygons(spark, 15).toDF.cache()
  private lazy val points = GeoTables.syntheticPoints(spark, 800).toDF.cache()

  test("naive cross join + pip filter is rewritten to a cell equi-join") {
    val naive = points.crossJoin(polys)
      .where(pip($"x", $"y", $"exterior", $"holes"))
      .select("point_id", "poly_id")
    val plan = naive.queryExecution.optimizedPlan.toString
    assert(plan.contains("polygon_cover"), s"rewrite did not fire:\n$plan")
    assert(plan.contains("cell_of"), s"no cell equi key:\n$plan")
    val physical = naive.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"),
      s"cross product survived:\n$physical")
  }

  test("rewritten plan returns exactly the brute-force result set") {
    val viaRule = points.crossJoin(polys)
      .where(pip($"x", $"y", $"exterior", $"holes"))
      .select("point_id", "poly_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // ground truth: driver-side evaluation of the per-edge predicate
    val want = graft.gen.BruteForce.pipPairs(points, polys)
    assert(viaRule === want)
    assert(want.nonEmpty)
  }

  test("rewrite level scales with polygon-side row-count stats, clamped") {
    def planOf(n: Long) = spark.range(n).queryExecution.optimizedPlan
    val small = PipJoinRewrite.levelFor(planOf(100))
    val big = PipJoinRewrite.levelFor(planOf(1000000L))
    assert(small < big, s"more polygons must get a finer prefilter ($small vs $big)")
    assert(small >= 6 && big <= 12)
    assert(PipJoinRewrite.levelFor(planOf(1)) === 6) // clamp floor
  }

  test("rule leaves non-spatial joins untouched") {
    val a = spark.range(10).toDF("ida")
    val b = spark.range(10).toDF("idb")
    val df = a.crossJoin(b).where($"ida" === $"idb")
    assert(df.count() === 10)
  }
}
