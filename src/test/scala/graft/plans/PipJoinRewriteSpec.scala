package graft.plans

import graft.TestSpark
import graft.functions.GraftFunctions._
import graft.functions.PolygonCoverExpr
import graft.sources.GeoTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, Project, RepartitionByExpression}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule must turn a naive pip-filtered cross join into a
  * cell equi-join WITHOUT changing results.
  */
class PipJoinRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val polys = GeoTables.syntheticPolygons(spark, 15).toDF.cache()
  private lazy val points = GeoTables.syntheticPoints(spark, 800).toDF.cache()

  /** A one-row polygon side: the polygon of [[polys]] that holds the most
    * [[points]], so a brute-force comparison over it is not empty.
    */
  private lazy val fullest = {
    val best = graft.gen.BruteForce.pipPairs(points, polys).toSeq.groupBy(_._2).maxBy(_._2.size)._1
    GeoTables.syntheticPolygons(spark, 15).collect().filter(_.poly_id == best).toSeq.toDF()
  }

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

  test("select *, a column-pruned and a count() query over one polygon side plan the same level") {
    // without CBO a Project drops the side's row count; the level must be
    // read through it, as the salt is
    val joined = points.crossJoin(fullest).where(pip($"x", $"y", $"exterior", $"holes"))
    def levels(df: DataFrame): Seq[Any] = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case c: PolygonCoverExpr => c.level.eval() }))
    val pruned = joined.select("point_id", "poly_id")
    val counted = joined.groupBy().count()
    assert(levels(joined) === Seq(6), joined.queryExecution.optimizedPlan.toString)
    assert(levels(pruned) === levels(joined), pruned.queryExecution.optimizedPlan.toString)
    assert(levels(counted) === levels(joined), counted.queryExecution.optimizedPlan.toString)
    val want = graft.gen.BruteForce.pipPairCounts(points, fullest)
    assert(want.nonEmpty)
    val got = joined.collect().map(r => (r.getAs[Long]("point_id"), r.getAs[String]("poly_id")))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    assert(got === want)
    assert(pruned.collect().map(r => (r.getLong(0), r.getString(1))).groupBy(identity)
      .map { case (k, v) => k -> v.length } === want)
    assert(counted.head().getLong(0) === want.values.sum.toLong)
  }

  test("rule leaves a cross join over a non-deterministic polygon side alone") {
    // the PIP plan reads the polygon side twice; two reads of rand() differ
    val noisy = polys.withColumn("r", org.apache.spark.sql.functions.rand(7))
    val plan = points.crossJoin(noisy).where(pip($"x", $"y", $"exterior", $"holes"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("polygon_cover"), s"rewrite fired over rand():\n$plan")
  }

  test("rule hints no broadcast over a stats-less polygon side; Spark's threshold decides") {
    // an RDD-backed frame has no stats: the rule must not force a
    // broadcast build of what may be a huge table
    val rdd = spark.createDataFrame(polys.rdd, polys.schema)
    val df = points.crossJoin(rdd).where(pip($"x", $"y", $"exterior", $"holes"))
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.toString.contains("polygon_cover"), s"rewrite did not fire:\n$optimized")
    val hinted = optimized.collect { case j: Join if j.hint != JoinHint.NONE => j.hint }
    assert(hinted.isEmpty, s"forced broadcast over unknown stats: $hinted\n$optimized")
    val physical = df.queryExecution.sparkPlan
    // (the small cached point side may still be broadcast, by Spark's own choice)
    assert(physical.collect { case b: BroadcastHashJoinExec if b.buildSide == BuildRight => b }.isEmpty,
      s"polygon side broadcast:\n$physical")
    assert(df.select("point_id", "poly_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      graft.gen.BruteForce.pipPairs(points, polys))
  }

  test("shuffle-path rewrite over fewer polygons than partitions salts the geometry re-join") {
    // one polygon row: unsalted, all its refines would run in one task
    val one = fullest
    val leaf = one.queryExecution.optimizedPlan
    assert(PipJoinRewrite.saltFor(leaf) === spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // column pruning puts a Project over the leaf; the row count holds through it
    assert(PipJoinRewrite.saltFor(Project(leaf.output.take(2), leaf)) === PipJoinRewrite.saltFor(leaf))
    graft.gen.SparkModes.withConf(Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val df = points.crossJoin(one).where(pip($"x", $"y", $"exterior", $"holes"))
      val physical = df.queryExecution.sparkPlan
      val geometryJoins = physical.collect {
        case j: SortMergeJoinExec if j.right.output.exists(_.dataType.isInstanceOf[ArrayType]) => j
      }
      assert(geometryJoins.size === 1 && geometryJoins.head.rightKeys.size === 2,
        s"geometry re-join not keyed on (key, salt):\n$physical")
      // the polygon's copies land one per partition, so its refines run
      // on every task (hashing (key, salt) can put all copies in one)
      val polyCopies = df.queryExecution.optimizedPlan.collect {
        case r: RepartitionByExpression if r.child.output.exists(_.dataType.isInstanceOf[ArrayType]) => r
      }
      assert(polyCopies.size === 1, df.queryExecution.optimizedPlan.toString)
      val perPartition = ColumnBridge.frame(spark, polyCopies.head).groupBy(spark_partition_id()).count()
        .collect().map(_.getLong(1)).toSeq
      assert(perPartition === Seq.fill(PipJoinRewrite.saltFor(one.queryExecution.optimizedPlan))(1L))
      val want = graft.gen.BruteForce.pipPairs(points, one)
      assert(want.nonEmpty)
      assert(df.select("point_id", "poly_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet === want)
    }
  }

  test("rule leaves non-spatial joins untouched") {
    val a = spark.range(10).toDF("ida")
    val b = spark.range(10).toDF("idb")
    val df = a.crossJoin(b).where($"ida" === $"idb")
    assert(df.count() === 10)
  }
}
