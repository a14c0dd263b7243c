package graft.operators

import graft.TestSpark
import graft.functions.GraftFunctions._
import graft.gen.BruteForce
import graft.sources.GeoTables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Join correctness against brute-force oracles (SURVEY.md §5.2 item 3). */
class SpatialJoinSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val polys = GeoTables.syntheticPolygons(spark, 25).toDF.cache()
  private lazy val points = GeoTables.syntheticPoints(spark, 2000).toDF.cache()
  /** Every (point_id, poly_id) match, by `Geom.pointInPolygon` on the
    * driver: a `pip`-filtered cross join would itself be planned as a
    * cover join (`PipJoinRewrite`), so it could not catch a cover defect.
    */
  private lazy val brutePip = BruteForce.pipPairs(points, polys)

  // drop the suite-level caches so suites sharing the session (e.g. the
  // global leak tripwires in Bench) never see this suite's blocks
  override def afterAll(): Unit = {
    polys.unpersist(blocking = false)
    points.unpersist(blocking = false)
  }

  test("pipJoin == driver-side brute-force PIP at several levels") {
    assert(brutePip.nonEmpty, "oracle must produce matches for the test to mean anything")
    for (level <- Seq(6, 9, 12); bcast <- Seq(Some(true), Some(false), None)) {
      val got = SpatialJoins.pipJoin(points, polys, level, bcast)
        .select($"point_id", $"poly_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === brutePip, s"level=$level broadcast=$bcast")
    }
  }

  test("pipJoin auto mode routes file-backed oversized polygon tables to sort-merge") {
    // write the polygon table to parquet so the optimizer has REAL size
    // stats, then shrink the broadcast threshold until the auto heuristic
    // (stats > 16x threshold) must refuse to broadcast
    val dir = java.nio.file.Files.createTempDirectory("graft_polyfile_").toString
    polys.write.mode("overwrite").parquet(dir)
    val filePolys = spark.read.parquet(dir)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64") // bytes
      val joined = SpatialJoins.pipJoin(points, filePolys, 9)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"auto mode must fall back to a shuffle join for oversized file-backed tables:\n$plan")
      // and the fallback path is still correct
      val got = joined.select($"point_id", $"poly_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === brutePip)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("pipJoinSalted == brute force") {
    val got = SpatialJoins.pipJoinSalted(points, polys, 9, salt = 4)
      .select($"point_id", $"poly_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === brutePip)
  }

  test("knnJoin == brute-force kNN (k=3)") {
    val labels = polys
      .withColumn("label", polylabel($"exterior", $"holes", $"tolerance"))
      .select($"poly_id", $"label.x".as("lx"), $"label.y".as("ly"))
      .cache()
    val k = 3
    val w = Window.partitionBy("point_id").orderBy($"d2", $"poly_id")
    val brute = points.crossJoin(labels)
      .withColumn("d2", ($"x" - $"lx") * ($"x" - $"lx") + ($"y" - $"ly") * ($"y" - $"ly"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"point_id", $"poly_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

    // the operator contract: callers own the returned frame's storage
    // (its owned round parts) and MUST drop it with Caching.release —
    // these tests also guard the ComponentsSpec/CachingSpec global leak
    // asserts downstream
    val gotDf = SpatialJoins.knnJoin(points, labels, k, level = 8)
    val got = gotDf.select($"point_id", $"poly_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    Caching.release(gotDf)
    assert(got === brute)

    // partitioned variant (no label broadcast): identical output
    val gotPartDf = SpatialJoins.knnJoin(points, labels, k, level = 8,
      broadcastLabels = false)
    val gotPart = gotPartDf.select($"point_id", $"poly_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    Caching.release(gotPartDf)
    labels.unpersist(blocking = false)
    assert(gotPart === brute)
  }

  test("radiusJoin == brute-force distance filter at several levels, both modes") {
    val labels = polys
      .withColumn("label", polylabel($"exterior", $"holes", $"tolerance"))
      .select($"poly_id", $"label.x".as("lx"), $"label.y".as("ly"))
      .cache()
    for (radius <- Seq(1.5, 6.0)) {
      val brute = points.crossJoin(labels)
        .where(($"x" - $"lx") * ($"x" - $"lx") + ($"y" - $"ly") * ($"y" - $"ly")
          <= lit(radius * radius))
        .select($"point_id", $"poly_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(brute.nonEmpty, s"radius $radius oracle must match something")
      // AutoLevel (k=1 ring), a coarser grid (whole disk inside one ring),
      // and a DELIBERATELY too-fine grid (k > 1: the boundary-straddle +1
      // must keep the ring cover lossless)
      for (level <- Seq(SpatialJoins.AutoLevel, 4, 9);
           bcast <- Seq(true, false)) {
        val out = SpatialJoins.radiusJoin(points, labels, radius,
          level = level, broadcastLabels = bcast)
        val got = out.select($"point_id", $"poly_id")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(got === brute, s"radius=$radius level=$level broadcast=$bcast")
        if (level == 9 && !bcast) {
          val plan = out.queryExecution.executedPlan.toString
          assert(!plan.contains("Cartesian"),
            s"radius join must stay a cell equi-join:\n$plan")
        }
      }
    }
    labels.unpersist(blocking = false)
  }

  test("radiusAutoLevel: finest cell exceeding the radius, clamped at grid bounds") {
    assert(SpatialJoins.radiusAutoLevel(2.0) === 6)      // 180/64=2.81 > 2 > 180/128
    assert(SpatialJoins.radiusAutoLevel(200.0) === 0)    // radius > SpanY -> coarsest
    assert(SpatialJoins.radiusAutoLevel(1e-9) === 26)    // clamped at MaxLevel
  }

  test("knnJoin multi-round carry-forward: sparse labels, many rounds == brute") {
    // 25 labels over a level-11 grid: almost nothing resolves in round 1,
    // so rounds 2..4 re-explode the growing disk for the unresolved tail
    // (and the fallback catches the rest)
    val labels = polys
      .withColumn("label", polylabel($"exterior", $"holes", $"tolerance"))
      .select($"poly_id", $"label.x".as("lx"), $"label.y".as("ly"))
    val k = 4
    val w = Window.partitionBy("point_id").orderBy($"d2", $"poly_id")
    val brute = points.limit(500).crossJoin(labels)
      .withColumn("d2", ($"x" - $"lx") * ($"x" - $"lx") + ($"y" - $"ly") * ($"y" - $"ly"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"point_id", $"poly_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    for (bcast <- Seq(true, false)) {
      val got = SpatialJoins.knnJoin(points.limit(500), labels, k, level = 11,
        rounds = Seq(1, 2, 4, 8, 16), broadcastLabels = bcast)
      val gotSet = got.select($"point_id", $"poly_id", $"rank")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      Caching.release(got)
      assert(gotSet === brute, s"broadcastLabels=$bcast")
    }
  }

  test("knnJoin releases every cached intermediate (only the result stays)") {
    val labels = polys
      .withColumn("label", polylabel($"exterior", $"holes", $"tolerance"))
      .select($"poly_id", $"label.x".as("lx"), $"label.y".as("ly"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = SpatialJoins.knnJoin(points.limit(400), labels, 3, level = 9)
    out.count()
    Caching.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"knnJoin leaked ${leaked.size} cached RDD(s)")
  }

  test("knnJoin adaptive fallback: isolated points, huge label side, no cartesian anywhere") {
    // adversarial density-mismatch layout (the old cross-join fallback's
    // cliff): labels clustered in one corner, probe points isolated far
    // away, a fine grid level so the caller's rounds resolve NOTHING, and
    // cell-partitioned (non-broadcast) label mode
    val labels = spark.range(2000).select(
      concat(lit("L"), $"id").as("poly_id"),
      (($"id" % 40) / 20.0 + 100.0).as("lx"),   // lon 100..102
      (($"id" / 40 % 40) / 20.0 + 40.0).as("ly")) // lat 40..42
    val iso = spark.range(50).select(
      $"id".as("point_id"),
      ($"id" % 10 - 170.0).as("x"),             // lon -170..-160: far away
      ($"id" / 10 - 60.0).as("y"))              // lat -60..-56

    // every executed plan the operator runs goes past this listener;
    // the forbidden nodes are the unconditioned-product shapes
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        plans.add(qe.executedPlan.toString)
    }
    spark.listenerManager.register(listener)
    val gotSet = try {
      val got = SpatialJoins.knnJoin(iso, labels, k = 3, level = 12,
        rounds = Seq(1, 2), broadcastLabels = false)
      val g = got.select($"point_id", $"poly_id", $"rank")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      Caching.release(got)
      g
    } finally {
      // listener delivery is async; drain before unregistering/asserting
      Thread.sleep(1500)
      spark.listenerManager.unregister(listener)
    }
    // only operator-issued actions were captured (the brute-force oracle
    // below, which legitimately cross-joins, runs after unregistering)
    val offenders = plans.toArray(Array.empty[String]).filter(p =>
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
    assert(offenders.isEmpty,
      s"operator built a cartesian/BNLJ plan:\n${offenders.mkString("\n---\n")}")
    assert(plans.size > 0, "listener captured nothing — the audit didn't run")
    val w = Window.partitionBy("point_id").orderBy($"d2", $"poly_id")
    val brute = iso.crossJoin(labels)
      .withColumn("d2", ($"x" - $"lx") * ($"x" - $"lx") + ($"y" - $"ly") * ($"y" - $"ly"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .select($"point_id", $"poly_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(gotSet === brute, "adaptive fallback must still produce exact kNN")
  }

  test("knnJoin extension round shape: cell equi-join in both modes, broadcast only when asked") {
    // audited on the cell-disk builder every kNN step and radiusJoin run,
    // at a coarsening step's level and radius (the composed operator's
    // executed plans hide behind its lineage-truncation boundaries);
    // automatic broadcasting is off so only the builder's own hint counts
    val lab = spark.range(10).select(concat(lit("p"), $"id").as("poly_id"),
      ($"id" * 1.0).as("lx"), ($"id" * 0.5).as("ly"))
    val pts = spark.range(20).select($"id".as("point_id"),
      ($"id" * 2.0 - 120.0).as("x"), ($"id" * 1.0 - 60.0).as("y"))
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (bcast <- Seq(true, false)) {
        val plan = SpatialJoins.cellDiskJoin(pts, lab, level = 5, r = 1, broadcastLabels = bcast)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          s"extension round must stay an equi-join (bcast=$bcast):\n$plan")
        assert(plan.contains("BroadcastHashJoin") === bcast,
          s"broadcast exactly when asked (bcast=$bcast):\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  // labels in three tight clusters, points spread over most of the globe
  // (far points resolve only in the coarsening steps after the caller's
  // rounds) plus a few around the clusters
  private def clusteredLabels = spark.range(300).select(
    concat(lit("c"), $"id").as("poly_id"),
    (($"id" % 3) * 40.0 - 40.0 + ($"id" * 7 % 50) / 100.0).as("lx"),
    (($"id" % 3) * 20.0 - 20.0 + ($"id" * 11 % 50) / 100.0).as("ly"))
  private def spreadPoints = spark.range(400).select($"id".as("point_id"),
      ($"id" * 37 % 340 - 170.0 + 0.25).as("x"), ($"id" * 53 % 160 - 80.0 + 0.5).as("y"))
    .union(spark.range(400, 460).select($"id".as("point_id"),
      (($"id" % 3) * 40.0 - 42.0 + ($"id" * 13 % 40) / 10.0).as("x"),
      (($"id" % 3) * 20.0 - 22.0 + ($"id" * 17 % 40) / 10.0).as("y")))

  test("knnJoin and radiusJoin == brute force on clustered labels through coarsening steps, both modes") {
    val labels = clusteredLabels.cache()
    val pts = spreadPoints.cache()
    val k = 4
    val w = Window.partitionBy("point_id").orderBy($"d2", $"poly_id")
    val ranked = pts.crossJoin(labels)
      .withColumn("d2", ($"x" - $"lx") * ($"x" - $"lx") + ($"y" - $"ly") * ($"y" - $"ly"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"point_id", $"poly_id", $"rank", $"d2")
      .collect()
    val brute = ranked.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // the caller's rounds at level 10 reach 2 cells (< 0.36 degrees): a
    // point whose nearest label lies farther needs a coarsening step
    val ringReach = 2 * graft.geom.CellIndex.SpanY / graft.geom.CellIndex.gridSize(10)
    assert(ranked.exists(r => r.getInt(2) == 1 && math.sqrt(r.getDouble(3)) > 10 * ringReach),
      "the layout must force coarsening steps")
    for (bcast <- Seq(true, false)) {
      val got = SpatialJoins.knnJoin(pts, labels, k, level = 10, rounds = Seq(1, 2),
        broadcastLabels = bcast)
      val gotSet = got.select($"point_id", $"poly_id", $"rank")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      Caching.release(got)
      assert(gotSet === brute, s"knn broadcastLabels=$bcast")
    }
    val radius = 3.0
    val bruteR = pts.crossJoin(labels)
      .where(($"x" - $"lx") * ($"x" - $"lx") + ($"y" - $"ly") * ($"y" - $"ly")
        <= lit(radius * radius))
      .select($"point_id", $"poly_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bruteR.nonEmpty, "radius oracle must match something")
    // level 8: the disk spans k = 5 cells per axis
    for (bcast <- Seq(true, false)) {
      val got = SpatialJoins.radiusJoin(pts, labels, radius, level = 8, broadcastLabels = bcast)
        .select($"point_id", $"poly_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === bruteR, s"radius broadcastLabels=$bcast")
    }
    labels.unpersist(blocking = false)
    pts.unpersist(blocking = false)
  }

  // caller columns named like the joins' cell keys
  private def keyedPoints =
    points.withColumn("cell", $"point_id" * 10).withColumn("cell_id", $"point_id" + 7)

  test("radiusJoin passes a caller's cell column through, both modes") {
    val labels = knnLabels.cache()
    val pts = keyedPoints
    for (bcast <- Seq(true, false)) {
      val out = SpatialJoins.radiusJoin(pts, labels, 6.0, broadcastLabels = bcast)
      assert(out.columns.toSeq === pts.columns.toSeq :+ "poly_id" :+ "dist")
      val rows = out.select($"point_id", $"cell", $"cell_id").collect()
      assert(rows.nonEmpty)
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 10 && r.getLong(2) == r.getLong(0) + 7),
        s"radius broadcastLabels=$bcast rewrote a caller column")
    }
    labels.unpersist(blocking = false)
  }

  test("pipJoin passes a caller's cell_id column through, both paths") {
    val pts = keyedPoints
    for (bcast <- Seq(Some(true), Some(false))) {
      val out = SpatialJoins.pipJoin(pts, polys, 9, bcast)
      val rows = out.select($"point_id", $"cell_id", $"cell").collect()
      assert(rows.nonEmpty)
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) + 7 && r.getLong(2) == r.getLong(0) * 10),
        s"pip broadcast=$bcast rewrote a caller column")
    }
  }

  test("knnJoin resolves every point exactly k times") {
    val labels = polys
      .withColumn("label", polylabel($"exterior", $"holes", $"tolerance"))
      .select($"poly_id", $"label.x".as("lx"), $"label.y".as("ly"))
    val got = SpatialJoins.knnJoin(points.limit(300), labels, 2, level = 10)
    val counts = got.groupBy("point_id").count().select("count").distinct().collect()
    val nDistinct = got.select("point_id").distinct().count()
    Caching.release(got)
    assert(counts.map(_.getLong(0)).toSet === Set(2L))
    assert(nDistinct === 300)
  }

  test("AutoLevel (default level): pipJoin and knnJoin pick a level and stay exact") {
    val gotP = SpatialJoins.pipJoin(points, polys) // no level passed
      .select($"point_id", $"poly_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotP === brutePip)

    val labels = polys
      .withColumn("label", polylabel($"exterior", $"holes", $"tolerance"))
      .select($"poly_id", $"label.x".as("lx"), $"label.y".as("ly"))
      .cache()
    val w = Window.partitionBy("point_id").orderBy($"d2", $"poly_id")
    val bruteK = points.crossJoin(labels)
      .withColumn("d2", ($"x" - $"lx") * ($"x" - $"lx") + ($"y" - $"ly") * ($"y" - $"ly"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .select($"point_id", $"poly_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val gotKDf = SpatialJoins.knnJoin(points, labels, 3) // no level passed
    val gotK = gotKDf.select($"point_id", $"poly_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    Caching.release(gotKDf)
    labels.unpersist(blocking = false)
    assert(gotK === bruteK)
  }

  test("autoLevel scales with polygon bbox; knnAutoLevel with label count") {
    def rects(hw: Double) = spark.range(50).select(array(
      struct(lit(-hw).as("x"), lit(-hw).as("y")),
      struct(lit(hw).as("x"), lit(-hw).as("y")),
      struct(lit(hw).as("x"), lit(hw).as("y")),
      struct(lit(-hw).as("x"), lit(hw).as("y")),
      struct(lit(-hw).as("x"), lit(-hw).as("y"))).as("exterior"))
    val fine = SpatialJoins.autoLevel(rects(0.05))   // parcel-sized
    val coarse = SpatialJoins.autoLevel(rects(45.0)) // continent-sized
    assert(fine > coarse,
      s"small polygons must get a finer grid (fine=$fine coarse=$coarse)")
    assert(coarse >= 0 && fine <= graft.geom.CellIndex.MaxLevel)
    // degenerate side falls back to the historical constant
    assert(SpatialJoins.autoLevel(rects(0.0)) === 9)

    // density rule: grid cells ~ label count (Range plans carry rowCount)
    def labs(n: Long) = spark.range(n).select($"id".as("poly_id"),
      lit(0.0).as("lx"), lit(0.0).as("ly"))
    assert(SpatialJoins.knnAutoLevel(labs(4096)) === 6) // 4^6 = 4096
    assert(SpatialJoins.knnAutoLevel(labs(16)) === 2)
    assert(SpatialJoins.knnAutoLevel(labs(1)) === 1) // floor
  }

  private def knnLabels = polys
    .withColumn("label", polylabel($"exterior", $"holes", $"tolerance"))
    .select($"poly_id", $"label.x".as("lx"), $"label.y".as("ly"))

  // RDD ids cached beyond `before`, polled briefly: block removal runs
  // asynchronously (blocking = false)
  private def leakedSince(before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10e9.toLong
    def now = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    while (now.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    now
  }

  test("knnJoin: release of a select/orderBy frame over the result leaks nothing, both label modes") {
    points.count()
    for (bcast <- Seq(true, false)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = SpatialJoins.knnJoin(points.limit(400), knnLabels, 3, level = 9,
        broadcastLabels = bcast)
      // the shape SparkEntry's knn queries build over the result
      val derived = out.select($"point_id", $"poly_id", $"rank").orderBy("point_id", "rank")
      assert(derived.collect().length === 400 * 3)
      Caching.release(derived)
      val leaked = leakedSince(before)
      assert(leaked.isEmpty, s"broadcastLabels=$bcast leaked ${leaked.size} cached RDD(s)")
    }
  }

  test("knnJoin with an empty point or label side: no rows, five columns, nothing leaked") {
    points.count()
    val cols = Seq("point_id", "poly_id", "d2", "dist", "rank")
    for ((side, pts, labs) <- Seq(
        ("points", points.where(lit(false)), knnLabels),
        ("labels", points.limit(50), knnLabels.where(lit(false))))) {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = SpatialJoins.knnJoin(pts, labs, 3, level = 9)
      assert(out.columns.toSeq === cols, s"empty $side")
      assert(out.collect().isEmpty, s"empty $side")
      Caching.release(out)
      val leaked = leakedSince(before)
      assert(leaked.isEmpty, s"empty $side leaked ${leaked.size} cached RDD(s)")
    }
  }

  test("knnJoin + release log no 'locally checkpointed' WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try {
      // sparse enough for several rounds, so lazy advancement re-checkpoints
      val out = SpatialJoins.knnJoin(points.limit(400), knnLabels, 3, level = 11,
        rounds = Seq(1, 2, 4, 8, 16))
      out.count()
      Caching.release(out)
    } finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    import scala.jdk.CollectionConverters._
    val warned = lines.asScala.filter(_.contains("locally checkpointed"))
    assert(warned.isEmpty, s"${warned.size} checkpoint-release WARN line(s): ${warned.headOption}")
  }
}
