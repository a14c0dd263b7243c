package layerbench

import graft.functions.GraftFunctions.polylabel
import graft.geom.{CellIndex, Geom}
import graft.operators.{Caching, SpatialJoins}
import graft.sources.{GeoTables, PointRow, PolyRow}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** One PIP join and one kNN join (k = 5) per job over clustered data.
  * Points: Gaussian hot spots around fixed anchors, a uniform background,
  * and one empty region. Polygons: clustered around the same anchors plus
  * a sparse background on a jittered grid (so the kNN search radius, and
  * with it the round count, does not hinge on the seed); their labels are
  * pre-computed in set-up. All
  * three tables are written to parquet in set-up, so the optimizer sees
  * real file statistics. The PIP join takes its shuffle path (cell
  * equi-join exchanges, AQE skew splitting); `image_pipeline` covers the
  * broadcast path. The seed draws the individual points and
  * polygons; anchors, counts and mixture shares are fixed.
  */
final class JoinClustered(scale: Double = 1.0) extends Workload {
  val name = "join_clustered"
  val nPolys: Int = (800 * scale).toInt
  val nPts: Int = (50000 * scale).toInt
  val nKnn: Int = (3000 * scale).toInt
  val k = 5
  val inputRows: Long = nPts + nKnn
  val warmupJobs = 2
  val anchors = Seq((-12.0, 36.0), (-3.0, 52.0), (6.0, 40.0), (14.0, 55.0), (9.0, 33.0))
  // no point falls in this box (polygons may)
  def empty(x: Double, y: Double): Boolean = x < -8.0 && y > 48.0

  private var polyRows: IndexedSeq[PolyRow] = _
  private var ptsArr: Array[PointRow] = _
  private var polysPath, ptsPath, knnPath, labelsPath: String = _

  private def inWindow(x: Double, y: Double) = x > -20 && x < 20 && y > 30 && y < 60

  def setUp(c: Ctx): Unit = {
    val spark = c.spark
    val rng = new scala.util.Random(c.seed)
    val sizes = Seq(6, 12, 24, 48, 96)
    val background = (nPolys + 1) / 4
    val gridX = math.max(1, math.round(math.sqrt(background * 4.0 / 3.0)).toInt)
    val gridY = (background + gridX - 1) / gridX
    polyRows = (0 until nPolys).map { i =>
      val (cx, cy) =
        if (i % 4 == 3) { // background: one polygon per cell of a jittered grid
          val b = i / 4
          ((b % gridX + 0.5 + (rng.nextDouble() - 0.5) * 0.8) * 40.0 / gridX - 20.0,
            (b / gridX + 0.5 + (rng.nextDouble() - 0.5) * 0.8) * 30.0 / gridY + 30.0)
        } else {
          val (ax, ay) = anchors(i % anchors.size)
          (ax + rng.nextGaussian() * 1.2, ay + rng.nextGaussian() * 1.2)
        }
      val radius = 0.03 + rng.nextDouble() * 0.22
      Oracles.polyRow(s"poly-$i",
        GeoTables.syntheticPolygon(c.seed * 7919L + i, cx, cy, radius, sizes(i % sizes.size)), 0.01)
    }
    ptsArr = (0 until nPts).map { i =>
      var x = 0.0; var y = 0.0
      var ok = false
      while (!ok) {
        if (i % 5 < 3) {
          val (ax, ay) = anchors(i % anchors.size)
          x = ax + rng.nextGaussian() * 1.5; y = ay + rng.nextGaussian() * 1.5
        } else {
          x = -20.0 + rng.nextDouble() * 40.0; y = 30.0 + rng.nextDouble() * 30.0
        }
        ok = inWindow(x, y) && !empty(x, y)
      }
      PointRow(i.toLong, x, y)
    }.toArray
    val sc = spark.sparkContext
    polysPath = c.sub("input/polygons").toString
    ptsPath = c.sub("input/points").toString
    knnPath = c.sub("input/knn_points").toString
    labelsPath = c.sub("input/labels").toString
    spark.createDataset(sc.parallelize(polyRows, 8))(Encoders.product[PolyRow])
      .write.mode("overwrite").parquet(polysPath)
    val pts = spark.createDataset(sc.parallelize(ptsArr.toSeq, 8))(Encoders.product[PointRow])
    pts.write.mode("overwrite").parquet(ptsPath)
    pts.where(col("point_id") < nKnn).coalesce(2).write.mode("overwrite").parquet(knnPath)
    spark.read.parquet(polysPath)
      .withColumn("label", polylabel(col("exterior"), col("holes"), col("tolerance")))
      .select(col("poly_id"), col("label.x").as("lx"), col("label.y").as("ly"))
      .write.mode("overwrite").parquet(labelsPath)
  }

  def pip(c: Ctx): DataFrame = {
    val spark = c.spark
    // the shuffle path: the polygon side is treated as a large table
    SpatialJoins.pipJoin(spark.read.parquet(ptsPath), spark.read.parquet(polysPath),
      broadcastPolygons = Some(false)).select("point_id", "poly_id")
  }

  def knn(c: Ctx): DataFrame =
    SpatialJoins.knnJoin(c.spark.read.parquet(knnPath), c.spark.read.parquet(labelsPath), k)

  val pipCols = Seq("point_id", "poly_id")
  val knnCols = Seq("point_id", "poly_id", "rank")

  private def combine(a: Digest, b: Digest) = Digest(a.n + b.n, a.xor ^ b.xor, a.sum32 + b.sum32)

  def job(c: Ctx): Digest = {
    val p = c.tracer.span("operators.pipJoin")(Digests.noopObserved(pip(c), pipCols))
    val kn = c.tracer.span("operators.knnJoin") {
      val r = knn(c)
      try Digests.noopObserved(r, knnCols) finally Caching.release(r)
    }
    combine(p, kn)
  }

  def check(c: Ctx): (Digest, Seq[Check]) = {
    val spark = c.spark
    val pipOut = c.sub("check/pip").toString
    val knnOut = c.sub("check/knn").toString
    pip(c).write.mode("overwrite").parquet(pipOut)
    val r = knn(c)
    try r.select(knnCols.map(col) :+ col("d2"): _*).write.mode("overwrite").parquet(knnOut)
    finally Caching.release(r)
    val pipBack = spark.read.parquet(pipOut)
    val knnBack = spark.read.parquet(knnOut)
    val digest = combine(Digests.aggregate(pipBack, pipCols), Digests.aggregate(knnBack, knnCols))

    // PIP: brute force over every polygon for a seeded point sample
    val jts = polyRows.map(JtsPolygon.of)
    val sample = Oracles.sample(ptsArr.toIndexedSeq, 400, c.seed ^ 0x91dL)
    val ids = sample.map(_.point_id).toSet
    val got = pipBack.where(col("point_id").isin(ids.toSeq: _*)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = sample.flatMap(p => jts.filter(_.contains(p.x, p.y)).map(j => (p.point_id, j.id))).toSet
    val boundary = (got diff want) ++ (want diff got)
    // a point exactly on an outline may go either way; anything else is a defect
    val pipBad = boundary.filterNot { case (pid, poly) =>
      val p = ptsArr(pid.toInt)
      jts.find(_.id == poly).exists(j => j.covers(p.x, p.y) && !j.contains(p.x, p.y))
    }
    val pipCheck = Check("pip_brute_force", pipBad.isEmpty && want.nonEmpty,
      s"${want.size} sampled matches; diff ${pipBad.take(3)}")

    // kNN: brute-force ranking by (d2, poly_id) over every label
    val labels = spark.read.parquet(labelsPath).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val kSample = Oracles.sample(ptsArr.take(nKnn).toIndexedSeq, 200, c.seed ^ 0x3aL)
    val kIds = kSample.map(_.point_id)
    val gotK = knnBack.where(col("point_id").isin(kIds: _*)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).groupBy(_._1)
      .map { case (id, rs) => id -> rs.sortBy(_._3).map(_._2).toSeq }
    val knnBad = kSample.flatMap { p =>
      val want = labels.map { case (id, lx, ly) =>
        ((p.x - lx) * (p.x - lx) + (p.y - ly) * (p.y - ly), id)
      }.sorted.take(k).map(_._2).toSeq
      if (gotK.getOrElse(p.point_id, Nil) == want) None
      else Some(s"${p.point_id}: ${gotK.get(p.point_id)} vs $want")
    }
    val rowCheck = Check("knn_row_count", knnBack.count() == nKnn.toLong * k, "k rows per point")
    (digest, Seq(pipCheck, Check("knn_brute_force", knnBad.isEmpty, knnBad.take(2).mkString("; ")),
      rowCheck))
  }

  def probes(c: Ctx, out: Layers): Unit = {
    val spark = c.spark
    val polys = polyRows.map(GeoTables.toPolygon)
    val level = SpatialJoins.autoLevel(spark.read.parquet(polysPath))
    queries(c)
    var cells = 0L
    val coverNs = Probes.medianOf(3) {
      cells = 0L
      val t0 = System.nanoTime()
      polys.foreach(p => cells += CellIndex.cover(p, level).length)
      System.nanoTime() - t0
    }
    out.put("geom.cover_cells_per_polygon", cells.toDouble / nPolys)
    out.put("geom.cover_us_per_polygon", coverNs / 1e3 / nPolys)
    Probes.cellOf(ptsArr.map(_.x), ptsArr.map(_.y), level, out)
    // bbox-candidate point/polygon pairs of a point sample
    val pairs = Oracles.sample(ptsArr.toIndexedSeq, 20000, c.seed).flatMap { p =>
      polyRows.indices.filter { i =>
        val e = polys(i).exterior
        p.x >= e.xs.min && p.x <= e.xs.max && p.y >= e.ys.min && p.y <= e.ys.max
      }.map(i => (p.x, p.y, i))
    }
    var hits = 0
    val pipNs = Probes.medianOf(5) {
      val t0 = System.nanoTime()
      pairs.foreach { case (x, y, i) => if (Geom.pointInPolygon(x, y, polys(i))) hits += 1 }
      System.nanoTime() - t0
    }
    out.put("geom.pip_ns_per_test", pipNs.toDouble / math.max(1, pairs.size))

    Digests.noopObserved(pip(c), pipCols)
    queries(c)
    val (pd, pipS, _) = Probes.timed(c, "operators.pipJoin")(Digests.noopObserved(pip(c), pipCols))
    val pipQs = queries(c)
    val cellJoins = Probes.joinsOn(Probes.nodes(pipQs), "cell_id")
    out.put("operators.pip_join_s", pipS)
    out.put("operators.pip_candidates_per_match",
      cellJoins.map(Probes.outputRows).sum.toDouble / math.max(1L, pd.n))
    out.put("operators.pip_broadcast", if (cellJoins.nonEmpty && cellJoins.forall(Probes.isBroadcast)) 1.0 else 0.0)

    val (kr, knnS, kSpan) = Probes.timed(c, "operators.knnJoin")(knn(c))
    val knnQs = queries(c)
    val nOut = try Digests.noopObserved(kr, knnCols).n finally Caching.release(kr)
    val ranked = Probes.joinsOn(Probes.nodes(knnQs), "ncell").map(Probes.outputRows).sum
    out.put("operators.knn_join_s", knnS)
    out.put("operators.knn_jobs", Probes.sparkJobs(c, kSpan).toDouble)
    out.put("operators.knn_candidates_per_output", ranked.toDouble / math.max(1L, nOut))
  }

  private def queries(c: Ctx) = Probes.queries(c)
}
