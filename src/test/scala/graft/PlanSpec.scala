package graft

import graft.operators.SpatialJoins
import graft.sources.GeoTables
import org.apache.spark.sql.catalyst.expressions.ArrayMin
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the optimizations the engine depends on at scale
  * must actually appear in the executed plan — filters pushed to the
  * parquet scan, columns pruned, dimension sides broadcast, partial
  * aggregation before the shuffle.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan: filter pushdown + column pruning (q_agg_pricing)") {
    val df = SparkEntry.queries("q_agg_pricing")(spark, "/root/testdata/sf0.001")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed to scan:\n$plan")
    // only the 5 needed columns are read, not all 11
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_suppkey"),
      s"column pruning failed: $readSchema")
  }

  test("PIP join broadcasts the exploded polygon side") {
    val polys = GeoTables.syntheticPolygons(spark, 10).toDF
    val pts = GeoTables.syntheticPoints(spark, 100).toDF
    val plan = planOf(SpatialJoins.pipJoin(pts, polys, 9))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"), "must never degrade to a cross join")
  }

  test("PIP plans: no geometry rides the cover explode or its exchange; re-optimizing adds no cover") {
    // pipJoin on both paths, pipJoinSalted and the SQL pip cross join
    // (PipJoinRewrite) share one plan: the cover carries (key, cell_id
    // [, salt]) only, and the geometry is re-joined once per candidate
    import graft.functions.GraftFunctions.pip
    import graft.functions.PolygonCoverExpr
    import org.apache.spark.sql.catalyst.expressions.Explode
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    import org.apache.spark.sql.execution.{GenerateExec, joins}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.ArrayType
    val polys = GeoTables.syntheticPolygons(spark, 10).toDF
    val pts = GeoTables.syntheticPoints(spark, 100).toDF
    val sql = () => pts.crossJoin(polys).where(pip(col("x"), col("y"), col("exterior"), col("holes")))
    val plans = Seq(
      ("pipJoin broadcast", Nil, () => SpatialJoins.pipJoin(pts, polys, 9, Some(true))),
      ("pipJoin shuffle", Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
        () => SpatialJoins.pipJoin(pts, polys, 9, Some(false))),
      ("pipJoinSalted", Nil, () => SpatialJoins.pipJoinSalted(pts, polys, 9, salt = 4)),
      ("SQL pip cross join", Nil, sql),
      ("SQL pip cross join, no broadcast", Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"), sql))
    def covers(p: LogicalPlan) = p.collect { case g @ Generate(Explode(_: PolygonCoverExpr), _, _, _, _, _) => g }
    for ((name, conf, build) <- plans) graft.gen.SparkModes.withConf(conf) {
      val df = build()
      val nodes = planNodes(df)
      val isCover: SparkPlan => Boolean = {
        case GenerateExec(Explode(_: PolygonCoverExpr), _, _, _, _) => true
        case _ => false
      }
      val gens = nodes.filter(isCover)
      assert(gens.size === 1, s"$name: expected one cover explode:\n${df.queryExecution.executedPlan}")
      // the exchanges between the cover explode and its cell join
      val coverExchanges = nodes.collect {
        case e: Exchange if e.find(isCover).nonEmpty && e.find(_.isInstanceOf[joins.BaseJoinExec]).isEmpty => e
      }
      assert(coverExchanges.nonEmpty, s"$name: no exchange above the cover:\n${df.queryExecution.executedPlan}")
      for (n <- gens ++ coverExchanges)
        assert(!n.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"$name: ${n.nodeName} carries geometry ${n.output.mkString(", ")}:\n${df.queryExecution.executedPlan}")
      val optimized = df.queryExecution.optimizedPlan
      assert(covers(optimized).size === 1, s"$name:\n$optimized")
      assert(covers(spark.sessionState.optimizer.execute(optimized)).size === 1,
        s"$name: optimizing again added a cover explode")
    }
  }

  test("tile assignment labels each tile once: one polylabel in the plans, none in a filter") {
    // the PIP cell join makes Spark infer `isnotnull` on the tile's cell;
    // over a nullable label it is pushed below the label projection and
    // re-derives polylabel(...) inside the filter
    import graft.functions.PolylabelExpr
    import graft.operators.Tiling
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.execution.FilterExec
    val tiles = Tiling.tile(graft.sources.Images.table(spark, 16))
    val df = Tiling.assignToPolygons(tiles, GeoTables.syntheticPolygons(spark, 500).toDF, 9)
    assert(df.collect().nonEmpty)
    def labels(e: Expression) = e.collect { case p: PolylabelExpr => p }
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.flatMap(_.expressions.flatMap(labels)).size === 1, s"optimized:\n$optimized")
    assert(optimized.collect { case f: Filter => labels(f.condition) }.flatten.isEmpty,
      s"a filter re-derives the label:\n$optimized")
    val nodes = planNodes(df)
    val executed = df.queryExecution.executedPlan
    assert(nodes.flatMap(_.expressions.flatMap(labels)).size === 1, s"executed:\n$executed")
    assert(nodes.collect { case f: FilterExec => labels(f.condition) }.flatten.isEmpty,
      s"a filter re-derives the label:\n$executed")
  }

  test("aggregation is partial+final (map-side combine before the shuffle)") {
    val df = SparkEntry.queries("q_cell_of")(spark, "/root/testdata/sf0.001")
    val plan = planOf(df)
    assert(plan.contains("partial_count") ||
      "HashAggregate.*partial".r.findFirstIn(plan).isDefined,
      s"no partial aggregation before shuffle:\n$plan")
  }

  test("graft expressions stay inside whole-stage codegen") {
    // every geometry expression implements doGenCode as a static
    // ExprHelpers call, so the stage shows the *(n) codegen markers
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .selectExpr(
        "cell_of(cast(l_orderkey as double)/100.0, cast(l_partkey as double)/1000.0, 10) AS c")
      .selectExpr("c", "cell_parent(c) AS p", "cell_kring(c, 1) AS ring")
    df.write.format("noop").mode("overwrite").save()
    val plan = planOf(df)
    assert(plan.contains("*("), s"stage fell out of whole-stage codegen:\n$plan")
  }

  test("lshBuckets is a pure per-row projection: no exchange, codegen'd") {
    // the bucket build must NOT be the old posexplode -> join -> groupBy
    // shape (512 shuffle rows per vector); one narrow projection per row
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = graft.operators.Similarity.lshBuckets(emb, planes = 8, dim = 64)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"bucket build must not shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"bucket build must not explode:\n$plan")
    assert(plan.contains("*("), s"bucket build fell out of codegen:\n$plan")
  }

  /** Every physical node of `df`'s executed plan, through adaptive query
    * stages, reused exchanges and cached relations (an operator's
    * materialized intermediates); each node once.
    */
  private def planNodes(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    out.toSeq
  }

  test("minhashEstimatePairs: no signature re-derives the shingle ints from sh") {
    // each m_j is array_min over the per-rep shingle-int array; that array
    // must be projected once and read by all numHashes signatures, not
    // rebuilt by transform(sh, shingleInt) inside every array_min
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.Dedup.minhashEstimatePairs(docs, 16, 4, 1, 2)
    try {
      val mins = planNodes(out).flatMap(_.expressions.flatMap(_.collect {
        case m: ArrayMin => m
      }))
      assert(mins.size >= 16, s"expected the 16 signature array_mins, got ${mins.size}")
      val rebuilt = mins.filter(_.child.references.exists(_.name == "sh"))
      assert(rebuilt.isEmpty,
        s"${rebuilt.size} of ${mins.size} array_min(s) re-derive shingle ints from sh")
    } finally graft.operators.Caching.release(out)
  }

  test("phashNearDupPairs reads its input once: one parquet scan in the executed plan") {
    // the exact-duplicate collapse is one aggregate over the input; the
    // representative hashes and the member lists are projections of it,
    // not a join back to a second scan of the input
    val dir = java.nio.file.Files.createTempDirectory("phash-scan").resolve("imgs").toString
    graft.sources.Images.table(spark, 60).toDF.select("image_id", "phash").write.parquet(dir)
    val out = graft.operators.Dedup.phashNearDupPairs(spark.read.parquet(dir), 2)
    try {
      val scans = planNodes(out).count(_.isInstanceOf[FileSourceScanExec])
      assert(scans === 1, s"expected one scan of the input, got $scans")
    } finally graft.operators.Caching.release(out)
  }

  test("IVF list assignment is a pure per-row projection: no exchange, codegen'd") {
    // the codebook is a literal (bounded metadata), so assigning every
    // vector to its nearest centroid must not join or shuffle — the data
    // side of annTopKIvf stays map-only at any scale
    import graft.functions.GraftFunctions.ivf_nearest
    import org.apache.spark.sql.functions._
    graft.GraftSession.install(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cent = (0 until 16 * 64).map(_.toLong % 7L)
    val df = emb.select(col("vec_id"),
      ivf_nearest(transform(col("embedding"),
          v => round(v.cast("double") * 1000.0, 0).cast("long")),
        typedLit(cent), lit(16), lit(0)).as("list"))
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"list assignment must not shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"list assignment must not explode:\n$plan")
    assert(plan.contains("*("), s"list assignment fell out of codegen:\n$plan")
  }

  test("fingerprint is a per-row codegen'd scalar: no explode, no exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = planOf(graft.operators.TextOps.fingerprint(docs))
    assert(!plan.contains("Exchange"), s"fingerprint must not shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"fingerprint must not explode:\n$plan")
    assert(plan.contains("*("), s"fingerprint fell out of whole-stage codegen:\n$plan")
  }

  test("kNN join keeps the label side broadcast in every round") {
    // audited on the cell-disk builder itself, at ring-round and
    // coarsening-step (level, radius) pairs: the composed operator's
    // executed plans hide behind its lineage-truncation (localCheckpoint)
    // boundaries. Automatic broadcasting is off, so a broadcast in the
    // plan is the builder's own.
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.GenerateExec
    val lab = GeoTables.syntheticPoints(spark, 10).toDF
      .select(concat(lit("p"), col("point_id")).as("poly_id"),
        col("x").as("lx"), col("y").as("ly"))
    val pts = GeoTables.syntheticPoints(spark, 100).toDF
    def joins(df: org.apache.spark.sql.DataFrame) = planNodes(df).collect { case j: BaseJoinExec => j }
    def keys(j: BaseJoinExec) = (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
    def explodes(p: SparkPlan) = p.exists(_.isInstanceOf[GenerateExec])
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((level, r) <- Seq((8, 1), (8, 2), (8, 8), (4, 1), (0, 1))) {
        val js = joins(SpatialJoins.cellDiskJoin(pts, lab, level, r, broadcastLabels = true))
        assert(js.size === 1, s"one join per step: $js")
        val j = js.head
        assert(j.isInstanceOf[BroadcastHashJoinExec], s"labels must broadcast:\n$j")
        assert(keys(j).contains("ncell"), s"not keyed on the point disk:\n$j")
        assert(explodes(j.left) && !explodes(j.right), s"the points explode their disk:\n$j")
      }
      // partitioned mode: a shuffle equi-join on the cell key, labels
      // replicated into their disks, never a cross join
      for ((level, r) <- Seq((8, 1), (4, 1))) {
        val js = joins(SpatialJoins.cellDiskJoin(pts, lab, level, r, broadcastLabels = false))
        assert(js.size === 1, s"one join per step: $js")
        val j = js.head
        assert(j.isInstanceOf[SortMergeJoinExec], s"partitioned mode must shuffle:\n$j")
        assert(keys(j).contains("ncell"), s"not keyed on the label disk:\n$j")
        assert(explodes(j.right) && !explodes(j.left), s"the labels explode their disk:\n$j")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("minhashEstimatePairs builds each document's shingle array once") {
    // the zero-shingle filter must not be pushed below the exact-duplicate
    // collapse into the scan, where it would build every shingle array a
    // second time
    import org.apache.spark.sql.catalyst.expressions.ArrayDistinct
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.Dedup.minhashEstimatePairs(docs, 16, 4, 1, 2)
    try {
      val nodes = planNodes(out).filterNot(_.isInstanceOf[FileSourceScanExec])
      val builds = nodes.flatMap(_.expressions.flatMap(_.collect {
        case d: ArrayDistinct if d.references.exists(_.name == "text") => d
      }))
      assert(builds.size === 1, s"shingle array built ${builds.size} times")
    } finally graft.operators.Caching.release(out)
  }

  test("CC phases: partial-agg min + equi-join, never a cross join") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("u", "v")
    for (phase <- Seq(graft.operators.Components.largeStar(e),
                      graft.operators.Components.smallStar(e))) {
      phase.count()
      val plan = planOf(phase)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"CC phase crossed:\n$plan")
      assert(plan.contains("partial_min") || plan.contains("partial min") ||
        plan.contains("HashAggregate"), s"min not partial-agg'd:\n$plan")
    }
  }

  test("contamination: equi-join on the shingle key, never a cross join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.TextOps.contamination(
      docs.where(col("source") === "src0"), docs.where(col("source") =!= "src0"))
    df.count()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"contamination crossed:\n$plan")
  }
}
