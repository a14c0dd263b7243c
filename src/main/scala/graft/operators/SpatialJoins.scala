package graft.operators

import graft.functions.{CellOfExpr, PipExpr, PolygonCoverExpr}
import graft.functions.GraftFunctions._
import graft.geom.CellIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.DeduplicateRelations
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, AttributeMap, AttributeReference,
  Cast, DirectShufflePartitionID, EqualTo, Explode, Expression, Literal, Multiply, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, Generate, HintInfo, Join,
  JoinHint, LogicalPlan, Project, RepartitionByExpression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Distributed spatial joins (SURVEY.md §2.2 E7-E9), built the Spark-first
  * way: declarative cell equi-joins that Catalyst/AQE can plan (broadcast
  * vs sort-merge, skew splitting), with the exact geometry refine as a
  * post-join filter expression. No theta joins, no cross joins on the hot
  * path, no driver-side loops over rows.
  */
object SpatialJoins {

  /** Sentinel `level`: let the operator pick the cell level itself from
    * the data (see [[autoLevel]] / the kNN density rule). A wrong manual
    * level is the engine's biggest 100x-scale foot-gun — a too-fine grid
    * makes PIP covers explode 4x per level and leaves kNN round 1
    * resolving nothing; a too-coarse one stops pruning.
    */
  val AutoLevel: Int = Int.MinValue

  /** PIP cell level when the polygon side says nothing about its size:
    * [[autoLevel]]'s answer for an empty or degenerate sample, and
    * `PipJoinRewrite.levelFor`'s for a side with no row-count stats.
    * Coarse enough that any polygon's cover stays small, fine enough to
    * prune.
    */
  val FallbackLevel = 9

  /** Cell level for a PIP join, from the polygon side's TYPICAL bbox: the
    * level at which the MEDIAN sampled polygon's bbox spans ~16 cover
    * cells (the per-polygon rule CellIndex.coverLevelFor applies to one
    * polygon, aggregated here with an approximate median over a bounded
    * sample of 1,024 polygons — robust to one Norway in a sea of parcels;
    * the skew machinery, AQE + salting, owns the outliers). One tiny
    * sampling job (`limit` keeps it a partial scan) per auto-level join.
    */
  def autoLevel(polygons: DataFrame): Int = {
    val fx = expr("array_max(transform(exterior, p -> p.x))") -
      expr("array_min(transform(exterior, p -> p.x))")
    val fy = expr("array_max(transform(exterior, p -> p.y))") -
      expr("array_min(transform(exterior, p -> p.y))")
    val row = polygons.select(col("exterior")).limit(1024)
      .select(greatest(fx / CellIndex.SpanX, fy / CellIndex.SpanY).as("f"))
      .agg(expr("percentile_approx(f, 0.5, 1000)")).head()
    val frac = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    if (frac <= 0.0) FallbackLevel
    else CellIndex.levelForSpan(frac, 16)
  }

  /** Cell level for a kNN join, from label density: ~one label per cell
    * (grid of 4^level cells ≈ label count), so a kRing(1) disk carries ~9
    * expected candidates and round 1's guarantee usually resolves typical
    * k. Uses optimizer rowCount stats when present; otherwise one count
    * of the label side (which knnJoin re-derives anyway).
    */
  def knnAutoLevel(labels: DataFrame): Int = {
    val n = labels.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(labels.count())
    val lvlF = math.round(math.log(math.max(1L, n).toDouble) / math.log(4.0)).toInt
    math.max(1, math.min(CellIndex.MaxLevel, lvlF))
  }

  /** Point-in-polygon join.
    *
    * points:   (..., x: double, y: double)
    * polygons: (poly_id, exterior, holes), `poly_id` unique: the geometry
    *           re-join is keyed on it, so a polygon whose id appears on k
    *           rows matches each of its points k x k times.
    *
    * Output: `poly_id`, then every point column, then the polygon side's
    * other columns except `exterior`, `holes` and `tolerance`.
    *
    * The plan is [[pipPlan]]'s, keyed on `poly_id`: stage 1 joins the
    * points' cells against the slim `(poly_id, cell_id)` cover at
    * `level`, stage 2 re-joins the geometry once per candidate and
    * refines with the exact `pip`. Broadcasting geometry per cover cell
    * made the (single-threaded) broadcast-relation build the dominant
    * serial fraction at high parallelism — measured as the round-1
    * pip_join scaling-efficiency miss (0.43) — hence two slim broadcasts.
    *
    * `broadcastPolygons`: Some(true)/Some(false) force the path; None
    * (default) takes [[broadcastCover]]'s stats-only decision.
    */
  def pipJoin(points: DataFrame, polygons: DataFrame, level: Int = AutoLevel,
              broadcastPolygons: Option[Boolean] = None): DataFrame = {
    val lvl = if (level == AutoLevel) autoLevel(polygons) else level
    val doBroadcast = broadcastPolygons.getOrElse(broadcastCover(polygons.queryExecution.optimizedPlan, lvl,
      points.sparkSession.sessionState.conf, ifUnknown = true))
    pipJoinById(points, polygons, lvl, doBroadcast, salt = 1, distinctCover = false)
  }

  /** PIP join with explicit salting for hot cells (E8): dense point
    * regions joined against mega-polygon covers make single cell_ids
    * carry a disproportionate share of the shuffle, and one mega-polygon
    * a disproportionate share of the refines. Points get a deterministic
    * salt in [0, salt); the slim `(poly_id, cell_id)` cover rows and the
    * polygon rows are each replicated across all salt values, so one hot
    * cell, and one polygon's refines, fan out over `salt` shuffle
    * partitions (the re-join places them, see [[pipPlan]]). The geometry
    * is copied `salt` times, never once per cover cell. Neither side is
    * hinted for broadcast. Same plan and output columns as [[pipJoin]],
    * but `poly_id` need not be unique: the cover is de-duplicated on
    * `(cell_id, poly_id)`, so a polygon whose id appears on k rows matches
    * each of its points k times, as a cross join does. Use the unsalted
    * variant + AQE when in doubt; this one is for known-pathological skew.
    */
  def pipJoinSalted(points: DataFrame, polygons: DataFrame, level: Int,
                    salt: Int): DataFrame =
    pipJoinById(points, polygons, level, broadcast = false, salt, distinctCover = true)

  /** [[pipPlan]] keyed on `poly_id`, in [[pipJoin]]'s output columns. The
    * point side's cell and salt columns are private, so a caller's own
    * `cell_id` column passes through.
    */
  private def pipJoinById(points: DataFrame, polygons: DataFrame, level: Int,
                          broadcast: Boolean, salt: Int, distinctCover: Boolean): DataFrame = {
    val spark = points.sparkSession
    // the analyzer gives the two sides disjoint attribute ids, as for any join
    val Join(pts, polys, _, _, _) = points.crossJoin(polygons).queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    def attr(side: LogicalPlan, name: String): Attribute =
      side.output.find(a => resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(s"pipJoin: no column `$name` in ${side.schema.simpleString}"))
    val polyId = attr(polys, "poly_id")
    val pip = PipExpr(attr(pts, "x"), attr(pts, "y"), attr(polys, "exterior"), attr(polys, "holes"))
    val plan = pipPlan(pts, polys, pip, pip, polyId, level, broadcast, salt, distinctCover)
    val dropped = Seq("poly_id", "exterior", "holes", "tolerance")
    ColumnBridge.frame(spark, Project(polyId +: plan.output.filterNot(a => dropped.exists(resolver(a.name, _))), plan))
  }

  /** Whether a PIP join broadcasts its polygon side, from `polygons`'
    * optimizer stats alone (no job, so the optimizer rule takes it too):
    * when the stats are unknown, `ifUnknown`; else only when the geometry
    * plus the slim cover at `level` fit in 16x autoBroadcastJoinThreshold.
    * So a mega-polygon parquet table routes to the sort-merge path
    * automatically (AQE still splits skewed cells). [[pipJoin]] passes
    * `ifUnknown = true`, the dimension-table assumption, and a caller with
    * a genuinely huge stats-less table passes `Some(false)`; the optimizer
    * rule, whose SQL callers have no such way out, passes false and leaves
    * a stats-less side to Spark's own threshold.
    */
  private[graft] def broadcastCover(polygons: LogicalPlan, level: Int, conf: SQLConf,
                                    ifUnknown: Boolean): Boolean = {
    val thr = conf.autoBroadcastJoinThreshold
    if (thr <= 0) false // user disabled broadcasting entirely — honor it
    else {
      val st = polygons.stats
      // "unknown stats" means the plan contains a stats-less LEAF (its
      // sizeInBytes is the conf's defaultSizeInBytes sentinel). The leaf
      // check matters: a projection/filter over a stats-less leaf SCALES
      // the sentinel, so a top-of-plan equality test would misread any
      // such frame as known-huge. A plan whose leaves all have real stats
      // but whose estimate multiplied its way to a huge number is
      // KNOWN-huge — no broadcast.
      val sentinel = BigInt(conf.defaultSizeInBytes)
      // A plan MIXING a stats-less leaf with a known-huge scan (join /
      // union over both) must NOT read as "unknown => broadcast": that
      // would flip the safe failure mode (skip broadcast, slower) into
      // a multi-GB broadcast build and a driver OOM. "Unknown" only
      // when every known leaf is already individually under the
      // broadcast cap — then the stats-less part is the only wildcard
      // and the dimension-table assumption stands.
      val (statless, known) = polygons.collectLeaves().partition(_.stats.sizeInBytes == sentinel)
      val unknown = (st.sizeInBytes == sentinel || statless.nonEmpty) &&
        known.forall(_.stats.sizeInBytes <= BigInt(thr) * 16)
      if (unknown) ifUnknown
      else {
        // size what is actually broadcast: the slim (cell_id, key) cover
        // fan-out (16 B x cells-per-polygon; rowCount when CBO stats
        // exist, else geometry bytes as a same-order proxy — a
        // ~100-vertex polygon's geometry and its cover rows are
        // comparable at the nominal level 10) PLUS the geometry once per
        // polygon. Cover fan-out grows ~4x per level past the nominal
        // measurement level (area-dominated covers), so the per-polygon
        // cell estimate scales with `level` instead of pinning 64 — a
        // level-14 cover is ~256x a level-10 one.
        val cellsPerPoly =
          if (level >= 10) BigInt(64) << (2 * math.min(level - 10, 16))
          else (BigInt(64) >> (2 * (10 - level))) max BigInt(4)
        val coverBytes = st.rowCount.map(rc => rc * 16 * cellsPerPoly)
          .getOrElse(st.sizeInBytes * cellsPerPoly / 64)
        st.sizeInBytes + coverBytes <= BigInt(thr) * 16
      }
    }
  }

  /** The one PIP join plan (SURVEY.md E7/E8, §4.2), which [[pipJoin]],
    * [[pipJoinSalted]] and `PipJoinRewrite` all build:
    *
    * {{{
    *   Project points.output ++ polygons.output
    *     Filter refine                                   <- exact refine
    *       Join Inner (cover key = key [AND pip_part])   <- geometry once per candidate
    *         [Repartition pip_part] Project points.output, cover key [, pip_part]
    *           Join Inner (cell_of(x, y, level) = cell_id [AND salt])
    *             Project points.output, pip_cell [, pip_salt]
    *               points
    *             cover: (key, cell_id [, salt]) over a copy of polygons
    *         [Repartition pip_part] polygons [x salt]
    * }}}
    *
    * The cover carries only `(key, cell_id)`: the polygon's geometry never
    * rides a cover cell. Geometry replicated per cover cell measured 6.8x
    * slower on the shuffle path at level 12 over one Norway copy and ran
    * out of memory at 4 copies (table in COVERAGE.md). The cover is exact
    * (cells meeting the polygon), so prefilter ⊇ truth and the refine
    * restores equality.
    *
    * `pip` is the point/polygon split of `refine` (x, y over `points`,
    * exterior and holes over `polygons`); `refine` is the whole join
    * predicate and `key` an expression over `polygons`, evaluated once
    * per polygon row on each side. With `distinctCover` the cover is
    * de-duplicated on `(cell_id, key)`, so rows sharing a key (duplicate
    * rows, or a hash collision) add candidates but never duplicate a pair.
    * `broadcast` hints both joins' polygon sides. `salt` > 1 salts both
    * joins as [[pipJoinSalted]] describes: the point row's salt rides the
    * candidate to the geometry re-join, whose partition `pip_part` is the
    * polygon's group of `salt` partitions plus that salt, so one
    * polygon's refines run on `salt` distinct tasks instead of one;
    * `salt` = 1 adds nothing to the plan. The cover reads a second copy
    * of the polygon subtree with fresh attribute ids (made as Spark's
    * InlineCTE copies a CTE body), so the refine and the output keep the
    * caller's attributes.
    */
  private[graft] def pipPlan(points: LogicalPlan, polygons: LogicalPlan, pip: PipExpr,
                             refine: Expression, key: Expression, level: Int,
                             broadcast: Boolean, salt: Int, distinctCover: Boolean): LogicalPlan = {
    val copy = DeduplicateRelations(Join(polygons, polygons, Inner, None, JoinHint.NONE)).children(1)
    val toCopy = AttributeMap(polygons.output.zip(copy.output))
    def onCopy(e: Expression) = e.transform { case a: Attribute => toCopy.getOrElse(a, a) }
    // the key once per polygon row, before the cover explodes it
    val (keyed, coverKey) = onCopy(key) match {
      case a: Attribute => (copy, a)
      case e =>
        val k = Alias(e, "pip_key")()
        (Project(copy.output :+ k, copy), k.toAttribute)
    }
    val cell = AttributeReference("cell_id", LongType, nullable = false)()
    val gen = Generate(Explode(PolygonCoverExpr(onCopy(pip.exterior), onCopy(pip.holes), Literal(level))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None, generatorOutput = Seq(cell), child = keyed)
    val cover =
      if (distinctCover) Aggregate(Seq(cell, coverKey), Seq(coverKey, cell), gen)
      else Project(Seq(coverKey, cell), gen)
    val pipCell = Alias(CellOfExpr(pip.x, pip.y, Literal(level)), "pip_cell")()
    val hint = if (broadcast) JoinHint(None, Some(HintInfo(Some(BROADCAST)))) else JoinHint.NONE
    if (salt <= 1) {
      val candidates = Project(points.output :+ coverKey,
        Join(Project(points.output :+ pipCell, points), cover, Inner, Some(EqualTo(pipCell.toAttribute, cell)), hint))
      Project(points.output ++ polygons.output,
        Filter(refine, Join(candidates, polygons, Inner, Some(EqualTo(coverKey, key)), hint)))
    } else {
      // the point row's salt, and a side replicated over 0 until salt
      val pipSalt = Alias(Cast(Pmod(new XxHash64(Seq(pip.x, pip.y)), Literal(salt.toLong)), IntegerType), "pip_salt")()
      def replicated(side: LogicalPlan): (LogicalPlan, Attribute) = {
        val s = AttributeReference("salt", IntegerType, nullable = false)()
        (Generate(Explode(Literal.create((0 until salt).toArray, ArrayType(IntegerType, false))),
          Nil, outer = false, None, Seq(s), side), s)
      }
      val (coverSide, coverSalt) = replicated(cover)
      val candidates = Project(points.output ++ Seq(coverKey, pipSalt.toAttribute),
        Join(Project(points.output ++ Seq(pipCell, pipSalt), points), coverSide, Inner,
          Some(And(EqualTo(pipCell.toAttribute, cell), EqualTo(pipSalt.toAttribute, coverSalt))), hint))
      // The re-join's shuffle partition is chosen, not hashed: a group of
      // `salt` partitions per polygon (by its key's hash), then the salt
      // within the group, so one polygon's refines land on `salt`
      // distinct tasks; hashing (key, salt) can put all of one polygon's
      // salts in one partition. A numbered repartition is also one AQE
      // does not coalesce: the candidates are few bytes, but each costs a
      // full `pip` over its polygon.
      val groups = (SQLConf.get.numShufflePartitions + salt - 1) / salt
      def part(k: Expression, s: Attribute) = Alias(Add(Multiply(
        Cast(Pmod(new XxHash64(Seq(k)), Literal(groups.toLong)), IntegerType), Literal(salt)), s), "pip_part")()
      def byPart(p: Alias, side: LogicalPlan) =
        RepartitionByExpression(Seq(DirectShufflePartitionID(p.toAttribute)), Project(side.output :+ p, side),
          Some(groups * salt))
      val candPart = part(coverKey, pipSalt.toAttribute)
      val (polyRep, polySalt) = replicated(polygons)
      val polyPart = part(key, polySalt)
      Project(points.output ++ polygons.output,
        Filter(refine, Join(byPart(candPart, candidates), byPart(polyPart, polyRep), Inner,
          Some(And(EqualTo(coverKey, key), EqualTo(candPart.toAttribute, polyPart.toAttribute))), hint)))
    }
  }

  /** Distance-within (radius) join: every (point, label) pair with
    * Euclidean distance <= radius — the classic spatial range join
    * (fixed radius, no ranking: kNN's sibling on SURVEY.md E9's
    * cell-grid machinery, reference kernel distance semantics per
    * /root/reference/src/lib.rs signed-distance conventions).
    *
    * points: (point_id, x, y, ...); labels: (poly_id, lx, ly).
    *
    * Plan shape (the 100 TB contract): one [[cellDiskJoin]] at the
    * Chebyshev radius whose disk provably covers the radius (k =
    * floor(radius/cellDim) + 1 per axis — the +1 absorbs boundary
    * straddling, so the cover is lossless at any level). One side keeps
    * its ONE home cell, so the cell equi-join emits each qualifying pair
    * exactly once — no distinct, no window, no cross join at any density.
    * The refine step is one codegen'd d2 <= r² filter. With
    * `broadcastLabels = false` the labels are replicated into their disks
    * and shuffled co-partitioned by cell with the points (AQE-splittable;
    * same truth).
    *
    * AutoLevel picks the FINEST grid whose cell still exceeds the
    * radius (k stays 1, ring = 9 cells/point) — finer cells would grow
    * k quadratically, coarser ones sweep needless candidates into the
    * refine filter.
    *
    * Output: point columns + (poly_id, dist). dist = sqrt(d2) is exact
    * IEEE (products+sums then one sqrt), reproducible bit-for-bit by
    * any engine mirroring the expression shape.
    */
  def radiusJoin(points: DataFrame, labels: DataFrame, radius: Double,
                 level: Int = AutoLevel,
                 broadcastLabels: Boolean = true): DataFrame = {
    require(radius > 0.0, s"radius must be positive, got $radius")
    val lvl = if (level == AutoLevel) radiusAutoLevel(radius) else level
    val cellW = CellIndex.SpanX / CellIndex.gridSize(lvl).toDouble
    val cellH = CellIndex.SpanY / CellIndex.gridSize(lvl).toDouble
    val k = math.max(math.floor(radius / cellW).toInt + 1,
      math.floor(radius / cellH).toInt + 1)
    val ptCols = points.columns.toSeq
    cellDiskJoin(points, labels, lvl, k, broadcastLabels)
      .withColumn("d2", (col("x") - col("lx")) * (col("x") - col("lx")) +
        (col("y") - col("ly")) * (col("y") - col("ly")))
      .where(col("d2") <= lit(radius * radius))
      .select(ptCols.map(col) :+ col("poly_id") :+ sqrt(col("d2")).as("dist"): _*)
  }

  /** Finest level whose cell dimension still exceeds the radius on both
    * axes (cellH = SpanY/2^L is the binding one), clamped to the grid.
    */
  def radiusAutoLevel(radius: Double): Int = {
    val lvlF = math.floor(math.log(CellIndex.SpanY / radius) / math.log(2.0)).toInt
    math.max(0, math.min(CellIndex.MaxLevel, lvlF))
  }

  /** k-nearest-neighbour join: for every point, the k nearest label
    * points (EDBT'12-style cell-ring expansion, SURVEY.md E9).
    *
    * points: (point_id, x, y);  labels: (poly_id, lx, ly)
    *
    * One loop over a schedule of (level, Chebyshev radius r) steps; each
    * step's candidates are one [[cellDiskJoin]] of the unresolved points
    * against the labels. A point is resolved when it has >= k candidates
    * AND its kth distance is <= r * cellSize — the geometric guarantee
    * that nothing outside the disk can be closer. Unresolved points
    * (sparse regions) go to the next step. The schedule is the caller's
    * `rounds` at the start level, then ADAPTIVE EXTENSION steps that keep
    * quadrupling the search radius by re-keying both sides at coarser
    * grid levels (still 3x3-disk cell equi-joins — never a cross join)
    * until the disk covers the grid and everything resolves.
    * Output: (point cols, poly_id, dist, rank).
    *
    * `broadcastLabels = true` assumes the label set fits on every executor
    * (dimension-table case). With false, NEITHER side is broadcast: each
    * label is replicated into the disk of its own cell in every step
    * (Chebyshev disks are symmetric, so the candidate set is identical)
    * and the join is a shuffle on the cell key — the path for label sets
    * that rival the point set in size (both sides co-partition by cell).
    *
    * Each round materializes its own RESOLVED OUTPUT SLICE; the count of
    * still-unresolved points is maintained arithmetically off that slice
    * (lazy advancement — see resolvePass), enabling early-exit without a
    * per-round pass over the survivors. The returned DataFrame is
    * the bare union over the operator's fully-materialized columnar
    * round parts (no second output-sized cache); the parts are OWNED
    * persists (`Caching.own`), so callers MUST drop them with
    * `Caching.release(result)` — or release of any frame derived from the
    * result, which reads the same parts (a bare `unpersist()` would leave
    * the part caches behind) — no other cached state leaks.
    *
    * Every round re-builds the FULL disk join for the unresolved points
    * and prunes its candidates lazily inside the ranking job — never stored.
    * Carrying the previous round's candidates forward and exploding only
    * the new ring shell was measured and deleted (COVERAGE.md): it forces
    * materializing the unpruned candidate frame (~190M rows / ~8 GB at
    * bench scale 32) and took the 8-core bench round from ~30 s to 346 s,
    * while with a well-chosen cell level almost every point resolves in
    * round 1, so re-exploding the small unresolved TAIL is cheaper.
    *
    * LINEAGE TRUNCATION: the unresolved-points chain is periodically
    * truncated with `Caching.checkpoint` (see there for why each step is
    * needed) — "periodically" because lazy advancement (resolvePass)
    * stacks at most three anti-join filters between checkpoints, so plan
    * depth stays bounded; this loop's lineage otherwise grows
    * exponentially in the round count (each round references the
    * previous unresolved set twice). Round outputs (`ranked`) and the
    * result stay COLUMNAR persists — InMemoryRelation scans measured ~4x
    * faster than row-format checkpoint blocks at bench scale 32 — and
    * nothing is released until the result is materialized, because a
    * result branch whose cache substitution misses may recompute through
    * the checkpoints, and a released local checkpoint on that path is
    * unrecoverable.
    *
    * OUTPUT: (point_id, poly_id, d2, dist, rank) — the caller's own
    * point coordinates are NOT echoed back: they already sit keyed by
    * point_id on the caller's side, and measured at campaign density
    * (6.4M points, 3-variant A/B, min over interleaved rounds) dropping
    * them from the ranking exchange/window sort AND skipping an
    * output-sized re-join is 11-21% faster end-to-end at both 4 and 16
    * cores (11.7/25.3 s vs 13.2/32.7 s carrying x,y; a re-join variant
    * ~= carrying — it pays back what the slim window saves).
    */
  def knnJoin(points: DataFrame, labels: DataFrame, k: Int,
              level: Int = AutoLevel,
              rounds: Seq[Int] = Seq(1, 2, 4, 8),
              broadcastLabels: Boolean = true): DataFrame = {
    val lvl0 = if (level == AutoLevel) knnAutoLevel(labels) else level

    // materialized once: every round rebuilds its label side from `lab`,
    // and without the cache each build re-runs the label-side lineage
    // (often a polylabel computation) as its own serial-ish job —
    // measured as part of the operator's parallelism-insensitive cost
    val lab = labels.select("poly_id", "lx", "ly")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // rank on SQUARED distance (exact arithmetic — products and sums only),
    // so rankings are reproducible bit-for-bit by any engine; sqrt only for
    // the reported dist column. Window row_number is the measured winner
    // here (a collect_list hash-agg was 2x slower; a bounded
    // TypedImperativeAggregate was 4-8x slower — per-key Java buffers
    // thrash the GC at millions of groups).
    val w = Window.partitionBy("point_id").orderBy(col("d2"), col("poly_id"))

    // The candidate frame drops x,y right after d2 is computed: the
    // ranking exchange and window sort then carry only (point_id,
    // poly_id, d2) — 24 B of payload instead of 40 B. This was the
    // operator's measured scaling gap: ~25x more intermediate bytes per
    // output row than pip_join, with x,y dead weight through the sort.
    val candCols = Seq("point_id", "poly_id", "d2")
    def withD2(cand: DataFrame): DataFrame = cand
      .withColumn("d2", (col("x") - col("lx")) * (col("x") - col("lx")) +
        (col("y") - col("ly")) * (col("y") - col("ly")))
      .select(candCols.map(col): _*)

    // the input count rides the initial checkpoint job as an OBSERVED
    // metric (Caching.checkpoint), so knowing the real point population
    // costs ZERO extra jobs — the former shape spent one full
    // checkpoint-sized count() inside round 1, the largest single item of
    // the operator's per-run driver fixed cost (the measured residual that
    // capped knn's 4v16 scaling efficiency once the payload wins landed)
    val (unresolved0, stats) = Caching.checkpoint(
      points.select(col("point_id"), col("x"), col("y")), count(lit(1)).as("n"))
    var unresolved = unresolved0
    var nLeft = stats.getLong(0)
    // rounds since the unresolved chain was last checkpointed (see the
    // lazy-advancement note in resolvePass)
    var stackedDepth = 0
    var resolvedParts = List.empty[DataFrame]
    val releaseHandles = scala.collection.mutable.ListBuffer.empty[DataFrame]
    releaseHandles += unresolved
    val wc = Window.partitionBy("point_id")

    // One pass = rank candidates + slice the resolved output + advance the
    // unresolved chain; one per schedule step below.
    //
    // One window pass carries BOTH the ranking and the resolution proof.
    // The <= rad2 prune is lossless: a point resolves at guarantee radius
    // rad iff it has >= k candidates with d2 <= rad^2 (if the k nearest
    // are within the guarantee radius they all survive the filter; if
    // not, the filtered count is < k and the point carries to the next
    // round) — so `count() over (partition by point_id)` after the rank
    // filter replaces a separate kth-aggregate stage and the
    // resolved-semi-join stage; the same exchange serves both windows.
    // With `requireK = false` (a round whose candidate set is COMPLETE —
    // the search disk covers the whole grid) every remaining point
    // resolves with whatever candidates exist.
    def resolvePass(candAll: DataFrame, rad2: Double, requireK: Boolean): Unit = {
      val pruned =
        if (rad2 == Double.MaxValue) candAll else candAll.where(col("d2") <= rad2)
      val ranked = pruned
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .withColumn("n_cand", count(lit(1)).over(wc))
      // What gets cached is the round's RESOLVED OUTPUT SLICE — as a
      // DIRECTLY-persisted columnar dataset, not a filtered view over a
      // cached `ranked`. The result union only substitutes a branch's
      // cache when the branch IS the cached dataset (measured: a union of
      // directly-cached parts reads buffers in ~1 s where the
      // filtered-view formulation recomputed every round's window
      // pipeline — a flat, memory-bandwidth-bound ~14 s at ANY core
      // count, the dominant parallelism-insensitive cost of this
      // operator). `dist` is computed here, after the rank filter — the
      // window exchange carries d2 only, not a redundant sqrt column.
      // every output column is RE-ALIASED, for the reason
      // Caching.checkpoint re-aliases: two rounds may read the same
      // checkpoint (lazy advancement), so their parts would otherwise
      // carry the same attribute ids, and the result union's rewritten
      // branch would miss its cache and recompute through the chain.
      val part = (if (requireK) ranked.where(col("n_cand") >= k) else ranked)
        .withColumn("dist", sqrt(col("d2")))
        .select((candCols ++ Seq("dist", "rank"))
          .map(c => col(c).as(c)): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      resolvedParts ::= Caching.own(part)
      // resolved ids come off the part's cache (rank==1 marks each
      // resolved point exactly once)
      val okIds = part.where(col("rank") === 1).select(col("point_id").as("ok_id"))
      // LAZY ADVANCEMENT: nLeft is maintained ARITHMETICALLY (every okId
      // is by construction a still-unresolved point, and row_number rank 1
      // marks each resolved point exactly once), so a round costs one
      // count over the round's own (small, cached) part — NOT a full
      // checkpoint-write + full-scan count of the surviving point set.
      // The old shape paid an unresolved-set-sized, memory-bandwidth-bound
      // copy per round even when the round resolved NOTHING (a sparse
      // label grid leaves early rings empty), and that copy was the
      // operator's largest parallelism-insensitive cost. The anti-join
      // filter is instead STACKED lazily onto the unresolved frame (a
      // broadcast-hash probe fused into the next round's explode scan);
      // the chain is re-checkpointed only when the write pays for itself —
      // the set shrank >= 30% (all later rounds then scan fewer rows) or
      // three filters have stacked (bounds plan depth and re-probe work).
      val nResolved = okIds.count()
      val prevLeft = nLeft
      nLeft = nLeft - nResolved
      if (nResolved > 0 && nLeft > 0) {
        val next =
          unresolved.join(okIds, unresolved("point_id") === okIds("ok_id"), "left_anti")
        stackedDepth += 1
        if (stackedDepth >= 3 || nResolved * 10L >= prevLeft * 3L) {
          stackedDepth = 0
          // NOTHING is released mid-loop: the result assembly below may
          // recompute a branch whose lineage reads these blocks (cache
          // substitution is not guaranteed across the union), and a
          // released local checkpoint in that path is an unrecoverable
          // error — the measured crash mode. All storage is dropped
          // together after the result is materialized (every checkpoint
          // is tracked in releaseHandles at creation);
          // MEMORY_AND_DISK spills rather than OOMs in the meantime.
          unresolved = Caching.checkpoint(next)._1
          releaseHandles += unresolved
        } else unresolved = next
      }
    }

    // NOTE (round 7): a "skip ring rounds whose expected candidate count
    // (2r+1)^2 * nLabels / 4^level is below k" heuristic was tried here,
    // measured, and REVERTED. It sped the local[32] bench up (~0.7 s:
    // fewer passes beat more exchanged rows when per-pass fixed cost
    // dominates tiny data) but regressed the scale-64 campaign 6x at 4
    // cores (knn 28 -> 177 s): GLOBAL density wildly underestimates
    // clustered data — the synthetic labels occupy a 40x30-degree window
    // where the real density is ~6.6 labels/cell, so the "hopeless"
    // rounds actually resolve almost every point cheaply at the fine
    // level, and skipping them pushed the full point set into a 16x
    // denser coarser-level pass (~1B pruned candidate rows instead of a
    // few million). A clustered-robust variant (occupied-cell density)
    // can never fire for k <= 9 because occupied density is >= 1 by
    // definition — dead code. Scheduled rounds therefore always run;
    // the schedule stays the caller's scale knob.
    //
    // ADAPTIVE EXTENSION steps follow the caller's rounds; they replace the
    // old all-labels cross-join fallback (which, in cell-partitioned mode,
    // was the engine's one remaining shuffle-cartesian cliff: an
    // adversarial density mismatch with a large unresolved tail AND a
    // non-broadcastable label side built a cartesian over both). The
    // search radius keeps growing by COARSENING THE GRID instead of
    // widening the ring: a 3x3 disk of level-(L-d) cells covers the same
    // ground as a ring of radius 3*2^d level-L cells but explodes a
    // constant 9 cells per row, and both sides re-key at the coarser level
    // so the join stays a cell equi-join in either mode — never a
    // cartesian (SpatialJoinSpec asserts the executed plans). The first
    // coarsening is the one whose guarantee radius EXCEEDS the last
    // ring's (2^d > rounds.last; an empty schedule reads as "last ring
    // radius 1"), since re-searching a smaller disk would waste a round.
    // Each later step descends two levels, quadrupling the radius, so the
    // step count is logarithmic in the domain/cell ratio. Once a disk
    // covers the whole grid (r >= gridSize - 1) the candidate set is
    // COMPLETE and every remaining point resolves (requireK = false —
    // with fewer than k labels in the whole table, top-(what exists) is
    // the correct kNN answer, exactly what the cross join produced).
    val dLvl = 32 - Integer.numberOfLeadingZeros(math.max(1, rounds.lastOption.getOrElse(1)))
    val steps = rounds.iterator.map(r => (lvl0, r)) ++
      Iterator.iterate(math.max(0, lvl0 - dLvl))(l => math.max(0, l - 2)).map(l => (l, 1))
    var complete = false
    while (nLeft > 0 && !complete) {
      val (lvl, r) = steps.next()
      val n = CellIndex.gridSize(lvl)
      complete = n <= r + 1L
      val rad = r * math.min(CellIndex.SpanX / n.toDouble, CellIndex.SpanY / n.toDouble)
      resolvePass(withD2(cellDiskJoin(unresolved, lab, lvl, r, broadcastLabels)),
        if (complete) Double.MaxValue else rad * rad, requireK = !complete)
    }
    // The result is the union over the per-round parts: each part is
    // already a fully-materialized columnar cache (its own round's
    // okIds/count consumption scanned every partition), union cache
    // substitution hits directly-persisted branches (the r3 measured
    // property), and re-materializing the whole output into a SECOND
    // output-sized cache cost a full count + cache-write pass (measured
    // 2.3-7.7 s at 3.2M points — a largely parallelism-insensitive copy,
    // exactly the kind of fixed cost the scaling target punishes). The
    // parts are owned (Caching.own), and the result's plan reads every
    // one of them, so `Caching.release(result)` — or of any frame derived
    // from it — drops every block the operator made. Releasing the
    // checkpointed chains here is safe for the same reason the old
    // post-count release was: the parts' MEMORY_AND_DISK blocks are
    // complete, and only an executor-loss class event (which local
    // checkpoints never survive anyway) could force a recompute through
    // them. An empty point side runs no pass at all: its result is the
    // same five columns over no rows.
    val result = resolvedParts.reduceOption(_ unionByName _).getOrElse(
      points.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq(unresolved.schema("point_id"), lab.schema("poly_id"),
          StructField("d2", DoubleType), StructField("dist", DoubleType),
          StructField("rank", IntegerType, nullable = false)))))
    // materialization barrier BEFORE the chains are released: the parts
    // are usually fully built by their own round's okIds consumption, but
    // not guaranteed partition-by-partition, and a hole would recompute
    // through the released checkpoints
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). ONE count over the slim union
    // fills any missing partitions of every part in a single job — union
    // cache substitution hits each directly-persisted branch (the r3
    // measured property), so this reads cached buffers only; the former
    // per-part foreach(count) paid one driver job launch per round, part
    // of the per-run fixed cost the scaling target punishes.
    result.count()
    // every checkpoint was tracked at creation; the final `unresolved` may
    // be a LAZY filter over the last checkpoint (lazy advancement), whose
    // blocks are those of its tracked base
    releaseHandles.foreach(Caching.release)
    lab.unpersist(blocking = false)
    result
  }

  /** Cell-disk join: every (point, label) pair whose cells at `level`
    * lie within Chebyshev distance `r` of each other — the one candidate
    * plan of radiusJoin and of every kNN step. Points carry (x, y),
    * labels (lx, ly); the output is both sides' columns.
    *
    * Broadcast form: each point explodes its disk (`ncell`) against the
    * broadcast labels keyed by their own cell. Partitioned form: each
    * label is replicated into its disk (`ncell`) and shuffle-joined on the
    * point's own cell — Chebyshev disks (clamped to the grid) are
    * symmetric, so both forms emit the same pairs, and neither is ever a
    * cross join. The key columns are dropped after the join.
    * Package-private so PlanSpec and SpatialJoinSpec can audit the
    * physical shape directly (the composed kNN operator's executed plans
    * hide behind its lineage-truncation boundaries).
    */
  private[graft] def cellDiskJoin(points: DataFrame, labels: DataFrame, level: Int,
      r: Int, broadcastLabels: Boolean): DataFrame = {
    def disk(x: String, y: String) = explode(cell_kring(cell_of(col(x), col(y), lit(level)), lit(r)))
    if (broadcastLabels) {
      val lab = labels.withColumn("lcell", cell_of(col("lx"), col("ly"), lit(level)))
      points.withColumn("ncell", disk("x", "y"))
        .join(broadcast(lab), col("ncell") === col("lcell"))
        .drop("ncell", "lcell")
    } else {
      val lab = labels.withColumn("ncell", disk("lx", "ly"))
      points.withColumn("pcell", cell_of(col("x"), col("y"), lit(level)))
        .join(lab, col("pcell") === col("ncell"))
        .drop("pcell", "ncell")
    }
  }
}
