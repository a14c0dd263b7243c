package graft.plans

import graft.functions.PipExpr
import graft.operators.SpatialJoins
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (SURVEY.md §4.2, the data-induced-predicate pattern of
  * Kandula et al., VLDB 2019): a `pip(x, y, exterior, holes)` predicate
  * over a cross/unconditioned join — the naive way to write a spatial
  * join — is rewritten into the engine's one PIP plan,
  * `SpatialJoins.pipPlan`, the plan `pipJoin` builds:
  *
  * {{{
  *   Filter pip(x, y, ext, holes)          Filter pip(...)         <- exact refine
  *     Join Cross                    =>      Join Inner (pip_key = xxhash64(ext, holes) [AND pip_part])
  *       points                                Join Inner (cell_of(x, y, L) = cell_id [AND salt])
  *       polygons                                points
  *                                               Aggregate (cell_id, pip_key)   <- slim cover
  *                                                 Generate explode(polygon_cover(ext, holes, L))
  *                                                   polygons (a copy, fresh ids)
  *                                             polygons
  * }}}
  *
  * (`[AND ...]` only on a salted shuffle path, see [[saltFor]] and
  * `SpatialJoins.pipPlan`.)
  *
  * The rule has no `poly_id`, so the key is `xxhash64(exterior, holes)`,
  * computed once per polygon row on each side. The cover is de-duplicated
  * on `(cell_id, key)`: identical polygon rows, or two geometries whose
  * hashes collide, share their cover rows and so add candidates, which the
  * exact refine drops, and each (point row, polygon row) pair still comes
  * out once, as the cross join gives it. The cover is an exact cell set,
  * so prefilter ⊇ truth and the kept refine restores equality: the
  * rewrite is purely a plan improvement (cross product -> equi-joins on
  * int64 keys that broadcast/sort-merge/AQE-skew machinery can handle).
  *
  * Level, broadcast and salt come from plan statistics only (an optimizer
  * rule must not launch jobs): [[levelFor]]; `SpatialJoins.broadcastCover`,
  * the decision `pipJoin` takes, except that a side with unknown stats is
  * never hinted (Spark's own threshold, which will not broadcast it,
  * decides, so a huge stats-less table sort-merges); and on the shuffle
  * path [[saltFor]], which spreads a few polygons' refines over the shuffle
  * partitions. Fires only when the pip arguments split
  * cleanly across the two join sides, and only over a deterministic
  * polygon side: the plan reads that subtree twice, and two reads of a
  * `rand()` column would disagree. The rewritten joins are keyed, so the
  * rule never fires on its own output.
  */
object PipJoinRewrite extends Rule[LogicalPlan] {

  /** Level for one rewrite, from the polygon side's optimizer stats:
    * scale the prefilter grid with the polygon COUNT (more polygons =>
    * finer cells keep the expected polygons-per-cell bounded, so the
    * equi-join prunes instead of degenerating back toward the product).
    * log4(n)+4 puts 100 polygons at level ~7 and 1M at level 12 (clamped
    * [6, 12] — past 12 cover explosion outweighs extra pruning for the
    * unknown-bbox case this rescue rule serves); stats-less sides take
    * `SpatialJoins.FallbackLevel`. To pick the level from the polygons'
    * actual bboxes, build the join with `SpatialJoins.pipJoin`.
    */
  private[graft] def levelFor(polySide: LogicalPlan): Int =
    rowCount(polySide) match {
      case Some(n) =>
        val lvl = (math.log(math.max(1.0, n.toDouble)) / math.log(4.0)).round.toInt + 4
        math.max(6, math.min(12, lvl))
      case None => SpatialJoins.FallbackLevel
    }

  /** The side's row-count stats, looked up through projections: without
    * CBO a `Project` drops its child's row count, so a column-pruned
    * polygon side (any query that does not read every polygon column)
    * would otherwise lose the count its leaf knows, and `select *` and a
    * `count()` over the same side would plan different levels. [[levelFor]]
    * and [[saltFor]] both read it.
    */
  private def rowCount(plan: LogicalPlan): Option[BigInt] =
    plan.stats.rowCount.orElse(plan match {
      case Project(_, child) => rowCount(child)
      case _ => None
    })

  /** True when the condition already carries an equality key linking the
    * two sides. The rewrite exists to RESCUE unconditioned products; a
    * join that is already keyed (e.g. the PIP plan's geometry re-join,
    * whose pip refine sits in the same condition) is fine as-is.
    */
  private def hasEquiKey(cond: Expression, left: LogicalPlan,
                         right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        val (ar, br) = (a.references, b.references)
        ar.nonEmpty && br.nonEmpty &&
          ((ar.subsetOf(left.outputSet) && br.subsetOf(right.outputSet)) ||
           (br.subsetOf(left.outputSet) && ar.subsetOf(right.outputSet)))
      case _ => false
    }

  private def splitsAcross(pip: PipExpr, left: LogicalPlan, right: LogicalPlan): Boolean = {
    val ptRefs = pip.x.references ++ pip.y.references
    val polyRefs = pip.exterior.references ++ pip.holes.references
    ptRefs.nonEmpty && polyRefs.nonEmpty &&
      ptRefs.subsetOf(left.outputSet) && polyRefs.subsetOf(right.outputSet)
  }

  /** Salt of a shuffle-path rewrite, from the polygon side's row-count
    * stats: the geometry re-join is keyed on the polygon, so n polygons
    * fewer than the shuffle partitions would refine all their candidates
    * in n tasks. Salting by ceil(partitions / n) spreads them over about
    * every partition, at the price of that many copies of each polygon
    * (still a copy per salt, never one per cover cell). A side with
    * unknown or enough rows is not salted.
    */
  private[graft] def saltFor(polySide: LogicalPlan): Int = {
    val parts = conf.numShufflePartitions
    rowCount(polySide) match {
      case Some(n) if n < parts => ((parts + n.max(1) - 1) / n.max(1)).toInt
      case _ => 1
    }
  }

  private def rewrite(cond: Expression, left: LogicalPlan, right: LogicalPlan): Option[LogicalPlan] =
    splitConjunctivePredicates(cond).collectFirst {
      case p: PipExpr if right.deterministic && splitsAcross(p, left, right) =>
        val level = levelFor(right)
        val broadcast = SpatialJoins.broadcastCover(right, level, conf, ifUnknown = false)
        SpatialJoins.pipPlan(left, right, p, cond, new XxHash64(Seq(p.exterior, p.holes)), level,
          broadcast, salt = if (broadcast) 1 else saltFor(right), distinctCover = true)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // filter (still) sitting above an unconditioned join
    case f @ Filter(cond, Join(left, right, Inner | Cross, None, _)) =>
      rewrite(cond, left, right).getOrElse(f)
    // predicate already pushed into the join condition — but only when no
    // equality key links the sides (an already-keyed join needs no rescue)
    case j @ Join(left, right, Inner | Cross, Some(cond), _) if !hasEquiKey(cond, left, right) =>
      rewrite(cond, left, right).getOrElse(j)
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => Seq(other)
  }
}
