package layerbench

import graft.geom.{CellIndex, Fixtures, Polylabel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Captures every query execution the session finishes, for plan SQL
  * metrics and planning-phase times. Registered in traced runs only.
  */
final class Executions extends QueryExecutionListener {
  val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = done.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = done.add(qe)
  def take(): Seq[QueryExecution] = {
    val out = mutable.ArrayBuffer.empty[QueryExecution]
    var q = done.poll()
    while (q != null) { out += q; q = done.poll() }
    out.toSeq
  }
}

/** Per-layer probes: each phase forced on its own over materialised
  * inputs, timed from the benchmark's own files.
  */
object Probes {
  var executions: Executions = _

  def medianOf(n: Int)(f: => Long): Long = {
    val xs = (0 until n).map(_ => f).sorted
    xs(n / 2)
  }

  /** Run `f` inside a span; returns (result, wall seconds, span id). */
  def timed[T](c: Ctx, name: String)(f: => T): (T, Double, Int) = {
    val t0 = System.nanoTime()
    val r = c.tracer.span(name)(f)
    (r, (System.nanoTime() - t0) / 1e9, c.tracer.spans.last.id)
  }

  /** Queries finished since the last call (listener bus drained first). */
  def queries(c: Ctx): Seq[QueryExecution] = {
    org.apache.spark.layerbench.Bus.drain(c.spark.sparkContext)
    executions.take()
  }

  def sparkJobs(c: Ctx, span: Int): Int = {
    org.apache.spark.layerbench.Bus.drain(c.spark.sparkContext)
    c.counters.jobList.count(_.span == span)
  }

  def cpuNs(c: Ctx, span: Int): Long = {
    org.apache.spark.layerbench.Bus.drain(c.spark.sparkContext)
    c.counters.taskList.filter(_.span == span).map(_.cpuNs).sum
  }

  /** Every physical node of the executed plans, through adaptive query
    * stages, reused exchanges and cached relations; each node once.
    */
  def nodes(qes: Seq[QueryExecution]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = mutable.ArrayBuffer.empty[SparkPlan]
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
      p.subqueries.foreach(walk)
    }
    qes.foreach(q => walk(q.executedPlan))
    out.toSeq
  }

  private def keyNames(j: BaseJoinExec): Seq[String] =
    (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))

  /** Equi-joins whose keys use column `key`. */
  def joinsOn(ns: Seq[SparkPlan], key: String): Seq[BaseJoinExec] = ns.collect {
    case j: BaseJoinExec if keyNames(j).contains(key) => j
  }

  def outputRows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  def hasOutput(p: SparkPlan, name: String): Boolean = p.output.exists((a: Attribute) => a.name == name)

  def isBroadcast(j: BaseJoinExec): Boolean = j.isInstanceOf[BroadcastHashJoinExec]

  def planningMs(qes: Seq[QueryExecution]): Double = qes.map { q =>
    q.tracker.phases.collect {
      case (p, s) if p == "analysis" || p == "optimization" || p == "planning" => s.durationMs
    }.sum
  }.sum.toDouble

  /** Norway label, the kernel's headline call. */
  def kernelNorway(out: Layers): Unit = {
    val p = Fixtures.norway
    (0 until 30).foreach(_ => Polylabel.polylabel(p, 1.0))
    val ns = medianOf(5) {
      val t0 = System.nanoTime()
      (0 until 10).foreach(_ => Polylabel.polylabel(p, 1.0))
      System.nanoTime() - t0
    }
    out.put("geom.norway_ms_per_call", ns / 10 / 1e6)
  }

  /** `CellIndex.cellOf` over the given points. */
  def cellOf(xs: Array[Double], ys: Array[Double], level: Int, out: Layers): Unit = {
    var sink = 0L
    val reps = math.max(1, 1000000 / xs.length)
    val ns = medianOf(5) {
      val t0 = System.nanoTime()
      for (_ <- 0 until reps) {
        var i = 0
        while (i < xs.length) { sink ^= CellIndex.cellOf(xs(i), ys(i), level); i += 1 }
      }
      System.nanoTime() - t0
    }
    if (sink == 42L) println("")
    out.put("geom.cell_of_ns_per_point", ns.toDouble / (reps.toLong * xs.length))
  }

  /** The expression layer on its own: `labelled` (the polylabel column over
    * a cached input) forced through the noop sink, against the direct
    * kernel time on the same rows.
    */
  def expression(c: Ctx, labelled: DataFrame, cols: Seq[String], rows: Long,
                 kernelNs: Double, out: Layers): Unit = {
    Digests.noopObserved(labelled, cols)
    val (_, wall, span) = timed(c, "functions.polylabel_probe")(Digests.noopObserved(labelled, cols))
    out.put("functions.polylabel_rows_per_s", rows / wall)
    out.put("functions.expr_to_kernel_ratio", cpuNs(c, span) / kernelNs)
  }
}
