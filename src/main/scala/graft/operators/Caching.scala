package graft.operators

import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Cache discipline shared by the graft operators: an operator that
  * persists intermediates must not leak them past its own return
  * (measured failure mode: a kNN round's stale cached blocks evicted the
  * next workload's execution memory and turned a 14 s join into 195 s).
  *
  * Pattern: persist the (output-sized, small) RESULT, force it with one
  * count, then drop every intermediate cache. The caller owns the
  * returned frame's storage and releases it with [[release]] when done —
  * specs assert nothing else stays behind.
  *
  * ONE OWNERSHIP RULE: storage an operator keeps alive past its return —
  * an eager local checkpoint or a persisted frame — is tagged with
  * [[own]], and [[release]] of any frame whose plan reads it drops it.
  */
object Caching {

  /** Materialize `result`, then release `intermediates`. */
  def materializeAndRelease(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  // RDD ids of localCheckpoint frames the graft operators created
  // themselves. Checkpoint blocks are UNRECOVERABLE, so blindly dropping
  // every LogicalRDD leaf of an arbitrary frame could poison another
  // still-live consumer sharing a caller-made checkpoint (Bench.exec
  // calls release() on arbitrary workload results).
  private val ownedCheckpoints = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  // persisted frames the graft operators own, keyed by the identity of
  // their cache entry's builder: every InMemoryRelation that substitutes
  // the frame in a later plan (withOutput keeps the builder) points at it
  private val ownedCaches = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[AnyRef, DataFrame]())

  /** Tag graft-made storage as owned by the engine, making it eligible for
    * [[release]]: a `localCheckpoint` frame (its LogicalRDD) or a
    * persisted frame (its cache entry). Anything else is rejected — a
    * plan's other leaves belong to the caller.
    */
  def own(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    qe.logical match {
      case l: LogicalRDD => ownedCheckpoints.add(l.rdd.id)
      case _ =>
        val cached = qe.sparkSession.sharedState.cacheManager
          .lookupCachedData(qe.sparkSession, qe.analyzed)
          .getOrElse(throw new IllegalArgumentException(
            "own() takes a localCheckpoint or a persisted frame"))
        ownedCaches.put(cached.cachedRepresentation.cacheBuilder, df)
    }
    df
  }

  /** Eager lineage truncation for the iterative operators (kNN rounds, CC
    * iterations): returns the checkpointed frame, owned, and the row of
    * `metrics` observed while the checkpoint materialized (empty when no
    * metric is asked for). Every step is load-bearing:
    *
    *  - columns are RE-ALIASED first: a localCheckpoint's LogicalRDD keeps
    *    its plan's output attribute ids, so without fresh ids several
    *    checkpoints of one iteration carry the SAME ids. A later union
    *    over frames read from them then holds same-id relations,
    *    DeduplicateRelations rewrites all but one, and the rewritten
    *    branches stop matching their cache entries (silent recompute
    *    through the checkpoint chain; a crash once it is released).
    *  - the metrics are OBSERVED: CollectMetrics accumulators fill during
    *    the checkpoint's own materialization pass, so a count or checksum
    *    costs ZERO extra jobs. They are read from the exact Dataset whose
    *    `localCheckpoint` executed — any other wrapper's QueryExecution
    *    holds its own never-run, zero-valued accumulators. A missing row
    *    (a Spark version that stops reporting observed metrics through
    *    checkpoint actions) degrades to one aggregate over the checkpoint,
    *    never to a wrong value.
    *  - the checkpoint is EAGER: a lazy local checkpoint only finalizes in
    *    a job that calls `rdd.doCheckpoint()`, and AQE materializes
    *    shuffle-map stages through `submitMapStage`, which doesn't. The
    *    checkpoint then stays pending forever, and releasing its blocks
    *    leaves a marked-but-incomplete RDD that any later job touching the
    *    lineage trips over ("storage level not appropriate for local
    *    checkpointing"; reproduced by graft.Bench's knn workload). Eager
    *    finalization also clears the dependency chain — the lineage cut.
    *    An iterative chain of persisted frames keeps its full LOGICAL
    *    lineage instead (a 5-round kNN built a 2.1 GB plan string and
    *    OOM'd the driver inside AQE's plan-update logging).
    *  - the checkpoint is OWNED ([[own]]): its blocks are not in the
    *    CacheManager, so `Dataset.unpersist()` cannot reach them; only
    *    [[release]] drops them. They are not rebuildable on executor loss
    *    — the standard iterative-Spark trade, bounded to the operator's
    *    lifetime.
    */
  def checkpoint(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val name = "graft_checkpoint"
    val observed =
      if (metrics.isEmpty) df else df.observe(name, metrics.head, metrics.tail: _*)
    val fresh = observed.select(df.columns.toSeq.map(c => col(c).as(c)): _*)
    val ck = own(fresh.localCheckpoint(eager = true))
    val row =
      if (metrics.isEmpty) Row.empty
      else fresh.queryExecution.observedMetrics.getOrElse(name,
        ck.agg(metrics.head, metrics.tail: _*).first())
    (ck, row)
  }

  /** Release a frame returned by a graft operator, or any frame derived
    * from one (a `select`/`orderBy` over it): unpersists `df` itself,
    * then drops every graft-owned piece of storage its plan reads — owned
    * persisted frames its cache-substituted plan scans, and owned
    * checkpoint leaves. Storage the caller made (a persisted input, a
    * caller-made checkpoint) is never touched: releasing a caller's
    * checkpoint would unrecoverably poison any other consumer of it.
    * Owned checkpoint blocks are dropped without `RDD.unpersist`'s
    * "cannot be recomputed" WARN — dropping them is the expected end of
    * their life here, not a hazard.
    *
    * A frame that combines two operator results (a join or union of
    * both) reads both operators' storage: release it ONCE, after both
    * results are no longer needed — releasing it drops both.
    */
  def release(df: DataFrame): Unit = {
    val reads = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }
    df.unpersist(blocking = false)
    reads.foreach(b => Option(ownedCaches.remove(b)).foreach(_.unpersist(blocking = false)))
    df.queryExecution.logical.foreach {
      case l: LogicalRDD if ownedCheckpoints.remove(l.rdd.id) =>
        StorageBridge.dropBlocks(l.rdd)
      case _ => ()
    }
  }
}
