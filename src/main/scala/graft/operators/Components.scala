package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the cluster-
  * assignment step a dedup pipeline runs AFTER the pair-producing
  * operators ([[Dedup.minhashLshPairs]], [[Dedup.phashNearDupPairs]],
  * [[Similarity.embeddingNearDupPairs]]): near-dup pairs are edges, and
  * every document needs the id of its transitive duplicate cluster so
  * one representative per cluster survives.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", SoCC'14; public). Each phase is a partial-agg `min` per
  * node plus an equi-join — no windows, no collect — and the edge set
  * converges to a star forest rooted at each component's minimum id in
  * O(log n) iterations (vs O(diameter) for naive label propagation, which
  * a 10^6-node duplicate chain would turn into 10^6 shuffles).
  *
  * SCALE SHAPE: the per-node min is a map-side-combinable aggregate, so a
  * web-scale hub (one document near-duplicating millions) costs one
  * partial-agg cell per partition, not a single-reducer group; the join
  * back to neighbours is an AQE-skew-splittable equi-join. Ids are any
  * orderable type — string doc_ids work directly (min = lexicographic),
  * avoiding a dense-id remap shuffle over the corpus.
  *
  * Iteration state is truncated with [[Caching.checkpoint]] (see there
  * for why each step is load-bearing) and dropped with `Caching.release`.
  */
object Components {

  /** Assign each node appearing in `edges` its component id (the minimum
    * node id in the component). `edges`' first two columns are the
    * endpoints (any common orderable type); self-loops are dropped.
    * Returns (id, component). Nodes with no surviving edge (only
    * self-loops) do not appear — union identity rows for the full corpus
    * if every document needs a row.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val Array(ca, cb) = edges.columns.take(2)
    run(edges.select(col(ca).as("u"), col(cb).as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct())
  }

  /** [[connectedComponents]] for an input the CALLER guarantees is
    * already canonical — every edge (u, v) with u < v, no self-loops, no
    * duplicates — skipping the normalization projection and its distinct
    * exchange (at campaign scale that exchange carries the full pair
    * set once for nothing). The dedup compact pair shape qualifies by
    * construction: verified rep pairs are banding-distinct with
    * rep_a < rep_b, membership rows are (rep, member) with rep = the
    * group's MIN doc_id, and the two branches are disjoint (a member
    * row's right side is never a representative).
    */
  private[operators] def connectedComponentsCanonical(edges: DataFrame): DataFrame = {
    val Array(ca, cb) = edges.columns.take(2)
    run(edges.select(col(ca).as("u"), col(cb).as("v")))
  }

  /** Iteration cap: large-star/small-star needs O(log n) rounds, so 30
    * covers any graph this engine can hold; hitting it is an error.
    */
  private val MaxIters = 30

  private def run(edges0: DataFrame): DataFrame = {
    // (edge count, order-free xor checksum) per iterate, OBSERVED during
    // the iterate's own eager-checkpoint job (CollectMetrics accumulators
    // fill while the checkpoint materializes) — the former separate
    // signature aggregate cost one extra full-scan job per iteration,
    // part of the per-iteration fixed cost that made dedup_clusters the
    // most expensive bench workload. Equal signatures across a full
    // large+small iteration mean the edge set reached the star-forest
    // fixpoint (both phases are deterministic set maps); because a hash
    // collision would otherwise silently accept a WRONG fixpoint, the
    // signature match is confirmed by one exact anti-join check before
    // the loop exits — the exact check runs once (at the fixpoint), not
    // per iteration.
    var (e, sig) = truncatedSigned(edges0)
    var it = 0
    var converged = false
    try {
      while (!converged && it < MaxIters) {
        val (next, nextSig) = truncatedSigned(smallStar(largeStar(e)))
        try {
          if (nextSig == sig) {
            // exact confirmation: counts are equal (part of the signature),
            // so next \ e empty <=> the sets are equal (both are distinct)
            converged = next.join(e,
              next("u") === e("u") && next("v") === e("v"), "left_anti").isEmpty
          }
        } catch {
          // the finally below releases only `e`; without this, a confirm
          // failure would strand the freshly checkpointed `next` for the
          // session (round-6 advisor finding)
          case t: Throwable => Caching.release(next); throw t
        }
        Caching.release(e)
        e = next
        sig = nextSig
        it += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $MaxIters iterations " +
            "(large-star/small-star needs O(log n) rounds)")
      // star forest, canonical (root, child) with root = component min:
      // children plus one identity row per root
      val out = e.select(col("v").as("id"), col("u").as("component"))
        .unionByName(e.select(col("u").as("id"), col("u").as("component")))
        .distinct()
      Caching.materializeAndRelease(out)
    } finally {
      // covers the non-convergence throw (and any mid-iteration failure):
      // without it the final checkpointed edge frame leaks for the session
      Caching.release(e)
    }
  }

  /** Large-star: for every node u, connect each strictly-larger
    * neighbour v to m(u) = min(neighbours(u) ∪ {u}). Emitted edges are
    * canonical (m < v) because m <= u < v.
    *
    * The output is a MULTISET (exactly one row per input edge — the
    * v > u filter keeps one direction of each nb pair — with duplicates
    * only where two neighbours of v share a min): small-star's min
    * aggregate and trailing distinct absorb them, so
    * smallStar(largeStar(e)) is set-identical to the old
    * distinct-per-phase form while each iteration saves one full
    * edge-set exchange + aggregate.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val nb = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nb.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    nb.join(mins, "u").where(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
  }

  /** Small-star: group canonical edges by their LARGER endpoint b with
    * smaller neighbours S; connect b and every node of S \ {m} to
    * m = min(S). m < every emitted partner, so edges stay canonical.
    */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("v").agg(min("u").as("m"))
    e.join(mins, "v").where(col("u") =!= col("m"))
      .select(col("m").as("u"), col("u").as("v"))
      .unionByName(mins.select(col("m").as("u"), col("v")))
      .distinct()
  }

  /** Eager lineage truncation ([[Caching.checkpoint]]) that also returns
    * the edge set's (count, bit_xor(xxhash64)) signature, observed for
    * free during the checkpoint job.
    */
  private def truncatedSigned(df: DataFrame): (DataFrame, (Long, Long)) = {
    val (ck, r) = Caching.checkpoint(df, count(lit(1)).as("n"),
      bit_xor(xxhash64(col("u"), col("v"))).as("x"))
    (ck, (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
  }
}
