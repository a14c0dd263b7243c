package graft.operators

import graft.functions.GraftFunctions.lsh_bucket
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over an embedding column (array<float>):
  * brute-force top-k as the correctness baseline, sign-LSH bucketing as
  * the scale path, plus blocked near-duplicate pairs.
  *
  * All scoring is on QUANTIZED integer vectors (round(v*1000)): integer
  * dot products are order-independent and exact, so rankings are
  * bit-reproducible by any engine — and at 100 TB the quantized path is
  * also the cheap one (int64 multiply-adds, dense shuffles, no float
  * reduction-order nondeterminism across partitions).
  *
  * Cache discipline: every operator that persists intermediates releases
  * them before returning (Caching.materializeAndRelease); the caller owns
  * only the returned (output-sized) frame's cache.
  */
object Similarity {

  /** Sign-LSH hyperplanes and embedding dimension of annTopK and
    * nearDupPairs (mirrored by their SQL oracles).
    */
  private val Planes = 8
  private val Dim = 64

  /** (vec_id, i [0-based], q) quantized component stream. */
  def quantized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        round(col("col").cast("double") * 1000.0, 0).cast("long").as("q"))

  /** In-row exact integer dot over two quantized arrays. `zip_with` pads
    * the shorter array with nulls, so the per-element product is wrapped
    * in coalesce(_, 0): ragged lengths then contribute the partial dot
    * over the SHARED components — exactly what the relational inner join
    * on the component index (and the SQL oracles' join-on-i) computes.
    * For equal-length arrays (the normal case) every product is non-null
    * and the expression is bit-identical to the unguarded form.
    */
  private def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => coalesce(x * y, lit(0L))),
      lit(0L), (acc, v) => acc + v)

  /** (vec_id, qvec): the quantized-ARRAY form every operator scores on.
    * Null/empty embeddings are dropped — mirroring the relational
    * per-component formulation (and the SQL oracles), where a vector with
    * no components has no (i, q) rows and so no dot, bucket or list.
    */
  private def quantize(embeddings: DataFrame): DataFrame =
    embeddings
      .where(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          v => round(v.cast("double") * 1000.0, 0).cast("long")).as("qvec"))

  /** The `k` best (query_id, vec_id, dot) rows per query, ties toward the
    * lower vec_id, with their 1-based rank.
    */
  private def topK(dots: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    dots.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The ANN re-rank: each candidate (query_id, vec_id) pair pulls both
    * quantized arrays once and scores the exact integer dot in-row — 1
    * row per candidate pair, no per-component explode — then [[topK]].
    */
  private def rerank(candPairs: DataFrame, qvec: DataFrame, k: Int): DataFrame =
    topK(candPairs
      .join(qvec.select(col("vec_id").as("query_id"), col("qvec").as("qa")),
        Seq("query_id"))
      .join(qvec.select(col("vec_id"), col("qvec").as("qb")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), dotCol(col("qa"), col("qb")).as("dot")), k)

  /** The deterministic IVF seed codebook: the quantized vectors of the
    * `nLists` lowest vec_ids, one per list, in vec_id order.
    */
  private def seedCodebook(qvec: DataFrame, nLists: Int): Seq[Seq[Long]] = {
    val rows = qvec.where(col("vec_id") < nLists).orderBy("vec_id").collect()
    require(rows.length == nLists,
      s"IVF codebook needs vec_ids [0, $nLists) present with non-empty embeddings")
    rows.toSeq.map(_.getSeq[Long](1))
  }

  /** Exact top-k by integer dot product for the `nQueries` lowest vec_ids
    * against the whole table. Output: (query_id, vec_id, dot, rank).
    *
    * The declared brute-force baseline — O(nQueries x N) pairs by
    * definition — but the PLAN is still scale-shaped: the (tiny) query
    * side broadcasts and each pair's dot is one in-row
    * `aggregate(zip_with(...))`, so no exchange carries dim x pairs rows
    * (the former per-component join + groupBy shuffled 64x the pair
    * count); the only exchange left is the slim window rank.
    *
    * Returns a LAZY frame: nothing is persisted or computed here, so every
    * action on the result re-runs the whole all-pairs scan. A caller that
    * reads it more than once must persist it first (and unpersist after).
    */
  def bruteTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val qvec = quantize(embeddings)
    val queries = qvec.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qvec").as("qa"))
    val dots = qvec.crossJoin(broadcast(queries))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), dotCol(col("qa"), col("qvec")).as("dot"))
    // returned LAZY: this operator persists no intermediates, so the
    // house materialize-then-release step had nothing to protect — it
    // just computed the whole query once for the count and again for the
    // caller's action. Caching.release on the result stays a harmless
    // no-op.
    topK(dots, k)
  }

  /** Sign-LSH bucket per vector: bit j = (sum_i q_i * w(j,i)) > 0.
    * Returns (vec_id, bucket).
    *
    * ONE narrow codegen'd projection per row — no explode, no join, no
    * shuffle (PlanSpec asserts the plan is exchange-free). The previous
    * relational formulation (posexplode -> broadcast-join on i -> two
    * groupBys) shuffled dim x planes = 512 rows per vector; at 10^12
    * vectors that is 5x10^14 shuffle rows for a value a per-row loop
    * computes in-place.
    */
  def lshBuckets(embeddings: DataFrame, planes: Int, dim: Int): DataFrame =
    // null/empty embeddings emit NO bucket row (see quantize): without
    // the filter every such vector lands in bucket 0/null, inflating
    // candidate sets and double-counting against nearDupPairs' (label,
    // bucket) group-size guard in a way the oracle doesn't
    quantize(embeddings).select(col("vec_id"),
      lsh_bucket(col("qvec"), lit(planes), lit(dim)).as("bucket"))

  /** ANN top-k: candidates share one of the query's probe buckets; exact
    * integer dot re-ranks within the candidates. Output
    * (query_id, vec_id, dot, rank). The scale path: bucket equi-join
    * instead of all-pairs.
    *
    * `multiProbe` widens each QUERY to its bucket plus all buckets at
    * Hamming distance 1 (flip each plane bit once) — the classic
    * multi-probe LSH recall fix: a near-neighbour straddling one
    * hyperplane lands one bit away, and single-probe misses it. Only the
    * query side fans out (x Planes+1 rows), the data side stays one row
    * per vector, and the join stays an equi-join on the bucket key.
    */
  def annTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              multiProbe: Boolean = false): DataFrame = {
    // one cached quantized-ARRAY frame feeds both the bucket build and the
    // re-rank: buckets are a cheap codegen'd projection over it, and the
    // re-rank dot is the in-row aggregate(zip_with) bruteTopK/annTopKIvf
    // already use — 1 row per candidate pair. The former shape joined the
    // per-component (vec_id, i) stream twice and groupBy'd the products,
    // shuffling dim (=64) rows per candidate pair; integer dots are
    // order-independent, so the outputs are bit-identical.
    val qvec = quantize(embeddings).persist(StorageLevel.MEMORY_AND_DISK)
    val buckets = qvec.select(col("vec_id"),
        lsh_bucket(col("qvec"), lit(Planes), lit(Dim)).as("bucket"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val queries0 = buckets.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
    val queries =
      if (!multiProbe) queries0
      else queries0
        .withColumn("j", explode(lit((-1 until Planes).toArray)))
        .withColumn("bucket",
          when(col("j") === -1, col("bucket"))
            .otherwise(expr("bucket ^ shiftleft(CAST(1 AS BIGINT), j)")))
        .select("query_id", "bucket")
    // no distinct needed: the probe buckets of a query are all distinct
    // values and each data vector has exactly one bucket, so a pair can
    // match through at most one probe
    val candPairs = queries.join(buckets, "bucket")
      .where(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id")
    Caching.materializeAndRelease(rerank(candPairs, qvec, k), buckets, qvec)
  }

  /** IVF-Flat ANN top-k — the second scale path beside sign-LSH.
    *
    * Coarse quantizer: a deterministic codebook (the quantized vectors of
    * the `nLists` lowest vec_ids — closed-form so the SQL oracle derives
    * the identical codebook; a trained k-means would drop in unchanged).
    * Every vector is assigned to its exact-integer-L2-nearest centroid
    * (`list`); each query probes its `nProbe` nearest lists; candidates
    * share a probed list; the exact integer dot re-ranks candidates.
    *
    * 100 TB shape:
    *   - the codebook is bounded metadata (nLists x dim int64s) —
    *     collected once and inlined as a literal, so list assignment is
    *     ONE codegen'd `ivf_nearest` projection per row: no join, no
    *     shuffle on the data side (same shape as `lsh_bucket`);
    *   - the probe side fans out only the queries (x nProbe);
    *   - the re-rank dot is `aggregate(zip_with(...))` over the two
    *     quantized arrays — in-row codegen, no per-component explode, so
    *     candidate traffic is 1 row/pair instead of `dim` rows/pair;
    *   - ranks 0..nProbe-1 are nProbe DISTINCT centroid ids and each data
    *     vector has exactly one list, so a pair matches through at most
    *     one probe — no distinct needed (same argument as annTopK).
    *
    * Output (query_id, vec_id, dot, rank), ties toward lower vec_id.
    */
  def annTopKIvf(embeddings: DataFrame, nQueries: Int, k: Int,
                 nLists: Int = 16, nProbe: Int = 2,
                 codebook: Option[Seq[Long]] = None): DataFrame = {
    import graft.functions.GraftFunctions.ivf_nearest
    val qvec = quantize(embeddings).persist(StorageLevel.MEMORY_AND_DISK)
    val centLit = typedLit(codebook match {
      case Some(cb) =>
        require(cb.nonEmpty && cb.length % nLists == 0,
          s"codebook length ${cb.length} not a multiple of nLists=$nLists")
        cb
      case None => seedCodebook(qvec, nLists).flatten
    })
    val data = qvec.select(col("vec_id"),
      ivf_nearest(col("qvec"), centLit, lit(nLists), lit(0)).as("list"))
    val queries = qvec.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qvec"),
        explode(lit((0 until nProbe).toArray)).as("p"))
      .select(col("query_id"),
        ivf_nearest(col("qvec"), centLit, lit(nLists), col("p")).as("list"))
    val candPairs = queries.join(data, "list")
      .where(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id")
    Caching.materializeAndRelease(rerank(candPairs, qvec, k), qvec)
  }

  /** Lloyd-refined IVF codebook: start from the deterministic seed (the
    * `nLists` lowest vec_ids) and iterate assign → per-list centroid
    * recompute. Centroids stay INTEGER (floor(mean) per component, exact
    * because both the long sum and the count are exact in a double), so
    * assignment stays exact-integer and the whole training is
    * deterministic — which is what lets q_embed_ivf_kmeans carry a full
    * SQL oracle, unrolled iteration by iteration.
    *
    * 100 TB shape per iteration: assignment is the same exchange-free
    * `ivf_nearest` projection annTopKIvf uses; the centroid recompute is
    * posexplode + groupBy(list, i) — map-side combine reduces every
    * partition to at most nLists x dim cells before the exchange, and the
    * collected result is bounded metadata (nLists x dim longs). Lists
    * that lose every member keep their previous centroid.
    */
  def ivfCodebookKMeans(embeddings: DataFrame, nLists: Int = 16,
                        iters: Int = 2): Seq[Long] = {
    import graft.functions.GraftFunctions.ivf_nearest
    val qvec = quantize(embeddings).persist(StorageLevel.MEMORY_AND_DISK)
    val seed = seedCodebook(qvec, nLists)
    val dim = seed.head.length
    var cents: Seq[Long] = seed.flatten
    for (_ <- 0 until iters) {
      val sums = qvec.select(
          ivf_nearest(col("qvec"), typedLit(cents), lit(nLists), lit(0)).as("list"),
          posexplode(col("qvec")))
        .groupBy("list", "pos")
        .agg(floor(sum(col("col")) * lit(1.0) / count(lit(1))).cast("long").as("q"))
        .collect()
      val m = sums.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      cents = (0 until nLists).flatMap(l =>
        (0 until dim).map(i => m.getOrElse((l, i), cents(l * dim + i))))
    }
    qvec.unpersist(blocking = false)
    cents
  }

  /** Near-duplicate pairs: cosine >= tau via the integer
    * cross-multiplication dot^2 * 10000 >= tau2x10000 * |a|^2 * |b|^2
    * (dot > 0). Output (vec_a, vec_b, dot).
    *
    * Candidates are pairs sharing BOTH the blocking label and the sign-LSH
    * bucket — the scale path: a per-label all-pairs join is quadratic in
    * the label's population, while bucketed candidates split every label
    * into 2^Planes cells first (high-cosine pairs land in the same bucket
    * with high probability; the bucket criterion is part of the operator
    * contract, mirrored by the SQL oracle). The exact integer verify runs
    * on candidates only.
    *
    * HOT-BAND GUARD: a (label, bucket) group of more than 65,536 vectors
    * generates NO candidate pairs (e.g. a corpus of near-zero
    * embeddings collapsing into one bucket would otherwise emit |group|^2
    * pairs). Like ngram dedup's dfMax, the cutoff is part of the operator
    * contract and mirrored by the SQL oracle; a group that hot means the
    * bucketing failed for it and the caller should re-block (more planes
    * or a finer label).
    */
  def nearDupPairs(embeddings: DataFrame, tau2x10000: Int): DataFrame = {
    // one cached quantized-ARRAY frame: the exact verify computes dot and
    // both norms with in-row aggregate(zip_with) — 1 slim row per
    // candidate pair, where the former per-component formulation shipped
    // dim (= 64) rows per pair through the dot exchange plus a norms
    // aggregate + two joins (the annTopK round-5 rewrite, applied here).
    // Integer dots are order-independent, so outputs are bit-identical.
    val qvec = quantize(embeddings).persist(StorageLevel.MEMORY_AND_DISK)
    val meta = lshBuckets(embeddings, Planes, Dim)
      .join(embeddings.select("vec_id", "label"), "vec_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // group-size guard: the sizes frame is tiny (distinct label x
    // bucket) and broadcasts; hot groups are excluded BEFORE the
    // quadratic self-join output materializes
    val sizes = meta.groupBy("label", "bucket").agg(count(lit(1)).as("gsz"))
      .where(col("gsz") <= 65536)
      .select(col("label").as("ok_label"), col("bucket").as("ok_bucket"))
    val cand = meta.as("a").join(meta.as("b"),
        col("a.label") === col("b.label") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .join(broadcast(sizes),
        col("a.label") === col("ok_label") && col("a.bucket") === col("ok_bucket"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val out = cand
      .join(qvec.select(col("vec_id").as("vec_a"), col("qvec").as("qa")), "vec_a")
      .join(qvec.select(col("vec_id").as("vec_b"), col("qvec").as("qb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        dotCol(col("qa"), col("qb")).as("dot"),
        dotCol(col("qa"), col("qa")).as("na2"),
        dotCol(col("qb"), col("qb")).as("nb2"))
      .where(col("dot") > 0 &&
        col("dot") * col("dot") * 10000L >= lit(tau2x10000.toLong) * col("na2") * col("nb2"))
      .select("vec_a", "vec_b", "dot")
    Caching.materializeAndRelease(out, meta, qvec)
  }
}
