package graft.operators

import graft.TestSpark
import graft.sources.Images
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-pipeline operators: semantics the DuckDB oracles can't reach —
  * pixel-derived phash groups, LSH recall against all-pairs truth,
  * driver-side brute-force for quantized top-k.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("phashGroups == EXACTLY the planted mod-17 image duplicates") {
    // the q_phash_groups oracle (closed-form render_id grouping) relies on
    // phash being injective on distinct renders of this table AND constant
    // on identical renders — assert set equality, not just recall
    val images = Images.table(spark, 240).toDF.cache()
    val groups = Dedup.phashGroups(images).collect()
      .map(_.getAs[scala.collection.Seq[String]]("ids").toList).toSet
    val planted = (9L until 240L).filter(i => i % 17 == 16)
      .map(i => List(f"img-${i - 9}%08d", f"img-$i%08d")).toSet
    assert(groups === planted)
  }

  test("phashNearDupPairs on REAL pixel phashes == brute-force all-pairs Hamming <= t") {
    // the driver oracle (q_phash_neardup) runs on a synthetic phash-shaped
    // column because the real renders come as close as Hamming 2; THIS is
    // where the operator meets the real pixel hashes, against an all-pairs
    // truth — including the accidental near-collisions between distinct
    // renders and the exact-dup clusters the collapse stage handles
    val imgs = Images.table(spark, 240).toDF.select("image_id", "phash").cache()
    for (t <- Seq(0, 2, 3)) {
      val got = Dedup.phashNearDupPairs(imgs, t).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val brute = imgs.as("a").crossJoin(imgs.as("b"))
        .where(col("a.image_id") < col("b.image_id") &&
          expr(s"bit_count(a.phash ^ b.phash) <= $t"))
        .select(col("a.image_id"), col("b.image_id"),
          expr("CAST(bit_count(a.phash ^ b.phash) AS BIGINT)"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got === brute, s"t=$t")
      if (t >= 2) assert(brute.exists(_._3 > 0),
        s"t=$t truth must contain genuine near-dups (not just exact) for the test to bite")
    }
  }

  test("phashNearDupPairs: negative phashes (bit 63 set) keep the band-0 pigeonhole lossless") {
    // a/b differ at bits 16, 32, 63 (distance 3 = t): their ONLY
    // untouched band is band 0, and bit 63 flips the sign. Real image
    // phashes set bit 63 ~half the time; a remainder-based band key
    // (hash % 2^16, Spark keeps the dividend's sign) gives the negative
    // side band_key = low16 - 65536 vs low16 for the positive side, so
    // the pair's one matching band mismatches and it is silently
    // dropped — the bug this spec pins. Masking keys both sides 0xABCD.
    val a = (1L << 63) | (1L << 20) | 0xABCDL // negative
    val b = a ^ ((1L << 16) | (1L << 32) | (1L << 63)) // positive, dist 3
    val c = -1L // negative, far from both (dist >> 3)
    // two null hashes: a null hash pairs with nothing, not even another null
    val df = Seq[(String, java.lang.Long)](("i-a", a), ("i-b", b), ("i-c", c),
      ("i-n", null), ("i-m", null)).toDF("image_id", "phash")
    val got = Dedup.phashNearDupPairs(df, t = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("i-a", "i-b", 3L)))
  }

  test("minhash LSH finds exactly the all-pairs near-duplicates at tau=0.5") {
    val lsh = Dedup.minhashLshPairs(docs, 16, 4, 1, 2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs = Dedup.ngramJaccardPairs(docs, 1, 2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ngram pairs are blocked by lang; LSH is global, so LSH ⊇ within-lang truth
    assert(allPairs.subsetOf(lsh),
      s"LSH missed near-dup pairs: ${allPairs -- lsh}")
  }

  test("bruteTopK matches a driver-side exact computation") {
    val got = Similarity.bruteTopK(embeddings, nQueries = 5, k = 3)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val vecs = embeddings.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(f => math.round(f.toDouble * 1000.0)).toArray }
    val want = (for ((qid, qv) <- vecs if qid < 5) yield {
      vecs.filter(_._1 != qid)
        .map { case (vid, dv) => (vid, qv.zip(dv).map { case (a, b) => a * b }.sum) }
        .sortBy { case (vid, dot) => (-dot, vid) }
        .take(3).zipWithIndex
        .map { case ((vid, _), ix) => (qid, vid, ix + 1) }
    }).flatten.toSet
    assert(got === want)
  }

  test("dedupedCorpus: representatives cover every cluster, argmax not window") {
    val out = Dedup.dedupedCorpus(docs, 16, 4, 1, 2)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val plan = out.queryExecution.executedPlan.toString
    Caching.release(out)
    // scale-shape guard: the per-cluster pick must be the partial-agg
    // argmax (hub-safe), never a per-cluster window sort
    assert(!plan.contains("Window"),
      s"representative pick must not use a window:\n$plan")
    // structure: one row per component, member counts sum to the corpus,
    // each representative is its own component's member
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.map(_._4).sum === docs.count())
    val assigned = Dedup.clusterAssign(docs, 16, 4, 1, 2)
    val compOf = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caching.release(assigned)
    for ((comp, rep, _, _) <- rows) assert(compOf(rep) === comp)
  }

  test("minhashEstimatePairs: planted exact duplicates estimate at exactly numHashes") {
    import org.apache.spark.sql.Row
    val one = docs.where($"doc_id" === 3).collect().head
    val clone = spark.createDataFrame(
      java.util.List.of(Row(10000L, one.getString(1), one.getString(2),
        one.getString(3), one.getLong(4))), docs.schema)
    val est = Dedup.minhashEstimatePairs(docs.unionByName(clone), 16, 4, 1, 2)
    val got = est.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Caching.release(est)
    // identical texts => identical signatures => every component matches
    assert(got.contains((3L, 10000L, 16L)),
      s"planted duplicate pair missing or mis-scored: ${got.toSeq.take(10)}")
    // and every estimate respects the threshold and the ceiling
    assert(got.forall { case (_, _, e) => e >= 8L && e <= 16L })
  }

  test("ragged-length embeddings score by the partial dot over shared components") {
    // zip_with pads the shorter array with nulls; the coalesce(_, 0) wrap
    // must reduce a ragged pair to the inner-join-on-i semantics (partial
    // dot), not a NULL dot ranked last
    val e = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)),
      (1L, Seq(2.0f, 1.0f)),          // shorter: dot vs q0 = 2000*1000 + 1000*2000
      (2L, Seq(1.0f, 1.0f, 1.0f, 9.0f)) // longer: extra component ignored vs q0
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteTopK(e, nQueries = 1, k = 2)
      .select("vec_id", "dot", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // q0 = (1000, 2000, 3000); v1 -> 2000*1000+1000*2000 = 4,000,000;
    // v2 -> 1000+2000+3000 scaled = 1000*1000+2000*1000+3000*1000 = 6,000,000
    assert(got === Set((2L, 6000000L, 1), (1L, 4000000L, 2)))
  }

  test("annTopK re-rank is in-row: no per-component explode anywhere in the plan") {
    // the re-rank dot must be aggregate(zip_with) over the cached
    // quantized-array frame (1 row per candidate pair), not the old
    // (vec_id, i) join + groupBy that shuffled dim rows per pair
    val ann = Similarity.annTopK(embeddings, nQueries = 5, k = 3)
    val plan = ann.queryExecution.executedPlan.toString
    Caching.release(ann)
    assert(!plan.contains("Generate"),
      s"annTopK must not explode components (single-probe):\n$plan")
    assert(!plan.toLowerCase.contains("posexplode"),
      s"annTopK must not posexplode the quantized stream:\n$plan")
  }

  test("annTopK results are a rank-consistent subset of bucket candidates") {
    val ann = Similarity.annTopK(embeddings, nQueries = 5, k = 3).collect()
    assert(ann.nonEmpty)
    val byQuery = ann.groupBy(_.getAs[Long]("query_id"))
    for ((_, rows) <- byQuery) {
      val ranks = rows.map(_.getAs[Int]("rank")).sorted
      assert(ranks === (1 to ranks.length)) // contiguous ranks
      val dots = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("dot"))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b })
    }
  }

  test("repetition: hand-computed gram/top-token signals; argmax not window; <3 tokens excluded") {
    val df = Seq(
      (1L, "a b a b a b"), // grams: aba bab aba bab -> 4 total 2 distinct; a/b tie -> a
      (2L, "x y"),         // < 3 tokens: excluded
      (3L, "p q r s")      // grams: pqr qrs -> no dups; all-tie top token -> p
    ).toDF("doc_id", "text")
    val out = TextOps.repetition(df)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"per-doc argmax must be the partial-agg min(struct), not a window:\n$plan")
    val got = out.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got === Array(
      (1L, 6L, "a", 3L, 500L, 4L, 2L, 500L),
      (3L, 4L, "p", 1L, 250L, 2L, 2L, 0L)))
  }

  test("shingles3 edge cases: < 3 tokens -> no shingles; duplicates collapse") {
    // the in-row rewrite's risky branch: sequence(1, n-2) DESCENDS for
    // n < 3 unless guarded — a 1-token doc must emit zero shingles, not
    // explode over [1, 0, -1]
    val d = Seq(
      (1L, "", "en"), (2L, "one", "en"), (3L, "one two", "en"),
      (4L, "a b c", "en"), (5L, "a b c d", "en"),
      (6L, "x y x y x y", "en") // repeated 3-grams must dedup
    ).toDF("doc_id", "text", "lang")
    val got = TextOps.shingles3(d).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got === Set(
      (4L, "a b c"),
      (5L, "a b c"), (5L, "b c d"),
      (6L, "x y x"), (6L, "y x y")))
  }

  test("annTopKIvf probing ALL lists == bruteTopK exactly") {
    // with nProbe = nLists every query probes every list, so candidates =
    // all vectors except self and the IVF result must equal the declared
    // brute-force baseline bit-for-bit (same exact integer dots and ties)
    val ivf = Similarity.annTopKIvf(embeddings, nQueries = 5, k = 3,
        nLists = 16, nProbe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val brute = Similarity.bruteTopK(embeddings, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(ivf === brute)
  }

  test("kmeans codebook: SSE never worse than the seed; probe-all still == brute") {
    val nLists = 16
    val vecs = embeddings.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(f => math.round(f.toDouble * 1000.0)).toArray }
      .sortBy(_._1)
    def sse(flat: Seq[Long]): Double = {
      val dim = flat.length / nLists
      val cents = flat.grouped(dim).map(_.toArray).toArray
      vecs.map { case (_, q) =>
        cents.map(c => q.zip(c).map { case (a, b) =>
          val d = (a - b).toDouble; d * d }.sum).min
      }.sum
    }
    val seed = vecs.take(nLists).flatMap(_._2).toSeq
    val trained = Similarity.ivfCodebookKMeans(embeddings, nLists, iters = 2)
    assert(trained.length === seed.length)
    assert(sse(trained) <= sse(seed),
      f"k-means worsened SSE: ${sse(trained)}%.0f > ${sse(seed)}%.0f")
    // the trained codebook only changes WHICH lists exist — probing all of
    // them must still reproduce the brute baseline bit-for-bit
    val ivf = Similarity.annTopKIvf(embeddings, nQueries = 5, k = 3,
        nLists = nLists, nProbe = nLists, codebook = Some(trained)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val brute = Similarity.bruteTopK(embeddings, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(ivf === brute)
  }

  test("ivf_nearest ranks centroids by exact integer L2, ties toward lower id") {
    import graft.functions.GraftFunctions.ivf_nearest
    graft.GraftSession.install(spark)
    val vecs = embeddings.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(f => math.round(f.toDouble * 1000.0)).toArray }
      .sortBy(_._1)
    val nLists = 16
    val cents = vecs.take(nLists).map(_._2)
    val centFlat = cents.flatten.toSeq
    val got = embeddings
      .select(col("vec_id"),
        ivf_nearest(transform(col("embedding"),
            v => round(v.cast("double") * 1000.0, 0).cast("long")),
          typedLit(centFlat), lit(nLists), lit(0)).as("l0"),
        ivf_nearest(transform(col("embedding"),
            v => round(v.cast("double") * 1000.0, 0).cast("long")),
          typedLit(centFlat), lit(nLists), lit(1)).as("l1"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    for ((id, qv) <- vecs) {
      val ranked = cents.zipWithIndex.map { case (c, ci) =>
        (qv.zip(c).map { case (a, b) => val d = a - b; d * d }.sum, ci)
      }.sortBy(identity).map(_._2)
      assert(got(id) === ((ranked(0), ranked(1))), s"vec $id")
    }
    // a centroid vector is its own nearest centroid (d2 = 0) — the
    // tie-toward-lower-id rule only matters for exact duplicates
    for (ci <- 0 until nLists) assert(got(ci.toLong)._1 <= ci)
  }

  test("simhash (64-bit): near-duplicate docs have small hamming distance") {
    val near = Dedup.ngramJaccardPairs(docs, 1, 2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(near.nonEmpty)
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((a, b) <- near) {
      val ham = java.lang.Long.bitCount(sh(a) ^ sh(b))
      assert(ham <= 16, s"near-dup pair ($a,$b) has hamming $ham > 16/64")
    }
    // 64 bits must actually be populated (not a 16-bit hash in disguise)
    assert(sh.values.exists(v => (v >>> 32) != 0L), "high 32 bits never set")
  }

  test("nearDupPairs (label+bucket candidates) is a subset of all-pairs truth") {
    val got = Similarity.nearDupPairs(embeddings, 900)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "bucketed near-dup must still find the planted dups")
    // driver-side all-pairs truth within label at the same threshold
    val vecs = embeddings.select("vec_id", "label", "embedding")
      .as[(Long, String, Seq[Float])].collect()
      .map { case (id, l, v) => (id, l, v.map(f => math.round(f.toDouble * 1000.0)).toArray) }
    val truth = (for {
      (ia, la, va) <- vecs; (ib, lb, vb) <- vecs
      if ia < ib && la == lb
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      if dot > 0 && dot * dot * 10000L >=
        900L * va.map(x => x * x).sum * vb.map(x => x * x).sum
    } yield (ia, ib)).toSet
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
  }

  test("minhash LSH: exact-dup clusters stay LINEAR in the verify (scale shape)") {
    // Plant a 300-copy exact-duplicate cluster plus 20 distinct docs. The
    // verify-side candidate pairs must be REP-level (bounded by distinct
    // texts, not by cluster membership: uncollapsed banding would emit
    // C(300,2) ~ 45k candidate pairs into the shingle-join verify).
    val cluster = (0L until 300L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog tonight", "en"))
    val others = (300L until 320L)
      .map(i => (i, s"distinct document number $i with words w${i}a w${i}b w${i}c", "en"))
    val d = (cluster ++ others).toDF("doc_id", "text", "lang")
    val s = Dedup.minhashLshStages(d, 16, 4, 1, 2)
    val nCand = s.cand.count()
    val out = Caching.materializeAndRelease(s.pairs, s.shA)
    assert(nCand <= 210L, s"verify-side candidates must be rep-level, got $nCand")
    // the OUTPUT still contains every within-cluster pair, at jaccard 1
    val within = out.where(col("doc_a") < 300 && col("doc_b") < 300)
    assert(within.count() === 300L * 299L / 2L)
    assert(within.where(col("inter") =!= col("uni")).count() === 0L)
    out.unpersist(blocking = true)
  }

  test("expandWithin=false: (rep, member) output is linear yet reconstructs the all-pairs answer") {
    // same fixture as the linearity spec: one 300-copy exact-dup cluster
    // + 20 distinct docs. All-pairs form emits C(300,2) ~ 45k rows; the
    // compact form must stay linear (299 membership rows + rep pairs)
    // and carry the same information.
    val clusterTxt = "the quick brown fox jumps over the lazy dog tonight"
    val cluster = (0L until 300L).map(i => (i, clusterTxt, "en"))
    val others = (300L until 320L)
      .map(i => (i, s"distinct document number $i with words w${i}a w${i}b w${i}c", "en"))
    val d = (cluster ++ others).toDF("doc_id", "text", "lang")
    val full = Dedup.minhashLshPairs(d, 16, 4, 1, 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s = Dedup.minhashLshStages(d, 16, 4, 1, 2)
    val compact = Caching.materializeAndRelease(s.compact, s.shA)
    val rows = compact.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val textOf = (cluster ++ others).map(p => p._1 -> p._2).toMap
    val (memberRows, repPairs) = rows.partition { case (a, b) => textOf(a) == textOf(b) }
    assert(memberRows.length === 299, "one membership row per non-representative")
    assert(rows.length === 299 + repPairs.length, "no quadratic within-expansion")
    // reconstruct: cluster-of(rep) x cluster-of(rep) for rep pairs, plus
    // all within-cluster pairs — must equal the all-pairs output
    val clusterOf = (cluster ++ others).groupBy(_._2).values
      .map { ds => ds.map(_._1).min -> ds.map(_._1) }.toMap
    val within = clusterOf.values.flatMap(ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    val crossRec = repPairs.flatMap { case (ra, rb) =>
      for (a <- clusterOf(ra); b <- clusterOf(rb))
        yield (math.min(a, b), math.max(a, b))
    }.toSet
    assert((within ++ crossRec) === full)
    compact.unpersist(blocking = true)
  }

  test("operators release every cached intermediate (only the result stays)") {
    // the measured failure mode: stale cached blocks from one operator
    // evicting the next operator's execution memory (14 s -> 195 s join)
    val sc = spark.sparkContext
    def assertClean(name: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      val out = build
      out.count()
      Caching.release(out)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name leaked ${leaked.size} cached RDD(s)")
    }
    assertClean("ngramJaccardPairs")(Dedup.ngramJaccardPairs(docs, 1, 2, dfMax = 50))
    assertClean("minhashLshPairs")(Dedup.minhashLshPairs(docs, 16, 4, 1, 2))
    assertClean("bruteTopK")(Similarity.bruteTopK(embeddings, 5, 3))
    assertClean("annTopK")(Similarity.annTopK(embeddings, 5, 3, multiProbe = true))
    assertClean("annTopKIvf")(Similarity.annTopKIvf(embeddings, 5, 3))
    assertClean("nearDupPairs")(Similarity.nearDupPairs(embeddings, 900))
  }

  test("quality metrics are internally consistent") {
    val q = TextOps.quality(docs).collect()
    for (r <- q) {
      assert(r.getAs[Long]("n_tokens") > 0)
      assert(r.getAs[Long]("n_subwords") >= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_chars") >= r.getAs[Long]("n_tokens") * 2 - 1)
    }
  }

  test("contamination == brute-force shingle containment; leaked eval doc reads total/total") {
    import spark.implicits._
    val train = Seq((1L, "a b c d e"), (2L, "x y z w")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val eval = Seq(
      (10L, "a b c d e"), // byte-identical to train doc 1: fully contaminated
      (11L, "a b c q r s"), // shares exactly one shingle (a b c)
      (12L, "p q"), // < 3 tokens: no shingles, no row
      (13L, "no overlap here at all")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val got = TextOps.contamination(eval, train).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(10L -> ((3L, 3L)), 11L -> ((1L, 4L)), 13L -> ((0L, 3L))))
  }
}
