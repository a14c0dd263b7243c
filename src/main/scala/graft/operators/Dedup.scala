package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, phash). Thresholds are integer
  * cross-multiplications (inter*2 >= union for tau=0.5), never float
  * divisions, so every result is engine-reproducible; every stage is a
  * shuffle-on-key relational op (the MapReduce-set-similarity shape):
  * shingles shuffle by shingle, exact duplicates by text or hash,
  * candidates by band key — no driver-side state, no quadratic blow-up
  * outside the candidate verify. The three near-duplicate pair operators
  * (MinHash exact, MinHash estimate, phash) share one skeleton: one
  * collapse to representatives ([[collapse]]), a rep-level verify, and
  * one re-expansion to member pairs ([[expand]]).
  */
object Dedup {

  final val P = TextOps.P

  /** Second prime for the simhash high word — a DIFFERENT residue than P,
    * so the two 32-bit multiplicative hashes are genuinely independent
    * (both multipliers are odd, so hashes built from the SAME residue
    * share bit 0 and the fingerprint loses a bit).
    */
  final val P2 = 998244353L

  /** Exact dedup: representative (min doc_id) + multiplicity per distinct
    * text. At 100 TB this is the classic hash-shuffle group-by; partial
    * aggregation handles the heavy hitters.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n"))
      .select("rep_id", "n")

  /** Word-3-gram Jaccard >= num/den within a blocking key (lang):
    * candidate pairs from the shingle self-join, exact intersection /
    * union verify, cross-multiplied thresholds. Output:
    * (doc_a, doc_b, inter, uni).
    *
    * `dfMax > 0` enables FREQUENT-SHINGLE PRUNING: only shingles whose
    * document frequency (within the block) is <= dfMax generate candidate
    * pairs; the verify still scores candidates on their FULL shingle
    * sets. Without it, one hot shingle shared by 10^6 documents emits
    * 10^12 pairs in its group — the prune caps any shingle's pair
    * contribution at dfMax^2 (the prefix-filtering idea of the
    * MapReduce set-similarity literature). Near-duplicate pairs share
    * many shingles, so at any realistic threshold they still meet
    * through their rare shingles; the exact criterion "some shared
    * shingle has df <= dfMax" is part of the operator contract and is
    * mirrored by the SQL oracle.
    */
  def ngramJaccardPairs(docs: DataFrame, num: Int, den: Int,
                        dfMax: Int = 0): DataFrame = {
    val sh = TextOps.shingles3(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val candSh =
      if (dfMax <= 0) sh
      else {
        val rare = sh.groupBy("lang", "shingle")
          .agg(count(lit(1)).as("df")).where(col("df") <= dfMax)
          .select("lang", "shingle")
        sh.join(rare, Seq("lang", "shingle"))
      }
    val a = candSh.select(col("doc_id").as("doc_a"), col("lang"), col("shingle"))
    val b = candSh.select(col("doc_id").as("doc_b"), col("lang"), col("shingle"))
    val cand = a.join(b, Seq("lang", "shingle"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // exact verify on the FULL shingle sets of the candidates only —
    // per-doc distinct shingle ARRAYS built in-row (same set as the
    // exploded frame; see TextOps.shingleArray) and intersected in-row:
    // 1 slim row per candidate pair instead of |pairs| x |shingles/doc|
    // re-join rows + a sizes aggregate + two more joins (the same
    // round-7 rewrite as minhashLshPairs' verify; candidates can only be
    // docs with >= 1 shingle, so the inner joins keep the old semantics).
    val shArr = docs.select(col("doc_id"), TextOps.shingleArray(col("text")).as("sa"))
    val out = cand
      .join(shArr.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(shArr.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sa", "sb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("szs"))
      .withColumn("uni", col("szs") - col("inter"))
      .where(col("inter") * den >= col("uni") * num)
      .select("doc_a", "doc_b", "inter", "uni")
    Caching.materializeAndRelease(out, sh)
  }

  /** LSH band candidates off the wide signature frame: band keys are
    * per-row projections — key_b = sum_r m_{b*rows+r} * 31^r (exact
    * integer addition is order-free, so this equals the old sum()
    * aggregate over long-form rows bit-for-bit) — then a tiny
    * nBands-per-doc explode and the band self-join. 31^r as an explicit
    * integer fold: libm pow() is not guaranteed exactly rounded, and a
    * 29790.999.. would silently change band keys differently per engine.
    * Returns distinct (rep_a < rep_b) candidate pairs.
    */
  private[operators] def bandCandidates(wide: DataFrame, numHashes: Int,
                                        rowsPerBand: Int): DataFrame = {
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val lo = b * rowsPerBand
      val key = (lo until math.min(lo + rowsPerBand, numHashes)).map { j =>
        val w = (lo until j).foldLeft(1L)((a, _) => a * 31L)
        col(s"m$j") * lit(w)
      }.reduce(_ + _)
      struct(lit(b).as("band"), key.as("band_key"))
    }
    val banded = wide
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.band_key").as("band_key"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("rep_a"), col("y.doc_id").as("rep_b"))
      .distinct()
  }

  /** Stage 0 of every near-duplicate pair operator: exact duplicates
    * (equal `key`) collapse to one representative, the min `id`, in ONE
    * exchange — partial aggregation absorbs the heavy hitters.
    * collect_list keeps one id per input row, so exploding `ids`
    * reproduces the membership exactly, and the representative's key is
    * a narrow projection of the same aggregate: no join back to the
    * input, no second scan of it. Output (key, rep_id, ids).
    */
  private def collapse(df: DataFrame, key: String, id: String): DataFrame =
    df.groupBy(key).agg(min(id).as("rep_id"), collect_list(id).as("ids"))

  /** Stage N of every pair operator: rep-level verdicts back to member
    * pairs. `verified` is (rep_a < rep_b, value columns); `members` is
    * (id, rep_id, ...), one row per member of every rep that can pair;
    * `within` is the value columns of two exact duplicates, read off the
    * member row aliased `p`, or None when exact duplicates miss the
    * threshold. Constant `within` values stay literals: routed through a
    * per-rep join they would cost a join and its exchanges.
    *
    * Cross-group pairs inherit their rep pair's verdict (identical keys
    * => identical shingle sets, signatures or hashes); within-group pairs
    * are the member self-join. Both joins produce OUTPUT rows directly —
    * no verify work per pair. The output is therefore identical to
    * running the operator over the uncollapsed input.
    *
    * `compact` is the web-scale shape: a 10^6-copy exact-duplicate
    * cluster expands to 10^12 all-pairs rows (the answer IS quadratic in
    * that form), so it emits the verified REP pairs plus one (rep, member)
    * row per non-representative instead — linear, and any pair's verdict
    * is recoverable (a~b iff their reps pair up or coincide).
    */
  private def expand(verified: DataFrame, members: DataFrame, a: String, b: String,
                     within: Option[Seq[Column]], compact: Boolean): DataFrame = {
    val values = verified.columns.toSeq.filterNot(Set("rep_a", "rep_b")).map(col)
    val p = members.as("p")
    if (compact) {
      val reps = verified.select(col("rep_a").as(a) +: col("rep_b").as(b) +: values: _*)
      within.fold(reps)(w => reps.unionByName(p.where(col("p.id") =!= col("p.rep_id"))
        .select(col("p.rep_id").as(a) +: col("p.id").as(b) +: w: _*)))
    } else {
      def side(rep: String, id: String) =
        members.select(col("rep_id").as(rep), col("id").as(id))
      val cross = verified
        .join(side("rep_a", "ia"), "rep_a").join(side("rep_b", "ib"), "rep_b")
        .select(least(col("ia"), col("ib")).as(a) +:
          greatest(col("ia"), col("ib")).as(b) +: values: _*)
      within.fold(cross)(w => cross.unionByName(p.join(members.as("q"),
          col("p.rep_id") === col("q.rep_id") && col("p.id") < col("q.id"))
        .select(col("p.id").as(a) +: col("q.id").as(b) +: w: _*)))
    }
  }

  /** The per-rep frame both MinHash paths cache, (rep_id, ids, sh, si):
    * the exact-duplicate collapse over `text`, each distinct text's
    * distinct shingle ARRAY (in-row — no explode, no distinct exchange;
    * the set is identical to shingles3's, see TextOps.shingleArray) and
    * its int encoding `si`. `si` is a projection of its own, so the
    * numHashes signature columns read ONE evaluation of it; handed to
    * [[wideSigCols]] as an expression instead, every m_j re-derives the
    * shingle ints from `sh`.
    */
  private def minhashReps(docs: DataFrame): DataFrame =
    collapse(docs, "text", "doc_id")
      .select(col("rep_id"), col("ids"), TextOps.shingleArray(col("text")).as("sh"))
      .select(col("rep_id"), col("ids"), col("sh"),
        transform(col("sh"), s => TextOps.shingleInt(s)).as("si"))

  /** Wide MinHash signatures computed IN-ROW over a per-rep shingle-int
    * array: m_j = min over shingle ints s of (a_j*s + b_j) mod P, with
    * closed-form (a_j, b_j) — zero exchanges. An empty array would yield
    * null m_j, so both callers drop zero-shingle reps first: they have no
    * signature, hence no candidacy.
    */
  private def wideSigCols(si: Column, numHashes: Int): Seq[Column] =
    (0 until numHashes).map { j =>
      val a = (j * 2654435761L + 1L) % P
      val b = (j * 40503L + 7L) % P
      array_min(transform(si, s => (lit(a) * s + lit(b)) % P)).as(s"m$j")
    }

  /** MinHash + LSH banding + exact verify. Bands of `rowsPerBand` hashes;
    * band key = order-free weighted fold of the band's minhashes.
    * Candidates (same band key in any band) are verified with the exact
    * shingle Jaccard; pairs with jaccard >= num/den survive.
    * Output: (doc_a, doc_b, inter, uni).
    *
    * SCALE SHAPE: exact duplicates are collapsed to one representative per
    * distinct text BEFORE banding ([[collapse]]). Web corpora carry
    * clusters of 10^5-10^6 byte-identical documents; uncollapsed, every
    * member shares every band key and the band self-join emits
    * |cluster|^2 candidate pairs into the verify. Collapsed, the verify
    * sees one candidate per distinct-text PAIR — linear in cluster size —
    * and membership is re-expanded afterwards ([[expand]]). PipelineOpsSpec
    * plants a duplicate cluster and asserts the verify-side candidate
    * count stays linear.
    */
  def minhashLshPairs(docs: DataFrame, numHashes: Int, rowsPerBand: Int,
                      num: Int, den: Int): DataFrame = {
    val s = minhashLshStages(docs, numHashes, rowsPerBand, num, den)
    Caching.materializeAndRelease(s.pairs, s.shA)
  }

  /** The lazy stage frames of the exact LSH path: the per-rep cache to
    * release, the rep-level band candidates (which tests count), and the
    * output in both shapes — all pairs, and the compact (rep, member)
    * form [[clusterAssign]] feeds to connected components.
    */
  private[operators] final case class LshStages(
      shA: DataFrame, cand: DataFrame, pairs: DataFrame, compact: DataFrame)

  private[operators] def minhashLshStages(
      docs: DataFrame, numHashes: Int, rowsPerBand: Int,
      num: Int, den: Int): LshStages = {
    val shA = minhashReps(docs).persist(StorageLevel.MEMORY_AND_DISK)
    // reps with no shingle have no signature: dropped here, so no null
    // band key reaches the band explode
    val wide = shA.where(size(col("si")) >= 1).select(
      col("rep_id").as("doc_id") +: wideSigCols(col("si"), numHashes): _*)
    val cand = bandCandidates(wide, numHashes, rowsPerBand)

    // exact verify on the (rep-level) candidate set only: each pair pulls
    // both reps' distinct-shingle arrays ONCE and intersects in-row — 1
    // slim row per pair through every exchange. array_intersect over
    // distinct arrays counts exactly |A ∩ B|.
    val shSets = shA.select(col("rep_id"), col("sh"))
    val verified = cand
      .join(shSets.select(col("rep_id").as("rep_a"), col("sh").as("sa")), "rep_a")
      .join(shSets.select(col("rep_id").as("rep_b"), col("sh").as("sb")), "rep_b")
      .select(col("rep_a"), col("rep_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("szs"))
      .withColumn("uni", col("szs") - col("inter"))
      .where(col("inter") * den >= col("uni") * num)
      .select("rep_a", "rep_b", "inter", "uni")

    // within a group jaccard is exactly 1 over n >= 1 distinct shingles,
    // so the pair qualifies iff n*den >= n*num, i.e. iff den >= num — a
    // compile-time fact. Documents with < 3 tokens have no shingles,
    // hence (as uncollapsed) no signature, no candidacy and no pairs:
    // their reps carry no members.
    val members = shA.where(size(col("sh")) >= 1).select(explode(col("ids")).as("id"),
      col("rep_id"), size(col("sh")).cast("long").as("n"))
    val within =
      if (den >= num) Some(Seq(col("p.n").as("inter"), col("p.n").as("uni"))) else None
    LshStages(shA, cand,
      expand(verified, members, "doc_a", "doc_b", within, compact = false),
      expand(verified, members, "doc_a", "doc_b", within, compact = true))
  }

  /** MinHash + LSH with SIGNATURE-ONLY verification — the web-scale
    * verify mode: candidates are scored by the count of MATCHING minhash
    * components (est/H is the standard unbiased estimator of Jaccard),
    * and pairs with `est * den >= numHashes * num` survive. Output
    * (doc_a, doc_b, est).
    *
    * The exact path ([[minhashLshPairs]]) intersects every candidate
    * pair's shingle arrays. Here the score is ONE in-row
    * `aggregate(zip_with)` over the two signature arrays, so verification
    * cost is independent of document length. Same exact-duplicate
    * collapse and re-expansion as the exact path (identical texts have
    * identical signatures, so the estimate is collapse-invariant and the
    * oracle can verify against the direct uncollapsed formulation).
    */
  def minhashEstimatePairs(docs: DataFrame, numHashes: Int, rowsPerBand: Int,
                           num: Int, den: Int): DataFrame = {
    // ONE cached frame: member ids + in-row wide signatures + shingle
    // count, no shingle array. Reps with no shingle are dropped right
    // after the cache: they have no signature (no null band key reaches
    // the band explode), and no output pair — cross pairs need a banded
    // rep, within-group pairs a rep with >= 1 shingle. Filtered before
    // the cache instead, the optimizer pushes the predicate below the
    // collapse into the scan and every document builds its shingle array
    // twice (PlanSpec counts the builds).
    val cached = minhashReps(docs)
      .select(Seq(col("rep_id"), col("ids"), size(col("sh")).as("n_sh")) ++
        wideSigCols(col("si"), numHashes): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigW = cached.where(col("n_sh") >= 1)
    val members = sigW.select(explode(col("ids")).as("id"), col("rep_id"))
    val wide = sigW.select(
      col("rep_id").as("doc_id") +: (0 until numHashes).map(j => col(s"m$j")): _*)
    val cand = bandCandidates(wide, numHashes, rowsPerBand)
    val sigArr = sigW.select(col("rep_id"),
      array((0 until numHashes).map(j => col(s"m$j")): _*).as("sig"))
    val scored = cand
      .join(sigArr.select(col("rep_id").as("rep_a"), col("sig").as("sa")), "rep_a")
      .join(sigArr.select(col("rep_id").as("rep_b"), col("sig").as("sb")), "rep_b")
      .select(col("rep_a"), col("rep_b"),
        aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("est"))
      .where(col("est") * den >= lit(numHashes.toLong) * num)
    // within-group pairs have est = numHashes exactly; whether that meets
    // the threshold is a compile-time fact
    val within =
      if (numHashes.toLong * den >= numHashes.toLong * num)
        Some(Seq(lit(numHashes.toLong).as("est")))
      else None
    Caching.materializeAndRelease(
      expand(scored, members, "doc_a", "doc_b", within, compact = false), cached)
  }

  /** End-to-end near-dup cluster assignment: every document in `docs`
    * gets the min doc_id of its transitive near-duplicate cluster (its
    * own id when it has none) — the form a dedup pipeline actually
    * consumes (keep rows where id == component, or sample per cluster).
    *
    * Composes the compact (rep, member) pair shape — linear in
    * exact-duplicate cluster size — with large-star/small-star connected
    * components. The compact edges yield the SAME components as the
    * all-pairs expansion: rep-member edges connect exactly the nodes the
    * within-cluster pairs would, and rep-rep edges carry the cross-
    * cluster links, so transitive closure is unchanged.
    */
  def clusterAssign(docs: DataFrame, numHashes: Int, rowsPerBand: Int,
                    num: Int, den: Int): DataFrame = {
    // the pair frame goes to CC LAZILY: connectedComponents' own input
    // checkpoint materializes the pair pipeline (reading the shingle
    // cache), so the former standalone pairs persist + count pass — a
    // full extra evaluation of the pair pipeline whose cache was read
    // exactly once — disappears. The shingle cache is dropped as soon as
    // the checkpoint exists.
    val s = minhashLshStages(docs, numHashes, rowsPerBand, num, den)
    // the compact pair shape is canonical by construction (see the
    // Canonical entry's scaladoc), so CC skips its normalization distinct
    val cc = Components.connectedComponentsCanonical(
      s.compact.select("doc_a", "doc_b"))
    s.shA.unpersist(blocking = false)
    val out = docs.select(col("doc_id").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    val result = Caching.materializeAndRelease(out)
    Caching.release(cc)
    result
  }

  /** The step after [[clusterAssign]] that a pipeline actually ships: ONE
    * representative document per transitive near-duplicate cluster, policy
    * "longest text wins, lowest doc_id breaks ties" (keep the best copy,
    * deterministically). Output (component, doc_id, n_chars, n_members).
    *
    * SCALE SHAPE: the representative is picked with a map-side-combinable
    * `max(struct(n_chars, -doc_id))` aggregate, NOT a per-cluster window —
    * a web-scale boilerplate cluster (10^6 members) costs one partial-agg
    * cell per partition instead of a single-reducer window sort, the same
    * hub argument as Components' per-node min. Comparisons are exact
    * integer lexicographic struct ordering, so any engine reproduces the
    * choice bit-for-bit.
    */
  def dedupedCorpus(docs: DataFrame, numHashes: Int, rowsPerBand: Int,
                    num: Int, den: Int): DataFrame = {
    val assigned = clusterAssign(docs, numHashes, rowsPerBand, num, den)
    val out = docs.select(col("doc_id"), col("n_chars"))
      .join(assigned, docs("doc_id") === assigned("id"))
      .groupBy("component")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("sel"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("sel.neg_id")).as("doc_id"),
        col("sel.n_chars").as("n_chars"), col("n_members"))
    val result = Caching.materializeAndRelease(out)
    Caching.release(assigned)
    result
  }

  /** 64-bit SimHash over token hashes: bit b is the sign of
    * sum(+/-1 per token occurrence by bit b of the token hash). Two
    * independent 32-bit multiplicative hashes supply bits 0..31 and
    * 32..63; at web scale 16 bits collide on virtually everything, 64
    * bits give a usable fingerprint. The two hashes start from DIFFERENT
    * prime residues (P vs P2) — with a shared residue both odd-multiplier
    * products share bit 0 and the fingerprint silently loses a bit. The
    * sign bit's weight is Long.MinValue, summed last so every partial
    * stays in Long range — identical two's-complement packing in any
    * BIGINT engine.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(docs)
      .withColumn("hlo", (TextOps.tokenInt(col("tok")) % P) * 48271L % 4294967296L)
      .withColumn("hhi", (TextOps.tokenInt(col("tok")) % P2) * 69621L % 4294967296L)
    def bitCol(b: Int): Column =
      if (b < 32) shiftright(col("hlo"), b) else shiftright(col("hhi"), b - 32)
    val bitSums = (0 until 64).map { b =>
      sum(bitCol(b) % 2L * 2L - 1L).as(s"s$b")
    }
    val packed = (0 until 64).map { b =>
      val weight = if (b == 63) Long.MinValue else 1L << b
      when(col(s"s$b") > 0, weight).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", packed)
      .select("doc_id", "simhash")
  }

  /** Image-side dedup: groups of images sharing a perceptual hash
    * (the planted mod-17 duplicates in the synthetic table surface here).
    */
  def phashGroups(images: DataFrame): DataFrame =
    images.groupBy("phash")
      .agg(count(lit(1)).as("n"), sort_array(collect_list("image_id")).as("ids"))
      .where(col("n") > 1)
      .select(col("phash"), col("n"), col("ids"))

  /** Image near-duplicate pairs by perceptual-hash Hamming radius:
    * all (id_a, id_b, dist) with popcount(phash_a XOR phash_b) <= t —
    * the thing a perceptual hash is FOR (exact-equality grouping only
    * finds bit-identical hashes). Input: (image_id, phash).
    *
    * Shape (the minhashLshPairs shape, pigeonhole instead of MinHash):
    * the 64-bit phash splits into 4 contiguous 16-bit band keys; any
    * pair within Hamming distance t < 4 leaves at least one band
    * untouched, so banding is a LOSSLESS candidate filter. Candidates
    * equi-join on (band, band_key); the exact popcount verify runs on
    * candidates only. Exact duplicates (identical phash — web-scale
    * image corpora carry huge byte-identical clusters) are collapsed to
    * one representative per distinct hash BEFORE banding ([[collapse]]),
    * and membership re-expands afterwards ([[expand]]): identical hashes
    * band identically, so the output equals the uncollapsed formulation
    * (within-cluster pairs have dist 0).
    */
  def phashNearDupPairs(images: DataFrame, t: Int): DataFrame = {
    val bands = 4
    require(t < bands, s"pigeonhole needs t < bands (got t=$t, bands=$bands)")

    // a null hash pairs with nothing, not even another null
    val reps = collapse(images.where(col("phash").isNotNull), "phash", "image_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val members = reps.select(explode(col("ids")).as("id"), col("rep_id"))

    // band_key MUST be extracted by masking, not `%`: Spark's `%` keeps the
    // dividend's sign, so a negative phash (bit 63 set — ~half of real
    // image hashes) would get band_key = low-bits − 2^16 while a
    // non-negative hash with the same low bits gets low-bits, silently
    // breaking the pigeonhole guarantee on band 0.
    val banded = reps.select(col("rep_id"), col("phash"))
      .withColumn("band", explode(lit((0 until bands).toArray)))
      .withColumn("band_key",
        expr("shiftrightunsigned(phash, band * 16)").bitwiseAND(lit(0xFFFFL)))
    val a = banded.select(col("rep_id").as("rep_a"),
      col("phash").as("ph_a"), col("band"), col("band_key"))
    val b = banded.select(col("rep_id").as("rep_b"),
      col("phash").as("ph_b"), col("band"), col("band_key"))
    val verified = a.join(b, Seq("band", "band_key"))
      .where(col("rep_a") < col("rep_b"))
      .select("rep_a", "rep_b", "ph_a", "ph_b").distinct()
      .where(expr(s"bit_count(ph_a ^ ph_b) <= $t"))
      .select(col("rep_a"), col("rep_b"),
        expr("CAST(bit_count(ph_a ^ ph_b) AS BIGINT)").as("dist"))
    Caching.materializeAndRelease(expand(verified, members, "id_a", "id_b",
      Some(Seq(lit(0L).as("dist"))), compact = false), reps)
  }
}
