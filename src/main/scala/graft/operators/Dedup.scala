package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, phash). Thresholds are integer
  * cross-multiplications (inter*2 >= union for tau=0.5), never float
  * divisions, so every result is engine-reproducible; every stage is a
  * shuffle-on-key relational op (the MapReduce-set-similarity shape):
  * shingles shuffle by shingle, signatures by (doc, hash-ix), candidates
  * by band key — no driver-side state, no quadratic blow-up outside the
  * candidate verify.
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
    val sh = TextOps.shingles3(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
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

  /** MinHash signature matrix: H hashes h_j(doc) = min over shingle ints s
    * of (a_j*s + b_j) mod P, with closed-form (a_j, b_j). Returns
    * (doc_id, j, minh).
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame =
    minhashSignaturesFromShingles(TextOps.shingles3(docs), numHashes)

  /** Wide MinHash signatures (doc_id, m0..m{H-1}) over a (doc_id,
    * shingle) frame, in ONE partial-agg groupBy: H independent
    * min-aggregates over a single shingle-int projection. The previous
    * formulation (crossJoin a broadcast params table, groupBy (doc_id,
    * j)) pushed H x |shingles| pre-agg rows into the exchange; here
    * map-side combine reduces the shuffle to ~1 row per (doc,
    * partition). Nor is a distinct() exchange needed: duplicate
    * (doc_id, s) rows (shingleInt collisions of distinct shingles —
    * shingles3 itself already dedups) cannot change a min. Same
    * closed-form (a_j, b_j) and integer arithmetic, so every m_j is
    * bit-identical to the old path and the SQL oracles are untouched.
    */
  def minhashSignaturesWide(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map { j =>
      val a = (j * 2654435761L + 1L) % P
      val b = (j * 40503L + 7L) % P
      min((lit(a) * col("s") + lit(b)) % P).as(s"m$j")
    }
    sh.withColumn("s", TextOps.shingleInt(col("shingle")))
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Same signatures in long form (doc_id, j, minh) — derived from the
    * wide build by a cheap per-row explode (H rows per doc, post-agg).
    */
  def minhashSignaturesFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    val jm = (0 until numHashes).map(j =>
      struct(lit(j).as("j"), col(s"m$j").as("minh")))
    minhashSignaturesWide(sh, numHashes)
      .select(col("doc_id"), explode(array(jm: _*)).as("jm"))
      .select(col("doc_id"), col("jm.j").as("j"), col("jm.minh").as("minh"))
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

  /** MinHash + LSH banding + exact verify. Bands of `rowsPerBand` hashes;
    * band key = order-free weighted fold of the band's minhashes.
    * Candidates (same band key in any band) are verified with the exact
    * shingle Jaccard; pairs with jaccard >= num/den survive.
    * Output: (doc_a, doc_b, inter, uni).
    *
    * SCALE SHAPE: exact duplicates are collapsed to one representative per
    * distinct text BEFORE banding. Web corpora carry clusters of 10^5-10^6
    * byte-identical documents; uncollapsed, every member shares every band
    * key and the band self-join emits |cluster|^2 candidate pairs into the
    * (expensive, shingle-join) verify. Collapsed, the verify sees one
    * candidate per distinct-text PAIR — linear in cluster size — and group
    * membership is re-expanded afterwards as a cheap output-producing
    * join. The OUTPUT is provably identical to banding every document:
    * exact duplicates have identical signatures, so (a, b) band-match iff
    * their representatives do, and the verified jaccard depends only on
    * the texts. PipelineOpsSpec plants a duplicate cluster and asserts
    * the verify-side candidate count stays linear.
    */
  def minhashLshPairs(docs: DataFrame, numHashes: Int, rowsPerBand: Int,
                      num: Int, den: Int,
                      expandWithin: Boolean = true): DataFrame =
    minhashLshPairsImpl(docs, numHashes, rowsPerBand, num, den, expandWithin)._1

  /** Wide MinHash signatures computed IN-ROW over a per-doc shingle-int
    * array: m_j = array_min over the same closed-form (a_j, b_j) hash the
    * groupBy build uses — bit-identical values, zero exchanges (min over
    * the array elements equals min over the exploded rows). An empty
    * array would yield null m_j, so both callers drop zero-shingle reps
    * first — the same candidacy as being absent from the groupBy build.
    */
  private def wideSigCols(si: Column, numHashes: Int): Seq[Column] =
    (0 until numHashes).map { j =>
      val a = (j * 2654435761L + 1L) % P
      val b = (j * 40503L + 7L) % P
      array_min(transform(si, s => (lit(a) * s + lit(b)) % P)).as(s"m$j")
    }

  /** Implementation returning (result, rep-level candidate pairs) so tests
    * can assert the candidate volume; the second frame is lazy.
    */
  private[operators] def minhashLshPairsImpl(
      docs: DataFrame, numHashes: Int, rowsPerBand: Int,
      num: Int, den: Int, expandWithin: Boolean = true): (DataFrame, DataFrame) = {
    val s = minhashLshStages(docs, numHashes, rowsPerBand, num, den, expandWithin)
    (Caching.materializeAndRelease(s.out, s.shA), s.cand)
  }

  /** The lazy stage frames of the exact LSH path that its callers use:
    * the shingle cache to release, the rep-level band candidates (which
    * tests count) and the output pairs.
    */
  private[operators] final case class LshStages(
      shA: DataFrame, cand: DataFrame, out: DataFrame)

  private[operators] def minhashLshStages(
      docs: DataFrame, numHashes: Int, rowsPerBand: Int,
      num: Int, den: Int, expandWithin: Boolean): LshStages = {
    import org.apache.spark.storage.StorageLevel
    // Stage 0 — exact-duplicate collapse in ONE text exchange: group by
    // text keeping the representative (min doc_id per distinct text —
    // partial aggregation absorbs the heavy hitters) AND the member-id
    // list. collect_list gathers one doc_id per input row, so exploding
    // it reproduces the old members set exactly. The former shape
    // (reps groupBy + members join-back + repDocs join) shuffled the
    // full text column three times and re-scanned docs twice; members
    // and the representative texts are now narrow projections of this
    // one aggregate.
    val collapsed = docs.groupBy("text")
      .agg(min("doc_id").as("rep_id"), collect_list("doc_id").as("ids"))
    // ONE cached per-rep frame feeds everything downstream: the distinct
    // shingle ARRAY (in-row — no explode, no distinct exchange; the set
    // is identical to shingles3's, see TextOps.shingleArray), its int
    // encoding (for the signatures), and the member-id list.
    val shA = collapsed
      .select(col("rep_id"), col("ids"), TextOps.shingleArray(col("text")).as("sh"))
      .select(col("rep_id"), col("ids"), col("sh"),
        transform(col("sh"), s => TextOps.shingleInt(s)).as("si"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val members = shA.select(explode(col("ids")).as("doc_id"), col("rep_id"))

    // reps with no shingle have no signature: dropped here, so no null
    // band key reaches the band explode
    val wide = shA.where(size(col("si")) >= 1).select(
      col("rep_id").as("doc_id") +: wideSigCols(col("si"), numHashes): _*)
    val cand = bandCandidates(wide, numHashes, rowsPerBand)

    // exact verify on the (rep-level) candidate set only: each pair pulls
    // both reps' distinct-shingle arrays ONCE and intersects in-row —
    // 1 slim row per pair through every exchange, where the former shape
    // re-joined the exploded shingle frame per pair (|pairs| x
    // |shingles/doc| exchange rows, the engine's measured worst scaler)
    // and then paid a sizes aggregate + two more joins. array_intersect
    // over distinct arrays counts exactly |A ∩ B| — the same number the
    // (sa = sb) equi-join + count computed.
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

    // Stage N — membership re-expansion. Cross-group: every (member of A,
    // member of B) pair inherits the rep pair's verdict (identical texts
    // => identical shingle sets). Within-group: jaccard is exactly 1, so
    // the pair qualifies iff n*den >= n*num with n >= 1 distinct shingle
    // (documents with < 3 tokens have no shingles, hence — exactly as in
    // the uncollapsed formulation — no signatures, no candidacy, no pairs;
    // presence in the old exploded sizes frame == size(sh) >= 1 here).
    // Both joins produce OUTPUT rows directly; no verify work per pair.
    val repSizes = shA.where(size(col("sh")) >= 1)
      .select(col("rep_id"), size(col("sh")).cast("long").as("n"))
    val cross = verified
      .join(members.select(col("rep_id").as("rep_a"), col("doc_id").as("da")), "rep_a")
      .join(members.select(col("rep_id").as("rep_b"), col("doc_id").as("db")), "rep_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("inter"), col("uni"))
    val within = members.as("p").join(members.as("q"),
        col("p.rep_id") === col("q.rep_id") && col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"),
        col("p.rep_id").as("rep_id"))
      .join(repSizes, "rep_id")
      .where(col("n") * den >= col("n") * num)
      .select(col("doc_a"), col("doc_b"), col("n").as("inter"), col("n").as("uni"))

    // expandWithin=false is the web-scale output shape: a 10^6-copy
    // exact-duplicate cluster would expand to 10^12 all-pairs rows (the
    // answer IS quadratic in that form), so instead emit the verified
    // REP-level pairs plus one (rep, member) row per non-representative
    // — linear, and any pair's verdict is recoverable (doc_a~doc_b iff
    // their reps pair up or coincide). The all-pairs default stays for
    // oracle parity.
    val out =
      if (expandWithin) cross.unionByName(within)
      else {
        val memberRows = members.where(col("doc_id") =!= col("rep_id"))
          .join(repSizes, "rep_id")
          .where(col("n") * den >= col("n") * num) // no-shingle docs: no pairs
          .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"),
            col("n").as("inter"), col("n").as("uni"))
        verified
          .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"),
            col("inter"), col("uni"))
          .unionByName(memberRows)
      }
    LshStages(shA, cand, out)
  }

  /** MinHash + LSH with SIGNATURE-ONLY verification — the web-scale
    * verify mode: candidates are scored by the count of MATCHING minhash
    * components (est/H is the standard unbiased estimator of Jaccard),
    * and pairs with `est * den >= numHashes * num` survive. Output
    * (doc_a, doc_b, est).
    *
    * The exact path ([[minhashLshPairs]]) re-joins every candidate pair
    * against the full shingle frame — |pairs| x |shingles/doc| shuffle
    * rows. Here the score is ONE in-row `aggregate(zip_with)` over the
    * two 16-long signature arrays (1 row per pair, no per-component
    * explode), so verification cost is independent of document length —
    * what production-scale dedup actually runs when the corpus is 10^12
    * documents and the shingle re-join is the bottleneck. Same
    * exact-duplicate collapse + re-expansion as the exact path (identical
    * texts have identical signatures, so the estimate is
    * collapse-invariant and the oracle can verify against the direct
    * uncollapsed formulation).
    */
  def minhashEstimatePairs(docs: DataFrame, numHashes: Int, rowsPerBand: Int,
                           num: Int, den: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // same one-exchange exact-duplicate collapse as minhashLshPairsImpl
    val collapsed = docs.groupBy("text")
      .agg(min("doc_id").as("rep_id"), collect_list("doc_id").as("ids"))
    // ONE cached frame: member ids + in-row wide signatures. The
    // estimate path never materializes a shingle frame at all —
    // signatures fold in-row over the shingle array (bit-identical, see
    // wideSigCols). Reps with no shingle are dropped first: they have no
    // signature (no null band key reaches the band explode), and no
    // output pair — cross pairs need a banded rep, within-group pairs a
    // rep with >= 1 shingle.
    val sigW = collapsed
      .select(col("rep_id"), col("ids"), TextOps.shingleArray(col("text")).as("sh"))
      .where(size(col("sh")) >= 1)
      .select(Seq(col("rep_id"), col("ids")) ++
        wideSigCols(transform(col("sh"), s => TextOps.shingleInt(s)), numHashes): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val members = sigW.select(explode(col("ids")).as("doc_id"), col("rep_id"))
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
    // re-expansion, same argument as the exact path: cross-group pairs
    // inherit the rep pair's estimate (identical texts => identical
    // signatures); within-group pairs have est = numHashes exactly, and
    // qualify whenever the rep has a signature at all (>= 1 shingle).
    // Whether est = numHashes meets the threshold is a COMPILE-TIME
    // fact, so the branch is decided here instead of shipping an
    // always-true row predicate (the round-6 advisor's cosmetic note).
    val cross = scored
      .join(members.select(col("rep_id").as("rep_a"), col("doc_id").as("da")), "rep_a")
      .join(members.select(col("rep_id").as("rep_b"), col("doc_id").as("db")), "rep_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("est"))
    val withinBase = members.as("p").join(members.as("q"),
        col("p.rep_id") === col("q.rep_id") && col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"),
        lit(numHashes.toLong).as("est"))
    val within =
      if (numHashes.toLong * den >= numHashes.toLong * num) withinBase
      else withinBase.limit(0) // threshold > 1: exact duplicates don't qualify
    val out = cross.unionByName(within)
    Caching.materializeAndRelease(out, sigW)
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
    val s = minhashLshStages(docs, numHashes, rowsPerBand, num, den,
      expandWithin = false)
    // the compact pair shape is canonical by construction (see the
    // Canonical entry's scaladoc), so CC skips its normalization distinct
    val cc = Components.connectedComponentsCanonical(
      s.out.select("doc_a", "doc_b"))
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
    * the 64-bit phash splits into `bands` contiguous keys; any pair
    * within Hamming distance t < bands leaves at least one band
    * untouched, so banding is a LOSSLESS candidate filter. Candidates
    * equi-join on (band, band_key); the exact popcount verify runs on
    * candidates only. Exact duplicates (identical phash — web-scale
    * image corpora carry huge byte-identical clusters) are collapsed to
    * one representative per distinct hash BEFORE banding, so the
    * band self-join sees one row per DISTINCT hash and cluster
    * membership re-expands afterwards as output-producing joins —
    * identical hashes band identically, so the output provably equals
    * the uncollapsed formulation (within-cluster pairs have dist 0).
    *
    * `bandMax > 0` is the hot-band guard (dfMax's sibling): a
    * (band, band_key) bucket with more than bandMax DISTINCT hashes
    * generates no candidates from that band — a near-dup pair still
    * meets through its other, rarer bands unless t bits all fall
    * outside every rare band. Part of the operator contract when
    * enabled; the driver query runs with it off.
    */
  def phashNearDupPairs(images: DataFrame, t: Int, bands: Int = 4,
                        bandMax: Int = 0,
                        expandWithin: Boolean = true): DataFrame = {
    require(t < bands, s"pigeonhole needs t < bands (got t=$t, bands=$bands)")
    require(64 % bands == 0, s"bands must divide 64 (got $bands)")
    val width = 64 / bands
    import org.apache.spark.storage.StorageLevel

    val reps = images.groupBy("phash").agg(min("image_id").as("rep_id"))
    val members = images.select(col("image_id"), col("phash")).join(reps, "phash")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val repImgs = members.where(col("image_id") === col("rep_id"))
      .select(col("rep_id"), col("phash"))

    // band_key MUST be extracted by masking, not `%`: Spark's `%` keeps the
    // dividend's sign, so a negative phash (bit 63 set — ~half of real
    // image hashes) would get band_key = low-bits − 2^width while a
    // non-negative hash with the same low bits gets low-bits, silently
    // breaking the pigeonhole guarantee on band 0.
    val bandMask = if (width == 64) -1L else (1L << width) - 1
    val banded = repImgs
      .withColumn("band", explode(lit((0 until bands).toArray)))
      .withColumn("band_key",
        expr(s"shiftrightunsigned(phash, band * $width)").bitwiseAND(lit(bandMask)))
    val candBanded =
      if (bandMax <= 0) banded
      else {
        val rare = banded.groupBy("band", "band_key")
          .agg(count(lit(1)).as("df")).where(col("df") <= bandMax)
          .select("band", "band_key")
        banded.join(rare, Seq("band", "band_key"))
      }
    val a = candBanded.select(col("rep_id").as("rep_a"),
      col("phash").as("ph_a"), col("band"), col("band_key"))
    val b = candBanded.select(col("rep_id").as("rep_b"),
      col("phash").as("ph_b"), col("band"), col("band_key"))
    val verified = a.join(b, Seq("band", "band_key"))
      .where(col("rep_a") < col("rep_b"))
      .select("rep_a", "rep_b", "ph_a", "ph_b").distinct()
      .where(expr(s"bit_count(ph_a ^ ph_b) <= $t"))
      .select(col("rep_a"), col("rep_b"),
        expr("CAST(bit_count(ph_a ^ ph_b) AS BIGINT)").as("dist"))

    // membership re-expansion: cross-cluster pairs inherit the rep pair's
    // distance (identical hashes => identical XOR); within-cluster pairs
    // are exact duplicates at distance 0
    val cross = verified
      .join(members.select(col("rep_id").as("rep_a"), col("image_id").as("da")), "rep_a")
      .join(members.select(col("rep_id").as("rep_b"), col("image_id").as("db")), "rep_b")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("dist"))
    val within = members.as("p").join(members.as("q"),
        col("p.rep_id") === col("q.rep_id") && col("p.image_id") < col("q.image_id"))
      .select(col("p.image_id").as("id_a"), col("q.image_id").as("id_b"),
        lit(0L).as("dist"))
    // expandWithin=false: web-scale (rep, member) shape — see the
    // minhashLshPairs note; a mega exact-dup cluster emits |cluster|-1
    // membership rows instead of |cluster|^2 pairs, and cross-cluster
    // verdicts stay at rep granularity.
    val out =
      if (expandWithin) cross.unionByName(within)
      else verified
        .select(col("rep_a").as("id_a"), col("rep_b").as("id_b"), col("dist"))
        .unionByName(members.where(col("image_id") =!= col("rep_id"))
          .select(col("rep_id").as("id_a"), col("image_id").as("id_b"),
            lit(0L).as("dist")))
    Caching.materializeAndRelease(out, members)
  }
}
