package layerbench

import graft.operators.{Caching, Components, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** `Dedup.clusterAssign` over seeded documents with planted near- and
  * exact duplicates. Words come from a vocabulary of five-letter words
  * and word counts are fixed per document index, so text sizes never
  * depend on the seed; only which words are drawn does.
  */
final class DedupDocs(scale: Double = 1.0) extends Workload {
  val name = "dedup_docs"
  val nBase: Int = (1500 * scale).toInt
  val vocab: IndexedSeq[String] = ("spark query table index batch merge group order value delta " +
    "shard block frame cache store write sorts joins scans plans nodes tasks stage files " +
    "bytes pages rows_ cells lines words texts items").split(" ").toIndexedSeq
  val numHashes = 16
  val rowsPerBand = 4
  val warmupJobs = 3

  /** (doc_id, text): base documents, then one near-duplicate copy of every
    * third base (one word replaced, a suffix appended) and one exact copy
    * of every seventh.
    */
  def documents(seed: Long): IndexedSeq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val base = (0 until nBase).map { i =>
      val n = 12 + (i * 37 % 61)
      (0 until n).map(_ => vocab(rng.nextInt(vocab.size))).toIndexedSeq
    }
    val near = base.indices.filter(_ % 3 == 0).map { i =>
      val w = base(i)
      (w.updated(rng.nextInt(w.size), vocab(rng.nextInt(vocab.size))) :+ "copyx").mkString(" ")
    }
    val exact = base.indices.filter(_ % 7 == 0).map(i => base(i).mkString(" "))
    (base.map(_.mkString(" ")) ++ near ++ exact).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  val inputRows: Long = documents(0L).size.toLong

  private var docsPath: String = _
  private def docs(c: Ctx): DataFrame = c.spark.read.parquet(docsPath)

  def setUp(c: Ctx): Unit = {
    import c.spark.implicits._
    docsPath = c.sub("input/documents").toString
    val langs = Seq("en", "fr", "de", "zh")
    c.spark.sparkContext.parallelize(documents(c.seed), 4)
      .map { case (id, t) => (id, t, langs((id % 4).toInt), s"src${id % 5}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(docsPath)
  }

  private def assign(c: Ctx): DataFrame = Dedup.clusterAssign(docs(c), numHashes, rowsPerBand, 1, 2)

  val cols = Seq("id", "component")

  def job(c: Ctx): Digest = c.tracer.span("operators.clusterAssign") {
    val r = assign(c)
    try Digests.noopObserved(r, cols) finally Caching.release(r)
  }

  def check(c: Ctx): (Digest, Seq[Check]) = {
    val out = c.sub("check/clusters").toString
    val r = assign(c)
    try r.write.mode("overwrite").parquet(out) finally Caching.release(r)
    val back = c.spark.read.parquet(out)
    val digest = Digests.aggregate(back, cols)
    val got = back.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashLshPairs(docs(c), numHashes, rowsPerBand, 1, 2)
    val edges = try pairs.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally Caching.release(pairs)
    val want = Oracles.components((0L until inputRows).toSeq, edges)
    val bad = want.filter { case (id, comp) => !got.get(id).contains(comp) }
    val clustered = want.count { case (id, comp) => id != comp }
    (digest, Seq(
      Check("union_find", bad.isEmpty && got.size == inputRows, s"${bad.size} mismatches; ${edges.size} pairs"),
      Check("planted_duplicates_found", clustered >= nBase / 3, s"$clustered clustered docs")))
  }

  def probes(c: Ctx, out: Layers): Unit = {
    val d = docs(c)
    def pairs() = Dedup.minhashLshPairs(d, numHashes, rowsPerBand, 1, 2)
    Caching.release(pairs())
    Probes.queries(c)
    val (p, pairsS, _) = Probes.timed(c, "operators.minhashLshPairs") {
      val p = pairs(); Digests.noopObserved(p, Seq("doc_a", "doc_b")); p
    }
    val ns = Probes.nodes(Probes.queries(c))
    // candidate pairs: rows of the join that pulls the first shingle set
    // of each band candidate; verified pairs: rows of the verify join
    val cand = Probes.joinsOn(ns, "rep_a").filter(Probes.hasOutput(_, "sa")).map(Probes.outputRows).sum
    val verified = Probes.joinsOn(ns, "rep_b").filter(Probes.hasOutput(_, "sb")).map(Probes.outputRows).sum
    out.put("operators.dedup_pairs_s", pairsS)
    out.put("operators.candidates_per_pair", cand.toDouble / math.max(1L, verified))
    val edges = p.select("doc_a", "doc_b").persist(StorageLevel.MEMORY_ONLY)
    edges.count()
    Caching.release(p)
    Caching.release(Components.connectedComponents(edges))
    val (_, ccS, ccSpan) = Probes.timed(c, "operators.connectedComponents") {
      val cc = Components.connectedComponents(edges)
      try Digests.noopObserved(cc, Seq("id", "component")) finally Caching.release(cc)
    }
    out.put("operators.cc_s", ccS)
    out.put("operators.cc_jobs", Probes.sparkJobs(c, ccSpan).toDouble)
    edges.unpersist(blocking = true)
  }
}
