package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenisation,
  * shingling, quality scoring, language id, fingerprinting. Everything is
  * integer-exact (modular arithmetic over codepoints) so results are
  * reproducible bit-for-bit by any SQL engine — and everything is
  * relational (explode + window + join), the shapes that scale: token and
  * shingle streams shuffle on small keys, aggregates are partial+final.
  */
object TextOps {

  final val P = 1000000007L

  /** Integer encoding of a short token: positional codepoint packing over
    * the first 8 chars, base 131 (ascii of out-of-range substring is 0).
    * Each codepoint is reduced mod 131 BEFORE the positional multiply:
    * ascii() returns the full Unicode codepoint (up to 0x10FFFF) in both
    * Spark and DuckDB, and an unreduced codepoint times 131^7 overflows
    * Long (silently in Spark, as a BIGINT range error in DuckDB). Reduced,
    * the sum is bounded by 131^8 ~ 8.7e16.
    */
  def tokenInt(c: Column): Column =
    (0 until 8).map { k =>
      (ascii(substring(c, k + 1, 1)).cast("long") % 131L) *
        lit(math.pow(131.0, k).toLong)
    }.reduce(_ + _)

  /** Tokens considered per document — an explicit operator contract, not
    * an implementation detail: it caps the explode fan-out of a
    * pathological mega-document (a 1 GB row would otherwise emit 10^8
    * token rows into every downstream shuffle), and the SQL oracles bound
    * their token ordinals to the same constant.
    */
  final val MaxTokens = 511

  /** (doc_id, pos [1-based], tok) token stream over the first MaxTokens
    * tokens.
    */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(slice(split(col("text"), " "), 1, MaxTokens)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))

  /** Distinct word-3-gram shingles per document, with the doc's blocking
    * key (`lang`) carried through: [[shingleArray]] exploded, so the two
    * forms hold the same shingle set by construction. The final distinct
    * stays because `doc_id` need not be unique in the input: two rows of
    * one document would emit its shingles twice.
    */
  def shingles3(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), explode(shingleArray(col("text"))).as("shingle"))
      .distinct()

  /** Per-document DISTINCT word-3-gram shingle ARRAY, built entirely
    * in-row from the token array over the first MaxTokens tokens:
    * consecutive tokens are adjacent array elements and `array_distinct`
    * dedups within the row, so the column costs one codegen'd projection —
    * no window `lead`, no explode, no distinct exchange. This is the form
    * the MinHash operators consume (at 10^12 documents an exploded stream
    * pushes |corpus| x |shingles/doc| rows through a distinct exchange for
    * a set a row-local fold computes in place); [[shingles3]] explodes it.
    */
  def shingleArray(text: Column): Column =
    array_distinct(grams3(slice(split(text, " "), 1, MaxTokens)))

  /** Every word-3-gram of the token array `tk`, in order, repeats kept. */
  private def grams3(tk: Column): Column = {
    val n = size(tk)
    // guard: sequence(1, n-2) DESCENDS for n < 3 (Spark defaults step to
    // -1 when start > stop) — docs with < 3 tokens must have no grams
    transform(
      when(n >= 3, sequence(lit(1), n - 2)).otherwise(array().cast("array<int>")),
      i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
        element_at(tk, i + 2)))
  }

  /** Modular integer id of a shingle (for MinHash): fold the three token
    * ints base 31 mod P.
    */
  def shingleInt(shingle: Column): Column = {
    val parts = split(shingle, " ")
    val t1 = tokenInt(element_at(parts, 1)) % P
    val t2 = tokenInt(element_at(parts, 2)) % P
    val t3 = tokenInt(element_at(parts, 3)) % P
    ((t1 * 31L + t2) % P * 31L + t3) % P
  }

  /** Per-document quality metrics, all integers:
    * n_chars, n_tokens, stop_hits (occurrences of marker stopwords),
    * n_subwords (BPE-ish upper bound: ceil(len/4) per token).
    *
    * Computed entirely IN-ROW from the token array — one codegen'd
    * projection, zero exchanges: per-doc sums over the doc's own tokens
    * never needed a shuffle, yet the former explode + groupBy + join
    * shape pushed |corpus| x |tokens/doc| rows through an exchange and
    * re-joined the doc row. Values are integer-identical (same slice,
    * same per-token terms); the isNotNull guard mirrors the old inner
    * join, where a null text produced no token rows and hence no output
    * row.
    */
  def quality(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        slice(split(col("text"), " "), 1, MaxTokens).as("tk"))
      .select(col("doc_id"), col("n_chars"),
        size(col("tk")).cast("long").as("n_tokens"),
        aggregate(col("tk"), lit(0L),
          (acc, t) => acc + ceil(length(t) / 4.0)).as("n_subwords"),
        size(filter(col("tk"),
          t => t.isin("the", "a", "of", "and"))).cast("long").as("stop_hits"))

  /** Gopher-style within-document repetition signals (Rae et al. 2021's
    * quality-filter family, relational form): per document,
    *
    *   - n_grams / n_gram_distinct — total vs distinct word-3-grams
    *     (same construction as shingles3, WITHOUT the distinct), and
    *     dup_gram_milli = (n_grams - n_gram_distinct) * 1000 div n_grams
    *     — the "fraction of duplicate n-grams" boilerplate signal;
    *   - top_tok / top_tok_cnt / top_tok_milli — the most frequent token
    *     (ties → lexicographically smallest) and its share of n_tokens —
    *     the "most common word fraction" signal.
    *
    * Integer-exact throughout (fixed-point milli ratios via integer
    * division), so any SQL engine reproduces it bit-for-bit. Scale shape:
    * the gram and token streams shuffle on (doc_id) / (doc_id, tok) keys
    * with partial+final aggregation; the per-doc argmax is a
    * map-side-combinable min(struct(-cnt, tok)) — never a per-doc window
    * sort, so a hub document costs one partial-agg cell per partition.
    * Docs with fewer than 3 tokens emit no grams and are excluded (inner
    * join), mirroring the oracle.
    */
  def repetition(docs: DataFrame): DataFrame = {
    // Entirely IN-ROW — one codegen'd projection, ZERO exchanges, where
    // the former shape exploded the gram and token streams into three
    // grouped aggregates (one with a countDistinct expansion) plus a
    // join. Every signal is a per-document function of the doc's own
    // token array:
    //   - n_grams / n_gram_distinct: the gram ARRAY (grams3, the
    //     shingles' construction) and size(array_distinct(...));
    //   - the most-frequent token: one pass over array_sort(tk) counting
    //     runs — a strict `run > best` update means the FIRST token to
    //     reach a count wins, and in ascending order that is the
    //     lexicographically smallest, exactly the old min(struct(-cnt,
    //     tok)) tie-break.
    // The n >= 3 filter mirrors the old inner join of the gram aggregate
    // (docs with < 3 tokens emitted no grams and hence no row); values
    // are integer-identical, and the milli ratios keep the exact same
    // `div` expressions.
    val n = size(col("tk"))
    val gramArr = grams3(col("tk"))
    // run-length argmax over the sorted token array: state =
    // (prev token, current run, best count, best token)
    val best = aggregate(array_sort(col("tk")),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("bc"), lit(null).cast("string").as("bt")),
      (acc, t) => {
        val run = when(acc.getField("prev") === t, acc.getField("run") + 1L)
          .otherwise(lit(1L))
        val better = run > acc.getField("bc")
        struct(t.as("prev"), run.as("run"),
          when(better, run).otherwise(acc.getField("bc")).as("bc"),
          when(better, t).otherwise(acc.getField("bt")).as("bt"))
      },
      acc => struct(acc.getField("bc").as("cnt"), acc.getField("bt").as("tok")))
    docs
      .select(col("doc_id"), slice(split(col("text"), " "), 1, MaxTokens).as("tk"))
      .where(n >= 3)
      .select(col("doc_id"), n.cast("long").as("n_tokens"), best.as("m"),
        gramArr.as("grams"))
      .select(col("doc_id"), col("n_tokens"), col("m.tok").as("top_tok"),
        col("m.cnt").as("top_tok_cnt"),
        expr("m.cnt * 1000 div n_tokens").as("top_tok_milli"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_gram_distinct"))
      .select(col("doc_id"), col("n_tokens"), col("top_tok"),
        col("top_tok_cnt"), col("top_tok_milli"),
        col("n_grams"), col("n_gram_distinct"),
        expr("(n_grams - n_gram_distinct) * 1000 div n_grams").as("dup_gram_milli"))
  }

  /** Marker-stopword language id: score each candidate language by marker
    * token hits; predict the argmax (ties broken by language code). This is
    * the classic n-gram/stopword heuristic in relational form.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  def langId(docs: DataFrame): DataFrame = {
    // per-language marker hits folded IN-ROW over the token array — one
    // codegen'd projection, no explode/groupBy exchange (same count as
    // the former sum(when(isin))); the isNotNull guard mirrors the old
    // aggregate, where a null text had no token rows and hence no output
    // row
    val scores = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      size(filter(col("tk"), t => t.isin(markers: _*))).cast("long").as(s"score_$lang")
    }
    val scored = docs.where(col("text").isNotNull)
      .select(col("doc_id"), slice(split(col("text"), " "), 1, MaxTokens).as("tk"))
      .select(col("doc_id") +: scores: _*)
    // argmax with deterministic tie-break on language order en < de? use
    // explicit cascade: greatest + case, ties resolved alphabetically
    val langs = langMarkers.keys.toSeq.sorted
    val best = langs.map(l => col(s"score_$l")).reduce((a, b) => greatest(a, b))
    val predicted = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("predicted", predicted)
      .select(Seq(col("doc_id"), col("predicted")) ++ langs.map(l => col(s"score_$l")): _*)
  }

  /** Positional fingerprint over the first 64 chars:
    * sum_k ascii(text[k]) * ((k*2654435761) mod 65536), mod P.
    *
    * ONE projection per row (array fold), not the explode(64) + shuffle
    * groupBy it used to be — a 10^12-doc fingerprint pass has no business
    * emitting 64 rows per document into an exchange when the sum is a
    * bounded per-row fold (64 terms < 2^43 total, no overflow; identical
    * integer result, so the SQL oracle is untouched).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.text_fingerprint(col("text")).as("fp"))

  /** Train/eval contamination (decontamination pass): per eval document,
    * how many of its distinct word-3-gram shingles appear ANYWHERE in the
    * training corpus — (doc_id, matched, total), integer-exact. Callers
    * threshold matched/total to drop leaked eval rows.
    *
    * SCALE SHAPE: the train side collapses to DISTINCT shingles before
    * the join (one partial-agg exchange — a shingle appearing 10^9 times
    * in a web corpus becomes one row), the match join is an equi-join on
    * the shingle key (AQE-skew-splittable for stop-word-like shingles),
    * and both counts are partial+final aggregates. Eval docs with < 3
    * tokens have no shingles and no row, mirroring the shingle contract.
    */
  def contamination(evalDocs: DataFrame, trainDocs: DataFrame): DataFrame = {
    val evalSh = shingles3(evalDocs).select("doc_id", "shingle")
    val trainSh = shingles3(trainDocs).select("shingle").distinct()
    val total = evalSh.groupBy("doc_id").agg(count(lit(1)).as("total"))
    val matched = evalSh.join(trainSh, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("matched"))
    total.join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("matched"), lit(0L)).as("matched"),
        col("total"))
  }
}
