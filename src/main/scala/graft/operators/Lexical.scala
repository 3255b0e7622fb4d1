package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical retrieval & matching over the corpus: the vocabulary-level and
  * position-level operators a training-data pipeline needs around its
  * tokenizer — typo/variant mining, an inverted index with positional
  * phrase search, collocation (association-strength) mining, and tokenizer
  * fertility evaluation.
  *
  * Scale shape: everything here aggregates the corpus down to VOCABULARY- or
  * POSTINGS-sized tables first (one map-side-combined hash aggregate over
  * the scan), then operates on that reduced table — so the expensive steps
  * grow with |vocab| / |postings of the queried terms|, not with corpus
  * bytes. No driver-side collects, no UDFs: all expression work is codegen'd
  * higher-order functions.
  */
object Lexical {

  // ---------------------------------------------------------------- fuzzy

  /** All single-character-deletion variants of `s` (an array column of
    * |s| strings; empty array for the empty string). */
  private def deleteOne(s: Column): Column =
    transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))

  /** FastSS/SymSpell deletion neighborhood: every string reachable from `s`
    * by deleting up to `d` characters (including `s` itself), distinct.
    * |U_d(s)| ≤ 1 + |s| + C(|s|,2) for d = 2 — quadratic in token length,
    * which for a vocabulary (tokens, not documents) is a small constant. */
  def deletionNeighborhood(s: Column, d: Int): Column = {
    require(d >= 1 && d <= 2, s"deletion neighborhood supports d in 1..2, got $d")
    val lvl1 = deleteOne(s)
    val all =
      if (d == 1) concat(array(s), lvl1)
      else concat(array(s), lvl1, flatten(transform(lvl1, v => deleteOne(v))))
    array_distinct(all)
  }

  /** Corpus vocabulary (distinct whitespace tokens) as a (tok) frame. */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("tok")).distinct()

  /** Typo/variant pair mining over the corpus VOCABULARY: all unordered
    * token pairs within Levenshtein distance ≤ `d`, found without an
    * all-pairs comparison — the spell-variant canonicalization primitive
    * (merge `recieve`/`receive` counts before vocabulary truncation, fold
    * OCR noise into its source form).
    *
    * Algorithm is the FastSS / SymSpell deletion-neighborhood join
    * (Bocek et al. 2007): if ed(s,t) ≤ d then deleting the ≤ d edited
    * positions from each side yields a COMMON string, so
    * U_d(s) ∩ U_d(t) ≠ ∅ — candidate generation is an exact equi-join on
    * the deletion-variant key, then every candidate is verified with the
    * real `levenshtein`. Recall is 1.0 by the theorem (the registered
    * query's DuckDB oracle runs the brute-force all-pairs form, so the
    * driver compare PROVES equality with the quadratic definition at test
    * scale); precision is restored by the verify step.
    *
    * Scale: the corpus touches this once (the vocab aggregate); the join
    * operates on |vocab| · C(L,≤d) short string keys — for a million-token
    * vocabulary of ≤ 20-char tokens at d = 2 that is ~2·10⁸ keyed rows,
    * a routine hash join, vs the 5·10¹¹ comparisons of all-pairs. Variant
    * keys hash-partition; no side is broadcast (both are vocab-derived —
    * the same size-estimator rationale as [[Dedup.exactJaccardJoin]]'s
    * shuffle_hash pins). Skew note: SHORT tokens share variants densely
    * (the "" variant joins every 1-char token together) — bounded by
    * alphabet size, and the verify filter drops false candidates
    * immediately after the join.
    *
    * The vocab aggregate feeds BOTH join sides, so it is pinned once via
    * lazy localCheckpoint: the corpus scan + token explode runs once, not
    * twice — vocab blocks are |vocab|-sized, far below the corpus-sized
    * shingle pin [[Dedup.exactJaccardJoin]] documents. */
  def vocabFuzzyPairs(docs: DataFrame, textCol: String, d: Int = 2): DataFrame = {
    val v = vocab(docs, textCol).localCheckpoint(eager = false)
    val variants = v.select(col("tok"),
      explode(deletionNeighborhood(col("tok"), d)).as("variant"))
    val a = variants.as("a")
    val b = variants.hint("shuffle_hash").as("b")
    val candidates = a
      .join(b, col("a.variant") === col("b.variant") && col("a.tok") < col("b.tok"))
      .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .distinct()
    candidates
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
      .where(col("dist") <= d)
  }

  // ------------------------------------------------------------ retrieval

  /** Positional inverted index: one (token, doc_id, pos) posting per token
    * occurrence, pos 0-based. At scale this is the materialize-once
    * retrieval layout — written bucketed BY TOKEN, every term lookup prunes
    * to its bucket ([[Layout]] covers the write side); downstream consumers
    * (phrase search, postings stats) reduce per token before anything
    * corpus-sized moves. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "token")))
      .select(col("token"), col("doc_id"), col("pos"))

  /** Grouped postings lists for a fixed term set: (token, doc_id,
    * positions[], n_occ). The `isin` predicate lands BEFORE the aggregate,
    * so only the queried terms' occurrences ever enter the shuffle —
    * postings-sized, not corpus-sized. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String]): DataFrame =
    invertedIndex(docs, idCol, textCol)
      .where(col("token").isin(terms: _*))
      .groupBy(col("token"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"),
        count(lit(1)).as("n_occ"))

  /** Exact phrase search via the positional index: every (doc_id, pos)
    * where `phrase` occurs as consecutive tokens, pos = the first token's
    * position. Implemented as the classic postings intersection: the index
    * is filtered to the phrase's terms (at scale: bucket-pruned token
    * lookups), each term's postings are shifted to the phrase start
    * (pos − i), and consecutive terms equi-join on (doc_id, pos) — every
    * join keyed the same way, so one partitioning carries the whole chain,
    * and each join can only SHRINK the match set (AQE sees the shrinking
    * sides at runtime). Never touches documents that contain no phrase
    * term. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val idx = invertedIndex(docs, idCol, textCol)
      .where(col("token").isin(phrase: _*))
    val first = idx.where(col("token") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(first) { case (acc, (term, i)) =>
      acc.join(
        idx.where(col("token") === term)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
  }

  /** BM25 ranking for a fixed term set, with an EXACT-INTEGER score. The
    * classic Okapi formula is
    *   Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    * with k1, b rationals (defaults 6/5 = 1.2, 3/4 = 0.75). Two
    * substitutions make the score engine-hash-comparable:
    *   - idf(t) → the exact integer floor(log₂(N div df)) via `bin()`
    *     length (the [[TextOps.unigramSurprisal]] discipline — monotone in
    *     true idf, no libm log in the compared value);
    *   - the tf normalization is cleared of fractions by multiplying
    *     numerator and denominator by k1d·bd·avgdl (avgdl = Σdl div N, an
    *     integer), giving per matched (doc, term)
    *       milli = (idf_bits · tf · (k1n+k1d) · bd · avgdl · 1000)
    *               div (k1d·bd·avgdl·tf + k1n·(bd−bn)·avgdl + k1n·bn·dl)
    *     — pure int64 arithmetic (products ≤ ~10¹⁶ at any realistic tf/dl).
    *
    * Shape at scale: the `isin` filter lands on the inverted index BEFORE
    * the tf aggregate, so only query-term postings enter any shuffle; df is
    * |terms| rows (broadcast); dl is a narrow corpus-sized projection joined
    * on doc_id to the postings-bounded tf side (AQE broadcasts tf when it
    * fits); N and avgdl ride as scalar subqueries. One corpus scan feeds
    * dl; one feeds the index — the standard two-pass retrieval-scoring
    * layout. Output: (doc_id, n_terms, bm25_milli) for every doc matching
    * ≥ 1 term. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1Num: Long = 6, k1Den: Long = 5,
           bNum: Long = 3, bDen: Long = 4): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(k1Num >= 0 && k1Den > 0 && bNum >= 0 && bDen > 0 && bNum <= bDen,
      "k1 ≥ 0, 0 ≤ b ≤ 1")
    val dl = docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) div count(1)").as("avgdl"))
    val idx = invertedIndex(docs, idCol, textCol)
      .where(col("token").isin(terms: _*))
      .select(col("token"), col("doc_id"))
      .localCheckpoint(eager = false) // feeds tf AND df
    val tf = idx.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfq = idx.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(dfq), "token")
      .join(dl, "doc_id")
      .withColumn("__st",
        stats.select(struct(col("n_docs"), col("avgdl")).as("s")).scalar())
      .withColumn("n_docs", col("__st.n_docs"))
      .withColumn("avgdl", col("__st.avgdl"))
      .withColumn("idf_bits", TextOps.log2Floor(expr("n_docs div df")))
      .withColumn("milli",
        expr(s"(idf_bits * tf * ${(k1Num + k1Den) * bDen} * avgdl * 1000) div " +
          s"(${k1Den * bDen} * avgdl * tf + ${k1Num * (bDen - bNum)} * avgdl " +
          s"+ ${k1Num * bNum} * dl)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("milli")).as("bm25_milli"))
  }

  // ---------------------------------------------------------- collocation

  /** Collocation mining: adjacent-bigram association strength as exact
    * integer basis points of LIFT, lift = P(w1 w2) / (P(w1)·P(w2)) — the
    * monotone-in-PMI score with no `log` in the compared value (libm log is
    * last-ulp engine-dependent; the ratio is exact integer arithmetic, the
    * [[TextOps.unigramSurprisal]] discipline). lift_bp =
    * c_xy·N·10⁴ div (c_x·c_y) over decimal(38,0) products (overflow-safe to
    * ~10¹⁵-token corpora), N = total token count.
    *
    * Shape: one corpus scan feeds both the bigram and unigram aggregates
    * (map-side combined — the shuffle carries vocab²-bounded bigram keys
    * and vocab-sized unigram keys per mapper, not corpus rows); the
    * min-count filter prunes the bigram table BEFORE the two unigram joins
    * (vocab-sized sides, AQE picks broadcast once they fit); N rides as a
    * scalar subquery. Deterministic top-k: (lift_bp desc, w1, w2). */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Int = 3, k: Int = 50): DataFrame = {
    val tk = docs.select(TextOps.tokens(col(textCol)).as("tk"))
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTokens = uni.agg(sum(col("c")).cast("long").as("n"))
    val bi = tk.where(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .withColumn("n_tokens", nTokens.scalar())
      .withColumn("lift_bp", expr(
        "cast(c_xy as decimal(38,0)) * n_tokens * 10000 div (cast(c_x as decimal(38,0)) * c_y)"))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("lift_bp"))
      .orderBy(col("lift_bp").desc, col("w1"), col("w2"))
      .limit(k)
  }

  // ------------------------------------------------------------------ oov

  /** Vocabulary truncation with OUT-OF-VOCABULARY accounting: keep the
    * `k` most frequent tokens (count desc, token asc — a deterministic
    * cut), then report each document's token total, OOV count and OOV rate
    * in integer basis points. This is the tokenizer-budget question asked
    * before fixing a vocab size: what coverage does a k-entry vocabulary
    * buy, and which documents fall off it.
    *
    * Shape: the corpus reduces to the vocab aggregate once; the top-k cut
    * is a k-row table that BROADCASTS (k is a design constant — 32k/64k in
    * practice); the per-doc report is one exploded left join against the
    * broadcast + one doc-keyed count aggregate. The corpus shuffles once,
    * on doc_id. Output: (doc_id, n_tokens, n_oov, oov_bp). */
  def oovReport(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val top = TextOps.vocabulary(docs, idCol, textCol)
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)
      .select(col("token"), lit(1).as("__in_vocab"))
    docs.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .join(broadcast(top), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp", expr("n_oov * 10000 div n_tokens"))
  }

  // ------------------------------------------------------------ fertility

  /** Tokenizer fertility evaluation per group (the per-language /
    * per-source tokenizer-efficiency report that decides vocabulary
    * allocation): whitespace-token and BPE-ish-token totals, fertility
    * (BPE-ish tokens per word) and compression (chars per BPE-ish token)
    * as exact integer basis points / centi-units. One narrow scoring map +
    * one map-side-combined aggregate — |groups| rows per mapper in the
    * shuffle. Zero-token groups gate their ratios to 0 (not a divide). */
  def tokenizerFertility(docs: DataFrame, textCol: String,
                         groupCols: Seq[String]): DataFrame =
    docs.select(
        groupCols.map(col) ++ Seq(
          TextOps.tokenCount(col(textCol)).cast("long").as("ws"),
          TextOps.bpeishTokenCount(col(textCol)).cast("long").as("bp"),
          length(col(textCol)).cast("long").as("ch")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bp")).as("bpeish_tokens"),
        sum(col("ch")).as("n_chars"))
      .withColumn("fertility_bp",
        when(col("ws_tokens") === 0L, lit(0L))
          .otherwise(expr("bpeish_tokens * 10000 div ws_tokens")))
      .withColumn("chars_per_token_cb",
        when(col("bpeish_tokens") === 0L, lit(0L))
          .otherwise(expr("n_chars * 100 div bpeish_tokens")))
}
