package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for a large-scale training-data pipeline,
  * over a `text` string column. Four families:
  *   - per-document `Column` expressions (tokens, counts, quality, language
  *     ID, fingerprints, repetition, chunking, classifier inference):
  *     codegen'd higher-order functions, no UDFs — each a single narrow map
  *     over the corpus with no shuffle;
  *   - corpus statistics (vocabulary, top terms, character entropy): a token
  *     explode followed by hash aggregates;
  *   - language-model scores (unigram, bigram and stored-reference
  *     surprisal): count tables joined back to the token stream, charged in
  *     exact integer bits;
  *   - BPE tokenizer training, encoding and decoding over the distinct-word
  *     table, with the stored merge and vocabulary artifacts.
  *
  * The corpus families share one `(id, token)` stream ([[tokenStream]]),
  * one `(w, wc)` word table ([[wordCounts]]), one exact log₂
  * ([[log2Floor]]), one per-document score tail ([[perDocScore]]) and one
  * anchored BPE merge ([[anchoredMerge]]).
  *
  * The DuckDB-oracle twins of each expression live in
  * [[graft.queries.TextQueries]]; expression semantics are chosen to be
  * reproducible in ANSI-ish SQL (regexp token split, md5 fingerprint).
  */
object TextOps {

  /** Whitespace tokenization. Empty input → empty array (not [""]). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Exact integer ⌊log₂ x⌋ for a positive BIGINT: `bin()`'s binary-digit
    * string is engine-identical, so its length minus one replaces the libm
    * log (last-ulp engine-dependent, see [[tfIdf]]) in every hash-compared
    * score. */
  private[operators] def log2Floor(x: Column): Column =
    (length(bin(x)) - 1).cast("long")

  /** The corpus token stream: one `(id, token)` row per whitespace token. */
  private def tokenStream(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))

  /** The distinct-word table `(w, wc)`: each word with its occurrence count
    * — the |vocab|-sized input of every BPE step. */
  private def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))

  /** Per-document score tail of the surprisal and entropy operators: every
    * doc of `docs` gets its row of `scored` (`id`, `counts`, `sum_bits`),
    * counts zero-filled, and `(sum_bits · 100) div counts.head` — integer
    * centibits per counted unit — as `score`; docs without a row report
    * zeros. Output: (idCol, counts…, score). */
  private def perDocScore(docs: DataFrame, idCol: String, scored: DataFrame,
                          counts: Seq[String], score: String): DataFrame = {
    val zeroFilled = counts.map(c => coalesce(col(c), lit(0L)).as(c))
    val avg = coalesce(expr(s"(sum_bits * 100) div ${counts.head}"), lit(0L))
    docs.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select((col("id").as(idCol) +: zeroFilled) :+ avg.as(score): _*)
  }

  /** Text canonicalization for dedup/fingerprint stability: every run of
    * ASCII control-or-space bytes (0x00–0x20 — tabs, newlines, CR, VT, FF,
    * NUL, and the space itself) collapses to ONE space, then ends trim.
    * The single character class keeps the rewrite engine-portable: Java's
    * `\s` includes 0x0B where RE2's does not, so neither engine's `\s` is
    * used — the explicit range means Spark and any RE2-based engine (or
    * DuckDB) rewrite identically. A narrow map — no shuffle; run it before
    * hashing/shingling so byte-level whitespace noise can't split exact-dup
    * groups. */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(text, "[\\x00-\\x20]+", " "))

  /** Canonical URL key for metadata-level dedup: lowercase, strip scheme,
    * strip a leading `www.`, drop fragment and query string, trim trailing
    * slashes — the standard crawl-dedup canonicalization (the aggressive
    * drop-the-whole-query variant; keep-allowlisted-params is a policy knob
    * layered on top, not a different operator). Pure codegen'd
    * `regexp_replace` chain with anchored/leftmost patterns only, so the
    * same regexes reproduce in DuckDB for the oracle. */
  def normalizeUrl(url: Column): Column = {
    val lowered = lower(url)
    val noScheme = regexp_replace(lowered, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noFrag = regexp_replace(noWww, "#.*$", "")
    val noQuery = regexp_replace(noFrag, "\\?.*$", "")
    regexp_replace(noQuery, "/+$", "")
  }

  /** BPE-ish regex tokenization: runs of letters, runs of digits, or runs of
    * other non-space symbols, each with an optional leading space — the
    * GPT-2-style pretokenizer shape, minus the library. */
  val bpeishPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeishPattern), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))
  def uniqueTokenCount(text: Column): Column = size(array_distinct(tokens(text)))
  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  /** Mean token length, 4-decimal rounded; 0.0 for empty docs. */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    val totalLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    when(size(toks) === 0, lit(0.0))
      .otherwise(round(totalLen.cast("double") / size(toks), 4))
  }

  /** Fraction of characters that are sentence punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      round(length(regexp_replace(text, "[^.,!?;:]", "")).cast("double") / length(text), 4))

  /** Default stopword list used by quality scoring / language ID. */
  val englishStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Occurrences of `words` members in a token array — native codegen
    * expression ([[graft.functions.CountInSet]]); [[countInSetHof]] is the
    * interpreted executable spec. */
  def countInSet(toks: Column, words: Seq[String]): Column =
    graft.functions.CountInSet.countInSetNative(toks, words)

  /** HOF reference form of [[countInSet]] (kept for differential tests). */
  def countInSetHof(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  /** Fraction of tokens that are stopwords (quality signal: natural prose
    * sits around 0.3-0.5; keyword-stuffed or tabular text near 0). */
  def stopwordRatio(text: Column, stopwords: Seq[String] = englishStopwords): Column = {
    val toks = tokens(text)
    val hits = countInSet(toks, stopwords)
    when(size(toks) === 0, lit(0.0))
      .otherwise(round(hits.cast("double") / size(toks), 4))
  }

  /** Composite quality score in [0,1]: weighted blend of length band,
    * stopword presence and low punctuation noise — the usual cheap
    * pretraining-corpus heuristic (length/punct/stopword ratios).
    *
    * Computed entirely in integer basis points (0..10000 per component,
    * weights 4/3/3) with ONE final division — decimal `round()` on a blended
    * double is engine-dependent at exact .xxxx5 boundaries (Spark rounds the
    * binary double exactly via BigDecimal; DuckDB multiplies by 1e4 first),
    * while floor-div on exact integers is bit-identical everywhere. */
  def qualityScore(text: Column): Column =
    qualityBp(text).cast("double") / 100000.0

  /** [[qualityScore]] numerator as an exact integer (0..100000): weighted
    * blend of the three component bp scores before the single final
    * division. Exposed for threshold operators ([[Curation.qualityGate]])
    * that must compare and quantile exact integers — a blended double
    * threshold would re-introduce the engine-dependent rounding the bp
    * convention exists to avoid. */
  def qualityBp(text: Column): Column = {
    val toks = tokens(text)
    val hits = countInSet(toks, englishStopwords).cast("long")
    val len = length(text).cast("long")
    val punctChars = length(regexp_replace(text, "[^.,!?;:]", "")).cast("long")
    val lenBp = least(len * 20L, lit(10000L))
    val swBp = when(size(toks) === 0, lit(0L))
      .otherwise(least(floor(hits * 50000L / size(toks)).cast("long"), lit(10000L)))
    val punctBp = greatest(
      lit(10000L) - floor(punctChars * 100000L / len).cast("long"), lit(0L))
    when(len === 0, lit(0L))
      .otherwise(lenBp * 4L + swBp * 3L + punctBp * 3L)
  }

  /** Per-language discriminator token profiles for heuristic language ID.
    * Real corpora would use char n-gram profiles; the principle — score
    * against per-language token sets, argmax with a deterministic tie order —
    * is identical and SQL-reproducible. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "que", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "que", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和"))

  /** Heuristic language ID: count token hits per language profile, take the
    * language with the highest count; ties (including all-zero) resolve to
    * the lexicographically first language — fully deterministic. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = langProfiles.map { case (lang, words) =>
      struct(countInSet(toks, words).as("score"), lit(lang).as("lang"))
    }
    // array_max on struct(score, lang): max score, then max lang — invert the
    // lang for asc tie-break by comparing on (score, negated-rank) instead:
    // simpler: reduce with an explicit comparison keeping first-wins on ties.
    scored.reduceLeft { (best, cand) =>
      when(cand.getField("score") > best.getField("score"), cand).otherwise(best)
    }.getField("lang")
  }

  /** Adjacent token 2-grams ("a b") over a token-ARRAY column — empty below
    * 2 tokens. Two subtleties:
    *   - Spark's `sequence(1, n-1)` DESCENDS for n < 2 (sequence(1,-1) =
    *     [1,0,-1]) where DuckDB's range() is empty, so the short-doc case
    *     must never reach the sequence;
    *   - `tk` should be a bound ATTRIBUTE, not an expression: every
    *     `element_at(tk, i)` inside the lambda re-evaluates whatever tree
    *     `tk` is per element, so passing `tokens(text)` directly turns an
    *     O(n) bigram build into O(n²) re-tokenizations (measured 54 s for
    *     the corpus annotation pass at sf0.1 before the staging fix). */
  def tokenBigramsOf(tk: Column): Column =
    when(size(tk) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(tk) - 1),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))

  /** [[tokenBigramsOf]] applied to freshly-split tokens — single-expression
    * convenience for unit tests; see the attribute caveat above before using
    * it in a corpus-scale projection. */
  def tokenBigrams(text: Column): Column = tokenBigramsOf(tokens(text))

  /** Metric columns of [[repetitionSignals]] over pre-materialized token /
    * bigram array columns (pass attributes — see [[tokenBigramsOf]]). */
  def repetitionSignalsFrom(tk: Column, bi: Column): Seq[(String, Column)] = {
    val n = size(tk).cast("long")
    val u = size(array_distinct(tk)).cast("long")
    val n2 = size(bi).cast("long")
    val u2 = size(array_distinct(bi)).cast("long")
    // Max token multiplicity as the longest run of the SORTED array —
    // O(n log n) per row. The previous form (`array_max(transform(
    // array_distinct(tk), t => size(filter(tk, _ === t))))`) was
    // O(n·distinct) comparisons per document: quadratic on
    // low-repetition docs, exactly the ones a 100 TB corpus is full of
    // (round-17 optimization; same value — the count of the most
    // frequent token — on every non-empty input, and the n === 0 guard
    // below covers the empty case both ways).
    val topCnt = aggregate(array_sort(tk),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc.getField("prev").isNotNull &&
            x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    Seq(
      "token_count" -> n,
      "dup_token_bp" -> when(n === 0, lit(0L))
        .otherwise(floor((n - u) * 10000L / n).cast("long")),
      "dup_2gram_bp" -> when(n2 === 0, lit(0L))
        .otherwise(floor((n2 - u2) * 10000L / n2).cast("long")),
      "top_token_bp" -> when(n === 0, lit(0L))
        .otherwise(floor(topCnt.cast("long") * 10000L / n).cast("long")))
  }

  /** Within-document repetition signals (the Gopher/C4 repetition filters,
    * re-based on tokens because this corpus has no line structure): fraction
    * of repeated tokens, fraction of repeated adjacent 2-grams, and the
    * share of the single most frequent token. All emitted as integer basis
    * points (floor(frac·10⁴)) — integer division is bit-identical across
    * engines while a rounded double blend is not (same convention as
    * [[qualityScore]]).
    *
    * Output: (idCol, token_count, dup_token_bp, dup_2gram_bp, top_token_bp).
    * Staged as THREE projections so tokens and bigrams materialize as array
    * attributes evaluated once per row (CollapseProject keeps non-cheap
    * aliases referenced more than once in their own stage); the lambdas then
    * index attributes in O(1) and the row cost is O(n·distinct) comparisons
    * — still a narrow no-shuffle map that annotates at scan speed. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("tk"))
      .select(col(idCol), col("tk"), tokenBigramsOf(col("tk")).as("bi"))
      .select(col(idCol) +: repetitionSignalsFrom(col("tk"), col("bi"))
        .map { case (name, c) => c.as(name) }: _*)

  /** Corpus vocabulary with document frequencies — the canonical
    * wordcount/DF aggregation of a training-data pipeline (vocab builds,
    * IDF weights, stopword discovery). One explode + one hash aggregate:
    * map-side partials mean the shuffle carries |vocab| rows per mapper,
    * not |tokens|; the distinct-doc count rewrites to a two-level aggregate
    * both partitioned on the token. Output (token, n_occurrences, n_docs).
    * Consumers bound it with a deterministic top-k
    * (count desc, token asc) — see `text_vocab_topk`. */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenStream(docs, idCol, textCol)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("n_docs"))

  /** Classic tf·idf over precomputed counts — the library scoring form.
    * NOT used in the oracle-compared query: `ln` is not correctly-rounded
    * and differs in the last ulp between libm implementations (measured
    * 4/5500 N/df ratios JVM vs DuckDB), so a cross-engine hash compare of
    * any log-based score is representation-dependent by construction. */
  def tfIdf(tf: Column, df: Column, nDocs: Column): Column =
    tf.cast("double") * log(nDocs.cast("double") / df.cast("double"))

  /** Per-document top-k characteristic terms, ranked by the exact-rational
    * idf surrogate floor(tf·10⁴·N/df) (integer basis points — bit-identical
    * in every engine; monotone in true idf for fixed tf, see [[tfIdf]] for
    * why ln itself cannot be oracle-compared). The distributed shape of any
    * TF-IDF pass at corpus scale:
    *   - one explode + hash aggregate for per-doc term counts (tf),
    *   - one hash aggregate for document frequencies (df) — |vocab| rows,
    *     map-side combined,
    *   - N as a 1-row broadcast cross join (stays a lazy plan — no driver
    *     action),
    *   - tf ⋈ df on the token (df side is vocab-sized — AQE broadcasts it
    *     at any realistic vocab/corpus ratio),
    *   - bounded per-doc top-k window.
    * Output (idCol, token, tf, df, score_bp, rank), ties broken by token. */
  def topTermsPerDoc(docs: DataFrame, idCol: String,
                     textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = tokenStream(docs, idCol, textCol)
    val tf = terms.groupBy(col("id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfq = terms.groupBy(col("token"))
      .agg(countDistinct(col("id")).as("df"))
    // N attaches as an UNCORRELATED SCALAR SUBQUERY (Dataset.scalar, Spark
    // 4): executed once, its result inlined into the projection — no join
    // node. A crossJoin of even a broadcast 1-row side plans as
    // BroadcastNestedLoopJoin (the registry-wide no-all-pairs invariant
    // rightly rejects it), and a literal-key equi join folds back to the
    // same BNLJ when Catalyst simplifies the constant equality.
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    // `div`, not `/`: long `/` long is DOUBLE division in Spark, and
    // floor-of-double near an integer boundary is not the integer floor-div
    // the oracle's `//` computes. All values positive → div ≡ floor.
    val scored = tf.join(dfq, "token")
      .withColumn("n_docs", nDocs.scalar())
      .withColumn("score_bp",
        expr("(tf * 10000 * n_docs) div df").cast("long"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score_bp").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id").as(idCol), col("token"), col("tf"), col("df"),
        col("score_bp"), col("rank"))
  }

  /** Per-document average unigram surprisal — the perplexity-filter
    * stand-in (the CCNet/RefinedWeb quality signal): score each document by
    * how surprising its tokens are under the corpus's OWN unigram LM. True
    * surprisal is −log₂ p(t) = log₂(N/cnt_t), but libm logs are last-ulp
    * engine-dependent (the [[tfIdf]] lesson), so the score uses the EXACT
    * integer floor: floor(log₂(N div cnt)) = length(bin(N div cnt)) − 1 —
    * `bin()`'s binary-digit string is engine-identical, which makes the
    * whole score hash-comparable. Doc score = (Σ bits · 100) div n_tokens,
    * integer centibits: HIGH = rare-token-heavy (the gibberish tail), LOW =
    * common-token-heavy (the boilerplate tail) — production filters drop
    * both ends.
    *
    * Shape: one explode + token-partitioned count aggregate (map-side
    * combined — the shuffle carries |vocab| rows per mapper), N as an
    * uncorrelated scalar subquery (no join node, see [[topTermsPerDoc]]),
    * one vocab-sized equi join back (AQE broadcasts it at any realistic
    * vocab/corpus ratio), one doc-partitioned aggregate. The token table
    * feeds the frequency aggregate AND the join side, so it is lazily
    * pinned — the [[Dedup.docDuplicateSpanRates]] discipline. Docs with no
    * tokens report (0, 0). */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokenStream(docs, idCol, textCol).localCheckpoint(eager = false)
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val nTotal = freq.agg(sum(col("cnt")).as("n_total"))
    val scored = toks.join(freq, "token")
      .withColumn("n_total", nTotal.scalar())
      .withColumn("bits", log2Floor(expr("n_total div cnt")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
    perDocScore(docs, idCol, scored, Seq("n_tokens"), "avg_surprisal_cb")
  }

  /** Per-document CHARACTER-distribution entropy — the compression-ratio
    * quality proxy (machine-generated spam and binary-ish junk sit at the
    * entropy extremes; natural text clusters mid-range). True Shannon
    * entropy is Σ p·log₂(1/p); as everywhere in this engine the libm log is
    * replaced by the EXACT integer floor via `bin()` length, so the score is
    * engine-hash-comparable: per character class c with count cnt_c in a
    * doc of n chars, bits_c = ⌊log₂(n div cnt_c)⌋, and
    * entropy_cb = (Σ_c cnt_c · bits_c) · 100 div n — centibits/char.
    *
    * Shape: the per-doc histogram folds inside ONE native codegen
    * expression ([[graft.functions.CharEntropyCb]]) — a narrow map over the
    * scan, no per-character row amplification, no shuffle (n_chars is the
    * built-in code-point `length()`). The previous explode form (one row
    * per character before a map-side-combined aggregate) remains as
    * [[charEntropyExplode]], the executable spec twin the oracle mirrors —
    * its shuffle was |docs|·|alphabet|-bounded but the explode itself made
    * it the most linear query in the text family (8.0× at 10× rows,
    * BASELINE.md round-8). Empty docs → (0, 0). */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      graft.functions.CharEntropyCb.charEntropyCb(col(textCol)).as("entropy_cb"))

  /** Executable-spec twin of [[charEntropy]]: the explode + two keyed
    * aggregates + join form, character access via `substring(text, i, 1)`
    * over an exploded 1..n sequence (code-point semantics in both Spark and
    * DuckDB — a regex empty-pattern split would instead cut UTF-16
    * surrogate pairs apart in the JVM). TextOpsSpec pins it ≡ the native
    * expression; the DuckDB oracle replays this form in SQL. */
  def charEntropyExplode(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cc = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
      // sequence(1, 0) is a DESCENDING [1, 0] in Spark, so empty docs need
      // an explicit empty array (they re-enter via the left join as (0,0))
      .select(col("id"),
        explode(when(length(col("__t")) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(1), length(col("__t"))))).as("i"),
        col("__t"))
      .select(col("id"), expr("substring(__t, i, 1)").as("ch"))
      .groupBy(col("id"), col("ch")).agg(count(lit(1)).as("cnt"))
    val n = cc.groupBy(col("id")).agg(sum(col("cnt")).as("n_chars"))
    val scored = cc.join(n, "id")
      .withColumn("bits", log2Floor(expr("n_chars div cnt")))
      .groupBy(col("id"))
      .agg(max(col("n_chars")).as("n_chars"),
        sum(expr("cnt * bits")).as("sum_bits"))
    perDocScore(docs, idCol, scored, Seq("n_chars"), "entropy_cb")
  }

  /** BIGRAM-LM surprisal quality score — the conditional-probability
    * refinement of [[unigramSurprisal]]: per adjacent token pair,
    * bits = ⌊log₂⌊c(w₁·)/c(w₁w₂)⌋⌋ (c(w₁·) = w₁'s count as a bigram head),
    * the exact-integer `bin()`-length log₂ of 1/p(w₂|w₁) — no libm log in
    * the compared value. A doc full of high-probability transitions
    * (boilerplate, repeated templates) scores LOW; incoherent word salad
    * scores HIGH — the perplexity filter's actual discriminator, which
    * unigram frequency alone cannot see (it scores "the the the" as
    * maximally predictable; the bigram model additionally scores every
    * transition). Self-scored against the corpus's own counts (a held-out
    * filter joins a reference count table instead — same plan).
    *
    * Shape: the bigram explode is pinned once and feeds the count tables
    * and the scoring join; c₁₂ is vocab²-bounded, c₁ vocab-bounded (both
    * map-side combined), the per-doc aggregate keys on the doc id. Output:
    * (idCol, n_bigrams, avg_bigram_surprisal_cb) — centi-bits per bigram,
    * 0 for docs with < 2 tokens. */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("id"),
        explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .localCheckpoint(eager = false)
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val scored = bi.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("bits", log2Floor(expr("c1 div c12")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
    perDocScore(docs, idCol, scored, Seq("n_bigrams"), "avg_bigram_surprisal_cb")
  }

  /** Train + STORE a unigram reference LM — the artifact half of the
    * CCNet-style quality gate: the LM trains ONCE on a trusted reference
    * slice (Wikipedia in CCNet; a clean-language slice here) and is
    * persisted as a (token, cnt) parquet table, then every ingest batch
    * scores against the STORED artifact ([[refLmSurprisal]]) — the
    * train-once / apply-forever discipline of the stored BPE tokenizer
    * (X125) and the stored ANN indexes (X127+). Vocab-sized output: one
    * aggregate of the reference slice, coalesced to a handful of files. */
  def writeUnigramLm(ref: DataFrame, textCol: String, lmDir: String): Unit = {
    ref.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .coalesce(4)
      .write.mode("overwrite").parquet(lmDir)
  }

  /** Score documents against a STORED reference LM — the apply half of
    * [[writeUnigramLm]], and the cross-corpus refinement of
    * [[unigramSurprisal]] (which scores a corpus against ITSELF): tokens
    * are charged −log₂ p_ref(t) under the reference distribution, so text
    * unlike the reference (spam, boilerplate, wrong language) scores
    * high — CCNet's perplexity filter with this engine's exact-integer
    * log discipline (⌊log₂(N div cnt)⌋ via `bin()` length; libm-free,
    * hash-comparable). OUT-OF-VOCABULARY tokens take the deterministic
    * backoff ⌊log₂ N⌋ + 1 — one bit beyond the rarest possible in-vocab
    * token — and are counted separately (`n_oov`: a high OOV rate is its
    * own quality signal and flags reference drift).
    *
    * Shape at scale: the LM is a VOCAB-sized table broadcast (AQE decides
    * from real bytes) into one left join against the exploded token
    * stream, then one doc-partitioned aggregate — no corpus-vs-corpus
    * work, and the stored artifact amortizes over every batch scored.
    * Docs with no tokens report (0, 0, 0). */
  def refLmSurprisal(spark: SparkSession, docs: DataFrame, idCol: String,
                     textCol: String, lmDir: String): DataFrame = {
    val lm = spark.read.parquet(lmDir)
    val nTotal = lm.agg(sum(col("cnt")).as("n_total"))
    val scored = tokenStream(docs, idCol, textCol).join(lm, Seq("token"), "left")
      .withColumn("n_total", nTotal.scalar())
      .withColumn("bits",
        when(col("cnt").isNull,
          length(bin(col("n_total"))).cast("long"))          // ⌊log₂N⌋ + 1
          .otherwise(log2Floor(expr("n_total div cnt"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("bits")).as("sum_bits"))
    perDocScore(docs, idCol, scored, Seq("n_tokens", "n_oov"),
      "avg_ref_surprisal_cb")
  }

  /** Content fingerprint: md5 hex of the raw text — exact-dup grouping key
    * that both engines compute identically. */
  def fingerprintMd5(text: Column): Column = md5(text.cast("binary"))

  /** Karp-Rabin-style rolling polynomial fingerprint over characters:
    * fold(acc * 31 + codepoint(char)) mod 1e9+7. Order-sensitive (anagram
    * docs get distinct prints, unlike bag-of-chars) and cheap; expressed
    * with codegen'd higher-order functions. */
  def fingerprintRolling(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, c) => (acc * 31L + ascii(c).cast("long")) % 1000000007L)

  /** RAG/embedding-style overlapping chunking: split each document into
    * token windows of `chunkTokens` advancing by `strideTokens`
    * (stride < size ⇒ overlap of size−stride tokens — the retrieval-corpus
    * layout where context straddling a boundary is still covered by the
    * next chunk). Chunk count is 1 + ⌈(n−size)/stride⌉ for n > size, one
    * chunk for 0 < n ≤ size, none for empty docs — the final chunk may be
    * short, and no start is generated beyond the one whose window reaches
    * the end (no degenerate trailing sub-chunks).
    *
    * Output: (idCol, chunk_id, start_tok, n_tok, chunk_text, chunk_md5).
    * A pure narrow map + generate (explode) — no shuffle; at 100 TB this
    * rewrites the corpus at scan speed and the md5 fingerprint makes chunks
    * immediately joinable to the exact-dedup / Bloom machinery. Tokens are
    * staged as an array attribute (the [[tokenBigramsOf]] O(n²) caveat);
    * chunk counts use integer ceil-division (the contamination_bp lesson:
    * no doubles in cross-engine-compared arithmetic). */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int = 64, strideTokens: Int = 48): DataFrame = {
    require(chunkTokens >= 1 && strideTokens >= 1 && strideTokens <= chunkTokens,
      "need 1 <= strideTokens <= chunkTokens")
    val (sz, st) = (chunkTokens, strideTokens)
    docs
      .select(col(idCol), tokens(col(textCol)).as("tk"))
      .select(col(idCol), col("tk"),
        expr(s"""CASE WHEN size(tk) = 0 THEN array()
                 |     WHEN size(tk) <= $sz THEN array(0)
                 |     ELSE transform(sequence(0, (size(tk) - $sz + $st - 1) div $st),
                 |                    i -> i * $st)
                 |END""".stripMargin).as("starts"))
      .select(col(idCol), col("tk"),
        posexplode(col("starts")).as(Seq("chunk_id", "start_tok")))
      .select(col(idCol), col("chunk_id"),
        col("start_tok").cast("int").as("start_tok"),
        slice(col("tk"), col("start_tok") + 1, lit(sz)).as("chunk"))
      .select(col(idCol), col("chunk_id"), col("start_tok"),
        size(col("chunk")).as("n_tok"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .withColumn("chunk_md5", fingerprintMd5(col("chunk_text")))
  }

  /** Adjacent-character pairs of a string column (["ab","bc"] for "abc");
    * empty below 2 chars. Pass an attribute (the [[tokenBigramsOf]]
    * staging caveat). Character-based on both engines (Spark substr and
    * DuckDB string slicing count code points). */
  def charPairsOf(w: Column): Column =
    when(length(w) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(w) - 1),
        i => w.substr(i, lit(2))))

  /** Corpus-wide adjacent-symbol-pair statistics — the first iteration of
    * BPE vocabulary training (count every adjacent character pair across
    * all word occurrences; the argmax pair is the first merge). The
    * at-scale trick is the same one real BPE trainers use: aggregate the
    * WORD-FREQUENCY table first (|vocab| rows, one token-partitioned
    * map-side-combined agg), then expand pairs over DISTINCT words only,
    * weighting by the word count — pair work scales with vocabulary size,
    * not corpus size, and no shuffle ever carries per-occurrence rows past
    * the first aggregate.
    *
    * Output: (pair, n_total = occurrence-weighted count, n_words = distinct
    * words containing the pair). */
  def bpePairStats(docs: DataFrame, textCol: String): DataFrame =
    wordCounts(docs, textCol)
      .select(col("w"), col("wc"), explode(charPairsOf(col("w"))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wc")).as("n_total"),
        // countDistinct, not count: a pair repeated inside one word ("aaa"
        // → "aa" twice) contributes once to the word tally
        countDistinct(col("w")).as("n_words"))

  /** One BPE merge ITERATION applied to the corpus vocabulary: take the
    * argmax pair from [[bpePairStats]] and fuse its occurrences in the
    * space-separated symbol form of every distinct word — greedy leftmost
    * non-overlapping, which is exactly the left-to-right `replace()`
    * semantics both engines share ("a a a" merging "a a" → "aa a"). This is
    * the loop body of BPE training; iterating it (merge → recount pairs →
    * merge) builds the full merge table, and every iteration stays
    * |vocab|-sized: the argmax is a 1-row broadcast (no driver collect),
    * the rewrite a narrow map over distinct words.
    *
    * Output: (w, wc, pair, symbols_before, symbols_after, n_merges) — one
    * row per distinct word; n_merges counts fused occurrences (each merge
    * removes exactly one space). */
  def applyTopBpeMerge(docs: DataFrame, textCol: String): DataFrame = {
    // argmax pair as a SCALAR SUBQUERY (the unigramSurprisal N convention) —
    // no join node at all, so the registry-wide no-cartesian audit holds
    val top = bpePairStats(docs, textCol)
      .orderBy(col("n_total").desc, col("pair").asc).limit(1)
      .select(col("pair"))
    wordCounts(docs, textCol)
      .withColumn("pair", top.scalar())
      .withColumn("symbols_before", array_join(split(col("w"), ""), " "))
      .withColumn("__pat", concat(substring(col("pair"), 1, 1), lit(" "),
        substring(col("pair"), 2, 1)))
      .withColumn("symbols_after",
        expr("replace(symbols_before, __pat, pair)"))
      .select(col("w"), col("wc"), col("pair"),
        col("symbols_before"), col("symbols_after"),
        (length(col("symbols_before")) - length(col("symbols_after")))
          .as("n_merges"))
  }

  /** CONTENT-DEFINED CHUNKING (CDC — the Rabin/FastCDC idea at token
    * granularity): a chunk boundary falls after token i exactly when the
    * content hash of the `window`-token span ending at i lands on the
    * modulus (hash % modulus == 0, expected chunk length ≈ modulus tokens).
    * Because boundaries depend only on LOCAL content, an edit near the
    * start of a document realigns within ~one chunk and every later chunk
    * hash is unchanged — the property that makes chunk-level dedup survive
    * boilerplate insertions, where fixed-size chunking ([[chunks]])
    * misaligns everything after the edit. Production CDC adds min/max
    * chunk clamps; the unclamped form keeps the definition a pure
    * per-position predicate, exactly replayable in SQL.
    *
    * Shape: entirely row-local HOFs (filter/transform over the token
    * array) + ONE posexplode — a narrow map, no shuffle, no window
    * function; chunk fingerprints feed the usual hash-groupBy dedup
    * downstream. Output: (idCol, chunk_idx, start_tok, end_tok, n_tokens,
    * chunk_md5) with [start_tok, end_tok) half-open token offsets
    * partitioning [0, n). Empty docs emit no chunks; docs shorter than
    * `window` emit one whole-doc chunk. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 8, modulus: Int = 64): DataFrame = {
    require(window > 0 && modulus > 0, "window > 0, modulus > 0")
    val base = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .where(col("n") > 0)
    // sequence(w, n) DESCENDS when n < w (the charEntropy lesson) — docs
    // shorter than the window have no boundary candidates at all
    val boundaries = filter(
      when(col("n") < window, array().cast("array<long>"))
        .otherwise(sequence(lit(window.toLong), col("n"))),
      i => pmod(graft.operators.Dedup.md5Hash48(
        concat_ws(" ", slice(col("tk"), (i - window + 1).cast("int"),
          lit(window)))), lit(modulus.toLong)) === 0L)
    val withBounds = base
      .withColumn("__b", concat(array(lit(0L)), boundaries))
      .withColumn("__b",
        when(element_at(col("__b"), -1) === col("n"), col("__b"))
          .otherwise(concat(col("__b"), array(col("n")))))
    withBounds
      .select(col("id"), col("tk"),
        posexplode(transform(sequence(lit(0), size(col("__b")) - 2),
          j => struct(
            element_at(col("__b"), (j + 1).cast("int")).as("s"),
            element_at(col("__b"), (j + 2).cast("int")).as("e"))))
          .as(Seq("chunk_idx", "c")))
      .select(col("id").as(idCol), col("chunk_idx"),
        col("c.s").as("start_tok"), col("c.e").as("end_tok"),
        (col("c.e") - col("c.s")).as("n_tokens"),
        md5(concat_ws(" ", slice(col("tk"), (col("c.s") + 1).cast("int"),
          (col("c.e") - col("c.s")).cast("int"))).cast("binary"))
          .as("chunk_md5"))
  }

  /** Adjacent SYMBOL pairs of an anchored symbol string (see [[bpeTrain]]):
    * `" a b ab"` → `["a b", "b ab"]`; single-symbol words → empty. */
  private def symPairs(syms: Column): Column = {
    val arr = split(substring(syms, 2, Int.MaxValue), " ")
    when(size(arr) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(arr) - 1),
        j => concat(element_at(arr, j), lit(" "), element_at(arr, j + 1))))
  }

  /** The anchored rewrite of a merge-table `pair` "A B" (see [[bpeTrain]]):
    * struct(pat = " A B", rep = " AB"). */
  private def anchoredMerge(pair: Column): Column =
    struct(concat(lit(" "), pair).as("pat"),
      concat(lit(" "), regexp_replace(pair, " ", "")).as("rep"))

  /** FULL BPE merge-table training — [[applyTopBpeMerge]]'s loop body
    * iterated `nMerges` times: count adjacent symbol pairs over the
    * distinct-word vocabulary (occurrence-weighted by word count), fuse the
    * argmax pair into every word, repeat on the rewritten vocabulary.
    * Output: the trained merge table (step, pair, n_total) — the artifact a
    * tokenizer ships.
    *
    * Multi-char symbols make the single-merge op's bare `replace` unsound
    * (pattern "b c" would match INSIDE symbol "ab" followed by "c"), so
    * words are held in an ANCHORED symbol string — every symbol prefixed by
    * exactly one space (`"ab c"` → `" a b  c"`... i.e. `" "+join(" ")`) —
    * and the merge rewrites `" A B"` → `" AB"`. The leading space anchors
    * each match at a symbol boundary (symbols contain no spaces), and
    * because only the LEADING delimiter is in the pattern, consecutive
    * occurrences don't overlap: leftmost-continue `replace` — identical in
    * the JVM and DuckDB — is then exactly BPE's greedy leftmost
    * non-overlapping fuse (`" a a a"` merging (a,a) → `" aa a"`).
    *
    * Scale: every iteration is |vocab|-sized (the corpus is touched ONCE by
    * the word-count aggregate) — the same trick real BPE trainers use. The
    * CORPUS-sized work (tokenize + word count) runs at full parallelism;
    * the vocabulary feeding the merge rounds is then COALESCED TO ONE
    * PARTITION and pinned: a BPE vocab is bounded by the token
    * inventory (~10⁵-10⁶ rows at ANY corpus size), so each round becomes a
    * couple of single-task jobs instead of a 32-reducer shuffle per round —
    * per-round cost is job overhead, the dominant term on a contended
    * scheduler (round-13 driver bench: the lazy 32-partition form spent
    * 15 s mostly scheduling KB-sized tasks). Each round's argmax is pinned
    * eagerly (it feeds the rewrite and the output) and rides as a 1-row
    * scalar subquery (no driver collect, no join node). */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "nMerges >= 1")
    var cur = wordCounts(docs, textCol)
      .withColumn("syms",
        concat(lit(" "), array_join(split(col("w"), ""), " ")))
      .coalesce(1) // vocab-sized from here on: single-task rounds
      // LAZY pin (round-17): the first round's `top` aggregate materializes
      // this on its own job — an eager pin here was a second serial
      // cluster round-trip per training run with no added reuse (the
      // blocks pin on first compute either way)
      .localCheckpoint(eager = false)
    val steps = (1 to nMerges).map { i =>
      val top = cur
        .select(col("wc"), explode(symPairs(col("syms"))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n_total"))
        .coalesce(1)
        .orderBy(col("n_total").desc, col("pair").asc).limit(1)
        .localCheckpoint(eager = true) // feeds the rewrite AND the output
      val pat = top.select(anchoredMerge(col("pair")).as("s"))
      cur = cur
        // Degenerate-corpus guard (round-10 advice): when the vocabulary
        // has no mergeable pair left, the 1-row scalar is EMPTY → NULL
        // struct → replace(syms, null, null) would null every word. The
        // fallback replaces a pattern with itself — a true no-op whatever
        // the text contains.
        .withColumn("__s", coalesce(pat.scalar(),
          struct(lit("\u0000").as("pat"), lit("\u0000").as("rep"))))
        .withColumn("syms", expr("replace(syms, __s.pat, __s.rep)"))
        .drop("__s")
        // LAZY pin (round-17): materialized by the NEXT round's `top` job
        // (or never, for the final round — its rewrite feeds nothing).
        // The lazy placeholder still truncates the plan per round, so the
        // 6-round chain never grows a nested mega-plan; eager here was one
        // extra serial job per round (12 -> 6 jobs per train).
        .localCheckpoint(eager = false)
      top.select(lit(i).as("step"), col("pair"), col("n_total"))
    }
    steps.reduce(_ unionByName _)
  }

  /** FULL-CORPUS BPE ENCODE with the trained merge table — the one
    * tokenizer step a training pipeline actually runs at 100 TB: every
    * document's text becomes its token-id sequence. [[bpeTrain]] produces
    * the artifact; this applies it.
    *
    * Shape: training is X114's cost (corpus touched once by the word-count
    * aggregate, then |vocab|-sized rounds); ENCODING is one narrow scan.
    * The `nMerges` (pattern, replacement) pairs ride as 1-row scalar
    * subqueries staged per row, and each word is encoded by folding the
    * merge list in training order over its anchored symbol string (the
    * [[bpeTrain]] leading-space discipline — greedy leftmost
    * non-overlapping fuse, identical in the JVM and DuckDB). No join, no
    * shuffle, no dictionary exchange: the merge table IS the tokenizer,
    * exactly as a real BPE encoder ships it.
    *
    * Token ids are the hashing-trick id space the repo's classifier
    * already uses (md5-48 of the token symbol mod 2²⁰) — no vocab
    * dictionary to build or broadcast, engine-portable, and collisions at
    * 2²⁰ buckets are negligible for a ≤(chars+nMerges)-symbol vocabulary.
    * Output: (idCol, n_words, n_tokens, token_ids) with the id sequence
    * space-joined (the registry's stringified-array rule). */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String, nMerges: Int,
                idBuckets: Long = 1L << 20): DataFrame =
    bpeEncodeWithMerges(docs, idCol, textCol,
      bpeTrain(docs, textCol, nMerges), nMerges, idBuckets)

  /** Persist a trained BPE merge table as the shipped tokenizer artifact —
    * the [[graft.operators.Dedup]] `writeDedupIndex` convention applied to
    * the tokenizer: train ONCE, store (step, pair, n_total) as parquet,
    * and every later encode is a pure narrow scan against the stored table
    * (no retraining, no corpus-sized aggregate). At 100 TB this is the
    * only sane shape: the tokenizer is a build artifact, not a per-job
    * computation. */
  def writeBpeMerges(docs: DataFrame, textCol: String, nMerges: Int,
                     outPath: String): Unit =
    bpeTrain(docs, textCol, nMerges)
      // nMerges rows: a single file keeps the artifact read metadata-cheap
      .coalesce(1)
      .write.mode("overwrite").parquet(outPath)

  /** ENCODE against a supplied merge table — the stored-artifact path
    * ([[writeBpeMerges]] output or any (step, pair) DataFrame in training
    * order). The merge table is TOKENIZER METADATA — `nMerges` rows at any
    * corpus size — so it is read driver-side once (the bounded
    * index-metadata collect discipline of [[graft.operators.Similarity]])
    * and the pairs ship into [[graft.functions.BpeEncodeIds]], ONE native
    * codegen expression fusing the whole per-document pipeline: char
    * split, greedy-leftmost merge folds in training order, token split,
    * md5-48 hashing-trick ids. The document scan stays one narrow map —
    * no join, no shuffle — and now also stays inside whole-stage codegen
    * (the previous scalar-subquery + HOF-lambda fold evaluated its lambdas
    * interpreted per word occurrence: measured ~3× the encode wall at
    * sf0.1). The composable Column form survives as
    * [[bpeEncodeColumnsHof]], the executable spec TextOpsSpec pins ≡.
    * Missing steps (a degenerate corpus trained fewer than `nMerges`
    * merges) fall back to a no-op replace instead of nulling the fold
    * (round-10 advice). Only `idBuckets` = 2²⁰ is oracle-checked (the
    * generated SQL hardcodes the registry's bucket count); other values
    * are spec-covered only. */
  def bpeEncodeWithMerges(docs: DataFrame, idCol: String,
                          textCol: String,
                          merges: DataFrame, nMerges: Int,
                          idBuckets: Long = 1L << 20): DataFrame = {
    val byStep = merges.where(col("step") <= nMerges)
      .select(col("step").cast("int"), col("pair"))
      .collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val anchored = (1 to nMerges).map(i => byStep.get(i) match {
      case Some(pair) => (" " + pair, " " + pair.replace(" ", ""))
      case None => (" ", " ") // no-op fallback, as the scalar form
    })
    import org.apache.spark.sql.graft.ColumnBridge
    val tk = tokens(col(textCol))
    val enc = ColumnBridge.column(graft.functions.BpeEncodeIds(
      ColumnBridge.expression(tk), anchored.map(_._1), anchored.map(_._2),
      idBuckets))
    docs.select(col(idCol), size(tk).cast("long").as("n_words"),
        enc.as("__e"))
      .select(col(idCol), col("n_words"),
        col("__e.n_tokens").as("n_tokens"),
        col("__e.token_ids").as("token_ids"))
  }

  /** The composable Column form of [[bpeEncodeWithMerges]] — HOF lambda
    * fold over scalar-subquery merge structs — kept as the EXECUTABLE SPEC
    * for [[graft.functions.BpeEncodeIds]] (the [[Dedup.md5Hash48Hex]]
    * convention): TextOpsSpec pins the two bit-identical on the corpus,
    * including unicode, empty-text and fewer-merges-than-requested edges.
    * Not on any registered query's hot path. */
  def bpeEncodeColumnsHof(docs: DataFrame, idCol: String,
                          textCol: String,
                          merges: DataFrame, nMerges: Int,
                          idBuckets: Long = 1L << 20): DataFrame = {
    val mergeCols = (1 to nMerges).map { i =>
      coalesce(
        merges.where(col("step") === i)
          .select(anchoredMerge(col("pair")).as("m"))
          .scalar(),
        struct(lit(" ").as("pat"), lit(" ").as("rep"))).as(s"__m$i")
    }
    // Merge structs staged as attributes BEFORE the lambda (the
    // classifierScore staging caveat: an unstaged scalar referenced inside
    // a HOF lambda re-evaluates per element).
    docs
      .select(col(idCol) +: tokens(col(textCol)).as("tk") +: mergeCols: _*)
      .withColumn("toks", flatten(transform(col("tk"), w => {
        val syms0 = concat(lit(" "), array_join(split(w, ""), " "))
        val folded = (1 to nMerges).foldLeft(syms0)((sy, i) =>
          replace(sy, col(s"__m$i").getField("pat"),
            col(s"__m$i").getField("rep")))
        split(folded.substr(lit(2), length(folded)), " ")
      })))
      .select(col(idCol),
        size(col("tk")).cast("long").as("n_words"),
        size(col("toks")).cast("long").as("n_tokens"),
        array_join(transform(col("toks"),
          t => (Dedup.md5Hash48(t) % idBuckets).cast("string")), " ")
          .as("token_ids"))
  }

  /** SYMBOL VOCABULARY of a trained tokenizer — the id→symbol table that
    * makes [[bpeEncode]]'s hashing-trick ids DECODABLE. The symbol set is
    * CLOSED under the merge fold: every token the encoder can emit is
    * either an original corpus character or one of the `nMerges` merge
    * outputs, so vocab = corpus character alphabet ∪ the merge-output
    * symbols — derivable from the (tiny) distinct-word table plus the
    * merge artifact, never a second corpus scan beyond the word aggregate.
    * Ids are the same md5-48 hashing trick mod `idBuckets` the encoder
    * uses; if two symbols ever bucket-collide, the id resolves
    * DETERMINISTICALLY to the lexicographically smallest symbol (both
    * engines replay the same min rule, so a collision degrades round-trip
    * equality identically instead of diverging). Output:
    * (token_id: long, sym: string), one row per occupied bucket. */
  def bpeVocab(docs: DataFrame, textCol: String, merges: DataFrame,
               idBuckets: Long = 1L << 20): DataFrame = {
    val chars = docs
      .select(explode(tokens(col(textCol))).as("w")).distinct()
      .select(explode(split(col("w"), "")).as("sym"))
    chars
      .unionByName(merges.select(
        regexp_replace(col("pair"), " ", "").as("sym")))
      .distinct()
      .groupBy((Dedup.md5Hash48(col("sym")) % idBuckets).as("token_id"))
      .agg(min(col("sym")).as("sym"))
  }

  /** Persist the tokenizer's id→symbol vocabulary next to the merge table
    * — the second half of the shipped-artifact pair ([[writeBpeMerges]]):
    * merges make text ENCODABLE, the vocab makes ids DECODABLE. Same
    * one-write-many-reads shape; the table is |alphabet| + nMerges rows,
    * so a single file keeps the read metadata-cheap. */
  def writeBpeVocab(docs: DataFrame, textCol: String, merges: DataFrame,
                    outPath: String, idBuckets: Long = 1L << 20): Unit =
    bpeVocab(docs, textCol, merges, idBuckets)
      .coalesce(1)
      .write.mode("overwrite").parquet(outPath)

  /** DECODE token-id sequences back to text with a stored vocabulary —
    * the inspection/debug direction every training pipeline needs once
    * token ids exist (spot-checking shard contents, attributing loss
    * spikes to documents). The id→symbol table is TOKENIZER METADATA
    * (|alphabet| + nMerges rows at any corpus size), so it is read
    * driver-side once and rides into [[graft.functions.BpeDecodeSyms]] —
    * one whole-stage-codegen loop per row: split ids, hash-probe, concat.
    * Decoding stays one narrow map over the encoded frame — no join, no
    * shuffle. The scalar-subquery MAP form survives as
    * [[bpeDecodeColumnsHof]], the executable spec TextOpsSpec pins ≡.
    * Word boundaries are not part of the id stream (the encoder
    * flattens), so the decode target is the whitespace-normalized
    * concatenation `concat(tokens(text))` — exactly what a round-trip
    * check compares. Appends `decoded` to `encoded`; empty id strings and
    * unknown ids decode to "" (array_join null-skip semantics). */
  def bpeDecode(encoded: DataFrame, idsCol: String, vocab: DataFrame): DataFrame = {
    val rows = vocab.select(col("token_id").cast("string"), col("sym"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    import org.apache.spark.sql.graft.ColumnBridge
    encoded.withColumn("decoded", ColumnBridge.column(
      graft.functions.BpeDecodeSyms(
        ColumnBridge.expression(col(idsCol)),
        rows.map(_._1).toSeq, rows.map(_._2).toSeq)))
  }

  /** The composable Column form of [[bpeDecode]] — the vocab as ONE
    * scalar-subquery map staged before the per-id lambda (the
    * classifierScore staging caveat) — kept as the EXECUTABLE SPEC for
    * [[graft.functions.BpeDecodeSyms]]: TextOpsSpec pins the two
    * bit-identical, including empty id strings and unknown-id skipping.
    * Not on any registered query's hot path. */
  def bpeDecodeColumnsHof(encoded: DataFrame, idsCol: String,
                          vocab: DataFrame): DataFrame = {
    val vmap = vocab.select(
      map_from_entries(collect_list(struct(
        col("token_id").cast("string").as("k"), col("sym").as("v"))))
        .as("m"))
    encoded
      .withColumn("__vm", vmap.scalar())
      .withColumn("decoded",
        when(col(idsCol) === "", lit(""))
          .otherwise(array_join(transform(split(col(idsCol), " "),
            i => element_at(col("__vm"), i)), "")))
      .drop("__vm")
  }

  /** Default feature-hash dimensionality for [[classifierMargin]]: small
    * enough that the weight vector embeds as literals in the generated
    * oracle SQL, large enough to exercise real bucket dispersion. Production
    * models use 2¹⁸–2²¹ buckets; nothing in the plan shape changes. */
  val classifierDim = 64

  /** Deterministic stand-in weight vector (Knuth multiplicative scatter,
    * values in [−998, 998]). A REAL deployment trains a logistic/fastText
    * model offline and passes its quantized weights here — the engine-side
    * contract is only "a fixed integer vector indexed by feature hash",
    * which is exactly what this generates reproducibly for the oracle. */
  def classifierWeights(dim: Int = classifierDim): Seq[Long] =
    (0 until dim).map(b => ((b.toLong * 2654435761L + 104729L) % 1997L) - 998L)

  /** Hashed bag-of-words LINEAR CLASSIFIER INFERENCE — the
    * fastText/CCNet/DCLM-style learned quality filter, which at corpus
    * scale is the single most common ML step in a pretraining pipeline:
    * every document gets scored by a small linear model and gated on the
    * margin. The feature map is the hashing trick (token → md5-48 bucket
    * mod |w|, no vocabulary dictionary to ship), the margin is an integer
    * dot product Σ w[h(t)] over token OCCURRENCES (bag-of-words with
    * counts), accumulated entirely inside a codegen'd higher-order
    * `aggregate` over the token array — a zero-shuffle narrow map, so
    * inference runs at scan speed over 100 TB with the weight vector riding
    * along as a codegen literal (a broadcast variable with no exchange).
    *
    * All-integer arithmetic end to end (the hash-compare discipline every
    * scoring operator here follows), with one subtlety: the margin can be
    * NEGATIVE, and Spark's `div` truncates toward zero while DuckDB's `//`
    * floors, so the per-token normalization shifts the numerator by
    * 1000·n (≥ |margin| because |w| < 1000) before dividing and shifts
    * back after — both engines then floor a non-negative quotient and the
    * result is floor(margin·100 / n) exactly, in centi-units per token
    * (length-invariant: a 10 000-token doc and a 100-token doc with the
    * same token mix score identically).
    *
    * Output: (idCol, n_tokens, margin, margin_cb, kept) — kept as int 0/1
    * at margin_cb ≥ 0; empty docs score (0, 0, kept=1, gate-neutral). */
  def classifierScore(docs: DataFrame, idCol: String,
                      textCol: String,
                      weights: Seq[Long] = classifierWeights())
      : DataFrame = {
    require(weights.nonEmpty && weights.forall(w => math.abs(w) < 1000L),
      "weights must be non-empty with |w| < 1000 (the div-shift bound)")
    val wArr = array(weights.map(lit): _*)
    docs
      // tokens AND the weight vector staged as attributes: an expression
      // referenced inside a HOF lambda re-evaluates per element (the
      // tokenBigramsOf caveat), so an unstaged literal array would rebuild
      // its 64 boxed longs once per TOKEN instead of once per row
      .select(col(idCol), tokens(col(textCol)).as("tk"), wArr.as("w"))
      .select(col(idCol), size(col("tk")).cast("long").as("n_tokens"),
        aggregate(col("tk"), lit(0L), (acc, t) =>
          acc + element_at(col("w"),
            (Dedup.md5Hash48(t) % weights.size).cast("int") + 1))
          .as("margin"))
      .withColumn("margin_cb",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr(
            "((margin + 1000 * n_tokens) * 100 div n_tokens) - 100000")))
      .withColumn("kept", (col("margin_cb") >= 0L).cast("int"))
  }
}
