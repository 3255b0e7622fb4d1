package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Sources
import graft.operators.Lexical

/** Lexical retrieval & matching registry (X95–X98): vocabulary typo-pair
  * mining, positional inverted-index phrase search, collocation lift, and
  * tokenizer fertility — the [[graft.operators.Lexical]] surface.
  *
  * Verification design notes:
  *   - `text_typo_pairs`'s oracle is the BRUTE-FORCE all-pairs Levenshtein
  *     self-join over the vocabulary — the quadratic definition — while the
  *     Spark side runs the FastSS deletion-neighborhood join. The driver's
  *     hash compare therefore proves the filtered algorithm's recall AND
  *     precision are exactly 1.0 at test scale (the X74 convention).
  *   - all scores are exact integer arithmetic (`div` ≡ `//`), so hashes
  *     are engine-portable bit-for-bit.
  */
object LexicalQueries {

  /** The registered 3-token phrase (present at every fixture scale —
    * 5× at sf0.001, 5× at sf0.01, 10× at sf0.1; any phrase works — the
    * plan shape is the point). */
  private val phrase = Seq("join", "part", "filter")

  /** Fixed postings term set for `text_postings`. */
  private val postingTerms = Seq("stream", "vector", "window")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Vocabulary typo/variant pairs within edit distance 2 (X95): FastSS
    // deletion-neighborhood candidate join + exact levenshtein verify.
    "text_typo_pairs" -> q((s, dir) =>
      Lexical.vocabFuzzyPairs(Sources.documents(s, dir), "text", d = 2)
        .orderBy(col("tok_a"), col("tok_b"))),

    // Positional phrase search through the inverted index (X96).
    "text_phrase_search" -> q((s, dir) =>
      Lexical.phraseSearch(Sources.documents(s, dir), "doc_id", "text", phrase)
        .orderBy(col("doc_id"), col("pos"))),

    // Grouped postings lists for a fixed term set (X96). The operator's
    // array column is stringified for the compared output — the driver's
    // comparator (pandas sort/hash) cannot process array cells, so the
    // registry-wide rule is "no array/map columns in compared outputs"
    // (asserted in AllQueriesSpec).
    "text_postings" -> q((s, dir) =>
      Lexical.postings(Sources.documents(s, dir), "doc_id", "text", postingTerms)
        .withColumn("positions", array_join(col("positions"), ","))
        .orderBy(col("token"), col("doc_id"))),

    // Adjacent-bigram collocation lift, deterministic top 50 (X97).
    "text_collocations" -> q((s, dir) =>
      Lexical.collocations(Sources.documents(s, dir), "text", minCount = 3, k = 50)),

    // Tokenizer fertility / compression per (lang, source) (X98).
    "text_tokenizer_fertility" -> q((s, dir) =>
      Lexical.tokenizerFertility(Sources.documents(s, dir), "text",
          Seq("lang", "source"))
        .orderBy(col("lang"), col("source"))),

    // Vocabulary truncation + OOV accounting (X100): per-doc out-of-vocab
    // rate against the deterministic top-16 vocabulary cut.
    "text_oov_rate" -> q((s, dir) =>
      Lexical.oovReport(Sources.documents(s, dir), "doc_id", "text", k = 16)
        .orderBy(col("doc_id"))),

    // BM25 ranking over the postings term set (X110): exact-integer Okapi
    // score (bin()-length idf, fraction-cleared tf normalization at
    // k1 = 6/5, b = 3/4), milli-units.
    "text_bm25" -> q((s, dir) =>
      Lexical.bm25(Sources.documents(s, dir), "doc_id", "text", postingTerms)
        .orderBy(col("bm25_milli").desc, col("doc_id"))))

  private val bpeish = raw"regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+')"

  val oracles: Map[String, String] = Map(

    // The quadratic DEFINITION the filtered algorithm must reproduce
    // exactly: all-pairs levenshtein over the distinct-token vocabulary.
    "text_typo_pairs" ->
      raw"""WITH v AS (
        |  SELECT DISTINCT unnest($toks) AS tok FROM documents
        |  WHERE length(trim(text)) > 0)
        |SELECT a.tok AS tok_a, b.tok AS tok_b,
        |       levenshtein(a.tok, b.tok)::int AS dist
        |FROM v a JOIN v b ON a.tok < b.tok
        |WHERE levenshtein(a.tok, b.tok) <= 2
        |ORDER BY tok_a, tok_b""".stripMargin,

    "text_phrase_search" ->
      raw"""WITH t AS (
        |  SELECT doc_id, $toks AS tk FROM documents),
        |p AS (
        |  SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM t)
        |SELECT doc_id, (i - 1)::int AS pos FROM p
        |WHERE i + 2 <= len(tk)
        |  AND tk[i] = 'join' AND tk[i + 1] = 'part' AND tk[i + 2] = 'filter'
        |ORDER BY doc_id, pos""".stripMargin,

    "text_postings" ->
      raw"""WITH t AS (
        |  SELECT doc_id, $toks AS tk FROM documents),
        |p AS (
        |  SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM t),
        |occ AS (
        |  SELECT tk[i] AS token, doc_id, (i - 1)::int AS pos FROM p
        |  WHERE tk[i] IN ('stream', 'vector', 'window'))
        |SELECT token, doc_id,
        |       array_to_string(list_sort(list(pos)), ',') AS positions,
        |       count(*) AS n_occ
        |FROM occ GROUP BY token, doc_id ORDER BY token, doc_id""".stripMargin,

    // Same exact-integer lift: hugeint products, floor division, bigint out.
    "text_collocations" ->
      raw"""WITH t AS (
        |  SELECT $toks AS tk FROM documents),
        |uc AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
        |n AS (SELECT sum(c)::bigint AS n_tokens FROM uc),
        |bi AS (
        |  SELECT tk[i] AS w1, tk[i + 1] AS w2
        |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM t
        |        WHERE len(tk) >= 2)),
        |bc AS (
        |  SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY w1, w2
        |  HAVING count(*) >= 3)
        |SELECT w1, w2, c_xy, x.c AS c_x, y.c AS c_y,
        |       ((c_xy::HUGEINT * n.n_tokens * 10000)
        |        // (x.c::HUGEINT * y.c))::bigint AS lift_bp
        |FROM bc, uc x, uc y, n
        |WHERE bc.w1 = x.w AND bc.w2 = y.w
        |ORDER BY lift_bp DESC, w1, w2 LIMIT 50""".stripMargin,

    "text_oov_rate" ->
      raw"""WITH top AS (
        |  SELECT w FROM (SELECT unnest($toks) AS w FROM documents)
        |  GROUP BY w ORDER BY count(*) DESC, w LIMIT 16),
        |t AS (SELECT doc_id, unnest($toks) AS w FROM documents)
        |SELECT doc_id, count(*) AS n_tokens,
        |       sum(CASE WHEN w IN (SELECT w FROM top) THEN 0 ELSE 1 END)::bigint
        |         AS n_oov,
        |       ((sum(CASE WHEN w IN (SELECT w FROM top) THEN 0 ELSE 1 END)
        |         * 10000) // count(*))::bigint AS oov_bp
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_tokenizer_fertility" ->
      raw"""WITH s AS (
        |  SELECT lang, source,
        |         len($toks)::bigint AS ws,
        |         len($bpeish)::bigint AS bp,
        |         length(text)::bigint AS ch
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |       sum(ws)::bigint AS ws_tokens,
        |       sum(bp)::bigint AS bpeish_tokens,
        |       sum(ch)::bigint AS n_chars,
        |       (CASE WHEN sum(ws) = 0 THEN 0
        |             ELSE (sum(bp) * 10000) // sum(ws) END)::bigint AS fertility_bp,
        |       (CASE WHEN sum(bp) = 0 THEN 0
        |             ELSE (sum(ch) * 100) // sum(bp) END)::bigint AS chars_per_token_cb
        |FROM s GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // Same bin()-length idf, same fraction-cleared normalization with the
    // k1 = 6/5, b = 3/4 constants folded ((k1n+k1d)·bd = 44, k1d·bd = 20,
    // k1n·(bd−bn) = 6, k1n·bn = 18); hugeint products, bigint out.
    "text_bm25" ->
      raw"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
        |dl AS (SELECT doc_id, len(tk)::bigint AS dl FROM t),
        |st AS (SELECT count(*)::bigint AS n_docs,
        |              (sum(dl) // count(*))::bigint AS avgdl FROM dl),
        |f AS (SELECT doc_id, unnest(tk) AS token FROM t)  ,
        |ft AS (SELECT doc_id, token FROM f
        |       WHERE token IN ('stream', 'vector', 'window')),
        |tf AS (SELECT doc_id, token, count(*)::bigint AS tf
        |       FROM ft GROUP BY doc_id, token),
        |df AS (SELECT token, count(DISTINCT doc_id)::bigint AS df
        |       FROM ft GROUP BY token),
        |sc AS (
        |  SELECT tf.doc_id,
        |    (((length(bin((st.n_docs // df.df)::bigint)) - 1)::HUGEINT
        |      * tf.tf * 44 * st.avgdl * 1000)
        |     // (20 * st.avgdl * tf.tf + 6 * st.avgdl + 18 * dl.dl)) AS milli
        |  FROM tf JOIN df USING (token)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st)
        |SELECT doc_id, count(*)::bigint AS n_terms,
        |       sum(milli)::bigint AS bm25_milli
        |FROM sc GROUP BY doc_id ORDER BY bm25_milli DESC, doc_id""".stripMargin)
}
