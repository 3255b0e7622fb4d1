package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Unit semantics of every TextOps expression on hand-built rows — the DuckDB
  * oracle covers corpus-scale parity; these pin edge cases (empty text,
  * whitespace-only, tie-breaking) that the synthetic corpus never hits. */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c.as("v")).collect()(0).get(0)

  test("tokens: empty and whitespace-only yield empty array, not ['']") {
    assert(one("", TextOps.tokenCount(col("text"))) == 0)
    assert(one("   ", TextOps.tokenCount(col("text"))) == 0)
    assert(one(" a  b\tc ", TextOps.tokenCount(col("text"))) == 3)
  }

  test("unique tokens and bpe-ish tokens") {
    assert(one("a b a b c", TextOps.uniqueTokenCount(col("text"))) == 3)
    // "hello123!" → [hello][123][!]; " world" keeps its leading space token
    assert(one("hello123! world", TextOps.bpeishTokenCount(col("text"))) == 4)
  }

  test("avgTokenLen: 0.0 on empty, exact mean otherwise") {
    assert(one("", TextOps.avgTokenLen(col("text"))) == 0.0)
    assert(one("ab abcd", TextOps.avgTokenLen(col("text"))) == 3.0)
  }

  test("punctRatio counts only sentence punctuation") {
    assert(one("ab.,!?;:cd", TextOps.punctRatio(col("text"))) == 0.6)
    assert(one("abcd", TextOps.punctRatio(col("text"))) == 0.0)
  }

  test("stopwordRatio counts occurrences, not distinct hits") {
    assert(one("the the cat", TextOps.stopwordRatio(col("text"))) == 0.6667)
    assert(one("", TextOps.stopwordRatio(col("text"))) == 0.0)
  }

  test("qualityScore: deterministic basis-point blend, [0,1] bounds") {
    assert(one("", TextOps.qualityScore(col("text"))) == 0.0)
    // 500+ chars of prose with stopwords and no punctuation → len 1.0,
    // sw capped, punct penalty 1.0
    val good = ("the quick brown fox jumps over a lazy dog and runs to town " * 10).trim
    val s = one(good, TextOps.qualityScore(col("text"))).asInstanceOf[Double]
    assert(s > 0.9 && s <= 1.0, s"expected high quality, got $s")
    val noisy = "!!!!! ????? ;;;;; ....."
    val sn = one(noisy, TextOps.qualityScore(col("text"))).asInstanceOf[Double]
    assert(sn < 0.4, s"expected low quality, got $sn")
  }

  test("langId: profile hit argmax with first-lang tie preference") {
    assert(one("der hund ist nicht ein katze", TextOps.langId(col("text"))) == "de")
    assert(one("the cat is in the house", TextOps.langId(col("text"))) == "en")
    assert(one("el gato es que un perro", TextOps.langId(col("text"))) == "es")
    // all-zero scores → first profile in order (de) wins deterministically
    assert(one("xyzzy plugh", TextOps.langId(col("text"))) == "de")
  }

  test("native countInSet ≡ HOF filter/array_contains on the whole corpus") {
    val docs = SparkTestSession.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
      TextOps.countInSet(TextOps.tokens(col("text")), TextOps.englishStopwords).as("a"),
      TextOps.countInSetHof(TextOps.tokens(col("text")), TextOps.englishStopwords).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0L)
    // repeats count per-occurrence; null-element arrays never match
    import SparkTestSession.spark.implicits._
    val edge = Seq(Seq("the", "the", "x"), Seq.empty[String]).toDF("t")
      .select(TextOps.countInSet(col("t"), TextOps.englishStopwords).as("c"))
      .collect().map(_.getInt(0))
    assert(edge.toSeq == Seq(2, 0))
  }

  test("fingerprints: md5 matches reference vector; rolling hash is order-sensitive") {
    assert(one("abc", TextOps.fingerprintMd5(col("text"))) ==
      "900150983cd24fb0d6963f7d28e17f72")
    val ab = one("ab", TextOps.fingerprintRolling(col("text"))).asInstanceOf[Long]
    val ba = one("ba", TextOps.fingerprintRolling(col("text"))).asInstanceOf[Long]
    assert(ab != ba, "anagrams must fingerprint differently")
    // fold semantics: ((0*31+97)%p)*31+98 = 97*31+98 = 3105
    assert(ab == 97L * 31 + 98)
  }

  private val repNames =
    Seq("token_count", "dup_token_bp", "dup_2gram_bp", "top_token_bp")
  private def repSignals(text: String): Map[String, Long] = {
    import SparkTestSession.spark.implicits._
    TextOps.repetitionSignals(Seq((1L, text)).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect()(0).getValuesMap[Long](repNames).toMap
  }

  test("repetitionSignals: degenerate inputs (empty, one token, short-of-bigram)") {
    assert(repSignals("") ==
      Map("token_count" -> 0L, "dup_token_bp" -> 0L,
        "dup_2gram_bp" -> 0L, "top_token_bp" -> 0L))
    // single token: no bigrams (the sequence(1, n-1) descending trap), top = all
    assert(repSignals("hello") ==
      Map("token_count" -> 1L, "dup_token_bp" -> 0L,
        "dup_2gram_bp" -> 0L, "top_token_bp" -> 10000L))
  }

  test("repetitionSignals: exact basis points on constructed repetition") {
    // "a a a a": 4 tokens 1 distinct → dup 7500; 3 bigrams 1 distinct → 6666
    assert(repSignals("a a a a") ==
      Map("token_count" -> 4L, "dup_token_bp" -> 7500L,
        "dup_2gram_bp" -> 6666L, "top_token_bp" -> 10000L))
    // all-distinct prose: zero repetition, top token = 1/5
    assert(repSignals("v w x y z") ==
      Map("token_count" -> 5L, "dup_token_bp" -> 0L,
        "dup_2gram_bp" -> 0L, "top_token_bp" -> 2000L))
    // "a b a b a": dup_token (5-2)/5=6000; bigrams [a b, b a, a b, b a] →
    // (4-2)/4=5000; top token a=3/5 → 6000
    assert(repSignals("a b a b a") ==
      Map("token_count" -> 5L, "dup_token_bp" -> 6000L,
        "dup_2gram_bp" -> 5000L, "top_token_bp" -> 6000L))
  }

  test("repetitionSignals: staged DataFrame form ≡ inline expression form on the corpus") {
    val docs = SparkTestSession.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val staged = TextOps.repetitionSignals(docs, "doc_id", "text")
    // inline form: the same metric columns over unstaged expressions — the
    // executable spec of what the staging must not change
    val toksC = TextOps.tokens(col("text"))
    val inline = docs.select(
      col("doc_id") +: TextOps.repetitionSignalsFrom(
        toksC, TextOps.tokenBigrams(col("text")))
        .map { case (n, c) => c.as(n) }: _*)
    assert(staged.except(inline).isEmpty && inline.except(staged).isEmpty,
      "staging tokens/bigrams as attributes must not change any metric")
  }

  test("topTermsPerDoc: rational-idf ranking, rare terms beat common ones, token tie-break") {
    import SparkTestSession.spark.implicits._
    // 3 docs; "x" appears only in doc 1 (df=1), "a" in all (df=3)
    val docs = Seq(
      (1L, "a a x"), (2L, "a b b"), (3L, "a b c")).toDF("doc_id", "text")
    val top = TextOps.topTermsPerDoc(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> (r.getString(1), r.getLong(4)))
      .toMap
    // doc 1: x → tf=1·10⁴·3/1 = 30000 beats a → tf=2·10⁴·3/3 = 20000
    assert(top((1L, 1)) == ("x", 30000L))
    assert(top((1L, 2)) == ("a", 20000L))
    // doc 2: b → 2·10⁴·3/2 = 30000 beats a → 10000
    assert(top((2L, 1)) == ("b", 30000L))
    // doc 3: c (df=1) → 30000; b (df=2) → 15000; tie-free here but rank
    // ordering must be deterministic
    assert(top((3L, 1)) == ("c", 30000L))
    assert(top((3L, 2)) == ("b", 15000L))
    // the true-log scoring form agrees on relative order for fixed tf
    val s = Seq((1L, 1L, 3L), (1L, 3L, 3L)).toDF("tf", "df", "n")
      .select(TextOps.tfIdf(col("tf"), col("df"), col("n")).as("v"))
      .collect().map(_.getDouble(0))
    assert(s(0) > s(1), "lower df must score higher at equal tf")
  }

  test("vocabulary: occurrence vs document frequency; empty docs contribute nothing") {
    import SparkTestSession.spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val v = TextOps.vocabulary(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v == Map("a" -> (3L, 2L), "b" -> (1L, 1L), "c" -> (1L, 1L)))
  }

  test("unigramSurprisal: exact integer log2 per token, rare beats common, empty docs zero") {
    import SparkTestSession.spark.implicits._
    // N = 6 tokens: cnt(a)=4 → floor(log2(6 div 4 = 1)) = 0 bits;
    // cnt(b)=cnt(c)=1 → floor(log2(6)) = 2 bits
    val docs = Seq((0L, "a a a b"), (1L, "a c"), (2L, "")).toDF("doc_id", "text")
    val r = TextOps.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(0L) == ((4L, 50L)), s"doc 0: ${r(0L)} (sum_bits 2 over 4 tokens)")
    assert(r(1L) == ((2L, 100L)), s"doc 1: ${r(1L)} (rare-heavy doc scores higher)")
    assert(r(2L) == ((0L, 0L)), "token-less docs report zeros")
  }

  test("refLmSurprisal: stored reference LM, exact log2, OOV backoff, empty docs zero") {
    import SparkTestSession.spark.implicits._
    // reference LM: cnt(a)=4, cnt(b)=cnt(c)=1, N=6 ⇒ a = ⌊log2(6 div 4)⌋ = 0
    // bits, b = c = ⌊log2 6⌋ = 2 bits; OOV backoff ⌊log2 6⌋ + 1 = 3 bits
    val ref = Seq((0L, "a a a b"), (1L, "a c")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b c"), (2L, "a zz zz"), (3L, "")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_reflm_spec")
    try {
      val lmDir = tmp.resolve("lm").toString
      TextOps.writeUnigramLm(ref, "text", lmDir)
      val r = TextOps.refLmSurprisal(spark, docs, "doc_id", "text", lmDir)
        .collect()
        .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
        .toMap
      assert(r(1L) == ((3L, 0L, 133L)), s"doc 1: ${r(1L)} (400 div 3)")
      assert(r(2L) == ((3L, 2L, 200L)), s"doc 2: ${r(2L)} (0+3+3 bits, 2 OOV)")
      assert(r(3L) == ((0L, 0L, 0L)), "token-less docs report zeros")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("chunkDocs: exact chunk grid, overlap, short tail, boundary and empty docs") {
    import SparkTestSession.spark.implicits._
    // 10 tokens, size 4, stride 3 → chunks at 0,3,6 (6+4=10 reaches the
    // end — NO degenerate start 9), plus one-chunk and empty docs
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, "a b"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(docs, "doc_id", "text", chunkTokens = 4,
        strideTokens = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getString(4))).sortBy(t => (t._1, t._2))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 0, 0), (1L, 1, 3), (1L, 2, 6), (2L, 0, 0)),
      s"chunk grid: ${out.toSeq}")
    assert(out(1)._5 == "t3 t4 t5 t6", "stride-3 chunk overlaps its neighbor")
    assert(out(2)._4 == 4 && out(2)._5 == "t6 t7 t8 t9",
      "final chunk exactly reaches the end")
    assert(!out.exists(_._1 == 3L), "empty docs yield no chunks")
    // exact cover: every token index is inside at least one chunk
    val covered = out.filter(_._1 == 1L)
      .flatMap(t => t._3 until (t._3 + t._4)).toSet
    assert(covered == (0 until 10).toSet, "chunks cover the whole doc")
  }

  test("chunkDocs: trailing short chunk when the grid overshoots") {
    import SparkTestSession.spark.implicits._
    // 9 tokens, size 4, stride 3 → starts 0,3,6; last chunk is 3 tokens
    val docs = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(docs, "doc_id", "text", 4, 3)
      .orderBy(org.apache.spark.sql.functions.col("chunk_id"))
      .collect().map(r => (r.getInt(2), r.getInt(3)))
    assert(out.toSeq == Seq((0, 4), (3, 4), (6, 3)), s"got ${out.toSeq}")
  }

  test("bpePairStats: occurrence-weighted pair counts, within-word repeats, short words") {
    import SparkTestSession.spark.implicits._
    // "ab" ×3 (two docs), "aab" ×1, "x" ×1 (no pairs)
    val docs = Seq((1L, "ab ab aab"), (2L, "ab x")).toDF("doc_id", "text")
    val out = TextOps.bpePairStats(docs, "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // "ab" pair: 3 occurrences of word "ab" + 1 of "aab" = 4; in 2 words
    assert(out("ab") == ((4L, 2L)), s"ab: ${out.get("ab")}")
    // "aa" pair: only in "aab" ×1
    assert(out("aa") == ((1L, 1L)), s"aa: ${out.get("aa")}")
    assert(!out.contains("x"), "1-char words contribute no pairs")
  }

  test("bpePairStats: repeated pair inside one word counts occurrences but one word") {
    import SparkTestSession.spark.implicits._
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val out = TextOps.bpePairStats(docs, "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("aa" -> ((2L, 1L))),
      s"'aaa' has the 'aa' pair twice in ONE distinct word: $out")
  }

  test("applyTopBpeMerge: argmax pair fused greedy-leftmost, others untouched") {
    import SparkTestSession.spark.implicits._
    // pair counts: "ab" ×4 (3×"ab" + 1 in "aab"), "aa" ×1 → argmax "ab"
    val docs = Seq((1L, "ab ab aab"), (2L, "ab cd")).toDF("doc_id", "text")
    val out = TextOps.applyTopBpeMerge(docs, "text")
      .collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getString(3),
        r.getString(4), r.getInt(5))).toMap
    assert(out("ab") == (("ab", "a b", "ab", 1)), s"ab: ${out("ab")}")
    assert(out("aab") == (("ab", "a a b", "a ab", 1)), s"aab: ${out("aab")}")
    assert(out("cd") == (("ab", "c d", "c d", 0)), "non-matching word untouched")
  }

  test("applyTopBpeMerge: greedy leftmost non-overlap on repeated symbols") {
    import SparkTestSession.spark.implicits._
    // vocab {"aaa"}: only pair is "aa" (×2, 1 word); fusing in "a a a"
    // takes the LEFTMOST occurrence then continues after it → "aa a"
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val out = TextOps.applyTopBpeMerge(docs, "text").collect()
    assert(out.length == 1)
    val r = out(0)
    assert((r.getString(2), r.getString(3), r.getString(4), r.getInt(5)) ==
      (("aa", "a a a", "aa a", 1)), r.toString)
  }

  test("normalizeUrl: scheme/case/www/query/fragment/slash variants collapse to one key") {
    import SparkTestSession.spark.implicits._
    val urls = Seq(
      (1L, "https://example.com/a/b"),
      (2L, "HTTP://WWW.EXAMPLE.COM/A/B"),
      (3L, "https://example.com/a/b?utm_source=feed&id=9"),
      (4L, "https://www.example.com/a/b/#section-2"),
      (5L, "example.com/a/b///"),          // already scheme-less
      (6L, "https://example.com/other")).toDF("id", "url")
    val out = urls.select($"id", TextOps.normalizeUrl($"url").as("u"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 5L).map(out).toSet == Set("example.com/a/b"))
    assert(out(6L) == "example.com/other")
    // idempotent: a normalized URL is a fixed point
    val twice = urls.select(
      TextOps.normalizeUrl(TextOps.normalizeUrl($"url")).as("u"))
      .collect().map(_.getString(0)).toSet
    assert(twice == Set("example.com/a/b", "example.com/other"))
  }

  test("cdcChunks: partition law, shift resilience, short-doc and empty edges") {
    import SparkTestSession.spark.implicits._
    val suffix = (1 to 60).map(i => s"tok${i * 7 % 13}w$i").mkString(" ")
    val docs = Seq(
      (1L, s"aa bb cc $suffix"),          // 3-token prefix
      (2L, s"x1 x2 x3 x4 x5 x6 x7 $suffix"), // different 7-token prefix
      (3L, "only three tokens"),          // shorter than the window
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.cdcChunks(docs, "doc_id", "text",
      window = 4, modulus = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    // partition law per doc: chunks tile [0, n) contiguously, idx dense
    for ((id, n) <- Seq(1L -> 63L, 2L -> 67L, 3L -> 3L)) {
      val cs = out.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 0L && cs.last._4 == n)
      assert(cs.map(_._2).toSeq == cs.indices.toSeq)
      cs.sliding(2).foreach { case Array(a, b) => assert(a._4 == b._3)
        case _ => () }
      assert(cs.map(_._5).sum == n)
    }
    // shift resilience: despite different-length prefixes, the two docs
    // sharing the 60-token suffix share chunk fingerprints (boundaries
    // realign locally — fixed-size chunking at these offsets shares none)
    val h1 = out.filter(_._1 == 1L).map(_._6).toSet
    val h2 = out.filter(_._1 == 2L).map(_._6).toSet
    assert((h1 & h2).nonEmpty, "CDC chunks must realign after the prefix edit")
    // short doc: one whole-doc chunk; empty doc: no chunks
    assert(out.filter(_._1 == 3L).map(x => (x._3, x._4)).toSeq == Seq((0L, 3L)))
    assert(!out.exists(_._1 == 4L))
  }

  test("bpeTrain: three hand-computed merge rounds, multi-char anchoring correct") {
    import SparkTestSession.spark.implicits._
    // vocab: (aaab, 3), (ab, 2)
    // r1: "a a"=6 beats "a b"=5 → merge; "aaab" → (aa, a, b) — greedy
    //     leftmost must NOT chain into (aaa, b)
    // r2: "a b"=5 beats "aa a"=3 → merge
    // r3: only "aa ab"=3 remains — the multi-char round: a bare replace of
    //     pattern "a b" here would have corrupted symbols ("aa ab" contains
    //     it mid-symbol); the anchored form must not
    val docs = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ab")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextOps.bpeTrain(docs, "text", nMerges = 3)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "a a", 6L), (2, "a b", 5L), (3, "aa ab", 3L)))
  }

  /** md5-48-fold token id, independent of Dedup.md5Hash48: first 12 md5 hex
    * chars as a 48-bit int, mod the bucket count. */
  private def tokId(sym: String, buckets: Long = 1L << 20): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(sym.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(12)
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  test("bpeEncodeWithMerges: hand-computed fold — greedy leftmost, multi-char merge, empty doc") {
    import SparkTestSession.spark.implicits._
    // explicit merge table, no training: step1 fuses (a,a), step2 (aa,b)
    val merges = Seq((1, "a a"), (2, "aa b")).toDF("step", "pair")
    val docs = Seq(
      (1L, "aaa aab b"), // aaa → [aa, a] (greedy leftmost, NOT [a, aa]);
                         // aab → [aa, b] → [aab] (multi-char merge); b → [b]
      (2L, ""),          // empty doc → 0 words, 0 tokens, ''
      (3L, "a")          // single-char word, no merge applies
    ).toDF("doc_id", "text")
    val out = TextOps.bpeEncodeWithMerges(docs, "doc_id", "text", merges,
        nMerges = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) === ((3L, 4L,
      Seq("aa", "a", "aab", "b").map(tokId(_)).mkString(" "))))
    assert(out(2L) === ((0L, 0L, "")))
    assert(out(3L) === ((1L, 1L, tokId("a").toString)))
  }

  test("bpeEncodeWithMerges (native) ≡ bpeEncodeColumnsHof (executable spec) on edge-heavy docs") {
    import SparkTestSession.spark.implicits._
    val merges = Seq((1, "a a"), (2, "aa b")).toDF("step", "pair")
    val docs = Seq(
      (1L, "aaa aab b"),
      (2L, ""),                       // empty doc
      (3L, "a"),
      (4L, "héllo wörld émojis 🎶🎶"), // unicode incl. surrogate pairs
      (5L, "  padded   runs  "),      // whitespace runs through tokens()
      (6L, "aaaaaaab aab aaab")
    ).toDF("doc_id", "text")
    def run(f: (org.apache.spark.sql.DataFrame, String, String,
                org.apache.spark.sql.DataFrame, Int,
                Long) => org.apache.spark.sql.DataFrame) =
      f(docs, "doc_id", "text", merges, 2, 1L << 20)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
    val native = run(TextOps.bpeEncodeWithMerges)
    val hof = run(TextOps.bpeEncodeColumnsHof)
    assert(native === hof)
  }

  test("bpeDecode (native) ≡ bpeDecodeColumnsHof (executable spec) incl. empty and unknown ids") {
    import SparkTestSession.spark.implicits._
    val vocab = Seq((7L, "ab"), (9L, "c")).toDF("token_id", "sym")
    val enc = Seq(
      (1L, "7 9 7"),
      (2L, ""),          // empty id string → ""
      (3L, "7 12345 9")  // unknown id skipped, not nulled
    ).toDF("doc_id", "token_ids")
    def run(f: (org.apache.spark.sql.DataFrame, String,
                org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) =
      f(enc, "token_ids", vocab).collect()
        .map(r => r.getLong(0) -> r.getAs[String]("decoded")).toMap
    val native = run(TextOps.bpeDecode)
    val hof = run(TextOps.bpeDecodeColumnsHof)
    assert(native === hof)
    assert(native(1L) == "abcab" && native(2L) == "" && native(3L) == "abc")
  }

  test("bpeEncode ≡ store → load → bpeEncodeWithMerges (the tokenizer-artifact law)") {
    import SparkTestSession.spark.implicits._
    val docs = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ab")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val inline = TextOps.bpeEncode(docs, "doc_id", "text", nMerges = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_spec")
    try {
      val path = tmp.resolve("merges").toString
      TextOps.writeBpeMerges(docs, "text", nMerges = 3, path)
      val stored = spark.read.parquet(path)
      assert(stored.count() == 3 &&
        stored.columns.toSet == Set("step", "pair", "n_total"))
      val viaStore = TextOps.bpeEncodeWithMerges(docs, "doc_id", "text",
          stored, nMerges = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
      assert(viaStore === inline)
      // sanity on the hand-traced vocabulary: aaab → [aa, ab] after the
      // three merges (a a → aa; a b → ab; aa ab → aaab)
      assert(inline.find(_._1 == 0L).get._3 === 1L, "aaab is one token")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("bpeEncode degenerate corpus: fewer mergeable pairs than nMerges is a no-op, not NULL") {
    import SparkTestSession.spark.implicits._
    // vocabulary {a, b}: single-char words, ZERO mergeable pairs — every
    // merge round's scalar is empty; the fold must pass through unchanged
    // (round-10 advice: the unguarded form nulled every token_ids)
    val docs = Seq((1L, "a b"), (2L, "b")).toDF("doc_id", "text")
    val out = TextOps.bpeEncode(docs, "doc_id", "text", nMerges = 6)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) === ((2L, 2L, s"${tokId("a")} ${tokId("b")}")))
    assert(out(2L) === ((1L, 1L, tokId("b").toString)))
  }

  test("bpeVocab: alphabet ∪ merge outputs, hashing-trick ids, min-symbol collision rule") {
    import SparkTestSession.spark.implicits._
    val merges = Seq((1, "a a"), (2, "aa b")).toDF("step", "pair")
    val docs = Seq((1L, "aaa aab b"), (2L, ""), (3L, "cc")).toDF("doc_id", "text")
    val out = TextOps.bpeVocab(docs, "text", merges)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // chars {a, b, c} ∪ merge outputs {aa, aab}; no collisions at 2^20
    val expect = Seq("a", "b", "c", "aa", "aab").map(s => (tokId(s), s))
    assert(out.sorted === expect.sorted)
  }

  test("bpeDecode: stored-artifact round-trip — decoded == whitespace-stripped text; empty doc → ''") {
    import SparkTestSession.spark.implicits._
    val docs = Seq(
      (1L, "aaa aab b"),   // multi-symbol words incl. a multi-char merge
      (2L, ""),            // empty doc: '' ids decode to ''
      (3L, "  b   aa  ")   // whitespace noise: target strips it
    ).toDF("doc_id", "text")
    val merges = Seq((1, "a a"), (2, "aa b")).toDF("step", "pair")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_vocab_spec")
    try {
      val vpath = tmp.resolve("vocab").toString
      TextOps.writeBpeVocab(docs, "text", merges, vpath)
      val enc = TextOps.bpeEncodeWithMerges(docs, "doc_id", "text", merges,
        nMerges = 2)
      val dec = TextOps.bpeDecode(enc, "token_ids",
        SparkTestSession.spark.read.parquet(vpath))
        .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
      assert(dec(1L) === "aaaaabb")
      assert(dec(2L) === "")
      assert(dec(3L) === "baa")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("charEntropy: hand-checked integer centibits; uniform/constant extremes") {
    import SparkTestSession.spark.implicits._
    val docs = Seq(
      (1L, "aaaa"), // one class: bits = len(bin(4 div 4))-1 = 0 → 0 cb
      (2L, "abab"), // two classes cnt 2: bits = len(bin(2))-1 = 1 → 100 cb
      (3L, "abcd"), // four classes cnt 1: bits = len(bin(4))-1 = 2 → 200 cb
      (4L, "aab"),  // a: bits(3 div 2 = 1) = 0; b: bits(3) = 1 → 100 div 3 = 33
      (5L, "")).toDF("doc_id", "text")
    val out = TextOps.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (4L, 0L), 2L -> (4L, 100L), 3L -> (4L, 200L),
      4L -> (3L, 33L), 5L -> (0L, 0L)))
  }

  test("charEntropy: native expression ≡ explode twin (corpus + surrogate pairs + degenerate docs)") {
    import SparkTestSession.spark.implicits._
    // 𝄞 (U+1D11E) is a surrogate pair: one CODE POINT, two UTF-16 units —
    // both forms must count it once and class it as itself.
    val edge = Seq((9001L, "𝄞𝄞a𝄞"), (9002L, "𝄞"), (9003L, "  \t "),
      (9004L, "aA"), (9005L, "")).toDF("doc_id", "text")
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").unionByName(edge)
    val native = TextOps.charEntropy(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val explode = TextOps.charEntropyExplode(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(native == explode)
    // hand check: 𝄞𝄞a𝄞 = 4 code points {𝄞:3, a:1} → 3·⌊log₂1⌋ + 1·⌊log₂4⌋
    //             = 2 → 200 div 4 = 50 cb
    assert(native.contains((9001L, 4L, 50L)))
    assert(native.contains((9002L, 1L, 0L)))
  }

  test("canonicalize: control/space runs collapse, ends trim, idempotent") {
    import SparkTestSession.spark.implicits._
    val docs = Seq(
      (1L, "a\t\tb\n  c"), (2L, "  x y  "), (3L, "clean text"),
      (4L, ""), (5L, " \t\r\n ")).toDF("doc_id", "text")
    val out = docs.select($"doc_id", TextOps.canonicalize($"text").as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a b c", 2L -> "x y", 3L -> "clean text",
      4L -> "", 5L -> ""))
    // idempotent: canonical text is a fixed point
    val twice = docs.select($"doc_id",
      TextOps.canonicalize(TextOps.canonicalize($"text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice == out)
  }

  test("classifierScore: known weights — margin is an exact bag-of-words dot") {
    import SparkTestSession.spark.implicits._
    // dim 1 collapses every token to bucket 0: margin = w0 · n_tokens
    val docs = Seq((1L, "a b c"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val out = TextOps.classifierScore(docs, "doc_id", "text", Seq(-7L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(out(1L) == ((3L, -21L, -700L, 0)), s"doc 1: ${out(1L)}")
    // empty / whitespace-only docs are gate-neutral: margin 0, kept
    assert(out(2L) == ((0L, 0L, 0L, 1)))
    assert(out(3L) == ((0L, 0L, 0L, 1)))
  }

  test("classifierScore: margin_cb is FLOOR division on the corpus (both margin signs)") {
    val docs = SparkTestSession.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = TextOps.classifierScore(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(rows.exists(_._2 > 0) && rows.exists(_._2 < 0),
      "corpus should exercise both margin signs")
    rows.foreach { case (n, margin, cb, kept) =>
      val expected = if (n == 0) 0L else Math.floorDiv(margin * 100L, n)
      assert(cb == expected, s"margin_cb: n=$n margin=$margin → $cb, want $expected")
      assert(kept == (if (cb >= 0) 1 else 0))
    }
  }

  test("bigramSurprisal: hand-checked counts and exact integer log2") {
    val spark2 = graft.SparkTestSession.spark
    import spark2.implicits._
    // corpus: "a b a b" ⇒ bigrams ab, ba, ab → c(ab)=2, c(ba)=1,
    // heads: c(a·)=2, c(b·)=1; "x" has no bigram; "" empty
    val docs = Seq((1L, "a b a b"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val rows = graft.operators.TextOps.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // bigrams ab×2 ba×1; heads c(a·)=2 c(b·)=1 ⇒ every transition is
    // maximally predictable: bits(ab)=log2(2/2)=0, bits(ba)=log2(1/1)=0
    assert(rows(1L) == ((3L, 0L)))
    assert(rows(2L) == ((0L, 0L)), "single-token doc has no bigram")
    assert(rows(3L) == ((0L, 0L)), "empty doc has no bigram")
    // rarity-skewed corpus: tt×7 tr×2, head c(t·)=9 ⇒ bits(tt)=0,
    // bits(tr)=floor(log2(9 div 2))=2; doc1 avg=200 div 8=25, doc2=200
    val skew = Seq((1L, "t t t t t t t t r"), (2L, "t r")).toDF("doc_id", "text")
    val s2 = graft.operators.TextOps.bigramSurprisal(skew, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(s2 == Map(1L -> ((8L, 25L)), 2L -> ((1L, 200L))))
  }
}
