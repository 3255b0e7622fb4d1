package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.apache.spark.sql.functions._
import graft.engine.RefQueries
import graft.functions.{NGramShingles, SimHash64, VecKernel}
import graft.operators.Dedup
import org.apache.spark.sql.catalyst.util.ArrayData

/** Property tests (SURVEY §5.3): engine results vs in-memory Scala reference
  * computations, invariance under physical re-partitioning, and kernel-level
  * algebraic properties. Spark-backed properties use small generated inputs
  * and few cases; kernel properties run the full default 100. */
object GraftProps extends Properties("graft") {

  private lazy val spark = SparkTestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val ratingGen: Gen[List[(Int, Double)]] =
    Gen.listOfN(60, Gen.zip(Gen.choose(1, 8), Gen.choose(0.0, 5.0)))

  property("rankByCount ≡ in-memory groupBy-count reference") = forAll(ratingGen) { rows =>
    import spark.implicits._
    val fact = rows.toDF("movieId", "rating")
    val dim = (1 to 8).map(i => (i, s"title$i")).toDF("dimId", "title")
    val got = RefQueries.rankByCount(fact, dim, "movieId", "dimId", "title")
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    val expected = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    got == expected
  }

  // Fact keys 0..10 against a dimension that lacks 0, 9 and 10, repeats key
  // 7 with its own title and key 8 with a second title, and has a null
  // title; half-step ratings make averages tie the HAVING threshold.
  private val starGen: Gen[List[(Int, Double)]] =
    Gen.listOfN(60, Gen.zip(Gen.choose(0, 10), Gen.choose(1, 10).map(_ * 0.5)))

  property("rankByCount/ratingByAvg ≡ join-first reference (missing, duplicate keys, null title)") =
    forAll(starGen) { rows =>
      import spark.implicits._
      val fact = rows.toDF("movieId", "rating")
      val dim = (Seq(1 -> Some("title1"), 2 -> None) ++
        (3 to 8).map(i => i -> Some(s"title$i")) ++
        Seq(7 -> Some("title7"), 8 -> Some("other8"))).toDF("dimId", "title")
      // Join-first reference: every fact row probes the dimension, then
      // (key, title) groups count and average the joined rows.
      val joinFirst = fact.join(broadcast(dim), fact("movieId") === dim("dimId"))
        .groupBy(dim("dimId").as("key"), dim("title").as("title"))
        .agg(count(lit(1)).as("n"), avg(fact("rating")).as("avg_raw"))
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val rank = RefQueries.rankByCount(fact, dim, "movieId", "dimId", "title")
      val rating = RefQueries.ratingByAvg(fact, dim, "movieId", "dimId", "title",
        measure = "rating", minCount = 3L, minAvg = 2.5)
      val rankRef = joinFirst.select(col("key"), col("title"), col("n"))
      val ratingRef = joinFirst.where(col("n") > 3L && col("avg_raw") > 2.5)
        .select(col("key"), col("title"), round(col("avg_raw"), 4), col("n"))
      (rowsOf(rank) == rowsOf(rankRef)) :| "rankByCount" &&
        (rowsOf(rating) == rowsOf(ratingRef)) :| "ratingByAvg"
    }

  property("aggregation invariant under repartition(7)") = forAll(ratingGen) { rows =>
    import spark.implicits._
    val df = rows.toDF("k", "v")
    def agg(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("k").agg(count(lit(1)).as("c"), round(sum("v"), 4).as("s"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    agg(df) == agg(df.repartition(7))
  }

  private val tokenGen: Gen[List[String]] =
    Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "dd", "e", "xyz")))

  property("native shingles ≡ HOF shingles for arbitrary token lists") = forAll(tokenGen) { toks =>
    import spark.implicits._
    val text = toks.mkString(" ")
    val r = Seq(text).toDF("text").select(
      Dedup.shingles(col("text"), 3).as("a"),
      Dedup.shinglesHof(col("text"), 3).as("b")).collect()(0)
    r.getSeq[String](0).toSet == r.getSeq[String](1).toSet
  }

  private val hashesGen: Gen[List[Long]] = Gen.listOf(Gen.long)

  property("simhash is input-order invariant (multiset property)") = forAll(hashesGen) { hs =>
    val a = SimHash64.compute(ArrayData.toArrayData(hs.toArray))
    val b = SimHash64.compute(ArrayData.toArrayData(hs.reverse.toArray))
    a == b
  }

  property("simhash hamming to self is 0; differs only within 64 bits") = forAll(hashesGen) { hs =>
    val s = SimHash64.compute(ArrayData.toArrayData(hs.toArray))
    java.lang.Long.bitCount(s ^ s) == 0
  }

  private val labeledVecGen: Gen[List[(Int, List[Float])]] = for {
    n <- Gen.choose(1, 20)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 3),
      Gen.listOfN(4, Gen.choose(-10.0f, 10.0f))))
  } yield rows

  property("groupCentroids ≡ in-memory per-label elementwise means") =
    forAll(labeledVecGen) { rows =>
      import spark.implicits._
      val df = rows.map { case (l, v) => (l, v.toArray) }.toDF("label", "embedding")
      val got = graft.operators.Similarity.groupCentroids(df, "label", "embedding")
        .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3)))).toMap
      val expected = rows.groupBy(_._1).flatMap { case (l, vs) =>
        (0 until 4).map { pos =>
          val col = vs.map(_._2(pos).toDouble)
          (l, pos) -> (vs.size.toLong, col.sum / col.size)
        }
      }
      got.keySet == expected.keySet && expected.forall { case (k, (n, m)) =>
        got(k)._1 == n && math.abs(got(k)._2 - m) < 1e-9
      }
    }

  property("native md5_hash48 ≡ hex/conv twin for arbitrary strings") =
    forAll(Gen.listOfN(8, Gen.asciiPrintableStr)) { texts =>
      import spark.implicits._
      val rows = (texts :+ "" :+ "äöü €→ 中文").toDF("t")
        .select(Dedup.md5Hash48(col("t")).as("native"),
          Dedup.md5Hash48Hex(col("t")).as("hex"))
        .collect()
      rows.forall(r => r.getLong(0) == r.getLong(1) && r.getLong(0) >= 0L)
    }

  private val vecGen: Gen[(List[Double], List[Double])] = for {
    n <- Gen.choose(0, 32)
    a <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
    b <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield (a, b)

  property("VecKernel.dot ≡ sequential Scala fold; symmetric") = forAll(vecGen) { case (a, b) =>
    val ad = ArrayData.toArrayData(a.toArray)
    val bd = ArrayData.toArrayData(b.toArray)
    val d = VecKernel.dot(ad, bd, aFloat = false, bFloat = false)
    val ref = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    d == ref && d == VecKernel.dot(bd, ad, aFloat = false, bFloat = false)
  }

  property("VecKernel.normSq ≥ 0 and ≡ dot(a,a)") = forAll(vecGen) { case (a, _) =>
    val ad = ArrayData.toArrayData(a.toArray)
    val n = VecKernel.normSq(ad, aFloat = false)
    n >= 0.0 && n == VecKernel.dot(ad, ad, aFloat = false, bFloat = false)
  }

  // (left rows, right rows) over a tiny key/time domain so as-of matches and
  // same-timestamp collisions actually occur
  private val asofGen: Gen[(List[(Long, Int, Int)], List[(Int, Int, Double)])] = for {
    nl <- Gen.choose(0, 12)
    nr <- Gen.choose(0, 12)
    l <- Gen.listOfN(nl, Gen.zip(Gen.choose(1, 4), Gen.choose(0, 20)))
    r <- Gen.listOfN(nr, Gen.zip(Gen.choose(1, 4), Gen.choose(0, 20), Gen.choose(0.0, 9.0)))
  } yield (l.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }, r)

  property("asofJoin ≡ in-memory latest-at-or-before reference") = forAll(asofGen) { case (ls, rs) =>
    import spark.implicits._
    val l = ls.toDF("id", "k", "t")
    val r = rs.toDF("k", "t", "v")
    val got = graft.operators.Temporal.asofJoin(l, r, Seq("k"), "t", "t", Seq("v"))
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(3)) None else Some(x.getInt(3)))).toMap
    val expected = ls.map { case (id, k, t) =>
      val cand = rs.filter(rr => rr._1 == k && rr._2 <= t)
      // reference tie-break mirrors the operator: max (t', payload) pair
      id -> (if (cand.isEmpty) None
             else Some(cand.maxBy(c => (c._2, c._3))._2))
    }.toMap
    got == expected
  }

  property("timeBandJoin ≡ in-memory band-filter reference") = forAll(asofGen) { case (ls, rs) =>
    import spark.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val l = ls.map { case (id, k, t) => (id, k, ts(t)) }.toDF("id", "k", "t")
    val r = rs.map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "t", "v")
    val got = graft.operators.Temporal.timeBandJoin(
      l, r, Seq("k"), "t", "t", lookbackSec = 5L, lookaheadSec = 3L)
      .collect().map(x => (x.getLong(0), x.getTimestamp(4).getTime, x.getDouble(5)))
      .toList.sorted
    val expected = (for {
      (id, k, t) <- ls
      (rk, rt, rv) <- rs
      if rk == k && rt >= t - 5 && rt <= t + 3
    } yield (id, ts(rt).getTime, rv)).sorted
    got == expected
  }

  // The quality gate's engine-stability claim: Spark's exact `percentile`
  // over integers is EXACTLY lo + (hi-lo)*frac at pos = q*(n-1), computed
  // in doubles — the same definition DuckDB's quantile_cont uses. Bit-equal
  // on arbitrary integer inputs, not just the corpus the oracle happens to
  // compare (quality bp values are ≤ 1e5, but test a wider range).
  private val bpGen: Gen[List[Long]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 100000L)))

  property("percentile ≡ exact linear-interpolation reference (quality-gate threshold)") =
    forAll(bpGen, Gen.oneOf(0.25, 0.5, 0.75)) { (xs, q) =>
      import spark.implicits._
      val got = xs.toDF("bp").agg(percentile(col("bp"), lit(q)))
        .collect()(0).getDouble(0)
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val expected =
        if (lo + 1 >= s.length) s(lo).toDouble
        else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
      got == expected // bit-exact, no tolerance
    }

  // A small ratings file: lines of every kind (plain, out-of-grammar, blank,
  // the header text) with a random LF, CR or CRLF after each, an optional
  // UTF-8 BOM and an optional last terminator; and a split size from 1 byte
  // up. Blocks then start and end inside lines, BOMs and CRLFs.
  private val ratingsLineGen: Gen[String] = Gen.frequency(
    4 -> Gen.zip(Gen.choose(0, 999), Gen.choose(0, 99), Gen.oneOf("4.5", "3", "0.25", "10.125"),
      Gen.choose(0L, 9999999999L)).map { case (u, m, r, t) => s"$u,$m,$r,$t" },
    2 -> Gen.oneOf("1,2,,3", "\"3\",5,4.0,9", "1,2,4.5", "1,2,4.5,7,8", "-1,2,4.5,7", "1,2,1e3,7",
      "x", "1,2,4.5,99999999999999999999"),
    2 -> Gen.oneOf("", " ", "\t"),
    1 -> Gen.const("userId,movieId,rating,timestamp"))

  private val ratingsFileGen: Gen[(String, Int)] = for {
    n <- Gen.choose(0, 8)
    lines <- Gen.listOfN(n, ratingsLineGen)
    eols <- Gen.listOfN(n, Gen.oneOf("\n", "\r", "\r\n"))
    bom <- Gen.oneOf("", "\uFEFF")
    trailing <- Gen.oneOf(true, false)
    split <- Gen.frequency(3 -> Gen.choose(1, 4), 2 -> Gen.choose(5, 40), 1 -> Gen.choose(41, 400))
  } yield {
    val ended = lines.zip(eols).map { case (l, e) => l + e }
    val body = if (trailing || lines.isEmpty) ended.mkString else ended.init.mkString + lines.last
    (bom + body, split)
  }

  property("ratingsCsv ≡ the CSV reader at any split size (LF/CR/CRLF, BOM, blank, odd lines)") =
    forAll(ratingsFileGen) { case (text, split) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_split_props")
      val path = dir.resolve("r.csv")
      java.nio.file.Files.write(path, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val confs = Seq("spark.sql.files.maxPartitionBytes" -> split.toString,
        "spark.sql.files.openCostInBytes" -> split.toString) // from 4 MB: below the split, splits shrink to size/cores
      val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
        val got = rows(graft.engine.Sources.ratingsCsv(spark, path.toString))
        val expected = rows(spark.read.option("header", "true").option("escape", "\"")
          .schema(graft.engine.Sources.ratingsSchema).csv(path.toString))
        (got == expected) :| s"split $split bytes, file ${text.flatMap {
          case '\n' => "\\n"; case '\r' => "\\r"; case '\uFEFF' => "<BOM>"; case c => c.toString }}"
      } finally {
        before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        java.nio.file.Files.delete(path)
        java.nio.file.Files.delete(dir)
      }
    }
}
