package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Embeddings, Similarity}

/** Embedding-transform invariants: whitening moments (z has mean ~0 /
  * var ~1), the JL sketch's geometry preservation + exact determinism,
  * the semantic screen ≡ its brute-force definition, and hard negatives'
  * label/maximality contract. */
class EmbeddingsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("standardize: per-dimension z-scores have mean ~0 and variance ~1") {
    val z = Embeddings.standardize(emb, "vec_id", "embedding")
    val m = z.groupBy("pos")
      .agg(avg("z").as("mu"), avg(col("z") * col("z")).as("m2"))
      .collect()
    assert(m.length == 64)
    m.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-3, s"mean ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-2, s"var ${r.getDouble(2)}")
    }
  }

  test("standardize + dimStats: exact and partition-invariant") {
    def dump(df: org.apache.spark.sql.DataFrame) =
      Embeddings.dimStats(df, "embedding").collect()
        .map(r => (r.getInt(0), r.getLong(1),
          r.getDecimal(2).toString, r.getDecimal(3).toString)).toSet
    assert(dump(emb) == dump(emb.repartition(13)),
      "integer moments must not depend on partitioning")
  }

  test("signed projection: deterministic, exact, and geometry-preserving") {
    val p = Embeddings.signedProjection(emb, "vec_id", "embedding")
    val got = p.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val re = Embeddings.signedProjection(emb.repartition(7), "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == re, "projection must be bit-stable under repartitioning")
    // hand-check one cell: vec 0, j 0
    val v0 = emb.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0)
    val signs = Embeddings.signMatrix(16, 64, 42L)
    val expect = v0.zip(signs(0)).map { case (v, s) =>
      math.floor(v.toDouble * 1000000 + 0.5).toLong * s
    }.sum
    assert(got((0L, 0)) == expect, "projection cell must match the definition")
    // JL property: projected cosine approximates true cosine. Distortion
    // scales as 1/√outDim, so assert at outDim = 64 (a 16-dim sketch's
    // per-pair noise σ ≈ 0.25 — legitimately too coarse for a tight corr).
    val vecs = emb.where(col("vec_id") < 50).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).map(_._2)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    def corrAt(outDim: Int): Double = {
      val g = Embeddings.signedProjection(
        emb.where(col("vec_id") < 50), "vec_id", "embedding", outDim = outDim)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val projs = (0 until 50).map(i =>
        (0 until outDim).map(j => g((i.toLong, j)).toDouble).toArray).toArray
      val pairs = for (i <- 0 until 50; j <- i + 1 until 50 by 7) yield
        (cos(vecs(i), vecs(j)), cos(projs(i), projs(j)))
      val (xs, ys) = (pairs.map(_._1), pairs.map(_._2))
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum *
          ys.map(y => (y - my) * (y - my)).sum)
    }
    val (c16, c256) = (corrAt(16), corrAt(256))
    assert(c256 > 0.8, s"JL sketch should preserve geometry at 256, corr=$c256")
    assert(c256 > c16, s"fidelity must grow with outDim ($c16 vs $c256)")
  }

  test("semantic screen ≡ brute-force definition; eval side never flagged") {
    val evalSet = emb.where(col("vec_id") % 25 === 0)
    val corpus = emb.where(col("vec_id") % 25 =!= 0)
    val got = Similarity.semanticScreen(corpus, evalSet, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall { case (c, e) => c % 25 != 0 && e % 25 == 0 })
    // brute-force recompute via the exact top-k machinery is overkill —
    // directly: every corpus×eval pair at ≥ threshold, nothing else
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val expect = (for {
      c <- vecs.keys if c % 25 != 0
      e <- vecs.keys if e % 25 == 0
      if BigDecimal(cos(vecs(c), vecs(e)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal("0.3")
    } yield (c, e)).toSet
    assert(got == expect, s"screen must equal its definition (${got.size} vs ${expect.size})")
  }

  test("hard negatives: label differs and cosine is the within-cell max") {
    val cents = Similarity.trainIvfCentroids(emb, "embedding", 16, 42L)
    val hn = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      centroids = cents).collect()
    assert(hn.nonEmpty)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    hn.foreach { r =>
      assert(r.getInt(1) == labels(r.getLong(0)))
      assert(r.getInt(3) == labels(r.getLong(2)))
      assert(r.getInt(1) != r.getInt(3), "negative must carry a different label")
    }
    // at most one row per anchor
    assert(hn.map(_.getLong(0)).distinct.length == hn.length)
  }
}
