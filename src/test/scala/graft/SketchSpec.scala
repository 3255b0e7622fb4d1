package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Sketch

/** Count-min sketch guarantees: estimates NEVER undercount (the one-sided
  * property that makes CMS safe for threshold screens), a wide sketch in the
  * no-collision regime is exact, partial sketches merge cell-wise to the
  * global sketch bit-for-bit, and absent keys probe to 0 when their cells
  * are empty. */
class SketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def toks = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
  }

  test("estimate >= exact for every corpus token (one-sided error)") {
    val t = toks.localCheckpoint()
    val exact = t.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
    val sk = Sketch.cmsBuild(t, "token", depth = 4, width = 128)
    val under = Sketch.cmsEstimate(sk, exact, "token", depth = 4, width = 128)
      .where(col("cms_est") < col("exact_n")).count()
    assert(under == 0, "CMS must never undercount a member key")
  }

  test("wide sketch (w >> |keys|) is exact on a small vocabulary") {
    import spark.implicits._
    val items = Seq("a", "a", "a", "b", "b", "c").toDF("token")
    val exact = items.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
    val sk = Sketch.cmsBuild(items, "token", depth = 4, width = 1 << 16)
    val rows = Sketch.cmsEstimate(sk, exact, "token", depth = 4, width = 1 << 16)
      .collect()
    assert(rows.length == 3)
    rows.foreach(r => assert(r.getAs[Long]("cms_est") == r.getAs[Long]("exact_n"),
      s"collision-free estimate must be exact: $r"))
  }

  test("partial sketches merge cell-wise to the direct global sketch") {
    val t = toks.localCheckpoint()
    val parts = Seq(
      t.where(pmod(crc32(col("token")), lit(3)) === 0),
      t.where(pmod(crc32(col("token")), lit(3)) === 1),
      t.where(pmod(crc32(col("token")), lit(3)) === 2))
    val merged = Sketch.cmsMerge(parts.map(Sketch.cmsBuild(_, "token", 4, 128)))
    val direct = Sketch.cmsBuild(t, "token", 4, 128)
    assert(merged.exceptAll(direct).count() == 0 &&
      direct.exceptAll(merged).count() == 0,
      "merge of split-built sketches must equal the one-pass sketch exactly")
  }

  test("streaming maintenance: per-micro-batch sketches merge to the one-pass sketch") {
    // the 100 TB maintenance story: every arriving batch sketches
    // independently (foreachBatch), the standing index is the cell-wise
    // merge — proven here through the real micro-batch runtime with
    // forced multi-batch slicing
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("cms_stream").toFile.getAbsolutePath
    try {
      val t = toks.localCheckpoint()
      t.where(crc32(col("token")) % 3 === 0).coalesce(1).write.mode("append").parquet(dir)
      t.where(crc32(col("token")) % 3 === 1).coalesce(1).write.mode("append").parquet(dir)
      t.where(crc32(col("token")) % 3 === 2).coalesce(1).write.mode("append").parquet(dir)
      val schema = StructType(Seq(StructField("token", StringType)))
      var parts = Vector.empty[org.apache.spark.sql.DataFrame]
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          parts = parts :+ Sketch.cmsBuild(df, "token", 4, 64).localCheckpoint()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(parts.size >= 2, s"need multiple micro-batches, got ${parts.size}")
      val merged = Sketch.cmsMerge(parts)
      val direct = Sketch.cmsBuild(spark.read.parquet(dir), "token", 4, 64)
      assert(merged.exceptAll(direct).count() == 0 &&
        direct.exceptAll(merged).count() == 0,
        "streamed partial sketches must merge to the one-pass corpus sketch exactly")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("absent key with empty cells estimates 0; estimate preserves probe columns") {
    import spark.implicits._
    val items = Seq("x", "y").toDF("token")
    val sk = Sketch.cmsBuild(items, "token", depth = 4, width = 1 << 16)
    val probes = Seq(("zz-not-present", 7L)).toDF("token", "tag")
    val out = Sketch.cmsEstimate(sk, probes, "token", depth = 4, width = 1 << 16)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("cms_est") == 0L, "empty cells floor the min at 0")
    assert(out(0).getAs[Long]("tag") == 7L, "extra probe columns ride along")
  }

  test("hdrBucket/hdrLowerBound: hand vectors, monotonicity, relative-error bound") {
    import spark.implicits._
    val b = 5
    // small values exact; 2^b is the first coarse bucket; lower bound of
    // any value's bucket is within factor (1 + 2^-b)
    val vals = Seq(1L, 31L, 32L, 33L, 63L, 64L, 100L, 1000L, 123456L,
      (1L << 40) + 12345L)
    val rows = vals.toDF("v")
      .select(col("v"), Sketch.hdrBucket(col("v"), b).as("bucket"))
      .select(col("v"), col("bucket"),
        Sketch.hdrLowerBound(col("bucket"), b).as("lo"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (v, _, lo) =>
      assert(lo <= v, s"lower bound $lo above member $v")
      assert(v.toDouble < lo.toDouble * (1.0 + math.pow(2.0, -b)) + 1,
        s"relative error too large: v=$v lo=$lo")
    }
    // exact below 2^b
    assert(rows.filter(_._1 < 32).forall(r => r._2 == r._1 && r._3 == r._1))
    // bucket ids monotone in v
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
  }

  test("hdrBucket: integer-exact at full BIGINT range — no double-division bucket flips (round-14 advice)") {
    import spark.implicits._
    val b = 5
    // v = 2^62 - 1: the true mantissa is v >> 56 = 63, but the double
    // quotient v / 2^56 = 64 - 2^-56 rounds to exactly 64.0 (double spacing
    // near 64 is 2^-46), so the old `/`-then-cast arithmetic flipped the
    // bucket up by one and diverged from the oracle's integer `//`.
    // Reference model: pure JVM integer shifts.
    def model(v: Long): Long = {
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
      if (msb < b) v else (msb - b).toLong * (1L << b) + (v >> (msb - b))
    }
    val vals = Seq((1L << 62) - 1L, (1L << 62), Long.MaxValue,
      (1L << 53) + 1L, (1L << 53) - 1L, (1L << 40) + 12345L, 123456L)
    val got = vals.toDF("v")
      .select(col("v"), Sketch.hdrBucket(col("v"), b).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vals.foreach { v =>
      assert(got(v) == model(v), s"v=$v: got ${got(v)}, integer model ${model(v)}")
    }
    // the lower bound reconstruction is likewise shift-exact: it must
    // bound every member from below even past the 2^53 double mantissa
    val lo = vals.toDF("v")
      .select(col("v"),
        Sketch.hdrLowerBound(Sketch.hdrBucket(col("v"), b), b).as("lo"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vals.foreach { v =>
      assert(lo(v) <= v && lo(v) > v - (v >> (b - 1)),
        s"v=$v: lower bound ${lo(v)} out of band")
    }
  }

  test("hdrHistogram merge law: summed partial sketches ≡ the global sketch; quantiles within 2^-b of exact") {
    import spark.implicits._
    val b = 5
    val data = (1 to 5000).map(i => (s"g${i % 3}", (i.toLong * i) % 100000L + 1L))
      .toDF("g", "v")
    val global = Sketch.hdrHistogram(data, "v", b)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mergedFromPartials = Sketch.hdrHistogram(data, "v", b, Seq("g"))
      .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mergedFromPartials == global, "bucket-wise sum of partials must equal the global sketch")
    // p50 estimate within relative 2^-b of the exact median
    val est = Sketch.hdrQuantiles(
        Sketch.hdrHistogram(data, "v", b), b, Seq(500))
      .collect().head.getAs[Long]("estimate")
    val exact = data.stat.approxQuantile("v", Array(0.5), 0.0).head
    assert(est <= exact + 1, s"lower bound $est above exact median $exact")
    assert(exact <= est * (1.0 + math.pow(2.0, -b)) * 1.01,
      s"estimate $est too far below exact $exact")
  }

  test("kmv: sketch is the k smallest distinct hashes; < k distinct → exact estimate") {
    import spark.implicits._
    val items = Seq("a", "a", "b", "c", "c", "c", "d").map(("g", _)).toDF("g", "w")
    val sk = Sketch.kmvSketches(items, "g", "w", k = 64)
    val row = Sketch.kmvDistinctEstimate(sk).collect().head
    val kmv = row.getAs[scala.collection.Seq[Long]]("kmv").toVector
    assert(kmv.size == 4 && kmv == kmv.sorted && kmv.distinct == kmv,
      "buffer must hold sorted distinct hashes")
    assert(row.getAs[Long]("kmv_est") == 4L, "under-full sketch must be exact")
  }

  test("kmv: split-built sketches merge to the whole-corpus sketch (union rule)") {
    val t = toks.localCheckpoint()
    val whole = Sketch.kmvSketches(t.withColumn("g", lit("all")), "g", "token", k = 64)
      .collect().head.getAs[scala.collection.Seq[Long]]("kmv").toVector
    val parts = (0 until 3).map { i =>
      Sketch.kmvSketches(
        t.where(pmod(crc32(col("token")), lit(3)) === i)
          .withColumn("g", lit("all")), "g", "token", k = 64)
        .collect().head.getAs[scala.collection.Seq[Long]]("kmv").toVector
    }
    val merged = parts.flatten.distinct.sorted.take(64)
    assert(merged == whole,
      "k smallest of the per-split sketch union must equal the one-pass sketch")
  }

  test("kmv: distinct estimate within the theta-sketch error envelope on corpus tokens") {
    val t = toks.localCheckpoint()
    val sk = Sketch.kmvSketches(t.withColumn("g", lit("all")), "g", "token", k = 64)
    val est = Sketch.kmvDistinctEstimate(sk).collect().head.getAs[Long]("kmv_est")
    val exact = t.select(col("token")).distinct().count()
    // relative standard error ≈ 1/√(k−2) ≈ 12.7%; allow 4σ
    assert(math.abs(est - exact).toDouble / exact < 0.51,
      s"estimate $est vs exact $exact outside the 4-sigma envelope")
  }

  test("kmv: pairwise intersection exact when sketches hold the full sets") {
    import spark.implicits._
    // |A∩B| = 3 ({c,d,e}); both sets < k so θ = full space → exact
    val items = (Seq("a", "b", "c", "d", "e").map(("A", _)) ++
      Seq("c", "d", "e", "f").map(("B", _))).toDF("g", "w")
    val sk = Sketch.kmvSketches(items, "g", "w", k = 64)
    val row = Sketch.kmvIntersections(sk).collect().head
    assert(row.getAs[String]("g_a") == "A" && row.getAs[String]("g_b") == "B")
    assert(row.getAs[Long]("n_common") == 3L)
    assert(row.getAs[Long]("kmv_common_est") == 3L,
      "full-set sketches must intersect exactly")
  }

  test("kmv: k is carried by the sketch — estimators reject foreign frames; k capped against Long overflow") {
    import spark.implicits._
    val items = Seq(("g", "w")).toDF("g", "w")
    // overflow guard: (k-1)*2^48 must fit a Long, so k ≤ 32767
    intercept[IllegalArgumentException](
      Sketch.kmvSketches(items, "g", "w", k = 32768))
    // a frame without the carried kmv_k column (round-15 advice: a foreign
    // k silently yields the wrong θ) is rejected at plan time, not run time
    val bare = Sketch.kmvSketches(items, "g", "w", k = 64).drop("kmv_k")
    intercept[IllegalArgumentException](Sketch.kmvDistinctEstimate(bare))
    intercept[IllegalArgumentException](Sketch.kmvIntersections(bare))
    // sketches built at DIFFERENT k intersect correctly: each side's θ uses
    // its own carried k (min rule); both under-full here → exact
    val a = Sketch.kmvSketches(Seq(("A", "c"), ("A", "d")).toDF("g", "w"), "g", "w", k = 8)
    val b = Sketch.kmvSketches(Seq(("B", "c"), ("B", "d"), ("B", "e")).toDF("g", "w"), "g", "w", k = 16)
    val row = Sketch.kmvIntersections(a.unionByName(b)).collect().head
    assert(row.getAs[Long]("n_common") == 2L &&
      row.getAs[Long]("kmv_common_est") == 2L)
  }
}
