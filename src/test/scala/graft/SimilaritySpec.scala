package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Vector math + similarity-search semantics on hand-built vectors (known
  * cosines) and the driver embeddings (LSH vs brute-force consistency). */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  private def vec(xs: Double*) = xs.toArray

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dot / norm / cosine on known vectors") {
    val df = Seq((vec(1, 2, 3), vec(4, 5, 6))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("d"),
      VectorFunctions.norm(col("a")).as("na"),
      round(VectorFunctions.cosine(col("a"), col("b")), 6).as("c")).collect()(0)
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-12)
    assert(r.getDouble(2) == 0.974632)
  }

  test("cosine: zero-norm sides yield 0.0, orthogonal yields 0, parallel yields 1") {
    val df = Seq(
      (vec(0, 0), vec(1, 1)),
      (vec(1, 0), vec(0, 1)),
      (vec(2, 2), vec(5, 5))).toDF("a", "b")
    val cs = df.select(round(VectorFunctions.cosine(col("a"), col("b")), 6).as("c"))
      .collect().map(_.getDouble(0))
    assert(cs.toSeq == Seq(0.0, 0.0, 1.0))
  }

  test("groupCentroids: exact per-group elementwise means, partial agg in plan") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 6.0f)),
      (1, Array(10.0f, 0.0f))).toDF("label", "embedding")
    val out = Similarity.groupCentroids(df, "label", "embedding")
      .orderBy("label", "pos")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0, 0, 2L, 2.0), (0, 1, 2L, 4.0), (1, 0, 1L, 10.0), (1, 1, 1L, 0.0)))
    val plan = Similarity.groupCentroids(df, "label", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"centroid agg must combine map-side:\n$plan")
  }

  test("bruteForceTopK: correct neighbors and deterministic rank on a known set") {
    // corpus on the unit circle: angles 0°, 60°, 90°, 180°
    val corpus = Seq(
      (0L, vec(1, 0)), (1L, vec(0.5, math.sqrt(3) / 2)), (2L, vec(0, 1)),
      (3L, vec(-1, 0))).toDF("id", "v")
    val queries = corpus.where(col("id") === 0L)
    val out = Similarity.bruteForceTopK(corpus, queries, "id", "v", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L)) // cos: 0.5, 0, -1
    assert(out.map(_._2).toSeq == Seq(0.5, 0.0, -1.0))
  }

  test("hyperplaneBucket: same vector → same bucket; deterministic planes") {
    val planes = VectorFunctions.randomPlanes(8, 4, seed = 42L)
    assert(planes == VectorFunctions.randomPlanes(8, 4, seed = 42L))
    val df = Seq((vec(1, 2, 3, 4), vec(1, 2, 3, 4)), (vec(1, 2, 3, 4), vec(-1, -2, -3, -4)))
      .toDF("a", "b")
    val bs = df.select(
      VectorFunctions.hyperplaneBucket(col("a"), planes).as("ba"),
      VectorFunctions.hyperplaneBucket(col("b"), planes).as("bb")).collect()
    assert(bs(0).getLong(0) == bs(0).getLong(1))
    // a negated vector flips every sign bit → complementary bucket
    assert(bs(1).getLong(0) + bs(1).getLong(1) == 255L)
  }

  test("lshTopK ⊆ bruteForce candidates per query, with identical scores") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 500)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", k = 5, nPlanes = 4, dim = 64)
      .collect()
    assert(lsh.nonEmpty, "LSH buckets should retain some candidates")
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && brute(key) == r.getDouble(2),
        s"LSH pair $key not consistent with brute-force score")
    }
  }

  test("native dot/norm expressions agree with the HOF reference forms on the corpus") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").limit(50)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val diffs = a.join(b, col("ia") < col("ib"))
      .select(
        (VectorFunctions.dot(col("va"), col("vb")) -
          VectorFunctions.dotHof(col("va"), col("vb"))).as("dd"),
        (VectorFunctions.norm(col("va")) -
          VectorFunctions.normHof(col("va"))).as("dn"))
      .agg(max(abs(col("dd"))).as("md"), max(abs(col("dn"))).as("mn"))
      .collect()(0)
    assert(diffs.getDouble(0) == 0.0, "native dot must be bit-identical to the HOF fold")
    assert(diffs.getDouble(1) == 0.0, "native norm must be bit-identical to the HOF fold")
  }

  test("ivfTopK: deterministic, scores ≡ brute force, recall@5 ≥ 0.6 with nProbe=4/16") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    def run() = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 5,
      nCells = 16, nProbe = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3)))).toMap
    val ivf = run()
    assert(ivf == run(), "seeded IVF must be run-to-run deterministic")
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ivf.foreach { case (key, (cos, _)) =>
      // every IVF pair's score must equal the exact cosine when present
      brute.get(key).foreach(b => assert(b == cos, s"score mismatch at $key"))
    }
    val recall = ivf.keySet.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall@5 too low: $recall")
  }

  test("stored IVF index: indexed ≡ direct, probe scan is cell-pruned (DPP)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16, seed = 42L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_spec")
    try {
      val idx = tmp.resolve("index").toString
      Similarity.writeIvfIndex(emb, "vec_id", "embedding",
        outPath = idx, centroids = cents)
      // artifact shape: centroid table is nCells small rows, corpus is
      // partitioned by cell (directory column)
      assert(spark.read.parquet(s"$idx/centroids").count() == 16)
      val stored = spark.read.parquet(s"$idx/corpus")
      assert(stored.columns.toSet == Set("id", "vec", "nrm", "cell"))

      // the store → load → probe law
      val direct = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 5,
          nCells = 16, nProbe = 4, centroids = Some(cents))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val viaIndex = Similarity.ivfTopKIndexed(spark, idx, q,
          "vec_id", "embedding", k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(viaIndex === direct, "stored-index probe must equal direct IVF")

      // the at-scale property: ONE query probes 4 of 16 cells, and the
      // corpus scan must READ only those cells — the probe side's cell
      // keys reach the parquet reader as a dynamic partition filter
      val total = stored.count()
      val one = Similarity.ivfTopKIndexed(spark, idx,
        emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 5, nProbe = 4)
      one.collect()
      def corpusScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case ad: AdaptiveSparkPlanExec => corpusScans(ad.executedPlan)
        case qs: QueryStageExec => corpusScans(qs.plan)
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("corpus")) => Seq(s)
        case other => other.children.flatMap(corpusScans)
      }
      val scans = corpusScans(one.queryExecution.executedPlan)
      assert(scans.nonEmpty, "no corpus file scan found in the executed plan")
      assert(scans.exists(_.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning"))),
        s"corpus scan carries no dynamic partition pruning filter:\n${scans.map(_.partitionFilters)}")
      val read = scans.map(_.metrics("numOutputRows").value).sum
      assert(read < total,
        s"probe must not read the whole corpus: read $read of $total rows")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("stored IVF-PQ index: indexed ≡ direct, codes-only corpus, scan is cell-pruned") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16, seed = 42L)
    val books = Similarity.trainPqCodebooks(emb, "embedding", m = 16, ksub = 64, seed = 42L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec")
    try {
      val idx = tmp.resolve("index").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", outPath = idx,
        centroids = cents, books = books)
      // artifact shape: metadata tables are small, the corpus stores ONLY
      // (id, codes) under cell partitions — no floats on the big table
      assert(spark.read.parquet(s"$idx/centroids").count() == 16)
      assert(spark.read.parquet(s"$idx/codebooks").count() == 16 * 64)
      val stored = spark.read.parquet(s"$idx/corpus")
      assert(stored.columns.toSet == Set("id", "codes", "cell"))
      // codebooks round-trip exactly (doubles stored verbatim)
      val reread = Similarity.readPqCodebooks(spark, idx)
      assert(reread.length == books.length)
      assert(reread.flatten.flatten.toSeq == books.flatten.flatten.toSeq)

      // the store → load → probe law for the compressed path
      val direct = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
          centroids = cents, books = books, k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val viaIndex = Similarity.ivfPqTopKIndexed(spark, idx, q,
          "vec_id", "embedding", k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(viaIndex === direct, "stored-index ADC probe must equal direct IVF-PQ")

      // one query probes 4 of 16 cells: the codes scan must be DPP-pruned
      val total = stored.count()
      val one = Similarity.ivfPqTopKIndexed(spark, idx,
        emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 5, nProbe = 4)
      one.collect()
      def corpusScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case ad: AdaptiveSparkPlanExec => corpusScans(ad.executedPlan)
        case qs: QueryStageExec => corpusScans(qs.plan)
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("corpus")) => Seq(s)
        case other => other.children.flatMap(corpusScans)
      }
      val scans = corpusScans(one.queryExecution.executedPlan)
      assert(scans.nonEmpty, "no corpus file scan found in the executed plan")
      assert(scans.exists(_.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning"))),
        s"codes scan carries no dynamic partition pruning filter:\n${scans.map(_.partitionFilters)}")
      val read = scans.map(_.metrics("numOutputRows").value).sum
      assert(read < total,
        s"probe must not read the whole codes table: read $read of $total rows")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("semanticScreenIndexed: ≡ brute-force probe-cell screen; stateless plan (no state store)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16, seed = 42L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_screen_spec")
    try {
      val idx = tmp.resolve("index").toString
      Similarity.writeIvfIndex(emb, "vec_id", "embedding",
        outPath = idx, centroids = cents)
      val arrivals = emb.where(col("vec_id") % 5 === 4)
      val got = Similarity.semanticScreenIndexed(spark, idx, arrivals,
          "vec_id", "embedding", threshold = 0.3, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq

      // driver-side brute-force reference: per arrival, candidates are the
      // corpus rows whose assigned cell is among the arrival's 4 nearest
      val rows = emb.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      def d2(v: Array[Double], c: Array[Double]): Double =
        v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum
      def cellsOf(v: Array[Double]): Seq[Int] =
        cents.zipWithIndex.map { case (c, i) => (d2(v, c), i) }.sorted.map(_._2)
      val assigned = rows.map { case (id, v) => id -> cellsOf(v).head }.toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dot = a.indices.map(i => a(i) * b(i)).sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        if (na == 0 || nb == 0) 0.0
        else BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val ref = (for {
        (aid, av) <- rows if aid % 5 == 4
        probes = cellsOf(av).take(4).toSet
        (cid, cv) <- rows if cid != aid && probes(assigned(cid))
        c = cos(av, cv) if c >= 0.3
      } yield (aid, cid, c)).sortBy(t => (t._1, t._2)).toSeq
      assert(got == ref, "indexed screen must equal the brute-force probe-cell screen")
      assert(got.nonEmpty, "threshold 0.3 must surface pairs on this corpus")

      // stateless: the streamed plan must contain NO stateful operator
      val schema = emb.schema
      val streamed = graft.streaming.StreamingOps.runToMemorySink(spark, dir,
        "embeddings.parquet", schema,
        src => Similarity.semanticScreenIndexed(src.sparkSession, idx,
          src.where(col("vec_id") % 5 === 4), "vec_id", "embedding",
          threshold = 0.3, nProbe = 4),
        mode = org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(4))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(streamed == ref, "streamed gate must emit exactly the batch semantics")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("appendToIvfIndex: append ≡ rebuild, base files untouched, delta lands in cell partitions") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16, seed = 42L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfincr_spec")
    try {
      val idx = tmp.resolve("index").toString
      Similarity.writeIvfIndex(emb.where(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", outPath = idx, centroids = cents)
      def corpusFiles(): Map[String, Long] = {
        val base = java.nio.file.Paths.get(idx, "corpus")
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(base).iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .toMap
      }
      val before = corpusFiles()
      Similarity.appendToIvfIndex(spark, idx,
        emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding")
      val after = corpusFiles()
      // immobile base: every pre-append file survives byte-untouched
      // (same path, same mtime); the delta is strictly new files
      assert(before.forall { case (p, t) => after.get(p).contains(t) },
        "append must not rewrite or touch base corpus files")
      assert(after.size > before.size, "append must add new files")
      // all delta files live under cell=N partition directories
      assert((after.keySet -- before.keySet).forall(_.contains("cell=")),
        "delta files must land in cell partitions")
      // the law: probing base+delta ≡ direct IVF over the full corpus
      // with the same (day-0, full-corpus-trained) quantizer
      val direct = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 5,
          nCells = 16, nProbe = 4, centroids = Some(cents))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val viaIndex = Similarity.ivfTopKIndexed(spark, idx, q,
          "vec_id", "embedding", k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(viaIndex === direct, "incrementally-maintained index must equal rebuild")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("tombstone delete: O(|delete|) visible immediately; vacuum rewrites only touched cells") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16, seed = 42L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfdel_spec")
    try {
      val idx = tmp.resolve("index").toString
      Similarity.writeIvfIndex(emb, "vec_id", "embedding",
        outPath = idx, centroids = cents)
      def corpusFiles(): Map[String, Long] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(idx, "corpus"))
          .iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .toMap
      }
      val before = corpusFiles()
      Similarity.deleteFromIvfIndex(spark, idx,
        emb.where(col("vec_id") % 10 === 0), "vec_id")
      // the delete wrote ONLY the tombstone table — corpus bytes immobile
      assert(corpusFiles() == before, "delete must not touch corpus files")

      def topk() = Similarity.ivfTopKIndexed(spark, idx, q,
          "vec_id", "embedding", k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      // immediately visible: ≡ direct IVF over the corpus minus deleted
      val expect = Similarity.ivfTopK(emb.where(col("vec_id") % 10 =!= 0), q,
          "vec_id", "embedding", k = 5, nProbe = 4, centroids = Some(cents))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val preVacuum = topk()
      assert(preVacuum == expect, "tombstoned probe must equal the filtered corpus")
      assert(preVacuum != Similarity.ivfTopK(emb, q, "vec_id", "embedding",
          k = 5, nProbe = 4, centroids = Some(cents))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq,
        "the delete must actually change results on this corpus")

      // which cells hold deleted rows — only those may be rewritten
      val touched = spark.read.parquet(s"$idx/corpus")
        .where(col("id") % 10 === 0).select(col("cell").cast("int"))
        .distinct().collect().map(_.getInt(0)).toSet
      Similarity.vacuumIvfIndex(spark, idx)
      assert(!new java.io.File(s"$idx/tombstones").exists(),
        "vacuum must clear the tombstone table")
      val after = corpusFiles()
      val untouchedBefore = before.filter { case (p, _) =>
        !touched.exists(c => p.contains(s"cell=$c/")) }
      assert(untouchedBefore.forall { case (p, t) => after.get(p).contains(t) },
        "vacuum must leave cells without deleted rows byte-immobile")
      // physically gone, probe unchanged
      assert(spark.read.parquet(s"$idx/corpus")
        .where(col("id") % 10 === 0).count() == 0, "vacuum removes tombstoned rows")
      assert(topk() == preVacuum, "vacuum must not change probe results")

      // the resurrection trap: tombstone EVERY remaining row of one cell —
      // dynamic overwrite writes no partition for an emptied cell, so
      // without explicit directory removal its stale files would survive
      // the tombstone drop and the deleted rows would come back
      val corpusNow = spark.read.parquet(s"$idx/corpus")
      val aCell = corpusNow.select(col("cell").cast("long"))
        .groupBy("cell").count().orderBy(col("count"), col("cell"))
        .collect()(0).getLong(0)
      val cellIds = corpusNow.where(col("cell").cast("long") === aCell)
        .select(col("id"))
      val nCellIds = cellIds.count()
      assert(nCellIds > 0)
      Similarity.deleteFromIvfIndex(spark, idx, cellIds, "id")
      Similarity.vacuumIvfIndex(spark, idx)
      assert(!new java.io.File(s"$idx/corpus/cell=$aCell").exists(),
        "vacuum must remove an emptied cell's directory")
      assert(spark.read.parquet(s"$idx/corpus")
          .where(col("cell").cast("long") === aCell).count() == 0,
        "an emptied cell's rows must not resurrect after vacuum")

      // a vacuum that would empty the WHOLE corpus must refuse loudly (an
      // empty partitioned parquet is unreadable) instead of bricking the
      // index — a full purge drops the index directory
      Similarity.deleteFromIvfIndex(spark, idx,
        spark.read.parquet(s"$idx/corpus").select(col("id")), "id")
      val e = intercept[Exception] { Similarity.vacuumIvfIndex(spark, idx) }
      assert(e.getMessage.contains("drop the index directory"), e.getMessage)
      assert(spark.read.parquet(s"$idx/corpus").count() > 0,
        "the refused vacuum must leave the corpus intact")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("appendToIvfPqIndex: compressed append ≡ rebuild, stored codes identical") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16, seed = 42L)
    val books = Similarity.trainPqCodebooks(emb, "embedding", m = 16, ksub = 64, seed = 42L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpqincr_spec")
    try {
      val full = tmp.resolve("full").toString
      val incr = tmp.resolve("incr").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", full, cents, books)
      Similarity.writeIvfPqIndex(emb.where(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", incr, cents, books)
      Similarity.appendToIvfPqIndex(spark, incr,
        emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding")
      // the stored artifact itself converges: same (id, codes, cell) set
      def canon(p: String) = spark.read.parquet(s"$p/corpus")
        .collect().map(r => (r.getLong(0),
          r.getSeq[Int](1).toSeq, r.getInt(2))).sortBy(_._1).toSeq
      assert(canon(incr) == canon(full),
        "append with stored structures must reproduce the rebuild's codes")
      // and so do probe results
      def topk(p: String) = Similarity.ivfPqTopKIndexed(spark, p, q,
          "vec_id", "embedding", k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(topk(incr) == topk(full), "compressed append ≡ rebuild on probes")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("tombstone delete on a stored IVF-PQ index: probe ≡ ivfPqTopK over the live corpus, vacuum keeps it") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16, seed = 42L)
    val books = Similarity.trainPqCodebooks(emb, "embedding", m = 16, ksub = 64, seed = 42L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpqdel_spec")
    try {
      val idx = tmp.resolve("index").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx, cents, books)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      def direct(corpus: org.apache.spark.sql.DataFrame) = rows(Similarity.ivfPqTopK(
        corpus, q, "vec_id", "embedding", cents, books, k = 5, nProbe = 4))
      def probe() = rows(Similarity.ivfPqTopKIndexed(spark, idx, q,
        "vec_id", "embedding", k = 5, nProbe = 4))
      assert(direct(emb).exists(_._2 % 10 == 0),
        "some deleted id must rank without the delete for this spec to bite")
      Similarity.deleteFromIvfIndex(spark, idx,
        emb.where(col("vec_id") % 10 === 0), "vec_id")
      val preVacuum = probe()
      assert(preVacuum.nonEmpty && !preVacuum.exists(_._2 % 10 == 0),
        "the tombstoned codes probe must never return a deleted id")
      assert(preVacuum == direct(emb.where(col("vec_id") % 10 =!= 0)),
        "tombstoned codes probe must equal IVF-PQ over the corpus minus deletes")
      Similarity.vacuumIvfIndex(spark, idx)
      assert(probe() == preVacuum, "vacuum must not change probe results")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("PQ: codes in range, encode deterministic, recon error ≤ direct decode error") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val books = Similarity.trainPqCodebooks(emb, "embedding", m = 16, ksub = 64)
    assert(books.length == 16 && books.forall(_.length <= 64))
    def run() = emb.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), books).as("codes"),
        Similarity.pqReconError2(col("embedding"), books).as("err2"))
      .collect()
      .map(r => (r.getLong(0), (r.getSeq[Int](1), r.getDouble(2)))).toMap
    val enc = run()
    assert(enc == run(), "seeded PQ encode must be run-to-run deterministic")
    // codes index into the codebooks; err² is the summed min subspace d²,
    // verified against a JVM-side decode of the chosen centroids
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    enc.foreach { case (id, (codes, err2)) =>
      assert(codes.forall(c => c >= 0 && c < 64), s"code out of range for $id")
      val recon = codes.toArray.zipWithIndex.flatMap { case (c, j) => books(j)(c) }
      val direct = vecs(id).zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(err2 - direct) < 1e-9, s"err2 mismatch for $id: $err2 vs $direct")
    }
  }

  test("PQ native expressions ≡ composed Column forms, bit-for-bit") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val books = Similarity.trainPqCodebooks(emb, "embedding", m = 16, ksub = 64)
    // the composed forms are ~3000-node trees: fused into one whole-stage
    // method they exceed what Janino compiles, so the compare runs them
    // unfused
    val diffs = withConf("spark.sql.codegen.wholeStage", "false") {
      emb.select(
          Similarity.pqEncode(col("embedding"), books).as("cn"),
          Similarity.pqEncodeComposed(col("embedding"), books).as("cc"),
          Similarity.pqReconError2(col("embedding"), books).as("en"),
          Similarity.pqReconError2Composed(col("embedding"), books).as("ec"))
        .where(col("cn") =!= col("cc") || col("en") =!= col("ec"))
        .count()
    }
    assert(diffs == 0, "native PQ kernel must be bit-identical to the composed spec forms")
  }

  test("pqTopK: deterministic ADC ranking, recall@5 ≥ 0.4 vs exact L2 top-k") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val books = Similarity.trainPqCodebooks(emb, "embedding", m = 16, ksub = 64)
    def run() = Similarity.pqTopK(emb, q, "vec_id", "embedding", books, k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3)))).toMap
    val pq = run()
    assert(pq == run(), "seeded PQ ADC must be run-to-run deterministic")
    assert(pq.values.forall(_._1 >= 0.0), "ADC d² must be non-negative")
    // ADC approximates SQUARED L2 — recall is judged against the exact L2
    // top-k (cosine top-k ranks differently on unnormalized vectors and
    // would charge the metric gap to the quantizer)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = vecs.keys.filter(_ < 10).flatMap { qid =>
      vecs.keys.filter(_ != qid).toSeq
        .sortBy(id => (d2(vecs(qid), vecs(id)), id)).take(5).map(qid -> _)
    }.toSet
    val recall = pq.keySet.count(exact.contains).toDouble / exact.size
    // this corpus is near-random 64-dim noise — distances concentrate, so
    // even m=16/ksub=64 quantization caps recall ~0.5 (numpy cross-check);
    // clustered real-world embeddings recall far higher at coarser grids
    assert(recall >= 0.4, s"PQ ADC recall@5 too low vs exact L2: $recall")
  }

  test("ivfPqTopK: deterministic; ADC scores agree with pqTopK's on shared pairs; candidates respect probed cells") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16)
    val books = Similarity.trainPqCodebooks(emb, "embedding", m = 16, ksub = 64)
    def run() = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      cents, books, k = 5, nProbe = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivfpq = run()
    assert(ivfpq == run(), "composed IVF-PQ must be run-to-run deterministic")
    assert(ivfpq.nonEmpty && ivfpq.values.forall(_ >= 0.0))
    // The ADC distance of any (query, neighbor) pair is a pure function of
    // codes + query LUT — cell restriction must not change it. Compare
    // against the full-ADC ranking on shared pairs (k relaxed so overlap is
    // likely).
    val fullAdc = Similarity.pqTopK(emb, q, "vec_id", "embedding", books, k = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val shared = ivfpq.keySet.intersect(fullAdc.keySet)
    assert(shared.nonEmpty, "expected overlap between IVF-PQ and full-ADC top lists")
    shared.foreach { key =>
      assert(ivfpq(key) == fullAdc(key),
        s"ADC d² must be identical with and without IVF restriction at $key")
    }
    // Cell containment: every returned neighbor lives in one of its query's
    // nProbe nearest cells (the composed pipeline actually restricts).
    val ivfOnly = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 500,
      nCells = 16, nProbe = 4, centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq.keySet.subsetOf(ivfOnly),
      "IVF-PQ candidates must be exactly the IVF-probed cell members")
  }

  test("ivfPqRerankTopK: exact cosines, candidates ⊆ ADC pool, recall ≥ plain ADC@k") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16)
    val books = Similarity.trainPqCodebooks(emb, "embedding", m = 16, ksub = 64)
    val rerank = Similarity.ivfPqRerankTopK(emb, q, "vec_id", "embedding",
      cents, books, k = 5, nCandidates = 20, nProbe = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3))))
    val pool = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      cents, books, k = 20, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rerank.map(_._1).toSet.subsetOf(pool),
      "re-ranked neighbors must come from the ADC candidate pool")
    // re-ranked scores are the EXACT cosines (identical to brute force on
    // shared pairs), and ranks follow cosine desc within each query
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 500)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    rerank.foreach { case (key, (cos, _)) =>
      assert(brute(key) == cos, s"re-rank score must be the exact cosine at $key")
    }
    rerank.groupBy(_._1._1).values.foreach { rs =>
      val byRank = rs.sortBy(_._2._2).map(_._2._1)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "ranks must be ordered by exact cosine desc")
    }
    // with the SAME candidate pool, exact re-ranking can only help: any true
    // top-5 neighbor present in the pool is retained by cosine ordering
    val true5 = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc5 = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      cents, books, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerankKeys = rerank.map(_._1).toSet
    val rRerank = true5.count(rerankKeys.contains).toDouble / true5.size
    val rAdc = true5.count(adc5.contains).toDouble / true5.size
    assert(rRerank >= rAdc,
      s"re-rank recall@5 ($rRerank) must not trail plain ADC@5 ($rAdc)")
  }

  test("cosineNearDupPairs: i<j ordering, threshold respected") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getDouble(2) >= 0.4))
  }

  test("int8 quantization: values in [-127,127], reconstruction error ≤ scale/2") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val r = emb.select(col("embedding"),
      VectorFunctions.quantScale(col("embedding")).as("s"),
      VectorFunctions.quantizeInt8(col("embedding")).as("q"))
      .withColumn("deq", VectorFunctions.dequantizeInt8(col("q"), col("s")))
      .select(
        aggregate(col("q"), lit(0), (m, x) => greatest(m, abs(x))).as("qmax"),
        aggregate(zip_with(col("embedding"), col("deq"),
            (a, b) => abs(a.cast("double") - b.cast("double"))),
          lit(0.0), (m, x) => greatest(m, x)).as("err"),
        col("s"))
      .collect()
    r.foreach { row =>
      assert(row.getInt(0) <= 127, "quantized magnitude must fit int8 symmetric range")
      // float round-trip of dequant adds ≤1 ulp on top of scale/2
      assert(row.getDouble(1) <= row.getDouble(2) / 2 + 1e-4,
        s"reconstruction error ${row.getDouble(1)} vs scale ${row.getDouble(2)}")
    }
  }

  test("cosineNearDupPairs: output ≡ quadratic baseline; plan is an equi-join (no BNLJ / cartesian)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
    val gotSet = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // plan pin AFTER execution so AQE's final physical plan is inspected
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"block-matrix pair join must not degenerate to an all-pairs loop plan:\n$plan")
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val expect = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(VectorFunctions.cosine(col("va"), col("vb")), 6).as("c"))
      .where(col("c") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotSet == expect,
      s"missing=${(expect -- gotSet).take(5)} extra=${(gotSet -- expect).take(5)}")
  }

  test("cellNearDupPairs: ⊆ exact pairs with equal scores, recall on planted dups, equi plan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 16, seed = 42L)
    val cellQ = Similarity.cellNearDupPairs(emb, "vec_id", "embedding", 0.4,
      centroids = cents)
    val got = cellQ.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision 1.0: every cell-restricted pair is a true ≥θ pair with the
    // exact pipeline's score bit-for-bit
    got.foreach { case (k, v) =>
      assert(exact.get(k).contains(v), s"pair $k: cell=$v exact=${exact.get(k)}")
    }
    // at θ near the corpus's BACKGROUND similarity (0.4 here, max ≈ 0.51)
    // pairs straddle cell boundaries freely — the restriction prunes hard
    assert(exact.nonEmpty, "corpus must contain ≥θ pairs for this spec to bite")
    assert(got.nonEmpty && got.size < exact.size,
      s"moderate-θ cell restriction should prune (${got.size}/${exact.size})")
    // recall on TRUE near-duplicates (the SemDeDup regime): plant a scaled
    // copy of 40 vectors — cosine(v, 1.001v) = 1 and near-identical
    // centroid distances keep each copy in its original's cell
    val planted = emb.limit(40).select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val union = emb.select("vec_id", "embedding").unionByName(planted)
    val uCents = Similarity.trainIvfCentroids(union, "embedding", nCells = 16, seed = 42L)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactHi = pairsOf(Similarity.cosineNearDupPairs(union, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b"))
    val cellHi = pairsOf(Similarity.cellNearDupPairs(union, "vec_id", "embedding", 0.99,
      centroids = uCents).select("id_a", "id_b"))
    assert(exactHi.nonEmpty, "planted copies must produce ≥0.99 pairs")
    val recallHi = (cellHi & exactHi).size.toDouble / exactHi.size
    assert(recallHi >= 0.9,
      s"near-dup recall $recallHi (${(cellHi & exactHi).size}/${exactHi.size})")
    // the self-join must stay an equi join on the cell id
    val plan = cellQ.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"cell-restricted pair join must stay equi:\n$plan")
  }

  test("kmeansRefine: exact cell means on known clusters; corpus SSE never increases") {
    // known geometry: refined centroids are the member means, exactly
    val docs = Seq(
      (1L, Array(0.0f, 1.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(9.0f, 10.0f)), (4L, Array(10.0f, 9.0f))
    ).toDF("vec_id", "embedding")
    val init = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val out = Similarity.kmeansRefine(docs, "vec_id", "embedding", init)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      (0, 0) -> ((2L, 0.5)), (0, 1) -> ((2L, 0.5)),
      (1, 0) -> ((2L, 9.5)), (1, 1) -> ((2L, 9.5))), out.toString)

    // Lloyd's monotonicity on the real corpus: with the assignment FIXED,
    // the refined (mean) centroids cannot have higher within-cell SSE
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 8, seed = 42L)
    val refined = Similarity.kmeansRefine(emb, "vec_id", "embedding", cents)
      .collect().groupBy(_.getInt(0))
      .map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(1)).map(_.getDouble(3)).toArray }
    val vecs = emb.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def nearest(v: Array[Double], cs: Seq[Array[Double]]): Int =
      cs.zipWithIndex.minBy { case (c, _) =>
        v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum }._2
    def sse(cs: Map[Int, Array[Double]]): Double = vecs.map { v =>
      val cell = nearest(v, cents.toSeq) // assignment fixed to the INIT centroids
      cs.get(cell).map(c => v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
        .getOrElse(0.0)
    }.sum
    val before = sse(cents.zipWithIndex.map { case (c, i) => i -> c }.toMap)
    val after = sse(refined)
    assert(after <= before + 1e-6,
      s"refined centroids must not increase fixed-assignment SSE: $after > $before")
    // every corpus vector is counted exactly once per dimension
    val n = Similarity.kmeansRefine(emb, "vec_id", "embedding", cents)
      .where(col("pos") === 0).agg(sum("n_vecs")).collect()(0).getLong(0)
    assert(n == emb.count(), "cell memberships must partition the corpus")
  }

  test("cellKnnGraph: ≤ k ranked edges per source, within-cell only, scores exact") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 8, seed = 42L)
    val g = Similarity.cellKnnGraph(emb, "vec_id", "embedding", k = 3,
      centroids = cents).localCheckpoint()
    val bySrc = g.collect().groupBy(_.getLong(0))
    assert(bySrc.nonEmpty)
    bySrc.foreach { case (src, rows) =>
      assert(rows.length <= 3, s"src $src has ${rows.length} edges")
      val ranked = rows.sortBy(_.getInt(3))
      assert(ranked.map(_.getInt(3)).toSeq == (1 to rows.length), s"ranks of $src")
      // ranks descend in cosine (ties broken by nbr_id asc)
      val cos = ranked.map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, s"order of $src")
    }
    // with k ≥ cell size the graph is the FULL within-cell digraph, which
    // must be symmetric (same-cell is mutual; no threshold cuts an edge) —
    // this pins "within-cell only" without re-deriving cell assignment
    val full = Similarity.cellKnnGraph(emb, "vec_id", "embedding", k = 100000,
      centroids = cents)
      .select("src_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.forall { case (a, b) => full.contains((b, a)) },
      "uncut within-cell graph must be symmetric")
    assert(g.select("src_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet.subsetOf(full),
      "k-cut edges are a subset of the full within-cell digraph")
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"kNN-graph join must stay equi:\n$plan")
  }

  test("recall harness: probing every cell recovers brute force exactly") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.trainIvfCentroids(emb, "embedding", nCells = 8,
      seed = 42L)
    val qs = emb.where(col("vec_id") < 6)
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = ids(Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
      k = 4))
    val all = ids(Similarity.ivfTopK(emb, qs, "vec_id", "embedding", k = 4,
      nCells = 8, nProbe = 8, centroids = Some(cents)))
    assert(all == truth, "nProbe = nCells must equal brute force (recall 1.0)")
    // partial probe: still ≤ k per query and never a self-neighbor; the
    // recall metric itself is what the registered sim_ann_recall query
    // hash-checks against the replayed pipelines
    val part = ids(Similarity.ivfTopK(emb, qs, "vec_id", "embedding", k = 4,
      nCells = 8, nProbe = 2, centroids = Some(cents)))
    assert(part.groupBy(_._1).forall(_._2.size <= 4))
    assert(part.forall { case (q, n) => q != n })
  }

  test("rrfFuse: exact integer contributions, overlap dominance, ordering") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.rrfFuse(a, b, k0 = 60, topK = 5)
      .orderBy("fused_rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // ⌊10⁶/61⌋=16393 ⌊10⁶/62⌋=16129 ⌊10⁶/63⌋=15873; neighbor 11 appears in
    // BOTH lists (rank 2 + rank 1) and must dominate every single-list hit
    assert(out.toSeq == Seq(
      (11L, 16393L + 16129L, 2L, 1),
      (10L, 16393L, 1L, 2),
      (13L, 16129L, 1L, 3),
      (12L, 15873L, 1L, 4)))
  }
}
