package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor / similarity search over an embedding column.
  *
  * Path families:
  *   - exact: [[bruteForceTopK]] (the correctness baseline — the query set
  *     is broadcast, the corpus scanned once, per-query top-k a bounded
  *     window; no corpus×corpus blowup), [[cosineNearDupPairs]] and
  *     [[semanticScreen]];
  *   - LSH: [[lshTopK]] — corpus and queries bucketed by random-hyperplane
  *     sign bits, only same-bucket pairs scored;
  *   - IVF, in memory ([[ivfTopK]]) and stored ([[writeIvfIndex]],
  *     [[appendToIvfIndex]], [[deleteFromIvfIndex]], [[vacuumIvfIndex]],
  *     [[ivfTopKIndexed]], [[semanticScreenIndexed]]) — a k-means coarse
  *     quantizer ([[trainIvfCentroids]], [[kmeansRefine]]) restricts each
  *     query to its `nProbe` nearest cells;
  *   - PQ / IVF-PQ: [[pqTopK]], [[ivfPqTopK]], [[ivfPqRerankTopK]] and the
  *     stored [[writeIvfPqIndex]] / [[appendToIvfPqIndex]] /
  *     [[ivfPqTopKIndexed]] — asymmetric-distance scoring from PQ codes
  *     ([[trainPqCodebooks]]);
  *   - cell-restricted: [[cellNearDupPairs]], [[cellKnnGraph]],
  *     [[hardNegatives]] — candidates form only within a k-means cell.
  *
  * Every family shares one step per stage: [[nearestCell]] assigns cells,
  * [[probeCells]] expands a query's probe cells, [[rankTopK]] keeps the
  * per-query top k, [[adc]] scores codes against a query LUT, and
  * [[liveCorpus]] reads a stored index minus its tombstones. Trained
  * quantizers and codebooks are corpus properties: train once, pass them
  * in.
  */
object Similarity {

  private def prep(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", norm(col("vec")))

  /** Exact cosine top-k: for each query vector, the k nearest corpus vectors
    * (excluding itself when ids collide). Output (query_id, neighbor_id,
    * cosine, rank) with cosine rounded to 6 decimals and rank ties broken by
    * neighbor id — fully deterministic. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int = 5): DataFrame = {
    val c = prep(corpus, idCol, vecCol)
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("cosine",
        round(cosinePrenormed(col("vec"), col("qvec"), col("nrm"), col("qnrm")), 6))
    rankTopK(scored, "cosine", descending = true, k)
  }

  /** The per-query top-k every search path ends in: rank `scored` rows per
    * `query_id` by (`score`, `id` asc), keep rank ≤ k, and select
    * (query_id, neighbor_id, score, rank) — a bounded window, ties broken by
    * id, fully deterministic. `id` names the candidate column. */
  private def rankTopK(scored: DataFrame, score: String, descending: Boolean,
                       k: Int, id: String = "id"): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(if (descending) col(score).desc else col(score).asc, col(id).asc)
    val nbr = if (id == "neighbor_id") col(id) else col(id).as("neighbor_id")
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), nbr, col(score), col("rank"))
  }

  /** Per-group mean embedding (class centroids) — the average-pooling op of
    * an embedding pipeline (cluster seeding, per-class drift monitoring,
    * nearest-class-mean dedup QA). posexplode to (group, pos, value), then
    * ONE hash aggregate: map-side partial (sum, count) means the shuffle
    * carries |groups|×dim partial rows per mapper regardless of corpus size —
    * the exploded |rows|×dim intermediate never crosses the wire.
    * Output: (groupCol, pos, n_vecs, mean: double), one row per dimension. */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), avg(col("v").cast("double")).as("mean"))

  /** One DISTRIBUTED Lloyd's refinement round: assign every corpus vector
    * to its nearest centroid (codegen'd literal distances, one narrow
    * pass — the same assignment expression every IVF consumer runs), then
    * re-average per cell via [[groupCentroids]] (map-side partial
    * aggregation; the shuffle carries cells×dim partial sums per mapper,
    * never vectors). Output (cell, pos, n_vecs, mean) — the refined
    * centroid matrix as data.
    *
    * This is the scale path for quantizer training: the bounded
    * hash-sample seeds [[trainIvfCentroids]] driver-side, and each
    * refinement round over the FULL corpus is this one job — iterate to
    * taste, collect cells×dim rows (KBs) back as the next round's
    * literals. Empty cells simply emit no rows (standard Lloyd's: reseed
    * or drop). */
  def kmeansRefine(df: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[Array[Double]]): DataFrame =
    groupCentroids(df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell", nearestCell(col("vec"), centroids)), "cell", "vec")

  /** RECIPROCAL-RANK FUSION of two per-query rankings — the hybrid-search
    * primitive (fuse a lexical ranking with a vector ranking, or ensemble
    * two approximate indexes whose failure modes differ, as registered:
    * IVF × hyperplane-LSH). Classic RRF is Σ 1/(k₀+rank); here the
    * contribution is the INTEGER surrogate ⌊10⁶/(k₀+rank)⌋ — monotone in
    * the real one at any fixed rank, summed in longs, so fused scores and
    * the (score desc, id asc) tie-break are bit-identical in any engine
    * (the idf-surrogate discipline applied to rank fusion).
    *
    * Shape: union of the two (query, neighbor, rank) lists → one
    * (query, neighbor)-keyed sum (map-side combined) → a per-query window
    * over ≤ 2k candidate rows — everything bounded by the input rankings,
    * the corpus is never touched. Output: (query_id, neighbor_id,
    * rrf_micro, n_lists, fused_rank ≤ topK). */
  def rrfFuse(a: DataFrame, b: DataFrame, k0: Int = 60,
              topK: Int = 5): DataFrame = {
    require(k0 >= 1 && topK >= 1, "k0 >= 1, topK >= 1")
    val contrib = (df: DataFrame) => df.select(col("query_id"),
      col("neighbor_id"), expr(s"1000000L div ($k0 + rank)").as("c"))
    val fused = contrib(a).unionByName(contrib(b))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("c")).as("rrf_micro"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("neighbor_id").asc)
    fused.withColumn("fused_rank", row_number().over(w))
      .where(col("fused_rank") <= topK)
  }

  /** Approximate top-k via random-hyperplane LSH: score only same-bucket
    * pairs. Same output shape as [[bruteForceTopK]]; rank is within the
    * bucket-restricted candidate set. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int = 5,
              nPlanes: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = randomPlanes(nPlanes, dim, seed)
    val c = prep(corpus, idCol, vecCol)
      .withColumn("bucket", hyperplaneBucket(col("vec"), planes))
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), hyperplaneBucket(col("vec"), planes).as("qbucket"))
    val scored = c.join(broadcast(q),
        col("bucket") === col("qbucket") && col("id") =!= col("query_id"))
      .withColumn("cosine",
        round(cosinePrenormed(col("vec"), col("qvec"), col("nrm"), col("qnrm")), 6))
    rankTopK(scored, "cosine", descending = true, k)
  }

  /** Seeded k-means (kmeans++ init + Lloyd's) over a BOUNDED corpus sample,
    * run driver-side. Centroid quality needs ~100 points per cell, not the
    * corpus (at 100 TB you never fit on the full corpus), so only the sample
    * ever collects — `nCells * 200` rows, a few MB. Driver-side Lloyd's on
    * that sample is microseconds-per-iteration work; round 2 measured Spark
    * ML KMeans spending up to 31 s here per query invocation (distributed
    * job scheduling + no native BLAS in this container), all to produce a
    * 16×64 matrix. Deterministic for a given (data, nCells, seed) — and
    * partitioning-invariant, since the sample is drawn by content hash
    * order ([[hashOrderedSample]]), not file order.
    *
    * Call once per corpus and pass the result to every IVF and
    * cell-restricted operator — the query registry memoizes per (dataset,
    * nCells, seed). */
  def trainIvfCentroids(corpus: DataFrame, vecCol: String,
                        nCells: Int, seed: Long = 42L): Array[Array[Double]] = {
    val sample = hashOrderedSample(corpus, vecCol, math.max(nCells * 200, 2000))
    kmeansOnSample(sample, nCells, seed)
  }

  /** Bounded training sample as the `n` vectors with the SMALLEST md5 of
    * their rendered value — a uniform hash-order draw, not `limit(n)`:
    * `limit` takes whatever rows the first scanned file(s) yield, and on
    * hive-partitioned or sorted corpus parquet that is a head-of-corpus
    * sample whose centroids can miss whole regions of the distribution.
    * Hash order is partition-invariant and engine-independent (same sample
    * on any cluster layout, any AQE re-plan), and `orderBy(h).limit(n)`
    * plans as TakeOrderedAndProject — per-partition top-n merged on the
    * driver, ONE narrow corpus pass, no global sort shuffle. Result order
    * is the hash order, so kmeans++'s seeded index draws see a stable
    * sequence. */
  private def hashOrderedSample(corpus: DataFrame, vecCol: String,
                                n: Int): Array[Array[Double]] = {
    corpus
      .select(col(vecCol).cast("array<double>").as("v"))
      .withColumn("h", md5(col("v").cast("string").cast("binary")))
      .orderBy(col("h"))
      .limit(n)
      .collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** Lloyd's rounds per quantizer training run (IVF cells and PQ subspaces). */
  private val KmeansMaxIter = 10

  /** The seeded kmeans++/Lloyd's core of [[trainIvfCentroids]], factored
    * over an in-memory sample so PQ codebook training ([[trainPqCodebooks]])
    * reuses the identical arithmetic per subspace. Bit-for-bit the same
    * centroids as the pre-factoring trainIvfCentroids: same rng sequence,
    * same accumulation order. */
  private def kmeansOnSample(sample: Array[Array[Double]], nCells: Int,
                             seed: Long): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // kmeans++ seeding: each next center drawn ∝ squared distance to the
    // nearest chosen center (seeded, so fully deterministic).
    val centers = scala.collection.mutable.ArrayBuffer(sample(rnd.nextInt(sample.length)).clone())
    val minD2 = sample.map(p => d2(p, centers.head))
    while (centers.size < math.min(nCells, sample.length)) {
      val total = minD2.sum
      var r = rnd.nextDouble() * total
      var idx = 0
      while (idx < sample.length - 1 && r > minD2(idx)) { r -= minD2(idx); idx += 1 }
      centers += sample(idx).clone()
      var i = 0
      while (i < sample.length) {
        val d = d2(sample(i), centers.last)
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
    }
    // Lloyd's; capped iterations — IVF recall is governed by nProbe, not by
    // fully-converged centroids.
    val k = centers.size
    var iter = 0
    var moved = true
    while (iter < KmeansMaxIter && moved) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { p =>
        var best = 0; var bestD = d2(p, centers(0)); var c = 1
        while (c < k) {
          val d = d2(p, centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      moved = false
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) {
            val v = sums(c)(i) / counts(c)
            if (math.abs(v - centers(c)(i)) > 1e-12) moved = true
            centers(c)(i) = v
            i += 1
          }
        }
        c += 1
      }
      iter += 1
    }
    centers.map(_.clone()).toArray
  }

  /** Distance to every IVF centroid as codegen'd expressions over literal
    * centroid arrays, ascending (d², cell) structs; cell = element 1's cell,
    * probes = the first nProbe cells. */
  private def cellDists(vec: Column, cents: Array[Array[Double]]): Column = {
    val ds = cents.toSeq.zipWithIndex.map { case (c, i) =>
      val cArr = array(c.toSeq.map(lit): _*)
      val d2 = dot(vec, vec) - lit(2.0) * dot(vec, cArr) +
        lit(c.map(x => x * x).sum)
      struct(d2.as("d"), lit(i).as("cell"))
    }
    array_sort(array(ds: _*))
  }

  /** The cell assignment every IVF consumer shares: `vec`'s nearest
    * centroid (element 1 of [[cellDists]]). */
  private def nearestCell(vec: Column, cents: Array[Array[Double]]): Column =
    element_at(cellDists(vec, cents), 1).getField("cell")

  /** The probe expansion: one row per cell among `vec`'s `nProbe` nearest,
    * the join key of every IVF probe. */
  private def probeCells(vec: Column, cents: Array[Array[Double]],
                         nProbe: Int): Column =
    explode(transform(slice(cellDists(vec, cents), 1, nProbe),
      s => s.getField("cell")))

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nCells` cells; each query probes only its
    * `nProbe` nearest cells. The standard billion-scale ANN layout
    * (IVF-flat): at 100 TB the cell assignment is a narrow map over the
    * corpus (centroids broadcast as literals), the per-cell inverted lists
    * are just a hash-partitioned column, and query fan-out is nProbe/nCells
    * of the corpus instead of all of it.
    *
    * Deterministic: seeded training ([[trainIvfCentroids]]), centroid
    * distances via the native codegen dot expressions, rank ties broken by
    * neighbor id. Pass `centroids` to reuse a trained quantizer across
    * queries (training per call is wasted work — centroids depend only on
    * the corpus); without it, `nCells` and `seed` train one here. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int = 5,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(trainIvfCentroids(corpus, vecCol, nCells, seed))
    probeTopK(assignedCorpus(corpus, idCol, vecCol, cents), queries,
      idCol, vecCol, cents, k, nProbe)
  }

  /** The IVF probe join shared by the in-memory and stored-index paths:
    * corpus rows (id, vec, nrm, cell) join the broadcast probe set
    * (query_id, qvec, qnrm, cell) — each query once per probed cell — on
    * cell, cosine-rank per query, keep k. Candidate volume is nProbe/nCells
    * of the corpus; the window is bounded by candidates-per-query, never
    * corpus-sized. */
  private def probeTopK(c: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String,
                        cents: Array[Array[Double]],
                        k: Int, nProbe: Int): DataFrame = {
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"),
        probeCells(col("vec"), cents, nProbe).as("cell"))
    val scored = c.as("c").join(broadcast(q.as("q")),
        col("c.cell") === col("q.cell") && col("c.id") =!= col("q.query_id"))
      .withColumn("cosine",
        round(cosinePrenormed(col("c.vec"), col("q.qvec"), col("c.nrm"), col("q.qnrm")), 6))
    rankTopK(scored, "cosine", descending = true, k)
  }

  /** Persist a trained IVF index as the shipped ANN artifact — the
    * `writeDedupIndex`/`writeBpeMerges` convention applied to vector
    * search: train the coarse quantizer ONCE, store (a) the centroid table
    * (`<out>/centroids`: cell, centroid — nCells small rows, one file) and
    * (b) the assigned corpus (`<out>/corpus`: id, vec, nrm, cell) written
    * `partitionBy(cell)`, so every later query never re-trains, never
    * re-assigns, and — the at-scale point — PRUNES AT THE SCAN: the probe
    * join's cell keys reach the parquet reader as partition filters
    * (dynamic partition pruning off the broadcast probe set), so a query
    * batch READS nProbe/nCells of the corpus, not just scores that
    * fraction. The in-memory [[ivfTopK]] assigns cells as a narrow map but
    * still scans the whole corpus; the stored layout is how a 100 TB
    * vector store actually serves probes. `centroids` is the trained
    * quantizer ([[trainIvfCentroids]]). */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    outPath: String, centroids: Array[Array[Double]]): Unit = {
    writeCentroidTable(corpus.sparkSession, centroids, outPath)
    assignedCorpus(corpus, idCol, vecCol, centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$outPath/corpus")
  }

  /** The centroid metadata table every stored-index variant shares:
    * nCells small rows, one file. */
  private def writeCentroidTable(spark: org.apache.spark.sql.SparkSession,
                                 cents: Array[Array[Double]],
                                 outPath: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/centroids")
  }

  /** (id, vec, nrm, cell) — the cell-assigned corpus frame the in-memory
    * IVF probe, the cell-restricted self-joins, the initial index write and
    * incremental appends all start from (one narrow encode pass). */
  private def assignedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                             cents: Array[Array[Double]]): DataFrame =
    prep(corpus, idCol, vecCol).withColumn("cell", nearestCell(col("vec"), cents))

  /** Incremental index maintenance — the X49 `writeDedupIndex` corpus-
    * maintenance shape applied to ANN: new vectors are assigned cells with
    * the index's STORED quantizer (never a retrain — the quantizer is the
    * day-0 artifact; re-training would silently re-shuffle every existing
    * assignment) and appended as new files under their cell partitions.
    * Existing partitions' files are untouched — at 100 TB a daily delta
    * writes |delta| rows into ≤nCells directories while the base corpus
    * stays immobile, and probes over base+delta are indistinguishable from
    * a full rebuild with the same quantizer (the registered query pins that
    * equality against the rebuild oracle). */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, newRows: DataFrame,
                       idCol: String, vecCol: String): Unit =
    assignedCorpus(newRows, idCol, vecCol, readIvfCentroids(spark, indexPath))
      .write.partitionBy("cell").mode("append").parquet(s"$indexPath/corpus")

  /** Load a stored quantizer's centroid matrix — nCells rows, a bounded
    * driver-side read by construction (the index artifact's metadata, not
    * corpus data). */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String): Array[Array[Double]] =
    spark.read.parquet(s"$indexPath/centroids").orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray)

  /** IVF top-k against a STORED index ([[writeIvfIndex]] output): centroid
    * literals come from the artifact's centroid table, the corpus side is
    * the cell-partitioned parquet (no re-assignment — `cell` is the
    * partition column), and the probe join's cell keys prune the scan.
    * Byte-identical results to [[ivfTopK]] with the same quantizer — the
    * registered twin shares its oracle, so equality proves
    * store → load → probe ≡ assign → probe. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int = 5,
                     nProbe: Int = 4): DataFrame = {
    val cents = readIvfCentroids(spark, indexPath)
    probeTopK(liveCorpus(spark, indexPath), queries, idCol, vecCol, cents,
      k, nProbe)
  }

  // ── Product quantization (PQ) ────────────────────────────────────────────

  /** Product-quantization codebooks: the vector dim splits into `m`
    * contiguous subspaces of dim/m dims; each subspace gets its own seeded
    * kmeans codebook of `ksub` centroids, trained on the SAME bounded-sample
    * discipline as the IVF quantizer (one driver-side collect of a few MB,
    * never the corpus — see [[kmeansOnSample]]). Result layout:
    * `books(j)(c)` = centroid `c` of subspace `j`.
    *
    * PQ is the storage/ANN compression layer of a billion-scale pipeline:
    * m=8, ksub=16 encodes a 64-dim float vector (256 bytes) into 8 codes
    * (8 bytes when packed, 4 bits each) — 32× — while asymmetric-distance
    * scoring ([[pqTopK]]) still ranks against full-precision queries.
    * Composable with [[ivfTopK]]: IVF restricts candidates, PQ scores them
    * from codes (classic IVF-PQ). Deterministic for (data, m, ksub, seed):
    * subspace `j` trains with `seed + j`. */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String,
                       m: Int = 8, ksub: Int = 16,
                       seed: Long = 42L): Array[Array[Array[Double]]] = {
    val sample = hashOrderedSample(corpus, vecCol, math.max(ksub * 200, 2000))
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      kmeansOnSample(sample.map(v => v.slice(j * dsub, (j + 1) * dsub)),
        ksub, seed + j)
    }
  }

  /** Argmin centroid of subspace `j` as a (dShifted, code) struct picked by
    * `least()` over per-centroid struct expressions — a flat codegen'd
    * min-reduction, NOT an array_sort (the sort form measured ~3 ms/row at
    * m=16, ksub=64: 16 interpreted 64-struct sorts per row). dShifted =
    * ‖c‖² − 2·s·c: the ‖s‖² term is constant within a subspace, so the
    * argmin (and its code tie-break — struct ordering compares d first,
    * then code, in both engines) is unchanged, and each centroid costs ONE
    * dot product instead of two plus a sort slot. True d² is recovered by
    * adding ‖s‖² once per subspace where needed. */
  private def pqArgmin(vec: Column, books: Array[Array[Array[Double]]],
                       j: Int): Column = {
    val dsub = books(j)(0).length
    val sub = slice(vec, j * dsub + 1, dsub)
    val ds = books(j).toSeq.zipWithIndex.map { case (c, i) =>
      val cArr = array(c.toSeq.map(lit): _*)
      struct((lit(c.map(x => x * x).sum) - lit(2.0) * dot(sub, cArr)).as("ds"),
        lit(i).as("code"))
    }
    least(ds: _*)
  }

  /** PQ-encode: `array<int>` of per-subspace nearest-centroid codes. A
    * narrow map over the corpus — the codebooks attach once as codegen
    * reference objects (the Spark-side equivalent of broadcasting them), no
    * shuffle, no UDF. Native expression ([[graft.functions.PqEncode]]): the
    * composed `least()`-over-structs form ([[pqEncodeComposed]], kept as
    * the executable spec) leaves a ~3000-node interpreted tree that
    * measured 5 s for a 5000-row encode; the primitive loop is ~50×. */
  def pqEncode(vec: Column, books: Array[Array[Array[Double]]]): Column =
    graft.functions.PqExpressions.pqEncodeNative(vec, books)

  /** Composed-Column executable spec of [[pqEncode]] — bit-identical codes
    * by the FP-parity contract in [[graft.functions.PqKernel]];
    * SimilaritySpec pins native ≡ composed. */
  private[graft] def pqEncodeComposed(vec: Column, books: Array[Array[Array[Double]]]): Column =
    array((0 until books.length).map(j =>
      pqArgmin(vec, books, j).getField("code")): _*)

  /** Per-vector squared reconstruction error Σⱼ minᶜ d²(subⱼ, bookⱼ[c]) —
    * the quantization loss of [[pqEncode]]'s code choice, without
    * materializing the decoded vector. Per subspace: ‖s‖² + min dShifted,
    * summed left-to-right over subspaces (the oracle and the native kernel
    * reproduce this exact FP association). */
  def pqReconError2(vec: Column, books: Array[Array[Array[Double]]]): Column =
    graft.functions.PqExpressions.pqReconError2Native(vec, books)

  /** Composed executable spec of [[pqReconError2]]. */
  private[graft] def pqReconError2Composed(vec: Column, books: Array[Array[Array[Double]]]): Column =
    (0 until books.length).map { j =>
      val dsub = books(j)(0).length
      val sub = slice(vec, j * dsub + 1, dsub)
      dot(sub, sub) + pqArgmin(vec, books, j).getField("ds")
    }.reduce(_ + _)

  /** Asymmetric-distance (ADC) approximate top-k: corpus vectors are scored
    * from their PQ codes against FULL-PRECISION queries. Each query builds
    * an m×ksub lookup table of subspace distances (codegen over the
    * broadcast query set); a corpus row's approximate d² is then m
    * element_at probes into that table — no corpus-side float math at all,
    * which is the entire point at 100 TB: the scan reads m small ints per
    * vector instead of dim floats. Output (query_id, neighbor_id, adc_d2,
    * rank), rank ascending by rounded d² with id tie-break — deterministic.
    *
    * `codes` may be precomputed (pass a corpus that already carries
    * `codesCol`) or derived here from `vecCol`. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String,
             books: Array[Array[Array[Double]]], k: Int = 5): DataFrame = {
    val c = corpus.select(col(idCol).as("id"),
      pqEncode(col(vecCol), books).as("codes"))
    // lut(j)(i) = true d²(query subspace j, books(j)(i)) — native expression
    // ([[graft.functions.PqAdcLut]]); the composed literal form compiled a
    // ~3000-node janino projection per run (seconds of codegen for a
    // 10-row query side). Same FP association as pqReconError2's terms.
    val q = queries.select(col(idCol).as("query_id"),
      graft.functions.PqExpressions.pqAdcLutNative(col(vecCol), books).as("lut"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("adc_d2", round(adc(books.length), 6))
    rankTopK(scored, "adc_d2", descending = false, k)
  }

  /** A code row's approximate d² against its query's LUT: the sum of m
    * `lut(j)(codes(j))` probes — no corpus-side float math. */
  private def adc(m: Int): Column =
    (0 until m).map(j =>
      element_at(element_at(col("lut"), j + 1),
        element_at(col("codes"), j + 1) + lit(1))).reduce(_ + _)

  /** Classic IVF-PQ: the IVF coarse quantizer restricts candidates to each
    * query's `nProbe` nearest cells, and PQ asymmetric-distance scoring ranks
    * those candidates from codes alone. THE billion-scale ANN layout
    * (IVF-PQ/FAISS lineage): at 100 TB the corpus is stored as
    * (cell, m small ints) per vector — cell assignment and codes are one
    * narrow encode pass at ingest — and a query touches nProbe/nCells of the
    * corpus reading no floats at all. The join key is the cell (equi,
    * broadcast query side), candidate scoring is m LUT probes, the top-k
    * window is bounded per query.
    *
    * Both trained structures arrive as parameters (they are corpus
    * properties; see [[trainIvfCentroids]] / [[trainPqCodebooks]]).
    * Deterministic: rounded ADC d², id tie-break. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String,
                centroids: Array[Array[Double]],
                books: Array[Array[Array[Double]]],
                k: Int = 5, nProbe: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("id"),
      nearestCell(col(vecCol), centroids).as("cell"),
      pqEncode(col(vecCol), books).as("codes"))
    adcProbeTopK(c, queries, idCol, vecCol, centroids, books, k, nProbe)
  }

  /** The ADC probe join shared by the in-memory and stored-index IVF-PQ
    * paths: code-carrying corpus rows (id, codes, cell) join the broadcast
    * probe set (query_id, lut, cell) — each query's LUT once per probed
    * cell — on cell; a candidate's approximate d² is m LUT probes, the
    * top-k window is bounded per query. */
  private def adcProbeTopK(c: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String,
                           cents: Array[Array[Double]],
                           books: Array[Array[Array[Double]]],
                           k: Int, nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      graft.functions.PqExpressions.pqAdcLutNative(col(vecCol), books).as("lut"),
      probeCells(col(vecCol), cents, nProbe).as("cell"))
    val scored = c.as("c").join(broadcast(q.as("q")),
        col("c.cell") === col("q.cell") && col("c.id") =!= col("q.query_id"))
      .withColumn("adc_d2", round(adc(books.length), 6))
    rankTopK(scored, "adc_d2", descending = false, k)
  }

  /** Persist a trained IVF-PQ index — the full billion-scale serving
    * artifact (FAISS `IndexIVFPQ` lineage): `<out>/centroids` (the coarse
    * quantizer, nCells rows), `<out>/codebooks` (the PQ codebooks flattened
    * to m·ksub small rows: sub, code, centroid), and `<out>/corpus` holding
    * per vector ONLY (id, m small int codes) written `partitionBy(cell)`.
    * This is what a 100 TB vector corpus actually stores: ~21× smaller than
    * raw floats, cell-partitioned so the probe join's keys prune the SCAN
    * (dynamic partition pruning), and scoring needs no corpus-side float
    * math at all — a probe batch reads nProbe/nCells of an already-
    * compressed table. Both trained structures are arguments (corpus
    * properties — the [[trainIvfCentroids]]/[[trainPqCodebooks]] memo
    * rationale). */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      outPath: String,
                      centroids: Array[Array[Double]],
                      books: Array[Array[Array[Double]]]): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeCentroidTable(spark, centroids, outPath)
    books.zipWithIndex.flatMap { case (b, j) =>
      b.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/codebooks")
    pqEncodedCorpus(corpus, idCol, vecCol, centroids, books)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$outPath/corpus")
  }

  /** (id, codes, cell) — the compressed corpus frame both the initial
    * IVF-PQ index write and incremental appends produce (one narrow encode
    * pass). */
  private def pqEncodedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                              cents: Array[Array[Double]],
                              books: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol).as("id"),
      pqEncode(col(vecCol), books).as("codes"),
      nearestCell(col(vecCol), cents).as("cell"))

  /** Load stored PQ codebooks back into the m×ksub×dsub matrix — m·ksub
    * small rows, index metadata like [[readIvfCentroids]]. */
  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Array[Array[Array[Double]]] =
    spark.read.parquet(s"$indexPath/codebooks")
      .orderBy(col("sub"), col("code")).collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))

  /** DELETE from a stored index via TOMBSTONES — the deletion-vector
    * pattern: removing a vector must not rewrite multi-TB cell partitions
    * on the critical path (and compliance deletes can't wait for a
    * maintenance window), so `deleteFromIvfIndex` appends the ids to a
    * small `<index>/tombstones` table — O(|delete|) work, immediately
    * visible because every probe ([[ivfTopKIndexed]],
    * [[semanticScreenIndexed]]) anti-joins the broadcast tombstone set —
    * and [[vacuumIvfIndex]] later REWRITES ONLY the cell partitions that
    * actually contain tombstoned rows (dynamic partition overwrite;
    * untouched cells' files stay byte-immobile) and clears the tombstone
    * table. Probe results are identical before and after vacuum — the
    * spec pins that law plus file immobility on both halves. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, deleteIds: DataFrame,
                         idCol: String): Unit = {
    // normalize to the CORPUS's id type (a parquet-footer read): a fixed
    // cast (e.g. to long) would NULL string ids and silently no-op the
    // delete, while a verbatim passthrough would let differently-typed
    // delete frames land conflicting parquet schemas in the append-mode
    // tombstone store and crash every later probe's read
    val idType = spark.read.parquet(s"$indexPath/corpus").schema("id").dataType
    deleteIds.select(col(idCol).cast(idType).as("id")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$indexPath/tombstones")
  }

  /** The live tombstone set, or None when the index has none — a bounded
    * metadata read (the deletion log, not corpus data). */
  private def tombstones(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** A stored index's live corpus: its cell-partitioned corpus minus the
    * tombstones (anti-join against the broadcast deletion set) — the
    * corpus side of every stored-index probe path. */
  private def liveCorpus(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String): DataFrame = {
    val corpus = spark.read.parquet(s"$indexPath/corpus")
    tombstones(spark, indexPath) match {
      case Some(t) => corpus.join(broadcast(t.select(col("id"))), Seq("id"), "left_anti")
      case None => corpus
    }
  }

  /** Physically remove tombstoned rows: rewrite ONLY the cell partitions
    * containing them (dynamic partition overwrite — other cells' files are
    * never touched) and drop the tombstone table. The rewritten rows pin
    * through a local checkpoint before the overwrite (same-path
    * read-then-write); they are bounded by the touched partitions, i.e. by
    * the deletes' cell locality — at production scale the rewrite stages
    * through the FS commit protocol the same way. */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String): Unit =
    tombstones(spark, indexPath).foreach { t =>
      val corpus = spark.read.parquet(s"$indexPath/corpus")
      val del = broadcast(t.select(col("id")))
      // the cells to rewrite — ≤ nCells values, a bounded driver read
      val touched = corpus.join(del, Seq("id"))
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      val rewritten = corpus
        .where(col("cell").cast("long").isInCollection(touched))
        .join(del, Seq("id"), "left_anti")
        // corpus column order back to write order (cell last = partition col)
        .select(corpus.columns.filter(_ != "cell").map(col) :+ col("cell"): _*)
        .localCheckpoint(eager = true)
      rewritten.write.partitionBy("cell")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$indexPath/corpus")
      // dynamic overwrite only replaces partitions PRESENT in the output:
      // a touched cell whose every row was tombstoned writes no partition
      // and its stale files would survive (and resurrect once the
      // tombstones drop) — delete emptied cell directories explicitly
      val survivors = rewritten.select(col("cell").cast("long"))
        .distinct().collect().map(_.getLong(0)).toSet
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a vacuum that would empty the WHOLE corpus is unrepresentable in
      // this layout (Spark cannot write a readable empty partitioned
      // parquet — only _SUCCESS survives, and every later read fails
      // schema inference); fail loudly before destroying data — a full
      // purge should drop the index directory instead
      if (survivors.isEmpty) {
        val allCells = corpus.select(col("cell").cast("long"))
          .distinct().collect().map(_.getLong(0)).toSet
        require(touched != allCells,
          s"vacuumIvfIndex would delete every row of $indexPath — an empty " +
            "index is unrepresentable (unreadable empty partitioned " +
            "parquet); drop the index directory for a full purge")
      }
      (touched -- survivors).foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/corpus/cell=$c"), true)
      }
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/tombstones"), true)
    }

  /** Incremental maintenance for the COMPRESSED index — the [[appendToIvfIndex]]
    * law applied to [[writeIvfPqIndex]]: new vectors are cell-assigned with
    * the stored quantizer AND encoded with the stored codebooks (retraining
    * either would silently invalidate every existing code), then appended
    * as new files under their cell partitions. At 100 TB the codes table is
    * the artifact that actually gets maintained — raw vectors may not even
    * be retained — so the delta write is \|delta\| rows of (id, m small
    * ints) into ≤nCells directories, base files immobile. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, newRows: DataFrame,
                         idCol: String, vecCol: String): Unit =
    pqEncodedCorpus(newRows, idCol, vecCol, readIvfCentroids(spark, indexPath),
      readPqCodebooks(spark, indexPath))
      .write.partitionBy("cell").mode("append").parquet(s"$indexPath/corpus")

  /** IVF-PQ top-k against a STORED index ([[writeIvfPqIndex]] output):
    * quantizer + codebooks come from the artifact's metadata tables, the
    * corpus side is the cell-partitioned CODES parquet (no vectors read,
    * no re-encode), and the probe's cell keys prune the scan. Byte-
    * identical to [[ivfPqTopK]] with the same trained structures — the
    * registered twin shares its oracle, so equality proves
    * store → load → probe ≡ encode → probe. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int = 5,
                       nProbe: Int = 4): DataFrame = {
    val cents = readIvfCentroids(spark, indexPath)
    val books = readPqCodebooks(spark, indexPath)
    adcProbeTopK(liveCorpus(spark, indexPath), queries, idCol, vecCol, cents,
      books, k, nProbe)
  }

  /** IVF-PQ with EXACT RE-RANKING — the production two-stage retrieval
    * layout (FAISS's `IndexIVFPQ` + refine step): the compressed index
    * nominates `nCandidates` neighbors per query from codes alone
    * ([[ivfPqTopK]]), then the true vectors of ONLY those candidates are
    * fetched and exact cosine re-orders them into the final top-k. ADC
    * distances are lossy (a ~21× code compression shuffles near-ties), so
    * serving stacks re-rank a small candidate multiple — quality of the
    * exact metric at the cost of |queries|·nCandidates point lookups
    * instead of a corpus scan.
    *
    * Plan shape at 100 TB: stage 1 reads codes only (nProbe/nCells of the
    * corpus, no floats); the candidate list (|queries|·nCandidates rows —
    * KB-scale) then BROADCASTS into an equi-join against the id-keyed
    * vector store, so the exact-vector fetch is a semi-join pruned scan
    * (or a point-lookup against an id-bucketed table — never a second full
    * scan shuffle). Queries broadcast throughout; the final window is
    * bounded per query. Deterministic: rounded cosine, id tie-break.
    * Output: (query_id, neighbor_id, cosine, rank). */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String,
                      centroids: Array[Array[Double]],
                      books: Array[Array[Array[Double]]],
                      k: Int = 5, nCandidates: Int = 20,
                      nProbe: Int = 4): DataFrame = {
    require(nCandidates >= k, "nCandidates must be at least k")
    val cand = ivfPqTopK(corpus, queries, idCol, vecCol, centroids, books,
      k = nCandidates, nProbe = nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = prep(corpus, idCol, vecCol)
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val rescored = vecs.join(broadcast(cand), col("id") === col("neighbor_id"))
      .join(broadcast(q), "query_id")
      .withColumn("cosine",
        round(cosinePrenormed(col("vec"), col("qvec"), col("nrm"), col("qnrm")), 6))
    rankTopK(rescored, "cosine", descending = true, k, id = "neighbor_id")
  }

  /** SemDeDup-style CELL-RESTRICTED near-dup pairs — the sub-quadratic
    * production path for embedding dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * a k-means coarse quantizer assigns every vector to its nearest cell
    * (the [[ivfTopK]] assignment, same trained centroids), and candidate
    * pairs form ONLY within a cell — an EQUI self-join on the cell id with
    * the cosine threshold inside the join condition. Near-duplicates are
    * near-identical vectors, so they share an argmin cell unless they
    * straddle a boundary; web-scale corpora cluster, so within-cell cost is
    * ~Σ n_c² ≪ n², vs the exact [[cosineNearDupPairs]] block matrix's
    * irreducible n²/blocks² cells. A pair lost to a cell boundary is the
    * documented approximation, and it is θ-dependent: at production
    * thresholds (≥0.9 — actual near-dups) recall is high because a
    * near-identical pair's centroid distances are near-identical too, while
    * at a θ near the corpus's background similarity the restriction prunes
    * aggressively (SimilaritySpec measures both regimes: ≥0.9 recall on
    * planted scaled copies, heavy pruning at θ=0.4 on this near-random
    * corpus). The generated oracle (embedded trained centroids) replays the
    * restriction EXACTLY, so the driver hash-compares the approximate
    * pipeline itself.
    *
    * Scale shape: one narrow corpus pass for the assignment (centroid
    * distances are codegen'd literal dots), one cell-partitioned
    * shuffle-hash self-join. A hot cell concentrates work as n_c² — train
    * more cells as the corpus grows (SemDeDup runs ~100k cells at web scale) so
    * cells stay task-sized; the skew-salting and block-matrix machinery
    * compose within a cell if one still melts. */
  def cellNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double,
                       centroids: Array[Array[Double]]): DataFrame = {
    val base = assignedCorpus(df, idCol, vecCol, centroids)
    val a = base.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"), col("cell"))
    val b = base.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"), col("cell"))
    // threshold inside the join condition — same no-materialize rationale
    // as cosineNearDupPairs below
    val cosineExpr =
      round(cosinePrenormed(col("vec_a"), col("vec_b"), col("nrm_a"), col("nrm_b")), 6)
    a.as("a").join(b.hint("shuffle_hash").as("b"),
        col("a.cell") === col("b.cell") &&
          col("id_a") < col("id_b") && cosineExpr >= lit(threshold))
      .select(col("id_a"), col("id_b"), cosineExpr.as("cosine"))
  }

  /** Within-cell kNN graph: for every vector, its k most cosine-similar
    * neighbors restricted to the vector's k-means cell — the ANN-graph
    * construction that feeds graph clustering / agglomerative dedup, i.e.
    * the [[cellNearDupPairs]] SemDeDup restriction applied to graph
    * building instead of thresholded pairs. Same Σ n_c² cost bound (never
    * n²), same cell-partitioned shuffle-hash self-join; the per-source
    * top-k is a window partitioned by the source id — bounded state, and
    * edge count is exactly ≤ k·n. Directed output (src_id, nbr_id, cosine,
    * rank), ties broken by nbr_id; vectors alone in their cell emit no
    * edges (the k-probe multi-cell variant composes via [[ivfTopK]] when
    * recall across cell borders matters). */
  def cellKnnGraph(df: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[Array[Double]], k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val base = assignedCorpus(df, idCol, vecCol, centroids)
    val a = base.select(col("id").as("src_id"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"), col("cell"))
    val b = base.select(col("id").as("nbr_id"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"), col("cell"))
    val cosineExpr =
      round(cosinePrenormed(col("vec_a"), col("vec_b"), col("nrm_a"), col("nrm_b")), 6)
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    a.as("a").join(b.hint("shuffle_hash").as("b"),
        col("a.cell") === col("b.cell") && col("src_id") =!= col("nbr_id"))
      .select(col("src_id"), col("nbr_id"), cosineExpr.as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Embedding near-duplicate pairs: all (i < j) with cosine ≥ threshold —
    * EXACT (recall 1.0 by construction, so the quadratic SQL oracle
    * hash-matches deterministically).
    *
    * Exact thresholded cosine join over dense random vectors at low θ is
    * Ω(n²) comparisons — no bucketing scheme prunes when the ε-ball
    * (ε = √(2−2θ)) covers most of the unit sphere, and the probabilistic
    * alternatives (hyperplane LSH) cannot promise the oracle's recall 1.0.
    * What CAN be fixed is the plan: the naive theta-join
    * (`a.join(b, id_a < id_b)`) planned as a BroadcastNestedLoopJoin — one
    * broadcast of the whole corpus and a single-partition n² loop. Here the
    * irreducible work is distributed as a BLOCK MATRIX instead:
    *
    *   - rows are hashed into `blocks` buckets; the join key is the block
    *     pair (bx, by), an EQUI key, so Catalyst plans a shuffled hash join
    *     with blocks² independent cells of (n/blocks)² comparisons each —
    *     bounded per-task memory, even spread, no broadcast of the corpus;
    *   - each ordered pair (id_a < id_b) meets in exactly one cell
    *     (blk_a, blk_b) — no distinct needed;
    *   - a seeded 1-D unit projection rides along as a prefilter: for unit
    *     vectors, cos(a,b) ≥ θ ⟹ ‖â−b̂‖ ≤ ε ⟹ |r·â − r·b̂| ≤ ε, so far
    *     pairs fail one multiply-compare instead of a `dim`-wide dot.
    *
    * Shuffle volume is 2·n·blocks rows (each side replicated per block row/
    * column) — the standard distributed all-pairs layout. At production θ
    * (≥0.9, true near-dups) prefer the sub-quadratic candidate paths
    * ([[lshTopK]] buckets, [[Dedup.minHashLsh]]/[[Dedup.simHashNearDupPairs]]
    * for text) with this exact form as their recall oracle. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, blocks: Int = 32,
                         dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(blocks > 0, "blocks must be positive")
    val eps = math.sqrt(math.max(2.0 - 2.0 * threshold, 0.0))
    val dir = {
      val p = randomPlanes(1, dim, seed).head
      val n = math.sqrt(p.map(x => x * x).sum)
      p.map(_ / n)
    }
    val dirArr = array(dir.map(lit): _*)
    val base = prep(df, idCol, vecCol)
      .withColumn("blk", pmod(xxhash64(col("id")), lit(blocks)).cast("int"))
      .withColumn("proj", when(col("nrm") === 0.0, lit(0.0))
        .otherwise(dot(col("vec"), dirArr) / col("nrm")))
    val a = base.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"), col("proj").as("p_a"), col("blk").as("bx"),
      explode(sequence(lit(0), lit(blocks - 1))).as("by"))
    val b = base.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"), col("proj").as("p_b"),
      explode(sequence(lit(0), lit(blocks - 1))).as("bx"), col("blk").as("by"))
    // Projection prefilter is only sound for θ > 0 (zero-norm rows carry
    // proj = 0 but cosine 0 still passes a non-positive threshold).
    val prefilter =
      if (threshold > 0) abs(col("p_a") - col("p_b")) <= lit(eps) else lit(true)
    // The cosine threshold rides INSIDE the join condition: the join's
    // candidate stream is ~n²/blocks² rows per cell, each carrying two
    // `dim`-wide arrays — evaluating the threshold as a post-join filter
    // materializes all of them through the join output (measured GC churn at
    // sf0.1), while a join-condition conjunct drops failing pairs before a
    // single candidate row is emitted. The surviving-row recompute of
    // `cosine` for the projection touches only the ~output-sized remainder.
    val cosineExpr =
      round(cosinePrenormed(col("vec_a"), col("vec_b"), col("nrm_a"), col("nrm_b")), 6)
    a.as("pa").join(b.hint("shuffle_hash").as("pb"),
        col("pa.bx") === col("pb.bx") && col("pa.by") === col("pb.by") &&
          col("id_a") < col("id_b") && prefilter && cosineExpr >= lit(threshold))
      .select(col("id_a"), col("id_b"), cosineExpr.as("cosine"))
  }

  /** SEMANTIC decontamination screen: corpus vectors whose cosine against
    * ANY held-out eval vector reaches `threshold` — the embedding-level
    * twin of [[Curation.contaminationReport]]'s n-gram overlap (paraphrased
    * eval leakage that no n-gram join can see). The eval suite is tiny
    * relative to the corpus by definition, so it BROADCASTS and the corpus
    * is touched by exactly one narrow scan — the threshold rides inside the
    * join condition (the [[cosineNearDupPairs]] rationale). Output: every
    * flagged (vec_id, eval_id, cosine) pair — the removal list plus its
    * evidence. */
  def semanticScreen(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                     vecCol: String, threshold: Double): DataFrame = {
    val c = prep(corpus, idCol, vecCol)
    val e = prep(evalSet, idCol, vecCol)
      .select(col("id").as("eval_id"), col("vec").as("evec"),
        col("nrm").as("enrm"))
    val cosineExpr =
      round(cosinePrenormed(col("vec"), col("evec"), col("nrm"), col("enrm")), 6)
    c.join(broadcast(e), cosineExpr >= lit(threshold))
      .select(col("id").as("vec_id"), col("eval_id"), cosineExpr.as("cosine"))
  }

  /** Semantic INGEST GATE against a STORED IVF index — streaming-capable:
    * arriving vectors probe their `nProbe` nearest cells (centroid literals
    * load once from the artifact's metadata table at plan time) and
    * stream-static equi-join the cell-partitioned corpus; candidates score
    * exact cosine, threshold survivors emit (a_id, c_id, cosine). Entirely
    * STATELESS — each corpus row lives in exactly one cell partition and an
    * arrival's probe cells are distinct, so an (arrival, corpus) pair can
    * appear at most once and no dedup aggregate (hence no state store, no
    * watermark bookkeeping) is needed: the ingest gate's state is ZERO at
    * any corpus size, the stored index carries the standing corpus. The
    * static side's FILE LISTING is fixed at plan time (Spark does not
    * re-list a static parquet join side per micro-batch), so
    * [[appendToIvfIndex]] deltas become visible on the next gate
    * (re)start — and statelessness is exactly what makes that restart
    * free: no state store to rebuild, no watermark to replay. A deployment
    * wanting intra-run pickup rebuilds this frame per batch inside
    * `foreachBatch`. Works identically on a batch `arrivals` frame. */
  def semanticScreenIndexed(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, arrivals: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double, nProbe: Int = 4): DataFrame = {
    val cents = readIvfCentroids(spark, indexPath)
    val c = liveCorpus(spark, indexPath)
    val a = prep(arrivals, idCol, vecCol)
      .select(col("id").as("a_id"), col("vec").as("avec"), col("nrm").as("anrm"),
        probeCells(col("vec"), cents, nProbe).as("cell"))
    a.join(c, Seq("cell"))
      .where(col("id") =!= col("a_id"))
      .withColumn("cosine",
        round(cosinePrenormed(col("vec"), col("avec"), col("nrm"), col("anrm")), 6))
      .where(col("cosine") >= lit(threshold))
      .select(col("a_id"), col("id").as("c_id"), col("cosine"))
  }

  /** Hard-negative mining for contrastive/embedding training: per anchor,
    * its most-similar vector carrying a DIFFERENT label, restricted to the
    * anchor's k-means cell (the [[cellNearDupPairs]] SemDeDup restriction —
    * a hard negative is by definition nearby, so the within-cell candidate
    * set is exactly where they live). Same Σ n_c² bound, never n²; the
    * per-anchor argmax is a bounded window (cosine desc, id asc). Output:
    * (src_id, src_label, neg_id, neg_label, cosine), ≤ 1 row per anchor —
    * anchors whose cell holds no other-label vector emit nothing. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String,
                    centroids: Array[Array[Double]]): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        col(labelCol).as("lbl"))
      .withColumn("nrm", norm(col("vec")))
      .withColumn("cell", nearestCell(col("vec"), centroids))
    val a = base.select(col("id").as("src_id"), col("lbl").as("src_label"),
      col("vec").as("vec_a"), col("nrm").as("nrm_a"), col("cell"))
    val b = base.select(col("id").as("neg_id"), col("lbl").as("neg_label"),
      col("vec").as("vec_b"), col("nrm").as("nrm_b"), col("cell"))
    val cosineExpr =
      round(cosinePrenormed(col("vec_a"), col("vec_b"), col("nrm_a"), col("nrm_b")), 6)
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("neg_id").asc)
    a.as("a").join(b.hint("shuffle_hash").as("b"),
        col("a.cell") === col("b.cell") &&
          col("src_label") =!= col("neg_label"))
      .select(col("src_id"), col("src_label"), col("neg_id"),
        col("neg_label"), cosineExpr.as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
      .drop("rnk")
  }
}
