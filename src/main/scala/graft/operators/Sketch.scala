package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch: a mergeable d×w frequency summary of an unbounded key
  * stream (Cormode & Muthukrishnan 2005). The 100 TB shape of "how often
  * does each of these tokens/URLs/ids occur" when the key universe is too
  * large to materialize but per-key estimates only need to be
  * one-sided-approximate: the sketch is O(d·w) cells regardless of corpus
  * size, partial sketches from any data split merge by cell-wise summation
  * (same property the X47 HLL row exploits for distinct counts), and the
  * estimate min_r cells[r][h_r(key)] NEVER undercounts — collisions only
  * inflate it (by ≤ εN with w = e/ε at confidence 1-δ, d = ln 1/δ).
  *
  * Distributed shape: build is one narrow map (d positions per occurrence)
  * into ONE hash aggregate on (row, position) — map-side partials mean each
  * mapper ships at most d·w cells into the shuffle, not its token count.
  * Estimation broadcasts the d·w-cell sketch table and aggregates min over
  * the d probed cells per key.
  *
  * Hash basis is the engine-portable [[Dedup.md5Hash48]] over
  * `"<row>:<key>"`, so the whole sketch — positions, cells, estimates — is
  * exactly reproducible in the DuckDB oracle (see
  * [[graft.queries.TextQueries]] `sketch_cms_tokens`): the driver
  * hash-compares the full approximate pipeline, not just its shape.
  */
object Sketch {

  /** Row-r hash position of `key` in a width-`width` CMS row: the md5-48
    * fold of `"r:key"` mod width. Key should be a string column (see the
    * [[Sampling]] cross-engine note on binary casts of numerics). */
  def cmsPos(key: Column, row: Int, width: Int): Column =
    pmod(Dedup.md5Hash48(concat(lit(s"$row:"), key)), lit(width.toLong)).cast("int")

  private def posArray(key: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(r => cmsPos(key, r, width)): _*)

  /** Build the sketch from one row per key OCCURRENCE (weight 1 each):
    * output (r, pos, cnt) with at most depth·width rows. Sketches built
    * from disjoint splits of the stream merge by summing cnt on (r, pos) —
    * see [[cmsMerge]]. */
  def cmsBuild(items: DataFrame, keyCol: String,
               depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && width >= 1, "need depth >= 1 and width >= 1")
    items
      .select(posexplode(posArray(col(keyCol), depth, width)).as(Seq("r", "pos")))
      .groupBy(col("r"), col("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise union of partial sketches built with identical (depth,
    * width): the mergeability that lets every executor (or every daily
    * batch) sketch independently. */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ union _)
      .groupBy(col("r"), col("pos"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point estimates for the keys of `probes` (any extra probe columns are
    * preserved): est = min over the d probed cells, absent cell = 0. The
    * sketch side is d·w rows → broadcast; cost is one narrow pass over the
    * probes. Output: probes' columns + `cms_est`. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
                  depth: Int = 4, width: Int = 512): DataFrame = {
    val probeCols = probes.columns.map(col).toSeq
    probes
      .select(probeCols :+
        posexplode(posArray(col(keyCol), depth, width)).as(Seq("r", "pos")): _*)
      .join(broadcast(sketch), Seq("r", "pos"), "left_outer")
      .groupBy(probeCols: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Exact distributed heavy hitters — every key of `items(keyCol)` whose
    * occurrence count is ≥ `supportPerMille`‰ of the total — via the
    * two-pass Misra-Gries protocol (see [[graft.functions.MisraGriesAggregator]]):
    *
    *   1. candidate pass: ONE global aggregate whose partials are ≤
    *      `counters`-entry MG summaries (map-side combined — each mapper
    *      ships a KB-scale map, never its key distribution). MG guarantees
    *      every key above n/(counters+1) survives, so with
    *      supportPerMille·(counters+1) > 1000 the candidate set is a
    *      SUPERSET of the answer regardless of partitioning/merge order.
    *      The corpus total rides the SAME aggregate (count alongside the
    *      MG summary), so candidates and n_total always describe one
    *      consistent snapshot of the input.
    *   2. verify pass: broadcast the ≤ `counters` candidate keys, semi-join
    *      them against the stream at the scan, and count exactly — the
    *      shuffle carries candidate keys only. (This is a second scan of
    *      `items`; a nondeterministic uncached source should be pinned by
    *      the caller before both passes.)
    *
    * Contrast with a naive `groupBy(key).count.filter(...)`: that shuffles
    * the ENTIRE key universe (billions of rows of vocabulary at 100 TB) to
    * find a handful of frequent keys; this shape's shuffles are bounded by
    * `counters` at every stage, at the price of scanning `items` twice —
    * the standard trade for an unmaterializable key space.
    *
    * Output (key, n_exact, n_total), exact and deterministic — the sketch
    * decides only what gets COUNTED, never what gets reported. */
  def heavyHitters(items: DataFrame, keyCol: String,
                   counters: Int, supportPerMille: Int): DataFrame = {
    require(supportPerMille >= 1 && supportPerMille <= 1000,
      s"support must be in (0, 1000]‰, got $supportPerMille")
    require(supportPerMille.toLong * (counters + 1) > 1000,
      s"completeness needs support‰·(counters+1) > 1000: " +
        s"$supportPerMille‰ with $counters counters can miss true heavy hitters")
    // One 1-row summary pass: MG candidates + the exact corpus total.
    // Pinned so its two consumers (explode, scalar) share one scan; the
    // total reaches the filter as a scalar subquery, NOT a crossJoin —
    // no BroadcastNestedLoopJoin ever enters the plan.
    val summary = items
      .agg(graft.functions.MisraGries.candidates(counters)(col(keyCol)).as("c"),
        count(lit(1)).as("n_total"))
      .localCheckpoint(eager = false)
    val candKeys = summary.select(explode(col("c")).as(keyCol))
    items.join(broadcast(candKeys), Seq(keyCol), "left_semi")
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("n_total", summary.select(col("n_total")).scalar())
      .where(col("n_exact") * 1000 >= col("n_total") * supportPerMille)
  }

  /** HDR-style INTEGER log-bucket id for a positive BIGINT value — the
    * mergeable quantile-sketch basis (HdrHistogram's bucketing, the shape
    * behind latency/size percentile observability at fleet scale): values
    * below 2^b map to themselves (exact); above, the bucket keeps the
    * magnitude (MSB index) plus the next `b` mantissa bits, so the bucket
    * lower bound is within relative error 2^-b of every member. ALL
    * arithmetic is integer/string (`length(bin(v))` is the MSB index —
    * DuckDB's `bin` is identical), so the sketch is bit-reproducible
    * cross-engine — no float log2 boundary flips. */
  def hdrBucket(v: Column, b: Int): Column = {
    require(b >= 1 && b <= 20, "b in [1, 20]")
    val msb = TextOps.log2Floor(v)
    // The mantissa step is v >> (msb-b): a true integer shift, never a
    // float division. Spark's `/` promotes integrals to double, whose
    // rounding can flip the bucket by one for values ≥ 2^53 and diverge
    // from the oracle's integer `//` (round-14 advice); shiftright is
    // (BIGINT, INT) → BIGINT, exact at any input. The shift amount is a
    // column, so it goes through call_function (the Scala shorthand only
    // takes literal shift counts).
    when(msb < b, v).otherwise(
      (msb - b) * (1L << b) +
        call_function("shiftright", v.cast("long"), (msb - b).cast("int")))
  }

  /** Lower bound of an [[hdrBucket]] bucket — the quantile estimate the
    * sketch reports. Exact inverse of the bucketing for the bucket's
    * smallest member. Same integer discipline as the bucketing: the
    * magnitude reconstruction is an integer shiftleft, not a double pow —
    * exact for every representable bucket, not just exponents ≤ 53. */
  def hdrLowerBound(bucket: Column, b: Int): Column =
    when(bucket < (1L << b), bucket).otherwise(
      call_function("shiftleft",
        bucket % (1L << b) + (1L << b),
        (shiftright(bucket.cast("long"), b) - 1).cast("int")))

  /** MERGEABLE QUANTILE SKETCH over a positive integer measure: one
    * hash aggregate reduces any data split to ≤ (64-b)·2^b (bucket, n)
    * rows; partial sketches from different splits merge by bucket-wise
    * summation (the HLL/CMS mergeability property, here for ORDER
    * statistics); quantiles read off the merged histogram's cumulative
    * counts with relative error ≤ 2^-b. THE 100 TB alternative to exact
    * `percentile` (whose single buffer holds every value) and to
    * `approx_percentile` (whose sketch bytes are engine-specific and so
    * untestable cross-engine): this sketch's every cell is reproducible
    * arithmetic.
    *
    * Output: one row per (groupCols..., bucket) with the bucket count —
    * store it, merge it, or pass to [[hdrQuantiles]]. */
  def hdrHistogram(items: DataFrame, valueCol: String, b: Int,
                   groupCols: Seq[String] = Nil): DataFrame = {
    val g = groupCols.map(col) :+ hdrBucket(col(valueCol), b).as("bucket")
    items.where(col(valueCol) >= 1L)
      .groupBy(g: _*).agg(count(lit(1)).as("n"))
  }

  /** Quantile estimates from an [[hdrHistogram]] (optionally per group):
    * for each requested per-mille rank, the lower bound of the first
    * bucket whose cumulative count reaches ceil(q‰ · N). The histogram is
    * |buckets|-sized, so the rank window runs over hundreds of rows per
    * group — never corpus-sized. Output: (groupCols..., q_permille,
    * estimate, n_total). */
  def hdrQuantiles(hist: DataFrame, b: Int, qPermille: Seq[Int],
                   groupCols: Seq[String] = Nil): DataFrame = {
    require(qPermille.nonEmpty && qPermille.forall(q => q >= 1 && q <= 1000),
      "ranks in [1, 1000]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("bucket"))
    val cum = hist
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("n_total",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)))
      // |buckets|-sized; pinned so each rank probe reads the materialized
      // histogram instead of replaying the corpus aggregate per quantile
      .localCheckpoint(eager = false)
    val qs = qPermille.map { q =>
      cum.where(col("cum") * 1000L >= col("n_total") * q)
        .groupBy((groupCols.map(col) :+ col("n_total")): _*)
        .agg(min(col("bucket")).as("bucket"))
        .select((groupCols.map(col) :+ lit(q).as("q_permille") :+
          hdrLowerBound(col("bucket"), b).as("estimate") :+
          col("n_total")): _*)
    }
    qs.reduce(_ unionByName _)
  }

  // ── KMV / theta sketch (distinct counts + set intersections) ────────────

  /** Size of the [[Dedup.md5Hash48]] hash space — KMV estimates divide it. */
  val KmvSpace: Long = 1L << 48

  /** K-MINIMUM-VALUES sketches per group (Bar-Yossef et al. 2002; the theta
    * sketch's core): the k smallest DISTINCT 48-bit key hashes of each
    * group, as one bounded typed aggregate ([[graft.functions.KmvAggregator]]
    * — map-side combine ships ≤ k longs per group per mapper; no distinct
    * pre-shuffle is needed because the buffer itself dedupes). The sketch
    * supports DISTINCT-COUNT estimation ([[kmvDistinctEstimate]]) and —
    * unlike HLL — SET INTERSECTION estimation ([[kmvIntersections]]),
    * because the k-min values are a uniform hash SAMPLE of the set, not
    * just a cardinality summary. Mergeable: sketches of disjoint splits
    * merge by re-taking the k smallest of their union (the aggregator's
    * merge — SketchSpec proves split-merge ≡ whole-corpus).
    *
    * Hash basis is the engine-portable md5-48 fold, so every sketch value
    * — and therefore every estimate — is exactly reproducible in the
    * DuckDB oracle. Output: (g, kmv array<long> ascending, kmv_k) — the
    * sketch CARRIES its own k, so the estimators ([[kmvDistinctEstimate]],
    * [[kmvIntersections]]) can never be handed a mismatched k (a silent
    * wrong-θ hazard the round-15 advice flagged: element_at(kmv, k) with a
    * foreign k is null or the wrong rank, and nothing errors). k is capped
    * at 32767 so (k−1)·2^48 and n_common·2^48 both stay inside Long. */
  def kmvSketches(items: DataFrame, groupCol: String, keyCol: String,
                  k: Int): DataFrame = {
    require(k >= 2, "k >= 2 (the estimator divides by the k-th value)")
    require(k <= 32767,
      s"k=$k > 32767 overflows the (k-1)*2^48 estimator numerator")
    items
      .select(col(groupCol).as("g"), Dedup.md5Hash48(col(keyCol)).as("h"))
      .groupBy(col("g"))
      .agg(graft.functions.KmvAggregator.kmv(k)(col("h")).as("kmv"))
      .withColumn("kmv_k", lit(k))
  }

  private def requireCarriedK(sketches: DataFrame): Unit =
    require(sketches.columns.contains("kmv_k"),
      "not a kmvSketches output: the kmv_k column (the k the sketch was " +
        "built with) is missing")

  /** The sketch's inclusion threshold θ: the k-th smallest hash, or the
    * full hash space when the group holds fewer than k distinct values
    * (the sketch IS the whole set — estimates become exact). k comes from
    * the sketch row itself, never from a caller parameter. */
  private def theta(kmv: Column, k: Column): Column =
    when(size(kmv) < k, lit(KmvSpace)).otherwise(element_at(kmv, k.cast("int")))

  /** Distinct-count estimate per sketch row: (k−1)·2^48 / θ (integer
    * division — bit-reproducible), exact when the group has < k distinct
    * values. k is read from the sketch's own kmv_k column. Output adds
    * (n_sketch, kmv_est). */
  def kmvDistinctEstimate(sketches: DataFrame): DataFrame = {
    requireCarriedK(sketches)
    sketches
      .withColumn("n_sketch", size(col("kmv")).cast("long"))
      .withColumn("kmv_est",
        when(col("n_sketch") < col("kmv_k"), col("n_sketch"))
          .otherwise(expr(s"((kmv_k - 1L) * ${KmvSpace}L) div " +
            "element_at(kmv, cast(kmv_k as int))")))
  }

  /** PAIRWISE INTERSECTION estimates from one sketch table: for every
    * group pair (g_a < g_b), θ = min(θ_a, θ_b); every hash < θ is in a
    * sketch iff it is in that group's set (k-min keeps ALL values below
    * its θ), so the common sketch values below θ are a uniform sample of
    * the intersection with known inclusion threshold — estimate =
    * n_common · 2^48 / θ. The HLL row (X47) cannot do this: cardinality
    * summaries don't intersect; hash SAMPLES do (the theta-sketch
    * insight).
    *
    * Scale shape: the pair join runs over |groups| sketch rows of k longs
    * each — metadata cardinality (the corpus was reduced by the one
    * aggregate in [[kmvSketches]]); array_intersect is per-pair O(k).
    * Each side's θ uses ITS OWN carried k, so sketches built at different
    * resolutions intersect correctly (θ = min of the two thresholds). */
  def kmvIntersections(sketches: DataFrame): DataFrame = {
    requireCarriedK(sketches)
    val a = sketches.select(col("g").as("g_a"), col("kmv").as("kv_a"),
      col("kmv_k").as("k_a"))
    val b = sketches.select(col("g").as("g_b"), col("kmv").as("kv_b"),
      col("kmv_k").as("k_b"))
    a.join(b, col("g_a") < col("g_b"))
      .withColumn("theta",
        least(theta(col("kv_a"), col("k_a")), theta(col("kv_b"), col("k_b"))))
      .withColumn("n_common",
        size(filter(array_intersect(col("kv_a"), col("kv_b")),
          v => v < col("theta"))).cast("long"))
      .withColumn("kmv_common_est",
        expr(s"(n_common * $KmvSpace" + "L) div theta"))
      .select(col("g_a"), col("g_b"), col("n_common"), col("kmv_common_est"))
  }

  /** PAIRWISE SET-DIFFERENCE estimates — the theta sketch's A-NOT-B
    * operation (the third of the set-algebra trio HLL cannot do; DataSketches
    * ships it as its own operator for the same reason): below the pair's
    * θ = min(θ_a, θ_b), A's sketch values are a uniform θ/2^48-rate sample
    * of A, and membership in B is DECIDABLE for every such value (kv_b
    * holds ALL of B's hashes below θ_b ≥ θ) — so the sample values absent
    * from kv_b are a uniform sample of A∖B with known rate, and
    * |A∖B| ≈ n_only · 2^48 / θ (exact integer arithmetic, exact result
    * when both groups are under-full). Both directions are emitted per
    * unordered pair. Same metadata-cardinality plan shape as
    * [[kmvIntersections]]: |groups|² bounded pair join over k-long rows.
    *
    * Output: (g_a, g_b, n_only_a, n_only_b, kmv_anotb_est, kmv_bnota_est). */
  def kmvDifferences(sketches: DataFrame): DataFrame = {
    requireCarriedK(sketches)
    val a = sketches.select(col("g").as("g_a"), col("kmv").as("kv_a"),
      col("kmv_k").as("k_a"))
    val b = sketches.select(col("g").as("g_b"), col("kmv").as("kv_b"),
      col("kmv_k").as("k_b"))
    a.join(b, col("g_a") < col("g_b"))
      .withColumn("theta",
        least(theta(col("kv_a"), col("k_a")), theta(col("kv_b"), col("k_b"))))
      .withColumn("n_common",
        size(filter(array_intersect(col("kv_a"), col("kv_b")),
          v => v < col("theta"))).cast("long"))
      .withColumn("n_only_a",
        size(filter(col("kv_a"), v => v < col("theta"))).cast("long")
          - col("n_common"))
      .withColumn("n_only_b",
        size(filter(col("kv_b"), v => v < col("theta"))).cast("long")
          - col("n_common"))
      .withColumn("kmv_anotb_est",
        expr(s"(n_only_a * $KmvSpace" + "L) div theta"))
      .withColumn("kmv_bnota_est",
        expr(s"(n_only_b * $KmvSpace" + "L) div theta"))
      .select(col("g_a"), col("g_b"), col("n_only_a"), col("n_only_b"),
        col("kmv_anotb_est"), col("kmv_bnota_est"))
  }
}
