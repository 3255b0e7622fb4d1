package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation.
  *
  * `df.sample()` / `sampleBy()` draw from a seeded RNG whose stream depends
  * on partitioning — re-running after a repartition, a cluster resize, or an
  * AQE re-plan yields a DIFFERENT sample, which poisons dataset
  * reproducibility and dedup-across-snapshots. Content-hash sampling decides
  * membership from the ROW KEY alone: `hash(key) mod 1000 < permille`. The
  * same row lands in the same sample on any cluster, any partitioning, any
  * engine — the standard technique for reproducible corpus subsetting (and
  * for consistent train/eval splits by document/URL hash).
  *
  * Hash basis is [[Dedup.md5Hash48]], so the selection is exactly
  * reproducible in the DuckDB oracle (and any other md5-capable system) —
  * a seeded-RNG sample could only ever get a rows-only check.
  *
  * All operators are narrow scans (a predicate on a hash of existing
  * columns): no shuffle, full pushdown of any surrounding filters, scan
  * speed at 100 TB.
  */
object Sampling {

  // Key should be a STRING column for cross-engine reproducibility: md5
  // runs over the key's binary cast, and binary encodings of numeric types
  // differ between engines (Spark big-endian longs vs SQL varchar casts).
  // For numeric ids, pass cast-to-string explicitly on both sides.
  private def bucket(key: Column): Column =
    pmod(Dedup.md5Hash48(key), lit(1000L))

  /** RENDEZVOUS (highest-random-weight) STABLE SHARDING — assign each row
    * to argmax_s hash(key, s) over `nShards` shard ids. The property mod-N
    * sharding lacks: growing N to N+1 moves ONLY the rows whose new argmax
    * is the NEW shard (an old shard can never overtake another old shard —
    * their hashes didn't change), expected 1/(N+1) of the corpus, vs
    * `key % N` reshuffling (N−1)/N of it. That is what makes incremental
    * reprocessing cheap when a sharded pipeline scales out: stable shards
    * = stable caches, stable dedup indexes, stable ANN cells.
    *
    * Deterministic and engine-replayable: the per-(key, s) weight is the
    * md5-48 fold ([[Dedup.md5Hash48]] over `key#s`), so the DuckDB oracle
    * recomputes the full assignment. Per-row cost is O(nShards) hashes —
    * a narrow projection, no shuffle; ties (2⁻⁴⁸ per pair) break toward
    * the larger shard id on both engines. */
  def rendezvousShard(df: DataFrame, keyCol: String, nShards: Int,
                      as: String = "shard"): DataFrame = {
    require(nShards >= 1, "need at least one shard")
    val weights = transform(sequence(lit(0), lit(nShards - 1)),
      s => struct(
        Dedup.md5Hash48(concat(col(keyCol).cast("string"), lit("#"),
          s.cast("string"))).as("h"),
        s.as("s")))
    df.withColumn(as, array_max(weights).getField("s"))
  }

  /** Keep rows whose key hashes into the first `permille` of 1000 buckets.
    * Deterministic, partitioning-independent; expected rate permille/1000
    * with exact-membership stability. */
  def hashSample(df: DataFrame, keyCol: String, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000, "permille in [0, 1000]")
    df.where(bucket(col(keyCol)) < permille)
  }

  /** Disjoint deterministic split: rows where hash lands in
    * [loPermille, hiPermille) — `split(df, k, 0, 900)` / `split(df, k, 900,
    * 1000)` give a reproducible 90/10 train/eval partition with no row in
    * both sides, stable under corpus growth (old rows never migrate). */
  def hashSplit(df: DataFrame, keyCol: String,
                loPermille: Int, hiPermille: Int): DataFrame = {
    require(0 <= loPermille && loPermille <= hiPermille && hiPermille <= 1000,
      "need 0 <= lo <= hi <= 1000")
    val b = bucket(col(keyCol))
    df.where(b >= loPermille && b < hiPermille)
  }

  /** Per-stratum deterministic rates: `rates` maps stratum value →
    * permille; strata absent from the map fall back to `defaultPermille`.
    * The hash-mod variant of `sampleBy`, with the same reproducibility
    * guarantees as [[hashSample]]. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
                           rates: Map[String, Int],
                           defaultPermille: Int = 0): DataFrame = {
    require((defaultPermille +: rates.values.toSeq).forall(r => r >= 0 && r <= 1000),
      "permille in [0, 1000]")
    val rate = rates.foldLeft(lit(defaultPermille)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.where(bucket(col(keyCol)) < rate)
  }

  /** Resample to TARGET MIXTURE PROPORTIONS — the data-mixing primitive: a
    * pretraining recipe specifies the final corpus composition ("50% en,
    * 25% fr, 12.5% de, 12.5% es"), not per-stratum keep rates. Given target
    * shares in permille of the FINAL mix, the operator derives the largest
    * achievable total T (the binding stratum is kept whole; every other
    * stratum downsamples to its share of T) and keeps each stratum at its
    * derived hash-rate. Strata absent from `sharesPermille` are dropped.
    *
    * The derivation is INTEGER arithmetic end to end (`div`, the
    * contamination_bp lesson: floor over a double quotient disagrees with
    * integer floor-div at large counts):
    *   T          = min over strata of (n_s · 1000 div w_s)
    *   target_s   = T · w_s div 1000
    *   permille_s = target_s · 1000 div n_s
    * so the derived rates — and therefore membership — are bit-identical in
    * any engine. Membership itself is the [[hashSample]] content-hash rule.
    *
    * Plan shape: one tiny per-stratum count aggregate (|strata| rows), a
    * 1-row min, rates broadcast back, then a narrow filter scan — the corpus
    * is shuffled zero times. The realized mix tracks the target to hash-rate
    * granularity (±1 permille per stratum), which at corpus scale is
    * exact-to-rounding; membership is stable under repartition and growth
    * only WITHIN a stratum count snapshot (rates re-derive as counts move —
    * that is the semantics of a proportion target, unlike [[hashSample]]'s
    * fixed rate).
    */
  def mixtureSample(df: DataFrame, keyCol: String, strataCol: String,
                    sharesPermille: Map[String, Int]): DataFrame = {
    require(sharesPermille.nonEmpty &&
      sharesPermille.values.forall(w => w > 0 && w <= 1000),
      "shares must be positive permille values")
    require(sharesPermille.values.sum <= 1000,
      "shares must sum to at most 1000 permille")
    val spark = df.sparkSession
    import spark.implicits._
    val shares = sharesPermille.toSeq.toDF(strataCol, "__w")
    // pinned: the |strata|-row count table feeds BOTH the min-total and the
    // rate projection — unpinned, each consumer re-runs the corpus count
    // scan (pre-exchange scans are outside Spark's exchange reuse).
    val counts = df.join(broadcast(shares), strataCol)
      .groupBy(col(strataCol), col("__w"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(eager = false)
    val maxTotal = counts.agg(min(expr("__n * 1000 div __w")).as("__T"))
    val rates = counts.crossJoin(broadcast(maxTotal))
      .select(col(strataCol),
        expr("((__T * __w) div 1000) * 1000 div __n").as("__p"))
    df.join(broadcast(rates), strataCol)
      .where(bucket(col(keyCol)) < col("__p"))
      .select(df.columns.map(col): _*)
  }

  /** TEMPERATURE-flattened mixture at α = 1/2 — the multilingual-corpus
    * rebalancing rule (sampling probability ∝ n_l^α flattens the size
    * distribution so high-resource strata stop drowning the tail; α = 1/2
    * is the classic multilingual-pretraining setting). Unlike
    * [[mixtureSample]] the target shares are DERIVED from the corpus:
    * w_l = ⌊√n_l⌋, exact in both engines because IEEE-754 requires sqrt
    * correctly rounded (the one libm function that IS engine-identical;
    * n_l ≪ 2⁵³ keeps the double exact). Everything after the sqrt is
    * integer: T = min_l(n_l·Σw div w_l) is the largest total no stratum can
    * overdraw, target_l = (T·w_l) div Σw, keep-rate permille =
    * target_l·1000 div n_l, membership = content-hash bucket < rate (the
    * [[hashSample]] determinism).
    *
    * Plan shape mirrors [[mixtureSample]]: one |strata|-row count
    * aggregate (pinned — it feeds Σw, T, and the rate projection), two
    * 1-row scalars, rates broadcast back, one narrow filter scan; the
    * corpus is never shuffled. The stratum that binds T keeps rate ≈1000
    * (fully kept) up to integer-floor loss in T and the target — e.g.
    * n={10,100} gives w={3,10}, Σw=13, T=43, target=⌊43·3/13⌋=9, rate
    * 900‰ for the small stratum — α < 1 still only ever DOWN-samples the
    * large strata, never replicates the small ones, and rates are exact
    * integers in both engines. */
  def temperatureMixture(df: DataFrame, keyCol: String, strataCol: String): DataFrame = {
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n"))).cast("long"))
      .localCheckpoint(eager = false)
    val sw = counts.agg(sum(col("__w")).as("__sw"))
    val t = counts.withColumn("__sw", sw.scalar())
      .agg(min(expr("__n * __sw div __w")).as("__T"))
    val rates = counts
      .withColumn("__sw", sw.scalar())
      .withColumn("__T", t.scalar())
      .select(col(strataCol), expr("((__T * __w) div __sw) * 1000 div __n").as("__p"))
    df.join(broadcast(rates), strataCol)
      .where(bucket(col(keyCol)) < col("__p"))
      .select(df.columns.map(col): _*)
  }

  /** DETERMINISTIC FRACTIONAL UPSAMPLING — mixture weights ABOVE 1×: a
    * pretraining recipe that REPEATS rare-domain data ("epochs over the
    * tail": 2.5× zh, 3× code) needs w > 1000‰, which no keep-rate filter
    * can express. Each row emits ⌊w/1000⌋ whole copies plus one more iff
    * its content-hash bucket < (w mod 1000) — so a 2500‰ stratum gets
    * exactly 2 copies of every row and a 3rd for a deterministic ~half of
    * them, realizing the fractional multiplier without RNG. Weights below
    * 1000‰ degrade to [[stratifiedHashSample]] (0 or 1 copies), so one
    * operator covers the whole mixture-weight line; unlisted strata take
    * `defaultPermille` (1000 = pass through unchanged, 0 = drop).
    *
    * Copies carry a `repeat_idx` column (0..copies−1) so downstream
    * shuffling/packing can tell repetitions apart (and epoch-aware
    * curricula can, e.g., keep idx 0 only in epoch 1). Determinism is the
    * [[hashSample]] contract: the same row gets the same copy count on any
    * cluster, any partitioning, any engine.
    *
    * Plan shape: a when-chain weight lookup (no join node at all), the
    * copy-count arithmetic, and one generate (explode of a ≤⌈w⌉-element
    * sequence) — entirely narrow, zero shuffles, output size n·w̄ by
    * construction. At 100 TB the generate streams: no row ever holds more
    * than ⌈max w⌉ elements. */
  def upsampleMixture(df: DataFrame, keyCol: String, strataCol: String,
                      weightsPermille: Map[String, Int],
                      defaultPermille: Int = 1000): DataFrame = {
    require((defaultPermille +: weightsPermille.values.toSeq).forall(_ >= 0),
      "weights are non-negative permille multipliers")
    val w = weightsPermille.foldLeft(lit(defaultPermille)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("__w", w.cast("long"))
      .withColumn("__copies",
        expr("__w div 1000") +
          when(bucket(col(keyCol)) < pmod(col("__w"), lit(1000L)), lit(1L))
            .otherwise(lit(0L)))
      .where(col("__copies") >= 1L)
      .withColumn("repeat_idx",
        explode(sequence(lit(0L), col("__copies") - 1L)))
      .select(df.columns.map(col) :+ col("repeat_idx"): _*)
  }

  /** DETERMINISTIC GLOBAL SHUFFLE ORDER — contiguous positions 0..n−1 in a
    * salted content-hash permutation: the epoch-shuffle primitive of a
    * training pipeline (each epoch's read order must be a reproducible
    * pseudo-random permutation — resume-from-step and data-order ablations
    * both need position k to mean the same document on every run and every
    * cluster). A different `salt` yields an independent permutation: the
    * per-epoch reshuffle is just `globalHashOrder(df, key, id, salt = s"ep$i")`.
    *
    * Positions are a distributed enumeration (the zipWithIndex semantics as
    * pure DataFrame ops, partitioning-independent where RDD zipWithIndex is
    * not): per-bucket COUNTS (metadata-sized agg) → running offsets over
    * `buckets` rows (the only unpartitioned window, driver-trivial) →
    * per-bucket row_number in (hash, id) order, shifted by the bucket
    * offset. No global single-partition sort at any corpus size — the
    * [[budgetHead]] two-level discipline applied to numbering instead of
    * cumulative weight. Output: (idCol, position). */
  def globalHashOrder(df: DataFrame, keyCol: String, idCol: String,
                      salt: String = "epoch0", buckets: Int = 64): DataFrame = {
    require(buckets > 0, "buckets > 0")
    import org.apache.spark.sql.expressions.Window
    val withB = df
      .withColumn("__h", Dedup.md5Hash48(
        concat(lit(salt), lit(":"), col(keyCol))))
      .withColumn("__b", pmod(col("__h"), lit(buckets.toLong)))
    val perBucket = withB.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__off", coalesce(sum(col("__n")).over(wB), lit(0L)))
      .select(col("__b"), col("__off"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__h"), col(idCol))
    withB.join(broadcast(offsets), "__b")
      .withColumn("position",
        col("__off") + row_number().over(wIn).cast("long") - 1L)
      .select(col(idCol), col("position"))
  }

  /** CURRICULUM ORDER — [[globalHashOrder]] generalized to PRIORITY BANDS:
    * contiguous global positions 0..n−1 ordered by (band asc, salted hash,
    * id), i.e. all of band 0 (the material to train on first — highest
    * quality, cleanest sources) precedes all of band 1, and WITHIN a band
    * the order is the reproducible pseudo-random hash permutation. The
    * curriculum-learning data order, deterministic on any cluster layout.
    *
    * Same two-level numbering (no global single-partition sort): the
    * coarse bucket is (band, h ≫ 42) — the hash's high 6 bits are a
    * monotone PREFIX of the within-band hash order, so bucket order
    * refines to the total order and per-bucket row_number + broadcast
    * bucket offsets compose exact global positions. Output: (idCol, band,
    * position). */
  def bandedHashOrder(df: DataFrame, bandCol: String, keyCol: String,
                      idCol: String, salt: String = "cur0"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hi = 1L << 42 // md5Hash48 < 2^48 → h div 2^42 ∈ [0, 64)
    val withB = df
      .withColumn("__h", Dedup.md5Hash48(
        concat(lit(salt), lit(":"), col(keyCol))))
      .withColumn("__b",
        col(bandCol).cast("long") * 64L + expr(s"__h div $hi"))
    val perBucket = withB.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__off", coalesce(sum(col("__n")).over(wB), lit(0L)))
      .select(col("__b"), col("__off"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__h"), col(idCol))
    withB.join(broadcast(offsets), "__b")
      .withColumn("position",
        col("__off") + row_number().over(wIn).cast("long") - 1L)
      .select(col(idCol), col(bandCol), col("position"))
  }

  /** LENGTH-BUCKETED BATCH ASSIGNMENT — the inference/packing batcher:
    * rows bucket by length (padding waste inside a batch is bounded by the
    * bucket's width), then each bucket is cut into deterministic
    * `batchSize`-row batches in salted content-hash order. Output:
    * (idCol, bucket, batch, slot) — batch/slot are a pure function of
    * content, so the same document lands in the same batch on every run,
    * every cluster, every partitioning (resume-safe inference).
    *
    * `bounds` are ascending lower-bound cut points: bucket = #bounds ≤ len
    * (bucket 0 = below the first bound). Positions come from
    * [[bandedHashOrder]] (band = bucket) — the order-preserving two-level
    * numbering, no global single-partition sort — and convert to per-bucket
    * batch/slot by subtracting |buckets|-row broadcast offsets: ONE window
    * over bucket counts, never over rows. */
  def lengthBatches(df: DataFrame, keyCol: String, idCol: String,
                    lenCol: String, bounds: Seq[Long], batchSize: Int,
                    salt: String = "len0"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batchSize > 0, "batchSize > 0")
    require(bounds.nonEmpty && bounds == bounds.sorted &&
      bounds.distinct == bounds, "bounds must be ascending and distinct")
    val bucket = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(lenCol) >= b, 1L).otherwise(0L)
    }
    val pos = bandedHashOrder(df.withColumn("__bucket", bucket),
      "__bucket", keyCol, idCol, salt)
    val wB = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = pos.groupBy(col("__bucket")).agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wB), lit(0L)))
      .select(col("__bucket"), col("__off"))
    pos.join(broadcast(off), "__bucket")
      .select(col(idCol), col("__bucket").as("bucket"),
        expr(s"(position - __off) div $batchSize").as("batch"),
        expr(s"(position - __off) % $batchSize").as("slot"))
  }

  /** WEIGHTED Poisson sampling: include each row independently with
    * probability proportional to its weight, π_i = min(1, n·w_i/W) — the
    * importance-sampling primitive (draw a ~n-row sample where a
    * 10000-token doc is 100× likelier than a 100-token one; downstream
    * estimators reweight by 1/π). Expected sample size is ≤ n with equality
    * when no weight saturates π at 1.
    *
    * Membership is the content-hash rule of every sampler here — keep iff
    *   u · W < n · w · M,  u = md5₄₈(key) mod M
    * — which realizes π quantized to 1/M (M = 10⁶ by default) with NO
    * floating point: the comparison runs in DECIMAL(38,0) on both engines
    * because u·W overflows a 64-bit long once W (the corpus weight total,
    * attached as an uncorrelated scalar subquery — no join node) passes
    * ~10¹³ at corpus scale. Same row, same decision, on any cluster, any
    * partitioning, any md5-capable engine.
    *
    * Plan: one 1-row total aggregate + a narrow filter scan — the corpus
    * shuffles zero times. */
  def weightedPoissonSample(df: DataFrame, keyCol: String, weightCol: String,
                            expectedN: Long,
                            granularity: Long = 1000000L): DataFrame = {
    require(expectedN >= 0 && granularity > 0, "expectedN >= 0, granularity > 0")
    val tot = df.agg(sum(col(weightCol).cast("long")).as("__W"))
    df.withColumn("__u", pmod(Dedup.md5Hash48(col(keyCol)), lit(granularity)))
      .withColumn("__W", tot.scalar())
      .where(expr(
        s"""cast(__u AS decimal(38,0)) * cast(__W AS decimal(38,0)) <
           |cast($expectedN AS decimal(38,0)) * cast($weightCol AS decimal(38,0))
           |  * cast($granularity AS decimal(38,0))""".stripMargin))
      .select(df.columns.map(col): _*)
  }

  /** At most `k` rows per key — cap-per-source downsampling (a dominant
    * domain must not flood a training corpus). Keeps the k smallest
    * (content-hash, id) rows per key, so membership is a pure function of
    * content like every sampler here: stable across partitionings, engines
    * and corpus growth (a kept row is only ever evicted by a NEW smaller
    * hash, never by a re-shuffle). Implemented with the bounded
    * [[graft.functions.TopKAggregator]] — map-side combine ships ≤ k rows
    * per key per mapper; a `row_number` window instead would shuffle and
    * SORT every key's full row set, which melts on a hot key at 100 TB
    * (the same argument as `window_topk_agg` vs `window_topk_per_brand`).
    * Returns (keyCol, idCol) survivors. */
  def capPerKey(df: DataFrame, keyCol: String, textCol: String,
                idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // Negated 48-bit hash (exact in Double) turns the aggregator's
    // value-DESC order into hash-ASC selection; ties break id-ASC.
    val scored = df.select(col(keyCol),
      (-Dedup.md5Hash48(col(textCol)).cast("double")).as("v"),
      col(idCol).cast("long").as("i"))
    scored.groupBy(keyCol)
      .agg(graft.functions.TopKAggregator.topK(k)(col("v"), col("i")).as("top"))
      .select(col(keyCol), explode(col("top.id")).as(idCol))
  }

  /** TARGETED SELECTION by hashed-feature coverage (DSIR-lite, integer-
    * exact): score every candidate document by how much of its vocabulary
    * overlaps a TARGET domain's most frequent features — the
    * importance-resampling idea of Xie et al.'s DSIR (select pretraining
    * data that looks like the target distribution), restated in exact
    * integer arithmetic so the ranking is bit-reproducible cross-engine
    * (the floating log-likelihood-ratio form would not hash-match DuckDB;
    * this repo's libm lesson).
    *
    *   1. features: per-document DISTINCT unigram tokens, hashed to 48-bit
    *      ids ([[Dedup.md5Hash48]] — the hashing trick bounds the feature
    *      space at any corpus size);
    *   2. the target profile: the `topFeatures` most document-frequent
    *      feature ids among `targetPred` docs (ties broken by feature id —
    *      deterministic), a BOUNDED set by construction;
    *   3. every non-target doc scores `matched` (its distinct features in
    *      the profile) out of `n_features`, as integer basis points.
    *
    * Scale shape: one (id, h)-distinct shuffle over the exploded token
    * table; the target profile is a TakeOrdered over the feature aggregate
    * (never a full sort) and BROADCASTS (topFeatures rows); scoring is one
    * per-doc hash aggregate. Nothing is corpus×corpus; the profile is the
    * only collected artifact and is bounded by `topFeatures`.
    *
    * Output: (id, n_features, matched, coverage_bp) for every candidate
    * doc with ≥ 1 token; callers rank by (coverage_bp, id) and cut. */
  def targetCoverageScores(df: DataFrame, idCol: String, textCol: String,
                           targetPred: Column, topFeatures: Int): DataFrame = {
    require(topFeatures > 0, "topFeatures > 0")
    // A NULL predicate (e.g. `col("lang") === "en"` on a null lang) must
    // mean "candidate", not "vanish": where(__tgt) and where(!__tgt) BOTH
    // filter NULL, so without the coalesce such docs appeared in neither
    // the target profile nor the scored output (round-15 advice).
    val pred = coalesce(targetPred.cast("boolean"), lit(false))
    val toks = df.select(col(idCol).as("id"), pred.as("__tgt"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("w"))
      .select(col("id"), col("__tgt"), Dedup.md5Hash48(col("w")).as("h"))
      .distinct() // distinct features per doc (48-bit collisions merge)
      // feeds BOTH the profile aggregate and the scoring join — pin it so
      // the corpus-sized explode+hash+distinct runs once, not twice
      .localCheckpoint(eager = false)
    val profile = toks.where(col("__tgt"))
      .groupBy(col("h")).agg(count(lit(1)).as("df_t"))
      .orderBy(col("df_t").desc, col("h")).limit(topFeatures)
      .select(col("h"), lit(1L).as("__m"))
    toks.where(!col("__tgt"))
      .join(broadcast(profile), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_features"),
        sum(coalesce(col("__m"), lit(0L))).as("matched"))
      .withColumn("coverage_bp", expr("matched * 10000 div n_features"))
  }

  /** Deterministic budget head: keep rows, in content-hash order, while the
    * running `weightCol` total (tokens, chars, bytes) stays within `budget`
    * — corpus truncation to a target training-token count, reproducibly
    * ("the first N tokens' worth of the corpus"). Selection order is
    * (hash-bucket, content-hash, id): a pure content permutation, so
    * membership is partitioning/engine-independent like every sampler here.
    *
    * The running sum is a TWO-LEVEL prefix sum — the scale-correct shape
    * for a global cumulative sum, which as a single window would sort the
    * entire corpus in ONE partition:
    *   1. per-bucket weight totals — one tiny agg (`buckets` rows);
    *   2. running offsets over that metadata-sized table (the only
    *      unpartitioned window, over `buckets` rows — trivially small);
    *   3. offsets broadcast back; each bucket computes its own window
    *      cumsum over |corpus|/buckets rows in parallel.
    * At larger scale raise `buckets`: stage 2 stays metadata-sized while
    * stage 3's per-partition sort shrinks proportionally. */
  def budgetHead(df: DataFrame, textCol: String, weightCol: String,
                 idCol: String, budget: Long, buckets: Int = 64): DataFrame = {
    require(budget >= 0 && buckets > 0, "budget >= 0, buckets > 0")
    import org.apache.spark.sql.expressions.Window
    val withB = df
      .withColumn("__h", Dedup.md5Hash48(col(textCol)))
      .withColumn("__b", pmod(col("__h"), lit(buckets.toLong)))
    val perBucket = withB.groupBy(col("__b"))
      .agg(sum(col(weightCol).cast("long")).as("__t"))
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__off", coalesce(sum(col("__t")).over(wB), lit(0L)))
      .select(col("__b"), col("__off"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__h"), col(idCol))
    withB.join(broadcast(offsets), "__b")
      .withColumn("__cum",
        col("__off") + sum(col(weightCol).cast("long")).over(wIn))
      .where(col("__cum") <= budget)
      .select(df.columns.map(col): _*)
  }
}
