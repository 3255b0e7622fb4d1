package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout keys: interleave the bits of two dimension
  * columns so that sorting by the single z value clusters BOTH dimensions at
  * once — the multi-dimensional data-skipping layout (Delta/Iceberg
  * `OPTIMIZE ZORDER BY`, re-expressed as plain columns + range partitioning).
  *
  * Why it matters at 100 TB: parquet readers prune row groups by min/max
  * stats. A corpus sorted by one key gives perfect pruning on that key and
  * NONE on any other; a z-sorted layout bounds BOTH dimension ranges inside
  * every z-contiguous run — an aligned bucket of 4^k consecutive z values
  * spans < 2^k distinct values of EACH dimension (the top 2(bits−k)
  * interleaved bits are fixed, so each dimension's top bits−k bits are
  * fixed). Queries filtering on either dimension skip most files.
  *
  * The z value is a pure codegen'd integer expression (2·bits shift/mask
  * terms, no UDF); layout itself is [[zOrderBy]] = range partition + local
  * sort — one shuffle, no global single-partition sort.
  */
object Layout {

  /** Morton-interleave the low `bits` bits of two non-negative integer
    * columns: bit i of `a` → z bit 2i, bit i of `b` → z bit 2i+1. Values
    * must already be bucketed into [0, 2^bits) — compose with pmod/width
    * bucketing as needed. */
  def zValue2(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1, 31]")
    zValueN(Seq(a, b), bits)
  }

  /** N-dimension Morton interleave — bit i of column j lands at z bit
    * N·i + j — the multi-column data-skipping layout production lakehouses
    * run (Delta/Iceberg OPTIMIZE ZORDER BY takes 3-4 columns routinely):
    * each additional interleaved dimension trades per-dimension run length
    * for locality in ALL of them, so per-file min/max stats stay tight on
    * every listed column and a predicate on ANY subset prunes files.
    * Values must already be bucketed into [0, 2^bits); N·bits ≤ 63 keeps
    * the z value inside a BIGINT. Pure column arithmetic (shifts and
    * adds) — codegen-friendly, engine-portable, DuckDB-replayable. */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1, "at least one column")
    require(bits >= 1 && n * bits <= 63, s"need n*bits <= 63, got $n*$bits")
    val longs = cols.map(_.cast("long"))
    (0 until bits).flatMap { i =>
      longs.zipWithIndex.map { case (c, j) =>
        (shiftright(c, i) % 2L) * lit(1L << (n * i + j))
      }
    }.reduce(_ + _)
  }

  /** Per-FILE column statistics table — the lakehouse data-skipping INDEX
    * (Delta/Iceberg collect exactly this into their transaction/manifest
    * metadata): one row per physical file with min/max/count for each
    * listed column, computed by one scan grouped on `input_file_name()`.
    * |files|-sized output (metadata, not corpus), so it collects/joins
    * cheaply at any corpus size; refresh is incremental by construction
    * (stats of new files append — old files are immutable).
    *
    * Output: (file, n, min_<c>, max_<c> per column). */
  def fileStats(df: DataFrame, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "at least one stat column")
    val aggs = statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** STATS-PRUNED READ — the read path over [[fileStats]]: keep only files
    * whose [min, max] envelope can intersect the predicate (`keep` over
    * the stats row decides), read THAT file list, and re-apply the exact
    * predicate as the residual filter (stats prune conservatively; the
    * residual keeps semantics exact — the same contract as parquet
    * row-group skipping, one level up). The file list is a bounded
    * driver-side collect of the metadata table — |files| strings, the
    * index-metadata discipline — and an oracle comparing against the
    * unpruned scan proves the planner dropped no qualifying file. Empty
    * selections return the empty frame with the source schema. */
  def statsPrunedRead(spark: org.apache.spark.sql.SparkSession,
                      path: String, statCols: Seq[String],
                      keep: Column): DataFrame = {
    val full = spark.read.parquet(path)
    val files = fileStats(full, statCols)
      .where(keep).select(col("file")).collect().map(_.getString(0))
    if (files.isEmpty) full.where(lit(false))
    else spark.read.parquet(files.toIndexedSeq: _*)
  }

  /** INCREMENTAL maintenance of the [[fileStats]] index — the lakehouse
    * stats-collection contract: data files are immutable, so refreshing
    * the index after an append/compaction scans ONLY files the stored
    * index has not seen (set difference of bounded file listings — never
    * a corpus re-scan), appending their stats rows. Returns the number of
    * newly scanned files so callers (and the spec) can PROVE the
    * incremental property. Stale rows for files later deleted by
    * compaction are handled at read time ([[readFileStats]] keeps live
    * files only); vacuum them on a cadence like any snapshot store. */
  def updateFileStats(spark: org.apache.spark.sql.SparkSession,
                      statsDir: String, dataDir: String,
                      statCols: Seq[String]): Int = {
    val current = spark.read.parquet(dataDir).inputFiles.map(norm).toSet
    val known: Set[String] =
      if (new java.io.File(statsDir).isDirectory)
        spark.read.parquet(statsDir).select(col("file"))
          .collect().map(r => norm(r.getString(0))).toSet
      else Set.empty
    val fresh = (current -- known).toSeq.sorted
    if (fresh.nonEmpty)
      fileStats(spark.read.parquet(fresh: _*), statCols)
        .write.mode("append").parquet(statsDir)
    fresh.size
  }

  /** The STORED stats index restricted to files still live in `dataDir`
    * (compaction deletes files; their stats rows become stale, not wrong).
    * The live-file list is |files|-sized — it joins, never `isin`s. */
  def readFileStats(spark: org.apache.spark.sql.SparkSession,
                    statsDir: String, dataDir: String): DataFrame = {
    import spark.implicits._
    val live = spark.read.parquet(dataDir).inputFiles.map(norm).toSeq
      .toDF("__live")
    val stats = spark.read.parquet(statsDir)
    stats.join(live, norm0(stats("file")) === col("__live"), "left_semi")
  }

  /** The path of a file URI: "file:///x" and "file:/x" are the same path. */
  private def norm(u: String): String = new java.net.URI(u).getPath

  /** Column-side twin of [[norm]]. */
  private def norm0(c: Column): Column =
    regexp_replace(c, "^[a-z]+:/+", "/")

  /** [[statsPrunedRead]] over the STORED index — the production read path
    * where stats come from [[updateFileStats]]'s table, not a fresh scan.
    *
    * COMPLETENESS GUARD (round-14 advice): [[readFileStats]] only filters
    * STALE index rows (files compaction deleted); it cannot detect MISSING
    * coverage — a live data file with no stats row (a skipped/failed
    * [[updateFileStats]]) would silently vanish from every pruned read.
    * Both lists are |files|-sized driver metadata, so the guard is a cheap
    * set difference: any live-but-unindexed file is read UNPRUNED (stats
    * prune conservatively; a file without stats can never be skipped) and
    * unioned in, keeping results exact while the index catches up. */
  def statsPrunedReadStored(spark: org.apache.spark.sql.SparkSession,
                            statsDir: String, dataDir: String,
                            keep: Column): DataFrame = {
    val stats = readFileStats(spark, statsDir, dataDir)
      .select(col("file"), keep.as("__keep")).collect()
    val indexed = stats.map(r => norm(r.getString(0))).toSet
    val kept = stats.filter(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(_.getString(0))
    val unindexed = spark.read.parquet(dataDir).inputFiles
      .filter(f => !indexed.contains(norm(f)))
    val files = (kept ++ unindexed).toIndexedSeq
    if (files.isEmpty) spark.read.parquet(dataDir).where(lit(false))
    else spark.read.parquet(files: _*)
  }

  /** Range-partition by z and sort within partitions — the layout write
    * shape: each output file covers a contiguous z run, so per-file min/max
    * stats are tight in BOTH interleaved dimensions. `numFiles` range
    * partitions ≈ `numFiles` output files when followed by a write. */
  def zOrderBy(df: DataFrame, z: Column, numFiles: Int): DataFrame =
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)

  /** COMPACTION / FILE-SIZING PLAN: assign every row a target output-file
    * id so that each file in each `groupCol` partition holds ≈
    * `targetWeight` of `weightCol` (bytes, chars, tokens) — the small-files
    * maintenance pass every 100 TB table needs (Delta OPTIMIZE / Iceberg
    * rewrite_data_files, expressed as a pure plan): streaming ingest leaves
    * thousands of KB-sized files per partition, and scan throughput dies on
    * per-file open cost until they are re-binned into ~128 MB targets.
    *
    * The bin id is floor(start_offset / target) over a deterministic
    * per-group row order — (content-hash bucket, hash, id), a pure content
    * permutation, so the plan is reproducible on any cluster/partitioning
    * (the [[Sampling.budgetHead]] ordering discipline). The running offset
    * is the same TWO-LEVEL prefix sum, here per group: per-(group, bucket)
    * totals (one metadata-sized agg), per-group running offsets over
    * `buckets` rows (the only unpartitioned-ish window — |groups|·buckets
    * rows), offsets broadcast back, in-bucket windows over |group|/buckets
    * rows in parallel. No global sort, no single-partition window, at any
    * corpus size.
    *
    * Output: (groupCol, idCol, weightCol, bin_id) — the write plan is then
    * `repartition(groupCol, bin_id)` + partitioned write, giving one
    * ~targetWeight file per bin. A row larger than `targetWeight` gets its
    * own bin (floor on the START offset: nothing ever splits). */
  def compactionPlan(df: DataFrame, groupCol: String, weightCol: String,
                     idCol: String, targetWeight: Long,
                     buckets: Int = 64): DataFrame = {
    require(targetWeight > 0 && buckets > 0, "targetWeight > 0, buckets > 0")
    import org.apache.spark.sql.expressions.Window
    val withB = df.select(col(groupCol), col(idCol),
        col(weightCol).cast("long").as("__w"))
      .withColumn("__h", Dedup.md5Hash48(col(idCol).cast("string")))
      .withColumn("__b", pmod(col("__h"), lit(buckets.toLong)))
    val perBucket = withB.groupBy(col(groupCol), col("__b"))
      .agg(sum(col("__w")).as("__t"))
    val wB = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__off", coalesce(sum(col("__t")).over(wB), lit(0L)))
      .select(col(groupCol), col("__b"), col("__off"))
    val wIn = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(col("__h"), col(idCol))
    withB.join(broadcast(offsets), Seq(groupCol, "__b"))
      .withColumn("__start",
        col("__off") + coalesce(sum(col("__w")).over(
          wIn.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(groupCol), col(idCol), col("__w").as(weightCol),
        expr(s"__start div $targetWeight").as("bin_id"))
  }

  /** EXECUTE the compaction plan — the OPTIMIZE rewrite itself, not just
    * the bin assignment: rows join their [[compactionPlan]] bin on the id
    * key (one id-keyed shuffle), hash-repartition on (group, bin) so each
    * bin's rows land wholly in ONE task, and write partitioned by
    * (group, bin_id) — exactly one ≈targetWeight parquet file per bin,
    * replacing however many small files the source layout had. This is the
    * small-files maintenance pass at its 100 TB shape: no global sort, no
    * driver materialization, output file count = Σ_groups
    * ⌈groupWeight/target⌉, and the rewrite is a deterministic content
    * permutation so re-running it is idempotent byte-for-byte row sets.
    * LayoutSpec proves the file-count collapse (inputFiles before/after),
    * the one-file-per-bin invariant, the per-bin weight bound, and the
    * row-content hash round-trip; the registered read-back query
    * (`layout_compaction_apply`) hash-matches a DuckDB replay of the
    * binning, so the EXECUTED layout — not just the plan — is
    * oracle-checked. */
  def compact(df: DataFrame, groupCol: String, weightCol: String,
              idCol: String, targetWeight: Long, outDir: String,
              buckets: Int = 64): Unit = {
    val plan = compactionPlan(df, groupCol, weightCol, idCol, targetWeight,
        buckets)
      .select(col(groupCol), col(idCol), col("bin_id"))
    df.join(plan, Seq(groupCol, idCol))
      .repartition(col(groupCol), col("bin_id"))
      .write.partitionBy(groupCol, "bin_id").mode("overwrite").parquet(outDir)
  }

  /** Write `df` as a BUCKETED, per-bucket-sorted external parquet table —
    * the co-located-join layout: two fact tables bucketed on their join key
    * with the same bucket count join with ZERO exchange on either side
    * (each bucketed scan reports `HashPartitioning(key, nBuckets)`, which
    * satisfies the join's distribution requirement outright), so the one
    * operation that dominates a 100 TB fact-fact join — shuffling both
    * sides — never happens. This is what Spark's `bucketBy` exists for;
    * z-order ([[zOrderBy]]) optimizes SKIPPING, bucketing optimizes
    * JOINING — a production lakehouse lays out its biggest co-keyed tables
    * with both.
    *
    * The pre-`repartition` on the key uses the SAME murmur3
    * `pmod(hash(key), n)` routing as the bucket-id assignment, so every
    * write task holds exactly one bucket's rows → exactly ONE file per
    * bucket (the [[compact]] one-file-per-unit discipline; also what lets
    * Spark trust per-bucket sortedness). The table is registered EXTERNAL
    * (explicit `path`) so the catalog entry is metadata only and the data
    * lives where the caller says — re-creatable from any session. */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
                    key: String, path: String): Unit = {
    require(nBuckets >= 1, "nBuckets >= 1")
    require(table.matches("[A-Za-z0-9_]+"),
      s"table name must be a bare identifier, got '$table'")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    df.repartition(nBuckets, col(key))
      .write.mode("overwrite")
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)
  }

  /** REBALANCE-hinted write — the AQE-native answer to write-side skew and
    * small files at once: the `rebalance(byCol)` shuffle origin licenses
    * the optimizer to BOTH split oversized partitions
    * (`OptimizeSkewInRebalancePartitions` — a hot key's rows fan out over
    * several advisory-sized tasks → several files) and coalesce tiny ones,
    * so output file sizes track the advisory target regardless of how the
    * key mass is distributed. Contrast [[compact]]: that PLANS bins from a
    * weight column (deterministic, content-addressed); this lets the
    * runtime do it from observed shuffle bytes — the right tool when you
    * want even files, not stable bin identities. A plain
    * `repartition(byCol)` control writes ONE file per key-partition
    * however hot the key (the small-files/straggler disease this fixes).
    * At 100 TB the default 64 MB advisory fires on its own; benchmark-
    * scale demos scope a smaller advisory to a cloned session. */
  def rebalanceWrite(df: DataFrame, byCol: String, outDir: String): Unit =
    df.hint("rebalance", col(byCol))
      .write.mode("overwrite").parquet(outDir)
}
