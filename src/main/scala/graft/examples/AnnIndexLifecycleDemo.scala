package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Similarity
import graft.queries.Artifacts

/** End-to-end STORED ANN index lifecycle: the library's vector-store
  * operators composed in the order a production embedding service runs —
  *
  *   train quantizer once → write cell-partitioned index →
  *   append the daily delta (stored quantizer, no retrain) →
  *   tombstone compliance deletes (O(|delete|), immediately visible) →
  *   vacuum (amortized partition rewrite) → serve probes
  *
  * Every step operates on the ARTIFACT, never the in-memory corpus: after
  * `build`, the base vectors are only ever read through the index's
  * cell-partitioned parquet (DPP-pruned to nProbe/nCells per probe batch),
  * deltas land as new files under existing cell directories, and deletes
  * ride the tombstone table until vacuum physically rewrites only the
  * touched cells. The lifecycle law — pinned by AnnLifecycleSpec and the
  * shared driver oracles of the underlying registered queries — is that
  * the final probe equals a direct IVF over (corpus ∪ delta) ∖ deletes
  * with the same day-0 quantizer: maintenance is invisible to serving.
  *
  * Usage: runMain graft.examples.AnnIndexLifecycleDemo [sfDir] [indexDir]
  * (a given indexDir is kept; the default temp dir is deleted at JVM exit)
  */
object AnnIndexLifecycleDemo {

  /** Build the index from `base`, absorb `delta`, delete `deletes`, vacuum,
    * and return the top-k probe results for `queries` — the whole
    * maintenance window as one sequence against the stored artifact. */
  def lifecycle(spark: SparkSession, indexDir: String,
                base: DataFrame, delta: DataFrame, deletes: DataFrame,
                queries: DataFrame, idCol: String, vecCol: String,
                nCells: Int = 16, k: Int = 5, nProbe: Int = 4,
                seed: Long = 42L): DataFrame = {
    // day 0: train ONCE on the initial corpus, persist quantizer + assigned
    // corpus partitioned by cell
    val cents = Similarity.trainIvfCentroids(base, vecCol, nCells, seed)
    Similarity.writeIvfIndex(base, idCol, vecCol, indexDir, cents)
    // day 1: the delta assigns with the STORED quantizer and appends as new
    // files — base partitions byte-untouched
    Similarity.appendToIvfIndex(spark, indexDir, delta, idCol, vecCol)
    // compliance deletes: tombstone append, visible to every probe below
    Similarity.deleteFromIvfIndex(spark, indexDir, deletes, idCol)
    // maintenance window: physically drop tombstoned rows, rewriting only
    // the cells that contain them
    Similarity.vacuumIvfIndex(spark, indexDir)
    // serve: centroid metadata + DPP-pruned probe over the stored corpus
    Similarity.ivfTopKIndexed(spark, indexDir, queries, idCol, vecCol,
      k = k, nProbe = nProbe)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val indexDir = args.lift(1).getOrElse(Artifacts.scratch("ann_demo", sfDir))
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .appName("ann-index-lifecycle-demo").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val out = lifecycle(spark, indexDir,
      base = emb.where(col("vec_id") % 10 =!= 0),
      delta = emb.where(col("vec_id") % 10 === 0),
      deletes = emb.where(col("vec_id") % 7 === 0).select(col("vec_id")),
      queries = emb.where(col("vec_id") < 10),
      idCol = "vec_id", vecCol = "embedding")
    out.orderBy(col("query_id"), col("rank")).show(20, truncate = false)
    spark.stop()
  }
}
