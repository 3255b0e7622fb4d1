package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference engine's two query semantics (SURVEY.md §2.10), expressed as
  * one lazily-composed Spark plan each, parameterized over (fact, dim) so the
  * same shapes run on both MovieLens CSV and the driver's star schema.
  *
  * Reference shape (per pipeline): two chained MapReduce jobs with a durable
  * intermediate (MovieRank.java:169,194) — here a single DataFrame whose
  * physical plan is:
  *   Scan(fact) → partial HashAggregate(factKey) → Exchange(hash) →
  *   final HashAggregate → BroadcastHashJoin(dim) → HashAggregate(key, title) →
  *   Filter(HAVING) → Exchange(single partition) → Sort
  * i.e. exactly two in-flight shuffles and zero durable intermediates; the
  * DistributedCache replicated-HashMap join (MovieRank.java:30-51,67) becomes
  * `broadcast(dim)` → BroadcastExchangeExec.
  *
  * The fact side is aggregated on its key alone before the join: this is the
  * reference's combiner (MovieRank.java:80-95), which it left switched off
  * (MovieRank.java:161), made real. Spark's optimizer does not push an
  * aggregate below a join, so joining first would probe the dimension with
  * every fact row and then hash-aggregate on the wide (key, title) pair.
  *
  * Scale notes (100 TB design):
  *   - the dimension is broadcast explicitly — at any realistic movie/part
  *     dimension size (≪ executor memory) this removes the fact-side shuffle
  *     a sort-merge join would need;
  *   - the partial aggregate collapses each fact task to at most one row per
  *     fact key before the hash exchange, so only |keys|-sized data shuffles
  *     and only that reaches the join;
  *   - the (key, title) re-aggregate adds no exchange: the broadcast join's
  *     output partitioning, hashed on factKey, also covers dimKey;
  *   - the final global sort runs in one partition: `repartition(1)` moves
  *     only the aggregated rows (at most one per dimension row, and the
  *     dimension is already broadcast whole to every task), never the fact.
  *     A range-partitioned sort would first launch a sampling job that
  *     recomputes the aggregate, the join and the re-aggregate, and then
  *     compute them all again for the exchange. `coalesce(1)` would not do:
  *     it pulls the fact-key final aggregate, bounded by distinct fact keys
  *     and not by |dim|, into one task.
  */
object RefQueries {

  /** Q1 "MovieRank" (MovieRank.java:145-214; README.md:12): rank dimension
    * members by fact-row count.
    *
    * Output: (dimKey, title, cnt) totally ordered by (cnt, dimKey) — the
    * unique dimKey tie-break makes row order deterministic for the oracle
    * (the reference's multi-reducer job2 was NOT globally sorted — SURVEY.md
    * §2.5 O1a; we implement a true global sort).
    *
    * @param asc literal reference semantics sort ascending (Hadoop default
    *            IntWritable comparator); README intent is descending.
    */
  def rankByCount(fact: DataFrame, dim: DataFrame,
                  factKey: String, dimKey: String, titleCol: String,
                  asc: Boolean = true): DataFrame = {
    val agg = perMember(fact, dim, factKey, dimKey, titleCol, measure = None)
      .withColumnRenamed("n", "cnt")
    val cntOrder = if (asc) col("cnt").asc else col("cnt").desc
    agg.repartition(1).orderBy(cntOrder, col("key").asc)
  }

  /** Q2 "MovieRating" (MovieRating.java:140-210; README.md:13): per-dimension
    * average of a fact measure, kept only above support and quality
    * thresholds (strict `>`, MovieRating.java:97,100), sorted by the average.
    *
    * avg is rounded to 4 decimals *in the output only* (HAVING compares the
    * raw double) — double-sum associativity differences vs the DuckDB oracle
    * are ~1e-12, far below both the output rounding and any realistic
    * threshold gap (SURVEY.md §7.5).
    */
  def ratingByAvg(fact: DataFrame, dim: DataFrame,
                  factKey: String, dimKey: String, titleCol: String,
                  measure: String, minCount: Long, minAvg: Double,
                  asc: Boolean = true): DataFrame = {
    val agg = perMember(fact, dim, factKey, dimKey, titleCol, Some(measure))
      .withColumnRenamed("n", "num_ratings")
      .where(col("num_ratings") > minCount && col("avg_raw") > minAvg)
      .withColumn("avg_rating", round(col("avg_raw"), 4))
      .drop("avg_raw")
    val avgOrder = if (asc) col("avg_rating").asc else col("avg_rating").desc
    agg.select(col("key"), col("title"), col("avg_rating"), col("num_ratings"))
      .repartition(1).orderBy(avgOrder, col("key").asc)
  }

  /** The shared aggregate-before-join core: (key, title, n[, avg_raw]) per
    * dimension member, equal to grouping the fact ⋈ dim join by (dimKey,
    * titleCol) on any input.
    *   1. group the fact on `factKey` alone: count, plus avg(measure);
    *   2. broadcast-join those partials, one row per key, to the dimension;
    *   3. re-aggregate by (dimKey, titleCol): `sum` of the counts, `max` of
    *      the per-key average. Every row of such a group carries the same
    *      key, hence the same average, so `max` is exact and keeps avg's
    *      result type; a key duplicated in the dimension still counts its
    *      fact rows once per duplicate, as the join-first shape does.
    */
  private def perMember(fact: DataFrame, dim: DataFrame,
                        factKey: String, dimKey: String, titleCol: String,
                        measure: Option[String]): DataFrame = {
    val partials = fact.groupBy(fact(factKey))
      .agg(count(lit(1)).as("n"), measure.map(m => avg(fact(m)).as("a")).toSeq: _*)
    partials.join(broadcast(dim), partials(factKey) === dim(dimKey), "inner")
      .groupBy(dim(dimKey).as("key"), dim(titleCol).as("title"))
      .agg(sum(partials("n")).as("n"),
        measure.map(_ => max(partials("a")).as("avg_raw")).toSeq: _*)
  }

  /** J1a join-miss policy (SURVEY.md §2.3): the reference's missing-dimension
    * probe emits the literal string "null" as the title (HashMap.get → null,
    * unchecked concat, MovieRank.java:67-70). Faithful variant: left-outer +
    * coalesce to the literal. Exposed for the quirk-pinning unit tests; the
    * registered queries use clean inner-join semantics. */
  def joinWithNullTitle(fact: DataFrame, dim: DataFrame,
                        factKey: String, dimKey: String,
                        titleCol: String): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "left_outer")
      .withColumn("title", coalesce(dim(titleCol), lit("null")))
}
