package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-declared table readers.
  *
  * Two families:
  *   - the driver testdata star schema (`/root/testdata/sf*`; Parquet, schemas
  *     carried by the files themselves — see FIXTURES.md §B);
  *   - the reference engine's native MovieLens-format CSV inputs
  *     (movies.csv / ratings.csv), with explicit [[StructType]] schemas
  *     replacing the reference's positional `line.split(",")` parsing
  *     (reference: MovieRank.java:58, MovieRating.java:59) and its hand-rolled
  *     header skip (MovieRank.java:40-41,61-63 → `option("header", true)`)
  *     and quoted-title reassembly (MovieRank.java:44-47 → RFC-4180 `quote`).
  *     ratings.csv keeps the CSV reader's results but is read by a columnar
  *     file source of its own, [[RatingsCsvFormat]], which parses each line
  *     once and only into the column vectors a query reads (see
  *     [[ratingsCsv]]).
  *
  * At 100 TB the fact tables arrive as Parquet; keeping readers schema-declared
  * (never `inferSchema`) means one footer read, stable types for the oracle,
  * and full predicate/column pushdown into the scan.
  */
object Sources {

  /** Generic accessor for a driver testdata table. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")

  /** events.parquet's `ts` physical layout has changed across driver
    * testdata generations, so normalize by the READ type, not by assumption:
    *   - TIMESTAMP(NANOS) INT64 (early rounds): Spark 4's reader rejects it
    *     outright unless nanos are read as raw long (legacy conf); rebuild
    *     µs via integer division — `ts div 1000`, NOT `/ 1000.0`: double
    *     math on ~1.7e18 ns only carries 53 mantissa bits (~128 ns error),
    *     enough to shift a microsecond;
    *   - TIMESTAMP(MICROS) isAdjustedToUTC=false (current): reads as
    *     TIMESTAMP_NTZ; cast to TimestampType under the UTC session
    *     timezone (pinned in [[Tuning.tune]]) — same instant, and the
    *     column type every downstream window()/date_format() was built
    *     against. */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    val raw = table(spark, d, "events")
    eventsTsNormalizer(raw.schema)(raw)
  }

  /** ts normalizer for a probed events schema — see [[events]]. */
  def eventsTsNormalizer(probed: StructType): DataFrame => DataFrame = {
    import org.apache.spark.sql.functions._
    probed("ts").dataType match {
      case LongType            => _.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => _.withColumn("ts", col("ts").cast(TimestampType))
      case _                   => identity
    }
  }

  /** Streaming layout for events.parquet: (schema ≡ what the files
    * physically hold — streaming sources cannot infer, and the testdata ts
    * layout has changed across driver generations — plus the ts normalizer
    * to TimestampType). One metadata-only footer read. */
  def eventsStreamLayout(spark: SparkSession, d: String)
      : (StructType, DataFrame => DataFrame) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val probed = spark.read.parquet(s"$d/events.parquet").schema
    (probed, eventsTsNormalizer(probed))
  }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** movies.csv: `movieId,title,genres` (FIXTURES.md §A). */
  val moviesSchema: StructType = StructType(Seq(
    StructField("movieId", IntegerType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("genres", StringType, nullable = true)))

  /** ratings.csv: `userId,movieId,rating,timestamp` (FIXTURES.md §A). */
  val ratingsSchema: StructType = StructType(Seq(
    StructField("userId", IntegerType, nullable = false),
    StructField("movieId", IntegerType, nullable = false),
    StructField("rating", DoubleType, nullable = false),
    StructField("timestamp", LongType, nullable = true)))

  /** Reader options shared by `movies.csv` and the per-line fallback parser
    * of [[RatingsCsvFormat]]: RFC-4180 escaping means a quote inside a quoted
    * field is DOUBLED — Spark's default escape is backslash, so `escape` must
    * be pinned to the quote char or `"Movie ""5"""` comes back with its raw
    * doubled quotes (DuckDB's read_csv is RFC-4180 natively). */
  private[engine] val csvOptions = Map("escape" -> "\"")

  /** MovieLens movies dimension. RFC-4180 quoting handles comma-in-title rows
    * that the reference re-joins by hand (MovieRank.java:44-47); unlike the
    * reference we strip the surrounding quotes and keep the genres column
    * (dropped downstream via select, not at parse — SURVEY.md §2.2 P3). */
  def moviesCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").options(csvOptions)
      .schema(moviesSchema).csv(path)

  /** MovieLens ratings fact table, row for row and type for type what
    * `spark.read.option("header", "true").option("escape", "\"")
    * .schema(ratingsSchema).csv(path)` returns, at a fraction of its parse
    * cost. The reference splits each line once by position and reads only
    * the fields it uses (`line.split(",")`, MovieRank.java:58,65,
    * MovieRating.java:59,68); [[RatingsCsvFormat]] does the same as a
    * columnar file source: each line is parsed once, a plain digit line in
    * one pass over the block's bytes, in place, from its first byte to its
    * terminator, any other line by Spark's own CSV parser, and only into the
    * column vectors of the columns the query reads, a batch of
    * [[RatingsCsvFormat.BatchRows]] rows at a time. Lines follow Hadoop's
    * `LineRecordReader`, as the CSV reader's do: LF, CR and CRLF end a line,
    * a block not at byte 0 skips through its first line end, a block owns
    * every line that starts at an offset ≤ its end, a UTF-8 BOM at byte 0 is
    * skipped and the last line needs no terminator. A compressed file (any
    * codec, `.bz2` too) is one split, read to its end. The scan's `ReadSchema`
    * is the query's columns, it shows `Batched: true`, and whole-stage
    * codegen reads the vectors directly, so the join's `isnotnull(movieId)`
    * tests an already-parsed value. Blank lines and each file's header
    * (header skip ≙ MovieRank.java:61-63) are dropped inside the scan, as
    * the CSV reader drops them, so neither counts as an input record. */
  def ratingsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[RatingsCsvFormat].getName).schema(ratingsSchema).load(path)
}
