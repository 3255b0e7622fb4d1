package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.functions.{CsvDataLine, StrictCsvLine}

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
  *     ratings.csv keeps the CSV reader's results but parses plain lines in
  *     one pass of its own (see [[ratingsCsv]]).
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

  /** Reader options shared by `movies.csv` and the per-line `ratings.csv`
    * fallback: RFC-4180 escaping means a quote inside a quoted field is
    * DOUBLED — Spark's default escape is backslash, so `escape` must be
    * pinned to the quote char or `"Movie ""5"""` comes back with its raw
    * doubled quotes (DuckDB's read_csv is RFC-4180 natively). */
  private val csvOptions = Map("escape" -> "\"")

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
    * cost. The reference splits each line once by position
    * (`line.split(",")`, MovieRank.java:58, MovieRating.java:59); this does
    * the same in three steps over Spark's `text` source:
    *   1. [[CsvDataLine]] drops the lines the CSV reader skips: blank lines
    *      and each file's header (the first non-blank line of the block that
    *      starts at byte 0; header skip ≙ MovieRank.java:61-63);
    *   2. [[StrictCsvLine]] parses a line of plain digit fields
    *      (`int,int,digits[.digits],long`: ints of 1–9 digits, longs of
    *      1–18, doubles of at most 15 digits, so no value overflows or
    *      rounds apart from `String.toDouble`) in one pass over its bytes;
    *   3. any other line (quotes, signs, spaces, `NaN`/`Inf`, overflow, empty
    *      fields, too few or too many fields) goes to Spark's own parser,
    *      `from_csv` with the reader's options, which keeps its PERMISSIVE
    *      partial rows.
    * The text scan counts the header line as an input record, which the CSV
    * scan does not. */
  def ratingsCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, from_csv}
    val line = col("value")
    spark.read.text(path)
      .where(CsvDataLine.csvDataLine(line))
      .select(coalesce(
        StrictCsvLine.strictCsvLine(line, ratingsSchema),
        from_csv(line, ratingsSchema, csvOptions)).as("fields"))
      .select("fields.*")
  }
}
