package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, from_csv}
import graft.engine.Sources
import graft.functions.{CsvDataLine, StrictCsvLine}
import graft.queries.RefParityQueries

/** `Sources.ratingsCsv` (text scan + header/blank filter + one-pass strict
  * parse + `from_csv` fallback) ≡ Spark's CSV reader with the options it
  * replaces, on seeded files built to hit every line the strict grammar
  * refuses, at the default split size and with 64 KB splits; plus the guard
  * that the fast path fires on plain MovieLens lines. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val header = "userId,movieId,rating,timestamp"

  private def csvReader(path: String): DataFrame =
    spark.read.option("header", "true").option("escape", "\"")
      .schema(Sources.ratingsSchema).csv(path)

  /** Field values outside the strict grammar, each legal or not for the CSV
    * parser; the cases the fallback must reproduce. */
  private val oddInts = Seq("\"2\"", "-1", "+1", " 1", "1 ", "", "1234567890",
    "4294967296", "99999999999", "1.0", "x")
  private val oddLongs = Seq("\"2\"", "-1", "+1", " 1", "1 ", "",
    "1234567890123456789", "9999999999999999999", "99999999999999999999", "1e3")
  private val oddDoubles = Seq("\"3,5\"", "\"2\"", "-1", "+1", " 1", "1 ", "",
    "3.", ".5", "1e3", "1d", "NaN", "Inf", "-Inf", "inf", "Infinity",
    "1234567890.123456", "0.1234567890123456", "3.5.1", "3,5")

  private def plainLine(rnd: Random): String = {
    val rating = rnd.nextInt(4) match {
      case 0 => (rnd.nextInt(10) + 1) / 2.0 // 0.5 … 5.0
      case 1 => rnd.nextInt(6).toDouble
      case 2 => rnd.nextInt(100000) / 1000.0
      case _ => rnd.nextLong(1000000000000000L) / 1e6
    }
    val r = if (rnd.nextBoolean()) rating.toString
      else "%.3f".formatLocal(java.util.Locale.ROOT, rating)
    s"${rnd.nextInt(1000000)},${rnd.nextInt(200000)},$r,${800000000L + rnd.nextInt(1000000000)}"
  }

  private def oddLine(rnd: Random): String = {
    def pick(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
    val fields = Array(rnd.nextInt(1000).toString, rnd.nextInt(1000).toString,
      "4.5", "964982703")
    rnd.nextInt(7) match {
      case 0 => fields(0) = pick(oddInts)
      case 1 => fields(1) = pick(oddInts)
      case 2 => fields(2) = pick(oddDoubles)
      case 3 => fields(3) = pick(oddLongs)
      case 4 => return fields.take(1 + rnd.nextInt(3)).mkString(",") // too few
      case 5 => return (fields :+ rnd.nextInt(9).toString).mkString(",") // too many
      case _ => return header // header text repeated mid-file
    }
    fields.mkString(",")
  }

  private def blankLine(rnd: Random): String = Seq("", " ", "  ", "\t", " \t ")(rnd.nextInt(5))

  /** One seeded ratings file: optional leading blank lines, a header, then
    * `n` lines (plain, odd or blank), joined by `eol`. */
  private def ratingsFile(rnd: Random, n: Int, eol: String, trailingEol: Boolean,
                          leadingBlanks: Int): String = {
    val body = Seq.fill(n) {
      val p = rnd.nextInt(100)
      if (p < 80) plainLine(rnd) else if (p < 95) oddLine(rnd) else blankLine(rnd)
    }
    val lines = Seq.fill(leadingBlanks)(blankLine(rnd)) ++ (header +: body)
    lines.mkString(eol) + (if (trailingEol) eol else "")
  }

  private def writeDir(files: Seq[(String, String)]): Path = {
    val dir = Files.createTempDirectory("graft_sources")
    files.foreach { case (name, text) => Files.write(dir.resolve(name), text.getBytes(UTF_8)) }
    dir
  }

  private def deleteDir(dir: Path): Unit =
    new scala.reflect.io.Directory(dir.toFile).deleteRecursively()

  private def withMaxPartitionBytes[T](bytes: String)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def assertSameAsCsvReader(path: String): Long = {
    val got = Sources.ratingsCsv(spark, path)
    val expected = csvReader(path)
    assert(got.schema == expected.schema)
    assert(got.exceptAll(expected).count() == 0, s"rows only in ratingsCsv($path)")
    assert(expected.exceptAll(got).count() == 0, s"rows only in the CSV reader's $path")
    got.count()
  }

  test("ratingsCsv ≡ the CSV reader on seeded odd files, default and 64 KB splits") {
    val rnd = new Random(20261017L)
    val files = Seq(
      "lf.csv" -> ratingsFile(rnd, 6000, "\n", trailingEol = true, leadingBlanks = 0),
      "crlf.csv" -> ratingsFile(rnd, 6000, "\r\n", trailingEol = true, leadingBlanks = 3),
      "cr.csv" -> ratingsFile(rnd, 6000, "\r", trailingEol = false, leadingBlanks = 1),
      "no_trailing_eol.csv" -> ratingsFile(rnd, 500, "\n", trailingEol = false, leadingBlanks = 2),
      "header_only.csv" -> header,
      "blank_only.csv" -> "\n  \n\t\n",
      "empty.csv" -> "")
    val dir = writeDir(files)
    try {
      val rows = assertSameAsCsvReader(dir.toString)
      assert(rows > 17000)
      // the fallback path ran: some rows carry the parser's PERMISSIVE nulls
      val partial = Sources.ratingsCsv(spark, dir.toString)
        .where(col("userId").isNull || col("rating").isNull || col("timestamp").isNull).count()
      assert(partial > 500)
      withMaxPartitionBytes("64KB") {
        val splits = spark.read.text(dir.toString).rdd.getNumPartitions
        assert(splits > files.size, "64 KB splits must cut the files into several blocks")
        assert(assertSameAsCsvReader(dir.toString) == rows)
      }
    } finally deleteDir(dir)
  }

  test("ratingsCsv ≡ the CSV reader on the committed MovieLens files") {
    Seq(s"${RefParityQueries.FixtureDir}/ratings.csv",
        SparkTestSession.resource("/movielens/ratings.csv")).foreach { p =>
      assert(assertSameAsCsvReader(p) > 0)
    }
  }

  test("fast path: StrictCsvLine parses every plain MovieLens data line") {
    Seq(s"${RefParityQueries.FixtureDir}/ratings.csv",
        SparkTestSession.resource("/movielens/ratings.csv")).foreach { p =>
      val line = col("value")
      val lines = spark.read.text(p).where(CsvDataLine.csvDataLine(line))
      val parsed = lines.select(StrictCsvLine.strictCsvLine(line, Sources.ratingsSchema).as("s"))
      assert(lines.count() > 0)
      assert(parsed.where(col("s").isNull).count() == 0,
        s"every data line of $p must take the one-pass path")
    }
  }

  test("fast path: StrictCsvLine refuses each out-of-grammar case, accepts its edges") {
    import spark.implicits._
    val schema = Sources.ratingsSchema
    def strict(lines: Seq[String]): Seq[org.apache.spark.sql.Row] =
      lines.toDF("value").select(StrictCsvLine.strictCsvLine(col("value"), schema))
        .collect().toSeq.map(_.getStruct(0))
    val refused = oddInts.map(v => s"$v,2,4.5,964982703") ++
      oddInts.map(v => s"1,$v,4.5,964982703") ++
      oddDoubles.map(v => s"1,2,$v,964982703") ++
      oddLongs.map(v => s"1,2,4.5,$v") ++
      Seq("1,2,4.5", "1,2,4.5,964982703,7", "1,2,4.5,964982703,", header, "", " ",
        "1,2,4.5,964982703 ", "1;2;4.5;964982703")
    strict(refused).zip(refused).foreach { case (row, line) =>
      assert(row == null, s"'$line' is outside the strict grammar")
    }
    // Accepted edges: leading zeros, the widest int/long/double, a double
    // without '.'; each equals what Spark's own parser makes of the line.
    val accepted = Seq("0,0,0.0,0", "007,010,0005.50,000000000000000001",
      "999999999,123456789,12345678901234.5,999999999999999999",
      "1,2,3,4", "1,2,0.00000000000001,4", "1,2,123456789012345,4")
    val viaParser = accepted.toDF("value")
      .select(from_csv(col("value"), schema, Map("escape" -> "\"")))
      .collect().toSeq.map(_.getStruct(0))
    assert(strict(accepted) == viaParser)
  }
}
