package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.hadoop.io.compress.BZip2Codec
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, from_csv, sum}
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.engine.{MovieAnalysis, RatingsCsvFormat, Sources}
import graft.queries.RefParityQueries

/** `Sources.ratingsCsv` (the columnar `RatingsCsvFormat` file source: lines
  * found and parsed in place over each block's bytes, header/blank skip,
  * one-pass strict parse of plain lines, Spark's own parser for the rest,
  * 4096-row column batches) ≡ Spark's CSV reader with the options it
  * replaces. The line rules are Hadoop `LineRecordReader`'s: LF, CR and CRLF
  * each end a line (a CRLF once, also when a buffer fill splits it), a block
  * not at byte 0 skips through its first line end, a block owns every line
  * whose first byte is at an offset ≤ its end, a UTF-8 BOM at byte 0 is
  * skipped, and the last line needs no terminator. A compressed file (gzip,
  * bz2) is one split, read to its end. Checked on seeded files built to hit
  * every line the strict grammar refuses, at the default split size and
  * with 64 KB splits, gzipped and bz2-compressed, for any set of selected
  * columns, with partition and `_metadata` columns, across batch edges,
  * buffer-fill edges (a CRLF split by a fill, a line longer than the
  * buffer), a BOM that decides the header, and through the row adapter (no
  * whole-stage codegen); plus the guards that the strict grammar takes every
  * plain MovieLens line, that a 64 KB-split scan reads each byte once (file
  * size plus one tail read per split), and that the pipelines' ratings
  * scans are batched and read only the columns they use. `GraftProps` checks
  * the split rules at random split sizes from 1 byte up. */
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
    files.foreach { case (name, text) =>
      val f = dir.resolve(name)
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(UTF_8))
    }
    dir
  }

  private def deleteDir(dir: Path): Unit =
    new scala.reflect.io.Directory(dir.toFile).deleteRecursively()

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def withMaxPartitionBytes[T](bytes: String)(body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes", bytes)(body)

  /** Without whole-stage codegen Spark reads the scan as rows. */
  private def withoutWholeStageCodegen[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage", "false")(body)

  private def assertSameRows(got: DataFrame, expected: DataFrame, what: String): Unit = {
    assert(got.schema == expected.schema, what)
    assert(got.exceptAll(expected).count() == 0, s"rows only in ratingsCsv: $what")
    assert(expected.exceptAll(got).count() == 0, s"rows only in the CSV reader: $what")
  }

  private def assertSameAsCsvReader(path: String): Long = {
    val got = Sources.ratingsCsv(spark, path)
    assertSameRows(got, csvReader(path), path)
    got.count()
  }

  /** The seeded odd files, each edge case of line endings and file shape. */
  private def oddFiles(): Seq[(String, String)] = {
    val rnd = new Random(20261017L)
    Seq(
      "lf.csv" -> ratingsFile(rnd, 6000, "\n", trailingEol = true, leadingBlanks = 0),
      "crlf.csv" -> ratingsFile(rnd, 6000, "\r\n", trailingEol = true, leadingBlanks = 3),
      "cr.csv" -> ratingsFile(rnd, 6000, "\r", trailingEol = false, leadingBlanks = 1),
      "no_trailing_eol.csv" -> ratingsFile(rnd, 500, "\n", trailingEol = false, leadingBlanks = 2),
      "header_only.csv" -> header,
      "blank_only.csv" -> "\n  \n\t\n",
      "empty.csv" -> "")
  }

  test("ratingsCsv ≡ the CSV reader on seeded odd files, default and 64 KB splits") {
    val files = oddFiles()
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

  test("fast path: strictLine parses every plain MovieLens data line") {
    Seq(s"${RefParityQueries.FixtureDir}/ratings.csv",
        SparkTestSession.resource("/movielens/ratings.csv")).foreach { p =>
      // the lines the CSV reader parses: non-blank, minus the header
      val lines = Files.readAllLines(java.nio.file.Paths.get(p), UTF_8).asScala.toSeq
        .filter(_.trim.nonEmpty).drop(1)
      assert(lines.nonEmpty)
      val refused = lines.zip(strict(lines)).collect { case (line, null) => line }
      assert(refused.isEmpty, s"every data line of $p must take the one-pass path: $refused")
    }
  }

  /** Each line through `RatingsCsvFormat.strictLine` over all four columns,
    * parsed from the middle of a buffer (after a preceding line, before its
    * LF terminator) into column vectors at row id 1: its row, or null where
    * the grammar refuses the line. */
  private def strict(lines: Seq[String]): Seq[Row] = {
    val schema = Sources.ratingsSchema
    val kinds = RatingsCsvFormat.kinds(schema)
    val vectors = OnHeapColumnVector.allocateColumns(2, schema)
    val out = vectors.toArray[WritableColumnVector]
    val before = "9,9,9.5,9\r\n".getBytes(UTF_8)
    lines.map { line =>
      val bytes = before ++ s"$line\n".getBytes(UTF_8)
      vectors.foreach(_.reset())
      val end = RatingsCsvFormat.strictLine(bytes, before.length, kinds, out, 1)
      if (end < 0) null
      else {
        assert(end == bytes.length - 1, s"'$line' ends at its terminator")
        Row(vectors(0).getInt(1), vectors(1).getInt(1), vectors(2).getDouble(1),
          vectors(3).getLong(1))
      }
    }
  }

  test("fast path: strictLine refuses each out-of-grammar case, accepts its edges") {
    import spark.implicits._
    val schema = Sources.ratingsSchema
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

  test("fast path: strictLine checks the columns it does not write") {
    val kinds = RatingsCsvFormat.kinds(Sources.ratingsSchema)
    val movieId = new OnHeapColumnVector(1, IntegerType)
    val out = Array[WritableColumnVector](null, movieId, null, null)
    def parse(line: String): Int = {
      val bytes = s"$line\n".getBytes(UTF_8)
      RatingsCsvFormat.strictLine(bytes, 0, kinds, out, 0)
    }
    (oddInts.map(v => s"$v,2,4.5,964982703") ++ oddLongs.map(v => s"1,2,4.5,$v") ++
      Seq("1,2,4.5", "1,2,4.5,964982703,7")).foreach { line =>
      assert(parse(line) == -1, s"'$line' is outside the strict grammar, unread columns too")
    }
    assert(parse("007,4242,4.5,999999999999999999") == 31)
    assert(movieId.getInt(0) == 4242)
  }

  test("pruning: ratingsCsv(p).select(cols) ≡ the CSV reader's full rows projected to cols") {
    val dir = writeDir(oddFiles())
    def multiset(rows: Seq[Row]): Map[Row, Int] = rows.groupBy(identity).view.mapValues(_.size).toMap
    try {
      // all four columns, so the CSV reader parses every field of each line
      val full = csvReader(dir.toString).collect().toSeq
      val names = Sources.ratingsSchema.fieldNames
      def check(): Unit = Seq(Seq("movieId"), Seq("movieId", "rating"), Seq("timestamp")).foreach {
        cols =>
          val idx = cols.map(names.indexOf(_))
          val expected = full.map(r => Row.fromSeq(idx.map(r.get)))
          val got = Sources.ratingsCsv(spark, dir.toString).select(cols.map(col): _*).collect().toSeq
          assert(multiset(got) == multiset(expected), s"select(${cols.mkString(", ")})")
      }
      check()
      withMaxPartitionBytes("64KB")(check())
    } finally deleteDir(dir)
  }

  test("plan: the pipelines' ratings scans read only movieId (and rating), parsed in the scan") {
    val movies = Sources.moviesCsv(spark, SparkTestSession.resource("/movielens/movies.csv"))
    val ratings = Sources.ratingsCsv(spark, SparkTestSession.resource("/movielens/ratings.csv"))
    Seq(MovieAnalysis.movieRank(movies, ratings) -> "struct<movieId:int>",
        MovieAnalysis.movieRating(movies, ratings) -> "struct<movieId:int,rating:double>").foreach {
      case (df, readSchema) =>
        assert(df.collect().nonEmpty)
        val plan = df.queryExecution.executedPlan.toString
        val scans = plan.linesIterator.filter(_.contains("Format: RatingsCsv")).toSeq
        assert(scans.nonEmpty, s"no RatingsCsv scan in:\n$plan")
        scans.foreach(l => assert(l.contains(s"ReadSchema: $readSchema"), s"scan reads more than $readSchema:\n$l"))
        scans.foreach(l => assert(l.contains("Batched: true"), s"the scan must return batches:\n$l"))
        Seq("from_csv", "strict_csv_line").foreach(f =>
          assert(!plan.contains(f), s"the parse must stay inside the scan, found $f in:\n$plan"))
    }
  }

  test("ratingsCsv ≡ the CSV reader on a gzipped file, which stays one split") {
    val dir = writeDir(Nil)
    val gz = dir.resolve("crlf.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(oddFiles().toMap.apply("crlf.csv").getBytes(UTF_8))
    finally out.close()
    try {
      assert(Files.size(gz) > 64 * 1024, "the file must be larger than one 64 KB split")
      val rows = assertSameAsCsvReader(gz.toString)
      assert(rows > 5000)
      withMaxPartitionBytes("64KB") {
        assert(Sources.ratingsCsv(spark, gz.toString).rdd.getNumPartitions == 1)
        assert(assertSameAsCsvReader(gz.toString) == rows)
      }
    } finally deleteDir(dir)
  }

  test("ratingsCsv ≡ the CSV reader on a Hive-partitioned directory, int and string partitions") {
    val rnd = new Random(20261018L)
    def file(n: Int) = ratingsFile(rnd, n, "\n", trailingEol = true, leadingBlanks = 0)
    val dir = writeDir(Seq("part=1/tag=a/r.csv" -> file(3000), "part=1/tag=b/r.csv" -> file(2000),
      "part=2/tag=a/r.csv" -> file(2500)))
    try {
      val got = Sources.ratingsCsv(spark, dir.toString)
      assert(got.schema("part").dataType == IntegerType && got.schema("tag").dataType == StringType)
      assert(assertSameAsCsvReader(dir.toString) > 6000)
      Seq(Seq("movieId", "tag"), Seq("part"), Seq("tag", "rating", "part")).foreach { cols =>
        assertSameRows(got.select(cols.map(col): _*),
          csvReader(dir.toString).select(cols.map(col): _*), s"select(${cols.mkString(", ")})")
      }
      assertSameRows(got.where(col("part") === 2 && col("tag") === "a").select("userId", "tag"),
        csvReader(dir.toString).where(col("part") === 2 && col("tag") === "a").select("userId", "tag"),
        "part=2/tag=a")
    } finally deleteDir(dir)
  }

  test("ratingsCsv ≡ the CSV reader with a _metadata column, default and 64 KB splits") {
    val dir = writeDir(oddFiles())
    def check(): Unit = {
      val cols = Seq(col("movieId"), col("_metadata.file_name"))
      assertSameRows(Sources.ratingsCsv(spark, dir.toString).select(cols: _*),
        csvReader(dir.toString).select(cols: _*), "select(movieId, _metadata.file_name)")
    }
    try {
      check()
      withMaxPartitionBytes("64KB")(check())
    } finally deleteDir(dir)
  }

  test("ratingsCsv ≡ the CSV reader on seeded odd files through the row adapter") {
    val dir = writeDir(oddFiles())
    try withoutWholeStageCodegen {
      val scan = Sources.ratingsCsv(spark, dir.toString).queryExecution.executedPlan.toString
      assert(scan.contains("Batched: false"), s"without whole-stage codegen the scan reads rows:\n$scan")
      val rows = assertSameAsCsvReader(dir.toString)
      assert(rows > 17000)
      withMaxPartitionBytes("64KB")(assert(assertSameAsCsvReader(dir.toString) == rows))
    } finally deleteDir(dir)
  }

  test("ratingsCsv ≡ the CSV reader across batch edges: fallback, blank and header lines at the seams") {
    val rows = RatingsCsvFormat.BatchRows
    val rnd = new Random(20261019L)
    // data row i is the i-th line the CSV reader parses
    val data = Array.fill(2 * rows + 900)(plainLine(rnd))
    data(rows - 1) = "1,2,,964982703"               // last row of batch 1: fallback, null rating
    data(rows) = header                              // first row of batch 2: a repeated header
    data(2 * rows - 1) = "424242,4242,4.25,1234567890123" // last row of batch 2: strict
    data(2 * rows + 17) = "\"3\",5,4.0,964982703"    // a fallback line in batch 3
    val lines = (header +: data.take(rows)) ++ Seq("", "  ") ++ data.slice(rows, rows + 1) ++
      Seq("\t", "") ++ data.drop(rows + 1)
    val dir = writeDir(Seq("edges.csv" -> lines.mkString("", "\n", "\n")))
    val path = dir.resolve("edges.csv").toString
    try {
      assert(Sources.ratingsCsv(spark, path).rdd.getNumPartitions == 1, "the file must be one block")
      assert(assertSameAsCsvReader(path) == data.length)
      withoutWholeStageCodegen(assert(assertSameAsCsvReader(path) == data.length))
      val got = Sources.ratingsCsv(spark, path)
      assert(got.where(col("userId") === 424242).collect().toSeq ==
        Seq(Row(424242, 4242, 4.25, 1234567890123L)))
      assert(got.where(col("userId") === 1 && col("movieId") === 2 && col("rating").isNull)
        .count() == 1)
    } finally deleteDir(dir)
  }

  /** `assertSameAsCsvReader` at the default split size and with 64 KB
    * splits, which must cut `path` into several blocks; its row count. */
  private def assertSameAtBothSplits(path: String): Long = {
    val rows = assertSameAsCsvReader(path)
    withMaxPartitionBytes("64KB") {
      assert(Sources.ratingsCsv(spark, path).rdd.getNumPartitions > 1, s"$path must be several blocks")
      assert(assertSameAsCsvReader(path) == rows)
    }
    rows
  }

  /** A plain line of exactly `len` bytes, 17 ≤ `len` ≤ 42: leading zeros pad it. */
  private def plainLineOf(len: Int): String = {
    var pad = len - 17
    def zeros(max: Int): String = { val z = math.min(pad, max); pad -= z; "0" * z }
    val ts = zeros(9) + "964982703"
    s"${zeros(8)}1,${zeros(8)}2,4.5,$ts"
  }

  test("buffer edges: a CRLF split by a buffer fill, and a CR ending one, ≡ the CSV reader") {
    val fill = RatingsCsvFormat.BlockBytes
    val rnd = new Random(20261020L)
    val text = new StringBuilder(header + "\r\n")
    /** Plain lines ending in `eol` until `last`, the index of the last
      * line's terminator: the last line is padded so that it ends there. */
    def linesUntil(last: Int, eol: String): Unit = {
      while (last - text.length > 120) text ++= plainLine(rnd) + "\r\n"
      while (last - text.length > 42) text ++= plainLineOf(17) + "\r\n"
      text ++= plainLineOf(last - text.length) + eol
    }
    linesUntil(fill - 1, "\r\n")     // the CR is the last byte of the first fill
    linesUntil(2 * fill - 1, "\r")   // a bare CR is the last byte of the second
    text ++= "424242,4242,4.25,1234567890123\n"
    (1 to 3000).foreach(_ => text ++= plainLine(rnd) + "\n")
    val bytes = text.toString.getBytes(UTF_8)
    assert(bytes(fill - 1) == '\r' && bytes(fill) == '\n' && bytes(2 * fill - 1) == '\r')
    val dir = writeDir(Seq("fills.csv" -> text.toString))
    val path = dir.resolve("fills.csv").toString
    try {
      assert(assertSameAtBothSplits(path) == text.toString.split("\r\n|\r|\n").length - 1)
      assert(Sources.ratingsCsv(spark, path).where(col("userId") === 424242).count() == 1)
    } finally deleteDir(dir)
  }

  test("buffer edges: a 200 KB out-of-grammar line, longer than the buffer, ≡ the CSV reader") {
    val rnd = new Random(20261021L)
    val long = "7,8,4.5," + "9" * (200 * 1024)
    assert(long.length > 3 * RatingsCsvFormat.BlockBytes)
    val lines = (header +: Seq.fill(2000)(plainLine(rnd))) ++ (long +: Seq.fill(2000)(plainLine(rnd)))
    val dir = writeDir(Seq("long.csv" -> lines.mkString("", "\n", "\n")))
    val path = dir.resolve("long.csv").toString
    try {
      assert(assertSameAtBothSplits(path) == 4001)
      assert(Sources.ratingsCsv(spark, path)
        .where(col("userId") === 7 && col("movieId") === 8 && col("timestamp").isNull).count() == 1)
    } finally deleteDir(dir)
  }

  test("BOM: a BOM, a blank line, then a data line: skipping the BOM makes that line the header") {
    val rnd = new Random(20261022L)
    val data = Seq.fill(6000)(plainLine(rnd))
    val text = "\uFEFF\n" + ("424242,4242,4.25,1234567890123" +: data).mkString("", "\n", "\n")
    val dir = writeDir(Seq("bom.csv" -> text))
    val path = dir.resolve("bom.csv").toString
    try {
      assert(assertSameAtBothSplits(path) == data.size)
      assert(Sources.ratingsCsv(spark, path).where(col("userId") === 424242).count() == 0,
        "the first non-blank line after the BOM is the header")
    } finally deleteDir(dir)
  }

  /** Sums `inputMetrics.bytesRead` over the tasks that `body` runs. */
  private def bytesRead(body: => Unit): Long = {
    val sum = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(end: SparkListenerTaskEnd): Unit =
        Option(end.taskMetrics).foreach(m => sum.addAndGet(m.inputMetrics.bytesRead))
    }
    org.apache.spark.SparkTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.SparkTestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    sum.get
  }

  test("the scan reads each byte once: 64 KB splits read the file plus one tail read per split") {
    val rnd = new Random(20261023L)
    val dir = writeDir(Seq("r.csv" -> ratingsFile(rnd, 30000, "\n", trailingEol = true,
      leadingBlanks = 0)))
    val path = dir.resolve("r.csv").toString
    val size = Files.size(dir.resolve("r.csv"))
    try withMaxPartitionBytes("64KB") {
      val splits = Sources.ratingsCsv(spark, path).rdd.getNumPartitions
      assert(splits == (size + 65535) / 65536)
      val read = bytesRead(Sources.ratingsCsv(spark, path).agg(sum("movieId")).collect())
      assert(read >= size, s"$read bytes read of $size")
      assert(read <= size + splits * RatingsCsvFormat.TailBytes,
        s"$read bytes read of $size in $splits splits")
    } finally deleteDir(dir)
  }

  test("ratingsCsv ≡ the CSV reader on a .bz2 file, which is one split") {
    val dir = writeDir(Nil)
    val bz2 = dir.resolve("r.csv.bz2")
    val codec = ReflectionUtils.newInstance(classOf[BZip2Codec], spark.sparkContext.hadoopConfiguration)
    val out = codec.createOutputStream(Files.newOutputStream(bz2))
    val rnd = new Random(20261024L)
    try out.write(ratingsFile(rnd, 20000, "\r\n", trailingEol = false, leadingBlanks = 1)
      .getBytes(UTF_8))
    finally out.close()
    try {
      assert(Files.size(bz2) > 64 * 1024, "the file must be larger than one 64 KB split")
      withMaxPartitionBytes("64KB") {
        assert(Sources.ratingsCsv(spark, bz2.toString).rdd.getNumPartitions == 1)
        assert(assertSameAsCsvReader(bz2.toString) > 15000)
      }
    } finally deleteDir(dir)
  }
}
