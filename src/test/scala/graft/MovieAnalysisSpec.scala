package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{MovieAnalysis, RefQueries, Sources}

/** Golden tests for the literal MovieLens pipelines (SURVEY.md §5.4), pinning
  * every reference quirk decision: comma-title parsing (P3), strict HAVING
  * boundaries (A4/A5), join-miss policy (J1a), sort direction + tie-breaks
  * (O1a). Fixture: src/test/resources/movielens (FIXTURES.md §A). */
class MovieAnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def movies = Sources.moviesCsv(spark, SparkTestSession.resource("/movielens/movies.csv"))
  def ratings = Sources.ratingsCsv(spark, SparkTestSession.resource("/movielens/ratings.csv"))

  test("movieRank: counts, global asc sort, movieId tie-break, inner-join drops misses") {
    val got = MovieAnalysis.movieRank(movies, ratings)
      .select("cnt", "movieId").collect().map(r => (r.getLong(0), r.getInt(1)))
    // movie 99 (2 ratings, absent from movies) must NOT appear (inner join)
    assert(got.toSeq == Seq((3L, 5), (10L, 3), (11L, 2), (12L, 1), (12L, 4), (12L, 6)))
  }

  test("movieRank desc: README.md:12 'popularity' intent order") {
    val got = MovieAnalysis.movieRank(movies, ratings, asc = false)
      .select("cnt", "movieId").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq == Seq((12L, 1), (12L, 4), (12L, 6), (11L, 2), (10L, 3), (3L, 5)))
  }

  test("movieRating: strict > boundaries exclude n==10 and avg==4.0 exactly") {
    val got = MovieAnalysis.movieRating(movies, ratings)
      .select("movieId", "avg_rating", "num_ratings").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    // movie 3: exactly 10 ratings → excluded (MovieRating.java:97 strict >)
    // movie 4: avg exactly 4.0   → excluded (MovieRating.java:100 strict >)
    // order: avg asc then movieId (4.2273 < 4.5; 1 < 6 on the 4.5 tie)
    assert(got.toSeq == Seq((2, 4.2273, 11L), (1, 4.5, 12L), (6, 4.5, 12L)))
  }

  test("plan: each pipeline sorts its result in one partition, with no range sort") {
    Seq(MovieAnalysis.movieRank(movies, ratings), MovieAnalysis.movieRating(movies, ratings))
      .foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("rangepartitioning"), s"the final sort must not range-partition:\n$plan")
        assert("Exchange SinglePartition".r.findAllMatchIn(plan).size == 1,
          s"expected exactly one single-partition exchange in:\n$plan")
      }
  }

  test("comma-in-title parsed per RFC-4180 with quotes stripped (P3 delta)") {
    val titles = movies.where(col("movieId") === 2).select("title").collect()
    assert(titles.head.getString(0) == "Heat, The (1995)")
    // genres survive the parse (reference drops them in its re-join loop)
    val genres = movies.where(col("movieId") === 2).select("genres").collect()
    assert(genres.head.getString(0) == "Action|Crime")
  }

  test("J1a faithful variant: join misses emit literal 'null' title") {
    val j = RefQueries.joinWithNullTitle(ratings, movies,
      factKey = "movieId", dimKey = "movieId", titleCol = "title")
    assert(j.where(col("title") === "null").count() == 2L) // movie 99's 2 rows
    assert(j.count() == 62L)                                // nothing dropped
  }

  test("tab-text sink round-trip (S4): write sep=\\t csv, read back identical") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    try {
      val df = MovieAnalysis.movieRating(movies, ratings)
      df.write.mode("overwrite").option("sep", "\t").option("header", "true").csv(out)
      val back = spark.read.option("sep", "\t").option("header", "true")
        .schema(df.schema).csv(out)
      assert(back.count() == df.count())
      assert(back.orderBy("avg_rating", "movieId").collect().toSeq ==
        df.collect().toSeq)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }
}
