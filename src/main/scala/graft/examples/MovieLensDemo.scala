package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{MovieAnalysis, Sources}

/** The reference engine's CLI, re-expressed (MovieRank.java:145-214 +
  * MovieRating.java:140-210 in one driver): run both MovieLens pipelines over
  * movies.csv/ratings.csv and write tab-separated output like the reference's
  * TextOutputFormat sink (S4), printing elapsed seconds like the reference's
  * driver (MovieRank.java:205-210).
  *
  * Usage: runMain graft.examples.MovieLensDemo <movies.csv> <ratings.csv> [outDir]
  */
object MovieLensDemo {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MovieLensDemo <movies.csv> <ratings.csv> [outDir]")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("movielens-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val movies = Sources.moviesCsv(spark, args(0))
    val ratings = Sources.ratingsCsv(spark, args(1))

    val outDir = args.lift(2)
    // Each pipeline runs once: with an outDir its result is persisted, written,
    // and its first rows are shown from the persisted copy.
    def emit(heading: String, name: String, result: DataFrame): Unit = {
      println(heading)
      outDir match {
        case Some(out) =>
          result.persist()
          result.write.mode("overwrite").option("sep", "\t").csv(s"$out/$name")
          result.show(10, truncate = false)
          result.unpersist()
          println(s"wrote $out/$name")
        case None => result.show(10, truncate = false)
      }
    }
    emit("== MovieRank (top by review count) ==", "movierank",
      MovieAnalysis.movieRank(movies, ratings, asc = false))
    emit("== MovieRating (avg rating, support > 10, avg > 4.0) ==", "movierating",
      MovieAnalysis.movieRating(movies, ratings))
    println(f"Time taken: ${(System.nanoTime() - t0) / 1e9}%.1f sec")
    spark.stop()
  }
}
