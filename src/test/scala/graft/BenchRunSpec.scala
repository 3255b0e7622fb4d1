package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs the bench protocol itself ([[Bench.run]]) in-process on the shared
  * test session: two registered queries and one whose timed pass fails at
  * execution after its warm pass succeeded. */
class BenchRunSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("run: one warm and one timed pass per query, the timed pass is the value; a failing query reports -1") {
    val spark = SparkTestSession.spark
    val sf = "/root/testdata/sf0.01"
    val passesAtSf = new java.util.concurrent.atomic.AtomicInteger()
    val fail: (SparkSession, String) => DataFrame = (s, dir) =>
      if (dir == sf && passesAtSf.incrementAndGet() == 2)
        s.range(1).selectExpr("raise_error('planted bench failure')")
      else s.range(1).toDF()
    val queries = Seq("q1_movierank", "join_inner_agg")
      .map(n => n -> SparkEntry.queries(n)) :+ ("q_fails" -> fail)
    val dir = java.nio.file.Files.createTempDirectory("benchrun")
    val detail = dir.resolve("detail.json").toString
    try {
      val state = Bench.run(spark, queries, sf, detail)
      // disarm the abort hook run installed: this test prints no headline
      state.headlinePrinted = true
      for (n <- Seq("q1_movierank", "join_inner_agg")) {
        assert(state.repDetail(n).size === Bench.Passes, n)
        assert(state.results(n) === state.repDetail(n)(1).wall, n)
        assert(state.results(n) > 0, n)
      }
      // the warm pass ran; the failed timed pass still makes the value -1
      assert(state.repDetail("q_fails").size === 1)
      assert(state.results("q_fails") === -1.0)
      assert(state.errors("q_fails").contains("planted bench failure"))
      assert(state.abortedAt.isEmpty)
      val node = mapper.readTree(new java.io.File(detail))
      assert(!node.get("partial").asBoolean())
      assert(node.get("n_done").asInt() === 3 && node.get("n_total").asInt() === 3)
      assert(node.get("reps").asInt() === 2)
      assert(node.get("rep_times").get("q1_movierank").size() === 2)
      assert(node.get("queries").get("q_fails").asDouble() === -1.0)
      assert(node.get("errors").get("q_fails") != null)
      assert(!spark.sparkContext.isStopped)
    } finally {
      new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }
}
