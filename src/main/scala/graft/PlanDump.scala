package graft

import org.apache.spark.sql.SparkSession
import graft.queries.DedupQueries.JaccardThreshold

/** Dev tool: write `.explain("formatted")` output of registered queries to
  * files — the optimization-round evidence format (`plans/r<n>/<query>_
  * {before,after}.txt`). Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <suffix> [queryName ...]"
  *
  * e.g. `runMain graft.PlanDump plans/r17 before dedup_weighted_jaccard_pairs`.
  * No query names → all registered queries. Plans print against
  * SPARK_GRAFT_SF_DIR (default sf0.1 — the benched scale) in the session
  * [[Bench.session]] builds, so the dumped plan is the one the bench runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val spark = Bench.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    new java.io.File(outDir).mkdirs()
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // Raw OPERATOR plans for queries whose registered form pins an eager
    // localCheckpoint (the shared-pair-list memo): their executed plan is
    // just the checkpoint scan, so the join plan under audit must be built
    // directly. Addressed as `op:<name>`.
    val operatorPlans: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "dedup_jaccard_pairs" -> ((s, d) => graft.operators.Dedup
        .exactJaccardJoin(graft.engine.Sources.documents(s, d),
          "doc_id", "text", n = 3, threshold = JaccardThreshold)),
      "dedup_containment_pairs" -> ((s, d) => graft.operators.Dedup
        .containmentJoin(graft.engine.Sources.documents(s, d),
          "doc_id", "text", n = 3, threshold = JaccardThreshold)))
    def dump(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Unit =
      try {
        val plan = fn(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    for (name <- names) {
      if (name.startsWith("op:")) {
        val op = name.stripPrefix("op:")
        operatorPlans.get(op) match {
          case Some(fn) => dump(s"op_$op", fn)
          case None => System.err.println(s"[plandump] unknown operator: $op")
        }
      } else SparkEntry.queries.get(name) match {
        case Some(fn) => dump(name, fn)
        case None => System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
