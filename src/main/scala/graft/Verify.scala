package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean
import Bench.jstr

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * KILL-SAFE, like Bench (the round-16 lesson, mirrored: CORRECTNESS_r16
  * came back `{}` because the old Verify wrote oracle_sql.json LAST — a
  * wall-killed run left 200+ result dirs and nothing to compare them with):
  *   - `oracle_sql.json` is written FIRST (static oracles are usable before
  *     any query runs) and atomically REWRITTEN after every query, so the
  *     capture-dependent oracles (embedded xxhash signatures —
  *     [[graft.queries.OracleCapture]]) land the moment their query
  *     completes and a SIGKILL at any point leaves a valid, maximal file;
  *   - per-query progress streams to `verify_status.json` (atomic
  *     tmp+rename after every completion) and a shutdown hook writes the
  *     final summary with `aborted:true` when a signal lands mid-run;
  *   - a WALL BUDGET (SPARK_GRAFT_VERIFY_BUDGET_S, default 1500 s) stops
  *     LAUNCHING queries once exceeded — already-running ones finish, the
  *     rest are disclosed as `skipped` — and the run order puts
  *     [[SparkEntry.newThisRound]] first so a degraded run still covers the
  *     round's additions before the carried surface;
  *   - queries run CONCURRENTLY (SPARK_GRAFT_VERIFY_THREADS, default 4).
  *     Shared artifacts (stored ANN indexes, snapshot tables, trained
  *     quantizers) are safe under any interleaving: [[graft.queries.Artifacts]]
  *     builds each one exactly once and makes concurrent callers wait for
  *     it. Queries are still grouped by name family (prefix before the
  *     first '_') purely as a scheduling choice: families run serially,
  *     queued longest-first (LPT) with new-query families promoted to the
  *     head.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-loop filter: a 3rd-arg regex over query names (the
    // driver always runs the full surface with 2 args)
    val only = args.drop(2).headOption.map(_.r)
    // Verify is the oracle-dump context: allow queries to capture the
    // runtime artifacts their generated oracles embed (bounded collects
    // that must never run under Bench or at real scale).
    System.setProperty(graft.queries.OracleCapture.Prop, "true")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))
    val budgetS =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET_S", "1500").toDouble
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", math.min(cpus, 32))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // Atomic publish for every metadata file: a kill mid-write must never
    // leave the driver a torn JSON (the same _SUCCESS-last discipline the
    // snapshot protocol runs, at file granularity via rename).
    def writeAtomic(path: String, content: String): Unit = {
      val tmp = Paths.get(path + ".tmp")
      Files.writeString(tmp, content)
      Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    val oracleLock = new Object
    def writeOracles(): Unit = oracleLock.synchronized {
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
      writeAtomic(s"$outDir/oracle_sql.json", json)
    }

    val t0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0) / 1e9
    // name -> (state ok|fail|skip, seconds, message)
    val status = scala.collection.concurrent.TrieMap[String, (String, Double, String)]()
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.findFirstIn(n).isDefined)).sorted
    val aborted = new AtomicBoolean(false)
    val finished = new AtomicBoolean(false)

    def writeStatus(): Unit = {
      val done = status.toSeq.sortBy(_._1)
      val qs = done.collect { case (n, ("ok", s, _)) => s"${jstr(n)}:${f"$s%.2f"}" }
      val failed = done.collect { case (n, ("fail", _, m)) => s"${jstr(n)}:${jstr(m)}" }
      val skipped = done.collect { case (n, ("skip", _, _)) => jstr(n) }
      writeAtomic(s"$outDir/verify_status.json",
        s"""{"n_total":${names.size},"n_done":${qs.size},""" +
          s""""n_failed":${failed.size},"n_skipped":${skipped.size},""" +
          s""""aborted":${aborted.get},"budget_s":$budgetS,""" +
          s""""elapsed_s":${f"$elapsedS%.2f"},"threads":$nThreads,"cpus":$cpus,""" +
          s""""sf":${jstr(sfDir)},"queries":{${qs.mkString(",")}},""" +
          s""""failed":{${failed.mkString(",")}},""" +
          s""""skipped":[${skipped.mkString(",")}]}""")
    }

    // 1. Oracles first: a kill before any query completes still leaves the
    // driver every static oracle (221 of 225) next to whatever parquet
    // prefix landed.
    writeOracles()
    writeStatus()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finished.get) {
        aborted.set(true)
        names.foreach(n => status.putIfAbsent(n, ("skip", 0.0, "aborted")))
        try { writeOracles(); writeStatus() } catch { case _: Throwable => }
      }
    }))

    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      if (elapsedS > budgetS) {
        status.put(name, ("skip", 0.0, "budget"))
        System.err.println(s"[verify] $name skipped: wall budget " +
          s"($budgetS s) exceeded at ${f"$elapsedS%.1f"} s")
      } else {
        val s0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          status.put(name, ("ok", (System.nanoTime() - s0) / 1e9, ""))
        } catch { case e: Throwable =>
          status.put(name, ("fail", (System.nanoTime() - s0) / 1e9,
            String.valueOf(e.getMessage)))
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      // publish incrementally: captures from THIS query join the oracle
      // file now, not at end-of-run
      writeOracles()
      writeStatus()
    }

    // 2. Family-grouped schedule: new-query families first, then LPT by
    // family size; inside a family new queries first, then name order.
    val qs = SparkEntry.queries
    def family(n: String): String = n.takeWhile(_ != '_')
    val groups = names.groupBy(family).toSeq
      .map { case (f, ns) =>
        val (fresh, carried) = ns.partition(SparkEntry.newThisRound)
        (f, fresh ++ carried, fresh.nonEmpty)
      }
      .sortBy { case (_, ns, hasNew) => (!hasNew, -ns.size) }
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    groups.foreach { case (f, ns, _) => queue.add((f, ns)) }
    val workers = (0 until math.max(1, nThreads)).map { _ =>
      val th = new Thread(() => {
        var g = queue.poll()
        while (g != null) {
          g._2.foreach(n => runOne(n, qs(n)))
          g = queue.poll()
        }
      })
      th.setDaemon(true); th.start(); th
    }
    workers.foreach(_.join())

    finished.set(true)
    writeOracles()
    writeStatus()
    val skipped = status.count(_._2._1 == "skip")
    if (skipped > 0)
      System.err.println(s"[verify] $skipped queries skipped (wall budget)")
    spark.stop()
  }
}
