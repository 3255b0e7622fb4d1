package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.engine.{MovieAnalysis, Sources, Tuning}
import graft.examples.AnnIndexLifecycleDemo
import graft.operators.Similarity

/** One timed operation of a workload: its steps (public calls a user waits
  * on, in ms), the hash of its output, and whether that output was right. */
final case class OpOut(steps: Seq[(String, Double)], hash: String,
                       failures: Int, attempts: Int,
                       extra: Map[String, Double] = Map.empty)

/** Calls into the program, each recorded as a span and tagged onto the jobs
  * it launches. */
final class Runner(val spark: SparkSession) {
  val calls = ArrayBuffer[Call]()

  def call[T](name: String, kind: Kind.Value)(body: => T): T = {
    val c = Call(calls.size, name, kind, System.currentTimeMillis())
    calls += c
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.CallProp, c.id.toString)
    try body
    finally {
      c.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Trace.CallProp, null)
    }
  }

  /** Runs `f` and returns (result, elapsed ms). */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Drains `df` through foreachPartition and returns an order-independent
    * hash of its rows: the sum of a 64-bit hash per row, plus the row count.
    * Writes no bytes, like the `noop` sink, and still checks every row. */
  def hashSink(df: DataFrame): String = {
    val sum = spark.sparkContext.longAccumulator
    val n = spark.sparkContext.longAccumulator
    df.foreachPartition((it: Iterator[Row]) => {
      var h = 0L
      var c = 0L
      while (it.hasNext) { h += RowHash.of(it.next()); c += 1 }
      sum.add(h)
      n.add(c)
    })
    f"${sum.value}%016x:${n.value}"
  }
}

object RowHash extends Serializable {
  def of(r: Row): Long = {
    val s = r.mkString("\u0001")
    (MurmurHash3.stringHash(s).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
  }

  /** Hash of the files under `dir`, read in name order. */
  def ofFiles(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
      .foreach(f => md.update(Files.readAllBytes(f.toPath)))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}

/** A workload: an untimed first pass (the checked run, part of set-up) and
  * a timed operation repeated for the measured window. */
trait Workload {
  /** Returns the number of in-JVM check failures; records output checks
    * for run.py in `checks`. */
  def warm(r: Runner, checks: ArrayBuffer[String]): Int
  def op(r: Runner, i: Int, checks: ArrayBuffer[String]): OpOut
  /** Untimed operations after `warm`, so that timing starts once the JIT
    * has settled: without them the first timed mix pass ran about 40%
    * slower than the later ones. */
  def settleOps: Int = 0
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
  /** (files, bytes) under `f`, recursively. */
  def size(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length())
    else (0L, 0L)
}

/** MovieRank (desc) and MovieRating over MovieLens CSV, written
  * tab-separated like `MovieLensDemo`. One operation = both pipelines. */
final class MovieLensCsv(input: String, work: String) extends Workload {
  private var reference = ""

  private def pipelines(r: Runner, ratings: String, out: String): Seq[(String, Double)] = {
    val spark = r.spark
    def one(name: String, build: (DataFrame, DataFrame) => DataFrame) = r.timed {
      val df = r.call(s"$name.build", Kind.Build) {
        build(Sources.moviesCsv(spark, s"$input/movies.csv"),
          Sources.ratingsCsv(spark, ratings))
      }
      r.call(s"$name.write", Kind.Write) {
        df.write.mode("overwrite").option("sep", "\t").csv(s"$out/$name")
      }
    }._2
    Seq("movierank" -> one("movierank", MovieAnalysis.movieRank(_, _, asc = false)),
      "movierating" -> one("movierating", MovieAnalysis.movieRating(_, _)))
  }

  private def hash(out: String): String =
    Seq("movierank", "movierating").map(n => RowHash.ofFiles(s"$out/$n")).mkString(":")

  def warm(r: Runner, checks: ArrayBuffer[String]): Int = {
    val out = s"$work/ml_warm"
    pipelines(r, s"$input/warm_ratings.csv", out)
    Dirs.delete(new File(out))
    0
  }

  def op(r: Runner, i: Int, checks: ArrayBuffer[String]): OpOut = {
    val out = s"$work/ml_out_$i"
    val steps = pipelines(r, s"$input/ratings.csv", out)
    val h = hash(out)
    val bad = if (i == 0) {
      // the first timed output is checked against DuckDB by run.py, and
      // every later one against its hash
      reference = h
      checks += Json.obj(Seq("kind" -> Json.str("movielens"), "dir" -> Json.str(out)))
      0
    } else {
      Dirs.delete(new File(out))
      if (h == reference) 0 else 1
    }
    OpOut(steps, h, bad, 1)
  }
}

/** Registered sf0.1 queries, each built through `SparkEntry.queries` and
  * drained through the hashing sink. One operation = one pass. */
final class QueryMix(names: Seq[String], sfDir: String, work: String) extends Workload {
  private val reference = scala.collection.mutable.Map[String, String]()
  override def settleOps: Int = 1

  private def kind(q: String, action: Boolean): Kind.Value =
    if (q.startsWith("corpus_snapshot")) Kind.ArtifactServe
    else if (action) Kind.Action else Kind.Build

  def warm(r: Runner, checks: ArrayBuffer[String]): Int = {
    names.foreach { q =>
      val df = r.call(q, kind(q, action = false)) { SparkEntry.queries(q)(r.spark, sfDir) }
      val dir = s"$work/check/$q"
      r.call(s"$q.check", Kind.Write) { df.write.mode("overwrite").parquet(dir) }
      reference(q) = r.call(q, kind(q, action = true)) { r.hashSink(df) }
      checks += Json.obj(Seq("kind" -> Json.str("oracle"), "name" -> Json.str(q),
        "dir" -> Json.str(dir), "sql" -> Json.str(SparkEntry.oracleSql(q))))
    }
    0
  }

  def op(r: Runner, i: Int, checks: ArrayBuffer[String]): OpOut = {
    var bad = 0
    val hashes = ArrayBuffer[String]()
    val steps = names.map { q =>
      val (h, ms) = r.timed {
        val df = r.call(q, kind(q, action = false)) { SparkEntry.queries(q)(r.spark, sfDir) }
        r.call(q, kind(q, action = true)) { r.hashSink(df) }
      }
      if (h != reference(q)) bad += 1
      hashes += h
      q -> ms
    }
    OpOut(steps, hashes.mkString(","), bad, names.size)
  }
}

/** The stored IVF index lifecycle: train → write → append → delete →
  * vacuum (build), then the probe batch served from the index (serve). */
final class AnnLifecycle(input: String, work: String, probes: Int) extends Workload {
  private var reference = ""
  // its many small jobs keep getting faster for several lifecycles
  override def settleOps: Int = 2
  private def emb(spark: SparkSession) = spark.read.parquet(s"$input/embeddings.parquet")

  private def lifecycle(r: Runner, dir: String): (Array[(Long, Long, Double, Int)], Seq[(String, Double)], (Long, Long)) = {
    val e = emb(r.spark)
    val (served, buildMs) = r.timed {
      r.call("ann.lifecycle", Kind.ArtifactBuild) {
        AnnIndexLifecycleDemo.lifecycle(r.spark, dir,
          base = e.where(col("vec_id") % 10 =!= 0),
          delta = e.where(col("vec_id") % 10 === 0),
          deletes = e.where(col("vec_id") % 7 === 0).select(col("vec_id")),
          queries = e.where(col("vec_id") < probes),
          idCol = "vec_id", vecCol = "embedding")
      }
    }
    val written = Dirs.size(new File(dir))
    val (rows, serveMs) = r.timed {
      r.call("ann.serve", Kind.ArtifactServe) { served.collect() }
    }
    Dirs.delete(new File(dir))
    (AnnLifecycle.sorted(rows), Seq("ann_build" -> buildMs, "ann_serve" -> serveMs), written)
  }

  /** The lifecycle law (AnnLifecycleSpec): the served probe equals a direct
    * IVF over (base ∪ delta) ∖ deletes with the day-0 quantizer. */
  def warm(r: Runner, checks: ArrayBuffer[String]): Int = {
    val (got, _, _) = lifecycle(r, s"$work/ann_warm")
    reference = AnnLifecycle.hash(got)
    val e = emb(r.spark)
    val want = r.call("ann.reference", Kind.Action) {
      val cents = Similarity.trainIvfCentroids(e.where(col("vec_id") % 10 =!= 0),
        "embedding", 16, 42L)
      AnnLifecycle.sorted(Similarity.ivfTopK(e.where(col("vec_id") % 7 =!= 0),
        e.where(col("vec_id") < probes), "vec_id", "embedding",
        k = 5, nProbe = 4, centroids = Some(cents)).collect())
    }
    val ok = got.nonEmpty && got.sameElements(want) && !got.exists(_._2 % 7 == 0)
    // a wrong checked output makes every operation hashed against it wrong
    if (!ok) reference = "the checked lifecycle broke the lifecycle law"
    if (ok) 0 else 1
  }

  def op(r: Runner, i: Int, checks: ArrayBuffer[String]): OpOut = {
    val (got, steps, (files, bytes)) = lifecycle(r, s"$work/ann_index_$i")
    val h = AnnLifecycle.hash(got)
    OpOut(steps, h, if (h == reference) 0 else 1, 1,
      Map("artifact.files_written" -> files.toDouble,
        "artifact.bytes_written" -> bytes.toDouble))
  }
}

object AnnLifecycle {
  def sorted(rows: Array[Row]): Array[(Long, Long, Double, Int)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
  def hash(rows: Array[(Long, Long, Double, Int)]): String =
    f"${MurmurHash3.seqHash(rows.toSeq)}%08x:${rows.length}"
}

/** Usage (run.py builds the arguments):
  *   perfbench.PerfBench workload=<name> input=<dir> work=<dir> out=<json>
  *     seconds=<s> trace=<0|1> cores=<n> spans=<json>
  *
  * Starts one local[cores] session, runs the workload's checked first pass,
  * then repeats its operation as a closed loop with one client until
  * `seconds` have passed, and writes the raw timings to `out`. With
  * trace=1 the operations alternate untraced and traced; the traced ones
  * carry the per-layer counters, and their spans go to `spans`. */
object PerfBench {
  val Mix = Seq("q1_movierank", "q2_movierating", "join_inner_agg", "agg_rollup",
    "corpus_snapshot_read", "corpus_snapshot_changelog")

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val (input, work) = (opt("input"), opt("work"))

    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tuning.tune(spark)
    val listener = new LayerListener
    if (trace) spark.sparkContext.addSparkListener(listener)

    val w: Workload = workload match {
      case "movielens_csv" => new MovieLensCsv(input, work)
      case "small_query_mix" => new QueryMix(Mix, input, work)
      case "ann_lifecycle" => new AnnLifecycle(input, work, opt("probes").toInt)
      case other => sys.error(s"unknown workload $other")
    }
    val sessionMs = System.currentTimeMillis()
    val r = new Runner(spark)
    val checks = ArrayBuffer[String]()
    val errors = ArrayBuffer[String]()
    var attempted = 1
    var failed = 0
    var checkedMs = 0L
    try {
      failed += w.warm(r, checks)
      checkedMs = System.currentTimeMillis()
      (1 to w.settleOps).foreach { j =>
        val o = w.op(r, -j, checks)
        attempted += o.attempts
        failed += o.failures
      }
    } catch { case e: Exception => failed += 1; errors += e.toString }

    val ops = ArrayBuffer[String]()
    val spans = ArrayBuffer[String]()
    val timedStart = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minOps = if (trace) 2 else 1
    var i = 0
    while (i < minOps || (System.nanoTime() < deadline && i < 10000)) {
      val traced = trace && i % 2 == 1
      if (traced) { PerfBenchBus.drain(spark.sparkContext); Trace.reset(); Trace.enabled = true }
      val firstCall = r.calls.size
      val host0 = Host.sample()
      val startMs = System.currentTimeMillis()
      val (res, wallMs) = r.timed {
        try Right(w.op(r, i, checks))
        catch { case e: Exception => Left(e) }
      }
      val endMs = System.currentTimeMillis()
      val host1 = Host.sample()
      val fields = ArrayBuffer("i" -> i.toString, "traced" -> traced.toString,
        "wall_ms" -> Json.num(wallMs))
      res match {
        case Right(o) =>
          attempted += o.attempts
          failed += o.failures
          if (o.failures > 0) errors += s"op $i: output hash ${o.hash} differs from the checked run"
          fields += "steps" -> Json.arr(o.steps.map { case (n, ms) =>
            Json.arr(Seq(Json.str(n), Json.num(ms))) })
          if (traced) {
            PerfBenchBus.drain(spark.sparkContext)
            Trace.enabled = false
            val opCalls = r.calls.drop(firstCall).toSeq
            val m = Layers.metrics(startMs, endMs, wallMs, cores, opCalls) ++
              Host.delta(host0, host1) ++ o.extra
            fields += "layers" -> Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
            spans += Layers.spans(i, startMs, endMs, opCalls)
          }
        case Left(e) =>
          Trace.enabled = false
          fields += "steps" -> "[]"
          attempted += 1
          failed += 1
          errors += s"op $i: $e"
      }
      ops += Json.obj(fields)
      i += 1
    }
    val tmpLeft = Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("graft_"))
    spark.stop()

    if (trace) Files.write(Paths.get(opt("spans")), Json.arr(spans).getBytes(UTF_8))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toString,
      "session_ms" -> sessionMs.toString,
      "checked_ms" -> checkedMs.toString,
      "timed_start_ms" -> timedStart.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> Json.arr(errors.map(Json.str)),
      "checks" -> Json.arr(checks),
      "tmp_dirs_left" -> tmpLeft.toString,
      "ops" -> Json.arr(ops)))
    Files.write(Paths.get(opt("out")), result.getBytes(UTF_8))
  }
}

/** Host context: CPU steal from /proc/stat and JIT compile time. */
object Host {
  final case class Sample(stealTicks: Long, jitMs: Long)
  def sample(): Sample = {
    val steal = try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
      finally f.close()
    } catch { case _: Exception => 0L }
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    Sample(steal, jit)
  }
  /** USER_HZ is 100 on Linux. */
  def delta(a: Sample, b: Sample): Map[String, Double] = Map(
    "host.steal_s" -> (b.stealTicks - a.stealTicks) / 100.0,
    "host.jit_s" -> (b.jitMs - a.jitMs) / 1000.0)
}

/** Per-layer counters of one traced operation, from the drained listener
  * state and the benchmark's own call spans. */
object Layers {
  /** Total length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def metrics(startMs: Long, endMs: Long, wallMs: Double, cores: Int,
              calls: Seq[Call]): Map[String, Double] = Trace.synchronized {
    val stages = Trace.stages.values.toSeq
    val jobs = Trace.jobs.values.toSeq
    val kindOf = calls.map(c => c.id -> c.kind).toMap
    val jobKind = jobs.map(j => j.jobId -> kindOf.get(j.callId)).toMap
    def jobsOf(k: Kind.Value) = jobs.count(j => kindOf.get(j.callId).contains(k))
    def stagesOf(k: Kind.Value) = stages.filter(s => jobKind.get(s.jobId).flatten.contains(k))
    def sum(f: StageAgg => Long, ss: Seq[StageAgg] = stages) = ss.map(f).sum.toDouble
    val taskMs = sum(_.runMs)
    val busy = covered(Trace.taskSpans.toSeq, startMs, endMs)
    val stageSpan = (s: StageAgg) => (s.submitMs, s.doneMs)
    val bySelf = stages.groupBy(_.layer).map { case (l, ss) =>
      s"self.${l}_ms" -> ss.map(s => math.max(0L, s.doneMs - s.submitMs)).sum.toDouble }
    val callSelf = calls.map { c =>
      val js = jobs.filter(_.callId == c.id).map(j => (j.startMs, j.endMs))
      (c.endMs - c.startMs) - covered(js, c.startMs, c.endMs)
    }.sum
    val jobSelf = jobs.map { j =>
      (j.endMs - j.startMs) - covered(stages.filter(_.jobId == j.jobId).map(stageSpan), j.startMs, j.endMs)
    }.sum
    val commitMs = calls.filter(_.kind == Kind.Write).map { c =>
      val ends = jobs.filter(_.callId == c.id).map(_.endMs)
      if (ends.isEmpty) 0L else math.max(0L, c.endMs - ends.max)
    }.sum
    Map(
      "scan.input_bytes" -> sum(_.inBytes),
      "scan.input_records" -> sum(_.inRecords),
      "scan.task_ms" -> sum(_.runMs, stages.filter(_.inBytes > 0)),
      "plan.query_executions" -> Trace.queryExecutions.toDouble,
      "plan.analysis_ms" -> Trace.analysisMs.toDouble,
      "plan.optimization_ms" -> Trace.optimizationMs.toDouble,
      "plan.planning_ms" -> Trace.planningMs.toDouble,
      "plan.build_call_ms" -> calls.filter(_.kind == Kind.Build)
        .map(c => c.endMs - c.startMs).sum.toDouble,
      "plan.build_call_jobs" -> jobsOf(Kind.Build).toDouble,
      "driver.jobs" -> jobs.size.toDouble,
      "driver.stages" -> stages.count(_.doneMs > 0).toDouble,
      "driver.tasks" -> sum(_.tasks),
      "driver.idle_ms" -> math.max(0L, (endMs - startMs) - busy).toDouble,
      "exec.task_run_ms" -> taskMs,
      "exec.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "exec.task_gc_ms" -> sum(_.gcMs),
      "exec.utilisation" -> taskMs / (wallMs * cores),
      "exec.peak_exec_mem_bytes" -> (if (stages.isEmpty) 0.0 else stages.map(_.peakMem).max.toDouble),
      "exec.spill_bytes" -> sum(_.spill),
      "shuffle.write_records" -> sum(_.shWriteRecords),
      "shuffle.write_bytes" -> sum(_.shWriteBytes),
      "shuffle.read_bytes" -> sum(_.shReadBytes),
      "shuffle.fetch_wait_ms" -> sum(_.shFetchWaitMs),
      "shuffle.write_ms" -> sum(_.shWriteNs) / 1e6,
      "artifact.build_jobs" -> jobsOf(Kind.ArtifactBuild).toDouble,
      "artifact.files_written" -> 0.0,
      "artifact.bytes_written" -> 0.0,
      "artifact.serve_jobs" -> jobsOf(Kind.ArtifactServe).toDouble,
      "artifact.serve_input_bytes" -> sum(_.inBytes, stagesOf(Kind.ArtifactServe)),
      "sink.output_records" -> sum(_.outRecords),
      "sink.output_bytes" -> sum(_.outBytes),
      "sink.commit_ms" -> commitMs.toDouble,
      "self.run_ms" -> math.max(0L, (endMs - startMs) -
        covered(calls.map(c => (c.startMs, c.endMs)), startMs, endMs)).toDouble,
      "self.call_ms" -> callSelf.toDouble,
      "self.job_ms" -> jobSelf.toDouble,
      "self.scan_ms" -> 0.0, "self.exchange_ms" -> 0.0,
      "self.sink_ms" -> 0.0, "self.compute_ms" -> 0.0) ++ bySelf
  }

  /** The span tree of one traced operation: run → call → job → stage. */
  def spans(i: Int, startMs: Long, endMs: Long, calls: Seq[Call]): String = Trace.synchronized {
    def span(id: String, parent: String, name: String, kind: String, a: Long, b: Long,
             extra: Seq[(String, String)] = Nil) =
      Json.obj(Seq("id" -> Json.str(id), "parent" -> (if (parent == null) "null" else Json.str(parent)),
        "name" -> Json.str(name), "kind" -> Json.str(kind),
        "start_ms" -> a.toString, "end_ms" -> b.toString) ++ extra)
    val run = s"op$i"
    val out = ArrayBuffer(span(run, null, run, "run", startMs, endMs))
    calls.foreach(c => out += span(s"$run.c${c.id}", run, c.name, c.kind.toString, c.startMs, c.endMs))
    Trace.jobs.values.foreach { j =>
      val parent = if (calls.exists(_.id == j.callId)) s"$run.c${j.callId}" else run
      out += span(s"$run.j${j.jobId}", parent, s"job ${j.jobId}", "job", j.startMs, j.endMs)
    }
    Trace.stages.values.foreach { s =>
      out += span(s"$run.s${s.stageId}", s"$run.j${s.jobId}", s"stage ${s.stageId}", s.layer,
        s.submitMs, s.doneMs, Seq("tasks" -> s.tasks.toString, "task_ms" -> s.runMs.toString,
          "input_bytes" -> s.inBytes.toString, "shuffle_write_bytes" -> s.shWriteBytes.toString,
          "output_bytes" -> s.outBytes.toString))
    }
    Json.arr(out)
  }
}
