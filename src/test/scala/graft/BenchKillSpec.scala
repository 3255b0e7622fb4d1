package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.TimeUnit

/** Round-15 driver failure mode, reproduced under a REAL process kill and
  * pinned: the bench ran to its wall-clock window, took SIGTERM, and left
  * rc=124 with nothing parseable — the headline printed only after
  * spark.stop() on the normal path, so the kill lost the whole round's
  * bench signal. The fix (Bench.installAbortHook + incremental detail
  * writes) must make a SIGTERM'd bench still emit (a) a strict-JSON
  * `aborted:true` stdout headline carrying everything that completed and
  * (b) a partial detail file. This spec forks graft.BenchKillDemo — the
  * same RunState/hook machinery as the real bench, minus Spark so the
  * fork boots in ~1 s — and destroys it mid-sleep. */
class BenchKillSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("SIGTERM'd bench JVM prints a parseable aborted headline and a partial detail file") {
    val dir = java.nio.file.Files.createTempDirectory("benchkill")
    val detail = dir.resolve("BENCH_SELF.json")
    // stdout goes to a FILE, exactly like the real path: sbt's StdoutOutput
    // strategy makes the forked bench INHERIT the driver's capture fd, so
    // the shutdown hook's println lands in the capture even while sbt
    // itself is dying. (Process.destroy() + pipe reading would instead
    // close the parent's read end and silently discard the dying child's
    // last writes — a harness artifact the real channel doesn't have.)
    val stdout = dir.resolve("stdout.log").toFile
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val pb = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"),
      "graft.BenchKillDemo", detail.toString)
    pb.redirectOutput(stdout)
    pb.redirectErrorStream(false)
    val p = pb.start()
    try {
      // wait for the demo to confirm the hook is installed
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def slurp(): String =
        if (stdout.isFile)
          new String(java.nio.file.Files.readAllBytes(stdout.toPath), "UTF-8")
        else ""
      while (!slurp().contains("KILLDEMO_READY") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(slurp().contains("KILLDEMO_READY"), "demo never signaled readiness")
      // SIGTERM by pid — what GNU timeout delivers to the process group
      new ProcessBuilder("kill", "-TERM", p.pid().toString).start().waitFor()
      assert(p.waitFor(30, TimeUnit.SECONDS), "demo did not exit on SIGTERM")
      val rest = slurp().split("\n").toVector
      // the headline is the line that strict-parses as a JSON object — the
      // same contract the driver's tail-window consumer applies
      val parsed = rest.flatMap { l =>
        try Some(mapper.readTree(l)).filter(_.isObject)
        catch { case _: Throwable => None }
      }
      assert(parsed.nonEmpty, s"no JSON line after SIGTERM; got: $rest")
      val node = parsed.last
      assert(node.get("aborted").asBoolean(), s"aborted flag missing: $node")
      assert(node.get("n_done").asInt() === 2)
      assert(node.get("n_total").asInt() === 4)
      assert(node.get("aborted_at").asText() === "q_killed_here")
      // everything that completed still ranks in the per-query map
      assert(node.get("queries").get("q_done_slow").asDouble() === 7.5)
      assert(node.get("value").asDouble() === 7.75)
      // the hook also refreshed the detail file with the partial evidence
      val d = mapper.readTree(detail.toFile)
      assert(d.get("partial").asBoolean())
      assert(d.get("aborted_at").asText() === "q_killed_here")
      assert(d.get("abort_exception").asText().contains("simulated shutdown"))
      assert(d.get("rep_times").get("q_done_slow").get(0)
        .get("wall").asDouble() === 7.5)
    } finally {
      p.destroyForcibly()
      p.waitFor()
      new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }

  test("abort hook never clobbers a committed detail file with an empty run") {
    val dir = java.nio.file.Files.createTempDirectory("benchkill2")
    try {
      val f = dir.resolve("BENCH_SELF.json")
      java.nio.file.Files.write(f, "{\"queries\":{\"a\":1.0}}".getBytes("UTF-8"))
      val state = new Bench.RunState(sfDir = "x", parityOnly = Set.empty,
        skipParity = false, hostAvailable = false)
      val hook = Bench.installAbortHook(state, f.toString)
      Runtime.getRuntime.removeShutdownHook(hook)
      hook.run() // simulate the JVM firing it with zero queries completed
      assert(state.headlinePrinted)
      // committed evidence untouched — an empty shell must not replace it
      assert(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .contains("\"a\":1.0"))
    } finally {
      new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }

  test("printHeadlineOnce is exactly-once across the hook/normal-path race") {
    val state = new Bench.RunState(sfDir = "x", parityOnly = Set.empty,
      skipParity = false, hostAvailable = false)
    state.synchronized { state.results("q") = 1.0 }
    assert(state.printHeadlineOnce(aborted = false))
    assert(!state.printHeadlineOnce(aborted = true))
  }
}
