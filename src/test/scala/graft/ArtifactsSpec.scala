package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Artifacts

/** The build-once registry's laws: one build per key under a race, nested
  * builds, no entry left by a failed build, the on-disk name, and deletion
  * of every handed-out path at JVM exit. Each test uses its own kinds, so
  * the registry's process-wide state never couples them. */
class ArtifactsSpec extends AnyFunSuite {
  private val pid = ProcessHandle.current().pid()

  test("8 racing callers on one key: the builder runs once, all see its value") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          Artifacts.once("spec_race", "k") {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        }
      }))
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
  }

  test("a builder may ask for another key") {
    val outer = Artifacts.once("spec_outer", "k") {
      "outer+" + Artifacts.once("spec_inner", "k")("inner")
    }
    assert(outer == "outer+inner")
    assert(Artifacts.built[String]("spec_outer") == Seq("k" -> "outer+inner"))
    assert(Artifacts.built[String]("spec_inner") == Seq("k" -> "inner"))
  }

  test("a build that throws leaves no entry; the next call builds again") {
    intercept[IllegalStateException] {
      Artifacts.once[String]("spec_fail", "k")(throw new IllegalStateException("boom"))
    }
    assert(Artifacts.built[String]("spec_fail").isEmpty)
    var builds = 0
    assert(Artifacts.once("spec_fail", "k") { builds += 1; "ok" } == "ok")
    assert(Artifacts.once("spec_fail", "k") { builds += 1; "again" } == "ok")
    assert(builds == 1)
  }

  test("dir: the exact graft_<kind>_<pid>_<sanitised dir> name, wiped before the build") {
    val expected = new File(sys.props("java.io.tmpdir"),
      s"graft_spec_name_${pid}__data_sf0.01_a_b-c").getPath
    new File(expected).mkdirs()
    Files.writeString(Paths.get(expected, "stale"), "left by a killed run")
    var sawStale = true
    val got = Artifacts.dir("spec_name", "/data/sf0.01 a:b-c") { p =>
      sawStale = new File(p, "stale").exists()
      new File(p).mkdirs()
      Files.writeString(Paths.get(p, "fresh"), "built")
    }
    assert(got == expected)
    assert(!sawStale && !new File(expected, "stale").exists())
    assert(new File(expected, "fresh").isFile)
    // memoised: a second call neither wipes nor rebuilds
    assert(Artifacts.dir("spec_name", "/data/sf0.01 a:b-c")(_ => fail("rebuilt")) == expected)
    assert(new File(expected, "fresh").isFile)
  }

  test("every dir and scratch path is gone after the JVM exits normally") {
    val tmp = Files.createTempDirectory("artifacts_exit")
    try {
      val javaBin = new File(new File(System.getProperty("java.home"), "bin"), "java").getPath
      val p = new ProcessBuilder(javaBin, s"-Djava.io.tmpdir=$tmp", "-cp",
        System.getProperty("java.class.path"), "graft.ArtifactsExitDemo")
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
      assert(p.waitFor(60, TimeUnit.SECONDS) && p.exitValue() == 0, out)
      val paths = out.filter(_.startsWith(tmp.toString))
      assert(paths.size == 2, out)
      paths.foreach(x => assert(!new File(x).exists(), s"$x survived the exit"))
      assert(tmp.toFile.list().isEmpty, tmp.toFile.list().toSeq)
    } finally new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }
}

/** Child JVM for ArtifactsSpec: fills one built dir and one scratch path,
  * prints both, and exits normally. */
object ArtifactsExitDemo {
  def main(args: Array[String]): Unit = {
    def fill(p: String): String = {
      new File(p).mkdirs()
      Files.writeString(Paths.get(p, "part"), "x")
      p
    }
    val built = Artifacts.dir("spec_exit", "/data/sf")(fill(_))
    val scratch = fill(Artifacts.scratch("spec_exit_scratch", "/data/sf"))
    require(new File(built, "part").isFile && new File(scratch, "part").isFile)
    println(built)
    println(scratch)
  }
}
