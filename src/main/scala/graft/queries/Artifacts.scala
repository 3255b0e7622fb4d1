package graft.queries

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The registry's build-once artifacts: trained quantizers, pinned pair
  * lists, stored indexes and snapshot tables that several queries share.
  *
  * Each artifact is named by a (kind, key) pair and built at most once per
  * process, however many threads ask for it at the same time: the first
  * caller builds while later callers wait on that key's lock alone, so a
  * builder may itself ask for another key (a stored IVF index needs the
  * trained centroids). A build that throws leaves no entry, and the next
  * caller builds again.
  *
  * Directory artifacts live at
  * `java.io.tmpdir/graft_<kind>_<pid>_<sanitised sf dir>`: the pid keeps
  * concurrent JVMs apart, the full dir keeps two corpora apart. Every path
  * handed out is wiped before use (a killed run's leftovers would otherwise
  * be appended to) and deleted when the JVM exits.
  */
object Artifacts {

  private final class Slot {
    @volatile var value: Option[Any] = None
    var dropped = false // guarded by this
  }

  private val slots = new ConcurrentHashMap[(String, Any), Slot]()
  private val paths = ConcurrentHashMap.newKeySet[File]()

  sys.addShutdownHook(paths.asScala.foreach(delete))

  /** The value built for (kind, key), building it on the first call. */
  @annotation.tailrec
  def once[T](kind: String, key: Any)(build: => T): T = {
    val k = (kind, key)
    val slot = slots.computeIfAbsent(k, _ => new Slot)
    val got = slot.synchronized {
      if (slot.dropped) None
      else slot.value.orElse {
        try {
          slot.value = Some(build)
          slot.value
        } catch {
          case e: Throwable =>
            slot.dropped = true
            slots.remove(k, slot)
            throw e
        }
      }
    }
    got match {
      case Some(v) => v.asInstanceOf[T]
      case None => once(kind, key)(build) // a failed build dropped this slot
    }
  }

  /** A directory built once per (kind, sf dir): `build` writes into the
    * freshly wiped path, which is returned to every caller. */
  def dir(kind: String, sfDir: String)(build: String => Unit): String =
    once(kind, sfDir) {
      val p = scratch(kind, sfDir)
      build(p)
      p
    }

  /** The same path as [[dir]], wiped on every call and never memoised —
    * for queries that rewrite their output each time they run. */
  def scratch(kind: String, sfDir: String): String = {
    val f = new File(sys.props("java.io.tmpdir"),
      s"graft_${kind}_${ProcessHandle.current().pid()}_" +
        sfDir.replaceAll("[^A-Za-z0-9._-]", "_"))
    paths.add(f)
    delete(f)
    f.getPath
  }

  /** Every finished (key, value) of one kind — what the embedded-artifact
    * oracles read after their queries have run. Builds in flight are not
    * waited for. */
  def built[T](kind: String): Seq[(Any, T)] =
    slots.asScala.toSeq.flatMap { case ((k, key), slot) =>
      if (k == kind) slot.value.map(v => key -> v.asInstanceOf[T]) else None
    }

  private def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
