package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Snapshot

/** The snapshot-commit protocol's guarantees, each proven against a
  * planted failure: torn commits and orphan files are invisible, readers
  * are isolated from concurrent commits, MERGE leaves the previous
  * snapshot intact, vacuum honors retention. */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap_spec").toString

  private def cleanup(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("append commits accumulate; readAt time-travels; ids are dense") {
    import spark.implicits._
    val t = tmpTable()
    try {
      val id0 = Snapshot.commitAppend(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      val id1 = Snapshot.commitAppend(spark, t,
        Seq((3L, "c")).toDF("id", "v"))
      assert(id0 == 0L && id1 == 1L)
      assert(Snapshot.currentSnapshotId(spark, t).contains(1L))
      assert(rows(Snapshot.read(spark, t)) ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      assert(rows(Snapshot.readAt(spark, t, 0L)) == Set((1L, "a"), (2L, "b")))
      // manifest n_rows accounts for every committed row
      val n = Snapshot.readManifest(spark, t, 1L)
        .agg(sum(col("n_rows"))).collect().head.getLong(0)
      assert(n == 3L)
    } finally cleanup(t)
  }

  test("a TORN commit (manifest without _SUCCESS) is invisible; a retried commit at the same id heals it") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      // simulate a crash between manifest task files and the _SUCCESS
      // marker: run a real commit, then delete its _SUCCESS
      Snapshot.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "v"))
      assert(new java.io.File(s"$t/manifests/snap=1/_SUCCESS").delete())
      assert(Snapshot.currentSnapshotId(spark, t).contains(0L),
        "torn manifest must not be the current snapshot")
      assert(rows(Snapshot.read(spark, t)) == Set((1L, "a")),
        "reader must see the previous snapshot only")
      // the writer retries: same next id, overwrite clears the torn dir
      val id = Snapshot.commitAppend(spark, t, Seq((2L, "b2")).toDF("id", "v"))
      assert(id == 1L)
      assert(rows(Snapshot.read(spark, t)) == Set((1L, "a"), (2L, "b2")))
    } finally cleanup(t)
  }

  test("ORPHAN data files (written, never published) are invisible to readers and reclaimed by vacuum") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      // a crashed commit's step 1: data files land, no manifest ever does
      Seq((99L, "orphan")).toDF("id", "v")
        .write.parquet(s"$t/data/c=orphan")
      assert(rows(Snapshot.read(spark, t)) == Set((1L, "a")),
        "orphan data files must never surface in a read")
      val (deleted, dropped) = Snapshot.vacuum(spark, t, retainLast = 1)
      assert(deleted >= 1, "vacuum must reclaim the orphan's parquet files")
      assert(dropped == 0)
      assert(rows(Snapshot.read(spark, t)) == Set((1L, "a")))
    } finally cleanup(t)
  }

  test("SNAPSHOT ISOLATION: a frame resolved at snapshot S still reads S after later commits land") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      val pinned = Snapshot.read(spark, t) // file list resolved NOW
      Snapshot.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "v"))
      Snapshot.commitRewrite(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1))
      assert(rows(pinned) == Set((1L, "a")),
        "a pinned reader must be isolated from concurrent commits")
      assert(rows(Snapshot.read(spark, t)) == Set((1L, "a"), (2L, "b")))
    } finally cleanup(t)
  }

  test("commitMerge: MERGE semantics through the protocol; the PREVIOUS snapshot survives intact") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
      val src = Seq((1L, "a2", false), (2L, "b", true), (4L, "d", false))
        .toDF("id", "v", "del")
      val id = Snapshot.commitMerge(spark, t, src, "id", Seq("v"), col("del"))
      assert(id == 1L)
      assert(rows(Snapshot.read(spark, t)) ==
        Set((1L, "a2"), (3L, "c"), (4L, "d")))
      // time travel: the pre-merge state is a first-class snapshot
      assert(rows(Snapshot.readAt(spark, t, 0L)) ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally cleanup(t)
  }

  test("vacuum: unreferenced data files deleted, old manifests dropped, every RETAINED snapshot stays readable") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "v"))
      // full rewrite: snapshot 2 references ONLY c=2 files
      Snapshot.commitRewrite(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1))
      val (deleted, dropped) = Snapshot.vacuum(spark, t, retainLast = 1)
      assert(dropped == 2, s"manifests 0,1 must drop, dropped $dropped")
      assert(deleted >= 2, s"c=0/c=1 files must be reclaimed, deleted $deleted")
      assert(rows(Snapshot.read(spark, t)) == Set((1L, "a"), (2L, "b")),
        "the retained snapshot must remain fully readable")
      intercept[Exception](Snapshot.readAt(spark, t, 0L).collect())
    } finally cleanup(t)
  }

  test("commitAppendAt: a REPLAYED batch id resolves the same predecessor and rewrites itself idempotently") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppendAt(spark, t, 0L, Seq((1L, "a")).toDF("id", "v"))
      Snapshot.commitAppendAt(spark, t, 1L, Seq((2L, "b")).toDF("id", "v"))
      val before = rows(Snapshot.read(spark, t))
      assert(before == Set((1L, "a"), (2L, "b")))
      // replay batch 1 (crash between publish and checkpoint commit): a
      // PUBLISHED snap=1 short-circuits — same batch id implies same source
      // offsets under the single-writer contract, and rewriting data/c=1
      // (overwrite deletes first) would yank files the live manifest still
      // references out from under concurrent readers (round-15 advice)
      def parts() = new java.io.File(s"$t/data/c=1").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).toSet
      val partsBefore = parts()
      assert(Snapshot.commitAppendAt(spark, t, 1L,
        Seq((2L, "b")).toDF("id", "v")) == 1L)
      assert(Snapshot.currentSnapshotId(spark, t).contains(1L))
      assert(rows(Snapshot.read(spark, t)) == before,
        "a replayed batch must keep its snapshot content, never append twice")
      assert(parts() == partsBefore,
        "replay of a PUBLISHED snapshot must not touch its data files")
      // a TORN attempt at the id (no _SUCCESS — invisible to readers) is
      // NOT a completed commit and must fall through to the full rewrite
      Snapshot.commitAppendAt(spark, t, 2L, Seq((3L, "c")).toDF("id", "v"))
      assert(new java.io.File(s"$t/manifests/snap=2/_SUCCESS").delete())
      Snapshot.commitAppendAt(spark, t, 2L, Seq((3L, "c2")).toDF("id", "v"))
      assert(rows(Snapshot.read(spark, t)) ==
        Set((1L, "a"), (2L, "b"), (3L, "c2")),
        "a torn attempt must be rewritten by its replay")
    } finally cleanup(t)
  }

  test("snapshotAppendStream: per-micro-batch atomic publishes; torn/orphan plants invisible; batches time-travel") {
    import spark.implicits._
    val t = tmpTable()
    val base = new java.io.File(t + "_stream"); base.mkdirs()
    try {
      val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
      Seq(("g0", Seq((1L, "a"), (2L, "b")), 1000000000000L),
          ("g1", Seq((3L, "c")), 1000000060000L))
        .foreach { case (name, data, mtime) =>
          val stage = new java.io.File(base, s"stage_$name")
          data.toDF("id", "v").coalesce(1)
            .write.mode("overwrite").parquet(stage.getPath)
          val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
          val tgt = new java.io.File(srcDir, s"$name.parquet")
          java.nio.file.Files.move(part.toPath, tgt.toPath)
          // batch order rides on mtime — fail here, not as a downstream flake
          require(tgt.setLastModified(mtime),
            s"setLastModified unsupported on $tgt")
        }
      val deltas = spark.readStream.schema("id BIGINT, v STRING")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.getPath)
      val sq = graft.streaming.StreamingOps.snapshotAppendStream(
        deltas, t, new java.io.File(base, "ckpt").getPath)
      try sq.awaitTermination() finally if (sq.isActive) sq.stop()
      // each micro-batch is a first-class snapshot
      assert(rows(Snapshot.readAt(spark, t, 0L)) == Set((1L, "a"), (2L, "b")))
      assert(rows(Snapshot.read(spark, t)) ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // plants: orphan data + torn manifest stay invisible
      Seq((9L, "ORPHAN")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$t/data/c=777")
      Snapshot.commitAppendAt(spark, t, 778L, Seq((8L, "TORN")).toDF("id", "v"))
      assert(new java.io.File(s"$t/manifests/snap=778/_SUCCESS").delete())
      assert(rows(Snapshot.read(spark, t)) ==
        Set((1L, "a"), (2L, "b"), (3L, "c")),
        "orphan/torn plants must not surface through the manifest read")
    } finally { cleanup(t); cleanup(base.getPath) }
  }

  test("refs: versioned pointer moves, torn versions ignored, dangling targets rejected") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "v"))
      assert(Snapshot.readRef(spark, t, "main").isEmpty,
        "an unset ref must read as absent")
      intercept[IllegalStateException](
        Snapshot.readAtRef(spark, t, "main").collect())
      Snapshot.setRef(spark, t, "main", 0L)
      assert(Snapshot.readRef(spark, t, "main").contains(0L))
      assert(rows(Snapshot.readAtRef(spark, t, "main")) == Set((1L, "a")),
        "the ref reader must see the ref's target, not the newest snapshot")
      // a move WRITES a new version — nothing deleted, old-or-new only
      Snapshot.setRef(spark, t, "main", 1L)
      assert(Snapshot.readRef(spark, t, "main").contains(1L))
      // torn pointer version (no _SUCCESS) resolves to the previous one
      Snapshot.setRef(spark, t, "main", 0L)
      assert(new java.io.File(s"$t/refs/main/r=2/_SUCCESS").delete())
      assert(Snapshot.readRef(spark, t, "main").contains(1L),
        "a torn pointer version must be invisible")
      // dangling targets are refused outright
      intercept[IllegalArgumentException](
        Snapshot.setRef(spark, t, "main", 99L))
      intercept[IllegalArgumentException](
        Snapshot.setRef(spark, t, "bad/name", 0L))
    } finally cleanup(t)
  }

  test("write-audit-publish: a failed candidate never publishes; the fix appends onto the audited PARENT") {
    import spark.implicits._
    val t = tmpTable()
    try {
      val base = Snapshot.commitAppend(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      Snapshot.setRef(spark, t, "main", base)
      // candidate with a planted corruption — audit fails, ref stays
      val bad = Snapshot.commitAppend(spark, t,
        Seq((3L, "CORRUPT")).toDF("id", "v"))
      val audit = Snapshot.readAt(spark, t, bad)
        .where(col("v") === "CORRUPT").count() == 0
      assert(!audit && Snapshot.readRef(spark, t, "main").contains(base))
      // corrected candidate appends onto the audited PARENT, abandoning
      // the bad lineage (which stays readable by id for debugging)
      val fixed = Snapshot.commitAppend(spark, t,
        Seq((3L, "c")).toDF("id", "v"), parent = Some(base))
      Snapshot.setRef(spark, t, "main", fixed)
      assert(rows(Snapshot.readAtRef(spark, t, "main")) ==
        Set((1L, "a"), (2L, "b"), (3L, "c")),
        "the published lineage must be base + fix, no corrupted rows")
      assert(rows(Snapshot.readAt(spark, t, bad)) ==
        Set((1L, "a"), (2L, "b"), (3L, "CORRUPT")),
        "the failed candidate stays addressable by id until vacuum")
      // appending onto an uncommitted parent is refused
      intercept[IllegalArgumentException](Snapshot.commitAppend(spark, t,
        Seq((9L, "x")).toDF("id", "v"), parent = Some(42L)))
    } finally cleanup(t)
  }

  test("deletion vectors: positional merge-on-read delete — files immobile, time travel intact, post-delete appends untouched, rewrite retires the vector") {
    import spark.implicits._
    val t = tmpTable()
    try {
      // two rows share every column value — a KEYED tombstone could not
      // even name one of them; the positional vector can
      Snapshot.commitAppend(spark, t,
        Seq((1L, "keep"), (2L, "drop"), (2L, "drop")).toDF("id", "v"))
      def dataFiles() = {
        val d = new java.io.File(s"$t/data")
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(d).filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getPath, f.length, f.lastModified)).toSet
      }
      val filesBefore = dataFiles()
      // the vector carries one (file, pos) entry PER OCCURRENCE — both
      // identical rows are named individually, which no keyed form can do
      Snapshot.commitDelete(spark, t, col("v") === "drop")
      assert(Snapshot.read(spark, t).collect().map(_.getString(1)).toSeq
        == Seq("keep"), "both positional duplicates must be gone")
      assert(dataFiles() == filesBefore,
        "a DV delete must not touch data files")
      // time travel: the pre-delete snapshot still has all three rows
      assert(Snapshot.readAt(spark, t, 0L).count() == 3)
      // post-delete appends are outside the vector — even identical rows
      Snapshot.commitAppend(spark, t, Seq((2L, "drop")).toDF("id", "v"))
      assert(rows(Snapshot.read(spark, t)) == Set((1L, "keep"), (2L, "drop")),
        "the vector binds to the files it was computed over")
      // second delete is CUMULATIVE with the first
      Snapshot.commitDelete(spark, t, col("id") === 1L)
      assert(rows(Snapshot.read(spark, t)) == Set((2L, "drop")))
      // physical application: rewrite the merge-on-read view, vacuum
      Snapshot.commitRewrite(spark, t, Snapshot.read(spark, t))
      val m = Snapshot.readManifest(spark, t,
        Snapshot.currentSnapshotId(spark, t).get)
      assert(!m.columns.contains("dv_dir") ||
        m.where(col("dv_dir").isNotNull).count() == 0,
        "a rewrite materializes survivors and drops the vector")
      Snapshot.vacuum(spark, t, retainLast = 1)
      assert(!new java.io.File(s"$t/dv").exists() ||
        new java.io.File(s"$t/dv").listFiles().isEmpty,
        "vacuum must reclaim unreferenced deletion vectors")
      assert(rows(Snapshot.read(spark, t)) == Set((2L, "drop")))
    } finally cleanup(t)
  }

  test("MULTI-WRITER: two threads racing commitAppend both land; ids stay dense; retries are surfaced") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((0L, "base")).toDF("id", "v"))
      val before = Snapshot.commitRetriesTotal
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val th1 = new Thread(() => {
        try Snapshot.commitAppend(spark, t, Seq((1L, "w1")).toDF("id", "v"))
        catch { case e: Throwable => errs.add(e) }
      })
      val th2 = new Thread(() => {
        try Snapshot.commitAppend(spark, t, Seq((2L, "w2")).toDF("id", "v"))
        catch { case e: Throwable => errs.add(e) }
      })
      th1.start(); th2.start(); th1.join(120000); th2.join(120000)
      assert(errs.isEmpty, s"racing commits must not fail: ${errs.peek()}")
      assert(rows(Snapshot.read(spark, t)) ==
        Set((0L, "base"), (1L, "w1"), (2L, "w2")),
        "BOTH racing appends must land — no lost update")
      assert(Snapshot.currentSnapshotId(spark, t).contains(2L),
        "ids must stay dense: base=0, winners at 1 and 2")
      // the loser's collision is observable (≥0 — an unlucky serial
      // schedule may never collide, but the counter must never go down)
      assert(Snapshot.commitRetriesTotal >= before)
      // claims are released: a follow-up commit claims the next id freely
      assert(Snapshot.commitAppend(spark, t,
        Seq((9L, "after")).toDF("id", "v")) == 3L)
    } finally cleanup(t)
  }

  test("vacuum RETAINS ref-reachable snapshots: a named ref older than retainLast keeps its manifest, data files and DVs") {
    import spark.implicits._
    val t = tmpTable()
    try {
      // snapshot 0: the WAP-published state 'main' pins (with a DV so the
      // ref also pins delete metadata)
      Snapshot.commitAppend(spark, t,
        Seq((1L, "a"), (2L, "del-me")).toDF("id", "v"))
      Snapshot.commitDelete(spark, t, col("v") === "del-me")
      Snapshot.setRef(spark, t, "main", 1L)
      // three newer snapshots, the last a REWRITE (so old data files are
      // unreferenced by the retained tip)
      Snapshot.commitAppend(spark, t, Seq((3L, "c")).toDF("id", "v"))
      Snapshot.commitRewrite(spark, t,
        Seq((7L, "z")).toDF("id", "v").repartition(1))
      val (deleted, dropped) = Snapshot.vacuum(spark, t, retainLast = 1)
      // snapshots 0 and 2 drop; 1 (ref target) and 3 (tip) stay
      assert(dropped == 2, s"only the non-ref, non-tip manifests drop: $dropped")
      assert(rows(Snapshot.readAtRef(spark, t, "main")) == Set((1L, "a")),
        "the ref-reachable snapshot must survive vacuum INTACT (incl. DV)")
      assert(rows(Snapshot.read(spark, t)) == Set((7L, "z")))
      assert(deleted >= 1, "snapshot 2's unreferenced artifacts still reclaim")
    } finally cleanup(t)
  }

  test("LARGE DELETE: above the broadcast gate the DV applies through a plain anti-join — same result, no broadcast hint") {
    import spark.implicits._
    val t = tmpTable()
    val saved = Snapshot.deleteBroadcastMaxBytes
    try {
      Snapshot.commitAppend(spark, t,
        (1L to 1000L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
          .toDF("id", "v"))
      // delete HALF the table with the gate forced shut: the fallback
      // path must produce identical results
      Snapshot.deleteBroadcastMaxBytes = 0L
      Snapshot.commitDelete(spark, t, col("v") === "even")
      val df = Snapshot.read(spark, t)
      assert(!df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
        "gate shut: the DV anti-join must carry no broadcast hint")
      assert(df.count() == 500L && df.where(col("v") === "even").count() == 0L)
      // gate open (default): the same read carries the hint
      Snapshot.deleteBroadcastMaxBytes = saved
      assert(Snapshot.read(spark, t).queryExecution.optimizedPlan.toString
        .contains("strategy=broadcast"),
        "gate open: a small DV must broadcast")
      assert(Snapshot.read(spark, t).count() == 500L)
    } finally { Snapshot.deleteBroadcastMaxBytes = saved; cleanup(t) }
  }

  test("EQUALITY DELETE: keyed merge-on-read — no data scan at commit, later re-inserts of the key survive, rewrite retires it") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
      def dataFiles() = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(s"$t/data"))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getPath, f.length, f.lastModified)).toSet
      }
      val filesBefore = dataFiles()
      // snap 1: keyed delete — data files byte-immobile
      Snapshot.commitEqDelete(spark, t, Seq(2L, 99L).toDF("id"))
      assert(dataFiles() == filesBefore,
        "an equality delete must not touch (or even rewrite) data files")
      assert(rows(Snapshot.read(spark, t)) == Set((1L, "a"), (3L, "c")))
      // time travel: pre-delete snapshot sees the row
      assert(rows(Snapshot.readAt(spark, t, 0L)) ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // snap 2: RE-INSERT of the deleted key — sequenced AFTER the delete,
      // so it survives (the Iceberg-v2 sequence rule)
      Snapshot.commitAppend(spark, t, Seq((2L, "b2")).toDF("id", "v"))
      assert(rows(Snapshot.read(spark, t)) ==
        Set((1L, "a"), (3L, "c"), (2L, "b2")),
        "a key re-inserted after the delete must survive it")
      // a second eq-delete composes with the first
      Snapshot.commitEqDelete(spark, t, Seq(1L).toDF("id"))
      assert(rows(Snapshot.read(spark, t)) == Set((3L, "c"), (2L, "b2")))
      // rewrite materializes, dropping delete metadata; vacuum reclaims
      Snapshot.commitRewrite(spark, t, Snapshot.read(spark, t))
      Snapshot.vacuum(spark, t, retainLast = 1)
      assert(!new java.io.File(s"$t/eqdv").exists() ||
        new java.io.File(s"$t/eqdv").listFiles().isEmpty,
        "vacuum must reclaim unreferenced equality-delete key tables")
      assert(rows(Snapshot.read(spark, t)) == Set((3L, "c"), (2L, "b2")))
    } finally cleanup(t)
  }

  test("O(new) COMMITS: an append rewrites no prior segment; the manifest list is |segments|-sized") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      def segFiles(id: Long) =
        new java.io.File(s"$t/segments/seg=$id").listFiles()
          .map(f => (f.getName, f.length, f.lastModified)).toSet
      val seg0 = segFiles(0L)
      Snapshot.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((3L, "c")).toDF("id", "v"))
      assert(segFiles(0L) == seg0,
        "older manifest segments must be byte-immobile across appends")
      val list = Snapshot.readManifestList(spark, t, 2L)
      assert(list.count() == 3L,
        "the manifest list carries ONE row per segment")
      assert(list.select(sum(col("n_rows"))).collect().head.getLong(0) == 3L)
      // segment-level pruning: a list-envelope keep drops whole segments
      Snapshot.commitAppend(spark, t,
        Seq((100L, "hi")).toDF("id", "v"), statsCols = Seq("id"))
      val pruned = Snapshot.readPruned(spark, t,
        keep = col("min_id") <= 100L && col("max_id") >= 100L)
      // stats-less segments have null envelopes → conservatively read; the
      // stats segment matches → everything surfaces
      assert(rows(pruned) ==
        Set((1L, "a"), (2L, "b"), (3L, "c"), (100L, "hi")))
      val none = Snapshot.readPruned(spark, t,
        keep = col("min_id") <= -5L && col("max_id") >= -5L,
        segmentPruning = true)
      // null-envelope segments still read; only the stats segment prunes
      assert(rows(none) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally cleanup(t)
  }

  test("SEGMENT COMPACTION: small segments fold into one, big ones byte-immobile, pending deletes applied to exactly the rewritten rows") {
    import spark.implicits._
    val t = tmpTable()
    try {
      // three 1-row appends + one 5-row append
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((3L, "c")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t,
        (10L to 14L).map(i => (i, "big")).toDF("id", "v").repartition(1))
      // pending merge-on-read deletes BEFORE compaction: positional on
      // id=2, equality on id=3 — both live in small segments
      Snapshot.commitDelete(spark, t, col("id") === 2L)
      Snapshot.commitEqDelete(spark, t, Seq(3L).toDF("id"))
      def segFiles(id: Long) =
        new java.io.File(s"$t/segments/seg=$id").listFiles()
          .map(f => (f.getName, f.length, f.lastModified)).toSet
      val bigSeg = segFiles(3L)
      val live = rows(Snapshot.read(spark, t))
      assert(live == Set((1L, "a")) ++ (10L to 14L).map((_, "big")).toSet)
      val cid = Snapshot.commitCompactSegments(spark, t, smallRowsMax = 1L)
      assert(cid.contains(6L))
      assert(segFiles(3L) == bigSeg,
        "the big segment must be byte-immobile across compaction")
      assert(Snapshot.readManifestList(spark, t, 6L).count() == 2L,
        "three small segments fold into ONE row + the big segment's row")
      assert(rows(Snapshot.read(spark, t)) == live,
        "compaction must not change the live view")
      // the deletes were PHYSICALLY applied to the rewritten rows: a
      // re-insert of the eq-deleted key after compaction survives (its
      // seq follows the delete's), and the compacted rows stayed out
      Snapshot.commitAppend(spark, t, Seq((3L, "c2")).toDF("id", "v"))
      assert(rows(Snapshot.read(spark, t)) == live + ((3L, "c2")))
      // time travel to the pre-compaction snapshot: merge-on-read intact
      assert(rows(Snapshot.readAt(spark, t, 5L)) == live)
      // nothing qualifies → None, no commit
      assert(Snapshot.commitCompactSegments(spark, t, smallRowsMax = 0L).isEmpty)
      assert(Snapshot.currentSnapshotId(spark, t).contains(7L))
    } finally cleanup(t)
  }

  test("SCHEMA EVOLUTION: a later append may ADD columns — earlier rows read null, time travel keeps the old shape, conflicts refused") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t,
        Seq((2L, "b", 70L)).toDF("id", "v", "q"))
      val df = Snapshot.read(spark, t)
      assert(df.columns.toSeq == Seq("id", "v", "q"),
        "the table schema is the seq-ordered union of segment schemas")
      val got = df.collect().map(r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(got == Set((1L, "a", -1L), (2L, "b", 70L)),
        "pre-evolution rows must read the added column as NULL")
      // time travel: the pre-evolution snapshot keeps its own shape
      assert(Snapshot.readAt(spark, t, 0L).columns.toSeq == Seq("id", "v"))
      // deletes and pruning run over the evolved shape
      Snapshot.commitEqDelete(spark, t, Seq(1L).toDF("id"))
      assert(Snapshot.read(spark, t).collect().map(_.getLong(0)).toSeq ==
        Seq(2L))
      // a TYPE conflict on an existing name is refused loudly
      Snapshot.commitAppend(spark, t, Seq((3L, "c", "oops"))
        .toDF("id", "v", "q")) // commit lands (files are just parquet)…
      intercept[IllegalArgumentException](
        Snapshot.read(spark, t).collect())   // …but the read refuses
    } finally cleanup(t)
  }

  test("INCREMENTAL READ: window appends live-at-end, pre-window rows invisible, delete-only window empty, rewrite refused") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
      Snapshot.commitDelete(spark, t, col("id") === 3L) // kills a window row
      Snapshot.commitAppend(spark, t, Seq((5L, "e")).toDF("id", "v"))
      assert(rows(Snapshot.readIncremental(spark, t, 0L, 3L)) ==
        Set((4L, "d"), (5L, "e")),
        "window = appended rows as live at the window end; pre-window " +
          "rows and the in-window-deleted row stay out")
      assert(rows(Snapshot.readIncremental(spark, t, -1L, 3L)) ==
        Set((1L, "a"), (2L, "b"), (4L, "d"), (5L, "e")),
        "fromId = -1 reads from table creation")
      assert(Snapshot.readIncremental(spark, t, 1L, 2L).count() == 0L,
        "a delete-only window appends nothing")
      // a full rewrite re-homes pre-window rows — not incremental-safe
      Snapshot.commitRewrite(spark, t, Snapshot.read(spark, t))
      intercept[IllegalArgumentException](
        Snapshot.readIncremental(spark, t, 3L, 4L))
    } finally cleanup(t)
  }

  test("CHANGELOG: events replay the window (inserts as written, deletes vs parent-live), compaction emits nothing, merge refused") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
      Snapshot.commitDelete(spark, t, col("id") % 2L === 1L) // kills 1 and 3
      Snapshot.commitEqDelete(spark, t, Seq(2L).toDF("id"))
      Snapshot.commitAppend(spark, t, Seq((2L, "b2")).toDF("id", "v"))
      val ev = Snapshot.readChangelog(spark, t, 0L, 4L)
        .select(col("_commit_id"), col("_change_type"), col("id"), col("v"))
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
      assert(ev == Set(
        (1L, "insert", 3L, "c"), (1L, "insert", 4L, "d"),
        (2L, "delete", 1L, "a"), (2L, "delete", 3L, "c"),
        (3L, "delete", 2L, "b"),
        (4L, "insert", 2L, "b2")),
        "positional delete events resolve vs parent-live; the equality " +
          "delete's event excludes already-dead rows; the re-insert is a " +
          "fresh insert event")
      // replay law: folding the events in _commit_id order over the
      // fromId view yields the toId view
      val replayed = ev.toSeq.sortBy(_._1)
        .foldLeft(rows(Snapshot.readAt(spark, t, 0L))) {
          case (st, (_, "insert", id, v)) => st + ((id, v))
          case (st, (_, _, id, v))        => st - ((id, v))
        }
      assert(replayed == rows(Snapshot.readAt(spark, t, 4L)),
        "replaying the events over the fromId view yields the toId view")
      // compaction: a logical no-op — zero events, appends still tracked
      Snapshot.commitAppend(spark, t, Seq((6L, "f")).toDF("id", "v"))
      Snapshot.commitCompactSegments(spark, t, smallRowsMax = 10L)
      val ev2 = Snapshot.readChangelog(spark, t, 4L, 6L)
        .select(col("_commit_id"), col("_change_type"), col("id"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(ev2 == Set((5L, "insert", 6L)),
        "compaction must contribute no changelog events")
      // a MERGE is a full rewrite — not row-level trackable
      Snapshot.commitMerge(spark, t,
        Seq((6L, "g", false)).toDF("id", "v", "del"),
        "id", Seq("v"), col("del"))
      intercept[IllegalStateException](
        Snapshot.readChangelog(spark, t, 6L, 7L).collect())
    } finally cleanup(t)
  }

  test("HISTORY: one metadata row per committed snapshot, carried op kinds, physical row totals") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "v"))
      Snapshot.commitEqDelete(spark, t, Seq(1L).toDF("id"))
      Snapshot.commitCompactSegments(spark, t, smallRowsMax = 10L)
      val h = Snapshot.history(spark, t)
        .select("snapshot_id", "op", "n_segments", "n_rows", "n_eq_dirs")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
      assert(h == Seq(
        (0L, "append", 1L, 1L, 0L),
        (1L, "append", 2L, 2L, 0L),
        (2L, "eqdelete", 2L, 2L, 1L),   // merge-on-read: physical rows keep
        (3L, "compact", 1L, 1L, 1L)),   // rewrite applied the delete
        s"history mismatch: $h")
    } finally cleanup(t)
  }

  test("ROLL-FORWARD AGG: base + signed changelog deltas ≡ direct aggregate; fully-retracted keys drop out") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t,
        Seq((1L, "k1", 10L), (2L, "k2", 20L)).toDF("id", "k", "x"))
      Snapshot.commitDelete(spark, t, col("id") === 1L) // retracts all of k1
      Snapshot.commitAppend(spark, t, Seq((3L, "k2", 5L)).toDF("id", "k", "x"))
      val base = Snapshot.readAt(spark, t, 0L).groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val rolled = Snapshot.rollForwardAgg(base,
        Snapshot.readChangelog(spark, t, 0L, 2L), Seq("k"), "n", Seq("x" -> "sx"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val direct = Snapshot.read(spark, t).groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rolled == direct, s"rolled $rolled vs direct $direct")
      assert(!rolled.exists(_._1 == "k1"),
        "a fully-retracted key must drop out of the rolled aggregate")
    } finally cleanup(t)
  }

  test("CHANGELOG TAIL: the sink is the offset — mirrored ids, compaction skipped, idempotent replay, torn sink publish heals") {
    import spark.implicits._
    val src = tmpTable(); val snk = tmpTable()
    try {
      Snapshot.commitAppend(spark, src,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      Snapshot.commitAppend(spark, src, Seq((3L, "c")).toDF("id", "v"))
      assert(Snapshot.tailChangelog(spark, src, snk, Seq("id")) ==
        Seq(0L, 1L), "sink commits mirror the source snapshot ids")
      assert(rows(Snapshot.read(spark, snk)) ==
        rows(Snapshot.readAt(spark, src, 1L)))
      // source moves on: positional delete, keyed re-insert, compaction
      Snapshot.commitDelete(spark, src, col("id") === 2L)
      Snapshot.commitAppend(spark, src, Seq((2L, "b2")).toDF("id", "v"))
      Snapshot.commitCompactSegments(spark, src, smallRowsMax = 10L)
      assert(Snapshot.tailChangelog(spark, src, snk, Seq("id")) ==
        Seq(2L, 3L), "the tail resumes from the sink's own state; the " +
          "compaction is a logical no-op and is skipped")
      assert(rows(Snapshot.read(spark, snk)) == rows(Snapshot.read(spark, src)),
        "the positional delete replays as a keyed delete; the re-insert " +
          "survives it on the mirrored sequence rule")
      assert(Snapshot.tailChangelog(spark, src, snk, Seq("id")).isEmpty,
        "a caught-up tail is a no-op")
      // crash between sink publish and nothing at all: tear the newest
      // sink publish — the next call rebuilds exactly that commit
      assert(new java.io.File(s"$snk/manifests/snap=3/_SUCCESS").delete())
      assert(Snapshot.tailChangelog(spark, src, snk, Seq("id")) == Seq(3L))
      assert(rows(Snapshot.read(spark, snk)) == rows(Snapshot.read(spark, src)))
    } finally { cleanup(src); cleanup(snk) }
  }

  test("ONE COLLECT PER LIST: building read and a three-commit readChangelog runs 2 and 6 Spark actions") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      Snapshot.commitAppend(spark, t, Seq((3L, "c")).toDF("id", "v"))
      Snapshot.commitDelete(spark, t, col("id") === 1L)
      Snapshot.commitAppend(spark, t, Seq((4L, "d")).toDF("id", "v"))
      // query executions fired while BUILDING the frame (nothing is run)
      def actions(build: => org.apache.spark.sql.DataFrame): Int = {
        import org.apache.spark.sql.execution.QueryExecution
        val n = new java.util.concurrent.atomic.AtomicInteger
        val counter = new org.apache.spark.sql.util.QueryExecutionListener {
          def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
            n.incrementAndGet()
          def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
            n.incrementAndGet()
        }
        org.apache.spark.SparkTestBus.drain(spark.sparkContext)
        spark.listenerManager.register(counter)
        try { build; org.apache.spark.SparkTestBus.drain(spark.sparkContext) }
        finally spark.listenerManager.unregister(counter)
        n.get
      }
      // the list collect, then the file-name collect
      assert(actions(Snapshot.read(spark, t)) == 2)
      // lists 3, 1 and 2 (list 1 doubles as the delete's parent); segment
      // 1's and 3's file names; the delete vector's file names
      assert(actions(Snapshot.readChangelog(spark, t, 0L, 3L)) == 6)
    } finally cleanup(t)
  }

  test("REFUSAL: a manifest list without op or schema_json is refused by read, readChangelog and history, naming the column") {
    import spark.implicits._
    val t = tmpTable()
    try {
      Snapshot.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"))
      val list0 = s"$t/manifests/snap=0"
      spark.read.parquet(list0).write.parquet(s"$t/list0_copy")
      for (c <- Seq("op", "schema_json")) {
        spark.read.parquet(s"$t/list0_copy").drop(c)
          .write.mode("overwrite").parquet(list0)
        def refused(call: => Any): Unit = {
          val e = intercept[IllegalStateException](call)
          assert(e.getMessage.contains(s"'$c'"), e.getMessage)
        }
        refused(Snapshot.read(spark, t))
        refused(Snapshot.readChangelog(spark, t, -1L, 0L))
        refused(Snapshot.history(spark, t))
      }
    } finally cleanup(t)
  }
}
