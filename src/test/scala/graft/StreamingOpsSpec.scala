package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

/** Streaming semantics via MemoryStream micro-batches: the streaming ops must
  * produce exactly the batch results on the same data (tumbling windows,
  * sessions), dedup must drop intra-stream repeats, and the custom
  * flatMapGroupsWithState op must carry state across batches. */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  // (event_id, ts, user_id, event_type, value)
  private val rows = Seq(
    (1L, ts(0), 1L, "click", 1.0),
    (2L, ts(10), 1L, "click", 2.0),
    (3L, ts(75), 1L, "view", 4.0),   // >30min gap → new session, second hour
    (4L, ts(5), 2L, "click", 8.0),
    (5L, ts(20), 2L, "view", 16.0),
    (6L, ts(130), 2L, "view", 32.0)) // third hour

  /** Far-future watermark pusher: append mode only emits windows/sessions the
    * final watermark has closed, so every stream gets one sentinel event a
    * day ahead (its own window never closes and never appears in output). */
  private val sentinel = (999L, Timestamp.valueOf("2024-01-02 10:00:00"), 99L, "flush", 0.0)

  private def deleteDirs(dirs: String*): Unit = dirs.foreach { d =>
    new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively()
  }

  private def runStream(name: String)(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                                      mode: OutputMode): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    mem.addData(rows :+ sentinel: _*)
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = build(df).writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    spark.table(name)
  }

  test("hoppingCountsExact: streaming result equals the batch hopping aggregation") {
    import spark.implicits._
    val got = runStream("s_hopping")(StreamingOps.hoppingCountsExact(_), OutputMode.Append())
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5))) / lit(10000.0)).as("s"))
      .select(col("window.start"), col("event_type"), col("n"), col("s"))
      .orderBy(col("start"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == batch.toSeq)
    // every event lands in exactly 4 sliding windows
    assert(got.map(_._3).sum == 4L * rows.length,
      s"expected 4 windows per event: ${got.toSeq}")
  }

  test("hourlyCounts: streaming result equals the batch window aggregation") {
    import spark.implicits._
    val got = runStream("s_hourly")(StreamingOps.hourlyCounts(_), OutputMode.Append())
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("s"))
      .select(col("window.start"), col("event_type"), col("n"), col("s"))
      .orderBy(col("start"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == batch.toSeq)
    assert(got.nonEmpty)
  }

  test("sessionize: 30-minute gap closes a session; watermark flushes all on AvailableNow") {
    val got = runStream("s_sessions")(StreamingOps.sessionize(_), OutputMode.Append())
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01 10:00:00.0", 2L, 3.0),   // events 1,2
      (1L, "2024-01-01 11:15:00.0", 1L, 4.0),   // event 3
      (2L, "2024-01-01 10:05:00.0", 2L, 24.0),  // events 4,5
      (2L, "2024-01-01 12:10:00.0", 1L, 32.0))) // event 6
  }

  test("dedupEvents: repeated event_id within the watermark is dropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    mem.addData(rows ++ rows.take(3): _*) // re-send first three events
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.dedupEvents(df).writeStream.format("memory")
      .queryName("s_dedup").outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("s_dedup").count() == rows.size)
  }

  test("enrich: stream-static join attaches dimension columns per micro-batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("d_user", "tier")
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    mem.addData(rows: _*)
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.enrich(df, dim, "user_id", "d_user")
      .writeStream.format("memory").queryName("s_enrich")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val tiers = spark.table("s_enrich")
      .collect().map(r => (r.getLong(0), r.getString(5))).toMap
    assert(tiers(1L) == "gold" && tiers(4L) == "silver")
    assert(spark.table("s_enrich").count() == rows.size)
  }

  test("intervalJoin: stream-stream join ≡ batch timeBandJoin on the same data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // left: purchases (event_id, user_id, ts); right: errors (user_id, ts, value)
    val lRows = Seq((1L, 1L, ts(30)), (2L, 2L, ts(45)), (3L, 1L, ts(120)))
    val rRows = Seq((1L, ts(10), 5.0), (1L, ts(25), 6.0), (2L, ts(44), 7.0),
      (1L, ts(115), 8.0), (2L, ts(150), 9.0))
    val lMem = MemoryStream[(Long, Long, Timestamp)]
    val rMem = MemoryStream[(Long, Timestamp, Double)]
    lMem.addData(lRows: _*); rMem.addData(rRows: _*)
    val q = StreamingOps.intervalJoin(
        lMem.toDF().toDF("event_id", "user_id", "ts"),
        rMem.toDF().toDF("user_id", "ts", "value"),
        Seq("user_id"), "ts", "ts", lookbackSec = 1800L)
      .writeStream.format("memory").queryName("s_interval")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("s_interval").select("event_id", "r_value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = graft.operators.Temporal.timeBandJoin(
        lRows.toDF("event_id", "user_id", "ts"),
        rRows.toDF("user_id", "ts", "value"),
        Seq("user_id"), "ts", "ts", lookbackSec = 1800L)
      .select("event_id", "r_value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == batch)
    // errors at t10/t25 precede the t30 purchase within 30min; t44→t45; t115→t120
    assert(got == Set((1L, 5.0), (1L, 6.0), (2L, 7.0), (3L, 8.0)))
  }

  test("intervalJoin left_outer: unmatched left rows emit null-padded after watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // purchase 2 (user 2) has no error in its 30-min band; sentinels a day
    // ahead advance both watermarks so the outer result flushes
    val lRows = Seq((1L, 1L, ts(30)), (2L, 2L, ts(45)))
    val rRows = Seq((1L, ts(25), 6.0), (2L, ts(150), 9.0))
    val far = Timestamp.valueOf("2024-01-02 10:00:00")
    val lMem = MemoryStream[(Long, Long, Timestamp)]
    val rMem = MemoryStream[(Long, Timestamp, Double)]
    lMem.addData(lRows :+ ((99L, 99L, far)): _*)
    rMem.addData(rRows :+ ((99L, far, 0.0)): _*)
    val q = StreamingOps.intervalJoin(
        lMem.toDF().toDF("event_id", "user_id", "ts"),
        rMem.toDF().toDF("user_id", "ts", "value"),
        Seq("user_id"), "ts", "ts", lookbackSec = 1800L,
        joinType = "left_outer")
      .writeStream.format("memory").queryName("s_interval_outer")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("s_interval_outer")
      .where(col("event_id") < 99L)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .toSet
    assert(got == Set((1L, Some(6.0)), (2L, None)),
      "matched row keeps its pair; unmatched left row must flush null-padded")
  }

  test("toParquetBatches: foreachBatch parquet sink lands every row with batch id") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
      mem.addData(rows: _*)
      val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      val q = StreamingOps.toParquetBatches(df, out, ckpt)
      q.processAllAvailable()
      q.stop()
      val landed = spark.read.parquet(out)
      assert(landed.count() == rows.size)
      assert(landed.columns.contains("__batch_id"))
    } finally deleteDirs(out, ckpt)
  }

  test("toParquetBatches replay: re-writing the same batch id does not duplicate rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_sink_replay").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_replay").toString
    try {
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
      mem.addData(rows: _*)
      val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      val q = StreamingOps.toParquetBatches(df, out, ckpt)
      q.processAllAvailable()
      q.stop()
      val once = spark.read.parquet(out)
      val n = once.count()
      // partition-dir column comes back type-inferred (int), not long
      val lastBatch = once.agg(org.apache.spark.sql.functions.max("__batch_id"))
        .collect()(0).get(0).asInstanceOf[Number].longValue
      // simulate a post-crash replay of the final batch: same rows, same id
      val replayRows = once.where(org.apache.spark.sql.functions.col("__batch_id") === lastBatch)
        .drop("__batch_id")
      StreamingOps.writeBatch(replayRows, lastBatch, out)
      assert(spark.read.parquet(out).count() == n,
        "a replayed batch must overwrite its own partition, not append a second copy")
    } finally deleteDirs(out, ckpt)
  }

  test("checkpoint resume: a restarted query processes only new files, exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("graft_resume_in")
    val out = java.nio.file.Files.createTempDirectory("graft_resume_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_resume_ckpt").toString
    val stages = scala.collection.mutable.Buffer.empty[String]
    try {
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("value", DoubleType)))

      // drop a single-file parquet batch into the watched dir under a stable name
      def addFile(name: String, data: Seq[(Long, Double)]): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft_resume_stage").toString
        stages += tmp
        data.toDF("event_id", "value").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, in.resolve(name))
      }
      // run the file-source stream against the SAME checkpoint until drained
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(in.toString)
        val q = StreamingOps.toParquetBatches(stream, out, ckpt)
        q.processAllAvailable()
        q.stop()
      }

      addFile("a.parquet", Seq((1L, 1.0), (2L, 2.0)))
      runOnce() // processes file a
      val afterA = spark.read.parquet(out)
      assert(afterA.select("event_id").as[Long].collect().toSet == Set(1L, 2L))
      val batchesA = afterA.select("__batch_id").distinct().count()

      addFile("b.parquet", Seq((3L, 3.0)))
      runOnce() // resumed from the checkpoint: must see ONLY file b
      val afterB = spark.read.parquet(out)
      assert(afterB.select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L),
        "restart must process the new file and must NOT reprocess the old one")
      assert(afterB.count() == 3, "exactly-once across restart: no duplicated rows")
      assert(afterB.select("__batch_id").distinct().count() == batchesA + 1,
        "the resumed run must land as a NEW batch id continuing the checkpointed sequence")
    } finally deleteDirs(Seq(in.toString, out, ckpt) ++ stages: _*)
  }

  test("file-source streaming: readStream over the real events.parquet ≡ batch") {
    val dir = "/root/testdata/sf0.001"
    val (rawSchema, norm) = graft.engine.Sources.eventsStreamLayout(spark, dir)
    val stream = norm(spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    val q = StreamingOps.hourlyCounts(stream, watermark = "0 seconds")
      .writeStream.format("memory").queryName("s_file_hourly")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("s_file_hourly")
      .agg(org.apache.spark.sql.functions.sum("n_events")).collect()(0).getLong(0)
    val expected = graft.engine.Sources.events(spark, dir).count()
    assert(got == expected, s"file-streamed window counts $got != batch rows $expected")
  }

  test("stream-static anti screen: streamed new-arrivals ≡ batch anti-join, any batching") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val (rawSchema, _) = graft.engine.Sources.eventsStreamLayout(spark, dir)
    val fpCol = md5(concat_ws("|",
      col("user_id"), col("event_type"), col("props")).cast("binary"))
    val batchEvents = graft.engine.Sources.events(spark, dir)
    val history = batchEvents.where(col("event_id") % 3 =!= 2)
      .select(fpCol.as("h_fp")).distinct().localCheckpoint()
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = stream.withColumn("fp", fpCol)
      .join(history, col("fp") === col("h_fp"), "left_outer")
      .where(col("h_fp").isNull)
      .select(col("event_id"))
      .writeStream.format("memory").queryName("s_new_arrivals")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("s_new_arrivals").collect().map(_.getLong(0)).toSet
    val expected = batchEvents.withColumn("fp", fpCol)
      .join(history, col("fp") === col("h_fp"), "left_anti")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"streamed anti screen diverged: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(got.nonEmpty && got.size < batchEvents.count(),
      "the screen must drop known content and keep genuinely new rows")
  }

  test("bandedNearDupScreen: streamed ≡ batch bipartite screen under micro-batch slicing; end-of-stream state is EMPTY") {
    import graft.operators.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val corpus = docs.where(col("doc_id") % 5 =!= 4)
    // Slice the stream into FOUR files in ingest-time order (arrivals by
    // rising ingest minute, corpus HEARTBEATS last) so maxFilesPerTrigger=1
    // yields real multi-batch execution with candidate windows closing
    // while later batches are still arriving.
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bscreen_${ProcessHandle.current().pid()}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (base.exists()) rm(base)
    val streamDir = new java.io.File(base, "stream"); streamDir.mkdirs()
    val slices = Seq(
      docs.where(col("doc_id") % 5 === 4 && col("doc_id") % 60 < 20),
      docs.where(col("doc_id") % 5 === 4 && col("doc_id") % 60 >= 20 &&
        col("doc_id") % 60 < 40),
      docs.where(col("doc_id") % 5 === 4 && col("doc_id") % 60 >= 40),
      corpus)
    slices.zipWithIndex.foreach { case (df, i) =>
      val stage = new java.io.File(base, s"stage$i")
      df.coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(streamDir, f"slice$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L) // force source order
    }
    val schema = docs.schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.getPath)
    val q = StreamingOps.bandedNearDupScreen(
        src.withColumn("ingest_ts",
            when(col("doc_id") % 5 === 4,
              timestamp_seconds(lit(1704067200L) + (col("doc_id") % 60) * 60))
              .otherwise(timestamp_seconds(lit(1704067200L + 86400L))))
          .withWatermark("ingest_ts", "10 minutes")
          // filter on the WATERMARK COLUMN (⟺ arrivals): a doc_id
          // predicate pushes below the EventTimeWatermark node and the
          // heartbeats would never advance the watermark
          .where(col("ingest_ts") < timestamp_seconds(lit(1704067200L + 86400L))),
        corpus, "doc_id", "text", "ingest_ts", threshold = 0.8)
      .writeStream.format("memory").queryName("s_banded_screen")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table("s_banded_screen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // batch truth: the exact bipartite jaccard screen
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .withColumn("n", size(col("sh"))).localCheckpoint()
    val expected = sh.where(col("doc_id") % 5 === 4)
      .select(col("doc_id").as("a_id"), col("sh").as("a_sh"), col("n").as("a_n"))
      .crossJoin(sh.where(col("doc_id") % 5 =!= 4)
        .select(col("doc_id").as("c_id"), col("sh").as("c_sh"), col("n").as("c_n")))
      .withColumn("inter", size(array_intersect(col("a_sh"), col("c_sh"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("a_n") + col("c_n") - col("inter")).cast("double"), 6))
      .where(col("jaccard") >= 0.8)
      .select(col("a_id"), col("c_id"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"streamed banded screen diverged: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")

    // micro-batch slicing really happened (≥ 4 data batches)
    val progresses = q.recentProgress
    assert(progresses.count(_.numInputRows > 0) >= 4,
      s"expected one batch per file: ${progresses.map(_.numInputRows).mkString(",")}")
    // STATE BOUND: the heartbeat-advanced watermark closed every arrival
    // window, so the aggregate's state store ends EMPTY — the refutation
    // of the Complete-mode form's unbounded pair retention.
    val finalState = progresses.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators
    assert(finalState.map(_.numRowsTotal).sum == 0,
      s"end-of-stream aggregate state must be empty: " +
        finalState.map(p => s"${p.operatorName}=${p.numRowsTotal}").mkString(","))
    rm(base)
  }

  test("runningUserTotalsTws: transformWithState (RocksDB store) ≡ fMGWS semantics") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamingOps.UserEvent]
      val q = StreamingOps.runningUserTotalsTws(mem.toDS())
        .writeStream.format("memory").queryName("s_running_tws")
        .outputMode(OutputMode.Append()).start()
      mem.addData(StreamingOps.UserEvent(1L, ts(0), 1.0),
        StreamingOps.UserEvent(1L, ts(1), 2.0))
      q.processAllAvailable()
      mem.addData(StreamingOps.UserEvent(1L, ts(2), 4.0))
      q.processAllAvailable()
      q.stop()
      val perBatch = spark.table("s_running_tws")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(perBatch == Set((2L, 3.0), (3L, 7.0)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("finalUserTotals: argmax picks the final state even with negative values") {
    // Three appended updates for one user whose totals go 50 → -30 → 10
    // (a refund mid-stream). Independent max(total_value) would answer 50;
    // the argmax by n_events must answer the final 10.
    import spark.implicits._
    val updates = Seq(
      (7L, 1L, 50.0), (7L, 2L, -30.0), (7L, 3L, 10.0),
      (8L, 1L, -5.0))
      .toDF("user_id", "n_events", "total_value")
    val fin = StreamingOps.finalUserTotals(updates)
      .orderBy(col("user_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(fin == Seq((7L, 3L, 10L), (8L, 1L, -5L)))
  }

  test("runningUserTotals: flatMapGroupsWithState carries state across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamingOps.UserEvent]
    val q = StreamingOps.runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("s_running")
      .outputMode(OutputMode.Append()).start()
    mem.addData(StreamingOps.UserEvent(1L, ts(0), 1.0),
      StreamingOps.UserEvent(1L, ts(1), 2.0))
    q.processAllAvailable()
    mem.addData(StreamingOps.UserEvent(1L, ts(2), 4.0))
    q.processAllAvailable()
    q.stop()
    val perBatch = spark.table("s_running")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    // batch1 emits (2, 3.0); batch2 resumes state → (3, 7.0)
    assert(perBatch == Set((2L, 3.0), (3L, 7.0)))
  }

  test("cdcApply batches: versioned commits, replay idempotency, torn-version invisibility") {
    import SparkTestSession.spark.implicits._
    val spark = SparkTestSession.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_spec").toString
    def state(): Set[(Long, String)] =
      StreamingOps.readCdcTable(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    try {
      val b0 = Seq((1L, "a", false), (2L, "b", false))
        .toDF("id", "v", "del")
      StreamingOps.applyCdcBatch(b0, 0L, "id", Seq("v"), "del", tmp)
      assert(state() == Set((1L, "a"), (2L, "b")))
      val b1 = Seq((1L, "a2", false), (2L, "b", true), (3L, "c", false))
        .toDF("id", "v", "del")
      StreamingOps.applyCdcBatch(b1, 1L, "id", Seq("v"), "del", tmp)
      assert(state() == Set((1L, "a2"), (3L, "c")))
      // REPLAY batch 1 (crash between sink write and checkpoint commit):
      // must re-read v=0 — its own v=1 is above the cutoff — and rewrite
      // v=1 to the identical state
      StreamingOps.applyCdcBatch(b1, 1L, "id", Seq("v"), "del", tmp)
      assert(state() == Set((1L, "a2"), (3L, "c")))
      // a torn (no _SUCCESS) higher version is invisible to readers
      val torn = new java.io.File(tmp, "v=2"); torn.mkdirs()
      assert(StreamingOps.latestCdcVersion(tmp).contains(1L))
      assert(state() == Set((1L, "a2"), (3L, "c")))
      // scheme-qualified tableDir (round-14 advice): the listing goes
      // through the Hadoop FileSystem resolver the parquet writer uses, so
      // a "file:"-prefixed path — and by the same mechanism hdfs://-or-
      // s3a:// — sees the committed versions; the old java.io.File listing
      // saw an empty predecessor on any non-local scheme and each batch
      // would rewrite its delta as the full snapshot.
      assert(StreamingOps.latestCdcVersion(s"file:$tmp").contains(1L),
        "scheme-qualified tableDir must resolve through Hadoop FS")
      val b2 = Seq((4L, "d", false)).toDF("id", "v", "del")
      StreamingOps.applyCdcBatch(b2, 2L, "id", Seq("v"), "del", s"file:$tmp")
      assert(StreamingOps.readCdcTable(spark, s"file:$tmp")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((1L, "a2"), (3L, "c"), (4L, "d")),
        "batch over a scheme-qualified dir must fold over the predecessor")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
}
