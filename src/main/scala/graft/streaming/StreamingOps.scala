package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming surface of the engine: the streaming twins of the
  * batch event queries (`events_hourly` / `events_sessionize` in
  * [[graft.queries.EventQueries]]), plus streaming dedup and a custom
  * stateful aggregator via `flatMapGroupsWithState`.
  *
  * Each op takes the streaming DataFrame (from `readStream` — parquet dir,
  * Kafka, rate source) and returns the transformed streaming frame; callers
  * pick the sink (`writeStream`). Watermarks bound state: at production scale
  * the 1-hour watermark caps the window state store regardless of input
  * volume, and state lives in the checkpointed per-partition store — no
  * driver-side accumulation anywhere.
  */
object StreamingOps {

  /** Tumbling 1-hour event-time counts per event_type, 1-hour late-data
    * watermark. Streaming twin of `events_hourly` — the window() expression
    * is byte-identical; only the watermark is streaming-specific. */
  def hourlyCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** [[hourlyCounts]] with the value sum carried in integer micro-units
    * (floor(x*1e4+0.5) per row, exact integer sum, one final division) —
    * identical results under ANY summation order. The driver-checked
    * streaming entry uses this form: a streaming run sums in micro-batch
    * arrival order, a third ordering beyond batch-Spark and DuckDB, and
    * `round(sum(double), 4)` is only order-stable until a group lands
    * within an ULP of a rounding boundary. Exactness holds while
    * |value|·1e4 < 2^53 — any realistic per-event metric. */
  def hourlyCountsExact(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5))) / lit(10000.0)).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Hopping (sliding) 1-hour windows advancing every 15 minutes, exact
    * micro-units value sum — the streaming twin of `events_hopping`. Each
    * event expands to 4 overlapping windows inside the micro-batch plan;
    * the watermark caps window state exactly as the tumbling form (state is
    * windows × types, ×4 the tumbling count — still time-bounded). */
  def hoppingCountsExact(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5))) / lit(10000.0)).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** [[sessionize]] with the exact micro-units value sum — same
    * any-summation-order rationale as [[hourlyCountsExact]]. */
  def sessionizeExact(events: DataFrame, gap: String = "30 minutes",
                      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5))) / lit(10000.0)).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization (30-minute idle gap) per user — the streaming
    * session_window path; state per open session, closed by the watermark. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup on event_id ALONE: watermark-bounded state (an id
    * seen once is dropped for as long as it can legally reappear — late
    * events beyond the watermark are discarded by definition, so state is
    * finite). `dropDuplicatesWithinWatermark` keys state on just event_id:
    * a duplicate id arriving with a DIFFERENT timestamp is still dropped,
    * matching the batch exact-dedup semantics (plain
    * `dropDuplicates("event_id", "ts")` would let it through). `keys`
    * generalizes the dedup key (e.g. `Seq("user_id", "event_type")` keeps
    * one event per user per type — the survivor is arrival-order dependent,
    * so downstream consumers wanting determinism should project only the
    * key columns or key-functional derivations). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour",
                  keys: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream INNER interval join — the streaming twin of
    * [[graft.operators.Temporal.timeBandJoin]]: pairs rows with equal keys
    * and r.time within [l.time - lookback, l.time + lookahead]. Both inputs
    * carry watermarks and the band lives in the JOIN CONDITION — exactly the
    * two things Structured Streaming needs to evict join state on BOTH sides
    * (the engine derives each side's state horizon from watermark + band, so
    * state stays bounded at any input rate). Right columns emit as
    * `r_<name>`, schema-compatible with the batch operator's output
    * (StreamingOpsSpec proves stream ≡ batch on the same data). The batch
    * form additionally rewrites the band into a bucketed equi-key for its
    * shuffle join; streaming doesn't need that — the join state store is
    * already keyed and time-indexed.
    *
    * @param joinType "inner" (default) or "left_outer": outer emits a
    *   null-padded row for an unmatched left row ONCE the watermark proves
    *   no in-band right row can still arrive — correctness of the outer
    *   result is exactly what the state horizon guarantees. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                   leftTime: String, rightTime: String,
                   lookbackSec: Long, lookaheadSec: Long = 0L,
                   watermark: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    require(lookbackSec >= 0 && lookaheadSec >= 0,
      "lookback/lookahead must be non-negative")
    require(Set("inner", "left_outer")(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val l = left.withWatermark(leftTime, watermark).as("l")
    val r = right.withWatermark(rightTime, watermark).as("r")
    val keyCond = keyCols.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val band =
      col(s"r.$rightTime") >= col(s"l.$leftTime") - expr(s"INTERVAL $lookbackSec SECOND") &&
        col(s"r.$rightTime") <= col(s"l.$leftTime") + expr(s"INTERVAL $lookaheadSec SECOND")
    l.join(r, keyCond && band, joinType)
      .select(left.columns.map(c => col(s"l.$c").as(c)) ++
        right.columns.map(c => col(s"r.$c").as(s"r_$c")): _*)
  }

  /** Stream-static enrichment join: the streaming fact side joins a static
    * dimension snapshot (re-read per micro-batch by Spark, broadcast when
    * small). The standard streaming ingest-enrichment shape — at scale the
    * static side is a slowly-changing dimension table on object storage. */
  def enrich(events: DataFrame, dim: DataFrame,
             eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left_outer")
      .drop(dimKey)

  /** Streaming near-dup INGEST GATE, at-scale form (X112): arriving
    * documents are screened against the standing corpus via BANDED MinHash
    * signatures and a WATERMARKED Append-mode aggregate — the shape that
    * survives a continuous ingest stream, unlike the Complete-mode
    * shared-shingle screen (`stream_docs_neardup_pairs`), whose aggregate
    * state retains every candidate pair forever.
    *
    * Plan, per arriving document:
    *   1. one narrow map computes the doc's `bands` LSH buckets via the
    *      native one-pass [[graft.functions.MinHashBandBuckets]] kernel
    *      (per-row banding with NO aggregation boundary available, so a
    *      composable signature expression would re-inline k×|shingles|
    *      hashing into every band — the measured 18× pathology);
    *   2. a STREAM-STATIC equi-join on (band, bucket) against the corpus
    *      band index (stateless — the static side re-resolves per batch; at
    *      scale it is the prebuilt X49 index, here derived from
    *      `corpusDocs` with the same expression);
    *   3. exact-jaccard verification against the corpus shingle sets
    *      (recall 1.0 on planted dups — the oracle equality with the exact
    *      bipartite join asserts it);
    *   4. one WATERMARKED windowed aggregate (max jaccard per
    *      (window, a_id, c_id)) in Append mode: multi-band duplicate
    *      candidates collapse, each pair emits exactly once when its
    *      ingest window closes, and the state store holds ONLY open-window
    *      candidates — bounded by watermark horizon × ingest rate at any
    *      corpus size. StreamingOpsSpec pins streamed ≡ batch under
    *      micro-batch slicing AND end-of-stream state = 0.
    *
    * `arrivalDocs` is the STREAMING frame carrying (idCol, textCol, tsCol)
    * with the watermark ALREADY applied on tsCol (apply it upstream of any
    * arrival filtering so late-data bookkeeping sees every source row —
    * e.g. corpus heartbeat rows that only advance the watermark). Output:
    * (a_id, c_id, jaccard), emitted on window close. */
  def bandedNearDupScreen(arrivalDocs: DataFrame, corpusDocs: DataFrame,
                          idCol: String, textCol: String, tsCol: String,
                          threshold: Double, n: Int = 3,
                          k: Int = 64, bands: Int = 16, seed: Long = 42L,
                          windowDur: String = "15 minutes"): DataFrame = {
    import graft.functions.MinHashBandBuckets
    import graft.operators.Dedup
    val a = arrivalDocs
      .select(col(idCol).as("a_id"), Dedup.shingles(col(textCol), n).as("a_sh"),
        col(tsCol).as("__ts"))
      .withColumn("a_n", size(col("a_sh")))
      .select(col("a_id"), col("a_sh"), col("a_n"), col("__ts"),
        posexplode(MinHashBandBuckets.bandBuckets(col("a_sh"), k, bands, seed)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    // Static corpus side: shingle sets pinned once (they feed banding AND
    // verification); at production scale both frames are the persisted
    // X49 index tables instead.
    val cs = corpusDocs
      .select(col(idCol).as("c_id"), Dedup.shingles(col(textCol), n).as("c_sh"))
      .withColumn("c_n", size(col("c_sh")))
      .localCheckpoint(eager = false)
    val cb = cs.select(col("c_id"),
        posexplode(MinHashBandBuckets.bandBuckets(col("c_sh"), k, bands, seed)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    a.join(cb, Seq("band", "bucket"))
      .join(cs, Seq("c_id"))
      .withColumn("inter", size(array_intersect(col("a_sh"), col("c_sh"))))
      .withColumn("jaccard", Dedup.jaccard(col("inter"), col("a_n"), col("c_n")))
      .where(col("jaccard") >= threshold)
      .groupBy(window(col("__ts"), windowDur), col("a_id"), col("c_id"))
      .agg(max(col("jaccard")).as("jaccard"))
      .select(col("a_id"), col("c_id"), col("jaccard"))
  }

  private val memSinkId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Execute a streaming transform END-TO-END inside a batch-callable query:
    * file-source `readStream` over `path` with an explicit schema, the
    * transform, a memory sink, `Trigger.AvailableNow` — processes every
    * existing file through the full streaming runtime (micro-batch planner,
    * state store, watermark tracking) and stops, then returns the sink
    * contents as a batch DataFrame. This is what makes `readStream` itself
    * driver-oracle-checkable: the sink table hash-compares against the
    * batch SQL oracle, instead of streaming coverage resting on scalatest
    * alone. The memory sink is the HARNESS adapter (bounded aggregate
    * output only) — the operators under test are the watermarked
    * aggregations, whose state-store scaling is the production path;
    * production sinks are Kafka/parquet (`toParquetBatches`).
    *
    * @param dir  directory the file source monitors (streaming sources
    *   list directories, not files)
    *  @param glob file-name filter within `dir` (e.g. `"events.parquet"`)
    *  @param shufflePartitions stateful-operator partition count for THIS
    *   query (one state-store instance per partition, each paying a
    *   per-micro-batch snapshot/commit). The right value tracks the
    *   CLUSTER's parallelism, not a global default: a 1000-executor
    *   deployment wants hundreds of stores, a local bench wants few —
    *   measured here, 32 stores cost multiples of the actual join/agg work
    *   at sf0.1. Stateful operators pin their state partition count to the
    *   session's `spark.sql.shuffle.partitions` at first checkpoint (an
    *   explicit repartition() cannot scope it — StatefulOpClusteredDistribution
    *   demands exactly the conf value), so the override runs the query on an
    *   ISOLATED `newSession()` clone: same SparkContext and data, its own
    *   SQLConf — the caller's session is never mutated and concurrent
    *   queries on it are unaffected (round-7/8 advice). The clone inherits
    *   the parent's runtime conf (tuning knobs) before the override. */
  def runToMemorySink(s: org.apache.spark.sql.SparkSession, dir: String,
                      glob: String,
                      schema: org.apache.spark.sql.types.StructType,
                      transform: DataFrame => DataFrame,
                      mode: OutputMode = OutputMode.Complete(),
                      shufflePartitions: Option[Int] = None): DataFrame = {
    val name = s"graft_mem_sink_${memSinkId.incrementAndGet()}"
    val sess = shufflePartitions match {
      case Some(n) =>
        val c = graft.engine.Tuning.cloneWithRuntimeConf(s)
        c.conf.set("spark.sql.shuffle.partitions", n.toString)
        c
      case None => s
    }
    {
      val q = transform(sess.readStream.schema(schema)
          .option("pathGlobFilter", glob).parquet(dir))
        .writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }
    // Memory-sink tables hold their full result in storage memory and are
    // never released by Spark — across a bench's warm-up + reps × entries
    // that accumulation measurably inflates LATER queries' wall-clock
    // (eviction pressure with clean GC counters). Eagerly copy the bounded
    // sink contents into checkpointed blocks (freed by the ContextCleaner
    // when the returned frame is GC'd) and drop the view IMMEDIATELY, so
    // the returned frame never dangles on a temp view a later call could
    // retire — there is no deferred-retirement race to get wrong.
    val out = sess.table(name).localCheckpoint(eager = true)
    scala.util.Try(sess.catalog.dropTempView(name))
    out
  }

  /** Exactly-once-per-batch parquet sink via foreachBatch: rows land
    * partitioned by `__batch_id`, written with DYNAMIC partition overwrite —
    * a replayed batch id (restart after a crash between sink write and
    * checkpoint commit) overwrites its own partition instead of appending a
    * second copy, which is what makes the replay idempotent. Returns the
    * started query; caller owns lifecycle. */
  def toParquetBatches(df: DataFrame, outDir: String, checkpoint: String,
                       availableNow: Boolean = false)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBatch(batch, id, outDir)
      }
    (if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else w).start()
  }

  /** The per-batch body of [[toParquetBatches]], exposed so replay
    * idempotency is directly testable: re-running a batch id overwrites
    * exactly that batch's partition, leaving every other batch intact. */
  def writeBatch(batch: Dataset[org.apache.spark.sql.Row], id: Long,
                 outDir: String): Unit =
    batch.withColumn("__batch_id", lit(id))
      .write
      .partitionBy("__batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(outDir)

  /** STREAMING CDC APPLY — a delta feed folded into a keyed table, one
    * [[graft.operators.Versioning.mergeUpsert]] per micro-batch, committed
    * as VERSIONED SNAPSHOTS: batch `id` reads the newest COMPLETE version
    * strictly below `id` (`v=<k>` with a `_SUCCESS` marker) and writes
    * `v=<id>` — never mutating a version in place. That versioning IS the
    * exactly-once story on a plain-file store: a replayed batch (crash
    * between sink write and checkpoint commit) re-reads the SAME
    * predecessor — its own half-written `v=<id>` is above the cutoff — and
    * idempotently rewrites `v=<id>`; readers take the newest complete
    * version and never observe a torn table. (The same shape a lakehouse
    * MERGE commit log provides; full-snapshot-per-batch is the plain-
    * parquet cost of it — the delta-log alternative is
    * [[graft.operators.Versioning.replayDeltas]], X123.)
    *
    * `deltas` rows carry the id, every payload column, and a boolean
    * `deleteCol`; one row per id per micro-batch (the MERGE precondition).
    * Batch work is delta-sized plus one table scan — the [[graft.operators.
    * Versioning.mergeUpsert]] anti-join shape. */
  def cdcApply(deltas: DataFrame, idCol: String, payloadCols: Seq[String],
               deleteCol: String, tableDir: String, checkpoint: String,
               availableNow: Boolean = true)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = deltas.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyCdcBatch(batch, id, idCol, payloadCols, deleteCol, tableDir)
      }
    (if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else w).start()
  }

  /** The per-batch body of [[cdcApply]], exposed so replay idempotency is
    * directly testable (the [[writeBatch]] convention). */
  def applyCdcBatch(batch: Dataset[org.apache.spark.sql.Row], id: Long,
                    idCol: String, payloadCols: Seq[String],
                    deleteCol: String, tableDir: String): Unit = {
    val s = batch.sparkSession
    val outCols = (idCol +: payloadCols).map(col)
    val target = latestCdcVersion(tableDir, below = id) match {
      case Some(v) => s.read.parquet(s"$tableDir/v=$v")
      case None => batch.select(outCols: _*).where(lit(false)) // empty, typed
    }
    graft.operators.Versioning
      .mergeUpsert(target, batch, idCol, payloadCols, col(deleteCol))
      .write.mode("overwrite").parquet(s"$tableDir/v=$id")
  }

  /** STREAMING SNAPSHOT-COMMIT APPEND — the stream side of the
    * [[graft.operators.Snapshot]] atomic-commit protocol: every micro-batch
    * lands as one `Snapshot.commitAppendAt(batchId)` — data files first,
    * then the manifest whose `_SUCCESS` is the atomic publish. Readers
    * ([[graft.operators.Snapshot.read]]) resolve the newest committed
    * manifest and can NEVER observe a half-landed micro-batch (the torn
    * manifest / orphan-data invisibility SnapshotSpec plants), which is
    * what plain streaming parquet appends cannot promise. Exactly-once on
    * replay: batch ids are the snapshot ids, and a replayed id re-resolves
    * the same strictly-below predecessor and rewrites its own snapshot
    * idempotently — the [[applyCdcBatch]] argument, now carried by the
    * manifest protocol, with time travel and vacuum inherited for free.
    * Single writer (the stream) owns the table; see the Snapshot
    * concurrency contract. */
  def snapshotAppendStream(deltas: DataFrame, tableDir: String,
                           checkpoint: String, availableNow: Boolean = true)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = deltas.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.operators.Snapshot.commitAppendAt(
          batch.sparkSession, tableDir, id, batch.toDF()); ()
      }
    (if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else w).start()
  }

  /** Newest COMPLETE snapshot version strictly below `below` — a `v=<k>`
    * child with a `_SUCCESS` marker. Bounded directory listing (one entry
    * per committed batch; compact on a cadence like any snapshot store).
    *
    * Listing goes through the Hadoop FileSystem API — the SAME resolver the
    * parquet writer uses — so an hdfs:// or s3a:// tableDir works (round-14
    * advice: a java.io.File listing silently saw an empty predecessor on any
    * non-local scheme and each batch would rewrite its own delta as the full
    * snapshot). The conf defaults to the active session's, falling back to a
    * bare Configuration (local-fs semantics) only when no session exists. */
  def latestCdcVersion(tableDir: String, below: Long = Long.MaxValue,
                       conf: org.apache.hadoop.conf.Configuration = null)
  : Option[Long] = {
    val c = Option(conf)
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf()))
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val fs = dir.getFileSystem(c)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .flatMap(st =>
        scala.util.Try(st.getPath.getName.stripPrefix("v=").toLong).toOption)
      .filter(_ < below)
      .sorted.lastOption
  }

  /** Read the current CDC table state ([[cdcApply]]'s newest committed
    * snapshot). */
  def readCdcTable(s: org.apache.spark.sql.SparkSession,
                   tableDir: String): DataFrame =
    latestCdcVersion(tableDir) match {
      case Some(v) => s.read.parquet(s"$tableDir/v=$v")
      case None => throw new IllegalStateException(
        s"no committed CDC snapshot under $tableDir")
    }

  /** Input/output rows of the custom stateful op below. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** The same running-totals semantics on Spark 4's transformWithState API
    * (StatefulProcessor + typed ValueState): the successor to
    * flatMapGroupsWithState, with per-state TTL and a state store the
    * engine can evolve independently of the function. */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val prev = Option(state.get()).getOrElse(UserRunning(key, 0L, 0.0))
      val batch = rows.toSeq
      val next = UserRunning(key,
        prev.n_events + batch.size,
        prev.total_value + batch.map(_.value).sum)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** [[runningUserTotals]] via transformWithState. */
  def runningUserTotalsTws(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Reduce an Append-mode stream of per-user running-total updates to each
    * user's FINAL state: argmax by `n_events`, which is strictly increasing
    * per appended update (one emit per micro-batch touching the key).
    * Independent column maxes would also need `total_value` monotone —
    * i.e. all event values ≥ 0 — and silently pick a non-final total the
    * moment a refund/correction event goes negative; the struct-max argmax
    * carries no such assumption. `total_value` arrives in exact integer
    * micro-units (held in a double), so the bigint cast is lossless. */
  def finalUserTotals(updates: DataFrame): DataFrame =
    updates.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_value"))).as("fin"))
      .select(col("user_id"), col("fin.n_events").as("n_events"),
        col("fin.total_value").cast("bigint").as("total_micros"))

  /** Custom per-key state via flatMapGroupsWithState: running per-user event
    * count + value total, emitted on every update (the pattern for state
    * machines the built-in aggs can't express). ProcessingTimeTimeout keeps
    * idle-key state collectable. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val batch = rows.toSeq
          val next = UserRunning(userId,
            prev.n_events + batch.size,
            prev.total_value + batch.map(_.value).sum)
          state.update(next)
          Iterator.single(next)
      }
  }
}
