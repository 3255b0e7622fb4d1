package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Z-order guarantees: the Morton interleave is bit-exact on known vectors,
  * aligned z-buckets bound BOTH dimension ranges (the data-skipping
  * property), and zOrderBy yields disjoint contiguous z runs per partition
  * (what makes per-file min/max stats tight after a write). */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("zValue2: known interleave vectors") {
    import spark.implicits._
    val rows = Seq((1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L), (0L, 0L))
      .toDF("a", "b")
      .select(Layout.zValue2(col("a"), col("b"), 8).as("z"))
      .collect().map(_.getLong(0))
    // a=3 (011), b=5 (101) → z = a0·1 + b0·2 + a1·4 + b2·32 = 39
    assert(rows.toSeq == Seq(1L, 2L, 39L, 65535L, 0L), rows.toSeq.toString)
  }

  test("zValueN: 3-dim interleave vectors; N=2 degenerates to zValue2; aligned 8^k buckets bound all three ranges") {
    import spark.implicits._
    val rows = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (3L, 5L, 6L))
      .toDF("a", "b", "c")
      .select(Layout.zValueN(Seq(col("a"), col("b"), col("c")), 6).as("z"))
      .collect().map(_.getLong(0))
    // unit vectors land on bits 0/1/2; a=3(011) b=5(101) c=6(110) →
    // bit0: a=1,b=1,c=0 → 1+2; bit1: a=1,b=0,c=1 → 8+32; bit2: a=0,b=1,c=1
    // → 128+256 → z = 427
    assert(rows.toSeq == Seq(1L, 2L, 4L, 427L), rows.toSeq.toString)
    // N=2 delegation: identical to the hand-pinned zValue2 vectors
    val two = Seq((3L, 5L)).toDF("a", "b")
      .select(Layout.zValueN(Seq(col("a"), col("b")), 8).as("z"))
      .collect().head.getLong(0)
    assert(two == 39L)
    // aligned 8^k z-buckets bound EVERY dimension's range by 2^k — the
    // tight-stats property that makes a predicate on ANY of the three
    // columns prune files (corpus-wide, exact)
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(pmod(col("user_id"), lit(64L)).as("a"),
        pmod(expr("unix_micros(cast(ts AS timestamp)) div 3600000000"),
          lit(64L)).as("b"),
        pmod(col("event_id"), lit(64L)).as("c"))
      .withColumn("z", Layout.zValueN(Seq(col("a"), col("b"), col("c")), 6))
    val k = 3
    val bad = e.groupBy(expr(s"z div ${1L << (3 * k)}").as("bucket"))
      .agg((max(col("a")) - min(col("a"))).as("ra"),
        (max(col("b")) - min(col("b"))).as("rb"),
        (max(col("c")) - min(col("c"))).as("rc"))
      .where(col("ra") >= (1L << k) || col("rb") >= (1L << k) ||
        col("rc") >= (1L << k))
      .count()
    assert(bad == 0L, s"$bad aligned buckets exceeded the 2^$k range bound")
  }

  test("fileStats + statsPrunedRead: the planner READS FEWER FILES and loses no qualifying row") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stats_spec").toString
    try {
      // 8 files, each holding one contiguous k range → tight per-file stats
      (0 until 64).map(i => (i.toLong, i.toLong / 8)).toDF("id", "k")
        .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
        .write.mode("overwrite").parquet(tmp)
      val stats = Layout.fileStats(spark.read.parquet(tmp), Seq("k"))
      assert(stats.count() == 8)
      val pruned = Layout.statsPrunedRead(spark, tmp, Seq("k"),
        keep = col("min_k") < 2)
      assert(pruned.inputFiles.length < 8,
        s"no files pruned: ${pruned.inputFiles.length}")
      val got = pruned.where(col("k") < 2).select(col("id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (0L until 16L), s"rows lost/gained: $got")
      // empty selection keeps the schema, returns nothing
      val none = Layout.statsPrunedRead(spark, tmp, Seq("k"),
        keep = col("min_k") > 100)
      assert(none.count() == 0 && none.columns.toSeq == Seq("id", "k"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("updateFileStats: second update scans ONLY new files; third is a no-op; reads drop stale rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_statsinc_spec")
    val data = base.resolve("data").toString
    val stats = base.resolve("stats").toString
    try {
      (0L until 32L).map(i => (i, i / 8)).toDF("id", "k")
        .repartitionByRange(4, col("k")).write.mode("overwrite").parquet(data)
      val n1 = Layout.updateFileStats(spark, stats, data, Seq("k"))
      assert(n1 == 4, s"initial build must scan all 4 files, scanned $n1")
      (32L until 48L).map(i => (i, 4L + (i - 32) / 8)).toDF("id", "k")
        .repartitionByRange(2, col("k")).write.mode("append").parquet(data)
      val n2 = Layout.updateFileStats(spark, stats, data, Seq("k"))
      assert(n2 == 2, s"incremental update must scan only the 2 new files, scanned $n2")
      val n3 = Layout.updateFileStats(spark, stats, data, Seq("k"))
      assert(n3 == 0, "no new files → no scan")
      assert(spark.read.parquet(stats).count() == 6)
      // stats-pruned read over the stored index sees BOTH generations
      val ids = Layout.statsPrunedReadStored(spark, stats, data,
          keep = col("min_k") >= 4)
        .where(col("k") >= 4).select(col("id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (32L until 48L), s"stored-index read wrong: $ids")
      // deleting a data file leaves a stale stats row that reads ignore
      val victim = spark.read.parquet(data).inputFiles.head
      new java.io.File(new java.net.URI(victim).getPath).delete()
      assert(Layout.readFileStats(spark, stats, data).count() == 5)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base.toString)).deleteRecursively()
    }
  }

  test("statsPrunedReadStored: a live file the index MISSED is read unpruned, never silently dropped (round-14 advice)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_statsgap_spec")
    val data = base.resolve("data").toString
    val stats = base.resolve("stats").toString
    try {
      (0L until 16L).map(i => (i, i / 8)).toDF("id", "k")
        .repartitionByRange(2, col("k")).write.mode("overwrite").parquet(data)
      assert(Layout.updateFileStats(spark, stats, data, Seq("k")) == 2)
      // a second append lands WITHOUT its stats refresh — the failure mode:
      // files exist, index has no coverage row for them
      (16L until 24L).map(i => (i, 9L)).toDF("id", "k")
        .repartition(1).write.mode("append").parquet(data)
      // keep = min_k >= 9 prunes BOTH indexed files; the unindexed file has
      // no stats row so it can never be proven skippable — it must be read
      val got = Layout.statsPrunedReadStored(spark, stats, data,
          keep = col("min_k") >= 9L)
        .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (16L until 24L),
        s"unindexed live file dropped or over-read: $got")
      // and a keep that also selects an indexed file unions both
      val both = Layout.statsPrunedReadStored(spark, stats, data,
          keep = col("min_k") >= 1L)
        .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(both == (8L until 24L), s"union of kept+unindexed wrong: $both")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base.toString)).deleteRecursively()
    }
  }

  test("aligned 4^k buckets bound both dimension ranges by 2^k (exact, corpus-wide)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(pmod(col("user_id"), lit(256L)).as("a"),
        pmod(col("event_id"), lit(256L)).as("b"))
      .withColumn("z", Layout.zValue2(col("a"), col("b"), 8))
    val k = 5
    val bad = e.groupBy(expr(s"z div ${1L << (2 * k)}").as("bucket"))
      .agg((max(col("a")) - min(col("a"))).as("ra"),
        (max(col("b")) - min(col("b"))).as("rb"))
      .where(col("ra") >= (1L << k) || col("rb") >= (1L << k))
      .count()
    assert(bad == 0, s"an aligned 4^$k z-bucket spanned >= 2^$k in a dimension")
  }

  test("zOrderBy: partitions hold disjoint z ranges and tighten per-partition spans") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(pmod(col("user_id"), lit(256L)).as("a"),
        pmod(col("event_id"), lit(256L)).as("b"))
      .withColumn("z", Layout.zValue2(col("a"), col("b"), 8))
    val ranges = Layout.zOrderBy(e, col("z"), numFiles = 8)
      .select(spark_partition_id().as("p"), col("z"), col("a"))
      .groupBy(col("p"))
      .agg(min(col("z")).as("zlo"), max(col("z")).as("zhi"),
        (max(col("a")) - min(col("a"))).as("ra"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(ranges.length > 1, "range partitioning must actually split")
    ranges.sliding(2).foreach { case Array((_, hi1, _), (lo2, _, _)) =>
      assert(hi1 <= lo2, s"partition z ranges overlap: $hi1 > $lo2")
    case _ => ()
    }
    val globalRa = 255L
    assert(ranges.count(_._3 < globalRa) >= ranges.length / 2,
      "z-contiguous partitions should usually bound the a-dimension below its global span")
  }

  test("zOrderBy skipping PROOF: a 1-D predicate over the z layout reads a fraction of the rows; the same predicate over a b-sorted layout reads everything") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_zskip_${ProcessHandle.current().pid()}")
    // BALANCED dimension widths (4 bits each): sf0.001 has only 15 distinct
    // user ids, so an 8-bit interleave would let b dominate the high z bits
    // and every z-run of file size would span ALL a values — the classic
    // z-order cardinality-balance requirement, demonstrated here by using
    // widths that match the data. (The registered query at sf0.01+ has
    // full 8-bit ranges on both dimensions and uses the 8-bit geometry.)
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"),
        pmod(col("user_id"), lit(16L)).as("a"),
        pmod(col("event_id"), lit(16L)).as("b"))
      .withColumn("z", Layout.zValue2(col("a"), col("b"), 4))
    val total = e.count()
    try {
      val zPath = s"$base/z"; val bPath = s"$base/b"
      Layout.zOrderBy(e, col("z"), numFiles = 64)
        .write.mode("overwrite").parquet(zPath)
      // 1-D control layout: clustered on b alone — perfect stats for b,
      // USELESS for a (every file spans the full a range).
      e.repartitionByRange(64, col("b")).sortWithinPartitions(col("b"))
        .write.mode("overwrite").parquet(bPath)
      // sf0.001 only has user_id ∈ [0, 14], so the selective 1-D predicate
      // here is a < 4 (the registered query at larger sf uses a < 32 over
      // the full 0–255 range — same geometry).
      def scannedRows(path: String): Long = {
        val agg = spark.read.parquet(path).where(col("a") < 4)
          .agg(count(lit(1)))
        agg.collect()
        def rows(p: SparkPlan): Long = p match {
          case ad: AdaptiveSparkPlanExec => rows(ad.executedPlan)
          case qs: QueryStageExec => rows(qs.plan) // stages hide their subtree
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
          case other => other.children.map(rows).sum
        }
        rows(agg.queryExecution.executedPlan)
      }
      val zRead = scannedRows(zPath)
      val bRead = scannedRows(bPath)
      // min/max row-group stats on `a` are tight per z-run → the pushed
      // a < 32 predicate skips most row groups; the b-sorted layout has no
      // usable a-stats and reads the whole table.
      assert(bRead == total,
        s"control layout must read everything: $bRead of $total")
      assert(zRead < total / 2,
        s"z layout must skip most row groups: read $zRead of $total")
      assert(zRead < bRead, s"z layout ($zRead) must beat 1-D layout ($bRead)")
    } finally {
      new scala.reflect.io.Directory(base).deleteRecursively()
    }
  }

  test("compactionPlan: bins bounded by target + one row, contiguous ids, ≡ single-window reference") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val target = 2000L
    val plan = Layout.compactionPlan(docs, "source", "n_chars", "doc_id",
      targetWeight = target, buckets = 8)
    val rows = plan.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.map(_._2).distinct.length == rows.length)

    // every bin's total ≤ target + its largest row (floor on START offset:
    // only the straddling row overshoots), and bin ids are contiguous from 0
    rows.groupBy(r => (r._1, r._4)).foreach { case ((src, bin), rs) =>
      val tot = rs.map(_._3).sum
      val maxW = rs.map(_._3).max
      assert(tot <= target + maxW, s"bin ($src, $bin) overfull: $tot")
    }
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val bins = rs.map(_._4).distinct.sorted.toSeq
      assert(bins == bins.indices.map(_.toLong),
        s"$src bins not contiguous from 0: $bins")
    }

    // reference: ONE window over the same (bucket, hash, id) permutation
    import org.apache.spark.sql.expressions.Window
    val h = graft.operators.Dedup.md5Hash48(col("doc_id").cast("string"))
    val ref = docs.select(col("source"), col("doc_id"),
        col("n_chars").cast("long").as("w"), h.as("h"))
      .withColumn("start", coalesce(sum(col("w")).over(
        Window.partitionBy(col("source"))
          .orderBy(pmod(col("h"), lit(8L)), col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), expr(s"start div $target").as("bin_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (_, id, _, bin) =>
      assert(ref(id) == bin, s"doc $id: two-level bin $bin != reference ${ref(id)}")
    }
  }

  test("compact: file-count collapse, one file per bin, weight bound, content round-trip") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // target ≫ per-doc weight so bins ≪ fragments — the file-collapse
    // regime compaction exists for (the registered query uses a small
    // target to exercise MANY bins; this test proves the collapse)
    val target = 20000L
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_spec")
    val fragDir = tmp.resolve("fragmented").toString
    val outDir = tmp.resolve("compacted").toString
    try {
      // the small-files disease: a streaming-ingest-shaped layout
      // (sf0.001 has 20 sources at ~7.5k chars each → 20 bins at this
      // target, so 60 fragments make the collapse strict)
      docs.repartition(60).write.parquet(fragDir)
      val fragFiles = spark.read.parquet(fragDir).inputFiles.length
      assert(fragFiles >= 60, s"fragmented control expected ≥60 files, got $fragFiles")

      Layout.compact(spark.read.parquet(fragDir), "source", "n_chars",
        "doc_id", targetWeight = target, outDir = outDir, buckets = 8)
      val back = spark.read.parquet(outDir)
      val outFiles = back.inputFiles.length

      // file-count collapse: one file per (source, bin); bins per source =
      // max bin id + 1, far fewer than the 20 fragments × sources
      val bins = back.select(col("source"), col("bin_id").cast("long"))
        .distinct().count()
      assert(outFiles == bins.toInt,
        s"expected exactly one file per bin: $outFiles files, $bins bins")
      assert(outFiles < fragFiles,
        s"compaction must reduce file count: $outFiles vs $fragFiles")

      // one PHYSICAL file per bin, directly from the scan's file mapping
      val filesPerBin = back
        .select(col("source"), col("bin_id").cast("long").as("bin"),
          input_file_name().as("f"))
        .groupBy(col("source"), col("bin"))
        .agg(countDistinct(col("f")).as("nf"))
        .where(col("nf") > 1).count()
      assert(filesPerBin == 0, "some bin spans multiple files")

      // per-bin weight bound: ≤ target + largest row (start-offset floor)
      back.select(col("source"), col("bin_id").cast("long").as("bin"),
          col("n_chars").cast("long").as("w"))
        .groupBy(col("source"), col("bin"))
        .agg(sum(col("w")).as("tot"), max(col("w")).as("mx"))
        .collect().foreach { r =>
          assert(r.getLong(2) <= target + r.getLong(3),
            s"bin (${r.getString(0)}, ${r.getLong(1)}) overfull: ${r.getLong(2)}")
        }

      // content round-trip: the rewrite is a permutation, not a transform
      val before = docs.select(col("doc_id"), md5(col("text").cast("binary")))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val after = back.select(col("doc_id"), md5(col("text").cast("binary")))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(after == before, "compacted corpus must hold identical rows")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }

  test("rebalanceWrite: hot key spans multiple bounded files; repartition control crams it into one") {
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft_rebalance_spec")
    val saved = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      val rbPath = base.resolve("rb").toString
      // split granularity is map outputs (the join_aqe_skew lesson), and
      // an adjacent repartition COLLAPSES into the rebalance exchange —
      // checkpoint the 16-way spread so the rebalance really reads from
      // 16 mappers the way a multi-file 100 TB scan would
      Layout.rebalanceWrite(docs.repartition(16).localCheckpoint(), "lang",
        rbPath)
      val ctlPath = base.resolve("ctl").toString
      docs.repartition(col("lang")).write.parquet(ctlPath)

      def filesPerLang(path: String) = spark.read.parquet(path)
        .select(col("lang"), input_file_name().as("f"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("f")).as("nf"), count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val rb = filesPerLang(rbPath)
      val ctl = filesPerLang(ctlPath)
      // control: every lang's rows live in exactly ONE file (the
      // small-files/straggler disease a key-repartitioned write has)
      assert(ctl.values.forall(_._1 == 1L), s"control not one-file-per-key: $ctl")
      // rebalance: the hot lang (en, ~41% of rows) SPLIT across files
      assert(rb("en")._1 > 1, s"hot key did not split: $rb")
      // and no file is oversized: rows per file bounded well under the
      // hot key's total (the advisory-sized split, not one fat file)
      val maxFileRows = spark.read.parquet(rbPath)
        .select(input_file_name().as("f"))
        .groupBy(col("f")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
      assert(maxFileRows < rb("en")._2,
        s"some file holds the whole hot key: $maxFileRows of ${rb("en")._2}")
      // content round-trip
      assert(spark.read.parquet(rbPath).count() == docs.count())
    } finally {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", saved)
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base.toString)).deleteRecursively()
    }
  }

  test("writeBucketed: co-located join is exchange-free under the join; one file per bucket; content round-trip") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val pid = ProcessHandle.current().pid()
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucket_spec")
    val (lt, ot) = (s"graft_li_spec_$pid", s"graft_ord_spec_$pid")
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    // the plan property is AQE/broadcast-independent; pin it on the plain
    // physical plan with both off so the assertion sees the raw join
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    try {
      Layout.writeBucketed(li, lt, nBuckets = 8, key = "l_orderkey",
        path = tmp.resolve("li").toString)
      Layout.writeBucketed(ord, ot, nBuckets = 8, key = "o_orderkey",
        path = tmp.resolve("ord").toString)

      // exactly ONE data file per bucket (the pre-repartition uses the
      // same murmur3 pmod routing as the bucket-id assignment)
      val liFiles = spark.table(lt).inputFiles.length
      assert(liFiles == 8, s"expected 8 bucket files, got $liFiles")

      // content round-trip through the bucketed layout
      assert(spark.table(lt).count() == li.count())
      assert(spark.table(ot).count() == ord.count())

      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(lt)
        .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_items"))
      val plan = j.queryExecution.executedPlan
      val smj = plan.collect { case s: SortMergeJoinExec => s }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n$plan")
      val shuffles = smj.head.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"bucketed join must not shuffle either side:\n${smj.head}")
      // the ONLY exchange in the whole plan is the presentation aggregate
      val all = plan.collect { case e: ShuffleExchangeLike => e }
      assert(all.length == 1,
        s"expected exactly one exchange (the final agg), got ${all.length}")

      // an UNBUCKETED control join from the same data shuffles BOTH sides
      // — the property is the layout's, not the optimizer's mood
      val ctrl = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_items"))
      val ctrlSmj = ctrl.queryExecution.executedPlan
        .collect { case s: SortMergeJoinExec => s }
      val ctrlShuffles = ctrlSmj.head
        .collect { case e: ShuffleExchangeLike => e }
      assert(ctrlShuffles.length == 2,
        s"control join expected 2 exchanges, got ${ctrlShuffles.length}")

      // and the bucketed join's RESULT equals the control's
      assert(j.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
        == ctrl.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq)
    } finally {
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql(s"DROP TABLE IF EXISTS $lt")
      spark.sql(s"DROP TABLE IF EXISTS $ot")
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp.toString)).deleteRecursively()
    }
  }
}
