package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Storage-layout scale hygiene (SURVEY §7.6): hive-partitioned writes must
  * prune at the scan, bucketed tables must join without an exchange, and the
  * salting transform must be result-identical to the plain join. */
class StorageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("partitioned parquet write → partition-pruned read") {
    val out = Files.createTempDirectory("graft_part").toString
    try {
      val events = graft.engine.Sources.events(spark, dir)
      events.write.mode("overwrite").partitionBy("event_type").parquet(out)

      val one = spark.read.parquet(out).where(col("event_type") === "click")
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
        s"expected partition pruning in:\n$plan")
      val expected = events.where(col("event_type") === "click").count()
      assert(one.count() == expected && expected > 0)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("bucketed tables: co-bucketed join plans without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_b LOCATION '$wh'")
    try {
      graft.engine.Sources.lineitem(spark, dir)
        .select("l_partkey", "l_quantity")
        .write.mode("overwrite").bucketBy(8, "l_partkey").sortBy("l_partkey")
        .saveAsTable("graft_b.li_b")
      graft.engine.Sources.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_name"))
        .write.mode("overwrite").bucketBy(8, "l_partkey")
        .saveAsTable("graft_b.part_b")

      val j = spark.table("graft_b.li_b")
        .hint("merge") // force SMJ so bucket co-location (not broadcast) is what's tested
        .join(spark.table("graft_b.part_b"), "l_partkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      assert(j.count() == graft.engine.Sources.lineitem(spark, dir).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_b.li_b")
      spark.sql("DROP TABLE IF EXISTS graft_b.part_b")
      spark.sql("DROP DATABASE IF EXISTS graft_b")
    }
  }

  test("source formats: orc/json/csv round-trip the same rows as parquet") {
    val base = graft.engine.Sources.part(spark, dir)
      .select("p_partkey", "p_name", "p_retailprice")
    val expected = base.orderBy("p_partkey").collect().toSeq
    for (fmt <- Seq("orc", "json", "csv")) {
      val out = Files.createTempDirectory(s"graft_$fmt").toString
      try {
        base.write.mode("overwrite").format(fmt)
          .option("header", "true").save(out)
        val back = spark.read.format(fmt)
          .option("header", "true").schema(base.schema).load(out)
        assert(back.orderBy("p_partkey").collect().toSeq == expected,
          s"$fmt round-trip diverged")
      } finally {
        new scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()
      }
    }
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    import spark.implicits._
    // generation 1 writes (id, a); generation 2 adds column b — the
    // corpus-rebuild reality at 100 TB: old shards never get rewritten
    val out = java.nio.file.Files.createTempDirectory("schema_evo").toFile.getAbsolutePath
    try {
      Seq((1L, "x")).toDF("id", "a").write.mode("append").parquet(out)
      Seq((2L, "y", 7.5)).toDF("id", "a", "b").write.mode("append").parquet(out)
      val merged = spark.read.option("mergeSchema", "true").parquet(out)
      assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"),
        s"merged schema: ${merged.columns.toSeq}")
      val rows = merged.orderBy("id").collect()
        .map(r => (r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("a")),
          if (r.isNullAt(r.fieldIndex("b"))) None else Some(r.getDouble(r.fieldIndex("b")))))
      assert(rows.toSeq == Seq((1L, "x", None), (2L, "y", Some(7.5))),
        s"old-generation rows read the new column as null: ${rows.toSeq}")
      // column pruning still reaches the scan on the merged view
      val pruned = merged.select("id").queryExecution.executedPlan.toString
      assert(pruned.contains("ReadSchema: struct<id:bigint>"),
        s"projection must prune to id alone:\n$pruned")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("saltedJoin ≡ plain join row-for-row") {
    val fact = graft.engine.Sources.lineitem(spark, dir)
    val dim = graft.engine.Sources.part(spark, dir)
      .select(col("p_partkey").as("l_partkey"), col("p_name"))
    val salted = Skew.saltedJoin(fact, dim, "l_partkey", n = 8, saltFrom = col("l_orderkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
    val plain = fact.join(dim, Seq("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }
}
