package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** DROP COLUMN (metadata-only, `#dropped=` ledger) and RENAME COLUMN
  * (full COW rewrite) — semantics, cost class, and every refusal:
  * record keys, constraint/index references, name resurrection through
  * ADD / COW upsert / MOR delta, and the legitimate ledger lapse after
  * a full rewrite.
  */
class AlterColumnsSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def withCatalog[T](body: => T): T = {
    val k = "spark.sql.catalog.graft"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, classOf[graft.sources.v2.GraftCatalog].getName)
    try body
    finally old match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  private def freshTable(): String = {
    val path = Files.createTempDirectory("altercol").toString + "/t"
    GraftTable.create(
      spark.range(0, 200).toDF("k")
        .withColumn("v", col("k") % 10)
        .withColumn("s", concat(lit("row"), col("k"))),
      path, Seq("k"), nbuckets = 4)
    path
  }

  test("DROP COLUMN is metadata-only: same data dirs, column gone, time travel keeps it") {
    val path = freshTable()
    val v0 = GraftTable.latestVersion(path)
    val dirsBefore = GraftTable.manifest(path, v0)
    GraftTable.dropColumns(spark, path, Seq("s"))
    val v1 = GraftTable.latestVersion(path)
    v1 shouldBe v0 + 1
    // zero data IO: the new manifest points at the SAME dirs
    GraftTable.manifest(path, v1) shouldBe dirsBefore
    GraftTable.read(spark, path).columns.toSeq shouldBe Seq("k", "v")
    // the bytes are still there for time travel
    GraftTable.read(spark, path, v0).columns.toSeq shouldBe Seq("k", "v", "s")
    GraftTable.read(spark, path, v0).filter(col("s") === "row7").count() shouldBe 1L
    GraftTable.droppedColumns(path) shouldBe Set("s")
  }

  test("post-drop upserts and point reads never see the dropped column") {
    val path = freshTable()
    GraftTable.dropColumns(spark, path, Seq("s"))
    GraftTable.upsert(spark, path,
      spark.range(100, 300).toDF("k").withColumn("v", lit(99L)))
    val got = GraftTable.read(spark, path)
    got.columns.toSeq shouldBe Seq("k", "v")
    got.count() shouldBe 300L
    // rows from un-rewritten buckets serve fine without the column
    got.filter(col("k") < 100 && col("v") === col("k") % 10).count() shouldBe 100L
  }

  test("DROP refusals: record key, constrained column, indexed column, unknown, all") {
    val path = freshTable()
    intercept[IllegalArgumentException] {
      GraftTable.dropColumns(spark, path, Seq("k"))
    }.getMessage should include("record-key")
    GraftTable.addConstraint(spark, path, "v_small", "v < 100")
    intercept[IllegalArgumentException] {
      GraftTable.dropColumns(spark, path, Seq("v"))
    }.getMessage should include("CHECK constraint")
    GraftTable.dropConstraint(path, "v_small")
    intercept[IllegalArgumentException] {
      GraftTable.dropColumns(spark, path, Seq("nope"))
    }.getMessage should include("no column")
    // dropping every NON-KEY column is legal: the key always remains
    GraftTable.dropColumns(spark, path, Seq("v", "s"))
    GraftTable.read(spark, path).columns.toSeq shouldBe Seq("k")
  }

  test("resurrection refuses everywhere: ADD, COW upsert, MOR delta — until compact") {
    val path = freshTable()
    GraftTable.dropColumns(spark, path, Seq("s"))
    intercept[IllegalArgumentException] {
      GraftTable.addColumns(spark, path,
        Seq(org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType)))
    }.getMessage should include("previously dropped")
    // a ONE-key batch leaves carried buckets, so the ledger must refuse
    val batch = spark.range(0, 1).toDF("k")
      .withColumn("v", lit(1L)).withColumn("s", lit("ghost"))
    intercept[IllegalArgumentException] {
      GraftTable.upsert(spark, path, batch)
    }.getMessage should include("previously dropped")
    intercept[IllegalArgumentException] {
      GraftTable.upsertMor(spark, path, batch)
    }.getMessage should include("previously dropped")
    // the ledger survives unrelated partial commits (one key → one
    // bucket touched, three carried)...
    GraftTable.upsert(spark, path, spark.range(0, 1).toDF("k").withColumn("v", lit(2L)))
    GraftTable.droppedColumns(path) shouldBe Set("s")
    // ...and lapses after a FULL rewrite: no live file carries the name
    GraftTable.compact(spark, path)
    GraftTable.droppedColumns(path) shouldBe Set.empty
    GraftTable.upsert(spark, path, batch)
    GraftTable.read(spark, path).filter(col("s") === "ghost").count() shouldBe 1L
    // old rows read the re-added column as null, never the retired bytes
    GraftTable.read(spark, path).filter(col("k") >= 1 && col("s").isNotNull)
      .count() shouldBe 0L
  }

  test("a batch rewriting EVERY bucket is a genuine full rewrite: re-add is legal and ghost-free") {
    val path = freshTable()
    GraftTable.dropColumns(spark, path, Seq("s"))
    // 200 keys over 4 buckets: every bucket touched → carryOver empty →
    // the pinned base read leaves no file carrying the retired bytes,
    // so the ledger lapses with the same justification as compact
    GraftTable.upsert(spark, path,
      spark.range(0, 200).toDF("k").withColumn("v", lit(7L))
        .withColumn("s", concat(lit("new"), col("k"))))
    GraftTable.droppedColumns(path) shouldBe Set.empty
    val got = GraftTable.read(spark, path)
    got.filter(col("s").startsWith("new")).count() shouldBe 200L
    // no retired value resurfaced
    got.filter(col("s").startsWith("row")).count() shouldBe 0L
  }

  test("DROP keeps the bloom config consistent") {
    val path = freshTable()
    GraftTable.enableBloomFilters(path, Seq("s", "v"))
    GraftTable.dropColumns(spark, path, Seq("s"))
    GraftTable.bloomConfig(path).map(_._1) shouldBe Some(Seq("v"))
    GraftTable.dropColumns(spark, path, Seq("v"))
    GraftTable.bloomConfig(path) shouldBe None
  }

  test("RENAME COLUMN is a full rewrite with exact content under the new name") {
    val path = freshTable()
    val v0 = GraftTable.latestVersion(path)
    val dirsBefore = GraftTable.manifest(path, v0).values.toSet
    GraftTable.renameColumn(spark, path, "s", "label")
    val v1 = GraftTable.latestVersion(path)
    v1 shouldBe v0 + 1
    // full COW rewrite: every dir is fresh
    GraftTable.manifest(path, v1).values.toSet.intersect(dirsBefore) shouldBe Set.empty
    val got = GraftTable.read(spark, path)
    got.columns.toSeq shouldBe Seq("k", "v", "label")
    got.filter(col("label") === concat(lit("row"), col("k"))).count() shouldBe 200L
    // time travel serves the old name
    GraftTable.read(spark, path, v0).columns.toSeq shouldBe Seq("k", "v", "s")
    // stats regenerate under the new name: an equality filter still prunes+answers
    got.filter(col("label") === "row42").count() shouldBe 1L
  }

  test("RENAME refusals: key, existing target, constrained; dropped target is fine") {
    val path = freshTable()
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, path, "k", "key2")
    }.getMessage should include("record-key")
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, path, "s", "v")
    }.getMessage should include("already exists")
    GraftTable.addConstraint(spark, path, "v_small", "v < 100")
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, path, "v", "val")
    }.getMessage should include("CHECK constraint")
    GraftTable.dropConstraint(path, "v_small")
    // renaming TO a retired name is safe: the rewrite leaves no file
    // carrying the old bytes (and clears the ledger with it)
    GraftTable.dropColumns(spark, path, Seq("s"))
    GraftTable.renameColumn(spark, path, "v", "s")
    GraftTable.droppedColumns(path) shouldBe Set.empty
    GraftTable.read(spark, path).filter(col("s") === col("k") % 10)
      .count() shouldBe 200L
  }

  test("DROP/RENAME refuse columns an attached index reads") {
    val path = Files.createTempDirectory("altercol").toString + "/t"
    GraftTable.create(
      spark.range(0, 50).toDF("k")
        .withColumn("vec",
          array((0 until 4).map(i => (col("k") % (i + 2) + 1).cast("float")): _*))
        .withColumn("s", concat(lit("d"), col("k"))),
      path, Seq("k"), nbuckets = 2)
    graft.sources.GraftIndex.create(spark, path, "vec", nlist = 2)
    intercept[IllegalArgumentException] {
      GraftTable.dropColumns(spark, path, Seq("vec"))
    }.getMessage should include("vector index")
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, path, "vec", "emb")
    }.getMessage should include("vector index")
    // unrelated columns still evolve freely
    GraftTable.dropColumns(spark, path, Seq("s"))
    GraftTable.droppedColumns(path) shouldBe Set("s")
  }

  test("DROP/RENAME refuse columns a table-attached HNSW index reads") {
    val path = Files.createTempDirectory("altercol").toString + "/t"
    GraftTable.create(
      spark.range(0, 30).toDF("k")
        .withColumn("vec",
          array((0 until 4).map(i => (col("k") % (i + 2) + 1).cast("float")): _*))
        .withColumn("s", concat(lit("d"), col("k"))),
      path, Seq("k"), nbuckets = 2)
    graft.sources.GraftHnsw.create(spark, path, "vec", nSegments = 1, m = 4,
      efConstruction = 16)
    intercept[IllegalArgumentException] {
      GraftTable.dropColumns(spark, path, Seq("vec"))
    }.getMessage should include("HNSW index")
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, path, "vec", "emb")
    }.getMessage should include("HNSW index")
    // unrelated columns still evolve freely
    GraftTable.dropColumns(spark, path, Seq("s"))
    GraftTable.droppedColumns(path) shouldBe Set("s")
    // dropping the index unlocks the column
    graft.sources.GraftHnsw.drop(path)
    GraftTable.renameColumn(spark, path, "vec", "emb")
    GraftTable.read(spark, path).columns should contain("emb")
  }

  test("DROP/RENAME refuse columns a table-attached text index reads") {
    val path = Files.createTempDirectory("altercol").toString + "/t"
    GraftTable.create(
      spark.range(0, 30).toDF("k")
        .withColumn("text", concat(lit("doc "), col("k")))
        .withColumn("s", concat(lit("d"), col("k"))),
      path, Seq("k"), nbuckets = 2)
    graft.sources.TextIndex.create(spark, path, "text", nbuckets = 2)
    intercept[IllegalArgumentException] {
      GraftTable.dropColumns(spark, path, Seq("text"))
    }.getMessage should include("text index")
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, path, "text", "body")
    }.getMessage should include("text index")
    // unrelated columns still evolve freely
    GraftTable.dropColumns(spark, path, Seq("s"))
    GraftTable.droppedColumns(path) shouldBe Set("s")
    // dropping the index unlocks the column
    graft.sources.TextIndex.drop(path)
    GraftTable.renameColumn(spark, path, "text", "body")
    GraftTable.read(spark, path).columns should contain("body")
  }

  test("SQL ALTER TABLE DROP COLUMN / RENAME COLUMN route through the catalog") {
    val path = freshTable()
    withCatalog {
      spark.sql(s"ALTER TABLE graft.`$path` DROP COLUMN s")
      GraftTable.read(spark, path).columns.toSeq shouldBe Seq("k", "v")
      spark.sql(s"ALTER TABLE graft.`$path` RENAME COLUMN v TO val")
      val got = spark.sql(s"SELECT k, val FROM graft.`$path` WHERE val = 3")
      got.count() shouldBe 20L
      intercept[Exception] {
        spark.sql(s"ALTER TABLE graft.`$path` DROP COLUMN k")
      }.getMessage should include("record-key")
    }
  }
}
