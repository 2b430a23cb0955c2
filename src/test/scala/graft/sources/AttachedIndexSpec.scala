package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The listing policy every index family shares ([[AttachedIndex]]): an
  * index dir without a meta (an in-flight or aborted create) is skipped
  * by `list`, `CALL graft.indexes` and `CALL graft.maintain`; a meta
  * that does not parse fails loudly instead of hiding the index.
  */
class AttachedIndexSpec extends AnyFunSuite with Matchers {
  import graft.TestSpark.spark

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

  test("a dir without a meta is skipped by list, indexes and maintain; a bad meta fails loudly") {
    val path = Files.createTempDirectory("attached").toString + "/t"
    GraftTable.create(
      spark.range(0, 40).toDF("k")
        .withColumn("vec",
          array((0 until 4).map(i => (col("k") % (i + 2) + 1).cast("float")): _*))
        .withColumn("text", concat(lit("doc "), col("k"))),
      path, Seq("k"), nbuckets = 2)
    GraftIndex.create(spark, path, "vec", nlist = 2)
    TextIndex.create(spark, path, "text", nbuckets = 2)
    GraftHnsw.create(spark, path, "vec", nSegments = 1, m = 4, efConstruction = 16)
    // half-created indexes: a dir with files in it, but no meta yet
    for (dir <- Seq("_index", "_textidx", "_hnswidx")) {
      val ghost = Paths.get(path, dir, "aaa", "data")
      Files.createDirectories(ghost)
      Files.write(ghost.resolve("part-0"), Array[Byte](1, 2, 3))
    }
    val expected = Seq(("index", "vec"), ("text_index", "txt"), ("hnsw", "hnsw"))
    AttachedIndex.list(path).map(m => (m.family.sqlPrefix, m.name)) shouldBe expected
    GraftIndex.list(path).map(_.name) shouldBe Seq("vec")
    TextIndex.list(path).map(_.name) shouldBe Seq("txt")
    GraftHnsw.list(path).map(_.name) shouldBe Seq("hnsw")
    withCatalog {
      spark.sql(s"CALL graft.indexes('$path')").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq shouldBe
        Seq(("vec", "ivf"), ("txt", "text"), ("hnsw", "hnsw"))
      spark.sql(s"CALL graft.maintain('$path')").collect()
        .filter(_.getString(0).endsWith("_refresh"))
        .map(r => (r.getString(0), r.getBoolean(1), r.getString(3))).toSeq shouldBe
        expected.map { case (prefix, name) =>
          (s"${prefix}_refresh", false, s"index '$name' current") }
    }
    // a meta that does not parse is not an absent index: listing refuses
    Files.write(Paths.get(path, "_textidx", "aaa", "meta"), "garbage".getBytes)
    intercept[Exception](AttachedIndex.list(path))
    withCatalog {
      intercept[Exception](spark.sql(s"CALL graft.indexes('$path')").collect())
    }
  }
}
