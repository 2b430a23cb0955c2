package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.{GraftHnsw, GraftTable}
import java.nio.file.Files

/** Table-attached HNSW: the mutate→refresh→probe lifecycle against
  * brute force at a wide beam (the HnswSpec convention — HNSW has no
  * exhaustive mode, so wide-`ef` exact recovery is the strongest
  * checkable contract), plus the horizon-tombstone lineage rules,
  * stale-loudness, rebuild/vacuum, and the shape/refusal edges.
  */
class GraftHnswSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private def vec(i: Long, salt: Int = 0): Seq[Float] =
    (0 until dim).map(d => math.sin(i * 37.0 + d * 11.0 + salt * 101.0).toFloat)

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def mkTable(n: Int): String = {
    val path = Files.createTempDirectory("ghnsw").toString + "/t"
    val df = (0L until n.toLong).map(i => (i, vec(i), s"doc$i"))
      .toDF("id", "vec", "s")
    GraftTable.create(df, path, Seq("id"), nbuckets = 4)
    path
  }

  /** Brute-force cosine top-k over the table's LIVE rows: (id, payload). */
  private def brute(path: String, q: Seq[Float], k: Int): Seq[(Long, String)] =
    GraftTable.read(spark, path).select("id", "vec", "s").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2)))
      .map { case (id, v, s) => (id, s, cosine(v, q)) }
      .sortBy { case (id, _, sc) => (-sc, id) }
      .take(k).map { case (id, s, _) => (id, s) }.toSeq

  test("create + wide-beam probe recovers the exact top-k with payload columns") {
    val path = mkTable(60)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    val q = vec(7)
    val got = GraftHnsw.probe(spark, path, q, k = 10, ef = 512)
    got.columns.toSeq shouldBe Seq("id", "s", "score")
    val ids = got.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    ids shouldBe brute(path, q, 10).toSet
    // scores are the exact cosine of the stored vectors
    got.collect().foreach { r =>
      r.getDouble(2) shouldBe cosine(vec(r.getLong(0)), q) +- 1e-9
    }
  }

  test("probes fail LOUDLY on a stale index; allowStale serves the pinned snapshot") {
    val path = mkTable(40)
    GraftHnsw.create(spark, path, "vec", nSegments = 2)
    GraftTable.upsert(spark, path,
      Seq((999L, vec(999), "doc999")).toDF("id", "vec", "s"))
    val e = intercept[IllegalStateException] {
      GraftHnsw.probe(spark, path, vec(1), k = 5, ef = 128)
    }
    e.getMessage should include("STALE")
    // the pinned snapshot serves without the new row
    val stale = GraftHnsw.probe(spark, path, vec(999), k = 40, ef = 512,
      allowStale = true)
    stale.filter(col("id") === 999L).count() shouldBe 0L
  }

  test("refresh folds upserts (vector replace + inserts) and deletes exactly") {
    val path = mkTable(50)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    // replace 5 vectors, insert 5 new rows, delete 5 rows
    val ups = (0L until 5L).map(i => (i, vec(i, salt = 9), s"doc$i-v2")) ++
      (100L until 105L).map(i => (i, vec(i), s"doc$i"))
    GraftTable.upsert(spark, path, ups.toDF("id", "vec", "s"))
    GraftTable.delete(spark, path, (20L until 25L).toDF("id"))
    GraftHnsw.refresh(spark, path) should not be empty
    GraftHnsw.refresh(spark, path) shouldBe None // already fresh
    val q = vec(3, salt = 9)
    val got = GraftHnsw.probe(spark, path, q, k = 12, ef = 512)
    val ids = got.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    ids shouldBe brute(path, q, 12).toSet
    // deleted keys never surface, even as wide-k candidates
    val wide = GraftHnsw.probe(spark, path, vec(21), k = 50, ef = 512)
    wide.filter(col("id").between(20L, 24L)).count() shouldBe 0L
    // an updated key serves its NEW payload and NEW vector's score
    val self = GraftHnsw.probe(spark, path, vec(0, salt = 9), k = 1, ef = 512)
    self.head().getString(1) shouldBe "doc0-v2"
  }

  test("horizon lineage: a key updated across TWO refreshes serves only the newest copy") {
    val path = mkTable(30)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    GraftTable.upsert(spark, path, Seq((5L, vec(5, 1), "v1")).toDF("id", "vec", "s"))
    GraftHnsw.refresh(spark, path)
    GraftTable.upsert(spark, path, Seq((5L, vec(5, 2), "v2")).toDF("id", "vec", "s"))
    GraftHnsw.refresh(spark, path)
    GraftHnsw.meta(path).tombs.length shouldBe 2
    // wide probe for each historical vector: only ONE copy of key 5
    // exists, the newest
    Seq(vec(5, 0), vec(5, 1), vec(5, 2)).foreach { q =>
      val rows = GraftHnsw.probe(spark, path, q, k = 30, ef = 512)
        .filter(col("id") === 5L).collect()
      rows.length shouldBe 1
      rows.head.getString(1) shouldBe "v2"
    }
  }

  test("rebuild compacts into a fresh generation: zero tombstones, vacuum reclaims") {
    val path = mkTable(40)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    GraftTable.delete(spark, path, (0L until 10L).toDF("id"))
    GraftHnsw.refresh(spark, path)
    GraftHnsw.meta(path).tombs should not be empty
    GraftHnsw.rebuild(spark, path)
    val m = GraftHnsw.meta(path)
    m.tombs shouldBe empty
    m.gen shouldBe 1
    GraftHnsw.vacuum(path) shouldBe 1 // the g0 dir
    val q = vec(15)
    val ids = GraftHnsw.probe(spark, path, q, k = 8, ef = 512)
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    ids shouldBe brute(path, q, 8).toSet
  }

  test("sq8 storage: quantized walk + exact rerank recovers the float top-k with exact scores") {
    val path = mkTable(60)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8,
      efConstruction = 64, storage = "sq8")
    GraftHnsw.meta(path).storage shouldBe "sq8"
    // the layout stores codes + scale, never a float vector column
    val segCols = spark.read
      .parquet(s"$path/_hnswidx/hnsw/g0/layout").columns.toSet
    segCols should contain allOf ("qvec", "scale")
    segCols should not contain "vec"
    val q = vec(7)
    // ef and rerankFactor·k cover the corpus → the frontier is every
    // live node, so the exact rerank must equal true float top-k
    val got = GraftHnsw.probe(spark, path, q, k = 10, ef = 512, rerankFactor = 6)
    got.columns.toSeq shouldBe Seq("id", "s", "score")
    got.select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      brute(path, q, 10).toSet
    // emitted scores are EXACT float cosine (not quantized ranking scores)
    got.collect().foreach { r =>
      r.getDouble(2) shouldBe cosine(vec(r.getLong(0)), q) +- 1e-9
    }
  }

  test("binary storage: mutate -> refresh -> rerank lifecycle stays float-exact") {
    val path = mkTable(50)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8,
      efConstruction = 64, storage = "binary")
    // replace 5 vectors, insert 5 new rows, delete 5 rows (the refresh
    // script of the float test — quantized flushes must obey the same
    // horizon-tombstone lineage)
    val ups = (0L until 5L).map(i => (i, vec(i, salt = 9), s"doc$i-v2")) ++
      (100L until 105L).map(i => (i, vec(i), s"doc$i"))
    GraftTable.upsert(spark, path, ups.toDF("id", "vec", "s"))
    GraftTable.delete(spark, path, (20L until 25L).toDF("id"))
    GraftHnsw.refresh(spark, path) should not be empty
    val q = vec(3, salt = 9)
    val got = GraftHnsw.probe(spark, path, q, k = 12, ef = 512, rerankFactor = 8)
    got.select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      brute(path, q, 12).toSet
    got.collect().foreach { r =>
      val v = GraftTable.read(spark, path).filter(col("id") === r.getLong(0))
        .select("vec").head().getSeq[Float](0)
      r.getDouble(r.fieldIndex("score")) shouldBe cosine(v, q) +- 1e-9
    }
    // deleted keys never surface, even through the widened frontier
    GraftHnsw.probe(spark, path, vec(21), k = 45, ef = 512, rerankFactor = 8)
      .filter(col("id").between(20L, 24L)).count() shouldBe 0L
  }

  test("rabitq storage: mutate -> refresh -> rerank lifecycle stays float-exact") {
    val path = mkTable(50)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8,
      efConstruction = 64, storage = "rabitq")
    GraftHnsw.meta(path).storage shouldBe "rabitq"
    // the layout stores estimator codes + scalars, never a float vector
    val segCols = spark.read
      .parquet(s"$path/_hnswidx/hnsw/g0/layout").columns.toSet
    segCols should contain allOf ("bits", "rnorm", "align")
    segCols should not contain "vec"
    val ups = (0L until 5L).map(i => (i, vec(i, salt = 9), s"doc$i-v2")) ++
      (100L until 105L).map(i => (i, vec(i), s"doc$i"))
    GraftTable.upsert(spark, path, ups.toDF("id", "vec", "s"))
    GraftTable.delete(spark, path, (20L until 25L).toDF("id"))
    GraftHnsw.refresh(spark, path) should not be empty
    val q = vec(3, salt = 9)
    val got = GraftHnsw.probe(spark, path, q, k = 12, ef = 512, rerankFactor = 8)
    got.select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      brute(path, q, 12).toSet
    got.collect().foreach { r =>
      val v = GraftTable.read(spark, path).filter(col("id") === r.getLong(0))
        .select("vec").head().getSeq[Float](0)
      r.getDouble(r.fieldIndex("score")) shouldBe cosine(v, q) +- 1e-9
    }
    // deleted keys never surface, even through the widened frontier
    GraftHnsw.probe(spark, path, vec(21), k = 45, ef = 512, rerankFactor = 8)
      .filter(col("id").between(20L, 24L)).count() shouldBe 0L
  }

  test("quantized knnJoin: widened frontier + exact rerank equals the float per-query top-k") {
    val path = mkTable(40)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8,
      efConstruction = 64, storage = "sq8")
    val queries = (0L until 4L).map(i => i -> vec(i * 3 + 1))
    val got = GraftHnsw.knnJoin(spark, path, queries, k = 5, ef = 512,
        rerankFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    queries.foreach { case (qid, q) =>
      val want = brute(path, q, 5).map(_._1).toSet
      got(qid).map(_._2).toSet shouldBe want
      got(qid).foreach { case (_, id, s) => s shouldBe cosine(vec(id), q) +- 1e-9 }
    }
  }

  test("knnJoin serves per-query live top-k: deletes filtered, updates newest-copy") {
    val path = mkTable(40)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    GraftTable.upsert(spark, path,
      Seq((5L, vec(5, salt = 9), "doc5-v2")).toDF("id", "vec", "s"))
    GraftTable.delete(spark, path, Seq(7L).toDF("id"))
    GraftHnsw.refresh(spark, path)
    val queries = Seq(0L -> vec(12), 1L -> vec(5, salt = 9), 2L -> vec(7))
    val got = GraftHnsw.knnJoin(spark, path, queries, k = 8, ef = 512)
      .select("qid", "id", "score").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))))
    // exact per query at wide beam: equals brute force over the live table
    val live = GraftTable.read(spark, path).select("id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    queries.foreach { case (qid, q) =>
      val want = live.map { case (id, v) => (id, cosine(v, q)) }
        .sortBy { case (id, sc) => (-sc, id) }.take(8).map(_._1).toSet
      got(qid).map(_._1).toSet shouldBe want
    }
    // the deleted key never appears; the updated key scores its NEW vector
    got.values.flatten.map(_._1) should not contain 7L
    val upd = got(1L).find(_._1 == 5L).get
    upd._2 shouldBe cosine(vec(5, salt = 9), vec(5, salt = 9)) +- 1e-9
  }

  test("knnJoin returns the key in the TABLE's key type for int-keyed tables") {
    val path = Files.createTempDirectory("ghnsw").toString + "/t"
    val df = (0 until 20).map(i => (i, vec(i.toLong), s"doc$i"))
      .toDF("id", "vec", "s")
    GraftTable.create(df, path, Seq("id"), nbuckets = 2)
    GraftHnsw.create(spark, path, "vec", nSegments = 1, m = 8, efConstruction = 64)
    val got = GraftHnsw.knnJoin(spark, path, Seq(0L -> vec(3)), k = 3, ef = 256)
    got.schema("id").dataType shouldBe org.apache.spark.sql.types.IntegerType
    got.count() shouldBe 3L
    // probe's joinBack already casts; the two surfaces now agree
    GraftHnsw.probe(spark, path, vec(3), k = 3, ef = 256)
      .schema("id").dataType shouldBe org.apache.spark.sql.types.IntegerType
  }

  test("refusals: multi-column keys, non-integral keys, duplicate create") {
    val p2 = Files.createTempDirectory("ghnsw").toString + "/t2"
    GraftTable.create(Seq((1L, "a", vec(1))).toDF("id", "name", "vec"),
      p2, Seq("id", "name"), nbuckets = 2)
    intercept[IllegalArgumentException] {
      GraftHnsw.create(spark, p2, "vec")
    }.getMessage should include("single record-key")
    val p3 = Files.createTempDirectory("ghnsw").toString + "/t3"
    GraftTable.create(Seq(("a", vec(1))).toDF("name", "vec"),
      p3, Seq("name"), nbuckets = 2)
    intercept[IllegalArgumentException] {
      GraftHnsw.create(spark, p3, "vec")
    }.getMessage should include("integral")
    val path = mkTable(10)
    GraftHnsw.create(spark, path, "vec", nSegments = 1)
    intercept[IllegalArgumentException] {
      GraftHnsw.create(spark, path, "vec")
    }.getMessage should include("already exists")
  }

  test("drop removes the index, never the table") {
    val path = mkTable(10)
    GraftHnsw.create(spark, path, "vec", nSegments = 1)
    GraftHnsw.drop(path) shouldBe true
    GraftHnsw.drop(path) shouldBe false
    GraftHnsw.exists(path) shouldBe false
    GraftTable.read(spark, path).count() shouldBe 10L
  }

  test("streamRefresh: the HNSW index follows the table with no manual refresh calls") {
    val path = mkTable(40)
    GraftHnsw.create(spark, path, "vec", nSegments = 1, m = 8, efConstruction = 32)
    val q = GraftHnsw.streamRefresh(spark, path,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      GraftTable.upsert(spark, path, Seq((0L, vec(31337L), "fresh")).toDF("id", "vec", "s"))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (GraftHnsw.meta(path).indexedVersion < 1 && System.nanoTime() < deadline)
        Thread.sleep(100)
      GraftHnsw.meta(path).indexedVersion shouldBe 1
      // fresh by construction: the non-stale probe serves the upserted row
      val top = GraftHnsw.probe(spark, path, vec(31337L), 1, ef = 64).head()
      (top.getLong(0), top.getString(1)) shouldBe ((0L, "fresh"))
    } finally q.stop()
  }

  // ---- tiered segment merge (the Lucene background-merge contract) ----

  test("merge folds the smallest segments beyond target; probes stay exact; at/under target is a no-op") {
    val path = mkTable(60)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    (0 until 3).foreach { i =>
      GraftTable.upsert(spark, path,
        (100L + i * 10 until 110L + i * 10).map(k => (k, vec(k), s"doc$k"))
          .toDF("id", "vec", "s"))
      GraftHnsw.refresh(spark, path)
    }
    GraftHnsw.meta(path).segs.length shouldBe 5
    GraftHnsw.merge(spark, path, targetSegments = 2) should not be empty
    GraftHnsw.meta(path).segs.length shouldBe 2
    val q = vec(105)
    GraftHnsw.probe(spark, path, q, k = 10, ef = 512)
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet shouldBe brute(path, q, 10).toSet
    GraftHnsw.merge(spark, path, targetSegments = 2) shouldBe None
  }

  test("refresh(maxSegments) auto-merges the flush tier back under the cap") {
    val path = mkTable(40)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    (0 until 4).foreach { i =>
      GraftTable.upsert(spark, path,
        Seq((200L + i, vec(200L + i), s"doc${200 + i}")).toDF("id", "vec", "s"))
      GraftHnsw.refresh(spark, path, maxSegments = 3)
    }
    GraftHnsw.meta(path).segs.length should be <= 3
    val q = vec(202)
    GraftHnsw.probe(spark, path, q, k = 8, ef = 512)
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet shouldBe brute(path, q, 8).toSet
  }

  test("merge drops dead copies physically and retires spent tombstones") {
    val path = mkTable(40)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    GraftTable.upsert(spark, path, Seq((5L, vec(5, 1), "v1")).toDF("id", "vec", "s"))
    GraftHnsw.refresh(spark, path)
    GraftTable.upsert(spark, path, Seq((5L, vec(5, 2), "v2")).toDF("id", "vec", "s"))
    GraftHnsw.refresh(spark, path)
    GraftHnsw.meta(path).tombs.length shouldBe 2
    // fold EVERYTHING: every pre-merge pid leaves, so both tombstones
    // retire (each kills only copies OLDER than its horizon, and none
    // remain) and key 5 survives as exactly its newest copy
    GraftHnsw.merge(spark, path, targetSegments = 1) should not be empty
    val m = GraftHnsw.meta(path)
    m.segs.length shouldBe 1
    m.tombs shouldBe empty
    Seq(vec(5, 0), vec(5, 1), vec(5, 2)).foreach { q =>
      val rows = GraftHnsw.probe(spark, path, q, k = 40, ef = 512)
        .filter(col("id") === 5L).collect()
      rows.length shouldBe 1
      rows.head.getString(1) shouldBe "v2"
    }
    val q = vec(9)
    GraftHnsw.probe(spark, path, q, k = 10, ef = 512)
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet shouldBe brute(path, q, 10).toSet
  }

  test("merge preserves the stored geometry BIT-EXACTLY for every storage (payload carried, never re-encoded)") {
    // r13: merge carries the stored payload cells through the fold
    // (segmentRows/appendStored) instead of decode→re-encode, so even
    // rabitq under COSINE — the r12 documented-approximate case (the
    // re-normalize perturbed the residual direction) — round-trips
    // decoded vectors bit-identically.
    Seq("sq8", "rabitq", "binary").foreach { storage =>
      val path = mkTable(50)
      GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64,
        storage = storage)
      GraftTable.upsert(spark, path,
        (200L until 220L).map(k => (k, vec(k), s"doc$k")).toDF("id", "vec", "s"))
      GraftHnsw.refresh(spark, path)
      val m0 = GraftHnsw.meta(path)
      m0.segs.length shouldBe 3
      val lp = s"$path/_hnswidx/hnsw/g${m0.gen}/layout"
      val model = graft.operators.HnswIndex.load(spark, lp)
      val pre = graft.operators.HnswIndex.segmentVectors(spark, model, m0.segs.toSet)
        .select("id", "vec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      GraftHnsw.merge(spark, path, targetSegments = 2) should not be empty
      val m1 = GraftHnsw.meta(path)
      m1.storage shouldBe storage
      val post = graft.operators.HnswIndex.segmentVectors(spark, model, m1.segs.toSet)
        .select("id", "vec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      withClue(s"storage=$storage: ") {
        post shouldBe pre // decoded geometry identical, float for float
        val q = vec(205)
        val got = GraftHnsw.probe(spark, path, q, k = 8, ef = 512, rerankFactor = 16)
        got.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
          .toSet shouldBe brute(path, q, 8).toSet
        got.collect().foreach { r =>
          r.getDouble(2) shouldBe cosine(vec(r.getLong(0)), q) +- 1e-9
        }
      }
    }
  }

  test("probeMmr: wide beam == scan-side mmrTopK on the same slice; lambda=1 == plain probe; TVF == Scala") {
    val path = mkTable(60)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    val q = vec(7)
    // ef=512 over 60 rows ⇒ the widened probe recovers the exact top-20
    // slice, i.e. exactly mmrTopK's stage-1 slice — greedy picks and
    // both score columns must agree rank-for-rank
    val mmr = GraftHnsw.probeMmr(spark, path, q, k = 6, ef = 512,
        lambda = 0.5, candidates = 20)
      .orderBy("rank").collect()
    // output shape: rank + canonical probe columns + mmr_score
    mmr.head.schema.fieldNames.toSeq shouldBe Seq("rank", "id", "s", "score", "mmr_score")
    val want = graft.operators.VectorSearch.mmrTopK(
        GraftTable.read(spark, path), "vec", "id", q,
        k = 6, lambda = 0.5, candidates = 20)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    mmr.map(r => (r.getInt(0), r.getLong(1),
      r.getAs[Double]("score"), r.getAs[Double]("mmr_score"))).toSeq shouldBe want
    // λ=1 degenerates to the plain probe's (score desc, key asc) order
    // (ordered explicitly — joinBack's payload join scrambles row order)
    val plain = GraftHnsw.probe(spark, path, q, k = 6, ef = 512)
      .orderBy(desc("score"), asc("id")).select("id").as[Long].collect().toSeq
    val mmr1 = GraftHnsw.probeMmr(spark, path, q, k = 6, ef = 512,
        lambda = 1.0, candidates = 20)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    mmr1 shouldBe plain
    // TVF == Scala
    GraftFunctions.register(spark)
    val qLit = q.map(v => s"CAST($v AS FLOAT)").mkString("array(", ", ", ")")
    val tvf = spark.sql(
        s"""SELECT rank, id, score, mmr_score
            FROM graft_hnsw_mmr('$path', $qLit, 6, 0.5, 20, 512) ORDER BY rank""")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    tvf shouldBe want
  }

  // ---- filtered search (pred): the three-path selectivity strategy ----

  /** Brute-force cosine top-k over the LIVE rows matching `keep`. */
  private def bruteWhere(path: String, q: Seq[Float], k: Int,
                         keep: Long => Boolean): Seq[(Long, String)] =
    GraftTable.read(spark, path).select("id", "vec", "s").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2)))
      .filter { case (id, _, _) => keep(id) }
      .map { case (id, v, s) => (id, s, cosine(v, q)) }
      .sortBy { case (id, _, sc) => (-sc, id) }
      .take(k).map { case (id, s, _) => (id, s) }.toSeq

  test("filtered probe, BRUTE path: a selective pred is exact with exact scores (the oracle shape)") {
    val path = mkTable(60)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    val q = vec(7)
    // 6 of 60 rows match — far under the default bruteForceCap, so the
    // graph is never consulted and the result is exact by construction
    val got = GraftHnsw.probe(spark, path, q, k = 5, ef = 512,
      pred = Some(col("id") % 10 === 3))
    got.columns.toSeq shouldBe Seq("id", "s", "score")
    val ids = got.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    ids shouldBe bruteWhere(path, q, 5, _ % 10 == 3)
    got.collect().foreach { r =>
      (r.getLong(0) % 10) shouldBe 3L
      r.getDouble(2) shouldBe cosine(vec(r.getLong(0)), q) +- 1e-9
    }
  }

  test("filtered probe, WALK path: accept-set walk at a wide beam equals filtered brute force") {
    val path = mkTable(80)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    val q = vec(11)
    // bruteForceCap = 0 forces the accept-set walk; the wide beam must
    // reach every accepted node (rejected ones stay routable)
    val got = GraftHnsw.probe(spark, path, q, k = 10, ef = 512,
      pred = Some(col("id") % 2 === 0), bruteForceCap = 0)
    val ids = got.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    ids shouldBe bruteWhere(path, q, 10, _ % 2 == 0)
    got.collect().foreach { r =>
      r.getDouble(2) shouldBe cosine(vec(r.getLong(0)), q) +- 1e-9
    }
  }

  test("filtered probe, POST-FILTER path: a loose pred with a widened frontier equals filtered brute force") {
    val path = mkTable(60)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    val q = vec(23)
    // acceptCap = 0 too: unfiltered walk + semi-join; rerankFactor·k
    // covers the corpus so the equality is guaranteed, not probabilistic
    val got = GraftHnsw.probe(spark, path, q, k = 5, ef = 512,
      pred = Some(col("id") % 3 =!= 0), bruteForceCap = 0, acceptCap = 0,
      rerankFactor = 16)
    val ids = got.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    ids shouldBe bruteWhere(path, q, 5, _ % 3 != 0)
  }

  test("filtered probe respects lifecycle: updated matches serve the newest copy, deleted matches vanish") {
    val path = mkTable(50)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    GraftTable.upsert(spark, path, Seq((4L, vec(4, salt = 9), "doc4-v2")).toDF("id", "vec", "s"))
    GraftTable.delete(spark, path, Seq(8L).toDF("id"))
    GraftHnsw.refresh(spark, path)
    // walk path on purpose — the tombstone filter is on this path
    val got = GraftHnsw.probe(spark, path, vec(4, salt = 9), k = 25, ef = 512,
      pred = Some(col("id") % 2 === 0), bruteForceCap = 0)
    val rows = got.collect()
    rows.map(_.getLong(0)) should not contain 8L
    val top = rows.head
    top.getLong(0) shouldBe 4L
    top.getString(1) shouldBe "doc4-v2"
    top.getDouble(2) shouldBe 1.0 +- 1e-9
  }

  test("filtered probe on a QUANTIZED layout stays float-exact (walk + exact rerank)") {
    val path = mkTable(60)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64,
      storage = "sq8")
    val q = vec(17)
    val got = GraftHnsw.probe(spark, path, q, k = 8, ef = 512,
      pred = Some(col("id") % 2 === 1), bruteForceCap = 0, rerankFactor = 16)
    val ids = got.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    ids shouldBe bruteWhere(path, q, 8, _ % 2 == 1)
    got.collect().foreach { r =>
      r.getDouble(2) shouldBe cosine(vec(r.getLong(0)), q) +- 1e-9
    }
  }

  test("stats-answerable preds skip the filtered probe's count job; leg selection unchanged") {
    val path = mkTable(60)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    val q = vec(7)
    // two formulations of the SAME 6-match predicate: one pushes to a
    // DSv1 filter (stats-answerable — the upper bound over every file
    // is ≤ bruteForceCap, so the leg is decided from metadata), one is
    // opaque to translation (UDF) and must pay the count job
    val idf = udf((x: Long) => x)
    def jobsOf(tag: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(tag, tag)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
    }
    var pushed: Array[(Long, String, Double)] = null
    var opaque: Array[(Long, String, Double)] = null
    val jPushed = jobsOf("hnsw_pred_pushed") {
      pushed = GraftHnsw.probe(spark, path, q, k = 5, ef = 512,
          pred = Some(col("id") < 6))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    }
    val jOpaque = jobsOf("hnsw_pred_opaque") {
      opaque = GraftHnsw.probe(spark, path, q, k = 5, ef = 512,
          pred = Some(idf(col("id")) < 6))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    }
    // same leg (brute — 6 matches), same exact rows either way
    pushed.toSeq shouldBe opaque.toSeq
    pushed should have length 5 // k full
    pushed.map(_._1).toSet.subsetOf((0L until 6L).toSet) shouldBe true
    // the stats-covered pred skipped the count job (AQE may split the
    // opaque pred's count into more than one job — assert strictly fewer)
    jPushed should be < jOpaque
    // provably-empty pred: zero jobs beyond none — decided from metadata
    val jEmpty = jobsOf("hnsw_pred_empty") {
      GraftHnsw.probe(spark, path, q, k = 5, ef = 512,
        pred = Some(col("id") < 0)).collect()
    }
    jEmpty should be < jOpaque
  }

  test("filtered probe: zero matches returns the canonical empty shape") {
    val path = mkTable(20)
    GraftHnsw.create(spark, path, "vec", nSegments = 1)
    val got = GraftHnsw.probe(spark, path, vec(1), k = 5, ef = 128,
      pred = Some(col("id") > 1000L))
    got.columns.toSeq shouldBe Seq("id", "s", "score")
    got.count() shouldBe 0L
  }

  test("filtered knnJoin: brute and walk paths both equal per-query filtered brute force") {
    val path = mkTable(70)
    GraftHnsw.create(spark, path, "vec", nSegments = 2, m = 8, efConstruction = 64)
    val queries = Seq((0L, vec(3)), (1L, vec(41)))
    def want(k: Int): Map[Long, Seq[Long]] = queries.map { case (qid, q) =>
      qid -> bruteWhere(path, q, k, _ % 2 == 0).map(_._1)
    }.toMap
    def gotIds(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.orderBy(col("qid"), desc("score"), col("id")).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSeq).toMap
    // brute path (selective enough for the default cap at n=70? no —
    // 35 matches, still ≤ cap): exact by construction
    val bruteJ = GraftHnsw.knnJoin(spark, path, queries, k = 5, ef = 512,
      pred = Some(col("id") % 2 === 0))
    gotIds(bruteJ) shouldBe want(5)
    // walk path, forced: accept-set walk + exact rerank
    val walkJ = GraftHnsw.knnJoin(spark, path, queries, k = 5, ef = 512,
      pred = Some(col("id") % 2 === 0), bruteForceCap = 0, rerankFactor = 16)
    gotIds(walkJ) shouldBe want(5)
  }
}
