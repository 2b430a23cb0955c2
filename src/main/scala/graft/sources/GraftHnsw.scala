package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.HnswIndex

/** The graph-based ANN index attached to its [[GraftTable]] — the HNSW
  * twin of [[GraftIndex]] (the reference's table-kept index serving,
  * demo.ipynb cell 11, with Lucene-9's segment-HNSW maintenance model
  * instead of IVF cells).
  *
  * Layout, under the table's own directory:
  * {{{
  *   table/_hnswidx/<name>/meta            commit point (atomic swap):
  *                                         vecCol, keyCol, metric, m, efc,
  *                                         indexedVersion, gen,
  *                                         segs=<committed pid list>,
  *                                         tombs=<committed tombstone files>
  *   table/_hnswidx/<name>/g<K>/layout/    HnswIndex segment graphs (pid= dirs)
  *   table/_hnswidx/<name>/g<K>/tombs/     (id, horizon) parquet files
  * }}}
  *
  * Maintenance is the LUCENE model, not the IVF cell-rewrite model:
  *  - [[refresh]] APPENDS the change batch's live rows as NEW immutable
  *    segments (a flush) and records the changed keys as HORIZON
  *    TOMBSTONES `(id, horizon = first new pid)`: a candidate from a
  *    segment OLDER than its key's horizon is a dead copy (updated or
  *    deleted) and is filtered at probe time — exactly Lucene's
  *    liveDocs. Updated keys' fresh copies live in pid ≥ horizon, so
  *    the max horizon per key keeps precisely the newest copy.
  *  - probe cost grows with the segment count and dead candidates cost
  *    recall headroom (k candidates per segment are fetched BEFORE the
  *    tombstone filter), so periodic [[rebuild]] — a full re-flush into
  *    a fresh generation, dropping every tombstone — is the stated
  *    merge/compaction step, like Lucene's background merges.
  *
  * Freshness and crash-safety carry the house contract: probes FAIL
  * LOUDLY when the table moved past `indexedVersion` (`allowStale`
  * opts into the pinned snapshot); meta names the COMMITTED segment
  * pids and tombstone files explicitly, so an appended-but-uncommitted
  * segment or tombstone from a crashed refresh is invisible until its
  * retry commits (appends land at fresh pids past any orphan).
  *
  * Probes return full table rows like [[GraftIndex.probe]] — the HNSW
  * layout stores only (id, vec, links), so the payload comes from a
  * BUCKET-PRUNED point lookup of the k result keys against the pinned
  * table version (k keys → ≤ k buckets read, never a table scan).
  *
  * `storage = "sq8" | "binary" | "rabitq"` swaps the layout's float32
  * vectors for int8 codes / packed sign bits / RaBitQ estimator codes
  * (4×/32×/~28× fewer serve scan bytes — the dominant 100 TB cost; the
  * reference's format ships IVF_PQ for the same reason) and serving
  * becomes TWO-STAGE: quantized walk for a rerankFactor·k frontier,
  * exact rerank from the TABLE's float column (which the table keeps
  * anyway — the index never needs to store floats). Emitted scores are
  * exact float arithmetic either way. Prefer `rabitq` over `binary`
  * for dot/MIPS corpora: plain sign bits are norm-blind and their walk
  * collapses exactly like the IVF measurement (0.27 vs 0.70 overlap@10,
  * SURVEY §15.13); rabitq's per-vector norm scalar keeps the walk
  * norm-aware at the same 1-bit scan cost ([[HnswIndex]] docs).
  *
  * Approximation is honest: HNSW has no exhaustive mode, so the
  * queries row is rows-only; GraftHnswSpec pins the mutate→refresh→
  * probe lifecycle against brute force at a wide beam (the HnswSpec
  * convention) plus the tombstone lineage rules exactly.
  */
object GraftHnsw extends AttachedIndex.Family {
  type M = HnswMeta
  val dir = "_hnswidx"
  val noun = "HNSW index"
  val defaultName = "hnsw"
  val sqlPrefix = "hnsw"

  final case class HnswMeta(name: String, vecCol: String, keyCol: String,
                            metric: String, m: Int, efConstruction: Int,
                            indexedVersion: Int, gen: Int,
                            segs: Seq[Int], tombs: Seq[String],
                            storage: String = "float32") extends AttachedIndex.Meta {
    def family: AttachedIndex.Family = GraftHnsw
    def columns: Seq[String] = Seq(vecCol, keyCol)
    private[sources] def report = ("hnsw", vecCol, metric, m)
    private[sources] def fields =
      Seq("vecCol" -> vecCol, "keyCol" -> keyCol, "metric" -> metric, "m" -> m.toString,
        "efc" -> efConstruction.toString, "indexedVersion" -> indexedVersion.toString,
        "gen" -> gen.toString, "segs" -> segs.mkString(","), "tombs" -> tombs.mkString(","),
        "storage" -> storage)
  }

  protected def decode(name: String, kv: Map[String, String]): HnswMeta =
    HnswMeta(name, kv("vecCol"), kv("keyCol"), kv("metric"), kv("m").toInt,
      kv("efc").toInt, kv("indexedVersion").toInt, kv("gen").toInt,
      kv("segs").split(",").filter(_.nonEmpty).map(_.toInt).toSeq,
      kv("tombs").split(",").filter(_.nonEmpty).toSeq,
      kv.getOrElse("storage", "float32")) // pre-quantization metas: float32

  protected def pinnedAt(m: HnswMeta, version: Int): HnswMeta = m.copy(indexedVersion = version)

  private[sources] def refreshUpTo(spark: SparkSession, tablePath: String, name: String,
                                   maxSegments: Int): Option[(Int, Int)] =
    refresh(spark, tablePath, name, maxSegments)

  private def genRoot(tablePath: String, name: String, gen: Int) =
    s"${root(tablePath, name)}/g$gen"
  private def layoutPath(tablePath: String, name: String, gen: Int) =
    s"${genRoot(tablePath, name, gen)}/layout"
  private def tombsDir(tablePath: String, name: String, gen: Int) =
    s"${genRoot(tablePath, name, gen)}/tombs"

  /** Committed-or-not pids currently on disk for a generation's layout. */
  private def pidsOnDisk(spark: SparkSession, tablePath: String, name: String,
                         gen: Int): Seq[Int] = {
    val dir = new Path(layoutPath(tablePath, name, gen))
    if (!GraftTable.MetaIO.exists(dir)) Seq.empty
    else GraftTable.MetaIO.list(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("pid="))
      .map(_.getPath.getName.stripPrefix("pid=").toInt).sorted
  }

  /** The table's single integral record-key column, or a loud refusal —
    * the HNSW layout addresses vectors by a long id.
    */
  private def keyColOf(tablePath: String, v: Int): String = {
    val keys = GraftTable.keyColumns(tablePath)
    require(keys.length == 1,
      s"hnsw index needs a single record-key column, table has ${keys.mkString(", ")}")
    val sc = GraftTable.snapshotSchema(tablePath, v).getOrElse(
      throw new IllegalStateException(s"$tablePath: no recorded snapshot schema " +
        "(legacy manifest) — commit once through a write to upgrade"))
    val dt = sc(keys.head).dataType
    require(Seq("int", "bigint", "smallint", "tinyint").contains(dt.simpleString),
      s"hnsw index needs an integral record key, '${keys.head}' is ${dt.simpleString}")
    keys.head
  }

  /** Build the index from the table's CURRENT snapshot and record that
    * version. Rows with a null vector are not indexed (they appear if a
    * later upsert fills the vector in).
    *
    * `storage` = "float32" (default) | "sq8" | "binary" | "rabitq":
    * quantized layouts store 1 byte/dim resp. 1 bit/dim instead of 4
    * bytes — the 100 TB serve-scan-bytes lever — and
    * [[probe]]/[[knnJoin]] exact-rerank their frontier from the TABLE's
    * float column, so the emitted scores are always exact-arithmetic
    * scores; only the walk ranks on reconstructed values ("rabitq"
    * reconstructs through the unbiased estimator — the norm-aware 1-bit
    * choice for dot-metric corpora).
    */
  def create(spark: SparkSession, tablePath: String, vecCol: String,
             name: String = "hnsw", m: Int = 16, efConstruction: Int = 100,
             metric: String = "cosine", nSegments: Int = 4,
             storage: String = "float32"): Unit = {
    val v = pinForCreate(tablePath, name)
    val keyCol = keyColOf(tablePath, v)
    val snap = GraftTable.read(spark, tablePath, v).filter(col(vecCol).isNotNull)
    HnswIndex.build(snap, keyCol, vecCol, layoutPath(tablePath, name, 0),
      m, efConstruction, metric, nSegments, storage)
    commit(tablePath, HnswMeta(name, vecCol, keyCol, metric, m, efConstruction,
      v, gen = 0, segs = pidsOnDisk(spark, tablePath, name, 0), tombs = Nil,
      storage = storage))
  }

  /** Catch the index up to the table head: the change batch's live rows
    * flush as NEW segments, every changed key gets a horizon tombstone.
    * Cost is O(batch) — build work for the additions plus one small
    * tombstone file; no existing segment is read or rewritten (the
    * Lucene flush, vs [[GraftIndex.refresh]]'s COW cell rewrite).
    * Returns the (fromVersion, toVersion] range applied, None if fresh.
    *
    * `maxSegments` (> 0) auto-[[merge]]s back under the cap after the
    * flush commits — the [[TextIndex.refresh]] maxSegments twin: a
    * CDC-fed index flushes a segment per batch, and without a cap the
    * probe cost ratchets up until someone remembers to maintain it.
    * The cap keeps refresh cost bounded too: each auto-merge folds the
    * smallest tier (O(merged rows)), never the corpus.
    */
  def refresh(spark: SparkSession, tablePath: String,
              name: String = "hnsw", maxSegments: Int = 0): Option[(Int, Int)] = {
    val r = refreshOnce(spark, tablePath, name)
    if (maxSegments > 0 && meta(tablePath, name).segs.length > maxSegments)
      merge(spark, tablePath, name, targetSegments = maxSegments)
    r
  }

  private def refreshOnce(spark: SparkSession, tablePath: String,
                          name: String): Option[(Int, Int)] =
    refreshWith(spark, tablePath, name) { (m0, head, batch) =>
      val changedKeys = batch.select(col(m0.keyCol).cast("long").as("id")).distinct()
      val additions = batch.filter(!col("_deleted")).drop("_deleted")
        .filter(col(m0.vecCol).isNotNull)
      // schema-only / no-op range: None — the pin advances, nothing flushes
      if (changedKeys.isEmpty) None
      else {
        val model = HnswIndex.load(spark, layoutPath(tablePath, name, m0.gen))
        // horizon BEFORE the append: every copy in a segment older than
        // the new base is dead for a changed key; the fresh copies land
        // at pid >= base and survive the filter. With no additions the
        // horizon is one past the newest pid on disk (orphans included —
        // a committed pid never exceeds it).
        val (newSegs, horizon) =
          if (additions.isEmpty)
            (Seq.empty[Int],
              pidsOnDisk(spark, tablePath, name, m0.gen).maxOption.fold(0)(_ + 1))
          else {
            val base = HnswIndex.append(spark, model, additions, m0.keyCol, m0.vecCol)
            (pidsOnDisk(spark, tablePath, name, m0.gen).filter(_ >= base), base)
          }
        // attempt-unique tombstone file: a crashed refresh's file is
        // invisible (not meta-listed) and never half-reused
        val tombName = s"t${AttachedIndex.token()}"
        changedKeys.withColumn("horizon", lit(horizon)).coalesce(1)
          .write.mode("overwrite")
          .parquet(s"${tombsDir(tablePath, name, m0.gen)}/$tombName")
        // segments, tombstone, and version pin commit together
        Some(m0.copy(indexedVersion = head,
          segs = m0.segs ++ newSegs, tombs = m0.tombs :+ tombName))
      }
    }

  /** Full re-flush into a fresh generation at the table head — the
    * merge/compaction step: one graph build per segment over the live
    * snapshot, ZERO tombstones after (dead copies are gone physically),
    * probe cost reset to `nSegments` walks. Concurrent probes keep
    * serving the old generation untorn; the meta swap flips atomically.
    * Old generation dirs are orphaned for [[vacuum]].
    */
  def rebuild(spark: SparkSession, tablePath: String, name: String = "hnsw",
              nSegments: Option[Int] = None): Unit = {
    val m0 = meta(tablePath, name)
    val head = GraftTable.latestVersion(tablePath)
    val newGen = m0.gen + 1
    val snap = GraftTable.read(spark, tablePath, head).filter(col(m0.vecCol).isNotNull)
    val nSeg = nSegments.getOrElse(math.max(1, m0.segs.length))
    HnswIndex.build(snap, m0.keyCol, m0.vecCol, layoutPath(tablePath, name, newGen),
      m0.m, m0.efConstruction, m0.metric, nSeg, m0.storage)
    commit(tablePath, m0.copy(indexedVersion = head, gen = newGen,
      segs = pidsOnDisk(spark, tablePath, name, newGen), tombs = Nil))
  }

  /** TIERED SEGMENT MERGE — Lucene's background-merge contract as an
    * explicit operator, the bounded-maintenance middle ground between
    * per-batch [[refresh]] (which GROWS the segment count by design:
    * every flush is a new segment, and probe cost is k candidates per
    * segment per query) and full [[rebuild]] (which pays O(corpus)).
    * The SMALLEST committed segments beyond `targetSegments` fold into
    * ONE new segment whose graph is rebuilt over the DECODED vectors
    * while the STORED payload cells pass through UNCHANGED
    * ([[HnswIndex.segmentRows]]/[[HnswIndex.appendStored]] — no
    * re-encode, so the stored geometry round-trips bit-exactly for
    * every storage, rabitq-cosine included), and maintenance IO tracks
    * the merged tier's bytes, never the corpus — exactly Lucene's
    * tiered-merge cost model, which is what keeps a 100 TB CDC-fed
    * index serviceable without rebuild windows.
    *
    * Dead copies are dropped physically during the fold (the same
    * horizon rule probes apply), and tombstone files that can no longer
    * kill anything (horizon ≤ the new minimum committed pid — each file
    * carries ONE horizon and kills only copies at pid < it) retire from
    * the meta. Merged-out segment dirs and retired tombstone files stay
    * on disk for pinned readers (MVCC, the refresh-orphan story); the
    * next rebuild's generation flip + [[vacuum]] reclaims them. The
    * meta swap is the atomic commit point — a crash before it leaves
    * the old meta fully serving.
    *
    * The merged segment is one task's in-memory graph build (the same
    * contract as create/rebuild) — `targetSegments` is the sizing knob.
    * Returns (mergedPids, newPid); None when already at/under target.
    */
  def merge(spark: SparkSession, tablePath: String, name: String = "hnsw",
            targetSegments: Int = 4): Option[(Seq[Int], Int)] = {
    require(targetSegments >= 1, s"need targetSegments >= 1, got $targetSegments")
    val m0 = meta(tablePath, name)
    if (m0.segs.length <= targetSegments) return None
    val lp = layoutPath(tablePath, name, m0.gen)
    // size each committed segment — one FS listing per pid dir,
    // O(segments) metadata, no data IO
    def bytesOf(pid: Int): Long =
      GraftTable.MetaIO.list(new Path(s"$lp/pid=$pid"))
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .map(_.getLen).sum
    val mergeSet = m0.segs.sortBy(p => (bytesOf(p), p))
      .take(m0.segs.length - targetSegments + 1)
    val keep = m0.segs.diff(mergeSet)
    val model = HnswIndex.load(spark, lp)
    val rows = HnswIndex.segmentRows(spark, model, mergeSet.toSet)
    val live = liveCandidates(spark, tablePath, m0, rows).drop("pid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the horizon rule leaves at most ONE live copy per key; a
      // violation means corrupted lineage — refuse, never build a
      // graph the duplicate-id probe guard would reject later
      val dup = live.groupBy("id").count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"merge found a key with multiple live copies (id ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)}) " +
          "— index lineage is corrupt; rebuild instead")
      val newSegs =
        if (live.isEmpty) keep // every merged copy was dead: just drop them
        else {
          val base = HnswIndex.appendStored(spark, model, live, nNewSegments = 1)
          keep ++ pidsOnDisk(spark, tablePath, name, m0.gen).filter(_ >= base)
        }
      // no segments left (everything merged away dead) ⇒ nothing any
      // tombstone could kill
      val minPid = if (newSegs.isEmpty) Int.MaxValue else newSegs.min
      val keptTombs = m0.tombs.filter { t =>
        val h = spark.read.parquet(s"${tombsDir(tablePath, name, m0.gen)}/$t")
          .agg(max("horizon")).head().getInt(0)
        h > minPid
      }
      commit(tablePath, m0.copy(segs = newSegs, tombs = keptTombs))
      Some((mergeSet, newSegs.diff(keep).headOption.getOrElse(-1)))
    } finally {
      live.unpersist(blocking = false)
      ()
    }
  }

  /** Reclaim non-current generation dirs (post-[[rebuild]] garbage).
    * Same single-maintainer discipline as refresh. Returns dirs deleted.
    */
  def vacuum(tablePath: String, name: String = "hnsw"): Int = {
    val m = meta(tablePath, name)
    val gens = GraftTable.MetaIO.list(new Path(root(tablePath, name)))
      .filter(st => st.isDirectory && st.getPath.getName.matches("g\\d+"))
      .filter(_.getPath.getName.stripPrefix("g").toInt != m.gen)
    gens.foreach(st => GraftTable.MetaIO.delete(st.getPath))
    gens.length
  }

  /** Batched ANN k-NN join through the table-attached HNSW: every query
    * row gets its approximate top-k live table keys — each committed
    * segment graph loads ONCE and serves every query (|Q| bounded-`ef`
    * beam walks per segment), dead copies die by the same horizon
    * tombstone filter as [[probe]], then the bounded-heap per-query
    * top-k. The [[GraftIndex.knnJoin]] twin for the graph index;
    * returns (qid, keyCol, score) — join payload back per key if
    * needed (the batch shape keeps the big side unjoined).
    */
  def knnJoin(spark: SparkSession, tablePath: String,
              queries: Seq[(Long, Seq[Float])], k: Int, ef: Int,
              name: String = "hnsw", allowStale: Boolean = false,
              rerankFactor: Int = 4, pred: Option[Column] = None,
              bruteForceCap: Int = 10000, acceptCap: Int = 1000000): DataFrame = {
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    // the internal graph id is long; emit the key in the TABLE's key
    // type (as joinBack does) so int-keyed tables don't get bigint back
    val keyType = GraftTable.snapshotSchema(tablePath, m.indexedVersion)
      .map(_(m.keyCol).dataType)
      .getOrElse(org.apache.spark.sql.types.LongType)
    if (pred.isDefined)
      return knnJoinFiltered(spark, tablePath, m, queries, k, ef, pred.get,
        rerankFactor, bruteForceCap, acceptCap, keyType)
    if (m.segs.isEmpty) return emptyPairs(spark, m, keyType)
    val model = HnswIndex.load(spark, layoutPath(tablePath, name, m.gen))
    val qs = queries.map { case (qid, v) => (qid, v.toArray) }
    if (m.storage == "float32") {
      val cands = HnswIndex.probeSegmentsWithPid(spark, model, qs, k, ef, Some(m.segs.toSet))
      val live = liveCandidates(spark, tablePath, m, cands)
        .select(col("qid"), col("id").cast(keyType).as(m.keyCol), col("score"))
      graft.operators.VectorSearch.perQueryTopK(live, "qid", m.keyCol, k, m.metric)
    } else {
      // quantized layout: widen the per-(query, segment) frontier, then
      // exact-score the surviving pairs (≤ |Q|·|segs|·rerankFactor·k)
      val cands = HnswIndex.probeSegmentsWithPid(spark, model, qs,
        AttachedIndex.frontierSize(k, rerankFactor), ef, Some(m.segs.toSet))
      rerankPairs(spark, tablePath, m,
        liveCandidates(spark, tablePath, m, cands).select("qid", "id").distinct(),
        queries, k, keyType)
    }
  }

  /** [[knnJoin]] under a predicate — the [[probeFiltered]] selectivity
    * strategy applied to the batch shape (one accept set / one match
    * count serves EVERY query; the brute path broadcasts the filtered
    * subset once and scores all (query, match) pairs). Emitted scores
    * are exact float arithmetic on all paths.
    */
  private def knnJoinFiltered(spark: SparkSession, tablePath: String, m: HnswMeta,
                              queries: Seq[(Long, Seq[Float])], k: Int, ef: Int,
                              pred: Column, rerankFactor: Int, bruteForceCap: Int,
                              acceptCap: Int,
                              keyType: org.apache.spark.sql.types.DataType): DataFrame = {
    val kf = AttachedIndex.frontierSize(k, rerankFactor)
    if (queries.isEmpty) return emptyPairs(spark, m, keyType)
    val matched = AttachedIndex.matching(spark, tablePath, m.indexedVersion, pred, m.vecCol)
    val n = matchCount(spark, tablePath, m, matched, pred, bruteForceCap, acceptCap)
    if (n == 0) return emptyPairs(spark, m, keyType)
    if (n <= bruteForceCap || m.segs.isEmpty)
      return AttachedIndex.bruteForceKnn(spark, queries, matched, Seq(m.keyCol),
        m.vecCol, m.metric, k)
    val live = filteredWalk(spark, tablePath, m,
      queries.map { case (qid, v) => (qid, v.toArray) }, kf, ef, matched, n, acceptCap)
    rerankPairs(spark, tablePath, m, live.select("qid", "id").distinct(), queries, k, keyType)
  }

  /** The batch shape's empty result: (qid, key, score). */
  private def emptyPairs(spark: SparkSession, m: HnswMeta,
                         keyType: org.apache.spark.sql.types.DataType): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double)].toDF("qid", m.keyCol, "score")
      .withColumn(m.keyCol, col(m.keyCol).cast(keyType))
      .select("qid", m.keyCol, "score")
  }

  /** Exact-score distinct (qid, id) candidate pairs on the table's
    * float column — one point lookup serves ALL queries — then the
    * bounded-heap per-query cut.
    */
  private def rerankPairs(spark: SparkSession, tablePath: String, m: HnswMeta,
                          pairs: DataFrame, queries: Seq[(Long, Seq[Float])], k: Int,
                          keyType: org.apache.spark.sql.types.DataType): DataFrame = {
    import spark.implicits._
    val frontier = pairs.select("id").distinct().collect().map(_.getLong(0))
    if (frontier.isEmpty) return emptyPairs(spark, m, keyType)
    // select, not withColumn+drop: the table's key may itself be
    // named "id" (the graph's internal id column name)
    val probeSide = broadcast(
      pairs.select(col("qid"), col("id").cast(keyType).as(m.keyCol))
        .join(queries.toDF("qid", "__qvec"), "qid"))
    val scored = candidateRows(spark, tablePath, m, frontier)
      .select(col(m.keyCol), col(m.vecCol))
      .join(probeSide, Seq(m.keyCol))
      .withColumn("score", graft.operators.VectorSearch.scoreCol(
        col(m.vecCol), col("__qvec"), m.metric))
      .select(col("qid"), col(m.keyCol), col("score"))
    graft.operators.VectorSearch.perQueryTopK(scored, "qid", m.keyCol, k, m.metric)
  }

  /** The filtered walk's live candidates: ≤ `acceptCap` matches walk
    * with a sorted accept set; past it, an unfiltered walk semi-joined
    * to the match keys ([[probeFiltered]]).
    */
  private def filteredWalk(spark: SparkSession, tablePath: String, m: HnswMeta,
                           queries: Seq[(Long, Array[Float])], kf: Int, ef: Int,
                           matched: DataFrame, n: Long, acceptCap: Int): DataFrame = {
    val model = HnswIndex.load(spark, layoutPath(tablePath, m.name, m.gen))
    val acceptIds: Option[Array[Long]] =
      if (n <= acceptCap) {
        val arr = matched.select(col(m.keyCol).cast("long")).distinct()
          .collect().map(_.getLong(0))
        java.util.Arrays.sort(arr)
        Some(arr)
      } else None
    val live = liveCandidates(spark, tablePath, m, HnswIndex.probeSegmentsWithPid(
      spark, model, queries, kf, ef, Some(m.segs.toSet), acceptIds))
    if (acceptIds.isDefined) live
    else live.join(matched.select(col(m.keyCol).cast("long").as("id")).distinct(),
      Seq("id"), "left_semi")
  }

  /** The filtered paths' match count, metadata-first — the shared
    * three-regime ladder ([[GraftTable.metadataMatchCount]], hoisted
    * there in r13 so the three call sites' case sets cannot drift):
    * stats-answerable bounds that already decide the serving leg skip
    * the count job; anything undecided pays the exact count. The helper
    * also enforces acceptCap ≥ bruteForceCap — the assumption the
    * `lo > acceptCap` shortcut's proof rests on.
    */
  private def matchCount(spark: SparkSession, tablePath: String, m: HnswMeta,
                         matched: DataFrame, pred: Column,
                         bruteForceCap: Int, acceptCap: Int): Long =
    GraftTable.metadataMatchCount(spark, tablePath, m.indexedVersion, pred,
      Seq(m.vecCol), bruteForceCap, acceptCap)(matched.count())

  /** Candidates surviving the horizon tombstones: a candidate (id, pid)
    * dies iff some tombstone for its id has horizon > pid — i.e. the
    * copy predates its key's newest change. One broadcast-sized join
    * (tombstones are the table's churn since the last rebuild).
    */
  private def liveCandidates(spark: SparkSession, tablePath: String,
                             m: HnswMeta, cands: DataFrame): DataFrame = {
    if (m.tombs.isEmpty) return cands
    val tombs = spark.read.parquet(
        m.tombs.map(t => s"${tombsDir(tablePath, m.name, m.gen)}/$t"): _*)
      .groupBy("id").agg(max("horizon").as("__hz"))
    cands.join(broadcast(tombs), Seq("id"), "left")
      .filter(col("__hz").isNull || col("pid") >= col("__hz"))
      .drop("__hz")
  }

  /** The empty probe shape: table columns (minus the vector) + score. */
  private def emptyShaped(spark: SparkSession, tablePath: String,
                          m: HnswMeta): DataFrame =
    GraftTable.read(spark, tablePath, m.indexedVersion).limit(0)
      .withColumn("score", lit(0.0)).drop(m.vecCol)

  /** The pinned snapshot's schema (create refuses tables without one). */
  private def schemaOf(tablePath: String, m: HnswMeta) =
    GraftTable.snapshotSchema(tablePath, m.indexedVersion).getOrElse(
      throw new IllegalStateException(s"$tablePath: no recorded snapshot schema"))

  /** FULL table rows of graph ids (a long `__id` column plus any
    * payload, e.g. a score) by the point lookup at the pinned version,
    * the key in the TABLE's key type.
    */
  private def rowsOf(spark: SparkSession, tablePath: String, m: HnswMeta,
                     ids: DataFrame): DataFrame =
    AttachedIndex.lookup(spark, tablePath, m.indexedVersion, Seq(m.keyCol),
      ids.withColumn(m.keyCol, col("__id").cast(schemaOf(tablePath, m)(m.keyCol).dataType))
        .drop("__id"))

  private def candidateRows(spark: SparkSession, tablePath: String, m: HnswMeta,
                            ids: Array[Long]): DataFrame = {
    import spark.implicits._
    rowsOf(spark, tablePath, m, ids.toSeq.toDF("__id"))
  }

  /** Payload join-back of the k results, in the canonical probe shape —
    * table columns (snapshot order) minus the vector, score last.
    */
  private def joinBack(spark: SparkSession, tablePath: String, m: HnswMeta,
                       top: Array[(Long, Double)]): DataFrame = {
    if (top.isEmpty) return emptyShaped(spark, tablePath, m)
    import spark.implicits._
    val canonical = schemaOf(tablePath, m).fieldNames.toSeq.filterNot(_ == m.vecCol) :+ "score"
    rowsOf(spark, tablePath, m, top.toSeq.toDF("__id", "score"))
      .select(canonical.map(col): _*)
  }

  /** Top-k against the table-attached HNSW index. `ef` is the
    * recall/cost knob. Fails loudly when the index lags the table
    * unless `allowStale`. Output: full table rows (minus the vector) +
    * score, the [[GraftIndex.probe]] shape.
    *
    * Quantized layouts (`storage` sq8/binary) are served TWO-STAGE: the
    * walk ranks a `rerankFactor`·k frontier per segment on the
    * reconstructed vectors (the cheap, small-scan-bytes pass), then the
    * frontier's exact scores come from the TABLE's float column via a
    * bucket-pruned point lookup and the final k is cut on those — so
    * emitted scores are always exact float arithmetic, identical in
    * kind to the float32 layout's (the 7d/7g rerank shape; quantization
    * costs recall headroom, never score fidelity). `rerankFactor` is
    * ignored for float32 layouts.
    *
    * `pred` turns the probe into a FILTERED vector search (top-k among
    * rows matching the predicate) — see [[probeFiltered]] for the
    * three-path selectivity strategy and the `bruteForceCap`/`acceptCap`
    * knobs (both ignored without a pred).
    */
  def probe(spark: SparkSession, tablePath: String, query: Seq[Float], k: Int,
            ef: Int, name: String = "hnsw", allowStale: Boolean = false,
            rerankFactor: Int = 4, pred: Option[Column] = None,
            bruteForceCap: Int = 10000, acceptCap: Int = 1000000): DataFrame = {
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    if (pred.isDefined)
      return probeFiltered(spark, tablePath, m, query, k, ef, pred.get,
        rerankFactor, bruteForceCap, acceptCap)
    if (m.segs.isEmpty) return emptyShaped(spark, tablePath, m)
    val model = HnswIndex.load(spark, layoutPath(tablePath, name, m.gen))
    if (m.storage == "float32") {
      // fetch k per COMMITTED segment (meta-listed pids only: a crashed
      // refresh's orphan segment stays invisible), filter dead copies,
      // then the global cut
      val cands = HnswIndex.probeSegmentsWithPid(spark, model,
        Seq((0L, query.toArray)), k, ef, Some(m.segs.toSet))
      val live = liveCandidates(spark, tablePath, m, cands)
      val ord = if (m.metric == "l2") asc("score") else desc("score")
      val top = live.orderBy(ord, asc("id")).limit(k)
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
      joinBack(spark, tablePath, m, top)
    } else {
      val cands = HnswIndex.probeSegmentsWithPid(spark, model,
        Seq((0L, query.toArray)), AttachedIndex.frontierSize(k, rerankFactor), ef,
        Some(m.segs.toSet))
      rerankTopK(spark, tablePath, m, liveCandidates(spark, tablePath, m, cands), query, k)
    }
  }

  /** Exact top-k of live walk candidates (≤ |segs|·kf ids), scored on
    * the TABLE's float column, in the canonical probe shape.
    */
  private def rerankTopK(spark: SparkSession, tablePath: String, m: HnswMeta,
                         live: DataFrame, query: Seq[Float], k: Int): DataFrame = {
    val frontier = live.select("id").distinct().collect().map(_.getLong(0))
    if (frontier.isEmpty) return emptyShaped(spark, tablePath, m)
    val canonical = schemaOf(tablePath, m).fieldNames.toSeq.filterNot(_ == m.vecCol) :+ "score"
    candidateRows(spark, tablePath, m, frontier)
      .withColumn("score", graft.operators.VectorSearch.scoreCol(
        col(m.vecCol), typedlit(query), m.metric))
      .orderBy(if (m.metric == "l2") asc("score") else desc("score"), asc(m.keyCol))
      .limit(k)
      .select(canonical.map(col): _*)
  }

  /** DIVERSIFIED top-k through the table-attached HNSW — the
    * [[GraftIndex.probeMmr]] twin for the graph family: stage 1 is the
    * existing [[probe]] widened to `candidates` (freshness, tombstones,
    * pred legs, quantized rerank all apply unchanged), stage 2 the MMR
    * greedy over that serving-sized slice with vectors from the
    * bucket-pruned point lookup. Output: `rank` + canonical probe shape
    * + `mmr_score`; λ=1 degenerates to the plain probe order
    * (spec-pinned). SQL surface: the `graft_hnsw_mmr` TVF.
    */
  def probeMmr(spark: SparkSession, tablePath: String, query: Seq[Float], k: Int,
               ef: Int, lambda: Double, candidates: Int, name: String = "hnsw",
               pred: Option[Column] = None, allowStale: Boolean = false,
               rerankFactor: Int = 4, bruteForceCap: Int = 10000,
               acceptCap: Int = 1000000): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need 1 <= k <= candidates, got k=$k, candidates=$candidates")
    val m = meta(tablePath, name)
    val cand = probe(spark, tablePath, query, candidates, ef, name, allowStale,
      rerankFactor, pred, bruteForceCap, acceptCap).localCheckpoint()
    val ids = cand.select(col(m.keyCol).cast("long")).distinct()
      .collect().map(_.getLong(0))
    if (ids.isEmpty)
      return cand.limit(0).select(
        lit(0).as("rank") +: cand.columns.map(col).toSeq :+ lit(0.0).as("mmr_score"): _*)
    val vecs = candidateRows(spark, tablePath, m, ids)
      .select(col(m.keyCol), col(m.vecCol))
    graft.operators.VectorSearch.mmrOverCandidates(
      cand, Seq(m.keyCol), vecs, m.vecCol, k, lambda, m.metric)
  }

  /** FILTERED top-k — Lucene's two-strategy filtered KNN
    * (KnnFloatVectorQuery + filter, public), generalized to three
    * regimes. The predicate is evaluated against the PINNED table
    * snapshot and the serving path is picked by its measured match
    * count, never guessed — measured METADATA-FIRST: a stats-answerable
    * pred whose upper bound already decides the leg (see [[matchCount]])
    * skips the count job entirely:
    *
    *  - ≤ `bruteForceCap` matches (or no segments): EXACT brute force
    *    over the filtered subset. The pred pushes into the snapshot's
    *    pruned parquet scan, the graph is never consulted, and the
    *    result is exact by construction — a selective filter makes the
    *    subset scan CHEAPER than a walk that must route past thousands
    *    of rejected nodes to find k accepted ones (Lucene's own
    *    fallback rule). This path earns the DuckDB oracle.
    *  - ≤ `acceptCap` matches: FILTERED WALK — the match keys broadcast
    *    once as a sorted accept set shared by all segment tasks; each
    *    walk traverses the FULL graph but collects only accepted nodes
    *    (rejected nodes stay routable, so the beam crosses the
    *    filtered-out region instead of fragmenting at its boundary),
    *    fetching a rerankFactor·k frontier per segment for tombstone
    *    and rerank headroom.
    *  - above `acceptCap` (a pred that keeps most of the table):
    *    POST-FILTER — unfiltered walk with the widened frontier, then a
    *    semi-join against the match keys. The match set is never
    *    collected to the driver; recall tracks the filter's pass rate,
    *    which is high exactly when this path engages.
    *
    * All paths emit EXACT float scores (walk paths rerank the frontier
    * from the TABLE's float column via the bucket-pruned point lookup,
    * so quantized layouts never surface reconstructed arithmetic) in
    * the canonical probe shape. Acceptance is BY KEY against the pinned
    * snapshot: an updated row's stale segment copies inherit the key's
    * acceptance and then die by the horizon-tombstone filter, so the
    * served copy is exactly the one the snapshot predicate saw.
    */
  private def probeFiltered(spark: SparkSession, tablePath: String, m: HnswMeta,
                            query: Seq[Float], k: Int, ef: Int, pred: Column,
                            rerankFactor: Int, bruteForceCap: Int,
                            acceptCap: Int): DataFrame = {
    val kf = AttachedIndex.frontierSize(k, rerankFactor)
    // bruteForceCap >= 0 and acceptCap >= bruteForceCap are enforced by
    // the shared matchCount ladder (GraftTable.metadataMatchCount)
    val matched = AttachedIndex.matching(spark, tablePath, m.indexedVersion, pred, m.vecCol)
    val n = matchCount(spark, tablePath, m, matched, pred, bruteForceCap, acceptCap)
    if (n == 0) return emptyShaped(spark, tablePath, m)
    if (n <= bruteForceCap || m.segs.isEmpty)
      return AttachedIndex.bruteForceTopK(tablePath, m.indexedVersion, matched,
        m.vecCol, m.keyCol, m.metric, query, k)
    rerankTopK(spark, tablePath, m, filteredWalk(spark, tablePath, m,
      Seq((0L, query.toArray)), kf, ef, matched, n, acceptCap), query, k)
  }
}
