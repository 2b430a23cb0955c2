package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{IvfIndex, VectorSearch}

/** The lifecycle every table-attached index shares. Each family —
  * [[GraftIndex]] (IVF cells), [[TextIndex]] (BM25 posting segments),
  * [[GraftHnsw]] (graph segments) — keeps its own layout, build, change
  * application, probe, vacuum rule and merge/compact step, and inherits
  * the rest from [[Family]]: the `table/<dir>/<name>/meta` file of
  * `key=value` lines, its ONE commit (an atomic swap: generation,
  * segments and version pin advance together or not at all), the
  * freshness check, the refresh skeleton, listing, drop and the ticker.
  *
  * Freshness is a recorded fact: `meta.indexedVersion` pins the table
  * snapshot the index reflects, and serving FAILS LOUDLY once the table
  * has moved past it (`allowStale` serves the pinned snapshot).
  */
object AttachedIndex {

  /** What every family's meta carries. */
  trait Meta {
    def name: String
    def indexedVersion: Int
    def family: Family
    /** Table columns the index reads: a schema change must not drop or
      * rename them while the index exists.
      */
    def columns: Seq[String]
    /** The `indexes` report's (kind, column, metric, tuning parameter). */
    private[sources] def report: (String, String, String, Int)
    /** The meta file's fields, in write order. */
    private[sources] def fields: Seq[(String, String)]
  }

  trait Family {
    type M <: Meta
    /** The dir under the table: `_index`, `_textidx`, `_hnswidx`. */
    def dir: String
    /** How messages name the family. */
    def noun: String
    def defaultName: String
    /** The SQL verbs' prefix: `<prefix>_refresh`, `_vacuum`, `_drop`. */
    def sqlPrefix: String

    protected def decode(name: String, kv: Map[String, String]): M
    protected def pinnedAt(m: M, version: Int): M
    /** The family's refresh, with its segment cap where it has one (IVF
      * ignores it) — what `maintain`, the sink, SQL and the ticker call.
      */
    private[sources] def refreshUpTo(spark: SparkSession, tablePath: String, name: String,
                                     maxSegments: Int): Option[(Int, Int)]
    protected def tickerMaxSegments: Int = 0

    protected def root(tablePath: String, name: String): String = s"$tablePath/$dir/$name"
    private def metaPath(tablePath: String, name: String) = new Path(root(tablePath, name), "meta")

    def exists(tablePath: String, name: String = defaultName): Boolean =
      GraftTable.MetaIO.exists(metaPath(tablePath, name))

    def meta(tablePath: String, name: String = defaultName): M = {
      val p = metaPath(tablePath, name)
      require(GraftTable.MetaIO.exists(p), s"no $noun '$name' at $tablePath")
      decode(name, GraftTable.MetaIO.readString(p).split("\n")
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)
    }

    /** The head version a new index pins; refuses a missing table or a
      * taken name.
      */
    protected def pinForCreate(tablePath: String, name: String): Int = {
      val v = GraftTable.latestVersion(tablePath)
      require(v >= 0, s"no table at $tablePath")
      require(!exists(tablePath, name), s"$noun '$name' already exists at $tablePath")
      v
    }

    /** THE commit point of every create, refresh, rebuild, merge and
      * compact. Whatever the meta names is written first under
      * attempt-unique names ([[token]]), so racing maintainers each
      * commit a self-consistent state and the last swap wins whole.
      */
    protected def commit(tablePath: String, m: M): Unit =
      GraftTable.MetaIO.replaceString(metaPath(tablePath, m.name),
        m.fields.map { case (k, v) => s"$k=$v" }.mkString("\n"))

    /** The family's indexes, name-sorted. A dir without a meta (an
      * in-flight or aborted create) is skipped; an unreadable meta fails
      * loudly.
      */
    def list(tablePath: String): Seq[M] =
      GraftTable.MetaIO.list(new Path(tablePath, dir))
        .filter(_.isDirectory).map(_.getPath.getName).sorted
        .filter(exists(tablePath, _)).map(meta(tablePath, _))

    /** Drop the index's whole dir; false when absent (IF EXISTS). The
      * table is untouched: an index is derived state.
      */
    def drop(tablePath: String, name: String = defaultName): Boolean = {
      val existed = exists(tablePath, name)
      if (existed) GraftTable.MetaIO.delete(new Path(root(tablePath, name)))
      existed
    }

    protected def requireFresh(tablePath: String, m: M, allowStale: Boolean): Unit = {
      val head = GraftTable.latestVersion(tablePath)
      if (!allowStale && head != m.indexedVersion)
        throw new IllegalStateException(
          s"$noun '${m.name}' on $tablePath is STALE: it reflects table version " +
            s"${m.indexedVersion} but the table is at $head — refresh it, or pass " +
            "allowStale = true to serve the indexed snapshot")
    }

    /** The refresh skeleton: None when the index is at the head;
      * otherwise `apply(meta, head, changes)` folds the persisted
      * [[GraftTable.changes]] batch and returns the meta to commit, or
      * None when nothing indexed changed — then the pin advances alone.
      * Returns the (from, to] range applied. Nothing is visible before
      * the commit, so a refresh is idempotent against crashes and
      * replays. Run ONE refresher per index (the [[ChangeFeed]]
      * one-cursor-per-consumer discipline): racing ones duplicate work.
      */
    protected def refreshWith(spark: SparkSession, tablePath: String, name: String)(
        apply: (M, Int, DataFrame) => Option[M]): Option[(Int, Int)] = {
      val m = meta(tablePath, name)
      val head = GraftTable.latestVersion(tablePath)
      if (head <= m.indexedVersion) return None
      val batch = GraftTable.changes(spark, tablePath, m.indexedVersion, head)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try commit(tablePath, apply(m, head, batch).getOrElse(pinnedAt(m, head)))
      finally { batch.unpersist(blocking = false); () }
      Some((m.indexedVersion, head))
    }

    /** Continuous maintenance: a rate-source Structured Streaming ticker
      * refreshes the index per micro-batch, so it FOLLOWS the table with
      * no manual refresh calls (the [[ChangeFeed.streamInto]] twin).
      * `meta.indexedVersion` owns the position: restart-safe without a
      * checkpoint.
      */
    def streamRefresh(spark: SparkSession, tablePath: String, name: String = defaultName,
                      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
      spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          refreshUpTo(spark, tablePath, name, tickerMaxSegments); () }
        .trigger(trigger)
        .start()
  }

  /** Every index on the table: IVF, text, then HNSW, each name-sorted. */
  def list(tablePath: String): Seq[Meta] =
    Seq(GraftIndex, TextIndex, GraftHnsw).flatMap(_.list(tablePath))

  /** Attempt-unique suffix for a maintainer's new dirs and files. */
  def token(): String = java.util.UUID.randomUUID.toString.take(8)

  // ---- probe side shared by the vector families --------------------------

  /** Bucket-pruned point lookup at the pinned `version`: the table rows
    * whose keys appear in `keys`, joined to it (a payload such as a
    * score rides along). n keys → ≤ n bucket reads, never a table scan.
    */
  private[sources] def lookup(spark: SparkSession, tablePath: String, version: Int,
                              keyCols: Seq[String], keys: DataFrame): DataFrame = {
    val (_, defaultBuckets, _) = GraftTable.meta(tablePath)
    val nb = GraftTable.bucketsAt(tablePath, version, defaultBuckets)
    val buckets = keys
      .select(GraftTable.bucketCol(keyCols, nb).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    GraftTable.readBuckets(spark, tablePath, version, buckets)
      .join(broadcast(keys), keyCols)
  }

  /** The rerank frontier `k·rerankFactor`, saturating. */
  private[sources] def frontierSize(k: Int, rerankFactor: Int): Int = {
    require(rerankFactor >= 1, s"need rerankFactor >= 1, got $rerankFactor")
    math.min(Int.MaxValue.toLong, k.toLong * rerankFactor).toInt
  }

  /** The rows `pred` matches at the pinned version, null vectors out. */
  private[sources] def matching(spark: SparkSession, tablePath: String, version: Int,
                                pred: Column, vecCol: String): DataFrame =
    GraftTable.read(spark, tablePath, version).filter(pred).filter(col(vecCol).isNotNull)

  /** A filtered probe's exact leg (Lucene's selective-filter fallback):
    * score every matched row, cut top-k by (score, key), in the canonical
    * probe shape — table columns in snapshot order minus the vector,
    * score last.
    */
  private[sources] def bruteForceTopK(tablePath: String, version: Int, matched: DataFrame,
                                      vecCol: String, keyCol: String, metric: String,
                                      query: Seq[Float], k: Int): DataFrame = {
    val columns = GraftTable.snapshotSchema(tablePath, version)
      .fold(matched.columns.toSeq)(_.fieldNames.toSeq)
    matched
      .withColumn("score", VectorSearch.scoreCol(col(vecCol), typedlit(query), metric))
      .orderBy(if (metric == "l2") asc("score") else desc("score"), asc(keyCol))
      .limit(k)
      .select((columns.filterNot(_ == vecCol) :+ "score").map(col): _*)
  }

  /** A filtered BATCH search's exact leg: the matched subset broadcasts
    * once, every (query, match) pair is scored (≤ |Q|·bruteForceCap
    * rows), then the per-query top-k as (qid, keys…, score). Composite
    * keys ride the cut as one struct ([[IvfIndex.keyStruct]]).
    */
  private[sources] def bruteForceKnn(spark: SparkSession, queries: Seq[(Long, Seq[Float])],
                                     matched: DataFrame, keyCols: Seq[String],
                                     vecCol: String, metric: String, k: Int): DataFrame = {
    import spark.implicits._
    val key = IvfIndex.keyName(keyCols)
    val scored = queries.toDF("qid", "__qvec").crossJoin(broadcast(
        matched.select(IvfIndex.keyStruct(keyCols), col(vecCol).as("__mvec"))))
      .withColumn("score", VectorSearch.scoreCol(col("__mvec"), col("__qvec"), metric))
      .select(col("qid"), col(key), col("score"))
    IvfIndex.expandKey(VectorSearch.perQueryTopK(scored, "qid", key, k, metric), keyCols)
  }
}
