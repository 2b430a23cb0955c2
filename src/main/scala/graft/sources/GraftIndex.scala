package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, PqIndex}

/** A vector index that lives WITH its [[GraftTable]] — the analog of the
  * reference serving `hudi_vector_search('{TABLE_PATH}', …)` from an
  * index Hudi/Lance keeps in sync with the table (demo.ipynb cell 11;
  * the reference table's declared index type is Lance's IVF_PQ, and
  * both kinds are supported here: `kind = "ivf"` (IVF-Flat, exact
  * inside probed cells) and `kind = "ivfpq"` (PQ codes + ADC probe +
  * exact re-rank, optionally OPQ-rotated).
  *
  * `storage = "sq8" | "binary"` (kind "ivf") swaps the cells' float32
  * vector column for int8 codes / packed sign bits (4×/32× fewer serve
  * scan bytes — the dominant 100 TB cost; the [[GraftHnsw]] twin of the
  * same lever) and serving becomes TWO-STAGE: the cell scan ranks a
  * rerankFactor·k frontier on quantized arithmetic, then exact scores
  * come from the TABLE's float column via a bucket-pruned point lookup
  * — emitted scores are exact float arithmetic either way, and
  * nprobe = nlist with a corpus-covering rerankFactor stays EXACT
  * (quantization costs recall headroom at partial settings, never
  * score fidelity).
  *
  * Layout, under the table's own directory:
  * {{{
  *   table/_index/<name>/meta    kind, vecCol, keys, metric, nlist,
  *                               indexedVersion (the table snapshot the
  *                               index reflects)
  *   table/_index/<name>/model   coarse centroids (+ PQ codebooks and
  *                               the optional OPQ rotation), parquet
  *   table/_index/<name>/data    the IVF layout: FULL table rows
  *                               (+ pq_code for ivfpq), partitioned by
  *                               cluster_id
  * }}}
  *
  * The index stores full rows (Lance-style: table and index share a
  * layout), so probes return payload columns without a join back.
  *
  * Freshness is a recorded fact, not a hope: `meta.indexedVersion` pins
  * the table version the index reflects, and [[probe]] FAILS LOUDLY
  * when the table has moved past it (`allowStale = true` opts into
  * serving the indexed snapshot) — a silent stale index is the bug this
  * class exists to kill.
  *
  * The layout is MVCC, like the table itself. Data files are IMMUTABLE:
  * each [[refresh]] writes the rewritten cells into a fresh
  * uniquely-suffixed generation directory
  * (`data/g<K>-<token>/cluster_id=N/…`) and records a per-generation
  * manifest (`manifests/g<K>`: cell → files, carrying forward untouched
  * cells' existing files), then commits by atomically swapping `meta`
  * (generation + indexedVersion advance together or not at all). So:
  *  - a probe planned before a refresh lands keeps reading ITS
  *    generation's files — no torn cell, no FileNotFound mid-query;
  *  - a refresh that crashes anywhere before the meta swap is invisible
  *    (orphan generation dir, overwritten by the retry);
  *  - probes plan from the manifest's explicit file list — zero
  *    directory listing on the serving path (at nlist=4096 on an object
  *    store, that is thousands of LIST calls saved per probe).
  * Old generations are reclaimed by [[vacuum]] (run it with the same
  * single-maintainer discipline as refresh).
  *
  * [[refresh]] applies the table's own change feed
  * ([[GraftTable.changes]], upserts AND deletes) by COW cell rewrite:
  * only the cells holding changed keys' old rows or receiving new rows
  * are rewritten; emptied cells simply leave the manifest. Cost is
  * O(affected cells), the index twin of the table's O(touched buckets)
  * upserts. Re-applying a change batch is idempotent (replace-by-key).
  * Exactness after refresh is oracle-pinned by the
  * `graft_index_exhaustive` / `vs_sql_index_tvf` CORRECTNESS rows and
  * GraftIndexSpec.
  */
object GraftIndex extends AttachedIndex.Family {
  type M = IndexMeta
  val dir = "_index"
  val noun = "vector index"
  val defaultName = "vec"
  val sqlPrefix = "index"

  /** `gen`: the layout generation the index serves — the manifest
    * `manifests/g<gen>` is the authoritative file set. None only for
    * legacy (pre-MVCC) indexes, which self-upgrade on their next
    * refresh and serve by directory scan until then. `modelGen`: the
    * model generation (centroids/codebooks dir `model-g<K>`) — model
    * files are as immutable as data files, so [[rebuild]] can refit
    * under concurrent probes; None = the legacy single `model` dir.
    */
  final case class IndexMeta(name: String, kind: String, vecCol: String,
                             keyCols: Seq[String], metric: String, nlist: Int,
                             indexedVersion: Int, gen: Option[Int] = None,
                             modelGen: Option[Int] = None,
                             genToken: Option[String] = None,
                             storage: String = "float32") extends AttachedIndex.Meta {
    /** The manifest file this meta serves from: `g<gen>` for build /
      * legacy-upgrade generations, `g<gen>-<token>` for refresh/rebuild
      * attempts. Meta naming the attempt-unique manifest is what makes
      * the commit ONE self-consistent swap: a racing maintainer's meta
      * can no longer pair its version pin with the OTHER maintainer's
      * manifest, because each attempt's manifest has its own name.
      */
    def manifestName: Option[String] =
      gen.map(g => s"g$g" + genToken.fold("")("-" + _))
    def family: AttachedIndex.Family = GraftIndex
    def columns: Seq[String] = vecCol +: keyCols
    private[sources] def report = (kind, vecCol, metric, nlist)
    private[sources] def fields =
      Seq("kind" -> kind, "vecCol" -> vecCol, "keyCols" -> keyCols.mkString(","),
        "metric" -> metric, "nlist" -> nlist.toString,
        "indexedVersion" -> indexedVersion.toString) ++
        gen.map("gen" -> _.toString) ++ modelGen.map("modelGen" -> _.toString) ++
        genToken.map("genToken" -> _) ++
        (if (storage == "float32") None else Some("storage" -> storage))
  }

  protected def decode(name: String, kv: Map[String, String]): IndexMeta =
    IndexMeta(name, kv.getOrElse("kind", "ivf"), kv("vecCol"),
      kv("keyCols").split(",").toSeq, kv("metric"), kv("nlist").toInt,
      kv("indexedVersion").toInt, kv.get("gen").map(_.toInt),
      kv.get("modelGen").map(_.toInt), kv.get("genToken"),
      kv.getOrElse("storage", "float32")) // pre-quantization metas: float32

  protected def pinnedAt(m: IndexMeta, version: Int): IndexMeta = m.copy(indexedVersion = version)

  private[sources] def refreshUpTo(spark: SparkSession, tablePath: String, name: String,
                                   maxSegments: Int): Option[(Int, Int)] =
    refresh(spark, tablePath, name)

  private def dataPath(tablePath: String, name: String) = s"${root(tablePath, name)}/data"
  private def modelPath(tablePath: String, name: String, modelGen: Option[Int]) =
    s"${root(tablePath, name)}/${modelGen.fold("model")(g => s"model-g$g")}"
  private def manifestDir(tablePath: String, name: String) =
    new Path(root(tablePath, name), "manifests")
  private def manifestPath(tablePath: String, name: String, fileName: String) =
    new Path(manifestDir(tablePath, name), fileName)

  // ---- MVCC manifests: cell -> immutable data files ----------------------

  /** One `cell<TAB>relPath` line per data file, paths relative to
    * `data/` (`cluster_id=N/part…` for the build generation,
    * `g<K>-<token>/cluster_id=N/part…` for refresh generations), plus a
    * `#modelgen=<K>` header naming the model generation these cells
    * were assigned/encoded under — the liveness anchor [[vacuum]] keeps
    * model dirs by.
    */
  private def writeManifest(tablePath: String, name: String, fileName: String,
                            m: Map[Int, Seq[String]],
                            modelGen: Option[Int]): Unit =
    GraftTable.MetaIO.replaceString(manifestPath(tablePath, name, fileName),
      (modelGen.map(g => s"#modelgen=$g").toSeq ++
        m.toSeq.sortBy(_._1)
          .flatMap { case (cell, fs) => fs.sorted.map(f => s"$cell\t$f") })
        .mkString("\n"))

  private def readManifest(tablePath: String, name: String,
                           fileName: String): Map[Int, Seq[String]] =
    GraftTable.MetaIO.readString(manifestPath(tablePath, name, fileName))
      .split("\n").filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(c, f) = l.split("\t", 2); (c.toInt, f) }
      .groupBy(_._1).map { case (c, fs) => c -> fs.map(_._2).toSeq }

  private def manifestModelGen(tablePath: String, name: String,
                               fileName: String): Option[Int] =
    GraftTable.MetaIO.readString(manifestPath(tablePath, name, fileName))
      .split("\n").collectFirst { case l if l.startsWith("#modelgen=") =>
        l.stripPrefix("#modelgen=").toInt }

  /** The current cell → relative-file-paths map ([[vacuum]]'s unit of
    * liveness; for a legacy index this falls back to a listing).
    */
  def manifest(tablePath: String, name: String = "vec"): Map[Int, Seq[String]] = {
    val m = meta(tablePath, name)
    m.manifestName.fold(listGeneration(tablePath, name, ""))(readManifest(tablePath, name, _))
  }

  /** List one generation's `cluster_id=` dirs into manifest entries.
    * `prefix` = "" for the build generation (files directly under
    * `data/`), `"g<K>"` for a refresh generation.
    */
  private def listGeneration(tablePath: String, name: String,
                             prefix: String): Map[Int, Seq[String]] = {
    val dir = if (prefix.isEmpty) new Path(dataPath(tablePath, name))
              else new Path(dataPath(tablePath, name), prefix)
    GraftTable.MetaIO.list(dir)
      .filter(_.getPath.getName.startsWith("cluster_id="))
      .map { cd =>
        val cell = cd.getPath.getName.stripPrefix("cluster_id=").toInt
        val rels = GraftTable.MetaIO.list(cd.getPath).map(_.getPath.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith("."))
          .map(n => (if (prefix.isEmpty) "" else s"$prefix/") + s"${cd.getPath.getName}/$n")
        cell -> rels
      }
      .filter(_._2.nonEmpty).toMap
  }

  private def absFiles(tablePath: String, name: String,
                       m: Map[Int, Seq[String]]): Map[Int, Seq[String]] =
    m.map { case (c, rels) => c -> rels.map(r => s"${dataPath(tablePath, name)}/$r") }

  // ---- model persistence: (part, i, j, vec) rows -------------------------

  private def saveModel(spark: SparkSession, tablePath: String, name: String,
                        coarse: Array[Array[Float]],
                        codebooks: Option[Array[Array[Array[Float]]]],
                        rot: Option[Array[Array[Float]]],
                        modelGen: Option[Int]): Unit = {
    import spark.implicits._
    val rows: Seq[(String, Int, Int, Seq[Float])] =
      coarse.zipWithIndex.map { case (c, i) => ("coarse", i, 0, c.toSeq) }.toSeq ++
      codebooks.toSeq.flatMap(_.zipWithIndex.toSeq.flatMap { case (book, mi) =>
        book.zipWithIndex.toSeq.map { case (c, ci) => ("book", mi, ci, c.toSeq) } }) ++
      rot.toSeq.flatMap(_.zipWithIndex.toSeq.map { case (r, i) => ("rot", i, 0, r.toSeq) })
    rows.toDF("part", "i", "j", "vec").repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(modelPath(tablePath, name, modelGen))
  }

  /** Explicit layout schema: the table's manifest-recorded snapshot
    * schema (at the INDEXED version) + the layout's own columns, so
    * probes and refreshes resolve additively-evolved columns without a
    * whole-layout mergeSchema footer pass (older cell files pad the new
    * columns as null, like the table itself). None when the table
    * predates schema recording (or the indexed manifest was vacuumed —
    * the head manifest still exists for a fresh index, so only
    * allowStale probes can hit that) — plain inference then.
    */
  private def layoutSchema(tablePath: String, m: IndexMeta)
      : Option[org.apache.spark.sql.types.StructType] =
    scala.util.Try(GraftTable.snapshotSchema(tablePath, m.indexedVersion)).toOption
      .flatten.map { ts =>
        val extra =
          (if (m.kind == "ivfpq")
            Seq(org.apache.spark.sql.types.StructField("pq_code",
              org.apache.spark.sql.types.BinaryType))
          else Nil) ++
          IvfIndex.storageFields(m.storage) :+
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.IntegerType)
        // quantized cells REPLACE the float vector column with their
        // vq_* payload — the whole point is 4×/32× fewer scan bytes
        val base = if (m.storage == "float32") ts.fields
                   else ts.fields.filterNot(_.name == m.vecCol)
        org.apache.spark.sql.types.StructType(base ++ extra)
      }

  private def loadModel(spark: SparkSession, tablePath: String, m: IndexMeta,
                        files: Option[Map[Int, Seq[String]]])
      : Either[IvfIndex.Model, PqIndex.Model] = {
    val rows = spark.read.parquet(modelPath(tablePath, m.name, m.modelGen))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Float](3).toArray))
    val coarse = rows.filter(_._1 == "coarse").sortBy(_._2).map(_._4)
    val data = dataPath(tablePath, m.name)
    val sc = layoutSchema(tablePath, m)
    if (m.kind == "ivf") {
      val ivfRot = rows.filter(_._1 == "rot").sortBy(_._2).map(_._4)
      Left(IvfIndex.Model(data, coarse, m.metric, sc, files, m.storage,
        rot = if (ivfRot.isEmpty) None else Some(ivfRot)))
    }
    else {
      val books = rows.filter(_._1 == "book").groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (_, bs) => bs.sortBy(_._3).map(_._4) }.toArray
      val rotRows = rows.filter(_._1 == "rot").sortBy(_._2).map(_._4)
      val rot = if (rotRows.isEmpty) None else Some(rotRows)
      val dsub = books(0)(0).length
      Right(PqIndex.Model(data, coarse, books, books.length, dsub, m.metric, rot, sc, files))
    }
  }

  /** The serving snapshot: meta + model pinned to meta's generation.
    * The manifest is resolved HERE, once — everything planned from the
    * returned model keeps reading this generation's files even if a
    * refresh commits concurrently (it only adds files and swaps meta).
    */
  private def open(spark: SparkSession, tablePath: String, name: String)
      : (IndexMeta, Either[IvfIndex.Model, PqIndex.Model]) = {
    val m = meta(tablePath, name)
    val files = m.manifestName.map(n =>
      absFiles(tablePath, name, readManifest(tablePath, name, n)))
    (m, loadModel(spark, tablePath, m, files))
  }

  /** Build the index from the table's CURRENT snapshot and record that
    * version. `kind = "ivf"` (default) or `"ivfpq"` (`m` subspaces,
    * `opq` for the learned rotation). Rows with a null vector are not
    * indexed (they reappear if a later upsert fills the vector in).
    */
  def create(spark: SparkSession, tablePath: String, vecCol: String, nlist: Int,
             metric: String = "cosine", name: String = "vec",
             kind: String = "ivf", m: Int = 8, opq: Boolean = false,
             fitSampleFraction: Option[Double] = None,
             storage: String = "float32"): Unit = {
    require(kind == "ivf" || kind == "ivfpq", s"unknown index kind '$kind'")
    require(IvfIndex.storages.contains(storage),
      s"unknown index storage '$storage' (one of ${IvfIndex.storages.mkString(", ")})")
    // ivfpq's cells are ALREADY the quantized scan path (ADC over
    // pq_code reads only the code column; the float column is touched
    // solely by the bounded rerank) — layering a second quantization
    // under it would be two lossy codecs pretending to be one
    require(kind == "ivf" || storage == "float32",
      s"storage '$storage' applies to kind = 'ivf' only; ivfpq already scans PQ codes")
    val v = pinForCreate(tablePath, name)
    val keys = GraftTable.keyColumns(tablePath)
    val snap = GraftTable.read(spark, tablePath, v).filter(col(vecCol).isNotNull)
    if (kind == "ivf") {
      val model = IvfIndex.build(snap, vecCol, nlist, dataPath(tablePath, name),
        metric, fitSampleFraction = fitSampleFraction, persistModel = false,
        storage = storage)
      saveModel(spark, tablePath, name, model.centroids, None, model.rot, Some(0))
    } else {
      val model = PqIndex.build(snap, keys.head, vecCol, nlist, m,
        dataPath(tablePath, name), metric, opq = opq, persistModel = false)
      saveModel(spark, tablePath, name, model.coarse, Some(model.codebooks), model.rot, Some(0))
    }
    // generation 0 = the build's own files; meta lands LAST (commit point)
    writeManifest(tablePath, name, "g0", listGeneration(tablePath, name, ""), Some(0))
    commit(tablePath,
      IndexMeta(name, kind, vecCol, keys, metric, nlist, v, Some(0), Some(0),
        storage = storage))
  }

  /** Full refit + relayout as ONE new generation — the drift answer the
    * append discipline defers to (refresh reuses the build's
    * centroids/codebooks; after enough distribution drift, recall at a
    * given nprobe decays and only a refit recovers it). The new model
    * lands in its own immutable `model-g<K>` dir and the new layout in
    * its own generation dir, so concurrent probes keep serving the old
    * (model, manifest) pair untorn; the meta swap flips both together.
    * Also catches the index up to the table head (a rebuild IS a
    * refresh from scratch). `nlist`/`m`/`opq` default to the index's
    * current settings; pass them to re-tune for the grown corpus.
    * Old model dirs are reclaimed by [[vacuum]] once no kept manifest's
    * `#modelgen` references them.
    */
  def rebuild(spark: SparkSession, tablePath: String, name: String = "vec",
              nlist: Option[Int] = None, m: Option[Int] = None,
              opq: Option[Boolean] = None,
              fitSampleFraction: Option[Double] = None): Unit = {
    val meta0 = meta(tablePath, name)
    val head = GraftTable.latestVersion(tablePath)
    val newModelGen = meta0.modelGen.getOrElse(-1) + 1
    val newGen = meta0.gen.getOrElse(-1) + 1
    val token = AttachedIndex.token()
    val genDir = s"g$newGen-$token"
    val layout = s"${dataPath(tablePath, name)}/$genDir"
    val newNlist = nlist.getOrElse(meta0.nlist)
    val snap = GraftTable.read(spark, tablePath, head).filter(col(meta0.vecCol).isNotNull)
    if (meta0.kind == "ivf") {
      val model = IvfIndex.build(snap, meta0.vecCol, newNlist, layout,
        meta0.metric, fitSampleFraction = fitSampleFraction, persistModel = false,
        storage = meta0.storage)
      saveModel(spark, tablePath, name, model.centroids, None, model.rot, Some(newModelGen))
    } else {
      // defaults for the PQ shape come from the CURRENT model
      val cur = loadModel(spark, tablePath, meta0, None).toOption.get
      val model = PqIndex.build(snap, meta0.keyCols.head, meta0.vecCol, newNlist,
        m.getOrElse(cur.m), layout, meta0.metric, opq = opq.getOrElse(cur.rot.isDefined),
        persistModel = false)
      saveModel(spark, tablePath, name, model.coarse, Some(model.codebooks), model.rot,
        Some(newModelGen))
    }
    writeManifest(tablePath, name, genDir, listGeneration(tablePath, name, genDir),
      Some(newModelGen))
    // THE commit point: layout generation, model generation, and
    // version pin flip together — and meta names THIS attempt's
    // manifest, so a racing maintainer can't mix-and-match
    commit(tablePath, meta0.copy(nlist = newNlist, indexedVersion = head,
      gen = Some(newGen), modelGen = Some(newModelGen), genToken = Some(token)))
  }

  /** Catch the index up to the table head by COW cell rewrite. Returns
    * the (fromVersion, toVersion] range applied, or None when already
    * fresh. Affected cells = cells holding changed keys' OLD vectors
    * (recomputed from the previously indexed snapshot — still readable,
    * COW never mutates it) ∪ cells the NEW vectors land in; only those
    * cells are rewritten — into a FRESH generation dir, never in place.
    * The write target is disjoint from the read set, so no
    * materialization barrier is needed, concurrent probes keep serving
    * the old generation untorn, and a crash anywhere before the final
    * meta swap leaves the committed state untouched (the retry writes
    * a new attempt-named generation; the orphan is [[vacuum]] garbage).
    * For ivfpq, additions are PQ-encoded with the EXISTING codebooks
    * (the append discipline: no refit; periodic rebuild handles
    * distribution drift).
    *
    * Run ONE refresher per index (the [[ChangeFeed]] one-cursor-per-
    * consumer discipline): refresh is idempotent against crashes and
    * replays. Two CONCURRENT refreshers do not corrupt the index
    * either: each attempt writes its own uniquely-suffixed generation
    * dir AND its own attempt-named manifest (`g<gen>-<token>`), and the
    * meta swap — an atomic rename of an attempt-private temp file
    * ([[GraftTable.MetaIO.replaceString]]) — names that manifest, so
    * whichever swap lands last commits its own self-consistent (version
    * pin, manifest, files) triple. Its pin may be the older of the two;
    * the next refresh folds the gap. The loser's generation is orphan
    * garbage for [[vacuum]]. The single-refresher discipline remains the
    * efficient mode (racing refreshers duplicate work).
    * [[streamRefresh]] gives the single-refresher loop a lifecycle.
    */
  def refresh(spark: SparkSession, tablePath: String,
              name: String = "vec"): Option[(Int, Int)] =
    refreshWith(spark, tablePath, name) { (m, head, batch) =>
      // a legacy (pre-MVCC) index serves its build generation unlisted
      val curManifest = m.manifestName.fold(listGeneration(tablePath, name, ""))(
        readManifest(tablePath, name, _))
      val curFiles = absFiles(tablePath, name, curManifest)
      val model = loadModel(spark, tablePath, m, Some(curFiles))
      val cell = model.fold(IvfIndex.cellUdf(spark, _), PqIndex.cellUdf(spark, _))
      val data = dataPath(tablePath, name)
      val changedKeys = batch.select(m.keyCols.map(col): _*).distinct()
      val oldCells = GraftTable.read(spark, tablePath, m.indexedVersion)
        .join(changedKeys, m.keyCols, "left_semi")
        .filter(col(m.vecCol).isNotNull)
        .select(cell(col(m.vecCol)).as("c")).distinct().collect().map(_.getInt(0))
      val newRows = batch.filter(!col("_deleted")).drop("_deleted")
        .filter(col(m.vecCol).isNotNull)
      val additions = model.fold(
        // quantized layouts: additions swap the float column for the
        // same vq_* payload the build wrote (no-op for float32;
        // rabitq re-derives residual signs against the SAME centroids
        // and rotation the build used — model-aware by construction)
        ivf => IvfIndex.quantizeLayoutModel(ivf,
          newRows.withColumn("cluster_id", cell(col(m.vecCol))), m.vecCol),
        pq => PqIndex.encodeBatch(pq, newRows, m.vecCol))
      val newCells = additions.select("cluster_id").distinct().collect().map(_.getInt(0))
      val affected = (oldCells ++ newCells).distinct.toSeq
      // nothing indexed changed (e.g. all changed rows have null
      // vectors): None — the version pin advances, the generation (or
      // a legacy index's unlisted layout) stays
      if (affected.isEmpty) None
      else {
        // a legacy index adopts its current layout as generation 0
        if (m.gen.isEmpty)
          writeManifest(tablePath, name, "g0", curManifest, m.modelGen)
        val newGen = m.gen.getOrElse(0) + 1
        // unique attempt suffix, like the table's data dirs: a crashed
        // attempt's dir is never half-reused, and racing refreshers
        // never write into each other's dirs
        val token = AttachedIndex.token()
        val genDir = s"g$newGen-$token"
        // scan with the CURRENT (head) snapshot schema so the rewrite
        // pads evolved columns for kept rows instead of dropping them
        val headSchema = layoutSchema(tablePath, m.copy(indexedVersion = head))
        val kept =
          if (curManifest.isEmpty) additions.limit(0) // emptied layout: rebuild from additions
          else IvfIndex.scanLayout(spark, headSchema, Some(curFiles), data)
            .filter(col("cluster_id").isin(affected: _*)) // file-index-pruned
            .join(changedKeys, m.keyCols, "left_anti")
        // allowMissingColumns: additive table evolution — older index
        // rows read the new columns as null, like the table itself
        kept.unionByName(additions, allowMissingColumns = true)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("cluster_id").parquet(s"$data/$genDir")
        // a cell whose rows were all deleted writes no partition dir and
        // simply leaves the manifest; untouched cells carry their files over
        val rewritten = listGeneration(tablePath, name, genDir)
        val affectedSet = affected.toSet
        writeManifest(tablePath, name, genDir,
          curManifest.view.filterKeys(!affectedSet(_)).toMap ++ rewritten, m.modelGen)
        // the commit names THIS attempt's manifest file (g<gen>-<token>),
        // so a racing refresher's swap commits ITS OWN self-consistent
        // (version, manifest) pair — never a mix of the two attempts
        Some(m.copy(indexedVersion = head, gen = Some(newGen), genToken = Some(token)))
      }
    }

  /** Metadata-only count of the IVF family's reclaimable layout debt:
    * manifest files other than the one meta serves (older committed
    * generations plus losing-racer / crashed-attempt manifests) and
    * never-committed orphan generation dirs past the current one —
    * i.e. what [[vacuum]](keepGens = 1) would act on, counted WITHOUT
    * touching any data file (two directory listings). The structural-
    * debt probe `CALL graft.maintain` reports alongside its text-
    * segment and HNSW-tombstone checks. Legacy (pre-MVCC) indexes
    * report 0 — nothing is manifest-tracked to reclaim.
    */
  def staleGenerations(tablePath: String, name: String = "vec"): Int = {
    val m = meta(tablePath, name)
    m.manifestName.fold(0) { cur =>
      val manifests = GraftTable.MetaIO.list(manifestDir(tablePath, name))
        .map(_.getPath.getName)
        .count(n => n.matches("g\\d+(-[0-9a-f]+)?") && n != cur)
      val curGen = m.gen.get
      val orphans = GraftTable.MetaIO.list(new Path(dataPath(tablePath, name)))
        .count(s => s.isDirectory &&
          s.getPath.getName.matches("g\\d+(-[0-9a-f]+)?") &&
          s.getPath.getName.drop(1).takeWhile(_.isDigit).toInt > curGen)
      manifests + orphans
    }
  }

  /** Reclaim unreferenced layout files: keep the manifests of the
    * newest `keepGens` committed generations (always including the
    * current one — pinned probes planned against kept generations stay
    * servable), delete every data file no kept manifest references,
    * drop emptied cell/generation dirs, orphan (uncommitted) generation
    * dirs, and dropped manifests. Returns the number of data files
    * deleted. Same single-maintainer discipline as [[refresh]]: do not
    * vacuum while a refresh is in flight.
    */
  def vacuum(tablePath: String, name: String = "vec", keepGens: Int = 1): Int = {
    require(keepGens >= 1, "keepGens must be >= 1")
    val m = meta(tablePath, name)
    val cur = m.gen.getOrElse(return 0) // legacy layout: nothing manifest-tracked
    val curName = m.manifestName.get
    val all = GraftTable.MetaIO.list(manifestDir(tablePath, name))
      .map(_.getPath.getName).filter(_.matches("g\\d+(-[0-9a-f]+)?"))
    def genOf(n: String) = n.drop(1).takeWhile(_.isDigit).toInt
    val keepGenNums =
      (all.map(genOf).distinct.sorted.filter(_ <= cur).takeRight(keepGens) :+ cur).toSet
    // for the CURRENT generation only the meta-referenced manifest is
    // live (a same-gen manifest with another token is a losing racer's
    // orphan); for kept OLDER generations every token is kept — which
    // attempt was committed then is no longer knowable, and pinned
    // readers may still serve either
    val keep = all.filter(n =>
      keepGenNums(genOf(n)) && (genOf(n) != cur || n == curName)).toSet + curName
    val referenced = keep.filter(n => GraftTable.MetaIO.exists(manifestPath(tablePath, name, n)))
      .flatMap(n => readManifest(tablePath, name, n).values.flatten)
    val data = new Path(dataPath(tablePath, name))
    var deleted = 0
    def sweep(prefix: String, dir: Path): Unit = {
      GraftTable.MetaIO.list(dir)
        .filter(_.getPath.getName.startsWith("cluster_id=")).foreach { cd =>
          GraftTable.MetaIO.list(cd.getPath).foreach { f =>
            val n = f.getPath.getName
            val rel = (if (prefix.isEmpty) "" else s"$prefix/") + s"${cd.getPath.getName}/$n"
            if (!n.startsWith("_") && !n.startsWith(".") && !referenced.contains(rel)) {
              GraftTable.MetaIO.delete(f.getPath); deleted += 1
            }
          }
          if (GraftTable.MetaIO.list(cd.getPath)
              .forall(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")))
            GraftTable.MetaIO.delete(cd.getPath)
        }
    }
    sweep("", data)
    GraftTable.MetaIO.list(data)
      .filter(s => s.isDirectory && s.getPath.getName.matches("g\\d+(-[0-9a-f]+)?"))
      .foreach { gd =>
        val g = gd.getPath.getName.drop(1).takeWhile(_.isDigit).toInt
        if (g > cur) { // crashed, never-committed refresh attempt
          deleted += GraftTable.MetaIO.list(gd.getPath)
            .filter(_.getPath.getName.startsWith("cluster_id="))
            .map(cd => GraftTable.MetaIO.list(cd.getPath)
              .count(s => !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))).sum
          GraftTable.MetaIO.delete(gd.getPath)
        } else {
          sweep(gd.getPath.getName, gd.getPath)
          if (GraftTable.MetaIO.list(gd.getPath)
              .forall(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")))
            GraftTable.MetaIO.delete(gd.getPath)
        }
      }
    // model dirs live while a kept manifest's #modelgen (or meta) names
    // them; the legacy un-numbered `model` dir is never touched
    val liveModels = keep
      .filter(n => GraftTable.MetaIO.exists(manifestPath(tablePath, name, n)))
      .flatMap(manifestModelGen(tablePath, name, _)) ++ m.modelGen
    GraftTable.MetaIO.list(new Path(root(tablePath, name)))
      .map(_.getPath.getName).filter(_.matches("model-g\\d+")).foreach { n =>
        if (!liveModels.contains(n.stripPrefix("model-g").toInt))
          GraftTable.MetaIO.delete(new Path(root(tablePath, name), n))
      }
    all.filterNot(keep).foreach(n => GraftTable.MetaIO.delete(manifestPath(tablePath, name, n)))
    deleted
  }

  /** The float vectors of a serving-sized distinct key set (all key
    * columns) at the pinned version — the exact-rerank substrate for
    * quantized layouts (the [[GraftHnsw]] shape), by the bucket-pruned
    * point lookup; returns keyCols + the float vector column.
    */
  private def exactVectors(spark: SparkSession, tablePath: String, m: IndexMeta,
                           keys: DataFrame): DataFrame =
    AttachedIndex.lookup(spark, tablePath, m.indexedVersion, m.keyCols, keys)
      .select(m.keyCols.map(col) :+ col(m.vecCol): _*)

  /** Top-k against the table-attached index (ivf: exact inside probed
    * cells; ivfpq: ADC + exact re-rank of `rerankFactor`·k survivors —
    * nprobe = nlist with a corpus-covering rerankFactor ⇒ exact, full
    * stop). Fails loudly when the index lags the table unless
    * `allowStale` — see class docs. `pred` is pushed into the pruned
    * scan like [[IvfIndex.probe]]/[[PqIndex.probe]] — EXCEPT when it
    * matches ≤ `bruteForceCap` rows of the pinned snapshot (measured,
    * one count on the pruned scan): then the probe brute-forces the
    * filtered subset EXACTLY instead of consulting the index at all —
    * the same Lucene selective-filter fallback [[GraftHnsw]] applies.
    * Why: at partial nprobe a very selective pred can leave fewer than
    * k matches inside the probed cells and the top-k silently
    * UNDER-FILLS; the brute leg costs one predicate-pruned scan of a
    * subset this small and returns exact, full results.
    */
  def probe(spark: SparkSession, tablePath: String, query: Seq[Float], k: Int,
            nprobe: Int, name: String = "vec", pred: Option[Column] = None,
            allowStale: Boolean = false, rerankFactor: Int = 4,
            bruteForceCap: Int = 10000): DataFrame = {
    val (m, model) = open(spark, tablePath, name)
    requireFresh(tablePath, m, allowStale)
    pred.foreach { p =>
      val matched = AttachedIndex.matching(spark, tablePath, m.indexedVersion, p, m.vecCol)
      // metadata-first leg selection (two regimes: brute vs pushed scan,
      // so acceptCap = bruteForceCap) — see GraftTable.metadataMatchCount
      val nMatched = GraftTable.metadataMatchCount(spark, tablePath,
        m.indexedVersion, p, Seq(m.vecCol), bruteForceCap, bruteForceCap)(
        matched.count())
      if (nMatched <= bruteForceCap)
        return AttachedIndex.bruteForceTopK(tablePath, m.indexedVersion, matched,
          m.vecCol, m.keyCols.head, m.metric, query, k)
    }
    // an index over an EMPTY table (every cell dropped) is valid state:
    // zero rows, shaped like any other probe (table columns minus the
    // vector, plus score) — not a parquet schema-inference crash
    val layoutPath = model.fold(_.path, _.path)
    val layoutEmpty = model.fold(_.files, _.files) match {
      case Some(fm) => fm.isEmpty // manifest is authoritative, no listing
      case None => !GraftTable.MetaIO.list(new Path(layoutPath))
        .exists(_.getPath.getName.startsWith("cluster_id="))
    }
    if (layoutEmpty)
      return GraftTable.read(spark, tablePath, m.indexedVersion).limit(0)
        .withColumn("score", lit(0.0)).drop(m.vecCol)
    val out = model.fold(
      ivf =>
        if (m.storage == "float32")
          IvfIndex.probe(spark, ivf, m.keyCols.head, m.vecCol, query, k, nprobe, pred)
        else {
          // QUANTIZED layout, two-stage (the 7d/7g rerank shape on the
          // stored index): the cell scan ranks a rerankFactor·k
          // frontier on 1-byte/dim (sq8) or 1-bit/dim (binary)
          // candidates — the 100 TB scan-bytes lever — then exact
          // scores come from the TABLE's float column via the
          // bucket-pruned point lookup, so emitted scores are exact
          // float arithmetic either way. Corpus-covering rerankFactor
          // with nprobe = nlist ⇒ exact, full stop (the oracle row).
          // localCheckpoint: the frontier is serving-sized and feeds
          // BOTH the bucket-set computation and the rerank join
          val front = IvfIndex.quantizedCandidates(spark, ivf, m.keyCols.head,
            query, AttachedIndex.frontierSize(k, rerankFactor), nprobe, pred).localCheckpoint()
          if (front.isEmpty)
            GraftTable.read(spark, tablePath, m.indexedVersion).limit(0)
              .withColumn("score", lit(0.0))
          else {
            val vecs = exactVectors(spark, tablePath, m,
              front.select(m.keyCols.map(col): _*).distinct())
            val ord = if (m.metric == "l2") asc("score") else desc("score")
            front.join(broadcast(vecs), m.keyCols)
              .withColumn("score", graft.operators.VectorSearch.scoreCol(
                col(m.vecCol), typedlit(query), m.metric))
              .orderBy(ord, asc(m.keyCols.head)).limit(k)
          }
        },
      pq => PqIndex.probe(spark, pq, m.keyCols.head, m.vecCol, query, k, nprobe,
        rerankFactor, pred))
    // ONE canonical probe schema regardless of kind or layout state:
    // table columns (snapshot order) minus the vector, score last —
    // never the layout internals (cluster_id, pq_code, vq_*, __qscore).
    // Projected explicitly so no per-kind drop list can drift. For
    // quantized layouts the schema lacks the vector column already; the
    // rerank join's vecCol and proxy columns die here too.
    val internal = Set("cluster_id", "pq_code", "vq_code", "vq_scale", "vq_bits",
      "vq_norm", "vq_align", "vq_vnorm", "__qscore")
    val canonical = model.fold(_.schema, _.schema) match {
      case Some(sc) => sc.fieldNames.toSeq
        .filterNot(c => c == m.vecCol || internal(c)) :+ "score"
      case None => out.columns.toSeq
        .filterNot(c => c == m.vecCol || internal(c) || c == "score") :+ "score"
    }
    out.select(canonical.map(col): _*)
  }

  /** DIVERSIFIED top-k through the table-attached index — MMR as a
    * SERVING mode, not a corpus-scan exhibit (the r12 gap: §2 row 7h's
    * `VectorSearch.mmrTopK` never reached the index tier, and a
    * production retrieval stack diversifies the INDEX-SERVED candidate
    * slice, the reference's serving model). Two stages:
    *  1. the existing [[probe]] widened to `candidates` rows — ALL of
    *     probe's machinery applies unchanged (freshness check, pred
    *     legs incl. the metadata-first brute/pushed selection, quantized
    *     two-stage rerank), and this is where the 100 TB cost lives;
    *  2. the [[graft.operators.VectorSearch.mmrSelect]] greedy over
    *     that serving-sized slice, its float vectors fetched by ONE
    *     bucket-pruned point lookup (candidates keys → ≤ candidates
    *     bucket reads, never a table scan). The greedy is inherently
    *     sequential (each pick depends on all previous), so driver-side
    *     over ≤ `candidates` rows is the correct placement.
    * Output: `rank` (pick order, 1-based) + the canonical probe shape
    * (`score` = the relevance score) + `mmr_score`. λ=1 degenerates to
    * the plain probe's (score desc, key asc) order — spec-pinned.
    * Cosine/dot only (MMR's diversity term needs a similarity; the
    * [[graft.operators.VectorSearch.mmrTopK]] refusal). SQL surface:
    * the `graft_index_mmr` TVF.
    */
  def probeMmr(spark: SparkSession, tablePath: String, query: Seq[Float], k: Int,
               nprobe: Int, lambda: Double, candidates: Int, name: String = "vec",
               pred: Option[Column] = None, allowStale: Boolean = false,
               rerankFactor: Int = 4, bruteForceCap: Int = 10000): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need 1 <= k <= candidates, got k=$k, candidates=$candidates")
    val m = meta(tablePath, name)
    // localCheckpoint: the slice is serving-sized and feeds the vector
    // lookup, the greedy collect, AND the final rank join
    val cand = probe(spark, tablePath, query, candidates, nprobe, name, pred,
      allowStale, rerankFactor, bruteForceCap).localCheckpoint()
    val vecs = exactVectors(spark, tablePath, m,
      cand.select(m.keyCols.map(col): _*).distinct())
    graft.operators.VectorSearch.mmrOverCandidates(
      cand, m.keyCols, vecs, m.vecCol, k, lambda, m.metric)
  }

  /** Batched ANN k-NN join THROUGH the table-attached index: every
    * query row gets its approximate top-k table neighbors, reading only
    * the union of the queries' nprobe cells from the pinned manifest —
    * [[IvfIndex.knnJoin]] with the index's freshness contract. Works
    * for BOTH kinds: the layout stores full rows, so candidates are
    * scored on their true vectors (for ivfpq the PQ codes are simply
    * not consulted — this is the exact-scoring batch path, not ADC).
    * An OPQ-rotated index ranks coarse cells correctly by de-rotating
    * the centroids into the original vector space (R is orthonormal:
    * dist(qR, c) = dist(q, cRᵀ)), so partial-nprobe recall matches the
    * plain-PQ geometry. nprobe = nlist ⇒ exact per query.
    *
    * `pred` turns the join into a FILTERED batch search — the
    * [[probe]] pred discipline on the batch shape, with the measured
    * match count picking the strategy (never guessed): ≤ bruteForceCap
    * matches ⇒ EXACT brute force — the filtered subset broadcasts once
    * and every (query, match) pair is scored (at partial nprobe a very
    * selective pred can leave fewer than k matches inside the probed
    * cells and the per-query top-k silently UNDER-FILLS — the
    * anti-pattern the brute leg exists to kill); above the cap the
    * pred pushes INTO the pruned cell scans, where per-query fill
    * tracks the filter's pass rate within probed cells — high exactly
    * when this leg engages.
    */
  def knnJoin(spark: SparkSession, tablePath: String, queries: Seq[(Long, Seq[Float])],
              k: Int, nprobe: Int, name: String = "vec",
              allowStale: Boolean = false, rerankFactor: Int = 4,
              pred: Option[org.apache.spark.sql.Column] = None,
              bruteForceCap: Int = 10000): DataFrame = {
    val (m, model) = open(spark, tablePath, name)
    requireFresh(tablePath, m, allowStale)
    val ivf = model.fold(identity, pq => IvfIndex.Model(pq.path,
      pq.rot.fold(pq.coarse)(r => pq.coarse.map(derotate(_, r))),
      pq.metric, pq.schema, pq.files))
    def emptyOut = GraftTable.read(spark, tablePath, m.indexedVersion).limit(0)
      .select(lit(0L).as("qid") +: m.keyCols.map(col) :+ lit(0.0).as("score"): _*)
    if (ivf.files.exists(_.isEmpty)) return emptyOut
    pred.foreach { p =>
      require(rerankFactor >= 1, s"need rerankFactor >= 1, got $rerankFactor")
      val matched = AttachedIndex.matching(spark, tablePath, m.indexedVersion, p, m.vecCol)
      // metadata-first leg selection (two regimes: brute vs pushed scan,
      // so acceptCap = bruteForceCap) — see GraftTable.metadataMatchCount
      val n = GraftTable.metadataMatchCount(spark, tablePath,
        m.indexedVersion, p, Seq(m.vecCol), bruteForceCap, bruteForceCap)(
        matched.count())
      if (n == 0) return emptyOut
      if (n <= bruteForceCap)
        return AttachedIndex.bruteForceKnn(spark, queries, matched, m.keyCols,
          m.vecCol, m.metric, k)
      // loose pred: fall through — the pred pushes into the cell scans
      // below (both the float32 and quantized candidate stages take it)
    }
    if (m.storage == "float32")
      IvfIndex.knnJoinKeys(spark, ivf, m.keyCols, m.vecCol, queries, k, nprobe, pred)
    else {
      // quantized layout: widen each query's candidate cut, then
      // exact-score every surviving (qid, key) pair from the table's
      // float column before the bounded-heap per-query cut — ONE
      // bucket-pruned lookup serves all queries' candidates (the pair
      // set is ≤ |Q|·rerankFactor·k rows, serving-sized). The
      // [[GraftHnsw.knnJoin]] shape on IVF cells. Composite keys ride
      // the cuts as one struct (the keyStruct/expandKey convention).
      import spark.implicits._
      val cands = IvfIndex.quantizedKnnCandidatesKeys(spark, ivf, m.keyCols, queries,
          AttachedIndex.frontierSize(k, rerankFactor), nprobe, pred)
        .localCheckpoint()
      if (cands.isEmpty) return emptyOut
      val vecs = exactVectors(spark, tablePath, m,
        cands.select(m.keyCols.map(col): _*).distinct())
      val qdf = queries.toDF("qid", "__qvec")
      val scored = vecs
        .join(broadcast(cands.select(col("qid") +: m.keyCols.map(col): _*)
          .join(qdf, "qid")), m.keyCols)
        .withColumn("score", graft.operators.VectorSearch.scoreCol(
          col(m.vecCol), col("__qvec"), m.metric))
        .select(col("qid"), IvfIndex.keyStruct(m.keyCols), col("score"))
      IvfIndex.expandKey(graft.operators.VectorSearch.perQueryTopK(
        scored, "qid", IvfIndex.keyName(m.keyCols), k, m.metric), m.keyCols)
    }
  }

  /** v·Rᵀ for a row-vector rotation R — maps a rotated-space point back
    * to the original space.
    */
  private def derotate(v: Array[Float], r: Array[Array[Float]]): Array[Float] = {
    val d = v.length
    val out = new Array[Float](d)
    var j = 0
    while (j < d) {
      var s = 0.0; var i = 0
      while (i < d) { s += v(i).toDouble * r(j)(i).toDouble; i += 1 }
      out(j) = s.toFloat
      j += 1
    }
    out
  }
}
