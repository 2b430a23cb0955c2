package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.VectorSearch
import graft.sources.{GraftHnsw, GraftIndex, GraftTable}

/** Sizes of one workload. perfbench/README.md and BENCHMARK.json quote
  * them; change them together.
  */
final case class Sizes(rows: Int, centers: Int, spread: Double, setups: Int,
                       nlist: Int = 0, nprobe: Int = 0, hnswM: Int = 0, efConstruction: Int = 0,
                       ef: Int = 0, segments: Int = 0, batch: Int = 0, maxSegments: Int = 0,
                       bruteForceCap: Int = 0, dims: Int = 384, k: Int = 10, pool: Int = 200)

object Sizes {
  val exact = Sizes(rows = 20000, centers = 256, spread = 0.06, setups = 2)
  // bruteForceCap is scaled with the table (graft's default is 10,000) so
  // that one filtered probe takes the brute-force leg and one the index leg
  val ann = Sizes(rows = 5000, centers = 500, spread = 0.08, setups = 1, nlist = 16, nprobe = 4,
    hnswM = 12, efConstruction = 40, ef = 16, segments = 4, batch = 500, maxSegments = 4,
    bruteForceCap = 1000)
}

/** One timed request. `kind` names the request type of the workload. */
final case class Sample(kind: String, ms: Double, traced: Boolean, req: Int, gcMs: Long)

object Sample {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** The graft benchmark: seeded inputs, one closed-loop client, every
  * output checked against the benchmark's own model.
  *
  * Usage: Main --workload exact|ann --seed N --seconds S --trace 0|1 --work DIR
  * Prints a report object, then, as the last line, the result object.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val sizes = opts.get("workload").collect { case "exact" => Sizes.exact; case "ann" => Sizes.ann }
      .getOrElse(throw new IllegalArgumentException("--workload must be exact or ann"))
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val run = new Run(spark, opts("workload"), sizes, opts("seed").toLong, opts("seconds").toDouble,
        opts.getOrElse("trace", "0") == "1", work)
      val (report, result) = run.execute()
      println(report)
      println(result)
    } finally spark.stop()
  }
}

final class Run(spark: SparkSession, workload: String, sz: Sizes, seed: Long, seconds: Double,
                trace: Boolean, work: File) {
  private val gen = new Generator(seed, sz.dims, sz.centers, sz.spread)
  private val tracer = new Tracer(spark)
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.LinkedHashMap.empty[String, Int]
  private var reqId = 0
  private val recalls = mutable.ArrayBuffer.empty[(String, Double)]

  private val schema = StructType(Seq(
    StructField("job_id", LongType, nullable = false),
    StructField("company", StringType),
    StructField("title", StringType),
    StructField("location", StringType),
    StructField("posted_day", IntegerType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def frame(rows: Seq[Posting]): DataFrame =
    spark.createDataFrame(rows.map(Run.row(gen, _)).asJava, schema)

  /** Rows 0 until n at revision 0, generated by Spark tasks: each row is a
    * pure function of (seed, id), so this equals the driver's model.
    */
  private def initialFrame(n: Int): DataFrame = {
    val g = gen
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(ids => ids.map(id => Run.row(g, g.posting(id, 0))))(Encoders.row(schema))
  }

  /** Times `body` (the graft calls and the collect), then checks its
    * output outside the timed interval. A thrown error or a failed check
    * is a failed operation. Returns the check's recall, if it passed.
    */
  private def request[T](kind: String, record: Boolean)(body: => T)
                        (check: T => Either[String, Double]): Option[Double] = {
    attempted += 1
    spark.catalog.clearCache()
    reqId += 1
    val gc0 = Sample.gcMs()
    val t0 = System.nanoTime()
    val out = try Right(tracer.request(reqId)(body)) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = out match {
      case Left(e) => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      case Right(v) => try check(v) catch { case e: Exception => Left(s"check threw $e") }
    }
    verdict.left.foreach { why =>
      failed += 1
      failures(s"$kind: $why") = failures.getOrElse(s"$kind: $why", 0) + 1
    }
    if (record && verdict.isRight)
      samples += Sample(kind, ms, tracer.on, reqId, Sample.gcMs() - gc0)
    // recall counts every checked search of the mix, warm-up included
    if (mix.exists(_._1 == kind) && kind != "analytics") verdict.foreach(r => recalls += kind -> r)
    verdict.toOption
  }

  /** (job_id, score) best first: a DataFrame result carries no row order,
    * so the checks rank it themselves.
    */
  private def topRows(rows: Array[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getAs[Long]("job_id"), r.getAs[Double]("score"))).toSeq
      .sortBy { case (id, s) => (-s, id) }

  private def collect(name: String)(df: => DataFrame): Array[Row] =
    tracer.span(name)(df.collect())

  // ---- set-up --------------------------------------------------------------

  private val model = new Model(gen)
  private var path: String = _
  private val setupSecs = mutable.ArrayBuffer.empty[Double]
  private val timedOps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var batchBytes = 0.0
  private var vacuumDeleted = 0

  /** A timed set-up step; a traced run traces the graft calls among them. */
  private def timedOp[T](name: String, traced: Boolean = true)(body: => T): T = {
    tracer.on = trace && traced
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally {
      tracer.on = false
      val secs = (System.nanoTime() - t0) / 1e9
      timedOps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs
      System.err.println(f"$name%s: $secs%.2f s")
    }
  }

  /** One full set-up: table create, for `ann` the index builds, then one
    * warm-up round of the mix. The first set-up also pays process and
    * Spark start-up, less the time spent generating the inputs.
    */
  private def setupOnce(i: Int, input: DataFrame, inputSecs: Double): Unit = {
    val t0 = if (i > 0) System.nanoTime()
      else System.nanoTime() - (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L + (inputSecs * 1e9).toLong
    path = new File(work, s"table-$i").getPath
    timedOp("table.create")(GraftTable.create(input, path, Seq("job_id")))
    if (workload == "ann") {
      timedOp("ivf.create")(GraftIndex.create(spark, path, "embedding", sz.nlist))
      timedOp("hnsw.create")(GraftHnsw.create(spark, path, "embedding", m = sz.hnswM,
        efConstruction = sz.efConstruction, nSegments = sz.segments))
    }
    timedOp("warmup", traced = false)(mix.foreach { case (_, f) => f(gen.query(warmQueries.next()), false) })
    setupSecs += (System.nanoTime() - t0) / 1e9
  }

  /** The traced `ann` run's write path, after the measured loop: upserts
    * a batch (80 % new keys, 20 % updates of random existing keys),
    * refreshes both indexes, checks that each returns a just-written row
    * as top-1 for its own vector and that the row count matches the
    * model, then vacuums the table and both indexes. Untraced runs skip
    * it: one cycle costs more than the whole measured loop.
    */
  private def writeCycle(): Unit = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val fresh = sz.batch * 4 / 5
    val updates = mutable.LinkedHashSet.empty[Long]
    while (updates.size < sz.batch - fresh) updates += r.nextLong(sz.rows.toLong)
    val batch = ((sz.rows.toLong until sz.rows.toLong + fresh) ++ updates).map(gen.posting(_, 1))
    batchBytes = Model.logicalBytes(gen, batch)
    request("upsert", record = false) {
      timedOp("table.upsert")(GraftTable.upsert(spark, path, frame(batch)))
    } { _ => batch.foreach(model.put); Right(1.0) }
    request("refresh", record = false) {
      (timedOp("ivf.refresh")(GraftIndex.refresh(spark, path)),
        timedOp("hnsw.refresh")(GraftHnsw.refresh(spark, path, maxSegments = sz.maxSegments)))
    } { r => if (r._1.isDefined && r._2.isDefined) Right(1.0) else Left("an index did not advance") }
    val target = batch(r.nextInt(batch.length))
    def topIsTarget(rows: Array[Row]) = {
      val got = topRows(rows)
      if (!got.headOption.map(_._1).contains(target.id)) Left(s"top-1 is not the just-written row ${target.id}")
      else Check.topK(model, target.vec, sz.k, got, _ => true, exact = false)
    }
    request("ivf_fresh", record = false) {
      timedOp("ivf.probe.fresh")(GraftIndex.probe(spark, path, target.vec.toSeq, sz.k, sz.nprobe).collect())
    }(topIsTarget)
    request("hnsw_fresh", record = false) {
      timedOp("hnsw.probe.fresh")(GraftHnsw.probe(spark, path, target.vec.toSeq, sz.k, sz.ef).collect())
    }(topIsTarget)
    request("count", record = false) {
      timedOp("sql.count")(spark.sql(s"SELECT count(*) FROM graft_table('$path')").collect())
    } { rows =>
      if (rows.head.getLong(0) == model.size) Right(1.0)
      else Left(s"row count ${rows.head.getLong(0)} != ${model.size}")
    }
    val before = tableFiles
    request("vacuum", record = false) {
      timedOp("table.vacuum")(GraftTable.vacuum(path, keepVersions = 1))
      timedOp("ivf.vacuum")(GraftIndex.vacuum(path))
      timedOp("hnsw.vacuum")(GraftHnsw.vacuum(path))
    } { _ => Right(1.0) }
    vacuumDeleted = before - tableFiles
  }

  // ---- request kinds -------------------------------------------------------

  private val warmQueries = new Popularity(sz.pool, 1.1, seed ^ 0x1B873593L)
  private val common = gen.companies(1) // ~8.5 % of rows
  private val rare = gen.companies(19) // ~0.85 % of rows
  private val recentDays = 300 // ~82 % of rows

  private type Pred = Option[(Column, Posting => Boolean)]
  private def keepOf(pred: Pred): Posting => Boolean = pred.fold((_: Posting) => true)(_._2)
  private val byCompany = (c: String) => Some((col("company") === c, (p: Posting) => gen.companies(p.company) == c))
  private val recent = Some((col("posted_day") < recentDays, (p: Posting) => p.day < recentDays))

  private def exactTopK(kind: String, q: Array[Float], pred: Pred, record: Boolean): Unit =
    request(kind, record) {
      val t = tracer.span("table.read")(GraftTable.read(spark, path))
      val df = tracer.span("exact.plan")(pred match {
        case None => VectorSearch.topK(t, "embedding", "job_id", q.toSeq, sz.k)
        case Some((c, _)) => VectorSearch.hybridPrefilter(t, c, "embedding", "job_id", q.toSeq, sz.k)
      })
      collect("exact.exec")(df)
    } { rows => Check.topK(model, q, sz.k, topRows(rows), keepOf(pred), exact = true) }

  private def analytics(record: Boolean): Unit =
    request("analytics", record) {
      val df = tracer.span("sql.plan")(spark.sql(
        s"SELECT company, title, count(*) AS n FROM graft_table('$path') " +
          "GROUP BY 1, 2 ORDER BY 3 DESC LIMIT 15"))
      collect("sql.exec")(df)
    } { rows =>
      // ties at the cut make the 15 groups ambiguous; their counts are not
      val want = model.groupCounts
      val got = rows.map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      got.find { case (g, n) => !want.get(g).contains(n) } match {
        case Some(g) => Left(s"group $g has the wrong count")
        case None if got.map(_._2).toSeq != want.values.toSeq.sorted(Ordering[Long].reverse).take(15) =>
          Left("not the 15 largest groups")
        case None => Right(1.0)
      }
    }

  /** Filtered probes under the brute-force cap must be exact: that leg
    * scores every matching row.
    */
  private def underCap(pred: Pred) = pred.isDefined && model.count(keepOf(pred)) <= sz.bruteForceCap

  private def ivfProbe(kind: String, q: Array[Float], pred: Pred, record: Boolean): Unit =
    request(kind, record) {
      val df = tracer.span("ivf.probe")(GraftIndex.probe(spark, path, q.toSeq, sz.k, sz.nprobe,
        pred = pred.map(_._1), bruteForceCap = sz.bruteForceCap))
      collect("ivf.probe.exec")(df)
    } { rows => Check.topK(model, q, sz.k, topRows(rows), keepOf(pred), exact = underCap(pred)) }

  private def hnswProbe(kind: String, q: Array[Float], pred: Pred, record: Boolean): Unit =
    request(kind, record) {
      val df = tracer.span("hnsw.probe")(GraftHnsw.probe(spark, path, q.toSeq, sz.k, sz.ef,
        pred = pred.map(_._1), bruteForceCap = sz.bruteForceCap))
      collect("hnsw.probe.exec")(df)
    } { rows => Check.topK(model, q, sz.k, topRows(rows), keepOf(pred), exact = underCap(pred)) }

  private def sqlSearch(q: Array[Float], record: Boolean): Unit =
    request("sql", record) {
      val vec = q.map(x => java.lang.Float.toString(x) + "D").mkString("array(", ", ", ")")
      val df = tracer.span("sql.plan")(spark.sql(
        s"SELECT job_id, score FROM graft_index_search('$path', $vec, ${sz.k}, ${sz.nprobe})"))
      collect("sql.exec")(df)
    } { rows => Check.topK(model, q, sz.k, topRows(rows), _ => true, exact = false) }

  /** The request mix, in the fixed round-robin order the client sends it. */
  private lazy val mix: Seq[(String, (Array[Float], Boolean) => Unit)] = workload match {
    case "exact" => Seq(
      ("topk", (q, r) => exactTopK("topk", q, None, r)),
      ("hybrid_common", (q, r) => exactTopK("hybrid_common", q, byCompany(common), r)),
      ("hybrid_rare", (q, r) => exactTopK("hybrid_rare", q, byCompany(rare), r)),
      ("analytics", (_, r) => analytics(r)))
    case _ => Seq(
      ("ivf", (q, r) => ivfProbe("ivf", q, None, r)),
      ("hnsw", (q, r) => hnswProbe("hnsw", q, None, r)),
      ("ivf_filtered_small", (q, r) => ivfProbe("ivf_filtered_small", q, byCompany(common), r)),
      ("hnsw_filtered_small", (q, r) => hnswProbe("hnsw_filtered_small", q, byCompany(common), r)),
      ("ivf_filtered_large", (q, r) => ivfProbe("ivf_filtered_large", q, recent, r)),
      ("hnsw_filtered_large", (q, r) => hnswProbe("hnsw_filtered_large", q, recent, r)),
      ("sql", (q, r) => sqlSearch(q, r)))
  }

  // ---- measurement ---------------------------------------------------------

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length else 0L

  /** Files of the table proper (not its indexes), for vacuum's count. */
  private def tableFiles: Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.filterNot(c => c.getName == "_index" ||
        c.getName == "_hnswidx").map(walk).sum).getOrElse(0)
      else 1
    walk(new File(path))
  }

  def execute(): (String, String) = {
    // the generator's work stays out of the set-ups: the model and the
    // input rows are made once, the rows written to a parquet file that
    // every create reads
    val g0 = System.nanoTime()
    (0 until sz.rows).foreach(id => model.put(gen.posting(id.toLong, 0)))
    val inputPath = new File(work, "input").getPath
    initialFrame(sz.rows).write.parquet(inputPath)
    val input = spark.read.schema(schema).parquet(inputPath)
    val inputSecs = (System.nanoTime() - g0) / 1e9
    (0 until sz.setups).foreach { i =>
      setupOnce(i, input, inputSecs)
      if (i < sz.setups - 1) Run.deleteTree(new File(work, s"table-$i"))
    }
    val pop = new Popularity(sz.pool, 1.1, seed ^ 0x2545F4914F6CDD1DL)
    val t0 = System.nanoTime()
    var sent = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // the loop ends on a whole round of the mix, so every request kind is
    // measured. A traced run alternates untraced and traced rounds, so the
    // run itself measures the tracing overhead; it completes the first
    // traced round, whose requests give the per-layer numbers
    while (elapsed < seconds || sent % mix.length != 0 || (trace && sent < 2 * mix.length)) {
      tracer.on = trace && (sent / mix.length) % 2 == 1
      mix(sent % mix.length)._2(gen.query(pop.next()), true)
      sent += 1
    }
    tracer.on = false
    val measuredS = elapsed
    if (trace && workload == "ann") writeCycle()
    spark.catalog.clearCache()
    val bytesRatio = dirBytes(new File(path)).toDouble / model.logicalBytes
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val layers = if (!trace) None else {
      val (jobs, scans) = tracer.snapshot()
      val round = samples.filter(_.traced).take(mix.length).map(_.req).toSet
      val keep = (req: Int) => req < 0 || round(req)
      val l = new Layers(tracer.spans.toVector.filter(s => keep(s.req)), jobs.filter(j => keep(j.req)),
        scans.filter(s => keep(s.req)), samples.toVector.filter(s => round(s.req)),
        timedOps.toMap.map { case (k, v) => k -> v.toVector }, vacuumDeleted,
        ivfBytes = dirBytes(new File(path, "_index")).toDouble,
        hnswBytes = dirBytes(new File(path, "_hnswidx")).toDouble,
        hnswSegments = if (workload == "ann") GraftHnsw.meta(path).segs.length else 0,
        batchBytes = batchBytes)
      // spans stay in memory during the run and are written once, here
      java.nio.file.Files.writeString(
        new File(work.getParentFile, s"spans-$workload-$seed.jsonl").toPath, l.spansJsonl)
      Some(l)
    }
    new Report(workload, sz, samples.toVector, setupSecs.toVector,
      timedOps.toSeq.map { case (k, v) => k -> v.toVector }, attempted, failed, failures.toSeq,
      recalls.toVector, measuredS, bytesRatio, heapMb, layers).render()
  }
}

object Run {
  def row(g: Generator, p: Posting): Row =
    Row(p.id, g.companies(p.company), g.titles(p.title), g.locations(p.location), p.day, p.vec.toSeq)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
