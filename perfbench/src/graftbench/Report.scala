package graftbench

/** Minimal JSON rendering for the report and result objects. */
object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-layer numbers of a traced run. Spans are grouped into operations
  * (a graft call and its materialising collect form one operation); each
  * operation's numbers are medians over its occurrences.
  */
final class Layers(spans: Vector[Span], jobs: Vector[JobRec], scans: Vector[ScanRec],
                   traced: Vector[Sample], timedOps: Map[String, Vector[Double]],
                   vacuumDeleted: Int, ivfBytes: Double, hnswBytes: Double,
                   hnswSegments: Int, batchBytes: Double) {
  import Stats._

  private def opOf(name: String): String = name match {
    case "exact.plan" | "exact.exec" => "exact"
    case "sql.plan" | "sql.exec" => "sql"
    case n if n.endsWith(".exec") => n.stripSuffix(".exec")
    case n => n
  }
  private def isExec(s: Span) = s.name.endsWith(".exec")

  private val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
  private val jobsBySpan = jobs.groupBy(_.span)
  private val scansBySpan = scans.groupBy(_.span)

  /** One occurrence of an operation: its spans within one request, or a
    * single set-up span.
    */
  final case class Occ(op: String, spans: Vector[Span]) {
    val jobs: Vector[JobRec] = spans.flatMap(s => jobsBySpan.getOrElse(s.id, Vector.empty))
    val scans: Vector[ScanRec] = spans.flatMap(s => scansBySpan.getOrElse(s.id, Vector.empty))
    def wallMs: Double = spans.map(_.ms).sum
    def callMs: Double = spans.filterNot(isExec).map(_.ms).sum
    def execMs: Double = spans.filter(isExec).map(_.ms).sum
    def selfMs: Double = spans.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    def driverMs: Double = wallMs - union(jobs.map(j => (j.startMs, math.max(j.startMs, j.endMs))))
  }

  private val occs: Vector[Occ] = spans
    .groupBy(s => (opOf(s.name), if (s.req >= 0) s.req.toLong else -1L - s.id))
    .map { case ((op, _), ss) => Occ(op, ss.sortBy(_.id)) }.toVector

  val ops: Vector[String] = occs.map(_.op).distinct.sorted

  private def med(op: String)(f: Occ => Double): Double = {
    val xs = occs.filter(_.op == op).map(f)
    if (xs.isEmpty) 0.0 else median(xs)
  }

  /** The medians of every operation, by `<op>.<field>`. */
  lazy val opTable: Seq[(String, Double)] = ops.flatMap { op =>
    val rowsScanned = occs.filter(_.op == op).flatMap(_.scans).map(_.rowsScanned).sum
    val rowsMatched = occs.filter(_.op == op).flatMap(_.scans).map(_.rowsMatched).sum
    Seq(
      "call_ms" -> med(op)(_.callMs),
      "exec_ms" -> med(op)(_.execMs),
      "self_ms" -> med(op)(_.selfMs),
      "driver_ms" -> med(op)(_.driverMs),
      "jobs" -> med(op)(_.jobs.length.toDouble),
      "tasks" -> med(op)(_.jobs.map(_.tasks).sum.toDouble),
      "cpu_ms" -> med(op)(_.jobs.map(_.cpuNs).sum / 1e6),
      "run_ms" -> med(op)(_.jobs.map(_.runMs).sum.toDouble),
      "files" -> med(op)(_.scans.map(_.files).sum.toDouble),
      "bytes" -> med(op)(_.scans.map(_.bytes).sum.toDouble),
      "bytes_written" -> med(op)(_.jobs.map(_.bytesWritten).sum.toDouble),
      "shuffle_bytes" -> med(op)(_.jobs.map(_.shuffleBytes).sum.toDouble),
      "spill_bytes" -> med(op)(_.jobs.map(_.spillBytes).sum.toDouble),
      "match_ratio" -> (if (rowsScanned == 0) 0.0 else rowsMatched.toDouble / rowsScanned)
    ).map { case (f, v) => s"$op.$f" -> v }
  }

  /** Per traced request: its spans, jobs and scans. */
  private case class Req(s: Sample) {
    val spans: Vector[Span] = Layers.this.spans.filter(_.req == s.req)
    val jobs: Vector[JobRec] = Layers.this.jobs.filter(_.req == s.req)
    val scans: Vector[ScanRec] = Layers.this.scans.filter(_.req == s.req)
  }
  private val reqs = traced.map(Req)

  private def perReq(f: Req => Double): Double = if (reqs.isEmpty) 0.0 else median(reqs.map(f))

  private def opMed(op: String, field: String): Double =
    opTable.toMap.getOrElse(s"$op.$field", 0.0)

  /** The per-layer metrics BENCHMARK.json lists, given the run's
    * tracing overhead and the JVM's GC time per measured request.
    */
  def metrics(overheadPct: Double, gcMsPerRequest: Double): Seq[(String, Double, String)] = {
    val scannedRows = scans.map(_.rowsScanned).sum
    Seq(
      ("table.create.call_ms", median(timedOps.getOrElse("table.create", Vector(0.0))) * 1000, "ms"),
      ("graft.call_ms", perReq(_.spans.filterNot(isExec).map(_.ms).sum), "ms"),
      ("graft.exec_ms", perReq(_.spans.filter(isExec).map(_.ms).sum), "ms"),
      ("sql.plan_ms", median(spans.filter(_.name == "sql.plan").map(_.ms)), "ms"),
      ("sql.exec_ms", median(spans.filter(_.name == "sql.exec").map(_.ms)), "ms"),
      ("spark.jobs_per_request", perReq(_.jobs.length.toDouble), "count"),
      ("spark.tasks_per_request", perReq(_.jobs.map(_.tasks).sum.toDouble), "count"),
      ("spark.cpu_ms_per_request", perReq(_.jobs.map(_.cpuNs).sum / 1e6), "ms"),
      ("spark.run_ms_per_request", perReq(_.jobs.map(_.runMs).sum.toDouble), "ms"),
      ("spark.driver_ms_per_request", perReq(r => r.s.ms -
        union(r.jobs.map(j => (j.startMs, math.max(j.startMs, j.endMs))))), "ms"),
      ("spark.shuffle_bytes_per_request", perReq(_.jobs.map(_.shuffleBytes).sum.toDouble), "bytes"),
      ("spark.spill_bytes_per_request", perReq(_.jobs.map(_.spillBytes).sum.toDouble), "bytes"),
      ("spark.gc_ms", gcMsPerRequest, "ms"),
      ("scan.files_per_request", perReq(_.scans.map(_.files).sum.toDouble), "count"),
      ("scan.bytes_per_request", perReq(_.scans.map(_.bytes).sum.toDouble), "bytes"),
      ("scan.match_ratio", if (scannedRows == 0) 0.0 else scans.map(_.rowsMatched).sum.toDouble / scannedRows, "ratio"),
      ("exact.jobs", opMed("exact", "jobs"), "count"),
      ("exact.tasks", opMed("exact", "tasks"), "count"),
      ("ivf.probe.jobs", opMed("ivf.probe", "jobs"), "count"),
      ("ivf.probe.tasks", opMed("ivf.probe", "tasks"), "count"),
      ("ivf.probe.files", opMed("ivf.probe", "files"), "count"),
      ("ivf.probe.bytes", opMed("ivf.probe", "bytes"), "bytes"),
      ("hnsw.probe.jobs", opMed("hnsw.probe", "jobs"), "count"),
      ("hnsw.probe.tasks", opMed("hnsw.probe", "tasks"), "count"),
      ("hnsw.probe.bytes", opMed("hnsw.probe", "bytes"), "bytes"),
      ("hnsw.segments", hnswSegments.toDouble, "count"),
      ("table.upsert.jobs", opMed("table.upsert", "jobs"), "count"),
      ("table.upsert.tasks", opMed("table.upsert", "tasks"), "count"),
      ("table.upsert.bytes_written", opMed("table.upsert", "bytes_written"), "bytes"),
      ("table.write_amp", if (batchBytes <= 0) 0.0 else opMed("table.upsert", "bytes_written") / batchBytes, "ratio"),
      ("ivf.refresh.jobs", opMed("ivf.refresh", "jobs"), "count"),
      ("ivf.refresh.bytes_written", opMed("ivf.refresh", "bytes_written"), "bytes"),
      ("hnsw.refresh.jobs", opMed("hnsw.refresh", "jobs"), "count"),
      ("hnsw.refresh.bytes_written", opMed("hnsw.refresh", "bytes_written"), "bytes"),
      ("table.vacuum.files_deleted", vacuumDeleted.toDouble, "count"),
      ("ivf.bytes", ivfBytes, "bytes"),
      ("hnsw.bytes", hnswBytes, "bytes"),
      ("trace.overhead_pct", overheadPct, "%"))
  }

  /** Every span, one JSON object a line, for offline analysis. */
  def spansJsonl: String = spans.sortBy(_.id).map { s =>
    Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "req" -> s.req.toString,
      "name" -> Json.str(s.name), "start_ns" -> s.t0Ns.toString, "end_ns" -> s.t1Ns.toString))
  }.mkString("", "\n", "\n")
}

/** Turns a run's samples into the report object and the result line. */
final class Report(workload: String, sz: Sizes, samples: Vector[Sample], setupSecs: Vector[Double],
                   timedOps: Seq[(String, Vector[Double])], attempted: Int, failed: Int,
                   failures: Seq[(String, Int)], recalls: Vector[(String, Double)], measuredS: Double,
                   bytesRatio: Double, heapMb: Double,
                   layers: Option[Layers]) {
  import Stats._

  private val untraced = samples.filterNot(_.traced)
  private def ms(kinds: String*)(from: Vector[Sample]) = from.filter(s => kinds.contains(s.kind)).map(_.ms)

  /** Sum over request kinds of each kind's median: one pass through the mix. */
  private def mixMs(from: Vector[Sample]): Double =
    from.groupBy(_.kind).values.map(v => median(v.map(_.ms))).sum

  private val searches = untraced.filter(_.kind != "analytics")

  private def e2e: Seq[(String, Double, String)] = Seq(
    ("setup_s", median(setupSecs), "s"),
    ("mix_p50_ms", mixMs(untraced), "ms"),
    ("recall_at_10", recalls.map(_._2).sum / recalls.length, "ratio"),
    ("bytes_per_user_byte", bytesRatio, "ratio"),
    ("heap_live_mb", heapMb, "MB"))

  /** The workload's request metrics by kind, as perfbench/README.md names them. */
  private def named: Seq[(String, Double)] = {
    val u = untraced
    Seq("search_p90_ms" -> quantile(searches.map(_.ms), 0.9),
      "search_samples" -> searches.length.toDouble) ++ (workload match {
      case "exact" => Seq(
        "topk_p50_ms" -> median(ms("topk")(u)),
        "hybrid_p50_ms" -> median(ms("hybrid_common", "hybrid_rare")(u)),
        "analytics_p50_ms" -> median(ms("analytics")(u)))
      case _ => Seq(
        "ivf_p50_ms" -> median(ms("ivf")(u)),
        "hnsw_p50_ms" -> median(ms("hnsw")(u)),
        "filtered_p50_ms" -> median(ms("ivf_filtered_small", "hnsw_filtered_small",
          "ivf_filtered_large", "hnsw_filtered_large")(u)),
        "sql_p50_ms" -> median(ms("sql")(u)))
    })
  }

  private def kv(xs: Seq[(String, Double)]) = Json.obj(xs.map { case (k, v) => k -> Json.num(v) })
  private def metricsObj(xs: Seq[(String, Double, String)]) = Json.obj(xs.map { case (k, v, u) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
  private def arr(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ", ", "]")

  def render(): (String, String) = {
    val perKind = samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) =>
      val r = recalls.filter(_._1 == k).map(_._2)
      k -> kv(Seq("n" -> v.length.toDouble, "p50_ms" -> median(v.map(_.ms)),
        "p90_ms" -> quantile(v.map(_.ms), 0.9), "recall_at_10" -> r.sum / r.length))
    }
    val traced = samples.filter(_.traced)
    val overhead = if (traced.isEmpty) 0.0 else (mixMs(traced) / mixMs(untraced) - 1) * 100
    val perLayer = layers.map(_.metrics(overhead, samples.map(_.gcMs).sum.toDouble / samples.length))
      .getOrElse(Nil)
    val report = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "sizes" -> Json.str(sz.toString),
      "measured_s" -> Json.num(measuredS),
      "requests" -> Json.num(samples.length),
      "untraced_requests" -> Json.num(untraced.length),
      "setup_runs_s" -> arr(setupSecs),
      "timed_ops_s" -> Json.obj(timedOps.map { case (k, v) => k -> arr(v) }),
      "end_to_end" -> metricsObj(e2e),
      "named" -> kv(named),
      "per_kind" -> Json.obj(perKind),
      "failures" -> Json.obj(failures.map { case (k, v) => k -> v.toString })) ++
      layers.toSeq.flatMap(l => Seq("per_layer" -> metricsObj(perLayer), "ops" -> kv(l.opTable))))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metricsObj(if (layers.isDefined) perLayer else e2e)))
    ("{\"report\": " + report + "}", result)
  }
}
