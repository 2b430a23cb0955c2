package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One job-posting row as the generator made it. `vec` is a unit vector. */
final case class Posting(id: Long, company: Int, title: Int, location: Int,
                         day: Int, vec: Array[Float])

/** The seeded, download-free generator. Every row is a pure function of
  * (seed, job_id, revision), so the benchmark can rebuild any row it wrote
  * and keep its own copy of the table (the [[Model]]) to check outputs
  * against without an outside oracle.
  *
  * Embeddings come from a Gaussian mixture: `centers` random unit
  * directions, each row = normalize(center + N(0, spread²·I)). The spread
  * is chosen so that clusters overlap and neither index reaches recall 1.0
  * at the benchmark's nprobe/ef (well-separated clusters made both indexes
  * exact, which hides a recall regression).
  */
final class Generator(val seed: Long, val dims: Int, centers: Int, spread: Double)
    extends Serializable {
  val companies: Array[String] = Array.tabulate(200)(i => f"company_$i%03d")
  val titles: Array[String] = Array(
    "software engineer", "data scientist", "product manager", "data engineer",
    "ml engineer", "site reliability engineer", "frontend engineer", "backend engineer",
    "engineering manager", "research scientist", "security engineer", "designer",
    "analyst", "solutions architect", "technical writer", "recruiter",
    "sales engineer", "devops engineer", "qa engineer", "mobile engineer",
    "platform engineer", "staff engineer", "principal engineer", "intern",
    "support engineer", "database administrator", "network engineer", "program manager",
    "data analyst", "applied scientist", "hardware engineer", "firmware engineer",
    "game developer", "cloud architect", "it specialist", "scrum master",
    "business analyst", "marketing manager", "account executive", "customer success")
  val locations: Array[String] = Array.tabulate(40)(i => f"city_$i%02d")

  private val companyCdf = zipfCdf(companies.length, 1.0)
  private val titleCdf = zipfCdf(titles.length, 0.8)
  private val locationCdf = zipfCdf(locations.length, 0.5)

  private val centerVecs: Array[Array[Double]] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    Array.fill(centers)(unit(Array.fill(dims)(gauss(r))))
  }

  def posting(id: Long, revision: Int): Posting = {
    val r = rng(id, revision)
    Posting(id, draw(companyCdf, r), draw(titleCdf, r), draw(locationCdf, r),
      r.nextInt(365), embed(r))
  }

  /** Query vector `i` of the pool: drawn from the same mixture. */
  def query(i: Int): Array[Float] = embed(rng(-1L - i, 0))

  private def embed(r: SplittableRandom): Array[Float] = {
    val c = centerVecs(r.nextInt(centerVecs.length))
    val v = Array.tabulate(dims)(d => c(d) + spread * gauss(r))
    unit(v).map(_.toFloat)
  }

  private def rng(id: Long, revision: Int): SplittableRandom =
    new SplittableRandom(mix(seed, id * 31 + revision))

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on two uniforms in (0, 1]
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
}

/** Zipf popularity over a pool of `n` items, so some requests repeat. */
final class Popularity(n: Int, s: Double, seed: Long) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val t = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / t)
  }
  private val r = new SplittableRandom(seed)
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** The benchmark's own copy of the live table: what graft must return is
  * computed from it with plain JVM loops.
  */
final class Model(gen: Generator) {
  private val rows = mutable.ArrayBuffer.empty[Posting]
  private val slot = mutable.HashMap.empty[Long, Int]

  def size: Int = rows.length
  def apply(id: Long): Option[Posting] = slot.get(id).map(rows)

  def put(p: Posting): Unit = slot.get(p.id) match {
    case Some(i) => rows(i) = p
    case None => slot(p.id) = rows.length; rows += p
  }

  /** Cosine score with the same double-accumulation order as graft's
    * `cosine_similarity` kernel.
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k by cosine, ties by ascending id (graft's tie order). */
  def topK(q: Array[Float], k: Int, keep: Posting => Boolean = _ => true): Vector[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2)))
    rows.foreach { p =>
      if (keep(p)) {
        heap.enqueue((cosine(p.vec, q), p.id))
        if (heap.size > k) heap.dequeue()
      }
    }
    heap.toVector.sortBy(t => (-t._1, t._2)).map(t => (t._2, t._1))
  }

  def count(keep: Posting => Boolean): Int = rows.count(keep)

  /** (company, title) → rows, the cell-15 analytics answer. */
  def groupCounts: Map[(String, String), Long] =
    rows.groupBy(p => (gen.companies(p.company), gen.titles(p.title)))
      .map { case (k, v) => k -> v.length.toLong }

  def logicalBytes: Long = Model.logicalBytes(gen, rows.toSeq)
}

object Model {
  /** Logical bytes of rows: 8 (job_id) + the strings' characters (all
    * ASCII) + 4 (posted_day) + 4 per vector element.
    */
  def logicalBytes(gen: Generator, rows: Seq[Posting]): Long = rows.iterator.map { p =>
    8L + gen.companies(p.company).length + gen.titles(p.title).length +
      gen.locations(p.location).length + 4 + 4L * p.vec.length
  }.sum
}

object Check {

  /** Checks a returned top-k list against the model. `exact` demands the
    * exact answer (tie swaps allowed); otherwise the list must be
    * well-formed: live ids, predicate holds, true scores, descending,
    * full. Returns recall@k against the exact answer, or a failure.
    */
  def topK(model: Model, q: Array[Float], k: Int, got: Seq[(Long, Double)],
           keep: Posting => Boolean, exact: Boolean): Either[String, Double] = {
    // the exact path runs the same double-accumulation kernel as Model;
    // index walks may score in another order, so they get a float margin
    val tol = if (exact) 1e-9 else 1e-4
    val want = model.topK(q, k, keep)
    if (got.length != want.length)
      return Left(s"returned ${got.length} rows, expected ${want.length}")
    if (got.map(_._1).distinct.length != got.length) return Left("duplicate ids")
    var prev = Double.PositiveInfinity
    for (((id, score), i) <- got.zipWithIndex) {
      val p = model(id).getOrElse(return Left(s"id $id is not a live row"))
      if (!keep(p)) return Left(s"id $id does not satisfy the predicate")
      val truth = model.cosine(p.vec, q)
      if (math.abs(truth - score) > tol) return Left(s"id $id score $score != $truth")
      if (score > prev + tol) return Left("scores not descending")
      prev = score
      if (exact && math.abs(score - want(i)._2) > tol)
        return Left(s"rank $i score $score != exact ${want(i)._2}")
    }
    val w = want.map(_._1).toSet
    Right(if (want.isEmpty) 1.0 else got.count(g => w(g._1)).toDouble / want.length)
  }
}
