package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `MetaIO.replaceString` is the commit of every index meta, cursor and
  * watermark: concurrent swaps of one path must all succeed, and a
  * concurrent reader must see a whole old or new value — never a missing
  * file, a checksum error or a torn read.
  */
class MetaIOSpec extends AnyFunSuite with Matchers {
  import GraftTable.MetaIO

  private val tokens = 64
  private def payload(writer: Int, i: Int) = s"w$writer-$i;" * tokens
  private def whole(s: String): Boolean = {
    val ts = s.split(";")
    ts.length == tokens && ts.forall(_ == ts.head)
  }

  /** A meta path first written through Hadoop, so a `.crc` sidecar exists. */
  private def seeded(): Path = {
    val p = new Path(Files.createTempDirectory("metaio").toString, "meta")
    MetaIO.writeString(p, payload(0, 0))
    p
  }

  private def run(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("replaceString: two concurrent writers never fail, and the last swap wins whole") {
    val p = seeded()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to 2).map(w => run((1 to 500).foreach { i =>
      try MetaIO.replaceString(p, payload(w, i))
      catch { case t: Throwable => errors.add(t) }
    }))
    writers.foreach(_.join())
    withClue(errors.asScala.take(3).mkString("; ")) { errors.size shouldBe 0 }
    Set(payload(1, 500), payload(2, 500)) should contain(MetaIO.readString(p))
    // no attempt leaves its temp file behind
    new java.io.File(p.getParent.toUri.getPath).list().filter(_.endsWith(".tmp")) shouldBe empty
  }

  test("replaceString: a concurrent reader sees a whole old or new value, never a missing file") {
    val p = seeded()
    val failures = new ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val writer = run {
      try (1 to 1000).foreach(i => MetaIO.replaceString(p, payload(1, i)))
      finally done = true
    }
    var reads = 0
    while (!done) {
      try {
        val s = MetaIO.readString(p)
        if (!whole(s)) failures.add(s"torn read: ${s.take(40)}")
      } catch { case t: Throwable => failures.add(t.toString) }
      reads += 1
    }
    writer.join()
    reads should be > 0
    withClue(failures.asScala.take(3).mkString("; ")) { failures.size shouldBe 0 }
    MetaIO.readString(p) shouldBe payload(1, 1000)
  }
}
