package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Seed-generated inputs. Text is built from the sentences of the bundled
  * markdown corpus, so documents read like the reference's and the hashing
  * embedder sees a realistic vocabulary. Every document carries its own
  * id token, so no two generated documents are equal.
  */
final class Inputs(seed: Long, contentDir: Path) {

  val sentences: IndexedSeq[String] = {
    val files = Files.list(contentDir.resolve("markdown")).iterator().asScala
      .filter(_.toString.endsWith(".md")).toSeq.sortBy(_.toString)
    files.flatMap { f =>
      new String(Files.readAllBytes(f), "UTF-8").split("\n").iterator
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("|"))
        .map(_.stripPrefix("- ").stripPrefix("* "))
        .flatMap(_.split("(?<=[.!?]) +")).filter(_.split(" ").length >= 4)
    }.toIndexedSeq
  }
  require(sentences.size >= 20,
    s"too few corpus sentences under $contentDir (${sentences.size})")

  /** An independent random stream per purpose, all fixed by the seed. */
  def rng(stream: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + stream * 1000003L)

  private def sentence(r: java.util.Random) = sentences(r.nextInt(sentences.size))

  private def para(r: java.util.Random, n: Int) =
    Seq.fill(n)(sentence(r)).mkString(" ")

  /** A CMS-style row (id, title, body) for the database reader path. */
  def article(r: java.util.Random, id: Long, tag: String = ""): (Long, String, String) = {
    val title = s"Report $id " + sentence(r).split(" ").take(3).mkString(" ")
    val lines = Seq.tabulate(3 + r.nextInt(3)) { i =>
      val p = para(r, 2 + r.nextInt(2))
      val own = if (i == 0) s" Entry r$id closes this section." else ""
      if (tag.isEmpty) p + own else s"$tag $p$own $tag"
    }
    (id, title, lines.mkString("\n"))
  }

  /** An 8-word span of one of `bodies`, different from every earlier one. */
  def spanQuery(r: java.util.Random, bodies: IndexedSeq[String],
      seen: scala.collection.mutable.Set[String]): String = {
    var q = ""
    var tries = 0
    while (q.isEmpty || seen(q)) {
      val words = bodies(r.nextInt(bodies.size)).split("\\s+")
      val at = r.nextInt(math.max(1, words.length - 8))
      q = words.slice(at, at + 8).mkString(" ")
      tries += 1
      require(tries < 10000, "query pool exhausted")
    }
    seen += q
    q
  }
}
