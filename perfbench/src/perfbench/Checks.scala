package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Answer checks. Each returns true when the program's answer is right;
  * [[Checks.plantedFailuresCaught]] feeds each one a wrong answer.
  */
object Checks {

  /** The engine's cosine (graft.functions.CosineSimilarity), in doubles. */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val a = x(i).toDouble; val b = y(i).toDouble
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Brute-force cosine top-k over (key, embedding) rows: score desc, key. */
  def bruteTopK(rows: Array[(String, Array[Float])], q: Array[Float],
      k: Int): Seq[(String, Double)] =
    rows.iterator.map { case (key, v) => (key, round6(cosine(v, q))) }
      .toSeq.sortBy { case (key, s) => (-s, key) }.take(k)

  private val Eps = 2e-6

  /** An exact answer is right when its scores are the brute-force top-k
    * scores and every returned key really has the score it was given;
    * keys may differ only inside a run of tied scores.
    */
  def exactMatches(answer: Seq[(String, Double)],
      truth: Seq[(String, Double)], scoreOf: String => Option[Double]): Boolean =
    answer.size == truth.size &&
      answer.zip(truth).forall { case (a, t) => math.abs(a._2 - t._2) <= Eps } &&
      answer.forall { case (key, s) =>
        scoreOf(key).exists(x => math.abs(x - s) <= Eps) } &&
      answer.map(_._1).distinct.size == answer.size

  /** Share of the exact top-k keys that an approximate answer returns. */
  def recall(approx: Seq[String], exact: Seq[String]): Double =
    if (exact.isEmpty) 1.0 else exact.count(approx.toSet).toDouble / exact.size

  def containsRevised(answerDocs: Seq[String], revised: Set[String]): Boolean =
    answerDocs.exists(revised)

  def noDeleted(answerDocs: Seq[String], deleted: Set[String]): Boolean =
    !answerDocs.exists(deleted)

  /** Per-document certificate of the reference batch:
    * (reader, documentid) -> (succeeded, n_chunks, chunk-md5 chain, e6 sum).
    */
  type Cert = Map[(String, String), (Boolean, Long, String, String)]

  def golden(resources: Path): Cert =
    Files.readAllLines(resources.resolve("q44_store_golden.csv")).asScala
      .filter(_.nonEmpty).map { l =>
        val Array(reader, doc, ok, n, md5, e6) = l.split(",", -1)
        (reader, doc) -> (ok.toBoolean, n.toLong, md5, e6)
      }.toMap

  def certMatches(got: Cert, want: Cert): Boolean = got == want

  /** Every check must reject a wrong answer; false if one lets it pass. */
  def plantedFailuresCaught(want: Cert): Boolean = {
    val rows = Array(("a", Array(1f, 0f)), ("b", Array(0.6f, 0.8f)),
      ("c", Array(0f, 1f)))
    val q = Array(1f, 0.1f)
    val truth = bruteTopK(rows, q, 2)
    val scores = rows.map { case (k, v) => k -> round6(cosine(v, q)) }.toMap
    val wrongKey = truth.updated(1, ("c", truth(1)._2))
    val wrongScore = truth.updated(0, (truth.head._1, truth.head._2 - 0.01))
    val (firstKey, (ok, n, md5, e6)) = want.head
    Seq(
      exactMatches(truth, truth, scores.get),
      !exactMatches(wrongKey, truth, scores.get),
      !exactMatches(wrongScore, truth, scores.get),
      !exactMatches(truth.take(1), truth, scores.get),
      recall(Seq("a", "x"), Seq("a", "b")) == 0.5,
      !containsRevised(Seq("d1", "d2"), Set("d9")),
      !noDeleted(Seq("d1", "d2"), Set("d2")),
      certMatches(want, want),
      !certMatches(want.updated(firstKey, (ok, n + 1, md5, e6)), want),
      !certMatches(want - firstKey, want)
    ).forall(identity)
  }
}
