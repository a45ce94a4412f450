package graft.store

import graft.{JobCount, SparkSpec}
import graft.model.{ElementRow, EmbeddedChunk}
import graft.operators.IngestionPipeline
import graft.sources.DatabaseSource
import org.apache.spark.sql.functions._

/** Job counts of the store's read and index-maintenance paths — the
  * weather-independent evidence behind their walls:
  *
  *   - building `read(c)` launches no job: the table schema comes from
  *     a parquet footer on the driver, not from schema inference;
  *   - an exact search between compactions costs no more jobs than
  *     after one: the manifest's documentids arbitrate merge-on-read
  *     on the driver;
  *   - an incremental sidecar refresh reads the Δ documents once for
  *     both modes, in the first mode's one delta write, and writes
  *     only Δ's codes, so the second mode's call is its one delta
  *     write;
  *   - a compaction re-stamps the sidecars itself, leaving the
  *     follow-up empty refresh nothing to do;
  *   - the first sidecar search after a refresh reloads the serving memo
  *     without a job of its own;
  *   - a one-source ingestion write plans as a plain pipeline: no tag
  *     join, no collision pass, no extra checkpoint.
  */
class StoreJobCountSpec extends SparkSpec {

  private val dim = 16

  private def vec(seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val raw = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private def docs(ids: Range, rev: Int) =
    for (d <- ids; i <- 0 until 4) yield EmbeddedChunk(f"d$d%02d:$i",
      vec(rev * 10000 + d * 100 + i), s"c$d$i r$rev", "", f"d$d%02d")

  private def newStore(layout: String): ChunkStore = {
    val root = java.nio.file.Files
      .createTempDirectory("jobcount-spec").toString
    layout match {
      case "bucketed" => new BucketedVectorStore(spark, root, nBuckets = 4)
      case "snapshot" => new SnapshotStore(spark, root, nBuckets = 4)
    }
  }

  private def keysOf(vs: ChunkStore, mode: String, qv: Array[Float]) =
    vs.search("c", graft.functions.VectorLiteralProvider.render(qv),
        k = 5, provider = new graft.functions.VectorLiteralProvider(dim),
        mode = mode)
      .select(col("key")).collect().map(_.getString(0)).toSeq

  for (layout <- Seq("bucketed", "snapshot"))
    test(s"[$layout] building read(c) launches no job") {
      import spark.implicits._
      val vs = newStore(layout)
      vs.upsert(docs(0 until 8, 0).toDS().repartition(4), "c")
      vs.upsert(docs(2 until 4, 1).toDS(), "c")
      vs.delete("c", Seq("d05"))
      val (df, jobs) = JobCount(spark)(vs.read("c"))
      assert(jobs == 0, s"read(c) launched $jobs job(s) before any action")
      assert(df.count() == 7 * 4)
    }

  test("[snapshot] an exact search over 3 deltas and a tombstone launches " +
      "no more jobs than after compaction") {
    import spark.implicits._
    val vs = newStore("snapshot")
    vs.upsert(docs(0 until 40, 0).toDS().repartition(4), "c")
    for (rev <- 1 to 3)
      vs.upsert(docs(rev * 3 until rev * 3 + 4, rev).toDS(), "c")
    vs.delete("c", Seq("d20"))
    keysOf(vs, "exact", vec(7)) // warm
    val (merged, morJobs) = JobCount(spark)(keysOf(vs, "exact", vec(7)))
    vs.compact("c")
    keysOf(vs, "exact", vec(7))
    val (compacted, compactedJobs) =
      JobCount(spark)(keysOf(vs, "exact", vec(7)))
    info(s"exact search jobs: merge-on-read $morJobs, compacted $compactedJobs")
    assert(merged == compacted)
    assert(morJobs <= compactedJobs, s"the merge-on-read search launched " +
      s"$morJobs jobs, the compacted one $compactedJobs")
  }

  test("[snapshot] a 10-document write refreshes both sidecars in one " +
      "job per mode, and the post-compaction re-stamp launches none") {
    import spark.implicits._
    val vs = newStore("snapshot")
    vs.upsert(docs(0 until 40, 0).toDS().repartition(4), "c")
    Seq("lsh", "ivfsq").foreach(vs.buildIndex("c", _))
    vs.upsert(docs(0 until 10, 1).toDS().repartition(4), "c")
    vs.delete("c", Seq("d20"))
    val touched = (0 until 10).map(d => f"d$d%02d") :+ "d20"
    val (_, lshJobs) = JobCount(spark)(vs.refreshIndex("c", "lsh", touched))
    val (_, ivfsqJobs) =
      JobCount(spark)(vs.refreshIndex("c", "ivfsq", touched))
    info(s"refresh jobs: lsh $lshJobs, ivfsq $ivfsqJobs")
    assert(lshJobs <= 1,
      s"the first mode's refresh launched $lshJobs jobs, not its one " +
        "delta write that also reads Δ")
    assert(ivfsqJobs == 1,
      s"the second mode's refresh launched $ivfsqJobs jobs, not its one " +
        "delta write")
    for (mode <- Seq("lsh", "ivfsq")) {
      assert(vs.hasFreshIndex("c", mode))
      val (first, firstJobs) = JobCount(spark)(keysOf(vs, mode, vec(7)))
      val (second, secondJobs) = JobCount(spark)(keysOf(vs, mode, vec(7)))
      assert(first == second)
      assert(firstJobs <= secondJobs, s"$mode: the first search after a " +
        s"refresh launched $firstJobs jobs, the second $secondJobs")
    }
    vs.compact("c")
    val (_, restampJobs) = JobCount(spark)(
      Seq("lsh", "ivfsq").foreach(vs.refreshIndex("c", _, Nil)))
    assert(restampJobs == 0,
      s"the post-compaction re-stamp launched $restampJobs jobs")
    assert(Seq("lsh", "ivfsq").forall(vs.hasFreshIndex("c", _)))
  }

  // ---- the ingestion pipeline -------------------------------------------

  private def articles(ids: Range, rev: Int): Seq[(Long, String, String)] =
    ids.map { i =>
      (i.toLong, s"Report $i", Seq.tabulate(3) { p =>
        s"Paragraph $p of report $i, revision $rev, is about topic " +
          s"${(i * 7 + p) % 5} and says a few more words about it."
      }.mkString("\n"))
    }

  private def elements(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    DatabaseSource.elements(rows.toDF("id", "title", "body"))
  }

  /** Jobs of a one-source 10-document revision write (results collected,
    * as a client does), measured before `run` and `runTagged` shared one
    * body: a one-source call must still plan like a plain pipeline.
    */
  private val oneSourceWriteJobs = Map("snapshot" -> 12, "bucketed" -> 18)

  for (layout <- Seq("snapshot", "bucketed"))
    test(s"[$layout] a one-source 10-document write launches at most " +
        s"${oneSourceWriteJobs(layout)} jobs") {
      val vs = newStore(layout)
      IngestionPipeline.run(elements(articles(0 until 40, 0)), vs, "c")
        .collect()
      val (res, jobs) = JobCount(spark)(IngestionPipeline.run(
        elements(articles(0 until 10, 1)), vs, "c").collect())
      info(s"write jobs: $jobs")
      assert(res.length == 10 && res.forall(r => r.succeeded && r.n_chunks > 0))
      assert(jobs <= oneSourceWriteJobs(layout),
        s"the write launched $jobs jobs")
    }

  test("[snapshot] runTagged over two sources gives the results and store " +
      "rows of one run per source") {
    import spark.implicits._
    val failed = Seq(ElementRow("Broken #1", Seq(0), None, 0, "error", None,
      Some("parse failed"), None, None, None, None, None, None)).toDS()
    val sources = Seq(
      "x" -> (() => elements(articles(0 until 6, 0))),
      "y" -> (() => elements(articles(100 until 104, 0)).union(failed)))
    val tagged = newStore("snapshot")
    val perSource = newStore("snapshot")
    val got = IngestionPipeline.runTagged(
        sources.map { case (t, els) => t -> els() }, tagged, t => s"c_$t")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
        r.getLong(3), Option(r.getString(4)))).toSet
    val want = sources.flatMap { case (t, els) =>
      IngestionPipeline.run(els(), perSource, s"c_$t").collect()
        .map(r => (t, r.documentid, r.succeeded, r.n_chunks, r.error))
    }.toSet
    assert(got == want)
    assert(got.size == 11 && got.count(!_._3) == 1)
    def rows(vs: ChunkStore, c: String) = vs.read(c)
      .select(col("key"), col("content"), col("context"), col("documentid"),
        col("embedding")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getSeq[Float](4))).toSet
    for (t <- Seq("x", "y"))
      assert(rows(tagged, s"c_$t") == rows(perSource, s"c_$t"), t)
  }

  test("[snapshot] two sources sharing a doc_id fail before any write") {
    val vs = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("jobcount-spec").toString,
      nBuckets = 4)
    val e = intercept[Exception](IngestionPipeline.runTagged(
      Seq("x" -> elements(articles(0 until 3, 0)),
        "y" -> elements(articles(2 until 5, 1))), vs, t => s"c_$t"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("under multiple sources")), e)
    assert(Seq("c_x", "c_y").forall(vs.versions(_).isEmpty))
  }
}
