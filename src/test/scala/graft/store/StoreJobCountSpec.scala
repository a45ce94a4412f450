package graft.store

import graft.{JobCount, SparkSpec}
import graft.model.EmbeddedChunk
import org.apache.spark.sql.functions._

/** Job counts of the store's read and index-maintenance paths — the
  * weather-independent evidence behind their walls:
  *
  *   - building `read(c)` launches no job: the table schema comes from
  *     a parquet footer on the driver, not from schema inference;
  *   - an incremental sidecar refresh reads the Δ documents once for
  *     both modes and writes only Δ's codes, so the second mode's call
  *     is its one delta write;
  *   - a compaction re-stamps the sidecars itself, leaving the
  *     follow-up empty refresh nothing to do;
  *   - the first sidecar search after a refresh reloads the serving memo
  *     without a job of its own.
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

  test("[snapshot] a 10-document write refreshes both sidecars in at most " +
      "9 jobs, the second mode's call is one job, and the post-compaction " +
      "re-stamp launches none") {
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
    assert(lshJobs + ivfsqJobs <= 9,
      s"the two refreshes launched $lshJobs + $ivfsqJobs jobs")
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
}
