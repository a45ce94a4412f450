package graft.store

import graft.SparkSpec
import graft.model.EmbeddedChunk
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: on every layout, after ANY seeded random sequence of
  * upserts, deletes, refreshes (with the exact Δ), compactions and folds,
  * each refresh leaves both ANN sidecars
  *
  *   - set-equal to a frozen-model re-encode of the whole collection,
  *   - fresh,
  *   - serving from the sidecar (the search reads the `_index` code
  *     files, no fit) with no deleted document in any answer;
  *
  * and each compaction leaves them fresh exactly when they were fresh
  * before it.
  */
class IndexMaintenancePropertySpec extends SparkSpec {
  import IndexMaintenancePropertySpec._

  private val dim = 16

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.listOfN(2, Gen.choose(0, 9)).map(Upsert(_)),
    2 -> Gen.listOfN(1, Gen.choose(0, 99)).map(Delete(_)),
    4 -> Gen.const(Refresh),
    2 -> Gen.const(Compact))

  /** Six random ops with one fold at a random place, ending in a refresh
    * so the last ops are checked too.
    */
  private def opsFor(seed: Long): List[Op] = {
    val gen = for {
      ops <- Gen.listOfN(6, opGen)
      at <- Gen.choose(0, ops.size)
    } yield (ops.take(at) :+ Fold) ++ ops.drop(at) :+ Refresh
    gen.pureApply(Gen.Parameters.default, Seed(seed))
  }

  private def vec(seed: Long): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val raw = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private final class Run(layout: String, seed: Long) {
    private val root = java.nio.file.Files
      .createTempDirectory("index-property").toString
    val vs: ChunkStore = layout match {
      case "document" => new VectorStore(spark, root)
      case "bucketed" => new BucketedVectorStore(spark, root, nBuckets = 4)
      case "snapshot" => new SnapshotStore(spark, root, nBuckets = 4)
    }
    private val rnd = new scala.util.Random(seed)
    private var revision = 0
    val live = scala.collection.mutable.SortedSet.empty[String]
    val deleted = scala.collection.mutable.Set.empty[String]
    /** Documents changed since the sidecars were last fresh. */
    val pending = scala.collection.mutable.Set.empty[String]
    var folds = 0

    def upsert(ids: Seq[String], chunks: => Int): Unit = {
      revision += 1
      val rows = for (d <- ids.distinct; i <- 0 until chunks) yield
        EmbeddedChunk(s"$d:$i", vec(seed * 1000003L + revision * 1000L +
          d.hashCode * 31L + i), s"$d/$revision/$i", "", d)
      import spark.implicits._
      vs.upsert(rows.toDS().repartition(2), "c")
      live ++= ids; deleted --= ids; pending ++= ids
    }

    def start(): Unit = {
      upsert((0 until 6).map(d => s"d$d"), 1 + rnd.nextInt(3))
      pending.clear()
      Seq("lsh", "ivfsq").foreach(vs.buildIndex("c", _))
    }

    private def baseRows(mode: String): Long = ChunkStore.latestSidecar(
      spark, s"$root/c/_index/$mode").get.base.rows

    def apply(op: Op): Unit = op match {
      case Upsert(ids) => upsert(ids.map(i => s"d$i"), 1 + rnd.nextInt(3))
      case Delete(picks) if live.size > 1 =>
        val ids = picks.map(p => live.toIndexedSeq(p % live.size)).distinct
        vs.delete("c", ids)
        live --= ids; deleted ++= ids; pending ++= ids
      case Delete(_) =>
      case Refresh => refresh()
      case Compact =>
        val wasFresh = pending.isEmpty
        vs.compact("c")
        Seq("lsh", "ivfsq").foreach(m => assert(
          vs.hasFreshIndex("c", m) == wasFresh,
          s"[$layout seed $seed] compact turned a " +
            s"${if (wasFresh) "fresh" else "stale"} $m sidecar around"))
      case Fold =>
        val rows = Seq("lsh", "ivfsq").map(baseRows).max + 1
        val n = (rows + 2) / 3
        upsert((0L until n).map(i => s"f$revision-$i"), 3)
        refresh()
    }

    private def refresh(): Unit = {
      val delta = pending.toSeq
      Seq("lsh", "ivfsq").foreach { m =>
        val before = ChunkStore.latestSidecar(spark, s"$root/c/_index/$m").get
        vs.refreshIndex("c", m, delta)
        val after = ChunkStore.latestSidecar(spark, s"$root/c/_index/$m").get
        if (after.base.path != before.base.path) folds += 1
      }
      pending.clear()
      check()
    }

    private def check(): Unit = {
      val qv = vec(rnd.nextLong())
      for (m <- Seq("lsh", "ivfsq")) {
        val tag = s"[$layout seed $seed] $m"
        assert(vs.hasFreshIndex("c", m), s"$tag: stale after a refresh")
        val (codes, model) = vs.indexCodes("c", m)
        assert(graft.SparkUtil.multisetEqual(codes,
          model.encode(vs.read("c"))),
          s"$tag: live codes differ from a frozen-model full re-encode")
        val answer = vs.search("c",
          graft.functions.VectorLiteralProvider.render(qv), k = 5,
          provider = new graft.functions.VectorLiteralProvider(dim),
          mode = m)
        assert(answer.inputFiles.exists(_.contains("/_index/")),
          s"$tag: search did not serve from the sidecar")
        val docs = answer.select(col("documentid")).collect()
          .map(_.getString(0))
        assert(docs.nonEmpty && !docs.exists(deleted),
          s"$tag: answer ${docs.toSeq} holds a deleted document")
      }
    }
  }

  for (layout <- Seq("document", "bucketed", "snapshot"))
    test(s"[$layout] sidecars stay equal to a full re-encode through " +
        "random maintenance sequences") {
      for (seed <- Seq(11L, 12L)) {
        val run = new Run(layout, seed)
        run.start()
        opsFor(seed).foreach(run.apply)
        assert(run.folds > 0, s"[$layout seed $seed] the fold op did not fold")
      }
    }
}

object IndexMaintenancePropertySpec {
  sealed trait Op
  /** Upsert these documentids (new or revised), 1–3 chunks each. */
  final case class Upsert(ids: Seq[Int]) extends Op
  /** Delete the live documents at these positions of the sorted list. */
  final case class Delete(picks: Seq[Int]) extends Op
  case object Refresh extends Op
  case object Compact extends Op
  /** Upsert new documents holding more chunks than the sidecar base has
    * rows, then refresh: the deltas outgrow the base and fold.
    */
  case object Fold extends Op
}
