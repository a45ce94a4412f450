package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Dedup.connectedComponents]] must equal the min-label fixpoint, which
  * is unique: a driver-side union-find over the same edges gives it
  * independently of the distributed loop (pre-hopped initial labels,
  * dst-partitioned edge checkpoint, pointer doubling). The reference
  * labels each component by its minimum id, keeps the labels of touched
  * ids that are not in `vertices`, and labels isolated vertices with
  * themselves.
  */
class CcFastSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)], verts: Seq[Long])
      : Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = verts ++ edges.flatMap { case (a, b) => Seq(a, b) }
    ids.map(v => v -> find(v)).toMap
  }

  private def both(edges: Seq[(Long, Long)], verts: Seq[Long])
      : (Map[Long, Long], Map[Long, Long]) = {
    val got = Dedup.connectedComponents(edges.toDF("a", "b"),
        verts.toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == got.map(_._1).distinct.length,
      "one row per vertex")
    (unionFind(edges, verts), got.toMap)
  }

  test("chain + clique + isolated vertices: identical labels") {
    // 0-1-2-3-4 chain, {10,11,12} clique, 20/21 isolated
    val edges = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L,
      10L -> 11L, 11L -> 12L, 10L -> 12L)
    val verts = Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L)
    val (ref, got) = both(edges, verts)
    assert(got == ref)
    assert(got(4L) == 0L && got(12L) == 10L && got(20L) == 20L)
  }

  test("long chain exercises pointer doubling: identical labels") {
    val n = 300L
    val edges = (0L until n).map(i => i -> (i + 1))
    val (ref, got) = both(edges, 0L to n)
    assert(got == ref)
    assert(got.values.forall(_ == 0L))
  }

  test("duplicate + self-loop edges and edge ids absent from vertices") {
    val edges = Seq(5L -> 6L, 6L -> 5L, 5L -> 5L, 7L -> 8L)
    // 7/8 touched but NOT in vertices — they keep their labels
    val (ref, got) = both(edges, Seq(5L, 6L, 9L))
    assert(got == ref)
    assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("seeded random graphs: identical labels") {
    // Property over seeded random graphs: sparse to dense edge sets,
    // with duplicate edges, self-loops and touched ids outside the
    // vertex set all reachable by the generator.
    val graphGen = for {
      nV <- Gen.choose(5, 60)
      nE <- Gen.choose(0, 80)
      es <- Gen.listOfN(nE,
        Gen.zip(Gen.choose(0L, nV + 5L), Gen.choose(0L, nV + 5L)))
    } yield (nV, es)
    for (seed <- 1L to 6L) {
      val (nV, es) = graphGen.pureApply(Gen.Parameters.default, Seed(seed))
      val (ref, got) = both(es, 0L until nV.toLong)
      assert(got == ref, s"seed $seed diverged")
    }
  }

  test("empty edge list: every vertex is its own component") {
    val (ref, got) = both(Seq.empty, Seq(1L, 2L, 3L))
    assert(got == ref && got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }
}
