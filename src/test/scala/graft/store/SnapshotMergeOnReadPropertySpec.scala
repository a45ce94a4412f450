package graft.store

import graft.SparkSpec
import graft.model.EmbeddedChunk
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: after ANY seeded random sequence of upserts (the same
  * document in consecutive deltas and empty batches among them),
  * deletes of present and absent ids, and compactions, the snapshot
  * layout's merge-on-read agrees with a driver-side model
  * (documentid → chunk rows) at every step:
  *
  *   - `read(c)` equals the model;
  *   - `readAt(v)` equals the model's state at every retained v;
  *   - exact `search` top-k equals brute force over the model.
  *
  * The sequence runs twice: with the default cap, where every entry
  * records its documentids and reads take the one-scan driver-side
  * arbitration, and with [[SnapshotStore.DiffPushdownCapKey]] at 0,
  * where no non-empty entry records ids and every read takes the
  * shuffle arbitration. Documentids include JSON-hostile text (a quote,
  * a backslash, a newline, non-ASCII) so the manifest codec and the
  * literal filters see it.
  */
class SnapshotMergeOnReadPropertySpec extends SparkSpec {
  import SnapshotMergeOnReadPropertySpec._

  private val dim = 8
  private val k = 3
  private val capKey = SnapshotStore.DiffPushdownCapKey

  private val pool = IndexedSeq("d0", "d1", "d2", "d3", "q\"uote",
    "back\\slash", "new\nline", "ünï日本")

  /** `n` picks of (pool document, 1–3 chunks). */
  private def upsertOf(n: Gen[Int]): Gen[Upsert] = n.flatMap(Gen.listOfN(_,
    for {
      d <- Gen.choose(0, pool.size - 1)
      c <- Gen.choose(1, 3)
    } yield (d, c))).map(Upsert(_))

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> upsertOf(Gen.choose(1, 3)),
    3 -> Gen.listOfN(2, Gen.choose(0, pool.size + 1)).map(Delete(_)),
    1 -> Gen.const(Compact))

  /** A base, then four random ops with a repeated upsert of two base
    * documents (the same documents in two consecutive deltas, both
    * replacing base rows), an empty batch, a delete of a base document
    * and an absent id, and a compaction inserted at random places.
    */
  private def opsFor(seed: Long): List[Op] = {
    def insert(ops: List[Op], at: Int, more: Op*) =
      ops.take(at) ++ more ++ ops.drop(at)
    val gen = for {
      base <- upsertOf(Gen.const(5))
      ops <- Gen.listOfN(4, opGen)
      twice <- Gen.pick(2, base.docs).map(ds => Upsert(ds.toList))
      gone <- Gen.oneOf(base.docs).map(d => Delete(List(d._1, pool.size)))
      at <- Gen.listOfN(4, Gen.choose(0, ops.size))
    } yield base :: insert(insert(insert(insert(ops, at(0), twice, twice),
      at(1), Upsert(Nil)), at(2), Compact), at(3), gone)
    gen.pureApply(Gen.Parameters.default, Seed(seed))
  }

  private def vec(seed: Long): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(dim)(rnd.nextGaussian().toFloat)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Chunk] =
    df.select(col("key"), col("content"), col("documentid"),
        col("embedding")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getSeq[Float](3).toList)).toSeq.sortBy(c => (c._1, c._2))

  private def cosine(a: Seq[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  private def run(seed: Long, cap: Option[Int]): Unit = {
    val tag = s"[seed $seed cap ${cap.getOrElse("default")}]"
    val st = new SnapshotStore(spark, java.nio.file.Files
      .createTempDirectory("snapshot-mor-property").toString, nBuckets = 2)
    val rnd = new scala.util.Random(seed)
    var model = Map.empty[String, Seq[Chunk]]
    val atVersion = scala.collection.mutable.Map.empty[Long, Map[String, Seq[Chunk]]]
    var revision = 0
    def all(m: Map[String, Seq[Chunk]]) = m.values.flatten.toSeq.sortBy(c => (c._1, c._2))
    for (op <- opsFor(seed)) {
      op match {
        case Upsert(docs) =>
          revision += 1
          val batch = docs.toMap.toSeq.map { case (d, n) =>
            pool(d) -> (0 until n).map(i => (s"${pool(d)}:$i",
              s"${pool(d)}/r$revision/$i", pool(d),
              vec(seed * 7919L + revision * 101L + d * 11L + i).toList))
          }
          import spark.implicits._
          st.upsert(batch.flatMap(_._2).map { case (key, content, d, e) =>
            EmbeddedChunk(key, e.toArray, content, "", d)
          }.toDS().repartition(2), "c")
          model ++= batch
        case Delete(picks) =>
          val ids = picks.map(p => if (p < pool.size) pool(p) else s"absent$p")
          st.delete("c", ids)
          model --= ids
        case Compact => st.compact("c")
      }
      st.versions("c").lastOption.foreach(v =>
        atVersion.getOrElseUpdate(v, model))
      assert(rowsOf(st.read("c")) == all(model), s"$tag after $op: read(c)")
      val retained = st.versions("c")
      val byVersion = retained.map(v => st.readAt("c", v)
          .withColumn("__v", lit(v)))
        .reduce(_ unionByName _)
      val got = byVersion.select(col("__v"), col("key"), col("content"),
          col("documentid"), col("embedding")).collect()
        .groupBy(_.getLong(0)).map { case (v, rs) => v -> rs.map(r =>
          (r.getString(1), r.getString(2), r.getString(3),
            r.getSeq[Float](4).toList)).toSeq.sortBy(c => (c._1, c._2)) }
      retained.foreach(v => assert(got.getOrElse(v, Nil) == all(atVersion(v)),
        s"$tag after $op: readAt($v)"))
      if (model.nonEmpty) {
        val qv = vec(rnd.nextLong())
        val want = all(model).map { case (key, _, _, e) =>
          key -> BigDecimal(cosine(e, qv))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.sortBy { case (key, s) => (-s, key) }.take(k).map(_._1)
        val answer = st.search("c",
          graft.functions.VectorLiteralProvider.render(qv), k = k,
          provider = new graft.functions.VectorLiteralProvider(dim))
          .select(col("key")).collect().map(_.getString(0)).toSeq
        assert(answer == want, s"$tag after $op: exact search top-$k")
      }
    }
  }

  for (cap <- Seq(None, Some(0)))
    test(s"merge-on-read equals the model through a random sequence " +
        s"(cap ${cap.getOrElse("default")})") {
      cap.foreach(c => spark.conf.set(capKey, c.toString))
      try run(21L, cap)
      finally spark.conf.unset(capKey)
    }

  test("at cap 0 the manifest keeps its id-free format byte for byte") {
    val root = java.nio.file.Files.createTempDirectory("snapshot-golden")
    val st = new SnapshotStore(spark, root.toString, nBuckets = 2)
    import spark.implicits._
    def chunk(d: String) = Seq(EmbeddedChunk(s"$d:0", vec(1), d, "", d)).toDS()
    spark.conf.set(capKey, "0")
    try {
      st.upsert(chunk("a"), "c")
      st.upsert(chunk("b"), "c")
      st.delete("c", Seq("a"))
    } finally spark.conf.unset(capKey)
    val Seq(base, delta, tomb) = st.readManifestJson("c", 3L).entries.map(_.path)
    val golden = s"""{"entries":[{"kind":"base","path":"$base","seq":1},""" +
      s"""{"kind":"delta","path":"$delta","seq":2},""" +
      s"""{"kind":"tombstone","path":"$tomb","seq":3}],""" +
      """"op":"delete","parent":2,"version":3}"""
    assert(new String(java.nio.file.Files.readAllBytes(
      root.resolve("c/_snapshots/v00000003.json")), "UTF-8") == golden)
    assert(rowsOf(st.read("c")).map(_._1) == Seq("b:0"))
  }

  test("manifest ids round-trip through the codec, JSON-hostile text " +
      "included") {
    import SnapshotStore.{Entry, Manifest}
    val m = Manifest(4L, 3L, "delete", Seq(
      Entry("data/base-x", "base", 1L),
      Entry("data/delta-y", "delta", 2L, Some(Nil)),
      Entry("data/tomb-z", "tombstone", 4L,
        Some(Seq("back\\slash", "new\nline", "q\"uote", "ünï日本")))))
    assert(Manifest.fromJson(m.toJson) == m)
    assert(m.toJson.startsWith(
      """{"entries":[{"kind":"base","path":"data/base-x","seq":1},""" +
        """{"ids":[],"kind":"delta","""))
  }

  test("with ids in every entry, a read is one scan: no exchange, no " +
      "join, no aggregate, and tombstone files are not read") {
    val st = new SnapshotStore(spark, java.nio.file.Files
      .createTempDirectory("snapshot-one-scan").toString, nBuckets = 2)
    import spark.implicits._
    def chunks(ds: String*) =
      ds.map(d => EmbeddedChunk(s"$d:0", vec(d.hashCode), d, "", d)).toDS()
    st.upsert(chunks("a", "b", "c"), "c")
    st.upsert(chunks("b"), "c")
    st.delete("c", Seq("c"))
    st.upsert(chunks("d"), "c")
    assert(st.readManifestJson("c", 4L).entries.map(_.ids) == Seq(
      None, Some(Seq("b")), Some(Seq("c")), Some(Seq("d"))))
    val df = st.read("c")
    val plan = df.queryExecution.executedPlan.toString
    Seq("Exchange", "Join", "Aggregate").foreach(op =>
      assert(!plan.contains(op), s"the read plans a $op:\n$plan"))
    assert(df.inputFiles.nonEmpty && !df.inputFiles.exists(_.contains("/tomb-")))
    assert(rowsOf(df).map(_._1) == Seq("a:0", "b:0", "d:0"))
  }
}

object SnapshotMergeOnReadPropertySpec {
  /** (key, content, documentid, embedding) */
  type Chunk = (String, String, String, List[Float])

  sealed trait Op
  /** Upsert these pool documents with this many chunks each. */
  final case class Upsert(docs: List[(Int, Int)]) extends Op
  /** Delete these pool positions; past the pool, an absent id. */
  final case class Delete(picks: List[Int]) extends Op
  case object Compact extends Op
}
