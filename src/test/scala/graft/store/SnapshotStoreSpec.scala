package graft.store

import graft.SparkSpec
import graft.model.EmbeddedChunk
import java.nio.file.Files
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

/** The manifest-committed snapshot layout: merge-on-read replace
  * semantics, immutable data files, atomic CAS commits, time travel,
  * copy-on-write compaction, and vacuum — each property pinned here;
  * the cross-layout contract lives in ChunkStoreSwapSpec, the content
  * oracle in q244/q245/q246.
  */
class SnapshotStoreSpec extends SparkSpec {

  private def newStore(nBuckets: Int = 4): SnapshotStore =
    new SnapshotStore(spark,
      Files.createTempDirectory("graft-snap").toString, nBuckets)

  /** `n` chunks per document, content salted by `tag` so a re-ingest
    * with a different tag is distinguishable from the original.
    */
  private def chunksOf(tag: String, ids: (String, Int)*): Dataset[EmbeddedChunk] = {
    val rows = ids.flatMap { case (d, n) =>
      (0 until n).map(i => EmbeddedChunk(s"$d:$tag$i",
        Array(1.0f, 0.25f * i), s"$d/$tag/$i", "ctx", d))
    }
    spark.createDataset(rows)(Encoders.product[EmbeddedChunk])
  }

  private def keysOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("key").collect().map(_.getString(0)).sorted.toSeq

  test("merge-on-read replace semantics: newest seq wins per document, " +
      "tombstones drop it, untouched documents come from base") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 3, "d2" -> 3, "d3" -> 2), "c")
    st.upsert(chunksOf("b", "d2" -> 1), "c") // replace d2 with FEWER chunks
    st.delete("c", Seq("d3"))
    assert(keysOf(st.read("c")) ==
      Seq("d1:a0", "d1:a1", "d1:a2", "d2:b0"))
    // Replacing the replacement works too (three generations).
    st.upsert(chunksOf("c", "d2" -> 2), "c")
    assert(keysOf(st.read("c")) ==
      Seq("d1:a0", "d1:a1", "d1:a2", "d2:c0", "d2:c1"))
    // A deleted document can be re-ingested (upsert seq beats tombstone).
    st.upsert(chunksOf("z", "d3" -> 1), "c")
    assert(keysOf(st.read("c")).contains("d3:z0"))
  }

  test("delete is a no-op on an empty id list and harmless on absent ids") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2), "c")
    val v = st.versions("c")
    st.delete("c", Seq.empty)
    assert(st.versions("c") == v, "empty delete must not commit")
    st.delete("c", Seq("never-existed"))
    assert(keysOf(st.read("c")) == Seq("d1:a0", "d1:a1"))
  }

  test("time travel: every retained version reads exactly as committed, " +
      "and commits never touch existing data files") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2), "c") // v1
    val v1Keys = keysOf(st.read("c"))
    val v1Files = st.liveDataFiles("c", 1L)
    st.upsert(chunksOf("b", "d2" -> 1), "c") // v2
    st.delete("c", Seq("d1"))                // v3
    st.compact("c")                          // v4
    assert(st.versions("c") == Seq(1L, 2L, 3L, 4L))
    assert(keysOf(st.readAt("c", 1L)) == v1Keys,
      "v1 must read identically after three later commits")
    assert(keysOf(st.readAt("c", 2L)) ==
      Seq("d1:a0", "d1:a1", "d2:b0"))
    assert(keysOf(st.readAt("c", 3L)) == Seq("d2:b0"))
    assert(keysOf(st.readAt("c", 4L)) == Seq("d2:b0"))
    // v1's files are still exactly the files v1 listed (immutability).
    assert(st.liveDataFiles("c", 1L).sorted == v1Files.sorted)
  }

  test("a taken version slot is a lost race, not a corruption: the " +
      "commit loop rebases onto the intruder and lands the next slot") {
    val st = newStore()
    val root = Files.createTempDirectory("graft-snap-cas").toString
    val st2 = new SnapshotStore(spark, root, 4)
    st2.upsert(chunksOf("a", "d1" -> 2), "c") // v1
    // Forge v2: another writer won the slot with a manifest that keeps
    // v1's entries (an op that changed nothing — the worst-case
    // intruder is any valid manifest).
    val m1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/c/_snapshots/v00000001.json")), "UTF-8")
    val forged = m1.replace("\"parent\":0", "\"parent\":1")
      .replace("\"version\":1", "\"version\":2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/c/_snapshots/v00000002.json"),
      forged.getBytes("UTF-8"))
    st2.upsert(chunksOf("b", "d2" -> 1), "c")
    assert(st2.versions("c") == Seq(1L, 2L, 3L),
      "the upsert must land at v3, after the taken v2 slot")
    assert(keysOf(st2.read("c")) == Seq("d1:a0", "d1:a1", "d2:b0"),
      "the rebase must keep the intruder's entries AND the new batch")
  }

  test("concurrent writers: every batch lands, versions stay contiguous") {
    val st = newStore()
    st.upsert(chunksOf("a", "d0" -> 1), "c")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 6).map { i =>
      Future(st.upsert(chunksOf("w", s"w$i" -> 1), "c"))
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(st.versions("c") == (1L to 7L),
      "7 commits must land 7 contiguous versions, whatever the interleaving")
    val keys = keysOf(st.read("c"))
    (1 to 6).foreach(i => assert(keys.contains(s"w$i:w0"),
      s"writer $i's batch must survive the race"))
  }

  test("compaction racing an upsert never loses the upsert (rebase keeps " +
      "entries committed past the compaction snapshot)") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2), "c")
    st.upsert(chunksOf("b", "d2" -> 1), "c")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val c = Future(st.compact("c"))
    val u = Future(st.upsert(chunksOf("r", "d9" -> 1), "c"))
    Await.result(Future.sequence(Seq(c.map(_ => ()), u)), 120.seconds)
    val keys = keysOf(st.read("c"))
    assert(keys.contains("d9:r0"),
      s"the racing upsert's document must survive compaction: $keys")
    assert(keys.filter(_.startsWith("d2")) == Seq("d2:b0"))
  }

  test("two racing compactions commit exactly ONE base: the loser " +
      "detects the winner's base and yields instead of stacking a second") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2), "c") // v1
    st.upsert(chunksOf("b", "d2" -> 1), "c")            // v2
    val expected = keysOf(st.read("c"))
    // Compaction A stages its rewrite, then (in its pre-commit window)
    // compaction B runs START TO FINISH — the worst-case interleaving:
    // B's base commits first, so A's commit MUST detect it and yield.
    st.compact("c", beforeCommit = () => st.compact("c"))
    val latest = st.versions("c").last
    val m = st.readManifestJson("c", latest)
    assert(m.entries.count(_.kind == "base") == 1,
      s"exactly one base may survive racing compactions, got ${m.entries}")
    assert(keysOf(st.read("c")) == expected,
      "content must be unchanged — and in particular never DOUBLED")
    // The same guard under a real thread race: whatever the
    // interleaving, no version's manifest ever carries two bases.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    st.upsert(chunksOf("c", "d3" -> 1), "c")
    val racers = (1 to 3).map(_ => Future(st.compact("c")))
    Await.result(Future.sequence(racers), 120.seconds)
    st.versions("c").foreach { v =>
      assert(st.readManifestJson("c", v).entries.count(_.kind == "base") <= 1,
        s"manifest v$v carries more than one base entry")
    }
    assert(keysOf(st.read("c")) == (expected :+ "d3:c0").sorted)
  }

  test("copy-on-write compact: content byte-identical, live census " +
      "bounded by nBuckets, old versions still readable") {
    val st = newStore(nBuckets = 4)
    st.upsert(chunksOf("a", (1 to 30).map(i => s"d$i" -> 2): _*), "c")
    st.upsert(chunksOf("b", "d5" -> 1, "d6" -> 1), "c")
    st.delete("c", Seq("d7"))
    val before = keysOf(st.read("c"))
    val (filesBefore, filesAfter) = st.compact("c")
    assert(filesAfter <= 4 && filesAfter < filesBefore,
      s"live census must shrink to <= nBuckets ($filesBefore -> $filesAfter)")
    assert(keysOf(st.read("c")) == before, "compaction must not change content")
    assert(keysOf(st.readAt("c", 3L)) == before,
      "the pre-compact version reads the same rows")
  }

  test("vacuum: retained versions byte-identical, aged-out versions " +
      "refuse, unreferenced and orphan dirs swept, grace window holds") {
    val root = Files.createTempDirectory("graft-snap-vac").toString
    val st = new SnapshotStore(spark, root, 4)
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2), "c") // v1
    st.upsert(chunksOf("b", "d2" -> 1), "c")            // v2
    st.compact("c")                                     // v3
    // An orphan from a crashed writer: data written, manifest never
    // published.
    val orphan = java.nio.file.Paths.get(s"$root/c/data/delta-orphan")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    // Grace window: a fresh dir must NOT be collected.
    val (del0, _) = st.vacuum("c", retainLast = 3, minAgeMs = 3600000L)
    assert(del0 == 0L, "fresh dirs are inside the in-flight grace window")
    assert(java.nio.file.Files.exists(orphan))
    val liveBefore = keysOf(st.read("c"))
    val (deleted, live) = st.vacuum("c", retainLast = 1, minAgeMs = 0L)
    assert(deleted >= 3L,
      s"v1+v2's delta dirs and the orphan must be swept (deleted=$deleted)")
    assert(live == 1L, "only the compacted base remains live")
    assert(!java.nio.file.Files.exists(orphan))
    assert(keysOf(st.read("c")) == liveBefore,
      "vacuum must not change live content")
    val e = intercept[IllegalArgumentException](st.readAt("c", 1L))
    assert(e.getMessage.contains("vacuumed") ||
      e.getMessage.contains("does not exist"))
  }

  test("changedDocuments: added/removed/changed classes; an identical " +
      "re-upsert is NO change; fast == full across a compaction") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2), "c") // v1
    st.upsert(chunksOf("a", "d1" -> 2), "c") // v2: IDENTICAL re-upsert
    st.upsert(chunksOf("b", "d2" -> 1), "c") // v3: d2 changes
    st.upsert(chunksOf("n", "d3" -> 1), "c") // v4: d3 added
    st.delete("c", Seq("d1"))                // v5: d1 removed
    def diff(a: Long, b: Long): Seq[(String, String)] =
      st.changedDocuments("c", a, b).collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(diff(1L, 2L) == Seq.empty,
      "a content-identical re-upsert must not appear in the diff")
    val expect = Seq("d1" -> "removed", "d2" -> "changed", "d3" -> "added")
    assert(diff(1L, 5L) == expect)
    st.compact("c")                          // v6: full-path trigger
    assert(diff(1L, 6L) == expect,
      "the full content diff across the compaction must agree with " +
        "the manifest-pruned fast diff on the same logical window")
    assert(diff(5L, 6L) == Seq.empty,
      "a copy-on-write compact is invisible to the diff")
    val e = intercept[IllegalArgumentException](
      st.changedDocuments("c", 3L, 3L))
    assert(e.getMessage.contains("fromV < toV"))
  }

  test("changedDocuments: a COMPACT-THEN-DELTAS window must diff full — " +
      "pre-compact changes are folded into the base and invisible to " +
      "any delta-mentioned-docs prune") {
    // The r20 verdict asked whether a window holding a compaction
    // followed by deltas could still prune to the docs the POST-compact
    // deltas mention. It cannot: d2's change commits BEFORE the
    // compaction, the compaction folds that delta into the base, and
    // m(toV) then carries no entry naming d2 — a post-compact
    // delta-prune would return only d3 and silently drop d2 from the
    // diff. This pins the arbitration: any base entry in the window ⇒
    // the full two-scan diff, which must still see BOTH changes.
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2), "c") // v1
    st.upsert(chunksOf("b", "d2" -> 1), "c")            // v2: d2 changes
    st.compact("c")                                     // v3: folds v2
    st.upsert(chunksOf("n", "d3" -> 1), "c")            // v4: d3 added
    val got = st.changedDocuments("c", 1L, 4L).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == Seq("d2" -> "changed", "d3" -> "added"),
      "the full diff across a mid-window compaction must report the " +
        s"folded pre-compact change too, got $got")
  }

  test("changedDocuments: a window holding only an EMPTY upsert commit " +
      "short-circuits to the empty diff (no scans, no empty-IN plan)") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 1), "c") // v1
    st.upsert(chunksOf("z"), "c")                       // v2: zero rows
    val d = st.changedDocuments("c", 1L, 2L)
    assert(d.collect().isEmpty,
      "an empty delta must provably change nothing")
    assert(d.schema.fieldNames.toSeq == Seq("documentid", "change"),
      "the short-circuit must keep the diff schema")
  }

  test("changedDocuments: the IN-pushdown fast route and the semi-join " +
      "route return identical rows (cap override forces each)") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2, "d3" -> 1), "c") // v1
    st.compact("c")                                                // v2
    st.upsert(chunksOf("b", "d2" -> 1), "c")                       // v3
    st.delete("c", Seq("d3"))                                      // v4
    def diff(): Seq[(String, String)] =
      st.changedDocuments("c", 2L, 4L).collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val expect = Seq("d2" -> "changed", "d3" -> "removed")
    val capKey = graft.store.SnapshotStore.DiffPushdownCapKey
    spark.conf.set(capKey, "1000")
    try assert(diff() == expect, "IN-pushdown route")
    finally spark.conf.set(capKey, "0")
    // cap 0: every window overflows the literal-IN budget — the
    // semi-join plan must return the same rows.
    try assert(diff() == expect, "semi-join route")
    finally spark.conf.unset(capKey)
  }

  test("a reader holding a vacuumed version fails LOUDLY at " +
      "materialization — never a silent partial result") {
    val st = newStore()
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2), "c") // v1
    st.upsert(chunksOf("b", "d2" -> 1), "c")            // v2
    st.compact("c")                                     // v3
    // The in-flight reader: its plan is built (manifest read, file set
    // pinned) BEFORE the vacuum sweeps v1's files.
    val inFlight = st.readAt("c", 1L)
    val retainedInFlight = st.readAt("c", 3L)
    st.vacuum("c", retainLast = 1, minAgeMs = 0L)
    val e = intercept[Throwable](inFlight.collect())
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" | ")
      .toLowerCase
    assert(Seq("filenotfound", "file_not_exist", "does not exist",
        "no such file").exists(chain.contains),
      s"the vacuumed-version read must surface missing files, got: $chain")
    // A reader of a RETAINED version is untouched by the same vacuum.
    assert(retainedInFlight.count() == 3L)
  }

  test("vacuum sweeps sidecar file groups no manifest names (a crashed " +
      "refresh), under the same grace, and never a live one") {
    val root = Files.createTempDirectory("graft-snap-sidecar-vac").toString
    val st = new SnapshotStore(spark, root, 4)
    st.upsert(chunksOf("a", "d1" -> 2, "d2" -> 2), "c")
    Seq("lsh", "ivfsq").foreach(st.buildIndex("c", _))
    st.upsert(chunksOf("b", "d2" -> 1), "c")
    Seq("lsh", "ivfsq").foreach(st.refreshIndex("c", _, Seq("d2")))
    // The crash: a refresh wrote its code group and died before the
    // manifest publish.
    val crashed = s"$root/c/_index/lsh/delta-crashed0000000"
    spark.range(3).toDF("key").write.parquet(crashed)
    def dir(p: String) = java.nio.file.Paths.get(p)
    val liveGroups = Seq("lsh", "ivfsq").flatMap(m =>
      ChunkStore.latestSidecar(spark, s"$root/c/_index/$m").get.groups
        .map(g => s"$root/c/_index/$m/${g.path}"))
    assert(liveGroups.size == 4 && liveGroups.forall(g => Files.exists(dir(g))))
    st.vacuum("c", retainLast = 1, minAgeMs = 3600000L)
    assert(Files.exists(dir(crashed)),
      "a fresh unpublished group is inside the in-flight grace window")
    st.vacuum("c", retainLast = 1, minAgeMs = 0L)
    assert(!Files.exists(dir(crashed)), "the crashed group must be swept")
    assert(liveGroups.forall(g => Files.exists(dir(g))),
      "vacuum must never touch a group the manifest names")
    for (m <- Seq("lsh", "ivfsq")) {
      assert(st.hasFreshIndex("c", m), m)
      val answer = st.search("c", "1.0 0.0", k = 2,
        provider = new graft.functions.VectorLiteralProvider(2), mode = m)
      assert(answer.inputFiles.exists(_.contains("/_index/")),
        s"$m must still serve from the sidecar")
      assert(answer.count() == 2L, m)
    }
  }

  test("vacuum's library default keeps the 1h in-flight grace window " +
      "(sweeping staged-but-uncommitted data is an explicit opt-in)") {
    val root = Files.createTempDirectory("graft-snap-grace").toString
    val st = new SnapshotStore(spark, root, 4)
    st.upsert(chunksOf("a", "d1" -> 2), "c")
    st.upsert(chunksOf("b", "d1" -> 1), "c")
    // An in-flight writer: data dir written, manifest not yet published.
    val staged = java.nio.file.Paths.get(s"$root/c/data/delta-inflight")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.write(staged.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    val (deleted, _) = st.vacuum("c", retainLast = 1) // default minAgeMs
    assert(deleted == 0L,
      "the DEFAULT grace window must protect the in-flight writer's dir")
    assert(java.nio.file.Files.exists(staged))
  }

  test("the snapshot layout lands identical contents to the rename " +
      "layouts through the ChunkStore seam") {
    val snap = newStore()
    val perDoc = new VectorStore(spark,
      Files.createTempDirectory("graft-snap-vs").toString)
    val batchA = chunksOf("a", "d1" -> 3, "d2" -> 2)
    val batchB = chunksOf("b", "d2" -> 3) // replace with MORE chunks
    Seq[ChunkStore](snap, perDoc).foreach { s =>
      s.upsert(batchA, "c"); s.upsert(batchB, "c"); s.delete("c", Seq("d1"))
    }
    def contents(s: ChunkStore) = s.read("c")
      .select(col("key"), col("content"), col("documentid"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(contents(snap) == contents(perDoc) && contents(snap).nonEmpty)
  }
}
