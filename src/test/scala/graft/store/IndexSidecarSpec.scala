package graft.store

import graft.SparkSpec
import graft.model.EmbeddedChunk
import org.apache.spark.sql.functions._

/** [[ChunkStore.buildIndex]] / [[ChunkStore.hasFreshIndex]] — the
  * persisted ANN serving path, exercised on ALL THREE layouts (the sidecar
  * machinery lives on the trait, so the 100 TB bucketed and
  * manifest-committed snapshot stores index and serve exactly like the
  * per-document one). Properties:
  *
  *   - a fresh sidecar serves `search(mode=lsh|ivfsq)` with EXACTLY the
  *     rows the fit-at-search path returns (the fits are deterministic
  *     over the same rows, so persistence must be invisible to results);
  *   - any upsert stales the sidecar (fingerprint mismatch) and search
  *     falls back to fit-at-search — never silently serving an index
  *     that is missing the newest documents;
  *   - the sidecar is invisible to the collection's own reads and its
  *     file census;
  *   - compaction keeps a fresh sidecar fresh (re-stamped, its deltas
  *     folded) and a stale one stale.
  */
class IndexSidecarSpec extends SparkSpec {

  private val dim = 16

  private def vec(seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val raw = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private def mkStore(layout: String): (ChunkStore, String) = {
    val root = java.nio.file.Files
      .createTempDirectory("sidecar-spec").toString
    val vs: ChunkStore = layout match {
      case "document" => new VectorStore(spark, root)
      case "bucketed" => new BucketedVectorStore(spark, root, nBuckets = 4)
      case "snapshot" => new SnapshotStore(spark, root, nBuckets = 4)
    }
    import spark.implicits._
    val rows = for (d <- 0 until 8; i <- 0 until 8) yield
      EmbeddedChunk(f"d$d%02d:$i", vec(d * 100 + i), s"c$d$i", "",
        f"d$d%02d")
    vs.upsert(rows.toDS().repartition(4), "c")
    (vs, root)
  }

  /** A sidecar-served search plans a scan of the `_index` code files;
    * the fit-at-search path reads only the collection.
    */
  private def servedFromSidecar(vs: ChunkStore, mode: String,
      qv: Array[Float]): Boolean =
    vs.search("c", graft.functions.VectorLiteralProvider.render(qv),
        k = 5, provider = new graft.functions.VectorLiteralProvider(dim),
        mode = mode)
      .inputFiles.exists(_.contains("/_index/"))

  private def hits(vs: ChunkStore, mode: String, qv: Array[Float]) =
    vs.search("c", graft.functions.VectorLiteralProvider.render(qv),
        k = 5, provider = new graft.functions.VectorLiteralProvider(dim),
        mode = mode)
      .select(col("key"), col("score")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq

  for (layout <- Seq("document", "bucketed", "snapshot")) {

  test(s"[$layout] sidecar-served ANN search returns the fit-at-search rows") {
    val (vs, root) = mkStore(layout)
    val queries = Seq(vec(9001), vec(9002), vec(9003))
    val before = for (m <- Seq("lsh", "ivfsq"); q <- queries)
      yield hits(vs, m, q)
    val censusBefore = ChunkStore.countDataFiles(spark, s"$root/c")
    val fpBefore = ChunkStore.dataFingerprint(spark, s"$root/c")
    vs.buildIndex("c", "lsh")
    vs.buildIndex("c", "ivfsq")
    assert(vs.hasFreshIndex("c", "lsh"), "lsh sidecar not fresh")
    assert(vs.hasFreshIndex("c", "ivfsq"), "ivfsq sidecar not fresh")
    val after = for (m <- Seq("lsh", "ivfsq"); q <- queries)
      yield hits(vs, m, q)
    assert(after == before,
      "sidecar-served results differ from fit-at-search results")
    // Building the index changes neither the data census nor the
    // fingerprint (else building would immediately stale itself).
    assert(ChunkStore.countDataFiles(spark, s"$root/c") == censusBefore,
      "index sidecar files leaked into the data census")
    assert(ChunkStore.dataFingerprint(spark, s"$root/c") == fpBefore,
      "building the index changed the data fingerprint")
  }

  test(s"[$layout] an upsert stales the sidecar and search falls back") {
    import spark.implicits._
    val (vs, _) = mkStore(layout)
    vs.buildIndex("c", "ivfsq")
    vs.buildIndex("c", "lsh")
    assert(vs.hasFreshIndex("c", "ivfsq"))
    // New document: the persisted index has no codes for it.
    val extra = Seq(EmbeddedChunk("d99:0", vec(9900), "new", "", "d99"))
    vs.upsert(extra.toDS(), "c")
    assert(!vs.hasFreshIndex("c", "ivfsq"),
      "sidecar still fresh after an upsert")
    assert(!vs.hasFreshIndex("c", "lsh"),
      "sidecar still fresh after an upsert")
    // Fallback fit-at-search CAN see the new document: query with the
    // new doc's own vector — exact nearest neighbor is itself.
    val got = hits(vs, "ivfsq", vec(9900))
    assert(got.nonEmpty && got.head._1 == "d99:0",
      s"stale-index fallback missed the newest document: $got")
    // Rebuild restores freshness and serves the new row.
    vs.buildIndex("c", "ivfsq")
    assert(vs.hasFreshIndex("c", "ivfsq"))
    val got2 = hits(vs, "ivfsq", vec(9900))
    assert(got2.nonEmpty && got2.head._1 == "d99:0",
      s"rebuilt sidecar missed the newest document: $got2")
  }

  test(s"[$layout] refreshIndex: frozen-model incremental refresh equals " +
      "a full re-encode and restores freshness through upserts AND deletes") {
    import spark.implicits._
    val (vs, _) = mkStore(layout)
    vs.buildIndex("c", "ivfsq")
    vs.buildIndex("c", "lsh")
    // The delta: one new document, one replaced document (fewer
    // chunks), one deleted document.
    vs.upsert(Seq(EmbeddedChunk("d99:0", vec(9900), "new", "", "d99"),
      EmbeddedChunk("d03:0", vec(8300), "repl", "", "d03")).toDS(), "c")
    vs.delete("c", Seq("d05"))
    assert(!vs.hasFreshIndex("c", "ivfsq"))
    val delta = Seq("d99", "d03", "d05")
    vs.refreshIndex("c", "ivfsq", delta)
    vs.refreshIndex("c", "lsh", delta)
    assert(vs.hasFreshIndex("c", "ivfsq"), "ivfsq not fresh after refresh")
    assert(vs.hasFreshIndex("c", "lsh"), "lsh not fresh after refresh")
    // Code tables track the collection's key set exactly — no orphan
    // codes for deleted/replaced chunks, no missing codes for new ones.
    val keys = vs.read("c").select("key").collect()
      .map(_.getString(0)).sorted.toSeq
    for (m <- Seq("ivfsq", "lsh")) {
      val (codes, model) = vs.indexCodes("c", m)
      val codeKeys = codes.select("key").collect().map(_.getString(0))
        .sorted.toSeq
      assert(codeKeys == keys, s"$m code table diverged from the " +
        s"collection: ${codeKeys.size} codes vs ${keys.size} keys")
      // Refresh(delta) == frozen-model FULL re-encode, cell for cell.
      val expected = model.encode(vs.read("c"))
      assert(codes.exceptAll(expected).isEmpty &&
        expected.exceptAll(codes).isEmpty,
        s"refreshed $m codes differ from a frozen-model full re-encode")
    }
    // The refreshed sidecar actually serves: the new document's own
    // vector finds it; the deleted document never surfaces.
    val hit = hits(vs, "ivfsq", vec(9900))
    assert(hit.nonEmpty && hit.head._1 == "d99:0",
      s"refreshed index missed the new document: $hit")
    assert(!hits(vs, "lsh", vec(500 + 3)).exists(_._1.startsWith("d05")),
      "deleted document resurfaced through the refreshed lsh index")
  }

  test(s"[$layout] compact keeps a fresh sidecar fresh and serving") {
    import spark.implicits._
    val (vs, _) = mkStore(layout)
    vs.buildIndex("c", "lsh")
    vs.buildIndex("c", "ivfsq")
    // A refreshed delta first, so the compaction has deltas to fold.
    vs.upsert(Seq(EmbeddedChunk("d99:0", vec(9900), "new", "", "d99"))
      .toDS(), "c")
    Seq("lsh", "ivfsq").foreach(m => vs.refreshIndex("c", m, Seq("d99")))
    val before = for (m <- Seq("lsh", "ivfsq")) yield hits(vs, m, vec(9001))
    vs.compact("c")
    for (m <- Seq("lsh", "ivfsq")) {
      assert(vs.hasFreshIndex("c", m),
        s"$m sidecar went stale although compact changed no row")
      val (codes, model) = vs.indexCodes("c", m)
      val expected = model.encode(vs.read("c"))
      assert(codes.exceptAll(expected).isEmpty &&
        expected.exceptAll(codes).isEmpty,
        s"$m codes after compact differ from a full re-encode")
      assert(servedFromSidecar(vs, m, vec(9001)),
        s"$m search after compact did not read the sidecar")
    }
    val after = for (m <- Seq("lsh", "ivfsq")) yield hits(vs, m, vec(9001))
    assert(after == before, "compact changed a sidecar-served answer")
  }

  test(s"[$layout] compact leaves a stale sidecar stale") {
    import spark.implicits._
    val (vs, _) = mkStore(layout)
    vs.buildIndex("c", "lsh")
    vs.upsert(Seq(EmbeddedChunk("d99:0", vec(9900), "new", "", "d99"))
      .toDS(), "c")
    assert(!vs.hasFreshIndex("c", "lsh"))
    vs.compact("c")
    assert(!vs.hasFreshIndex("c", "lsh"),
      "compact re-stamped a sidecar that was missing a document")
    val got = hits(vs, "lsh", vec(9900))
    assert(got.nonEmpty && got.head._1 == "d99:0",
      s"fit-at-search fallback missed the newest document: $got")
  }
  }
}
