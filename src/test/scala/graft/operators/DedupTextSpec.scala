package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupTextSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (2L, "completely different content about solar panels and wind farms"),
    (3L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG NEAR THE RIVER BANK"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"))
    .toDF("doc_id", "text")

  test("exact dedup keeps one row per normalized text") {
    val out = Dedup.exact(docs, "text")
    assert(out.count() == 3) // 0≡3≡4 normalize equal; 1; 2
  }

  test("minhash LSH finds the true near-dup pair and skips distinct text") {
    val sh = Dedup.shingles(docs.filter($"doc_id" < 3), "doc_id", "text")
    val sigs = Dedup.minhashSignatures(sh, k = 16)
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBuckets(sigs, bands = 8, rowsPerBand = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // 12/14 shared shingles
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)))
  }

  test("simhash: near-identical texts within small hamming distance") {
    val out = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(0L), out(4L)) == 0) // identical text
    assert(ham(out(0L), out(1L)) < ham(out(0L), out(2L)))
  }

  test("winnow fingerprints: identical docs share all fingerprints") {
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(4L))
    assert(fps.values.forall(_ > 0))
  }

  test("connected components: chains converge to min label, singletons kept") {
    // Chain 4-5-6-7 forces multi-round propagation (the min label must
    // travel 3 hops); 10-11 is a pair; 99 has no edges.
    val edges = Seq((5L, 4L), (5L, 6L), (7L, 6L), (10L, 11L))
      .toDF("a", "b")
    val verts = Seq(4L, 5L, 6L, 7L, 10L, 11L, 99L).toDF("id")
    val got = Dedup.connectedComponents(edges, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 4L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("connected components: 1000-vertex path converges in O(log d) rounds") {
    // Diameter 999: pure min-propagation would need 999 rounds, so
    // converging under maxIter=20 proves the pointer-doubling step works.
    val edges = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val verts = (0L to 999L).toDF("id")
    val got = Dedup.connectedComponents(edges, verts, maxIter = 20)
      .collect()
    assert(got.length == 1000)
    assert(got.forall(_.getLong(1) == 0L),
      "every path vertex must label to the minimum id 0")
  }

  test("connected components: too few rounds throws instead of partial labels") {
    val edges = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val verts = (0L to 999L).toDF("id")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(edges, verts, maxIter = 3))
    assert(e.getMessage.contains("did not converge in 3 rounds"))
  }

  test("connected components match driver union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(150)(
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val verts = (0L until 200L).toDF("id")
    // Driver-side union-find oracle, min-id canonical labels.
    val parent = Array.tabulate(200)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until 200).map(i => i.toLong -> find(i).toLong).toMap
    val got = Dedup.connectedComponents(edges.toDF("a", "b"), verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("language id picks the right stopword profile per language") {
    val samples = Seq(
      (1L, "the cat sat on the mat and it was happy with this"),
      (2L, "der Hund ist mit der Katze und das ist nicht schlecht"),
      (3L, "el perro y la casa de los niños es una maravilla para todos"),
      (4L, "le chat est dans la maison et les enfants sont pour une fois"),
      (5L, "这是一个中文句子测试语言识别功能的能力"),
      (6L, "это русский текст для проверки определения языка"),
      (7L, "xyzzy plugh qwerty")).toDF("id", "text")
    val out = TextAnalysis.languageId(samples, "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("lang_pred"))
      .toMap
    assert(out(1L) == "en"); assert(out(2L) == "de")
    assert(out(3L) == "es"); assert(out(4L) == "fr")
    assert(out(5L) == "zh"); assert(out(6L) == "ru")
    assert(out(7L) == "und")
  }

  test("quality score: prose scores above repeated-token junk") {
    val samples = Seq(
      (1L, "a thoughtful detailed paragraph discussing renewable energy systems"),
      (2L, "spam spam spam spam spam spam spam spam")).toDF("id", "text")
    val out = TextAnalysis.qualityScore(samples, "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("quality"), r.getAs[Boolean]("low_diversity"))).toMap
    assert(out(1L)._1 > out(2L)._1)
    assert(!out(1L)._2 && out(2L)._2)
  }

  test("q125: component-keyed split is leakage-free where doc-keyed leaks") {
    import org.apache.spark.sql.functions._
    val rep = graft.queries.DedupQueries
      .queries("q125_leakage_free_split")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rep.map(_.getString(0)).sorted.toSeq == Seq("train", "val"))
    rep.foreach(r => assert(r.getLong(3) == 0L,
      s"certificate violated: ${r.getLong(3)} cross-split components"))
    val total = rep.map(_.getLong(1)).sum
    val corpus = graft.Tables
      .load(spark, "/root/testdata/sf0.01", "documents").count()
    assert(total == corpus, s"split covers $total of $corpus docs")
    // Negative control: the SAME hash rule keyed on doc_id (the naive
    // split) straddles components — the exact contamination this
    // operator exists to prevent. Deterministic on the fixed fixture
    // (measured: 23 multi-doc components, 10 leak under doc-keying).
    val comp = graft.queries.DedupQueries
      .queries("q54_neardup_components")(spark, "/root/testdata/sf0.01")
    val docKeyed = comp.withColumn("split",
      when(substring(md5(concat(lit("split:"),
          col("doc_id").cast("string"))), 1, 1) < "c", "train")
        .otherwise("val"))
    val multi = docKeyed.groupBy(col("component"))
      .agg(count(lit(1)).as("n"), countDistinct(col("split")).as("nsp"))
    assert(multi.filter(col("n") > 1).count() > 0,
      "fixture lost its multi-doc near-dup components")
    assert(multi.filter(col("nsp") > 1).count() > 0,
      "doc-keyed control no longer leaks — negative control broken")
  }

  test("q140 calibration: identical docs score exact=est=10000 with zero error") {
    // Exact duplicates (docs 0 and 4) share every shingle, so both the
    // signature estimate and the exact Jaccard must be exactly 1.0 (e4
    // 10000) and the error 0; near-dups (0,1 differ in the final word)
    // must show exact < 10000 with the estimate within the k=16
    // granularity (multiples of 625).
    val dir = java.nio.file.Files.createTempDirectory("cal").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.DedupQueries
      .queries("q140_minhash_calibration")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out((0L, 4L)) == ((10000L, 10000L, 0L)))
    out.values.foreach { case (est, exact, err) =>
      assert(est % 625L == 0L)           // k=16 granularity
      assert(err == math.abs(est - exact))
      assert(est >= 0L && est <= 10000L && exact >= 0L && exact <= 10000L)
    }
    val (e01, x01, _) = out((0L, 1L))
    assert(x01 < 10000L && e01 < 10000L)
  }

  test("q156 sweep: exact duplicates survive every band config and the " +
      "4x4 candidate set nests inside 8x2's") {
    val dir = java.nio.file.Files.createTempDirectory("sweep-spec")
      .toString
    // Docs 1/2: identical (J = 1 — every config's bands collide, the
    // estimated Jaccard is exactly 10000). Doc 3: unrelated.
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, t), (2L, t),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.DedupQueries
      .queries("q156_lsh_config_sweep")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.keySet == Set((4, 4), (6, 8), (8, 2)))
    out.foreach { case (cfg, (pairs, flagged, est)) =>
      assert(pairs >= 1L && flagged >= 2L && est >= 1L,
        s"config $cfg must catch the exact-dup pair: $pairs/$flagged/$est")
    }
    // A 4-row band match (4 equal components) implies both of its
    // 2-row sub-bands match, so 4x4 candidates nest inside 8x2's —
    // also checked on the real corpus below.
    assert(out((4, 4))._1 <= out((8, 2))._1)
    val real = graft.queries.DedupQueries
      .queries("q156_lsh_config_sweep")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(real((4, 4)) <= real((8, 2)))
  }
}
