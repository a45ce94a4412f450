package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text pipelines (north-star
  * surface; no counterpart in the reference, which ingests 30 documents —
  * SURVEY.md §2.9).
  *
  * All signature math is built on `md5` so every step is reproducible in
  * ANSI SQL — the DuckDB oracle can replay MinHash signatures, LSH bands,
  * SimHash bits and winnowed fingerprints exactly (hash-match correctness,
  * not just row counts). Everything is expression-level (no UDFs): the whole
  * chain stays inside WholeStageCodegen.
  *
  * Scale design (100 TB): shingling explodes ~L rows per document but is
  * map-side only; signatures reduce back to one row per document via
  * map-side partial min-aggregation; LSH candidate generation joins on
  * (band, band_hash) — the classic way to avoid the quadratic all-pairs
  * compare. The only quadratic step left is verification *within* a bucket,
  * which banding keeps small; skewed buckets (e.g. boilerplate) are handled
  * by the exact block-salted self-join in [[lshCandidatePairs]]
  * (`saltBlocks`), which splits a hot bucket into g² balanced tasks.
  *
  * PARAMETER TUNING: the defaults (3-word shingles, k=16, 4 bands × 4
  * rows) are calibrated by two gated audit queries — q140 measures the
  * signature-Jaccard estimator error against exact shingle-set Jaccard
  * (mean |err| ≈ 0.8·√(s(1−s)/k)), q141 measures bucketing
  * recall/precision against slice-scoped exact ground truth. See
  * BASELINE.md "MinHash/LSH tuning from the measured curves" for the
  * measured numbers and the bands×rows → s-curve-midpoint table; rerun
  * both audits after changing shingle width or k.
  */
object Dedup {

  /** Exact duplicate removal: first row per normalized text wins.
    * `dropDuplicates` on a normalization column; at scale this is one
    * hash-shuffle on the md5 of the text (shuffle compares 16 bytes/row,
    * not whole documents).
    */
  def exact(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("__h", md5(lower(col(textCol))))
      .dropDuplicates("__h")
      .drop("__h")

  /** Word n-gram shingle hashes per document index: (id, pos, shingle).
    * The token array is projected ONCE before the lambda — referencing
    * `split(...)` inside `transform` would re-split the whole text for
    * every token lookup (O(len²) per document).
    */
  private def shingleHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = col("__toks")
    val idxs = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(array().cast("array<int>"))
    graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol).as("id"), split(col(textCol), " ").as("__toks"))
      .select(col("id"),
        posexplode(transform(idxs,
          i => concat_ws(" ", (0 until n).map(j => toks(i + lit(j))): _*)))
          .as(Seq("pos", "shingle")))
  }

  /** Universal-hash family for MinHash: h_j = (a_j·h + b_j) mod P over a
    * 32-bit base hash (first 8 hex chars of md5). P is the first prime
    * above 2^32; a_j ≤ 2^31−1 keeps every product inside a signed 64-bit
    * integer, so Spark and any ANSI SQL engine (the DuckDB oracle) compute
    * bit-identical signatures.
    */
  val MinhashPrime: Long = 4294967311L
  def minhashParams(k: Int, seed: Long = 42L): Seq[(Long, Long)] =
    (0 until k).map { j =>
      var z = seed + 0x9e3779b97f4a7c15L * (j + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      val a = 1L + ((z ^ (z >>> 31)) & 0x7ffffffeL) // 1..2^31-1
      var z2 = seed + 0x9e3779b97f4a7c15L * (j + 1000001)
      z2 = (z2 ^ (z2 >>> 30)) * 0xbf58476d1ce4e5b9L
      z2 = (z2 ^ (z2 >>> 27)) * 0x94d049bb133111ebL
      val b = (z2 ^ (z2 >>> 31)) & 0x7fffffffL // 0..2^31-1
      (a, b)
    }

  /** Distinct word n-gram shingles per document: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    shingleHashes(df, idCol, textCol, n)
      .select(col("id"), col("shingle")).distinct()

  /** MinHash signature: ONE md5 per shingle (32-bit base hash), then k
    * universal-hash permutations `(a_j·h + b_j) mod P` — 16 integer min
    * aggregates instead of 16 md5 computations per shingle. One row per id
    * with `sig` array<bigint> of length k. Map-side partial mins make the
    * shuffle k longs per document.
    */
  def minhashSignatures(sh: DataFrame, k: Int = 16): DataFrame = {
    val params = minhashParams(k)
    sh.select(col("id"),
        conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long").as("h"))
      .groupBy(col("id"))
      .agg(array(params.map { case (a, b) =>
        min((col("h") * a + b) % MinhashPrime)
      }: _*).as("sig"))
  }

  /** LSH banding: split the k-length signature into `bands` bands of
    * `rowsPerBand`, key each band by its joined values, emit
    * (id, band, band_hash). Documents sharing any (band, band_hash) are
    * candidate near-duplicates.
    */
  def lshBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"), posexplode(array((0 until bands).map(b =>
        concat_ws("|", (0 until rowsPerBand).map(r =>
          col("sig")(b * rowsPerBand + r)): _*)): _*))
        .as(Seq("band", "band_hash")))

  /** Candidate pairs (a < b) from shared LSH buckets, deduplicated.
    *
    * The bucket table is materialized (eager local checkpoint) before the
    * self-join: without it the whole shingle→minhash pipeline runs twice
    * (once per join side — the planner does not reuse the exchange across
    * the `a < b` asymmetry). A local checkpoint rather than `persist`: the
    * blocks are computed exactly once (no duplicate-task "Block already
    * exists" races) and are freed by the ContextCleaner as soon as the
    * result plan is dropped — a long-lived session does not accumulate
    * cached bucket tables. At 100 TB this materialization is the signature
    * table you'd keep as a first-class dataset anyway (bands are ~b rows ×
    * 40 bytes per doc); write it to parquet and read it back for both sides
    * if executor loss matters (local checkpoints are not fault-tolerant).
    *
    * Skew: boilerplate-heavy corpora put millions of documents into one
    * (band, band_hash) bucket, and the within-bucket self-join goes
    * quadratic IN ONE TASK — AQE skew-join can split oversized partitions
    * but not the single-bucket pair explosion. `saltBlocks = g > 1` fixes
    * the task-level skew EXACTLY (no candidates lost): each row gets a
    * deterministic salt in [0, g) from its id, each side is replicated g
    * ways, and the join keys extend to (x.salt = y.i ∧ x.j = y.salt) — so a
    * bucket of m rows becomes g² independent tasks of (m/g)² work keyed by
    * (band, band_hash, i, j). Every qualifying pair (salts sa, sb) matches
    * in exactly one block (sa, sb). Cost: g× shuffle volume on the (small)
    * bucket table; the default g = 1 keeps the plain self-join.
    */
  def lshCandidatePairs(buckets: DataFrame, saltBlocks: Int = 1): DataFrame = {
    require(saltBlocks >= 1, s"saltBlocks must be >= 1, got $saltBlocks")
    // Both self-join sides must read the SAME materialized bucket table.
    // Default eager localCheckpoint (fail-stop on executor loss); set
    // spark.graft.checkpoint.reliable=true + a checkpoint dir for the
    // durable form on lossy clusters (SparkUtil.stableCheckpoint).
    val b = graft.SparkUtil.stableCheckpoint(buckets)
    val (x, y, extraKeys) =
      if (saltBlocks == 1) (b.as("x"), b.as("y"), lit(true))
      else {
        val g = saltBlocks
        val salted = b.withColumn("__salt",
          pmod(xxhash64(col("id")), lit(g)).cast("int"))
        val reps = array((0 until g).map(lit): _*)
        val xs = salted.withColumn("__j", explode(reps)).as("x")
        val ys = salted.withColumn("__i", explode(reps)).as("y")
        (xs, ys,
          col("x.__salt") === col("y.__i") && col("x.__j") === col("y.__salt"))
      }
    x.join(y,
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          extraKeys &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** ASYMMETRIC near-containment pairs — the duplication case
    * resemblance dedup structurally misses: a short document wholly
    * quoted inside a much longer one has near-zero Jaccard (the union
    * grows with the size gap) but containment |A∩B| / min(|A|,|B|) ≈ 1.
    * Training corpora care because a contained document contributes no
    * novel tokens yet survives every MinHash-resemblance tier.
    *
    * Semantics: over each document's DISTINCT word n-gram shingles,
    * restricted to NON-BOILERPLATE shingles (document frequency ≤
    * `dfCap` — a shingle in more documents than that is template text,
    * not copying evidence; the q97 ubiquity discipline), report pairs
    * with containment_e4 = |A∩B|·10⁴ div min(|A|,|B|) ≥ `minContainE4`.
    *
    * Scale shape: candidate generation is a keyed equi-join on the
    * shingle value — never all-pairs — and the dfCap bounds BOTH the
    * per-shingle join fan-out (≤ dfCap² pairs) and hotspot skew, the
    * same role the band hash plays in [[lshCandidatePairs]]. The
    * rare-shingle table is eagerly checkpointed: it feeds the sizes
    * aggregate and both self-join sides, and Catalyst shares no
    * subtrees. Overflow: inter·10⁴ needs ≤ 9·10¹⁴ shared shingles per
    * pair — unreachable (a pair's intersection is bounded by the
    * smaller document's length).
    *
    * Output: (a, b, n_a, n_b, inter, containment_e4), a < b.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, dfCap: Int = 50, minContainE4: Long = 5000): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).localCheckpoint(true)
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select("shingle")
    val cand = sh.join(rare, "shingle").localCheckpoint(true)
    val sizes = cand.groupBy("id").agg(count(lit(1)).as("n_sh"))
      .localCheckpoint(true) // two join consumers below
    cand.as("x").join(cand.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("a"), col("n_sh").as("n_a")), "a")
      .join(sizes.select(col("id").as("b"), col("n_sh").as("n_b")), "b")
      .withColumn("containment_e4",
        expr("inter * 10000 div least(n_a, n_b)"))
      .filter(col("containment_e4") >= minContainE4)
      .select(col("a"), col("b"), col("n_a"), col("n_b"), col("inter"),
        col("containment_e4"))
      .orderBy(col("containment_e4").desc, col("a"), col("b"))
  }

  /** 60-bit SimHash from md5 of tokens (with multiplicity): bit j of the
    * signature is set iff the sum over tokens of ±1 (token hash bit j) is
    * positive. 60 bits = 15 hex chars keeps the value in a signed long for
    * both engines.
    *
    * One pass, one shuffle: bit j's balance is a conditional-sum aggregate
    * `sum(if (h>>j)&1 then 1 else -1)` — `bits` aggregates over the token
    * rows, all map-side combinable, instead of exploding every token row
    * into `bits` (id, j) rows through the shuffle (a 60× row blow-up that
    * would dominate at corpus scale).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 60): DataFrame = {
    val tokHash = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    val toks = graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .select(col("id"), tokHash.as("h"))
    val bitSums = (0 until bits).map(j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= lit(0L), 1).otherwise(-1))
        .as(s"__s$j"))
    toks.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until bits).map(j =>
          when(col(s"__s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected components over an undirected near-dup pair graph
    * (`edges(a, b)`), labeling every vertex with the minimum id reachable
    * from it — the step that turns candidate PAIRS into dedup DECISIONS
    * (one canonical document per duplicate cluster).
    *
    * Iterative min-label propagation WITH pointer doubling: each round
    * (1) jumps every label to its label's label (path doubling, the
    * Shiloach–Vishkin accelerator), (2) joins labels across edges, and
    * takes the per-vertex min of both. The hop alone converges in O(cluster
    * diameter) rounds; the jump step halves every propagation path per
    * round, so convergence is O(log diameter) — a 1000-hop chain closes
    * in ~15 rounds instead of 1000 (property-tested). Near-dup clusters
    * are shallow anyway (2-4 rounds); the doubling removes the
    * adversarial-diameter failure mode for free.
    *
    * Plan shape:
    *  - only edge-touched vertices iterate: isolated vertices (most of a
    *    corpus) can never change label, so they rejoin as
    *    component = id after the loop and a round costs O(dup-subgraph),
    *    not O(corpus). Touched ids absent from `vertices` keep their
    *    labels;
    *  - the edge table is hash-partitioned ONCE on the hop-join key
    *    (`dst`, count scale-adaptive via
    *    [[graft.SparkUtil.loopPartitions]]) before its checkpoint, so
    *    at cluster scale no round re-shuffles the edges — an iteration
    *    moves only label-sized rows;
    *  - the first round is folded into the touched-set build:
    *    labels₀ = min(v, min neighbor) comes out of one aggregate on
    *    `dst`, exchange-free on that layout;
    *  - each round is one label-sized self-join (the jump) + one
    *    co-partitioned edge join (the hop) fused into ONE min aggregate
    *    and one LAZY checkpoint, which the convergence witness's collect
    *    materializes — one job per round, lineage O(1).
    *
    * Invariant (why the jump is sound): `component(v)` is always the id
    * of a vertex in v's own component and only ever decreases; jumping
    * to `component(component(v))` preserves both. At fixpoint every
    * edge has equal labels on both ends, and since the minimum vertex
    * of a component keeps its own id, the constant is the component min.
    * The fixpoint is unique, so the answer does not depend on the
    * partitioning or on the round count.
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val und0 = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val np = graft.SparkUtil.loopPartitions(und0)
    val und = und0.repartition(np, col("dst")).localCheckpoint(true)
    // touched set + first hop in ONE aggregate: the union is symmetric,
    // so grouping on dst enumerates every touched vertex with all its
    // neighbors as src rows; least(dst, min(src)) IS round 1 of
    // min-label propagation from identity labels.
    var labels = und.groupBy(col("dst"))
      .agg(least(col("dst"), min(col("src"))).as("component"))
      .select(col("dst").as("id"), col("component"))
      .localCheckpoint(false)
    // Convergence witness: labels only ever DECREASE and the vertex set
    // is fixed, so the label sum strictly decreases until fixpoint —
    // equality means converged. decimal(38,0) cannot overflow even at
    // 10^12 64-bit ids; a sum over zero rows is null, i.e. converged.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("component").cast("decimal(38,0)"))).head()
      if (s.isNullAt(0)) java.math.BigDecimal.ZERO else s.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Doubling with hooking:
      // labels_{k+1} = min(labels_k ∘ labels_k, neighbor-min(labels_k)).
      // Every label IS a touched vertex id, so the self-join is total.
      val jumped = labels.join(
          labels.select(col("id").as("__pid"), col("component").as("__pc")),
          col("component") === col("__pid"))
        .select(col("id"), col("__pc").as("component"))
      val viaNeighbors = und.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("component"))
      val next = jumped.union(viaNeighbors)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .localCheckpoint(false)
      val curSum = labelSum(next)
      labels = next
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      iter += 1
    }
    // Silently returning partial labels would split real duplicate
    // clusters with no signal; with pointer doubling the default
    // maxIter=25 covers diameters past 2^25.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(O(log diameter) expected under pointer doubling); raise maxIter")
    val isolated = vertices.select(col("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.union(isolated)
  }

  /** k-core of the near-dup pair graph — the DENSITY lens the component
    * view (connected components label chains and cliques alike) cannot
    * give: peeling vertices of degree < k until fixpoint leaves exactly
    * the subgraph where every member has ≥ k near-duplicates, i.e. the
    * template/boilerplate farms worth special-casing before training.
    *
    * Peeling runs a FIXED `rounds` iterations (each: one combinable
    * degree count + two keyed semi joins — O(dup-subgraph) per round,
    * never O(corpus)), and the output carries `n_unstable` — the count
    * of remaining sub-k vertices — as a structural convergence
    * certificate: 0 iff the peel reached the true core, and any drift
    * turns into an oracle mismatch rather than a silent wrong answer
    * (the q125 certificate pattern; on LSH near-dup graphs the peel
    * settles in 2–3 rounds — cliques lose no vertex, chains dissolve).
    *
    * Output, one row per edge-touched vertex: id, degree (in the pair
    * graph), in_core (0/1 under k), core_degree (within the final
    * core, 0 outside), n_unstable.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    val und = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    // ONE degree table drives both the report's `degree` column and
    // round 1's keep set (r22, guide §1.2-1): the r21 loop recomputed
    // the identical und-sized aggregate for round 1, and the final
    // round's degree count was thrown away even though it IS the
    // core_degree the report needs — the loop now carries the degree
    // table forward, so `rounds` peels cost `rounds` aggregates total
    // instead of `rounds + 2`.
    val deg0 = und.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .localCheckpoint(true) // two consumers: report join + round-1 keep
    var e = und
    var deg = deg0.select(col("src"), col("degree").as("__d"))
    for (_ <- 1 to rounds) {
      val keep = deg.filter(col("__d") >= k).select(col("src"))
      e = e.join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(true)
      deg = e.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    }
    val coreDeg = deg.select(col("src"), col("__d").as("core_degree"))
    val unstable = coreDeg.filter(col("core_degree") < k)
      .agg(count(lit(1)).as("n_unstable"))
    deg0.join(coreDeg, Seq("src"), "left")
      .crossJoin(broadcast(unstable))
      .select(col("src").as("id"), col("degree"),
        when(col("core_degree").isNotNull, 1).otherwise(0).as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"),
        col("n_unstable"))
  }

  /** Incremental (snapshot-vs-arrivals) dedup — the CDC shape: new
    * documents are checked against an EXISTING corpus without
    * re-deduplicating it. Two tiers, same as the batch operators:
    *   - exact: arrival text md5 ∈ snapshot md5 set → verdict 'exact',
    *     matched = the smallest snapshot id with that text;
    *   - near: an LSH band collision between the two sides' minhash
    *     signatures, confirmed by ≥ `minEqual` of `k` equal signature
    *     components → verdict 'near', matched = smallest colliding
    *     snapshot id;
    *   - otherwise 'new'.
    * Exact beats near. Output: id, verdict, matched (null for 'new').
    *
    * Scale: both signature tables are k longs per doc and the candidate
    * join is band-bucketed (never all-pairs); at 100 TB the snapshot
    * side's signatures are the first-class dataset you persist between
    * ingest runs, so the snapshot corpus is scanned only for NEW md5/sig
    * builds (or not at all, with the store pattern of
    * [[graft.streaming.StreamNearDup]] — this is its batch counterpart).
    * Signatures are locally checkpointed: each feeds both the bucket
    * join and the similarity confirm, and the planner does not share the
    * shingle pipeline across the two consumers.
    */
  def snapshotDedup(snapshot: DataFrame, arrivals: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 16,
      bands: Int = 4, rowsPerBand: Int = 4, minEqual: Int = 8): DataFrame = {
    val snapMd5 = snapshot
      .select(md5(col(textCol)).as("__m"), col(idCol).as("__sid"))
      .groupBy(col("__m")).agg(min(col("__sid")).as("__exact"))
    // ONE shingle explode + minhash aggregate covers BOTH sides: tag
    // rows with a struct id (side tag + original id) and split the
    // materialized signature table by the tag afterwards — a doc's
    // signature depends only on itself, so per-side and combined builds
    // agree exactly. Halves the heaviest stage of the operator (r8 ran
    // the shingle pipeline once per side). The tag is carried
    // OUT-OF-BAND in the struct, not encoded arithmetically: a
    // `(id*2, id*2+1)` composite overflows for |id| >= 2^62, which is
    // half the range of e.g. xxhash64-derived ids.
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType)
        .contains(snapshot.schema(idCol).dataType),
      s"snapshotDedup needs an integral $idCol for the one-pass " +
        "signature build (matched ids are emitted as bigint)")
    val tag = (side: Int, df: DataFrame) => df.select(
      struct(lit(side).as("side"), col(idCol).cast("long").as("oid"))
        .as("__cid"),
      col(textCol))
    val tagged = tag(0, snapshot).unionAll(tag(1, arrivals))
    val sigAll = minhashSignatures(shingles(tagged, "__cid", textCol, n), k)
      .localCheckpoint(true)
    val sigS = sigAll.filter(col("id.side") === 0)
      .select(col("id.oid").as("__sid"), col("sig").as("__ssig"))
    val sigA = sigAll.filter(col("id.side") === 1)
      .select(col("id.oid").as("id"), col("sig"))
    val bS = lshBuckets(sigS.select(col("__sid").as("id"),
        col("__ssig").as("sig")), bands, rowsPerBand)
      .select(col("id").as("__sid"), col("band"), col("band_hash"))
    val bA = lshBuckets(sigA, bands, rowsPerBand)
    val nEqual = aggregate(
      zip_with(col("__ssig"), col("sig"),
        (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, z) => acc + z)
    val near = bA.join(bS, Seq("band", "band_hash"))
      .select(col("id"), col("__sid")).distinct()
      .join(sigA, Seq("id")).join(sigS, Seq("__sid"))
      .filter(nEqual >= minEqual)
      .groupBy(col("id")).agg(min(col("__sid")).as("__near"))
      // Anchored rename: joining on col(idCol) === near("id") would be
      // ambiguous (AnalysisException) for a caller whose idCol IS "id".
      .withColumnRenamed("id", "__nid")
    arrivals.select(col(idCol), md5(col(textCol)).as("__m"))
      .join(snapMd5, Seq("__m"), "left")
      .join(near, col(idCol) === col("__nid"), "left")
      .select(col(idCol),
        when(col("__exact").isNotNull, lit("exact"))
          .when(col("__near").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("__exact"), col("__near")).as("matched"))
  }

  /** Winnowed document fingerprints (MOSS-style): rolling window of `w`
    * consecutive shingle hashes keeps the minimum; the distinct kept hashes
    * are the document's fingerprints. Cheap containment/near-dup sketch.
    *
    * Pure per-row array algebra (r9): the shingle-hash array, its
    * rolling minima (prefix-partial for the first w-1 positions, exactly
    * like `ROWS BETWEEN w-1 PRECEDING AND CURRENT ROW`) and the distinct
    * count all happen inside one projection — the r8 shape exploded the
    * shingle stream and paid a per-doc window sort + two aggregates for
    * what is a per-document computation. The corpus now crosses zero
    * exchanges; docs shorter than n tokens emit nothing, as before.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4): DataFrame = {
    val toks = split(col(textCol), " ")
    val winStart = (i: Column) => greatest(lit(1), i - (w - 1))
    graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol).as("id"), toks.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("id"),
        transform(sequence(lit(1), size(col("__t")) - (n - 1)), i =>
          conv(substring(md5(concat_ws(" ", slice(col("__t"), i, lit(n)))),
            1, 15), 16, 10).cast("long")).as("__h"))
      .select(col("id"),
        size(array_distinct(transform(sequence(lit(1), size(col("__h"))),
          i => array_min(slice(col("__h"), winStart(i),
            i - winStart(i) + 1)))))
          .cast("long").as("n_fp"))
  }

  /** TRIANGLE census + global clustering coefficient over an
    * undirected pair graph — the cohesion diagnostic the CC/k-core/
    * PageRank family lacks: a near-dup component that is a loose PATH
    * (chained borderline pairs — transitive-closure overreach when
    * dedup keeps one doc per component) and one that is a dense CLIQUE
    * (true mirror set) have the same CC label but opposite triangle
    * density; C = 3·triangles / wedges says which the graph is before
    * a keep-one-per-component policy fires.
    *
    * Scale shape — the classic ordered triangle join: edges normalize
    * to a < b ONCE, triangles enumerate as (a<b<c) via TWO keyed
    * equi-joins of the edge list against itself ((a,b)⋈(b,c) on b,
    * then the closing (a,c) semi-join) — never a cartesian, and the
    * ordering means each triangle counts exactly once. Wedges are a
    * degree-table fold (Σ d·(d−1)/2 — exact longs). Output is one row:
    * n_vertices, n_edges, n_wedges, n_triangles, global_cc (the single
    * 3T/W division, portable).
    */
  def triangleCensus(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(
        expr("CAST(sum(d * (d - 1) div 2) AS BIGINT)").as("w"),
        count(lit(1)).as("nv"))
      .head()
    val (nWedges, nVerts) = (wedges.getLong(0), wedges.getLong(1))
    val nEdges = e.count()
    val tri = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
      .join(e.select(col("a").as("x"), col("b").as("z")),
        Seq("x", "z"), "left_semi")
      .count()
    val s = edges.sparkSession
    import s.implicits._
    Seq((nVerts, nEdges, nWedges, tri,
      if (nWedges == 0) 0.0 else 3.0 * tri / nWedges))
      .toDF("n_vertices", "n_edges", "n_wedges", "n_triangles",
        "global_cc")
  }
}
