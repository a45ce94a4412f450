package graft

import graft.operators.{Cdc, Dedup, IngestionPipeline, ParagraphDedup, Ranking, SpanDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness (SCALE.md), three tiers:
  *
  *   - `graph` (default): replicates the sf documents corpus ×1/×3/×10
  *     (id-offset copies, so every near-dup cluster grows by the
  *     replication factor — the worst-case growth for clustering),
  *     rebuilds the q54 LSH candidate graph at each scale, and times
  *     CC (q54), k-core (q135) and PageRank (q118) phase by phase,
  *     with per-JOB walls for the iterative loops (one job per CC
  *     round by construction: the convergence witness is the round's
  *     single action).
  *   - `substring`: the q98/q101/q126/q130/q134 dedup tier — tokenize
  *     ONCE (checkpoint), then span detection (q98), span strip
  *     (q101), paragraph grid (q126) and CDC (q130) over the same
  *     replicated corpora, recording shingle-stream row counts and
  *     checkpoint storage alongside walls. Exact-copy replication is
  *     adversarial here too: every shingle's doc-frequency crosses the
  *     ≥2 threshold, so the span tier marks (and strips) EVERYTHING —
  *     the maximal-work direction.
  *   - `ingest`: the A1 pipeline (q44's shape) over a ×N-replicated
  *     markdown corpus (default 1,10,100 → up to 1,000 files),
  *     recording docs/s and the job structure — the per-doc flatMap
  *     parallelism claim of `IngestionPipeline.run`, measured.
  *   - `ann`: the vector-index tier — LSH and IVF-SQ STORED indexes
  *     (q136/q138's production shape: codes written partitionBy the
  *     bucket / coarse cell) built over a ×1/×3/×10-replicated
  *     embeddings table, then a 10-query search batch against each
  *     stored index. Exact-copy replication is the adversarial
  *     direction for bucket occupancy (every bucket grows ×k
  *     uniformly); recorded: build walls, bucket-occupancy skew
  *     (max/mean), the probed candidate fraction (must stay constant
  *     — it is the prune ratio, the quantity that makes the search
  *     sub-linear in corpus size), and per-batch search walls.
  *
  *   - `multivec`: q149's late-interaction shape — a constant base-slice
  *     query batch against a ×1/×3/×10-replicated token corpus;
  *     records candidate-pair counts (must grow ×k, never ×k² — the
  *     probe set is per-query, the corpus streams once) and the MaxSim
  *     rescore wall.
  *
  * Driver heap is sampled (post-GC) after every phase — each tier's
  * driver state must stay O(1) in corpus size. Output: one JSON line
  * per (scale, phase) plus per-job arrays; committed as SCALE.md.
  *
  *   - `streaming` (r15): the six streaming certificate shapes (q84
  *     windowed agg, q107 stream-stream join, q117 session state,
  *     q199/q203 stateful dedup, q85 store-backed near-dup) as REAL
  *     micro-batch streams — one input file per trigger — with keys
  *     offset AND event time advanced per replica; records per-batch
  *     walls, input rows and state-store rows/bytes from
  *     StreamingQueryProgress. The invariants: join/session/watermarked-
  *     dedup state O(horizon) (flat across ×k), unwatermarked dedup
  *     state O(keys) (the contrast), store-backed near-dup zero state
  *     rows, driver heap flat.
  *
  * Usage: graft.ScaleStress [sfDir] [scales CSV]
  *   [graph|substring|ingest|ann|multivec|corpusops|analytics|streaming]
  */
object ScaleStress {

  private def usedHeapMb(): Long = {
    System.gc()
    Thread.sleep(200)
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val tier = args.drop(2).headOption.getOrElse("graph")
    val scales = args.drop(1).headOption
      .getOrElse(if (tier == "ingest") "1,10,100" else "1,3,10")
      .split(',').map(_.trim.toInt).toSeq
    require(
      Set("graph", "substring", "ingest", "ann", "multivec",
        "corpusops", "analytics", "streaming", "warehouse",
        "linkage", "store", "snapshot", "ranks")(tier),
      s"unknown tier '$tier' " +
        "(graph|substring|ingest|ann|multivec|corpusops|analytics|" +
        "streaming|warehouse|linkage|store|snapshot|ranks)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = new JobLog(spark.sparkContext)
    val docs0 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val r3 = (v: Double) => math.rint(v * 1000) / 1000

    def phase[T](name: String, scale: Int)(body: => T): T = {
      val prev = log.snapshot()
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      val jobWalls = log.since(prev).map(_.seconds)
      val heap = usedHeapMb()
      // Block-manager storage (checkpointed streams) — in local mode
      // these blocks share the measured JVM heap, so reporting them
      // beside it separates EXECUTOR-side state (distributed on a real
      // cluster) from true driver bookkeeping.
      val storageMb = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / (1024L * 1024L)
      println(s"""{"scale":$scale,"phase":"$name","wall_sec":${r3(wall)},""" +
        s""""n_jobs":${jobWalls.size},"job_walls":[${jobWalls.map(r3).mkString(",")}],""" +
        s""""driver_heap_mb":$heap,"rdd_storage_mb":$storageMb}""")
      out
    }

    // Replication stride derived from the corpus itself: a fixed stride
    // smaller than max(doc_id) would silently alias replicated ids and
    // corrupt every pair/CC/k-core count this harness reports.
    val stride = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L

    def replicate(k: Int): DataFrame =
      // id-offset replication: every cluster of near-dups grows ×k and
      // every replicated doc is an EXACT dup of its copies — the
      // adversarial direction for LSH bucket sizes, CC depth, and
      // (substring tier) doc-frequency thresholds.
      (0 until k).map(i => docs0.select(
          (col("doc_id") + lit(i.toLong * stride)).as("doc_id"),
          col("text")))
        .reduce(_ union _).localCheckpoint(true)

    if (tier == "graph") for (k <- scales) {
      val docs = replicate(k)
      val nDocs = docs.count()
      val pairs = phase("lsh_pairs", k) {
        val sh = Dedup.shingles(docs, "doc_id", "text", n = 3)
        val p = Dedup.lshCandidatePairs(
          Dedup.lshBuckets(Dedup.minhashSignatures(sh, k = 16),
            bands = 4, rowsPerBand = 4)).localCheckpoint(true)
        println(s"""{"scale":$k,"n_docs":$nDocs,"n_pairs":${p.count()}}""")
        p
      }
      phase("cc", k) {
        Dedup.connectedComponents(pairs,
          docs.select(col("doc_id").as("id")))
          .write.format("noop").mode("overwrite").save()
      }
      phase("kcore", k) {
        Dedup.kCore(pairs, k = 2, rounds = 4)
          .write.format("noop").mode("overwrite").save()
      }
      phase("pagerank", k) {
        Ranking.pageRank(pairs, iterations = 3)
          .write.format("noop").mode("overwrite").save()
      }
      phase("lpa", k) {
        Ranking.labelPropagation(pairs,
            docs.select(col("doc_id").as("id")), rounds = 4)
          .write.format("noop").mode("overwrite").save()
      }
    }

    if (tier == "substring") for (k <- scales) {
      val docs = replicate(k)
      val nDocs = docs.count()
      // Tokenize ONCE — the q134 discipline: one checkpointed
      // (doc_id, tokens) table feeds every tier below.
      val tok = phase("tokenize", k) {
        SparkUtil.ensureParallelism(docs)
          .select(col("doc_id"), split(col("text"), " ").as("__t"))
          .localCheckpoint(true)
      }
      // The shingle-stream row count the span tier will explode into
      // (Σ max(n_words − k + 1, 0), k = 8: the q98/q101 width), plus
      // the checkpoint footprint actually held by the block manager —
      // the two quantities that must grow LINEARLY with replication
      // for the tier to survive 100 TB.
      val shingleRows = tok.select(
        sum(greatest(size(col("__t")) - lit(7), lit(0)).cast("long")))
        .head().getLong(0)
      val storage = spark.sparkContext.getRDDStorageInfo
      val storageMb =
        storage.map(i => i.memSize + i.diskSize).sum / (1024L * 1024L)
      println(s"""{"scale":$k,"n_docs":$nDocs,"shingle_rows":$shingleRows,""" +
        s""""rdd_storage_mb":$storageMb}""")
      phase("spans", k) { // q98: maximal duplicated spans
        SpanDedup.spansTokens(tok, "doc_id", "__t", k = 8, minDocFreq = 2)
          .write.format("noop").mode("overwrite").save()
      }
      phase("strip", k) { // q101: corpus rewrite with spans removed
        SpanDedup.stripSpans(docs, "doc_id", "text", k = 8, minDocFreq = 2)
          .write.format("noop").mode("overwrite").save()
      }
      phase("grid", k) { // q126: fixed paragraph grid
        ParagraphDedup.dupSpansTokens(tok, "doc_id", "__t", w = 12,
            minDocFreq = 2)
          .write.format("noop").mode("overwrite").save()
      }
      phase("cdc", k) { // q130: content-defined chunking
        Cdc.dupSpansTokens(tok, "doc_id", "__t", w = 4, modulus = 16,
            minDocFreq = 2)
          .write.format("noop").mode("overwrite").save()
      }
    }

    if (tier == "ann" || tier == "multivec") {
      import graft.operators.{Ann, IvfSq, LateInteraction}
      val emb0 = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val dim = emb0.select("embedding").head().getSeq[Float](0).length
      val estride = emb0.agg(max(col("vec_id"))).head().getLong(0) + 1L
      def replicateEmb(k: Int): DataFrame =
        (0 until k).map(i => emb0.select(
            (col("vec_id") + lit(i.toLong * estride)).as("vec_id"),
            col("embedding")))
          .reduce(_ union _).localCheckpoint(true)
      // Fixed 10-query batch (the first ten base vectors) reused at
      // every scale, so search walls compare like for like.
      val queryBatch = emb0.filter(col("vec_id") < 10)
        .collect().map(_.getSeq[Float](1).toArray)

      if (tier == "multivec") for (k <- scales) {
        // q149's late-interaction shape under replication: the QUERY
        // side is pinned to the BASE copy's ddoc % 20 slice (constant
        // across scales — a query batch does not grow with the corpus),
        // while the token corpus grows ×k with every bucket's occupancy
        // (exact copies collide by construction — the adversarial
        // direction for candidate counts, which must grow linearly, and
        // for the rescore row count, which must stay pairs × q-tokens,
        // never pairs × token-pairs).
        val toks = SparkUtil.ensureParallelism(replicateEmb(k))
          .select(expr("vec_id div 5").as("ddoc"), col("vec_id"),
            col("embedding"))
          .localCheckpoint(true)
        val nToks = toks.count()
        val lsh = new Ann.RandomHyperplaneLsh(nBits = 8, dim = dim)
        val qt = toks.filter(col("vec_id") < estride &&
            col("ddoc") % 20 === 0)
          .select(col("ddoc").as("qd"), col("vec_id"), col("embedding"))
          .localCheckpoint(true)
        val nQdocs = qt.select("qd").distinct().count()
        // Candidate-pair census through the operator's own index shape
        // (bucket join of the deduped radius-1 probe set) — the
        // quantity that must grow ×k, not ×k².
        val candPairs = phase("multivec_candidates", k) {
          val idx = lsh.index(toks.select(col("ddoc"), col("embedding")),
            "embedding")
          val qidx = lsh.index(qt.select(col("qd"), col("embedding")),
            "embedding")
          val probes = qidx.select(col("qd"),
              explode(array((col("bucket") +: (0 until 8).map(b =>
                col("bucket").bitwiseXOR(lit(1 << b)))): _*)).as("bucket"))
            .distinct()
          idx.join(broadcast(probes), Seq("bucket"))
            .filter(col("ddoc") =!= col("qd"))
            .select(col("qd"), col("ddoc")).distinct().count()
        }
        val nTop = phase("maxsim_search", k) {
          LateInteraction.search(toks, "ddoc", "embedding", qt,
            "qd", "vec_id", "embedding", lsh, k = 5, excludeSelf = true)
            .count()
        }
        println(s"""{"scale":$k,"n_toks":$nToks,"n_qdocs":$nQdocs,""" +
          s""""cand_pairs":$candPairs,""" +
          s""""cand_per_qdoc":${r3(candPairs.toDouble / nQdocs)},""" +
          s""""top_rows":$nTop}""")
      }

      if (tier == "ann") for (k <- scales) {
        val emb = SparkUtil.ensureParallelism(replicateEmb(k))
        val nVecs = emb.count()
        val lsh = new Ann.RandomHyperplaneLsh(nBits = 8, dim = dim)
        val lshPath = java.nio.file.Files
          .createTempDirectory(s"scale-ann-lsh-x$k").resolve("t").toString
        phase("lsh_index_build", k) {
          // Cluster by bucket BEFORE the partitioned write: without it
          // every task writes a file into every bucket directory
          // (tasks × buckets tiny files — measured 18.9 s at ×10 vs
          // 2.4 s clustered); with it each bucket is one task's one
          // file, and the 100 TB layout gets its locality for free.
          lsh.index(emb, "embedding")
            .repartition(col("bucket"))
            .write.partitionBy("bucket").mode("overwrite").parquet(lshPath)
        }
        val lshIdx = spark.read.parquet(lshPath)
        val occ = lshIdx.groupBy(col("bucket")).count()
          .agg(max(col("count")), avg(col("count")), count(lit(1))).head()
        // Probed fraction for query 0 at radius 1 — the prune ratio:
        // candidates / corpus must stay ~constant under replication.
        val cand0 = lshIdx.filter(col("bucket")
            .isin(lsh.probeBuckets(queryBatch.head, probes = 1): _*))
          .count()
        println(s"""{"scale":$k,"n_vecs":$nVecs,""" +
          s""""lsh_max_bucket":${occ.getLong(0)},""" +
          s""""lsh_mean_bucket":${r3(occ.getDouble(1))},""" +
          s""""n_buckets":${occ.getLong(2)},""" +
          s""""probed_frac":${r3(cand0.toDouble / nVecs)}}""")
        phase("lsh_search_10q", k) {
          for (q <- queryBatch)
            lsh.search(lshIdx, "vec_id", "embedding", q,
              k = 10, probes = 1).collect()
        }
        val m = phase("ivfsq_fit", k) {
          IvfSq.fit(emb, "vec_id", "embedding", kCentroids = 8, dim = dim)
        }
        val ivfPath = java.nio.file.Files
          .createTempDirectory(s"scale-ann-ivfsq-x$k").resolve("t").toString
        phase("ivfsq_index_build", k) {
          IvfSq.index(emb, "embedding", m)
            .write.partitionBy("ivf_cid").mode("overwrite").parquet(ivfPath)
        }
        val ivfIdx = spark.read.parquet(ivfPath)
        phase("ivfsq_search_10q", k) {
          for (q <- queryBatch)
            IvfSq.searchIndexed(ivfIdx, "vec_id", "embedding", "ivf_cid",
              "sq_code", m, q, k = 10, nprobe = 2, pool = 50).collect()
        }
      }
    }

    if (tier == "corpusops") {
      // The r13 corpus-analytics tier: skyline (q159), PMI + TextRank
      // (q160/q166), grouped jackknife (q161) over the ×k-replicated
      // docs, and farthest-first coreset (q168) over ×k-replicated
      // embeddings. Exact-copy replication is adversarial for the
      // SKYLINE in particular: every copy carries identical metrics,
      // ties all survive, so the frontier (and the anti-join candidate
      // set) grows ×k exactly — the worst case for the broadcast
      // global phase. PMI/TextRank must show a CONSTANT pair-type
      // table (counts grow ×k, types don't); jackknife a constant
      // group table; coreset a ×k-linear per-step scan with an
      // unchanged trajectory shape.
      import graft.operators.{Collocations, Coreset, Skyline, Stats}
      for (k <- scales) {
        val docs = replicate(k)
        val nDocs = docs.count()
        val frontierN = phase("skyline", k) {
          val toks = filter(split(lower(col("text")), " "),
            t => length(t) > 0)
          val feats = docs.withColumn("__t", toks)
            .select(col("doc_id"),
              size(col("__t")).cast("long").as("n_tokens"),
              size(array_distinct(col("__t"))).cast("long").as("n_uniq"),
              aggregate(col("__t"), lit(0L),
                (acc, t) => acc + length(t)).as("sum_len"))
          Skyline.frontier(feats, "doc_id",
            Seq("n_tokens", "n_uniq", "sum_len")).count()
        }
        val pairTypes = phase("pair_counts", k) {
          Collocations.pairCounts(docs, "text", maxDist = 3).count()
        }
        phase("pmi_topk", k) {
          Collocations.pmiTopK(docs, "text")
            .write.format("noop").mode("overwrite").save()
        }
        phase("textrank", k) {
          Collocations.textRank(docs, "text")
            .write.format("noop").mode("overwrite").save()
        }
        phase("jackknife", k) {
          Stats.jackknifeMean(
              docs.select((col("doc_id") % 997).as("grp"),
                length(col("text")).cast("long").as("v")),
              "grp", "v")
            .write.format("noop").mode("overwrite").save()
        }
        println(s"""{"scale":$k,"n_docs":$nDocs,""" +
          s""""frontier_rows":$frontierN,"pair_types":$pairTypes}""")
      }
      val emb0 = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val estride = emb0.agg(max(col("vec_id"))).head().getLong(0) + 1L
      for (k <- scales) {
        val emb = (0 until k).map(i => emb0.select(
            (col("vec_id") + lit(i.toLong * estride)).as("vec_id"),
            col("embedding")))
          .reduce(_ union _).localCheckpoint(true)
        val picks = phase("coreset_k8", k) {
          Coreset.farthestFirst(emb, "vec_id", "embedding", k = 8)
            .collect()
        }
        println(s"""{"scale":$k,"n_vecs":${emb.count()},""" +
          s""""cover_radius_e8":${picks.last.getLong(2)}}""")
      }
    }

    if (tier == "analytics") {
      // The r14 tier: scale-INVARIANCE certificates for the corpus
      // analytics family under ×k exact-copy replication. Replicating
      // every doc ×k multiplies every histogram cell, count cell and
      // marginal by exactly k, so the derived DECISIONS must not move:
      // Otsu thresholds identical (the ×k² objective rescales, the
      // argmax doesn't), per-language word NDV identical (same words,
      // merged==direct still exact), keyness keyword sets identical
      // with G² exactly ×k (the ln arguments are ratios where k
      // cancels), the consistent-hash moved share constant (~1/9), and
      // every stitched doc still round-trips. A threshold or keyword
      // that MOVES under replication would mean the operator's answer
      // depends on corpus size, not corpus shape — the failure mode
      // this tier exists to catch.
      import graft.operators.{Curation, Layout, Stats => GStats,
        Stitch, TextAnalysis}
      var thrAt1: Seq[(String, Long)] = null
      var keysAt1: Seq[(String, String)] = null
      var g2At1: Map[(String, String), Long] = null
      for (k <- scales) {
        val docs = replicate(k)
        // keep source/lang columns: re-join them from the base table
        val full = docs.join(
            docs0.sparkSession.read.parquet(s"$sfDir/documents.parquet")
              .select(col("doc_id").as("__base_id"), col("lang"),
                col("source")),
            pmod(col("doc_id"), lit(stride)) === col("__base_id"))
          .drop("__base_id").localCheckpoint(true)
        val nDocs = full.count()
        val thr = phase("otsu", k) {
          Curation.otsuThreshold(full, "lang",
              least(expr("length(text) div 20"), lit(255L)))
            .orderBy(col("lang")).collect()
            .map(r => (r.getString(0), r.getAs[Long]("threshold"))).toSeq
        }
        if (k == scales.head) thrAt1 = thr
        val thrStable = thr == thrAt1
        val ndv = phase("hll_rollup", k) {
          val words = full.select(col("lang"),
            (col("doc_id") % 7).as("shard"),
            explode(filter(split(lower(col("text")), " "),
              t => length(t) > 0)).as("w"))
          GStats.hllRollup(words, "lang", col("shard"), col("w"))
            .orderBy(col("lang")).collect()
        }
        val mergedOk = ndv.forall(_.getAs[Boolean]("merged_eq_direct"))
        // minCount scales with k: a FIXED support floor would admit new
        // terms as replication lifts a=2..4 cells past it — the floor is
        // an absolute threshold by design, so the invariance certificate
        // scales it to keep the admitted set comparable.
        val keys = phase("keyness", k) {
          TextAnalysis.keyness(full, "source", "text", 5 * k, 3)
            .orderBy(col("source"), col("rank")).collect()
        }
        val keySet = keys.map(r =>
          (r.getString(0), r.getAs[String]("term"))).toSeq
        val g2 = keys.map(r => ((r.getString(0),
          r.getAs[String]("term")), r.getAs[Long]("g2_e4"))).toMap
        if (k == scales.head) { keysAt1 = keySet; g2At1 = g2 }
        val keysStable = keySet == keysAt1
        // G² must scale exactly ×(k/k0) vs the first scale
        val k0 = scales.head
        val g2Linear = g2.forall { case (key, v) =>
          g2At1.get(key).contains(v * k0 / k)
        }
        val moved = phase("consistent_hash", k) {
          val asg = SparkUtil.ensureParallelism(full).select(
            Layout.consistentShard(col("doc_id"), 8).as("s8"),
            Layout.consistentShard(col("doc_id"), 9).as("s9"))
          asg.agg(sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)),
            count(lit(1))).head()
        }
        val movedShareE4 = moved.getLong(0) * 10000L / moved.getLong(1)
        val stitchOk = phase("stitch_roundtrip", k) {
          val det = Stitch.detectAdjacent(
            Stitch.shard(full.select(col("doc_id"), col("text"),
              col("source")), "doc_id", "text", 4),
            "source", "shard_id", "text", 4)
          det.filter(col("left_id") % 2 === 0 &&
              col("right_id") === col("left_id") + 1 && col("matched"))
            .join(full.select((col("doc_id") * 2).as("left_id"),
              md5(col("text")).as("__om")), Seq("left_id"))
            .filter(md5(col("merged_text")) === col("__om")).count()
        }
        println(s"""{"scale":$k,"n_docs":$nDocs,""" +
          s""""otsu_stable":$thrStable,"merged_eq_direct":$mergedOk,""" +
          s""""keyness_stable":$keysStable,"g2_linear":$g2Linear,""" +
          s""""moved_share_e4":$movedShareE4,""" +
          s""""stitch_roundtrips":$stitchOk}""")
      }
    }

    if (tier == "streaming") {
      // The r15 tier: the six streaming-runtime certificate shapes
      // (q84 stateful agg, q107 stream-stream join, q117 custom session
      // state, q199/q203 stateful dedup, q85 store-backed near-dup)
      // under ×k replication, REAL micro-batches (one input file per
      // trigger), recording per-batch walls, input rows, and state-store
      // rows/bytes from StreamingQueryProgress. Replication offsets the
      // KEY columns (user_id / event_id / doc_id) AND advances event
      // time per replica (a live stream moves forward — see tsOffUs
      // below), so total keys grow ×k while the watermark horizon stays
      // fixed. What must hold (and SCALE.md records): PER-BATCH state
      // stays FLAT for the horizon-bounded operators (join, sessions,
      // watermarked dedup — eviction keeps state O(horizon) as the
      // watermark advances), grows ×k only where the semantics demand
      // unbounded memory (unwatermarked dedup = keys ever seen;
      // complete-mode windowed agg = windows in the stream's time
      // span), per-batch overhead flat, driver heap flat (state lives
      // in the stores, not the driver).
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.{StreamNearDup, Streams}
      import graft.operators.WebIngest
      val r1 = (v: Double) => math.rint(v * 10) / 10
      def report(name: String, k: Int,
          q: org.apache.spark.sql.streaming.StreamingQuery,
          extra: String = ""): Unit = {
        val progs = q.recentProgress.toSeq
        val walls = progs.map(p =>
          p.durationMs.get("triggerExecution").toDouble / 1000.0)
        val inRows = progs.map(_.numInputRows)
        val stRows = progs.map(p => Option(p.stateOperators)
          .map(_.map(_.numRowsTotal).sum).getOrElse(0L))
        val stBytes = progs.map(p => Option(p.stateOperators)
          .map(_.map(_.memoryUsedBytes).sum).getOrElse(0L))
        println(s"""{"scale":$k,"phase":"$name","n_batches":${progs.size},""" +
          s""""batch_walls":[${walls.map(r3).mkString(",")}],""" +
          s""""input_rows":[${inRows.mkString(",")}],""" +
          s""""state_rows":[${stRows.mkString(",")}],""" +
          s""""state_kb":[${stBytes.map(b => r1(b / 1024.0)).mkString(",")}],""" +
          s""""driver_heap_mb":${usedHeapMb()}$extra}""")
      }
      val ev0 = Tables.normalizeTs(
        spark.read.parquet(s"$sfDir/events.parquet"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"))
      val evSchema = ev0.schema
      val eStride = ev0.agg(max(col("event_id"))).head().getLong(0) + 1L
      val uStride = ev0.agg(max(col("user_id"))).head().getLong(0) + 1L
      // Each replica also ADVANCES event time by the base span + 2 h — a
      // live stream moves forward; repeating the same span would make
      // every later replica "late data" and measure watermark drops, not
      // state growth. Advancing time is what makes watermark EVICTION
      // observable between batches (join horizon, dedup horizon).
      val tsRange = ev0.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val tsOffUs = tsRange.getLong(1) - tsRange.getLong(0) +
        2L * 3600 * 1000000
      // URL synthesis needs `source`; near-dup needs `text` — carry both.
      val docsFull = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val docSchema = docsFull.schema
      for (k <- scales) {
        // One parquet FILE per replica → one micro-batch per replica
        // (maxFilesPerTrigger=1): per-batch progress is observable and
        // the watermark advances between batches like a live stream's.
        val evDir = java.nio.file.Files
          .createTempDirectory(s"scale-stream-ev-x$k").toString
        for (i <- 0 until k)
          ev0.select((col("event_id") + lit(i * eStride)).as("event_id"),
              (col("user_id") + lit(i * uStride)).as("user_id"),
              col("event_type"),
              timestamp_micros(unix_micros(col("ts")) + lit(i * tsOffUs))
                .as("ts"),
              col("value"))
            .coalesce(1).write.mode("append").parquet(evDir)
        val docDir = java.nio.file.Files
          .createTempDirectory(s"scale-stream-doc-x$k").toString
        for (i <- 0 until k)
          docsFull.select(
              (col("doc_id") + lit(i.toLong * stride)).as("doc_id"),
              col("text"), col("source"))
            .coalesce(1).write.mode("append").parquet(docDir)
        def evStream() = spark.readStream.schema(evSchema)
          .option("maxFilesPerTrigger", 1).parquet(evDir)
        def docStream() = spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", 1).parquet(docDir)
        def sinkName(p: String) =
          p + "_x" + k + "_" + java.util.UUID.randomUUID().toString.take(8)
        // Append-mode phases sink to PARQUET, not a memory sink: a
        // memory sink retains every output row on the DRIVER (×10
        // sessions ≈ 1M rows ≈ +450 MB heap in the first cut of this
        // tier), which would report the harness's sink, not the
        // operator's state, in the driver_heap_mb column.
        def runToParquet(df: DataFrame, tag: String)
            : (org.apache.spark.sql.streaming.StreamingQuery, String) = {
          val base = java.nio.file.Files
            .createTempDirectory(s"scale-stream-$tag-x$k").toString
          val q = df.writeStream.format("parquet")
            .option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ckpt")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (q, s"$base/out")
        }

        // q84 shape: stateful windowed aggregation. State keys are
        // (window, event_type): they grow with the stream's TIME span
        // (×k here, since replicas advance time), never with row volume
        // — ×k rows into the same windows would leave state flat.
        phase("windowed_agg", k) {
          val sink = sinkName("agg")
          val q = Streams.windowedCounts(evStream(), "1 hour", "10 minutes")
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          report("windowed_agg", k, q,
            s""","out_rows":${spark.table(sink).count()}""")
        }

        // q107 shape: stream-stream interval join. Join state holds both
        // sides' horizon-admissible rows — grows ×k with the keys.
        phase("stream_join", k) {
          val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
          spark.conf.set("spark.sql.shuffle.partitions", "8")
          try {
            val (q, out) = runToParquet(Streams.attributionJoin(
                evStream().filter(col("event_type") === "purchase"),
                evStream().filter(col("event_type") === "click"),
                windowMs = 30 * 60 * 1000L), "join")
            report("stream_join", k, q,
              s""","out_rows":${spark.read.parquet(out).count()}""")
          } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        }

        // q117 shape: custom per-user session state
        // (flatMapGroupsWithState + event-time timeout). State rows ≈
        // still-open users — must grow ×k (uStride-offset users), while
        // sessions close as the inter-batch watermark passes them.
        phase("sessions", k) {
          import spark.implicits._
          val (q, out) = runToParquet(Streams.sessionize(
              Tables.normalizeTs(evStream()).as[Streams.Ev],
              gapMs = 30 * 60 * 1000L).toDF(), "sess")
          report("sessions", k, q,
            s""","out_rows":${spark.read.parquet(out).count()}""")
        }

        // q199 shape: unwatermarked dedup — state ∝ DISTINCT canonical
        // URLs ever seen (×k by construction), the unbounded-frontier
        // baseline the q203 form exists to bound.
        phase("url_dedup", k) {
          val (q, out) = runToParquet(
            WebIngest.withMessyUrl(docStream(), "doc_id", "source")
              .select(WebIngest.canonicalizeUrl(col("raw_url")).as("canon"))
              .dropDuplicates("canon"), "url")
          report("url_dedup", k, q,
            s""","out_rows":${spark.read.parquet(out).count()}""")
        }

        // q203 shape: watermarked dedup — same ×k key growth, but
        // state is bounded by the horizon: as batches advance the
        // watermark, expired keys are EVICTED, so per-batch state_rows
        // must stay ~flat while url_dedup's accumulate ×k.
        phase("url_dedup_wm", k) {
          val (q, out) = runToParquet(
            WebIngest.withMessyUrl(docStream(), "doc_id", "source")
              .select(WebIngest.canonicalizeUrl(col("raw_url")).as("canon"),
              // page ids grow with the replica offset, so event time
              // ADVANCES 4 s per page — later batches push the watermark
              // past earlier batches' keys and the state store must
              // EVICT: state stays O(horizon), the bound under test.
                timestamp_seconds(lit(1700000000L) +
                  expr("doc_id div 4") * 4).as("ts"))
              .withWatermark("ts", "10 minutes")
              .dropDuplicatesWithinWatermark("canon")
              .select(col("canon")), "urlwm")
          report("url_dedup_wm", k, q,
            s""","out_rows":${spark.read.parquet(out).count()}""")
        }

        // q85 shape: store-backed near-dup filter (foreachBatch). NO
        // state-store rows at all — state is the on-disk signature
        // store, pruned per batch by bucket. Replication is adversarial:
        // every replica doc is an exact dup of batch 1's, so the store
        // must stay ~CONSTANT (∝ distinct content) while cross-batch
        // drop work grows ×k.
        phase("neardup_store", k) {
          val base = java.nio.file.Files
            .createTempDirectory(s"scale-stream-nd-x$k").toString
          val q = StreamNearDup.run(docStream(), "doc_id", "text",
            s"$base/store", s"$base/out", s"$base/ckpt")
          q.awaitTermination()
          val storeRows = spark.read.parquet(s"$base/store/sigs").count()
          val outRows = spark.read.parquet(s"$base/out").count()
          report("neardup_store", k, q,
            s""","store_sig_rows":$storeRows,"out_rows":$outRows""")
        }
      }
    }

    if (tier == "ingest") {
      // ×N synthetic markdown corpus from the committed 10-file fixture
      // (the BASELINE.md <60 s / 30 files target's corpus, replicated).
      val srcUrl = getClass.getResource("/content/markdown")
      require(srcUrl != null && srcUrl.getProtocol == "file",
        s"markdown fixture not on a file classpath: $srcUrl")
      val srcDir = java.nio.file.Paths.get(srcUrl.toURI)
      val srcFiles = java.nio.file.Files.list(srcDir).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".md")).sortBy(_.toString)
      val storeRoot =
        java.nio.file.Files.createTempDirectory("scale-ingest-store")
      val store = new graft.store.VectorStore(spark, storeRoot.toString)
      for (k <- scales) {
        val corpusDir =
          java.nio.file.Files.createTempDirectory(s"scale-ingest-x$k")
        for (i <- 0 until k; f <- srcFiles)
          java.nio.file.Files.copy(f,
            corpusDir.resolve(s"copy${i}_${f.getFileName}"))
        val nFiles = k * srcFiles.length
        val t0 = System.nanoTime()
        val nOk = phase("ingest", k) {
          val res = IngestionPipeline.run(
            graft.sources.MarkdownSource.elements(spark,
              corpusDir.toString),
            store, s"scale_x$k").collect()
          require(res.forall(_.succeeded),
            s"ingest failures at ×$k: " +
              res.filterNot(_.succeeded).map(_.documentid).mkString(","))
          res.length
        }
        val wall = (System.nanoTime() - t0) / 1e9
        println(s"""{"scale":$k,"n_files":$nFiles,"n_ingested":$nOk,""" +
          s""""docs_per_sec":${r3(nOk / wall)}}""")
      }
    }
    if (tier == "warehouse") {
      // The r15 warehouse tier: scale-INVARIANCE for the event/
      // warehouse family (q206 SCD2, q212 streaks, q217 last-touch,
      // q210 burstiness — the queries' OWN plan functions, not a
      // reimplementation) under ×k USER-COHORT replication: each
      // replica is a fresh user_id/event_id range with identical
      // history. What must hold: every per-user answer is byte-
      // identical for the ORIGINAL cohort (user-keyed windows cannot
      // see the new cohorts), censuses scale exactly ×k, and the Fano
      // factor scales exactly linearly (exact copies are perfectly
      // CORRELATED arrivals — a superposition of independent users
      // would hold it flat; linearity is the correlated bound, and the
      // floor-division slack is provably < k).
      import graft.queries.WarehouseQueries
      val ev0 = Tables.load(spark, sfDir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      val uStride = ev0.agg(max(col("user_id"))).head().getLong(0) + 1L
      val eStride = ev0.agg(max(col("event_id"))).head().getLong(0) + 1L
      def replicateEv(k: Int): DataFrame =
        (0 until k).map { i =>
          ev0.select((col("event_id") + i * eStride).as("event_id"),
            col("ts"), (col("user_id") + i * uStride).as("user_id"),
            col("event_type"))
        }.reduce(_.unionByName(_))
      // Order-free original-cohort fingerprint: XOR-fold of per-row
      // xxhash64 (bit_xor — commutative, no ANSI overflow) — equality
      // across scales is the invariance.
      def fingerprint(df: DataFrame): Long = {
        val r = df.filter(col("user_id") < uStride)
          .agg(expr("bit_xor(xxhash64(struct(*)))")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val k0 = scales.head
      var scdFp1 = 0L
      var scdN1 = 0L
      var stkFp1 = 0L
      var touch1: Map[(String, Long), Long] = null
      var fano1: Map[String, Long] = null
      for (k <- scales) {
        val e = replicateEv(k).localCheckpoint(true)
        val nEvents = e.count()
        val (scdN, scdFp) = phase("scd2", k) {
          val out = WarehouseQueries.scd2Plan(e)
          (out.count(), fingerprint(out))
        }
        if (k == k0) { scdN1 = scdN; scdFp1 = scdFp }
        val (stkN, stkFp) = phase("streaks", k) {
          val out = WarehouseQueries.streaksPlan(e)
          (out.count(), fingerprint(out))
        }
        if (k == k0) stkFp1 = stkFp
        val touch = phase("last_touch", k) {
          WarehouseQueries.lastTouchPlan(e).collect()
            .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
            .toMap
        }
        if (k == k0) touch1 = touch
        val fano = phase("burstiness", k) {
          WarehouseQueries.burstinessPlan(e).collect()
            .map(r => r.getString(0) -> r.getAs[Long]("fano_e4")).toMap
        }
        if (k == k0) fano1 = fano
        val touchLinear = touch.keySet == touch1.keySet &&
          touch.forall { case (c, n) => n * k0 == touch1(c) * k }
        // floor(k·A/B) − k·floor(A/B) ∈ [0, k−1] for the k0 = 1 base
        val fanoLinear = fano.keySet == fano1.keySet &&
          fano.forall { case (t, f) =>
            val d = f * k0 - fano1(t) * k
            d >= 0 && d < k.toLong * k0
          }
        println(s"""{"scale":$k,"n_events":$nEvents,""" +
          s""""scd_versions":$scdN,""" +
          s""""scd_versions_linear":${scdN * k0 == scdN1 * k},""" +
          s""""scd_orig_invariant":${scdFp == scdFp1},""" +
          s""""streak_rows":$stkN,""" +
          s""""streak_orig_invariant":${stkFp == stkFp1},""" +
          s""""touch_census_linear":$touchLinear,""" +
          s""""fano_linear":$fanoLinear}""")
      }
    }
    if (tier == "linkage") {
      // The r15 linkage tier: containment dedup (q223's shape) and
      // entity resolution (q225's plan, via DedupQueries.erClusters)
      // under ×k growth.
      //
      // Containment replicates documents as EXACT COPIES — the
      // adversarial direction for a pair finder: every copy set is a
      // clique, so true pairs grow ×k² BY SEMANTICS and the df-cap is
      // the only thing bounding the candidate join. Pinned: shingle
      // rows grow exactly ×k, rare-candidate rows stay ≤ shingle rows
      // (the cap only ever REMOVES candidacy as df grows), and the
      // pair count respects the structural fan-out bound
      // pairs ≤ dfCap·candRows/2 — the inequality that holds at ANY
      // corpus size and is why the join cannot blow up.
      import graft.operators.Dedup
      val dStride = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
      def replicateDocs(k: Int): DataFrame = (0 until k).map(i =>
        docs0.select((col("doc_id") + i * dStride).as("doc_id"),
          col("text"))).reduce(_.unionByName(_))
      for (k <- scales) {
        val d = replicateDocs(k).localCheckpoint(true)
        val sh = Dedup.shingles(d, "doc_id", "text", 5)
          .localCheckpoint(true)
        val shRows = sh.count()
        val candRows = sh.join(
          sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= 50).select("shingle"),
          "shingle").count()
        val pairs = phase("containment", k) {
          Dedup.containmentPairs(d, "doc_id", "text",
            n = 5, dfCap = 50, minContainE4 = 5000).count()
        }
        println(s"""{"scale":$k,"tier":"containment",""" +
          s""""shingle_rows":$shRows,"cand_rows":$candRows,""" +
          s""""pairs":$pairs,""" +
          s""""fanout_bound_ok":${pairs <= 50L * candRows / 2}}""")
      }
      // ER replicates CUSTOMERS as fresh entity ranges (stride a
      // multiple of 30, so the %3/%5 variant rules and the div-10
      // block key replicate exactly and replica blocks are disjoint).
      // Pinned: record mass grows exactly ×k, the ORIGINAL cohort's
      // per-cluster table is byte-identical at every scale (disjoint
      // blocks ⇒ new cohorts cannot touch old clusters), and driver
      // heap stays flat (the phase log prints it).
      val cust0 = Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey"))
      val cStride = {
        val m = cust0.agg(max(col("c_custkey"))).head().getLong(0) + 1L
        ((m + 29L) / 30L) * 30L
      }
      def replicateCust(k: Int): DataFrame = (0 until k).map(i =>
        cust0.select((col("c_custkey") + i * cStride).as("c_custkey")))
        .reduce(_.unionByName(_))
      val k0 = scales.head
      var recs1 = 0L
      var fp1 = 0L
      for (k <- scales) {
        val c = replicateCust(k).localCheckpoint(true)
        val (nrec, nclusters, fp) = phase("entity_resolution", k) {
          val cl = graft.queries.DedupQueries.erClusters(c)
            .localCheckpoint(true)
          val n = cl.agg(sum(col("sz")), count(lit(1))).head()
          val f = cl.filter(col("min_k") < cStride)
            .agg(expr("bit_xor(xxhash64(struct(*)))")).head()
          (n.getLong(0), n.getLong(1), if (f.isNullAt(0)) 0L else f.getLong(0))
        }
        if (k == k0) { recs1 = nrec; fp1 = fp }
        println(s"""{"scale":$k,"tier":"entity_resolution",""" +
          s""""records":$nrec,"clusters":$nclusters,""" +
          s""""records_linear":${nrec * k0 == recs1 * k},""" +
          s""""orig_cohort_invariant":${fp == fp1}}""")
      }
    }

    if (tier == "store") {
      // The r16 BUCKETED-STORE operational tier: the four store
      // primitives (bulk upsert, full compact, incremental replace
      // merge, incremental compact) plus a point read, at ×k document
      // counts. The invariants that make this the 100 TB layout, each
      // MEASURED here rather than asserted from the design:
      //   - compacted census == #present buckets, FLAT across ×k
      //     (independent of document count);
      //   - a fixed-size ingest increment touches a CONSTANT bucket
      //     set regardless of corpus size (commit = O(touched
      //     buckets), never O(documents));
      //   - a point read lists exactly ONE bucket's files at the
      //     FileIndex level (the q162 physical-pruning discipline) —
      //     the fraction listed falls as the corpus grows;
      //   - compactFragmented rewrites ONLY the increment's buckets —
      //     its cost is O(fragmented buckets' bytes), flat across ×k;
      //   - driver heap stays flat (the phase log prints it).
      val nBuckets = 16
      import org.apache.spark.sql.execution.FileSourceScanExec
      def chunksOf(d: DataFrame, n: Int, width: Int, tag: String) = d
        .select(col("doc_id"),
          posexplode(array((0 until n).map(i =>
            substring(col("text"), i * width + 1, width)): _*))
            .as(Seq("ci", "content")))
        .filter(length(col("content")) > 0)
        .select(
          concat(lit("d"), col("doc_id"), lit(s":$tag"), col("ci"))
            .as("key"),
          typedLit(Array.empty[Float]).as("embedding"),
          col("content"), lit("x").as("context"),
          concat(lit("d"), col("doc_id")).as("documentid"))
        .repartition(8)
        .as[graft.model.EmbeddedChunk](
          org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk])
      // The increment cohort: the 5 smallest ORIGINAL doc_ids — the
      // same physical documents at every scale, so any growth in the
      // touched-bucket set or rewrite cost is the layout's fault.
      val cohort = docs0.select(col("doc_id")).orderBy(col("doc_id"))
        .limit(5).collect().map(_.getLong(0))
      val pointDoc = s"d${cohort.head}"
      for (k <- scales) {
        val docs = replicate(k)
        val nDocs = docs.count()
        val root = java.nio.file.Files
          .createTempDirectory(s"scale-store-x$k").toString
        val store = new graft.store.BucketedVectorStore(
          spark, root, nBuckets)
        phase("upsert_base", k) {
          store.upsert(chunksOf(docs, 3, 150, ""), "c")
        }
        val (cb, ca) = phase("compact_full", k) { store.compact("c") }
        require(ca <= nBuckets,
          s"store tier ×$k: compacted census $ca exceeds nBuckets")
        val preInc = store.bucketFileCounts("c")
        phase("upsert_increment", k) {
          store.upsert(chunksOf(docs.filter(col("doc_id").isin(
            cohort.map(java.lang.Long.valueOf): _*)), 2, 200, "r"), "c")
        }
        val postInc = store.bucketFileCounts("c")
        val touched = postInc.count { case (b, n) => preInc.get(b) != Some(n) }
        val (pointListed, pointTotal, pointRows) = phase("point_read", k) {
          val df = store.readDocument("c", pointDoc)
          val scan = df.queryExecution.sparkPlan.collect {
            case f: FileSourceScanExec => f }.head
          val listed = scan.relation.location
            .listFiles(scan.partitionFilters, Nil).map(_.files.size).sum
          val total = scan.relation.location
            .listFiles(Nil, Nil).map(_.files.size).sum
          (listed, total, df.count())
        }
        require(pointListed < pointTotal,
          s"store tier ×$k: point read listed every file")
        val (rewritten, fb, fa) = phase("compact_fragmented", k) {
          store.compactFragmented("c", maxFilesPerBucket = 1)
        }
        require(rewritten <= cohort.length,
          s"store tier ×$k: incremental compact rewrote $rewritten " +
            s"buckets for a ${cohort.length}-doc increment")
        println(s"""{"scale":$k,"tier":"store","n_docs":$nDocs,""" +
          s""""census_pre_compact":$cb,"census_post_compact":$ca,""" +
          s""""buckets_touched_by_increment":$touched,""" +
          s""""point_read_files_listed":$pointListed,""" +
          s""""point_read_files_total":$pointTotal,""" +
          s""""point_read_rows":$pointRows,""" +
          s""""frag_buckets_rewritten":$rewritten,""" +
          s""""census_pre_frag":$fb,"census_post_frag":$fa}""")
      }
    }
    if (tier == "snapshot") {
      // The r16 SNAPSHOT-STORE commit-protocol tier: the manifest
      // layout's lifecycle (bulk ingest, fixed increment, tombstone
      // delete, merge-on-read read, copy-on-write compact, time
      // travel, vacuum) at ×k document counts. The invariants that
      // make this the object-store layout, each MEASURED:
      //   - a fixed-size increment's commit ADDS a constant file set
      //     (O(batch)) and MUTATES ZERO existing files — (path, len,
      //     mtime) stamps of v1's whole file census byte-identical
      //     through three later commits, at every scale;
      //   - merge-on-read equals the post-compact plain scan row for
      //     row (the read walls of both phases are recorded — the MOR
      //     arbitration premium is delta-sized, not store-sized);
      //   - the compacted live census is bounded by nBuckets, FLAT
      //     across ×k; the manifest stays O(entries) bytes;
      //   - vacuum(retain=1) leaves exactly the one base dir live;
      //   - driver heap stays flat (the phase log prints it).
      val nBuckets = 16
      def chunksOf(d: DataFrame, n: Int, width: Int, tag: String) = d
        .select(col("doc_id"),
          posexplode(array((0 until n).map(i =>
            substring(col("text"), i * width + 1, width)): _*))
            .as(Seq("ci", "content")))
        .filter(length(col("content")) > 0)
        .select(
          concat(lit("d"), col("doc_id"), lit(s":$tag"), col("ci"))
            .as("key"),
          typedLit(Array.empty[Float]).as("embedding"),
          col("content"), lit("x").as("context"),
          concat(lit("d"), col("doc_id")).as("documentid"))
        .repartition(8)
        .as[graft.model.EmbeddedChunk](
          org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk])
      val cohort = docs0.select(col("doc_id")).orderBy(col("doc_id"))
        .limit(5).collect().map(_.getLong(0))
      for (k <- scales) {
        val docs = replicate(k)
        val nDocs = docs.count()
        val root = java.nio.file.Files
          .createTempDirectory(s"scale-snap-x$k").toString
        val store = new graft.store.SnapshotStore(spark, root, nBuckets)
        val fsys = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
        def stamps(files: Seq[String]): Seq[String] =
          files.sorted.map { rel =>
            val st = fsys.getFileStatus(
              new org.apache.hadoop.fs.Path(s"$root/c/$rel"))
            s"$rel:${st.getLen}:${st.getModificationTime}"
          }
        phase("upsert_base", k) {
          store.upsert(chunksOf(docs, 3, 150, ""), "c")          // v1
        }
        val v1Files = store.liveDataFiles("c", 1L)
        val v1Stamps = stamps(v1Files)
        phase("upsert_increment", k) {                            // v2
          store.upsert(chunksOf(docs.filter(col("doc_id").isin(
            cohort.map(java.lang.Long.valueOf): _*)), 2, 200, "r"), "c")
        }
        val incFiles = store.liveDataFiles("c", 2L).size - v1Files.size
        phase("delete", k) {                                      // v3
          store.delete("c", cohort.take(2).map(d => s"d$d"))
        }
        val morRows = phase("read_mor", k) { store.read("c").count() }
        val (cb, ca) = phase("compact", k) { store.compact("c") } // v4
        require(ca <= nBuckets,
          s"snapshot tier ×$k: compacted live census $ca exceeds nBuckets")
        val baseRows = phase("read_base", k) { store.read("c").count() }
        require(morRows == baseRows,
          s"snapshot tier ×$k: MOR read $morRows rows, post-compact " +
            s"scan $baseRows")
        require(stamps(v1Files) == v1Stamps,
          s"snapshot tier ×$k: a later commit mutated v1's files")
        val v1Rows = phase("read_at_v1", k) {
          store.readAt("c", 1L).count()
        }
        val manifestBytes = java.nio.file.Files.size(java.nio.file.Paths
          .get(s"$root/c/_snapshots/v00000004.json"))
        // VERSION-DIFF walls (r18): a fixed 2-commit window diffed over
        // the ×k store. The fast path runs on the steady-state shape —
        // the window sits ON TOP of v4's compacted base (hash-bucketed
        // by documentid, sorted within files), so the pushed-down IN
        // probe of the 5 touched ids prunes the base to ~5 row groups
        // and the wall must track the WINDOW, not the store. The full
        // path (compaction inside the window) is the honest fallback:
        // two store-sized MOR scans + one shuffle — its wall GROWS with
        // ×k, which is the measured price of a content diff across a
        // rewrite.
        phase("upsert_post_compact", k) {                         // v5
          store.upsert(chunksOf(docs.filter(col("doc_id").isin(
            cohort.map(java.lang.Long.valueOf): _*)), 2, 180, "s"), "c")
        }
        phase("delete_post_compact", k) {                         // v6
          store.delete("c", cohort.slice(2, 4).map(d => s"d$d"))
        }
        val diffFast = phase("diff_fast_window", k) {
          store.changedDocuments("c", 4L, 6L).count()
        }
        // v3 deleted cohort(0,1); v5 re-added all 5; v6 removed
        // cohort(2,3): 2 added + 2 removed + 1 changed = 5 rows, all
        // three classes exercised at every scale.
        require(diffFast == 5L,
          s"snapshot tier ×$k: window diff returned $diffFast rows, " +
            "expected 5 (2 added, 2 removed, 1 changed)")
        val diffFull = phase("diff_full_compaction", k) {
          store.changedDocuments("c", 3L, 4L).count()
        }
        require(diffFull == 0L,
          s"snapshot tier ×$k: compaction must be content-invisible " +
            s"to the diff, got $diffFull rows")
        // SEMI-JOIN FALLBACK (r19, verdict item 6): a BULK window — one
        // commit replacing half the store's documents, past
        // DiffPushdownCapKey at ×10+ — must take the left-semi route (a
        // driver-side IN literal that size would bloat the plan). Its
        // wall is store-sized by design (two MOR scans + the checksum
        // shuffle — the same class as diff_full_compaction); what stays
        // WINDOW-sized is the touched-id probe, which reads only the
        // window's manifest-pruned delta files. Every touched document
        // must surface (the v7 chunk keys carry a new tag, so each is
        // added-or-changed) — a dropped id here would be the silent-miss
        // failure mode the fallback exists to avoid.
        phase("upsert_bulk", k) {                                 // v7
          store.upsert(chunksOf(docs.filter(col("doc_id") % 2 === 0),
            2, 160, "b"), "c")
        }
        val nBulk = docs.filter(col("doc_id") % 2 === 0).count()
        val cap = spark.conf.getOption(
          graft.store.SnapshotStore.DiffPushdownCapKey)
          .getOrElse("1000").toInt
        require(k < 10 || nBulk > cap,
          s"snapshot tier ×$k: bulk window touches $nBulk ids — raise " +
            s"the bulk fraction; the fallback case needs > cap ($cap)")
        val diffBulk = phase("diff_bulk_semijoin", k) {
          store.changedDocuments("c", 6L, 7L).count()
        }
        require(diffBulk == nBulk,
          s"snapshot tier ×$k: bulk diff returned $diffBulk rows, " +
            s"expected every touched document ($nBulk)")
        val (deleted, live) = phase("vacuum", k) {
          store.vacuum("c", retainLast = 1, minAgeMs = 0L)
        }
        require(live == 4L,
          s"snapshot tier ×$k: $live live data dirs after vacuum, " +
            "expected compacted base + post-compact delta + tombstone " +
            "+ bulk delta")
        println(s"""{"scale":$k,"tier":"snapshot","n_docs":$nDocs,""" +
          s""""v1_files":${v1Files.size},"increment_files":$incFiles,""" +
          s""""census_pre_compact":$cb,"census_post_compact":$ca,""" +
          s""""mor_rows":$morRows,"v1_rows":$v1Rows,""" +
          s""""manifest_bytes":$manifestBytes,""" +
          s""""diff_fast_rows":$diffFast,"diff_full_rows":$diffFull,""" +
          s""""diff_bulk_rows":$diffBulk,"bulk_touched":$nBulk,""" +
          s""""vacuum_deleted_dirs":$deleted,"vacuum_live_dirs":$live}""")
      }
    }

    // RANKS tier: the distributed-rank swap (Ranks.groupedPrefixSum's
    // fallback) vs the keyed window it replaces, on the ADVERSARIAL
    // shape — 5 groups, so per-group cardinality is nRows/5 and the
    // window's parallelism is capped at 5 tasks while the two-pass
    // fallback spreads every shard across all cores. Claims measured:
    // (a) identical results at every scale (checksum equality),
    // (b) the fallback's wall tracks data volume, not group count,
    // (c) the only driver state is the O(partitions + groups)
    //     run-length table (heap flat at ×10).
    if (tier == "ranks") for (k <- scales) {
      val docs = replicate(k)
      val sig = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(5L)).cast("string").as("g"),
          length(col("text")).cast("long").as("v"))
        .localCheckpoint(true)
      val nRows = sig.count()
      def checksum(df: DataFrame): Long = df
        .agg(sum(pmod(col("cum") * pmod(col("doc_id"), lit(1000003L)),
          lit(2147483647L)))).head().getLong(0)
      val wWin = phase("window", k) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("v"), col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        checksum(sig.withColumn("cum",
          coalesce(sum(lit(1L)).over(w), lit(0L))))
      }
      val wDist = phase("distributed", k) {
        checksum(graft.operators.Ranks.distributedPrefixSum(
          sig.withColumn("__one", lit(1L)), "g",
          Seq("v", "doc_id"), "__one", "cum"))
      }
      require(wWin == wDist,
        s"ranks tier ×$k: window checksum $wWin != distributed $wDist")
      println(s"""{"scale":$k,"tier":"ranks","n_rows":$nRows,""" +
        s""""n_groups":5,"checksum":$wWin}""")
    }
    spark.stop()
  }
}
