package graft.store

import graft.functions.{Embedding, EmbeddingProvider}
import graft.model.EmbeddedChunk
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The store seam: what the ingestion surface (batch pipeline, stream
  * ingest) requires of a chunk store — replace-by-document upsert with
  * idempotent deterministic keys, and schema-on-read read-back. Two
  * layouts implement it:
  *
  *   - [[VectorStore]]: one parquet partition per documentid — the
  *     reference's replace-unit layout (`VectorStoreCommands.cs:159`),
  *     right for ingest increments and REPL collections;
  *   - [[BucketedVectorStore]]: nBuckets hash partitions of documentid
  *     — the 100 TB layout (file census independent of document count,
  *     O(buckets) commits, bucket-pruned merges and point reads).
  *
  * The contract both must honor (and ChunkStoreSwapSpec certifies):
  * the LAYOUT is invisible to readers — the same pipeline run lands
  * byte-identical (key, content, context, documentid, embedding) rows
  * through either implementation.
  *
  * The QUERY surface (Q1 search, Q2 list) lives here too, implemented
  * once over `read`: search semantics must not depend on the layout,
  * so the CLI's `--layout` flag can swap stores without changing what
  * a query returns. The ANN scan hooks (implemented here, once)
  * serve from a persisted `_index` sidecar when one is FRESH, else
  * fit at search time — on either layout.
  */
trait ChunkStore {
  protected def spark: SparkSession
  protected def root: String

  /** One directory per collection under the store root — the layout
    * both implementations share (what differs is INSIDE the
    * directory: documentid partitions vs hash buckets), so the
    * collection-scoped machinery (listing, fingerprints, the `_index`
    * sidecar) lives here, written once.
    */
  protected final def collectionPath(collection: String): String =
    s"$root/$collection"

  /** Content-version fingerprint backing the `_index` freshness check —
    * any upsert/delete/compact must change it. Default: the raw
    * data-file census hash ([[ChunkStore.dataFingerprint]]), right for
    * the rename-commit layouts whose directories hold exactly the live
    * data. [[SnapshotStore]] overrides it with a hash of the LATEST
    * MANIFEST instead: its directories retain non-live files for time
    * travel, so a vacuum (which changes no live content) must NOT
    * invalidate a fresh index, and a commit (which changes only the
    * manifest until old files age out) MUST.
    */
  protected def storeFingerprint(collection: String): String =
    ChunkStore.dataFingerprint(spark, collectionPath(collection))

  /** The rows of `docIds` as the collection holds them now — the Δ read
    * of [[refreshIndex]]. Default: the full read, filtered.
    * [[SnapshotStore]] prunes at the scan instead (its merge-on-read
    * arbitration is per documentid, so a pruned read is exact).
    */
  protected def readDocuments(collection: String,
      docIds: Seq[String]): DataFrame =
    read(collection).filter(col("documentid").isin(docIds: _*))

  // ------------------------------------------------------- ANN sidecar
  //
  // Each ANN mode (`lsh`, `ivfsq`) keeps one SIDECAR under
  // `<collection>/_index/<mode>/`, in three parts:
  //
  //   - a BASE code file set `base-*/`: (key, documentid, code columns)
  //     rows, one per chunk, written by [[buildIndex]] or a fold;
  //   - appended DELTA code file sets `delta-*/`, one per
  //     [[refreshIndex]]: the current codes of exactly the documentids
  //     that refresh was given (none for a deleted document);
  //   - the sidecar MANIFEST `vNNNNNNNN.json`, read and written on the
  //     driver: the frozen model, the data fingerprint the codes are
  //     fresh for, the codes' schema, and the base and deltas with their
  //     row counts and, per delta, the documentids it replaces.
  //
  // LIVE CODES = base ∪ deltas, where every file group drops the
  // documentids of the deltas after it — a literal `NOT documentid IN
  // (…)` filter per file group, taken from the manifest, so serving
  // adds no join and no job. The live codes equal a frozen-model re-encode of
  // the whole collection (q242, q251, IndexSidecarSpec and
  // IndexMaintenancePropertySpec pin the set equality).
  //
  // FOLD: a build, a compaction's re-stamp, and any refresh whose deltas
  // would hold more rows than the base (or number more than
  // [[ChunkStore.MaxDeltas]]) write the live codes as one new base; the
  // superseded file groups are deleted after the new manifest is
  // published.
  //
  // COMMIT: file groups are written before the manifest that names
  // them, and a manifest is published as version N+1 of the one it was
  // derived from through [[ChunkStore.tryPublish]] — the snapshot
  // layout's create-if-absent CAS. A crash before the publish leaves
  // file groups no manifest names (never read; the snapshot layout's
  // vacuum sweeps them, [[sweepSidecars]]); a writer
  // that loses the race deletes its files and the winner's manifest
  // stands. Readers take the highest
  // version, so every state a reader can see names complete files
  // stamped with the fingerprint they were derived under — fresh, stale
  // or absent, never wrong. A sidecar of the earlier parquet-meta
  // format has no manifest and reads as absent: search fits at search
  // time and [[buildIndex]] writes a new sidecar.

  private def sidecarDir(collection: String, mode: String) =
    s"${collectionPath(collection)}/_index/$mode"

  /** SERVING MEMO — load the index once, serve many. Profiling the
    * q240/q242 serving path showed ~75% of a sidecar search's wall was
    * DRIVER time: every search re-read the model, re-listed the
    * collection's files, and re-planned the codes read. A serving layer
    * amortizes all three: the manifest, the live-codes DataFrame and the
    * collection read are memoized per (collection, mode) keyed by a
    * serving TOKEN — the data fingerprint plus the (name, length, mtime)
    * of the latest sidecar manifest — and every search revalidates with
    * two driver-side listings (no job). Any upsert/delete/compact
    * changes the fingerprint, and any sidecar write (by this or another
    * process over the same root) publishes a new manifest, so a stale
    * entry never serves: it is reloaded, or the search falls back to
    * fit-at-search when the sidecar itself is stale (ServingMemoSpec
    * pins the cross-process case).
    */
  private val servingSidecar = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, ChunkStore.Sidecar)]()
  private val servingDf = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, DataFrame)]()
  private val stampCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, Option[org.apache.hadoop.fs.FileStatus])]()

  /** The latest manifest file of `mode`'s sidecar — one driver-side
    * listing. Opt-in TTL (`spark.graft.serving.stampTtlMs`, default 0 =
    * list on every search, the local-fs-safe behavior the specs pin):
    * on a real object store the listing is a LIST request on the
    * serving hot path, and the cross-process safety it buys only needs
    * eventual detection there, so a deployment can trade "another
    * process's sidecar write is invisible for up to TTL (a search in
    * that window fails loudly on deleted files, never serves silently
    * wrong rows)" for LIST-free repeat searches. In-process writes stay
    * exact: they drop this cache via [[invalidateServing]].
    */
  private def latestManifestFile(collection: String,
      mode: String): Option[org.apache.hadoop.fs.FileStatus] = {
    val ttlMs = spark.conf.get("spark.graft.serving.stampTtlMs", "0").toLong
    val key = (collection, mode)
    if (ttlMs > 0) {
      val hit = stampCache.get(key)
      if (hit != null && System.nanoTime() < hit._1) return hit._2
    }
    val latest = ChunkStore.latestSidecarFile(spark,
      sidecarDir(collection, mode))
    if (ttlMs > 0)
      stampCache.put(key, (System.nanoTime() + ttlMs * 1000000L, latest))
    latest
  }

  /** `mode`'s sidecar manifest plus the serving token the codes memo is
    * keyed under, or None when the sidecar is absent or stale — two
    * driver-side listings per call, one small JSON read per (re)load.
    */
  private def freshSidecar(collection: String,
      mode: String): Option[(ChunkStore.Sidecar, String)] = {
    val fp = storeFingerprint(collection)
    val key = (collection, mode)
    latestManifestFile(collection, mode).flatMap { st =>
      val token = s"$fp|${st.getPath.getName}:${st.getLen}:" +
        s"${st.getModificationTime}"
      val cached = servingSidecar.get(key)
      if (cached != null && cached._1 == token) Some((cached._2, token))
      else ChunkStore.readSidecar(spark, st.getPath) match {
        case None =>
          // Superseded and deleted between the listing and the read:
          // serve fit-at-search this once; the next listing sees it.
          stampCache.remove(key)
          None
        case Some(sc) if sc.fingerprint == fp =>
          servingSidecar.put(key, (token, sc))
          Some((sc, token))
        case _ => None
      }
    }
  }

  /** The live codes of a sidecar: base ∪ deltas in ONE scan with the
    * manifest's schema (no inference job), each file group's rows
    * filtered by the documentids of the deltas after it. One scan, not a
    * union of one per group: every extra scan in the plan cost a
    * sidecar search ~60 ms of planning and scheduling (measured with
    * three deltas on a 1500-chunk collection: 0.82 s for the union
    * against 0.52 s for this form and 0.47 s for a single folded base).
    */
  private def liveCodes(collection: String,
      sc: ChunkStore.Sidecar): DataFrame = {
    val dir = sidecarDir(collection, sc.model.mode)
    val codes = spark.read.schema(sc.schema)
      .parquet(sc.groups.map(g => s"$dir/${g.path}"): _*)
    ChunkStore.dropShadowed(codes, sc.groups.zipWithIndex.map {
      case (g, i) => g.path -> sc.deltas.drop(i).flatMap(_.replaces).distinct
    })
  }

  /** `load` memoized under `key` while `token` stays the same. */
  private def memoized(key: (String, String), token: String)(
      load: => DataFrame): DataFrame = {
    val cached = servingDf.get(key)
    if (cached != null && cached._1 == token) cached._2
    else {
      val df = load
      servingDf.put(key, (token, df))
      df
    }
  }

  /** Memoized live-codes read under the serving `token`. */
  private def servingCodes(collection: String, sc: ChunkStore.Sidecar,
      token: String): DataFrame =
    memoized((collection, s"codes_${sc.model.mode}"), token)(
      liveCodes(collection, sc))

  /** Drop a collection's sidecar memo — called around every sidecar
    * write by this instance. Data-path mutations need no hook: they
    * change the fingerprint, which every lookup revalidates (and which
    * alone keys the collection-read memo).
    */
  private def invalidateServing(collection: String): Unit =
    ChunkStore.IndexModes.foreach { m =>
      servingSidecar.remove((collection, m))
      stampCache.remove((collection, m))
      servingDf.remove((collection, s"codes_$m"))
    }

  /** Memoized collection read under `fp` (serving path only — the
    * maintenance paths keep their direct [[read]] calls).
    */
  private def servingChunks(collection: String, fp: String): DataFrame =
    memoized((collection, "chunks"), fp)(read(collection))

  def upsert(chunks: Dataset[EmbeddedChunk], collection: String): Unit
  def read(collection: String): DataFrame

  /** DELETE whole documents — the takedown/right-to-be-forgotten
    * primitive every long-lived store needs (the replace-by-document
    * upsert can only ever replace, never remove). The unit is the
    * documentid, matching the upsert contract; deleting an absent id
    * is a no-op; cost follows the layout's replace unit (per-document
    * partitions dropped / touched buckets rewritten), never the store.
    */
  def delete(collection: String, docIds: Seq[String]): Unit

  /** Store maintenance: rewrite a collection to its canonical file
    * layout. Returns (files_before, files_after).
    */
  def compact(collection: String): (Long, Long)

  /** Q2: list collection names (subdirectories of the store root) —
    * layout-independent, both stores keep one directory per collection.
    */
  def listCollections(): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("_")).toSeq.sorted
  }

  /** Q1: cosine KNN. Embeds the query with the same provider used at
    * ingest time (one generator for both, as in `Program.cs:76-79`), scores
    * with codegen-friendly higher-order functions (no UDF), and reduces with
    * TakeOrderedAndProject — the only cross-node traffic is k rows.
    *
    * `mode` selects the scan strategy; the DEFAULT is `exact` (the
    * reference's semantics — sqlite-vec brute force scan,
    * `VectorStoreCommands.cs:113`). The ANN modes are opt-in and
    * APPROXIMATE (sub-linear scan, recall < 1):
    *
    *   - `lsh`: random-hyperplane bucket probe (radius-
    *     [[ChunkStore.LshProbeRadius]] multiprobe) — only the probe
    *     buckets are scanned, candidates re-scored with exact cosine.
    *   - `ivfsq`: the composed IVF-SQ tier (q138's operator) — coarse
    *     k-means probe pruning + SQ8 residual codes rank the
    *     candidates in integer space; the returned rows carry exact
    *     cosine scores. The chunk embeddings are L2-normalized at
    *     ingest, so L2 ranking and cosine ranking agree.
    *
    * Every mode returns the SAME shape: chunk columns + `score`
    * (cosine, 6dp), ordered (score desc, key). The trait's ANN hooks
    * build the index at search time from the collection (the
    * convenience path — right for REPL-sized collections);
    * [[buildIndex]] persists the code tables once so the
    * serving path reads a `_index` sidecar instead — exactly the
    * stored-code shape q128/q138 certify under the oracle.
    */
  def search(collection: String, queryText: String, k: Int = 1,
      provider: EmbeddingProvider = Embedding.default,
      mode: String = "exact"): DataFrame = mode match {
    case "exact" =>
      val qv = provider.embed(queryText)
      read(collection)
        .withColumn("score",
          round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
        .orderBy(col("score").desc, col("key"))
        .limit(k)
    case "lsh" => searchLsh(collection, provider.embed(queryText), k)
    case "ivfsq" => searchIvfsq(collection, provider.embed(queryText), k)
    case other => throw new IllegalArgumentException(
      s"unknown search mode '$other' (exact|lsh|ivfsq)")
  }

  /** SET-ORIENTED Q1: answer a query BATCH in ONE plan per mode — the
    * serving shape a production search tier runs (and the r19 profile
    * demanded: ~75% of a per-query search's wall was driver-side
    * planning/collect, paid once per query; a batch pays it once per
    * MODE). Per query the returned (key, score) rows, ranking and
    * tie-breaks are EXACTLY [[search]]'s — the per-query `limit(k)`
    * becomes a row_number window over the same (score desc, key) order,
    * the probe prunes become broadcast equality joins on the same
    * driver-computed probe lists, and the scoring expression is the
    * same codegen'd [[graft.functions.CosineSimilarity]] with the query
    * vector as a joined column instead of a folded literal
    * (BatchedSearchSpec pins `searchAll ≡ queries.map(search)` rowwise
    * on all three modes, serving and fit-at-search paths). The corpus
    * is scanned ONCE for the whole batch; the only per-query state
    * shipped is the broadcast batch itself — at 100 TB this is the
    * difference between q queries × one scan each and one scan.
    *
    * Returns (query_id, key, score), per-query top-`k`, ordered
    * (query_id, score desc, key) — in EVERY mode, including exact:
    * unlike [[search]], which in exact mode returns the full chunk
    * columns plus score, the batch path ships only the id/score pair
    * (callers needing chunk columns join them back on `key`).
    */
  def searchAll(collection: String, queries: Seq[(Long, String)],
      k: Int = 1, provider: EmbeddingProvider = Embedding.default,
      mode: String = "exact"): DataFrame = {
    require(queries.nonEmpty, "searchAll needs at least one query")
    val qvs = queries.map { case (qid, text) => (qid, provider.embed(text)) }
    require(qvs.map(_._2.length).distinct.size == 1,
      "searchAll query batch mixes embedding dimensions")
    mode match {
      case "exact" =>
        rescoreTopK(read(collection).select(col("key"), col("embedding")),
          qvs, k)
      case "lsh" => searchAllLsh(collection, qvs, k)
      case "ivfsq" => searchAllIvfsq(collection, qvs, k)
      case other => throw new IllegalArgumentException(
        s"unknown search mode '$other' (exact|lsh|ivfsq)")
    }
  }

  /** The batch as a broadcast (query_id, __qv float vector) frame. */
  private def queryBatchDf(qvs: Seq[(Long, Array[Float])]): DataFrame = {
    val s0 = spark
    import s0.implicits._
    broadcast(qvs.toDF("query_id", "__qv"))
  }

  /** Exact cosine + per-query top-k over (key, embedding[, query_id])
    * rows: when `cand` already carries a query_id the scoring join is
    * keyed on it (each candidate scores against ITS query); otherwise
    * every key scores against every query of the batch (the exact-mode
    * full scan).
    */
  private def rescoreTopK(cand: DataFrame, qvs: Seq[(Long, Array[Float])],
      k: Int): DataFrame = {
    val q = queryBatchDf(qvs)
    val hasQid = cand.columns.contains("query_id")
    val joined = if (hasQid) cand.join(q, Seq("query_id"))
      else cand.crossJoin(q)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("key"))
    val scored = joined
      .select(col("query_id"), col("key"),
        round(graft.functions.CosineSimilarity(col("embedding"),
          col("__qv")), 6).as("score"))
    // 100 TB shape (r21): in exact mode the window input is the whole
    // corpus × batch, and a bare per-query row_number would funnel every
    // scored row into |batch| tasks — one full per-query corpus sort per
    // task (the same single-task-window class PlanAuditSpec hunts, at
    // low instead of empty partition cardinality). Bound it first: a
    // per-(scan partition, query) local top-k leaves ≤ k × partitions
    // rows per query for the global ranking, and any partitioning of
    // the scan yields the same global top-k. The ANN modes skip the
    // extra exchange — their candidate sets are already pool-bounded
    // per query by the probe/pool prune.
    val bounded = if (hasQid) scored else {
      val lw = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id", "__p")
        .orderBy(col("score").desc, col("key"))
      scored.withColumn("__p", spark_partition_id())
        .withColumn("__lrn", row_number().over(lw))
        .filter(col("__lrn") <= k)
        .drop("__p", "__lrn")
    }
    bounded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("key"), col("score"))
      .orderBy(col("query_id"), col("score").desc, col("key"))
  }

  /** Batched [[searchLsh]]: ONE probe join for the whole batch against
    * the persisted bucket table when fresh, else one fit-at-search
    * index over one collection read. Candidate sets per query are
    * exactly the per-query path's (a bucket-equality broadcast join
    * replays the `isin` probe filter).
    */
  private def searchAllLsh(collection: String,
      qvs: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    val s0 = spark
    import s0.implicits._
    freshSidecar(collection, "lsh") match {
      case Some((sc @ ChunkStore.Sidecar(_, fp, m: ChunkStore.LshModel,
          _, _, _), token)) =>
        require(m.dim == qvs.head._2.length,
          s"lsh index dim ${m.dim} != query dim ${qvs.head._2.length}")
        val probesDf = broadcast(qvs.flatMap { case (qid, qv) =>
          m.lsh.probeBuckets(qv, ChunkStore.LshProbeRadius)
            .map(b => (qid, b))
        }.toDF("query_id", "bucket"))
        val cand = servingCodes(collection, sc, token)
          .join(probesDf, Seq("bucket"))
          .select(col("query_id"), col("key"))
        rescoreTopK(servingChunks(collection, fp)
          .select(col("key"), col("embedding")).join(cand, Seq("key")),
          qvs, k)
      case _ =>
        val chunks = read(collection)
        val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
          nBits = lshBitsFor(chunks.count()), dim = qvs.head._2.length)
        val probesDf = broadcast(qvs.flatMap { case (qid, qv) =>
          lsh.probeBuckets(qv, ChunkStore.LshProbeRadius).map(b => (qid, b))
        }.toDF("query_id", "bucket"))
        rescoreTopK(lsh.index(chunks, "embedding")
          .select(col("key"), col("embedding"), col("bucket"))
          .join(probesDf, Seq("bucket"))
          .select(col("query_id"), col("key"), col("embedding")),
          qvs, k)
    }
  }

  /** Batched [[searchIvfsq]]: the whole batch through ONE
    * [[graft.operators.IvfSq.searchCodesAll]] pass (persisted codes
    * when fresh, a one-shot fit + encode when not), then one exact
    * cosine re-score of the per-query survivors.
    */
  private def searchAllIvfsq(collection: String,
      qvs: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    val dim = qvs.head._2.length
    val pool = math.max(200, 20 * k)
    val (codes, chunks, m) = freshSidecar(collection, "ivfsq") match {
      case Some((sc @ ChunkStore.Sidecar(_, fp, im: ChunkStore.IvfsqModel,
          _, _, _), token)) =>
        require(im.dim == dim,
          s"ivfsq index dim ${im.dim} != query dim $dim")
        (servingCodes(collection, sc, token), servingChunks(collection, fp),
          im.model)
      case _ =>
        val chunks = read(collection)
        val model = graft.operators.IvfSq.fit(chunks, "key", "embedding",
          kCentroids = 8, dim = dim)
        (graft.operators.IvfSq.index(chunks, "embedding", model)
          .select(col("key"), col("ivf_cid"), col("sq_code")),
          chunks, model)
    }
    val ids = graft.operators.IvfSq.searchCodesAll(codes, chunks,
        "key", "embedding", "ivf_cid", "sq_code", m, qvs,
        k = k, nprobe = ChunkStore.IvfsqNprobe, pool = pool)
      .select(col("query_id"), col("key"))
    rescoreTopK(chunks.select(col("key"), col("embedding"))
      .join(broadcast(ids), Seq("key")), qvs, k)
  }

  /** LSH bucket count sized to the collection (~8 vectors/bucket): a
    * fixed high nBits over a small collection scatters neighbors into
    * unprobed buckets (recall collapses), a fixed low one over a large
    * collection stops pruning. At store scale nBits grows as log2(n) —
    * the scan stays ~constant per bucket. Shared by the fit-at-search
    * path and [[buildIndex]] so a sidecar built over the
    * same rows probes the same buckets.
    */
  protected final def lshBitsFor(n: Long): Int =
    math.max(2, math.min(16,
      (math.log(math.max(n, 8L).toDouble / 8.0) / math.log(2.0))
        .round.toInt))

  /** LSH serving: the persisted bucket table when fresh (scan = probe
    * buckets of a (key, bucket) table + a keyed join back for exact
    * re-score), else fit-at-search. Identical output either way: the
    * sidecar stores the SAME deterministic hyperplane-family
    * assignment (nBits from the same size rule, fixed seed) the
    * search-time fit would recompute. Layout-independent — the sidecar
    * lives under `<collection>/_index/` on EITHER store, so the 100 TB
    * bucketed layout serves from a persisted index exactly like the
    * per-document one (BOTH layouts exercised by IndexSidecarSpec).
    */
  protected final def searchLsh(collection: String, qv: Array[Float],
      k: Int): DataFrame = {
    val (sc, m, token) = freshSidecar(collection, "lsh") match {
      case Some((sc @ ChunkStore.Sidecar(_, _, m: ChunkStore.LshModel,
          _, _, _), token)) => (sc, m, token)
      case _ => return searchLshFit(collection, qv, k)
    }
    require(m.dim == qv.length,
      s"lsh index dim ${m.dim} != query dim ${qv.length}")
    val probes = m.lsh.probeBuckets(qv, ChunkStore.LshProbeRadius)
    val cand = servingCodes(collection, sc, token)
      .filter(col("bucket").isin(probes: _*))
      .select(col("key"))
    servingChunks(collection, sc.fingerprint).join(cand, Seq("key"))
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }

  /** Fit-at-search LSH (the REPL convenience path, and the fallback
    * whenever no FRESH sidecar exists — never silently serving an
    * index that is missing the newest documents).
    */
  private def searchLshFit(collection: String, qv: Array[Float],
      k: Int): DataFrame = {
    val chunks = read(collection)
    val nBits = lshBitsFor(chunks.count())
    val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
      nBits = nBits, dim = qv.length)
    // Radius-[[ChunkStore.LshProbeRadius]] multiprobe — the measured
    // operating point (SCALE.md "ANN recall operating point"); the
    // production scan-budget knob is the stored-code index tier
    // (q128/q138), not this convenience path.
    val probes = lsh.probeBuckets(qv, ChunkStore.LshProbeRadius)
    lsh.index(chunks, "embedding")
      .filter(col("bucket").isin(probes: _*))
      .drop("bucket")
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }

  /** IVF-SQ serving: the persisted code table + fitted model when
    * fresh ([[graft.operators.IvfSq.searchCodes]] — probe-pruned
    * integer ranking over (key, cid, code) rows, exact re-score joined
    * from the collection), else fit-at-search. The fit is
    * deterministic over the same rows, so sidecar and fit-at-search
    * return the identical id set.
    */
  protected final def searchIvfsq(collection: String, qv: Array[Float],
      k: Int): DataFrame = {
    val (sc, im, token) = freshSidecar(collection, "ivfsq") match {
      case Some((sc @ ChunkStore.Sidecar(_, _, im: ChunkStore.IvfsqModel,
          _, _, _), token)) => (sc, im, token)
      case _ => return searchIvfsqFit(collection, qv, k)
    }
    require(im.dim == qv.length,
      s"ivfsq index dim ${im.dim} != query dim ${qv.length}")
    val chunks = servingChunks(collection, sc.fingerprint)
    val ids = graft.operators.IvfSq.searchCodes(
        servingCodes(collection, sc, token), chunks,
        "key", "embedding", "ivf_cid", "sq_code", im.model, qv,
        k = k, nprobe = ChunkStore.IvfsqNprobe,
        pool = math.max(200, 20 * k))
      .select(col("key"))
    chunks.join(broadcast(ids), Seq("key"))
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }

  /** Fit-at-search IVF-SQ (the REPL convenience path / fallback). */
  private def searchIvfsqFit(collection: String, qv: Array[Float],
      k: Int): DataFrame = {
    val chunks = read(collection)
    val m = graft.operators.IvfSq.fit(chunks, "key", "embedding",
      kCentroids = 8, dim = qv.length)
    val ids = graft.operators.IvfSq.search(chunks, "key", "embedding",
        m, qv, k = k, nprobe = ChunkStore.IvfsqNprobe,
        pool = math.max(200, 20 * k))
      .select(col("key"))
    chunks.join(broadcast(ids), Seq("key"))
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }

  /** Fit `mode`'s model over the collection and write its sidecar as a
    * single new base — the write-time half of the stored-code index
    * tier (q128/q138): fit once, serve many. The manifest is stamped
    * with the store fingerprint taken BEFORE the read, so a commit that
    * lands during the build leaves the sidecar stale, never wrong;
    * [[search]] trusts it only while the fingerprint still matches.
    * The code tables store only (key, documentid, code) — int8/int
    * columns, the ~1% footprint that makes a persisted index
    * affordable at 100 TB — and float vectors stay solely in the
    * collection, joined back for the exact re-score of the pruned
    * survivors. The underscore-prefixed `_index` dir is invisible to the
    * collection's own parquet reads and excluded from the file census,
    * so building an index changes neither query results nor compaction
    * certificates. Layout-independent: the build reads through
    * [[read]]. A previous sidecar's files are deleted once the new
    * manifest is published; losing the publish race to a concurrent
    * writer throws, leaving that writer's sidecar in place.
    */
  def buildIndex(collection: String, mode: String): Unit = {
    require(ChunkStore.IndexModes.contains(mode),
      s"unknown index mode '$mode' (lsh|ivfsq)")
    invalidateServing(collection)
    val fp = storeFingerprint(collection)
    val chunks = read(collection)
    val dim = chunks.select("embedding").head().getSeq[Float](0).length
    val model = mode match {
      case "ivfsq" => ChunkStore.IvfsqModel(graft.operators.IvfSq.fit(
        chunks, "key", "embedding", kCentroids = 8, dim = dim))
      case "lsh" => ChunkStore.LshModel(dim, lshBitsFor(chunks.count()), 42L)
    }
    val prev = ChunkStore.latestSidecar(spark, sidecarDir(collection, mode))
    val codes = model.encode(chunks)
    val base = writeCodes(collection, mode, "base", codes, Nil)
    val next = ChunkStore.Sidecar(prev.fold(1L)(_.version + 1), fp, model,
      codes.schema, base, Nil)
    if (!commitSidecar(collection, prev, next, Seq(base.path)))
      throw new java.util.ConcurrentModificationException(
        s"$mode sidecar of '$collection' was rewritten concurrently")
    invalidateServing(collection)
  }

  /** True iff `mode`'s sidecar exists AND its manifest is stamped with
    * the store's current fingerprint — two driver-side listings plus, on
    * a memo miss, one small JSON read; no job, no scan. Any upsert or
    * delete since the last build/refresh flips this false, which is the
    * signal the q151 refresh policy acts on and [[search]] acts on
    * conservatively (serve fit-at-search instead of a stale index —
    * never silently missing the newest documents).
    */
  def hasFreshIndex(collection: String, mode: String): Boolean =
    freshSidecar(collection, mode).isDefined

  /** The live code rows (key, documentid, code columns) of `mode`'s
    * sidecar, fresh or not, with its frozen model — what a certificate
    * compares against `model.encode(read(collection))`.
    */
  def indexCodes(collection: String,
      mode: String): (DataFrame, ChunkStore.IndexModel) = {
    val sc = ChunkStore.latestSidecar(spark, sidecarDir(collection, mode))
      .getOrElse(throw new IllegalArgumentException(
        s"collection '$collection' has no $mode sidecar"))
    (liveCodes(collection, sc), sc.model)
  }

  /** INCREMENTAL index maintenance — the production refresh pattern:
    * the fitted MODEL stays FROZEN (refitting is rare and deliberate —
    * that is [[buildIndex]]); only the named documents' codes are
    * re-derived. The caller passes exactly the documentids its
    * upserts/deletes touched since the sidecar was last fresh (the
    * replace unit, so the Δ is known for free). The refresh:
    *
    *   1. takes the store fingerprint (before reading, so a commit that
    *      lands meanwhile leaves the new stamp stale, never wrong);
    *   2. reads the Δ documents' current chunks ONCE through
    *      [[readDocuments]] into a local checkpoint, memoized under
    *      (collection, fingerprint, sorted Δ): the call for the other
    *      mode that follows reuses it;
    *   3. encodes them under the frozen model and writes them as one
    *      DELTA file group whose manifest entry lists Δ — so every older
    *      code row of those documents (a deleted document has no new
    *      rows) drops out of the live codes;
    *   4. folds base ∪ deltas into a new base when the deltas would hold
    *      more rows than the base or number more than
    *      [[ChunkStore.MaxDeltas]];
    *   5. publishes manifest N+1 through the sidecar CAS and deletes
    *      the files it superseded.
    *
    * An empty Δ only re-stamps the manifest (a JSON write, no job); on a
    * sidecar already stamped with the current fingerprint it does
    * nothing. The result is REQUIRED-equal to re-encoding the whole
    * collection under the same model (q242/q251 certify `refresh(Δ) ==
    * frozen-model full re-encode` by set equality), so staleness never
    * accumulates across refreshes. Cost: the Δ read once per write
    * plus one O(Δ) code write per mode — never O(collection) outside a
    * fold. Throws when the sidecar is absent or a concurrent sidecar
    * writer wins the publish.
    */
  def refreshIndex(collection: String, mode: String,
      docIds: Seq[String]): Unit = {
    require(ChunkStore.IndexModes.contains(mode),
      s"unknown index mode '$mode' (lsh|ivfsq)")
    invalidateServing(collection)
    val fp = storeFingerprint(collection)
    val prev = ChunkStore.latestSidecar(spark, sidecarDir(collection, mode))
      .getOrElse(throw new IllegalStateException(
        s"collection '$collection' has no $mode sidecar to refresh " +
          "(buildIndex first)"))
    val ids = docIds.distinct.sorted
    if (ids.isEmpty && prev.fingerprint == fp) return
    val delta = if (ids.isEmpty) None else Some(writeCodes(collection, mode,
      "delta", prev.model.encode(changedChunks(collection, fp, ids)), ids))
    val (next, written) = successor(collection, prev, fp, delta,
      fold = false)
    if (!commitSidecar(collection, Some(prev), next, written))
      throw new java.util.ConcurrentModificationException(
        s"$mode sidecar of '$collection' was rewritten concurrently")
    invalidateServing(collection)
  }

  /** The Δ read of [[refreshIndex]], local-checkpointed once per
    * (collection, fingerprint, sorted Δ) — the same keying argument the
    * serving memo uses — and released when the key is replaced.
    */
  private var deltaRead: ((String, String, Seq[String]), DataFrame) = _

  private def changedChunks(collection: String, fp: String,
      ids: Seq[String]): DataFrame = synchronized {
    val key = (collection, fp, ids)
    if (deltaRead == null || deltaRead._1 != key) {
      if (deltaRead != null) ChunkStore.releaseCheckpoint(deltaRead._2)
      // Lazy: the first mode's code write materializes the checkpoint
      // (every partition), the second reads its blocks.
      deltaRead = (key, readDocuments(collection, ids).localCheckpoint(false))
    }
    deltaRead._2
  }

  /** Manifest N+1 after `prev`: stamped `fp`, `delta` appended, and
    * folded into a single new base when `fold` is set or the fold rule
    * fires. Returns it with the file groups written on the way.
    */
  private def successor(collection: String, prev: ChunkStore.Sidecar,
      fp: String, delta: Option[ChunkStore.CodeFiles],
      fold: Boolean): (ChunkStore.Sidecar, Seq[String]) = {
    val next = prev.copy(version = prev.version + 1, fingerprint = fp,
      deltas = prev.deltas ++ delta)
    val written = delta.map(_.path).toSeq
    if (next.deltas.isEmpty || !(fold || next.overDeltaBudget))
      (next, written)
    else {
      val mode = prev.model.mode
      val baseFiles = ChunkStore.parquetFiles(spark,
        s"${sidecarDir(collection, mode)}/${prev.base.path}").size
      val base = writeCodes(collection, mode, "base",
        liveCodes(collection, next).coalesce(math.max(1, baseFiles)), Nil)
      (next.copy(base = base, deltas = Nil), written :+ base.path)
    }
  }

  /** Write `codes` as a new file group of `mode`'s sidecar; its row
    * count comes from the parquet footers (driver-side, no job).
    */
  private def writeCodes(collection: String, mode: String, kind: String,
      codes: DataFrame, replaces: Seq[String]): ChunkStore.CodeFiles = {
    val rel = s"$kind-${java.util.UUID.randomUUID().toString
      .replace("-", "").take(16)}"
    val dir = s"${sidecarDir(collection, mode)}/$rel"
    codes.write.parquet(dir)
    ChunkStore.CodeFiles(rel, ChunkStore.parquetFiles(spark, dir)
      .map(ChunkStore.parquetRows(spark, _)).sum, replaces)
  }

  /** Publish `next` as the version after `prev` (create-if-absent). On
    * success, delete the file groups no longer referenced (`prev`'s and
    * any written on the way that `next` does not name) and the older
    * manifests; on a lost race, delete only what this writer wrote.
    */
  private def commitSidecar(collection: String,
      prev: Option[ChunkStore.Sidecar], next: ChunkStore.Sidecar,
      written: Seq[String]): Boolean = {
    val dir = sidecarDir(collection, next.model.mode)
    val won = ChunkStore.tryPublish(spark, dir,
      ChunkStore.sidecarName(next.version), next.toJson.getBytes("UTF-8"))
    val live = next.groups.map(_.path).toSet
    val garbage =
      if (won) (prev.toSeq.flatMap(_.groups.map(_.path)) ++ written)
        .filterNot(live)
      else written
    val f = ChunkStore.fsOf(spark, dir)
    garbage.distinct.foreach(g =>
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/$g"), true))
    if (won) f.listStatus(new org.apache.hadoop.fs.Path(dir)).foreach { st =>
      st.getPath.getName match {
        case ChunkStore.SidecarName(v) if v.toLong < next.version =>
          f.delete(st.getPath, false)
        case _ =>
      }
    }
    won
  }

  /** Delete the sidecar file groups that the latest manifest of their
    * mode does not name and that are at least `minAgeMs` old — what a
    * build or refresh that crashed before its publish leaves behind.
    * The groups are listed BEFORE the manifest is read, so a group a
    * concurrent writer publishes meanwhile is either named by the
    * manifest read or was written after the listing began — inside the
    * grace window, like a snapshot data dir. Returns the groups deleted.
    */
  protected final def sweepSidecars(collection: String,
      minAgeMs: Long): Long = ChunkStore.IndexModes.map { mode =>
    val dir = sidecarDir(collection, mode)
    val f = ChunkStore.fsOf(spark, dir)
    val now = System.currentTimeMillis()
    val groups =
      try f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq.filter(st =>
        st.isDirectory && Seq("base-", "delta-").exists(
          st.getPath.getName.startsWith))
      catch { case _: java.io.FileNotFoundException => Nil }
    val named = ChunkStore.latestSidecar(spark, dir).toSeq
      .flatMap(_.groups.map(_.path)).toSet
    groups.count(st => !named(st.getPath.getName) &&
      now - st.getModificationTime >= minAgeMs &&
      f.delete(st.getPath, true)).toLong
  }.sum

  /** A compaction moves rows without changing any, so each sidecar that
    * was fresh over the rows before it (stamped `before`) is re-stamped
    * fresh for the rewritten files (`after`), its deltas folded into a
    * single new base; a stale sidecar stays stale. A lost publish race
    * leaves the other writer's sidecar in place.
    */
  protected final def restampIndexes(collection: String, before: String,
      after: String): Unit = {
    invalidateServing(collection)
    ChunkStore.IndexModes.foreach { mode =>
      ChunkStore.latestSidecar(spark, sidecarDir(collection, mode))
        .filter(_.fingerprint == before).foreach { sc =>
          val (next, written) = successor(collection, sc, after, None,
            fold = true)
          commitSidecar(collection, Some(sc), next, written)
        }
    }
    invalidateServing(collection)
  }

  /** Publish a rename-layout compaction's staged rewrite `tmp` through
    * [[ChunkStore.commitSwap]], carrying `_index` into it first so the
    * swap keeps the sidecars, then re-stamp the ones that were fresh
    * under `before` (the fingerprint taken before the rewrite read the
    * collection). A swap that fails leaves `_index` inside `tmp`: the
    * sidecars read as absent, never wrong.
    */
  protected final def publishCompaction(collection: String, tmp: String,
      before: String): Unit = {
    val dir = collectionPath(collection)
    val f = ChunkStore.fsOf(spark, dir)
    val idx = new org.apache.hadoop.fs.Path(s"$dir/_index")
    if (f.exists(idx)) f.rename(idx, new org.apache.hadoop.fs.Path(s"$tmp/_index"))
    ChunkStore.commitSwap(spark, dir, tmp)
    restampIndexes(collection, before, storeFingerprint(collection))
  }
}

object ChunkStore {
  /** The ANN serving operating point, measured not guessed —
    * `graft.RecallSweep` over the embeddings table at sf0.001/0.01/0.1
    * (the weakly-clustered hard case; full curve in SCALE.md "ANN
    * recall operating point", r18). Radius-3 multiprobe reads
    * 1 + nBits + C(nBits,2) + C(nBits,3) buckets and measures mean
    * recall@10 of 0.90 / 0.86 / 0.64 across the three SFs (radius 2
    * read 0.66 / 0.68 / 0.42 — under the q-gate floor at sf0.1). At
    * store scale nBits grows as log2(n/8), so the radius-3 ball is a
    * VANISHING scan fraction (nBits=16 ⇒ 697 of 65536 buckets ≈ 1%)
    * — the scan cost of the recall floor shrinks as the store grows.
    */
  val LshProbeRadius = 3

  /** nprobe=4 of the 8 coarse lists: measured mean recall@10
    * 0.74 / 0.72 / 0.80 across sf0.001/0.01/0.1 (nprobe=3 read
    * 0.60 / 0.62 / 0.72 — floor-grazing at the small SFs). Same
    * SCALE.md curve; on production embeddings (actually clustered)
    * the same nprobe scans a far smaller fraction than the uniform
    * synthetic table's 50%.
    */
  val IvfsqNprobe = 4

  /** MIGRATE a collection between layouts through the seam — the
    * operational path from the REPL-scale per-document store to the
    * 100 TB layouts (and between them): one schema-on-read scan of the
    * source, one replace-by-document upsert into the target (= ONE
    * commit there: a single atomic manifest version on the snapshot
    * layout, one bucket merge on the bucketed one). Deterministic keys
    * make a re-run idempotent, so a crashed migration is safely
    * re-runnable. At very large collections, shard the migration by
    * documentid ranges (several upserts — each still a consistent
    * replace unit) rather than one giant batch. Returns the migrated
    * row count, read back from the TARGET (the number a verifier
    * wants).
    */
  def migrate(from: ChunkStore, to: ChunkStore,
      collection: String): Long = {
    val src = from.read(collection).select(
      org.apache.spark.sql.functions.col("key"),
      org.apache.spark.sql.functions.col("embedding"),
      org.apache.spark.sql.functions.col("content"),
      org.apache.spark.sql.functions.col("context"),
      org.apache.spark.sql.functions.col("documentid"))
    to.upsert(src.as[EmbeddedChunk](
      org.apache.spark.sql.Encoders.product[EmbeddedChunk]), collection)
    to.read(collection).count()
  }

  /** The ANN modes that keep a sidecar. */
  val IndexModes: Seq[String] = Seq("lsh", "ivfsq")

  /** Fold bound on the NUMBER of deltas (next to the row rule: deltas
    * holding more rows than the base). Every delta adds one scan and a
    * documentid list to each live-codes plan, so many tiny deltas over a
    * large base would grow serving plans without bound long before
    * their rows matter.
    */
  val MaxDeltas = 16

  /** A frozen sidecar model — what a manifest carries so searches and
    * refreshes encode without refitting.
    */
  sealed trait IndexModel {
    def mode: String
    def dim: Int

    /** The code rows (key, documentid, code columns) of `chunks`. */
    def encode(chunks: DataFrame): DataFrame
  }

  /** LSH: the hyperplanes regenerate from (nbits, dim, seed); only the
    * bucket table is stored.
    */
  final case class LshModel(dim: Int, nbits: Int, seed: Long)
      extends IndexModel {
    def mode: String = "lsh"
    lazy val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
      nBits = nbits, dim = dim, seed = seed)
    def encode(chunks: DataFrame): DataFrame =
      lsh.index(chunks, "embedding")
        .select(col("key"), col("documentid"), col("bucket"))
  }

  /** IVF-SQ: the IVF centroids and SQ residual bounds, both at e6. */
  final case class IvfsqModel(model: graft.operators.IvfSq.Model)
      extends IndexModel {
    def mode: String = "ivfsq"
    def dim: Int = model.sq.dim
    def encode(chunks: DataFrame): DataFrame =
      graft.operators.IvfSq.index(chunks, "embedding", model)
        .select(col("key"), col("documentid"), col("ivf_cid"),
          col("sq_code"))
  }

  /** One code file group of a sidecar: a directory under
    * `_index/<mode>/`, its row count and, for a delta, the documentids
    * whose older codes it replaces.
    */
  private[store] final case class CodeFiles(path: String, rows: Long,
      replaces: Seq[String])

  /** Version `version` of one mode's sidecar manifest (see the sidecar
    * section of [[ChunkStore]]).
    */
  private[store] final case class Sidecar(version: Long,
      fingerprint: String, model: IndexModel, schema: StructType,
      base: CodeFiles, deltas: Seq[CodeFiles]) {
    def groups: Seq[CodeFiles] = base +: deltas

    def overDeltaBudget: Boolean =
      deltas.map(_.rows).sum > base.rows || deltas.size > MaxDeltas

    def toJson: String = {
      import org.json4s._
      def longs(xs: Array[Long]) = JArray(xs.toList.map(JLong(_)))
      def files(g: CodeFiles) = JObject("path" -> JString(g.path),
        "rows" -> JLong(g.rows),
        "replaces" -> JArray(g.replaces.toList.map(JString(_))))
      val m = model match {
        case LshModel(dim, nbits, seed) => JObject("mode" -> JString("lsh"),
          "dim" -> JInt(dim), "nbits" -> JInt(nbits), "seed" -> JLong(seed))
        case IvfsqModel(im) => JObject("mode" -> JString("ivfsq"),
          "cents" -> JArray(im.ivf.centroidsE6.toList.map(longs)),
          "mn" -> longs(im.sq.mnE6), "mx" -> longs(im.sq.mxE6))
      }
      org.json4s.jackson.JsonMethods.compact(JObject(
        "version" -> JLong(version), "fingerprint" -> JString(fingerprint),
        "model" -> m, "schema" -> JString(schema.json),
        "base" -> files(base), "deltas" -> JArray(deltas.toList.map(files))))
    }
  }

  private[store] object Sidecar {
    def fromJson(s: String): Sidecar = {
      import org.json4s._
      implicit val fmt: Formats = DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(s)
      def files(g: JValue) = CodeFiles((g \ "path").extract[String],
        (g \ "rows").extract[Long], (g \ "replaces").extract[List[String]])
      def longs(v: JValue) = v.extract[List[Long]].toArray
      val m = j \ "model"
      val model = (m \ "mode").extract[String] match {
        case "lsh" => LshModel((m \ "dim").extract[Int],
          (m \ "nbits").extract[Int], (m \ "seed").extract[Long])
        case "ivfsq" => IvfsqModel(new graft.operators.IvfSq.Model(
          new graft.operators.Ann.Ivf(
            (m \ "cents").extract[List[JValue]].map(longs).toArray),
          new graft.operators.Sq.Model(longs(m \ "mn"), longs(m \ "mx"))))
        case other => throw new IllegalArgumentException(
          s"unknown sidecar model '$other'")
      }
      Sidecar((j \ "version").extract[Long],
        (j \ "fingerprint").extract[String], model,
        DataType.fromJson((j \ "schema").extract[String])
          .asInstanceOf[StructType],
        files(j \ "base"), (j \ "deltas").extract[List[JValue]].map(files))
    }
  }

  // Same 8-digit floor (a minimum width, not exact) as the snapshot
  // manifests' names.
  private[store] val SidecarName = """v(\d{8,})\.json""".r

  private[store] def sidecarName(v: Long): String = f"v$v%08d.json"

  /** The highest-versioned manifest file in a sidecar dir — one
    * driver-side listing; None when there is none (absent, or the
    * earlier parquet-meta format).
    */
  private[store] def latestSidecarFile(spark: SparkSession,
      dir: String): Option[org.apache.hadoop.fs.FileStatus] =
    try fsOf(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .toSeq.flatMap(st => st.getPath.getName match {
        case SidecarName(v) => Some((v.toLong, st))
        case _ => None
      }).maxByOption(_._1).map(_._2)
    catch { case _: java.io.FileNotFoundException => None }

  /** The manifest at `p`, or None when a newer manifest's publisher
    * deleted it after it was listed.
    */
  private[store] def readSidecar(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): Option[Sidecar] =
    try Some(Sidecar.fromJson(readText(spark, p)))
    catch { case _: java.io.FileNotFoundException => None }

  /** The latest sidecar manifest in `dir`, re-listing when the listed
    * one was superseded before it could be read.
    */
  private[store] def latestSidecar(spark: SparkSession,
      dir: String): Option[Sidecar] =
    Iterator.continually(latestSidecarFile(spark, dir)).take(3)
      .map(_.map(st => readSidecar(spark, st.getPath)))
      .collectFirst {
        case None => None
        case Some(Some(sc)) => Some(sc)
      }.flatten

  private[store] def fsOf(spark: SparkSession,
      p: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)

  private[store] def readText(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fsOf(spark, p.toString).open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** The parquet data files directly inside `dir`. */
  private[store] def parquetFiles(spark: SparkSession,
      dir: String): Seq[org.apache.hadoop.fs.FileStatus] =
    fsOf(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).toSeq

  /** `df` without each file group's shadowed documents: one literal
    * `NOT (documentid IN (…) AND _metadata.file_path contains
    * "/<group>/")` conjunct per group that shadows any — no join, no
    * job. The merge-on-read of the ANN sidecars' live codes and of the
    * snapshot layout's data files.
    */
  private[store] def dropShadowed(df: DataFrame,
      shadowed: Seq[(String, Seq[String])]): DataFrame =
    shadowed.collect { case (g, ids) if ids.nonEmpty =>
      !(col("documentid").isin(ids: _*) &&
        col("_metadata.file_path").contains(s"/$g/"))
    }.reduceOption(_ && _).fold(df)(df.filter)

  /** The parquet schema of one file, from its footer on the driver. */
  private[store] def parquetSchema(spark: SparkSession,
      st: org.apache.hadoop.fs.FileStatus)
      : org.apache.parquet.schema.MessageType = {
    val r = footer(spark, st)
    try r.getFileMetaData.getSchema finally r.close()
  }

  private def footer(spark: SparkSession,
      st: org.apache.hadoop.fs.FileStatus) =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
        spark.sparkContext.hadoopConfiguration))

  /** Row count of one parquet file, from its footer on the driver. */
  private[store] def parquetRows(spark: SparkSession,
      st: org.apache.hadoop.fs.FileStatus): Long = {
    val r = footer(spark, st)
    try r.getRecordCount finally r.close()
  }

  /** The Spark schema of the parquet files in `dir` (a store's 0-row
    * `_schema` sidecar), read from one footer on the driver: Spark
    * records the schema it wrote there, so this is the schema inference
    * would return, without inference's Spark job.
    */
  def storedSchema(spark: SparkSession, dir: String): StructType = {
    val r = footer(spark, parquetFiles(spark, dir).head)
    try DataType.fromJson(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[StructType]
    finally r.close()
  }

  /** Free the blocks of a local-checkpointed DataFrame. */
  private[store] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Publish `bytes` as `dir/name` — atomic create-if-absent, the CAS
    * every manifest of the store commits through (the snapshot layout's
    * versions and the ANN sidecars' versions), with a
    * per-filesystem-class primitive (returns false on a lost race;
    * readers never observe a partially-written file):
    *
    *   - `file`: hard-link CAS (one inode op, EEXIST = lost race);
    *   - conditional-create schemes ([[SnapshotStore.CasCreateSchemesKey]],
    *     default `objfs` only): conditional CREATE — `create(slot,
    *     overwrite = false)` whose bytes materialize atomically at
    *     close and whose close fails when the slot is taken (the
    *     `objfs` test shim models exactly those semantics; an S3
    *     client qualifies ONLY when it issues a true
    *     `If-None-Match: *` conditional PUT — see the key's scaladoc
    *     for why stock S3A's plain create does not). RENAME IS NEVER
    *     ON THIS COMMIT PATH: an object-store "rename" is a
    *     non-atomic copy+delete, so any protocol renaming into the
    *     slot could be observed torn — SnapshotObjectStoreSpec asserts
    *     zero slot renames under racing writers;
    *   - everything else (HDFS-like): stage fully, then
    *     `FileContext.rename(Rename.NONE)` — an atomic metadata op
    *     there, and the right choice because HDFS readers CAN observe
    *     a file mid-write (bytes are visible before close), which
    *     rules the conditional-create shape out.
    */
  private[store] def tryPublish(spark: SparkSession, dir: String,
      name: String, bytes: Array[Byte]): Boolean = {
    val f = fsOf(spark, dir)
    val scheme = Option(new java.net.URI(dir).getScheme)
    val casCreate = spark.sparkContext.hadoopConfiguration
      .get(SnapshotStore.CasCreateSchemesKey, "objfs")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    if (scheme.exists(casCreate)) {
      f.mkdirs(new org.apache.hadoop.fs.Path(dir))
      val slot = new org.apache.hadoop.fs.Path(s"$dir/$name")
      try {
        val out = f.create(slot, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException => false
      }
    } else if (scheme.forall(_ == "file")) {
      // Local filesystem: hard-link CAS. Hadoop's local FileContext is
      // a ChecksumFs whose rename moves the `.crc` sidecar in a second
      // non-atomic step — a losing racer can overwrite the winner's
      // checksum (observed as ChecksumException under concurrent
      // committers). `Files.createLink` is one inode op that atomically
      // fails EEXIST, so the slot's bytes and its claim are the same
      // syscall, and no checksum sidecar exists to race on.
      val dirP = java.nio.file.Paths.get(
        dir.stripPrefix("file:"), "_staged")
      java.nio.file.Files.createDirectories(dirP)
      val tmpP = dirP.resolve(
        s"${java.util.UUID.randomUUID().toString.take(8)}.json")
      java.nio.file.Files.write(tmpP, bytes)
      val slotP = dirP.getParent.resolve(name)
      try {
        java.nio.file.Files.createLink(slotP, tmpP)
        java.nio.file.Files.delete(tmpP)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.delete(tmpP)
          false
      }
    } else {
      // HDFS-like: stage fully, then FileContext.rename with the
      // default Rename.NONE — atomic, fails when the slot is taken
      // (checksums are inline there, no sidecar to race). On S3,
      // implement THIS branch as a conditional `If-None-Match` PUT;
      // nothing else in the store changes.
      f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_staged"))
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dir/_staged/${java.util.UUID.randomUUID().toString.take(8)}.json")
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      val slot = new org.apache.hadoop.fs.Path(s"$dir/$name")
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      try {
        fc.rename(tmp, slot)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          false
        case _: java.io.IOException if f.exists(slot) =>
          f.delete(tmp, false)
          false
      }
    }
  }

  /** Recursive .parquet data-file census under a store path — ONE
    * walker for every layout's compaction certificate (underscore
    * sidecar dirs — `_schema`, `_index` — are invisible to reads and
    * bounded in size, so they are not part of the census).
    */
  def countDataFiles(spark: org.apache.spark.sql.SparkSession,
      p: String): Long = {
    var n = 0L
    walkDataFiles(spark, p)(_ => n += 1)
    n
  }

  /** Content-version fingerprint of a store path: an MD5 over the
    * sorted (relative-path, length, mtime) of its data files. Any
    * upsert/compact changes at least one component, so an `_index`
    * sidecar stamped with the fingerprint at build time can be
    * freshness-checked with ONE driver-side listing (O(files), no
    * job) — the cheap staleness test [[hasFreshIndex]]
    * runs before trusting a persisted index. Sidecar dirs are
    * excluded (building an index must not invalidate it).
    */
  def dataFingerprint(spark: org.apache.spark.sql.SparkSession,
      p: String): String = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val prefix = p.stripSuffix("/") + "/"
    walkDataFiles(spark, p) { f =>
      val rel = f.getPath.toString.split(prefix.replace("//", "/"), 2)
        .lastOption.getOrElse(f.getPath.getName)
      entries += s"$rel:${f.getLen}:${f.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every data file under `p`, skipping the sidecar dirs without
    * listing them. A plain `listStatus` walk, not `listFiles(p, true)`:
    * the located statuses that returns copy each file's permissions,
    * which the local filesystem (without the native Hadoop library)
    * reads by forking a process per file — measured at ~5 ms a file,
    * paid on every sidecar freshness check of every ANN search.
    */
  private[store] def walkDataFiles(spark: org.apache.spark.sql.SparkSession,
      p: String)(f: org.apache.hadoop.fs.FileStatus => Unit): Unit = {
    val fs = fsOf(spark, p)
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != "_schema" && name != "_index") walk(st.getPath)
        } else if (name.endsWith(".parquet")) f(st)
      }
    walk(new org.apache.hadoop.fs.Path(p))
  }

  /** CRASH-SAFE staged-rewrite commit: publish `tmp` at `dir` via
    * rename-aside — `dir → dir__compact_old`, `tmp → dir`, delete
    * `__old` — never delete-then-rename. The difference matters
    * exactly when the driver dies mid-commit: with delete-first a
    * crash between the two calls leaves the collection PATH ABSENT
    * (readers get PATH_NOT_FOUND; data recoverable from tmp only by
    * hand), while here every intermediate state keeps a complete copy
    * on disk — before step 2 the old data is intact at `__old` (and a
    * failed step 2 rolls it back into place), after step 2 the new
    * data is live and `__old` is garbage a later commit clears. On an
    * object store the renames are per-path metadata ops; both are
    * O(1) directory moves on HDFS-like filesystems.
    */
  def commitSwap(spark: org.apache.spark.sql.SparkSession, dir: String,
      tmp: String,
      rename: (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path,
        org.apache.hadoop.fs.Path) => Boolean = _.rename(_, _)): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val oldP = new org.apache.hadoop.fs.Path(dir + "__compact_old")
    // Leftover from a crash AFTER step 2 of a prior commit: the live
    // dir is already the compacted data; the aside copy is garbage.
    if (fs.exists(oldP)) fs.delete(oldP, true)
    require(rename(fs, dirP, oldP),
      s"compact: rename-aside $dir -> $oldP failed")
    val published =
      try rename(fs, tmpP, dirP)
      catch {
        case e: Throwable => fs.rename(oldP, dirP); throw e
      }
    if (!published) {
      // Roll the old data back into place: the collection stays
      // readable; the staged tmp remains for inspection/retry.
      fs.rename(oldP, dirP)
      throw new IllegalStateException(
        s"compact: publish $tmp -> $dir failed; previous data restored")
    }
    fs.delete(oldP, true)
  }
}
