package graft.queries

import graft.operators.IngestionPipeline
import graft.sources.{DatabaseSource, MarkdownSource, PdfSource, SqliteReader}
import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, StandardCopyOption}

/** q44: the reference's own ingestion loop end-to-end (S1/S2/S3/S4 →
  * P1-P10 → C1 → E1 → W1, SURVEY.md §2) over the bundled 10-topic corpus —
  * ALL THREE readers: markdown files, the PDFs, and the SQLite CMS.DB —
  * into a temp vector store; returns one row per (reader, document) with
  * its chunk count plus a store-content md5 chain and an e6 embedding
  * checksum, oracle-checked against the committed golden manifest
  * (see [[q44GoldenSql]]); the semantics are additionally golden-tested
  * in `VectorStoreSpec`/`PdfAndSqliteSpec`/`GoldenChunksSpec`.
  */
object IngestQueries {

  /** PER-MODE ANN recall floors for the gated search queries
    * (q204/q240/q242/q251) — measured OPERATING POINTS, not liveness
    * values (the r17 verdict's ask): the serving knobs
    * ([[graft.store.ChunkStore.LshProbeRadius]] = 3,
    * [[graft.store.ChunkStore.IvfsqNprobe]] = 4) were chosen from the
    * `graft.RecallSweep` recall-vs-scan curve (committed in SCALE.md
    * "ANN recall operating point", r18; re-derivable with
    * `tools/run.sh graft.RecallSweep <sfDir>`) with WORST-SF mean
    * recall@10 of lsh 0.90/0.86/0.64 and ivfsq 0.74/0.72/0.80 across
    * sf0.001/0.01/0.1 on the weakly-clustered synthetic embeddings
    * (the honest hard case — recall there costs scan fraction almost
    * linearly). The floors are per mode (advisor r18) so each sits a
    * comparable margin under ITS worst measured point: the old shared
    * 0.6 floor left lsh only 0.04 of drift headroom while
    * floor-checking ivfsq 0.12 below its worst reading. The fits are
    * deterministic, so the margin covers testdata regeneration /
    * tie-break drift only — and a q-gate failure here should first be
    * triaged against a fresh sweep (did the curve move?) before being
    * read as a serving regression.
    */
  private[queries] val AnnRecallFloorLsh = 0.6
  private[queries] val AnnRecallFloorIvfsq = 0.65

  private val corpusFiles = Seq("ancient_egypt.md", "black_holes.md",
    "coral_reefs.md", "human_brain.md", "machine_learning.md",
    "photosynthesis.md", "plate_tectonics.md", "renewable_energy.md",
    "roman_empire.md", "solar_system.md")

  /** Extract bundled corpus resources to a temp dir (executors read files
    * via binaryFile, so they must be on a real filesystem path).
    */
  private def extractCorpus(): Path = {
    val dir = Files.createTempDirectory("graft-corpus")
    Files.createDirectory(dir.resolve("pdf"))
    val cl = getClass.getClassLoader
    corpusFiles.foreach { f =>
      val in = cl.getResourceAsStream(s"content/markdown/$f")
      try Files.copy(in, dir.resolve(f), StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      val pdfName = f.stripSuffix(".md") + ".pdf"
      val pin = cl.getResourceAsStream(s"content/pdf/$pdfName")
      try Files.copy(pin, dir.resolve("pdf").resolve(pdfName),
        StandardCopyOption.REPLACE_EXISTING)
      finally pin.close()
    }
    val db = cl.getResourceAsStream("content/CMS.DB")
    try Files.copy(db, dir.resolve("CMS.DB"), StandardCopyOption.REPLACE_EXISTING)
    finally db.close()
    dir
  }

  // Fixture setup cached per JVM: the extracted corpus and the driver-
  // side SQLite parse are identical on every call (the resources are
  // immutable), so repeated bench reps measure the PIPELINE, not temp-dir
  // file copies. The store stays fresh per call — that's the part under
  // test.
  private lazy val cachedCorpus: Path = extractCorpus()
  private lazy val cachedDbRows: Seq[(Long, String, String)] =
    SqliteReader.readTable(s"$cachedCorpus/CMS.DB", "Items")
      .map(r => (r.long(0), r.string(1), r.string(2)))

  def q44(s: SparkSession, dir: String): DataFrame = {
    val corpus = cachedCorpus
    val storeRoot = Files.createTempDirectory("graft-q44-store").toString
    val store = new VectorStore(s, storeRoot)

    val rows = cachedDbRows
    // One pipeline lineage over all three readers (one parse/chunk/embed
    // pass); collections stay separate per reader, as before.
    val results = IngestionPipeline.runTagged(
      Seq(
        "markdown" -> MarkdownSource.elements(s, corpus.toString),
        "pdf" -> PdfSource.elements(s, s"$corpus/pdf"),
        "database" -> DatabaseSource.elements(s.createDataFrame(rows)
          .toDF("id", "title", "body"))),
      store,
      Map("markdown" -> "md", "pdf" -> "pdf", "database" -> "db"))

    // Store-content certification: per ingested document, an md5 chain
    // over the chunk contents (chunk md5s sorted, concatenated, hashed)
    // and an order-independent integer checksum of the e6-quantized
    // embedding values. Failed documents have no store rows → nulls.
    val readerOf = Map("md" -> "markdown", "pdf" -> "pdf",
      "db" -> "database")
    // One unioned schema-supplied scan + ONE aggregate over all three
    // collections (r10 — was one inference job + one groupBy per
    // collection): the read still goes through the physical store, so
    // the certification is unchanged.
    val chunkSchema =
      org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk].schema
    val chains = readerOf.toSeq.sortBy(_._1).map { case (c, reader) =>
      store.read(c, chunkSchema).withColumn("reader", lit(reader))
    }.reduce(_.unionAll(_))
      .select(col("reader"),
        col("documentid").cast("string").as("documentid"),
        md5(col("content")).as("__cmd5"),
        aggregate(col("embedding"), lit(0L),
          (acc, v) => acc + round(v.cast("double") * 1e6).cast("long"))
          .as("__esum"))
      .groupBy(col("reader"), col("documentid"))
      .agg(md5(concat_ws("", sort_array(collect_list(col("__cmd5")))))
          .as("chunks_md5"),
        sum(col("__esum")).as("emb_e6"))
    results
      .select(col("reader"), col("documentid").cast("string")
        .as("documentid"), col("succeeded"),
        col("n_chunks").cast("long").as("n_chunks"))
      .join(chains, Seq("reader", "documentid"), "left")
      .orderBy(col("reader"), col("documentid"))
  }

  // q69: bucketed incremental merge (CDC upsert + tombstone delete) —
  // builds a deterministic base/update pair from the documents table,
  // runs the PHYSICAL merge (init + one batch over a temp bucketed
  // store), reads the store back and emits the final state. The DuckDB
  // oracle replays the same batch logically (latest-version-wins window
  // over the union), so the hash-match certifies the whole on-disk path:
  // bucket tagging, partition-pruned read, winner resolution, dynamic
  // partition overwrite.
  def q69(s: SparkSession, dir: String): DataFrame = {
    import graft.store.BucketedMerge
    val docs = graft.Tables.load(s, dir, "documents")
    val base = docs.select(col("doc_id").as("id"), lit(0).as("version"),
      col("n_chars").as("v"))
    val updates = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("id"), lit(1).as("version"),
        (col("n_chars") + 1000).as("v"),
        (col("doc_id") % 3 === 0).as("del"))
    // One store per JVM, fully rewritten by init each call (static
    // overwrite) — repeated bench/verify invocations must not accumulate
    // abandoned temp copies of the table.
    val store = q69Store
    BucketedMerge.init(base, store, "id", nBuckets = 16)
    BucketedMerge.merge(s, store, updates, "id", "version", 16,
      tombstoneCol = Some("del"))
    BucketedMerge.read(s, store)
      .select(col("id"), col("version"), col("v"))
      .orderBy(col("id"))
  }

  private lazy val q69Store: String =
    Files.createTempDirectory("graft-q69-merge").toString

  // q73: JSONL round-trip — the training-corpus interchange format. The
  // documents table is written as JSON Lines and read back with an
  // explicit schema; the oracle reads the ORIGINAL table, so the
  // hash-match over EVERY column (text via md5) certifies the
  // encode/decode cycle is lossless, unicode and escaping included.
  def q73(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(s, dir, "documents")
    val out = q73Dir
    docs.write.mode("overwrite").json(out)
    s.read.schema(docs.schema).json(out)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  private lazy val q73Dir: String =
    Files.createTempDirectory("graft-q73-jsonl").toString

  // q95: CSV round-trip — the other interchange format a corpus pipeline
  // must pass through losslessly (quoted fields, header, explicit
  // schema on read: CSV has no types of its own). Same certification
  // shape as q73: the oracle reads the ORIGINAL table, so the hash-match
  // over every column (text via md5) proves encode/decode is lossless.
  // Writer/reader options live in [[csvWrite]]/[[csvRead]] so the
  // CsvRoundTripSpec (embedded newline / comma / quote / empty / null)
  // exercises EXACTLY the q95 configuration.
  def q95(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(s, dir, "documents")
    val out = q95Dir
    csvWrite(docs, out)
    csvRead(s, docs.schema, out)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** The lossless CSV writer configuration: RFC-4180 quote-doubling
    * (escape = quote), every string quoted, `\N` null marker (the
    * Postgres COPY convention). emptyValue is the bare empty string —
    * quoteAll renders it as `""` on disk; the default `"\""\""` would be
    * re-escaped into a literal two-quote string. One reserved token:
    * Spark's reader compares the null sentinel AFTER unquoting, so a text
    * field exactly equal to `\N` cannot be distinguished from null
    * (CsvRoundTripSpec pins this as the single documented collision).
    */
  private[graft] def csvWrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("quoteAll", "true")
      .option("nullValue", "\\N").option("emptyValue", "")
      // the WRITER trims whitespace by default — lossless means it must not
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** The matching reader: multiLine so embedded newlines don't split a
    * record (each file then parses as a unit — correct for CSV, whose
    * quoted newlines make byte-offset splits unsafe anyway; parallelism
    * comes from the file count, which the writer's partitioning set),
    * and empty-vs-null pinned to the writer's convention.
    */
  private[graft] def csvRead(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      path: String): DataFrame =
    s.read.schema(schema)
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .option("nullValue", "\\N").option("emptyValue", "")
      .csv(path)

  private lazy val q95Dir: String =
    Files.createTempDirectory("graft-q95-csv").toString

  // q116: ORC round-trip — the third interchange format (fully typed
  // columnar, unlike CSV/JSONL), written and read back with Spark's
  // native ORC source; same certification shape as q73/q95: the oracle
  // reads the ORIGINAL parquet, so the hash-match certifies the
  // write→read cycle lost nothing (types included — n_chars arrives
  // back as a long without the explicit-schema crutch CSV needs).
  def q116(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(s, dir, "documents")
    val out = q116Dir
    docs.write.mode("overwrite").orc(out)
    s.read.orc(out)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  private lazy val q116Dir: String =
    Files.createTempDirectory("graft-q116-orc").toString

  // q89: STREAMING ingest — the reference's embed→store loop as a real
  // Structured Streaming run over the documents stream into a fresh
  // temp store, then the store is read back. Content integrity (ids,
  // text md5, embedding dim) is oracle-replayed; embedding VALUES are
  // golden-spec'd (not SQL-expressible).
  def q89(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/documents.parquet")
    // One 100-doc increment (3x the reference's own corpus): the store's
    // per-document partitions mirror the reference's replace-by-document
    // unit, which is right for an ingest increment and pathological for
    // a whole corpus (each doc is a directory; corpus-scale stores
    // bucket documentids — the BucketedMerge layout, q69).
    val stream = s.readStream.schema(raw.schema)
      .parquet(s"$dir/documents.parque*")
      .filter(col("doc_id") < 100)
    val tmp = Files.createTempDirectory("graft-q89").toString
    val store = new VectorStore(s, s"$tmp/store")
    val q = graft.streaming.StreamIngest.run(stream, store, "docs",
      "doc_id", "text", "lang", s"$tmp/ckpt")
    q.awaitTermination()
    store.read("docs")
      .select(col("documentid"), size(col("embedding")).as("dim"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("documentid").cast("long"))
  }

  // q205: q89's streaming ingest THROUGH THE ChunkStore SEAM into the
  // bucketed layout — the r15 composition certificate: readStream →
  // deterministic chunk records → per-partition embed → replace-by-
  // document upsert, landing in [[graft.store.BucketedVectorStore]]
  // instead of the per-document layout, under the SAME oracle as q89
  // (store content re-derived from documents). Together with q89 this
  // is the layout-swap claim made physical at the STREAMING surface:
  // the pipeline cannot tell the layouts apart, only the filesystem
  // can. Exactly-once stays by construction (deterministic keys +
  // whole-document replacement — a redelivered micro-batch rewrites
  // identical bytes into the same buckets). Bench tier: exec.
  def q205(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val stream = s.readStream.schema(raw.schema)
      .parquet(s"$dir/documents.parque*")
      .filter(col("doc_id") < 100)
    val tmp = Files.createTempDirectory("graft-q205").toString
    val store = new graft.store.BucketedVectorStore(s, s"$tmp/store",
      nBuckets = 8)
    val q = graft.streaming.StreamIngest.run(stream, store, "docs",
      "doc_id", "text", "lang", s"$tmp/ckpt")
    q.awaitTermination()
    store.read("docs")
      .select(col("documentid"), size(col("embedding")).as("dim"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("documentid").cast("long"))
  }

  // q247: q89/q205's streaming ingest into the SNAPSHOT layout — the
  // third point of the layout-swap claim at the streaming surface,
  // plus the claim only this layout can make: AT-LEAST-ONCE DELIVERY
  // IS AUDITABLE. The rename layouts get exactly-once by construction
  // (deterministic keys + whole-document replacement rewrite identical
  // bytes in place — the redelivery is invisible); the snapshot layout
  // gets the same READ-side exactly-once through merge-on-read
  // arbitration, while every delivery lands as its own immutable
  // commit. The query runs the q205 stream, then REDELIVERS the same
  // documents through a second stream (a fresh checkpoint — the
  // at-least-once worst case), and REQUIREs in-run that (a) the
  // read-back is row-identical before/after the redelivery (content
  // exactly-once), (b) the version count INCREASED (the redelivery is
  // recorded, not lost — the audit trail), and (c) readAt of the
  // pre-redelivery version still serves (history intact). Same oracle
  // as q89/q205: store content re-derived from documents. Bench tier:
  // exec (two real micro-batch runs + store commits).
  def q247(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/documents.parquet")
    def stream = s.readStream.schema(raw.schema)
      .parquet(s"$dir/documents.parque*")
      .filter(col("doc_id") < 100)
    val tmp = Files.createTempDirectory("graft-q247").toString
    val store = new graft.store.SnapshotStore(s, s"$tmp/store",
      nBuckets = 8)
    graft.streaming.StreamIngest.run(stream, store, "docs",
      "doc_id", "text", "lang", s"$tmp/ckpt").awaitTermination()
    def readBack = store.read("docs")
      .select(col("documentid"), size(col("embedding")).as("dim"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("documentid").cast("long"))
    val before = readBack.collect().toSeq
    val vBefore = store.versions("docs").max
    // The at-least-once worst case: the SAME batch redelivered (fresh
    // checkpoint, so the runtime cannot dedupe it — the store must).
    graft.streaming.StreamIngest.run(stream, store, "docs",
      "doc_id", "text", "lang", s"$tmp/ckpt2").awaitTermination()
    require(store.versions("docs").max > vBefore,
      "q247: the redelivery left no commit — deliveries must be " +
        "auditable on the snapshot layout")
    require(readBack.collect().toSeq == before,
      "q247: a redelivered micro-batch changed store content — " +
        "merge-on-read exactly-once is broken")
    require(store.readAt("docs", vBefore).count() == before.length,
      "q247: the pre-redelivery version no longer serves")
    readBack
  }

  // q148: store COMPACTION — the maintenance pass a long-lived
  // per-document-partitioned store needs: every dynamic-overwrite
  // upsert adds files to its touched partitions, and one document's
  // chunks arriving in different tasks fan a single partition over
  // many files, so at corpus scale the accumulated SMALL FILES (open +
  // footer cost per file, manifest pressure) — not the bytes — become
  // the scan bottleneck. The query builds a deliberately fragmented
  // store from the documents table (chunks scattered round-robin so
  // every partition holds multiple files), runs
  // [[graft.store.VectorStore.compact]] (re-cluster on documentid →
  // one file per partition → directory swap), REQUIRES the physical
  // file census to shrink inside the gated run, and returns per-bucket
  // chunk counts + an order-independent md5 checksum of every
  // (key, content) pair read back through the compacted layout. The
  // oracle re-derives the same aggregate from the documents table
  // directly — the hash match IS the compaction-changes-nothing
  // certificate (the q139 merge==recompute discipline applied to
  // physical layout). Bench tier: exec (physical store writes; the
  // denominator replays content derivation, not the rewrite).
  def q148(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val storeRoot = Files.createTempDirectory("graft-q148-store").toString
    val vs = new VectorStore(s, storeRoot)
    val docs = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val chunks = docs
      .select(col("doc_id"), col("lang"),
        posexplode(array((0 until 3).map(i =>
          substring(col("text"), i * 150 + 1, 150)): _*))
          .as(Seq("ci", "content")))
      .filter(length(col("content")) > 0)
      .select(
        concat(lit("d"), col("doc_id"), lit(":"), col("ci")).as("key"),
        typedLit(Array.empty[Float]).as("embedding"),
        col("content"),
        col("lang").as("context"),
        concat(lit("d"), col("doc_id")).as("documentid"))
      // Scatter each document's chunks across tasks: the write fans
      // every documentid partition over multiple files — the
      // fragmented layout under test. The pre-compaction file count is
      // intrinsic (~one file per chunk: each doc's 3 chunks land in
      // distinct tasks), so the scatter WIDTH doesn't move it —
      // Profile pins q148's ~21 s wall as ~10 s driver (the
      // dynamic-overwrite commit renaming ~1500 tiny files, i.e. the
      // maintenance cost this query exists to measure) + a ~6 s write
      // job, identical at 8 and 32 tasks (r13).
      .repartition(8)
      .as[graft.model.EmbeddedChunk]
    vs.upsert(chunks, "docs")
    val (before, after) = vs.compact("docs")
    require(after < before,
      s"q148: compaction did not shrink the file census ($before -> $after)")
    vs.read("docs")
      .select(col("key"), col("content"),
        substring(col("documentid"), 2, 18).cast("long").as("did"))
      .groupBy((col("did") % 7).as("bucket"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("did")).as("n_docs"),
        sum(conv(substring(md5(concat_ws(":", col("key"), col("content"))),
          1, 13), 16, 10).cast("long")).as("checksum"))
      .orderBy(col("bucket"))
  }

  // q202: BUCKETED-store compaction — the store LAYOUT that survives
  // 100 TB, certified under the same content oracle as q148. q148's
  // per-document-partition store (the reference's replace unit) has a
  // file census that grows with the document count and a driver-serial
  // commit that renames one file per document (~10 s of q148's wall —
  // BASELINE.md r13 profile); [[graft.store.BucketedVectorStore]] keeps
  // the replace-by-document contract on nBuckets hash partitions of
  // documentid instead. The query (a) ingests the q148 chunk set,
  // (b) RE-INGESTS every doc_id % 20 == 0 document with a DIFFERENT
  // chunking (2×200 chars, keys 'd<id>:r<ci>') — the replace path must
  // drop the obsolete 3×150 chunks, which the oracle's content
  // checksum verifies, (c) compacts, REQUIRING inside the gated run
  // that the census shrank AND the compacted census is bounded by
  // nBuckets — i.e. INDEPENDENT of the document count, the claim that
  // makes this the 100 TB shape. Same output aggregate as q148, so the
  // two stores' certificates are directly comparable. Bench tier: exec
  // (physical store writes; the denominator replays content
  // derivation, not the layout work).
  def q202(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q202-store").toString
    val vs = new graft.store.BucketedVectorStore(s, storeRoot, nBuckets = 16)
    val docs = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    def chunksOf(d: DataFrame, n: Int, width: Int, keyTag: String) = d
      .select(col("doc_id"), col("lang"),
        posexplode(array((0 until n).map(i =>
          substring(col("text"), i * width + 1, width)): _*))
          .as(Seq("ci", "content")))
      .filter(length(col("content")) > 0)
      .select(
        concat(lit("d"), col("doc_id"), lit(s":$keyTag"), col("ci")).as("key"),
        typedLit(Array.empty[Float]).as("embedding"),
        col("content"),
        col("lang").as("context"),
        concat(lit("d"), col("doc_id")).as("documentid"))
      .repartition(8) // scatter: every bucket gets multi-file fragments
      .as[graft.model.EmbeddedChunk](
        org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk])
    vs.upsert(chunksOf(docs, 3, 150, ""), "docs")
    // The replace increment: re-chunked documents, fewer+wider chunks.
    vs.upsert(chunksOf(docs.filter(col("doc_id") % 20 === 0), 2, 200, "r"),
      "docs")
    val (before, after) = vs.compact("docs")
    require(after < before,
      s"q202: compaction did not shrink the file census ($before -> $after)")
    require(after <= 16,
      s"q202: compacted census $after exceeds nBuckets=16 — the census " +
        "must be independent of document count")
    vs.read("docs")
      .select(col("key"), col("content"),
        substring(col("documentid"), 2, 18).cast("long").as("did"))
      .groupBy((col("did") % 7).as("bucket"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("did")).as("n_docs"),
        sum(conv(substring(md5(concat_ws(":", col("key"), col("content"))),
          1, 13), 16, 10).cast("long")).as("checksum"))
      .orderBy(col("bucket"))
  }

  /** The recall certificate shared by q204/q240/q242/q251: route the
    * pre-embedded audit queries through the text-search surface
    * ([[graft.functions.VectorLiteralProvider]]) in ONE
    * [[graft.store.ChunkStore.searchAll]] action per mode — the r19
    * profile showed ~75% of each certificate's search wall was
    * driver-side planning/collect paid per (query, mode); the batched
    * path pays it per mode (3 actions, not 15) and scans the
    * collection once per mode for the whole batch. Per-query rows are
    * EXACTLY the per-query path's (BatchedSearchSpec) so the
    * certified exact-mode output and the recall arithmetic are
    * unchanged. REQUIREs the per-mode mean recall@k floors in-run;
    * returns per query (qid, exact (key, score) rows, lsh recall,
    * ivfsq recall).
    */
  private def recallCertificate(vs: graft.store.ChunkStore,
      collection: String, queryVecs: Array[(Long, Array[Float])], k: Int,
      dim: Int, tag: String)
      : Seq[(Long, Seq[(String, Double)], Double, Double)] = {
    val provider = new graft.functions.VectorLiteralProvider(dim)
    val batch = queryVecs.map { case (qid, qv) =>
      (qid, graft.functions.VectorLiteralProvider.render(qv))
    }.toSeq
    def byQuery(mode: String): Map[Long, Seq[(String, Double)]] =
      vs.searchAll(collection, batch, k = k, provider = provider,
          mode = mode)
        .collect().toSeq
        .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val exactBy = byQuery("exact")
    val lshBy = byQuery("lsh")
    val ivfBy = byQuery("ivfsq")
    val rows = queryVecs.toSeq.map { case (qid, _) =>
      val exact = exactBy.getOrElse(qid, Seq.empty)
      val exactKeys = exact.map(_._1).toSet
      def recallOf(m: Map[Long, Seq[(String, Double)]]): Double =
        m.getOrElse(qid, Seq.empty).map(_._1).count(exactKeys).toDouble / k
      (qid, exact, recallOf(lshBy), recallOf(ivfBy))
    }
    val meanLsh = rows.map(_._3).sum / rows.length
    val meanIvf = rows.map(_._4).sum / rows.length
    require(meanLsh >= AnnRecallFloorLsh,
      s"$tag: mean lsh recall@$k $meanLsh is below the $AnnRecallFloorLsh floor")
    require(meanIvf >= AnnRecallFloorIvfsq,
      s"$tag: mean ivfsq recall@$k $meanIvf is below the $AnnRecallFloorIvfsq floor")
    rows
  }

  /** The certified output of a [[recallCertificate]]: the exact-mode
    * (query_id, key, score) rows, ordered — identical to the rows the
    * per-query loop emitted, so the committed oracles replay verbatim.
    */
  private def certificateDf(s: SparkSession,
      rows: Seq[(Long, Seq[(String, Double)], Double, Double)]): DataFrame = {
    import s.implicits._
    rows.flatMap { case (qid, exact, _, _) =>
      exact.map { case (key, score) => (qid, key, score) }
    }.toDF("query_id", "key", "score")
      .orderBy(col("query_id"), col("score").desc, col("key"))
  }

  // q204: the REPL surface's ANN modes gated end-to-end — the reference
  // analogue is `VectorStoreCommands.cs:113` (brute-force search is the
  // only mode there; `--mode lsh|ivfsq` are this engine's opt-in
  // approximate scans). The ANN INTERNALS are oracle-certified since
  // r10 (q33/q49/q128/q136/q138), but until r15 no gated query drove
  // `VectorStore.search(mode=...)` — the composition a CLI user
  // actually runs (collection read -> index-at-search-time -> probe ->
  // exact re-score). The query builds a store from the embeddings
  // table (32 documentid replace units of N/32 vectors each), routes five
  // PRE-EMBEDDED queries through the text-search surface via
  // [[graft.functions.VectorLiteralProvider]] (Float round-trips its
  // string form exactly), and for each query runs all three modes,
  // REQUIRING inside the gated run that each ANN mode's MEAN top-10
  // overlap with the exact top-10 meets its per-mode floor
  // ([[AnnRecallFloorLsh]]/[[AnnRecallFloorIvfsq]] — measured
  // operating points; see the constants). The certified OUTPUT is the exact
  // mode's (query_id, key, score) rows — replayed in DuckDB via
  // list_dot_product over DOUBLE lists, the same ascending index-order
  // fold as the codegen'd CosineSimilarity loop. Bench tier: exec
  // (physical store write + the 5-query × 3-mode search certificate,
  // batched to one action per mode since r20; the denominator
  // replays only the exact-mode scoring).
  def q204(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q204-store").toString
    val vs = new VectorStore(s, storeRoot)
    val emb = graft.Tables.load(s, dir, "embeddings")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    // L2-normalize at ingest — the STORE CONTRACT the ivfsq mode's
    // L2-ranking == cosine-ranking agreement depends on (the hashing
    // embedder normalizes; pre-computed vectors must be normalized
    // here). Double-precision divide, rounded to float32 per element —
    // replayed bit-for-bit in the oracle via DuckDB REAL casts.
    val n2 = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val chunks = emb.select(
        // lpad TRUNCATES past its width — a silent key collision at
        // vec_id >= 1e12; the guard raises in-plan (zero extra jobs)
        // long before the 12-char pad can clip.
        when(col("vec_id") < 1000000000000L,
            lpad(col("vec_id").cast("string"), 12, "0"))
          .otherwise(raise_error(concat(lit("q204: vec_id "),
            col("vec_id").cast("string"),
            lit(" overflows the 12-char key pad")))).as("key"),
        when(n2 > 0, transform(col("embedding"),
            x => (x.cast("double") / sqrt(n2)).cast("float")))
          .otherwise(col("embedding")).as("embedding"),
        concat(lit("v"), col("vec_id")).as("content"),
        lit("").as("context"),
        concat(lit("g"), pmod(col("vec_id"), lit(32L))).as("documentid"))
      .as[graft.model.EmbeddedChunk](
        org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk])
    vs.upsert(chunks, "vecs")
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // [[AnnRecallFloorLsh]]/[[AnnRecallFloorIvfsq]], the r18 measured
    // operating points, made per-mode in r19 (the
    // r15 floors 0.3/0.4 certified liveness; the RecallSweep curve in
    // SCALE.md pins where radius-3 / nprobe-4 recall actually sits). On
    // this synthetic table true neighbors are weakly clustered, which
    // is the honest hard case for probe-pruned ANN; the certificate is
    // "the REPL ANN modes return a large, floored fraction of the
    // exact answer while scanning a pruned fraction of the store".
    certificateDf(s,
      recallCertificate(vs, "vecs", queryVecs, k = 10, dim = dim, "q204"))
  }

  // q240: the PERSISTED-index serving path gated end-to-end — the
  // reference analogue is sqlite-vec querying a persisted index
  // (`VectorStoreCommands.cs:113`), never refitting per query. q204
  // certified the REPL convenience path (index fit at search time);
  // this query certifies the production path: `buildIndex` writes the
  // LSH bucket table and the IVF-SQ code table + fitted model under
  // `<collection>/_index/`, stamped with the store's data fingerprint,
  // and `search(mode=lsh|ivfsq)` serves from the sidecar while it is
  // FRESH (hasFreshIndex REQUIRED true before the searches, so the
  // serving branch is the one exercised — the fit-at-search fallback
  // is unreachable under that invariant). Same store construction,
  // same five pre-embedded queries, same recall floors as q204 (the
  // fits are deterministic over the same rows, so the sidecar returns
  // the fit-at-search answer exactly — IndexSidecarSpec pins the
  // equality rowwise). After the searches, ONE extra upsert must flip
  // hasFreshIndex false for both modes — the staleness contract the
  // q146/q151 refresh policies hook into. Certified output: the
  // exact-mode rows, replayed by the q204 oracle. Bench tier: exec
  // (physical store + index writes; the denominator replays only the
  // exact-mode scoring).
  def q240(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q240-store").toString
    val vs = new VectorStore(s, storeRoot)
    val emb = graft.Tables.load(s, dir, "embeddings")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val n2 = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val chunks = emb.select(
        when(col("vec_id") < 1000000000000L,
            lpad(col("vec_id").cast("string"), 12, "0"))
          .otherwise(raise_error(concat(lit("q240: vec_id "),
            col("vec_id").cast("string"),
            lit(" overflows the 12-char key pad")))).as("key"),
        when(n2 > 0, transform(col("embedding"),
            x => (x.cast("double") / sqrt(n2)).cast("float")))
          .otherwise(col("embedding")).as("embedding"),
        concat(lit("v"), col("vec_id")).as("content"),
        lit("").as("context"),
        concat(lit("g"), pmod(col("vec_id"), lit(32L))).as("documentid"))
      .as[graft.model.EmbeddedChunk](
        org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk])
    vs.upsert(chunks, "vecs")
    // The write-time half: fit once, persist codes + model, stamp the
    // fingerprint. From here every ANN search is probe + re-score.
    vs.buildIndex("vecs", "lsh")
    vs.buildIndex("vecs", "ivfsq")
    require(vs.hasFreshIndex("vecs", "lsh"),
      "q240: lsh sidecar not fresh after buildIndex")
    require(vs.hasFreshIndex("vecs", "ivfsq"),
      "q240: ivfsq sidecar not fresh after buildIndex")
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // Same floors as q204: the persisted index must not trade recall
    // for its speed — it serves the very answer the fit would. The
    // certificate collects eagerly, so the searches run against the
    // FRESH sidecars, before the staleness upsert below.
    val certRows =
      recallCertificate(vs, "vecs", queryVecs, k = 10, dim = dim, "q240")
    // Staleness contract: one more document and the sidecar must stop
    // being trusted (fingerprint mismatch), not silently serve an
    // index that has no codes for the newest data.
    import s.implicits._
    vs.upsert(Seq(graft.model.EmbeddedChunk("z-extra",
      Array.fill(dim)(0.1f), "extra", "", "gz")).toDS(), "vecs")
    require(!vs.hasFreshIndex("vecs", "lsh"),
      "q240: lsh sidecar still fresh after an upsert")
    require(!vs.hasFreshIndex("vecs", "ivfsq"),
      "q240: ivfsq sidecar still fresh after an upsert")
    certificateDf(s, certRows)
  }

  // q241: INCREMENTAL compaction gated — at 100 TB the whole-collection
  // rewrite (q202) is a once-in-a-while layout reset; the compaction
  // you actually operate is `compactFragmented`: rewrite ONLY the
  // buckets whose file count exceeds the threshold, leave every other
  // bucket's files physically untouched. The query (a) ingests the
  // q202 chunk set and fully compacts (one file per bucket — the clean
  // baseline), (b) re-ingests a FIXED 5-document cohort (the smallest
  // doc_ids — a corpus-size-independent increment, so untouched
  // buckets exist at every SF) with the 2×200 re-chunking —
  // fragmenting ONLY those documents' buckets,
  // (c) snapshots every bucket's (file name, length, mtime) census,
  // (d) runs compactFragmented(maxFilesPerBucket = 1) and REQUIRES:
  // the rewritten-bucket count equals the fragmented count, the total
  // census is back to one file per present bucket, and every
  // UNTOUCHED bucket's file statuses are byte-identical (same names,
  // lengths, mtimes — the physical proof the rewrite cost is
  // O(fragmented buckets' bytes), not O(store)). Certified output:
  // the q202-style content checksum over the final state. Bench tier:
  // exec (physical store writes; the denominator replays content
  // derivation).
  def q241(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q241-store").toString
    val vs = new graft.store.BucketedVectorStore(s, storeRoot, nBuckets = 16)
    val docs = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    def chunksOf(d: DataFrame, n: Int, width: Int, keyTag: String) = d
      .select(col("doc_id"), col("lang"),
        posexplode(array((0 until n).map(i =>
          substring(col("text"), i * width + 1, width)): _*))
          .as(Seq("ci", "content")))
      .filter(length(col("content")) > 0)
      .select(
        concat(lit("d"), col("doc_id"), lit(s":$keyTag"), col("ci")).as("key"),
        typedLit(Array.empty[Float]).as("embedding"),
        col("content"),
        col("lang").as("context"),
        concat(lit("d"), col("doc_id")).as("documentid"))
      .repartition(8) // scatter: replace batches fan buckets into files
      .as[graft.model.EmbeddedChunk](
        org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk])
    vs.upsert(chunksOf(docs, 3, 150, ""), "docs")
    vs.compact("docs") // clean baseline: one file per present bucket
    // The fragmenting increment: a fixed-size document cohort
    // re-chunked — an ingest increment does not grow with the corpus.
    val redo = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(5)
      .collect().map(_.getLong(0))
    vs.upsert(chunksOf(docs.filter(col("doc_id").isin(redo.map(
      java.lang.Long.valueOf): _*)), 2, 200, "r"), "docs")
    def bucketStatuses(): Map[Int, Seq[String]] = {
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(storeRoot), s.sparkContext.hadoopConfiguration)
      fsys.listStatus(new org.apache.hadoop.fs.Path(s"$storeRoot/docs"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(
          graft.store.BucketedMerge.BucketCol + "="))
        .map { st =>
          val b = st.getPath.getName
            .stripPrefix(graft.store.BucketedMerge.BucketCol + "=").toInt
          b -> fsys.listStatus(st.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => s"${f.getPath.getName}:${f.getLen}:" +
              s"${f.getModificationTime}").toSeq.sorted
        }.toMap
    }
    val beforeStatuses = bucketStatuses()
    val fragmented = beforeStatuses.filter(_._2.size > 1).keySet
    val untouched = beforeStatuses.keySet -- fragmented
    require(fragmented.nonEmpty,
      "q241: the replace increment fragmented no bucket")
    require(untouched.nonEmpty,
      "q241: every bucket was touched — the untouched-bucket claim " +
        "has nothing to certify")
    val (rewritten, before, after) =
      vs.compactFragmented("docs", maxFilesPerBucket = 1)
    require(rewritten == fragmented.size,
      s"q241: rewrote $rewritten buckets, expected ${fragmented.size}")
    require(after < before && after == beforeStatuses.size,
      s"q241: census $before -> $after, expected one file per " +
        s"present bucket (${beforeStatuses.size})")
    val afterStatuses = bucketStatuses()
    untouched.foreach { b =>
      require(afterStatuses(b) == beforeStatuses(b),
        s"q241: untouched bucket $b was physically rewritten")
    }
    vs.read("docs")
      .select(col("key"), col("content"),
        substring(col("documentid"), 2, 18).cast("long").as("did"))
      .groupBy((col("did") % 7).as("bucket"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("did")).as("n_docs"),
        sum(conv(substring(md5(concat_ws(":", col("key"), col("content"))),
          1, 13), 16, 10).cast("long")).as("checksum"))
      .orderBy(col("bucket"))
  }

  /** The certificate of an incremental sidecar: its live codes are
    * SET-EQUAL to a re-encode of the whole collection under the same
    * frozen model.
    */
  private def liveCodesMatchReencode(vs: graft.store.ChunkStore,
      collection: String, mode: String): Boolean = {
    val (codes, model) = vs.indexCodes(collection, mode)
    graft.SparkUtil.multisetEqual(codes, model.encode(vs.read(collection)))
  }

  // q242: INCREMENTAL index refresh gated — the maintenance op that
  // keeps q240's persisted index current without refitting: the model
  // stays FROZEN (refit is buildIndex, rare and deliberate), only the
  // changed documents' code rows are re-derived. The query builds the
  // q204 store + both sidecars, applies a mixed delta (8 NEW documents
  // — copies of vec_id<50 under 'n'-prefixed keys — plus the DELETION
  // of document g31), REQUIREs the sidecars went stale, refreshes both
  // with exactly the delta's documentids, and REQUIREs (a) freshness is
  // restored, (b) the refreshed IVF-SQ code table is SET-EQUAL to a
  // frozen-model re-encode of the whole collection (refresh(Δ) == full
  // re-encode — staleness cannot accumulate across refreshes), and
  // (c) both ANN modes' mean recall@10 against exact over the FINAL
  // collection meets the q204 floors. Certified output: the exact-mode
  // rows over the post-delta collection — original vectors minus the
  // g31 cohort plus the 'n' copies — replayed in DuckDB. Bench tier:
  // exec (physical store + index writes; the denominator replays only
  // the exact-mode scoring).
  def q242(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q242-store").toString
    val vs = new VectorStore(s, storeRoot)
    val emb = graft.Tables.load(s, dir, "embeddings")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val n2 = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val keyCol = when(col("vec_id") < 1000000000000L,
        lpad(col("vec_id").cast("string"), 12, "0"))
      .otherwise(raise_error(concat(lit("q242: vec_id "),
        col("vec_id").cast("string"),
        lit(" overflows the 12-char key pad"))))
    val normCol = when(n2 > 0, transform(col("embedding"),
        x => (x.cast("double") / sqrt(n2)).cast("float")))
      .otherwise(col("embedding"))
    val enc = org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk]
    vs.upsert(emb.select(keyCol.as("key"), normCol.as("embedding"),
      concat(lit("v"), col("vec_id")).as("content"), lit("").as("context"),
      concat(lit("g"), pmod(col("vec_id"), lit(32L))).as("documentid"))
      .as[graft.model.EmbeddedChunk](enc), "vecs")
    vs.buildIndex("vecs", "lsh")
    vs.buildIndex("vecs", "ivfsq")
    // The delta: 8 new documents (h0..h7) holding copies of the first
    // 50 vectors under 'n'-prefixed keys, and one deleted document.
    vs.upsert(emb.filter(col("vec_id") < 50)
      .select(concat(lit("n"), keyCol).as("key"), normCol.as("embedding"),
        concat(lit("vn"), col("vec_id")).as("content"),
        lit("").as("context"),
        concat(lit("h"), pmod(col("vec_id"), lit(8L))).as("documentid"))
      .as[graft.model.EmbeddedChunk](enc), "vecs")
    vs.delete("vecs", Seq("g31"))
    require(!vs.hasFreshIndex("vecs", "lsh") &&
      !vs.hasFreshIndex("vecs", "ivfsq"),
      "q242: sidecars still fresh after the delta")
    val delta = (0 until 8).map(b => s"h$b") :+ "g31"
    vs.refreshIndex("vecs", "lsh", delta)
    vs.refreshIndex("vecs", "ivfsq", delta)
    require(vs.hasFreshIndex("vecs", "lsh") &&
      vs.hasFreshIndex("vecs", "ivfsq"),
      "q242: refresh did not restore freshness")
    // refresh(Δ) == frozen-model full re-encode, cell for cell.
    require(liveCodesMatchReencode(vs, "vecs", "ivfsq"),
      "q242: refreshed codes differ from a frozen-model full re-encode")
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    certificateDf(s,
      recallCertificate(vs, "vecs", queryVecs, k = 10, dim = dim, "q242"))
  }

  // q251: the PERSISTED-index serving path on the MANIFEST-COMMITTED
  // snapshot layout — q240/q242 certify the sidecar on the per-document
  // rename layout; this closes the matrix on the layout a 100 TB
  // deployment actually serves from, where index freshness must track
  // the MANIFEST (SnapshotStore.storeFingerprint hashes the latest
  // manifest, not a file census). The lifecycle, each claim REQUIREd
  // in-run:
  // (a) build both sidecars at v1 → fresh; sidecar-served searches;
  // (b) a MOR delta (8 new 'h' documents as a delta entry + the g31
  //     tombstone — q242's exact delta) stales both WITHOUT any
  //     existing data file changing — staleness rides the manifest
  //     commit;
  // (c) frozen-model refreshIndex(Δ) restores freshness, and the
  //     refreshed IVF-SQ code table is SET-EQUAL to a frozen-model
  //     re-encode of the whole MOR read (refresh over merge-on-read
  //     arbitration == full re-encode);
  // (d) COMPACT rewrites every data file but changes NO content — it
  //     re-stamps the sidecars, which stay fresh and set-equal to a
  //     full re-encode;
  // (e) VACUUM deletes historical manifests + files but commits NO
  //     manifest — the index must STAY FRESH (the snapshot-specific
  //     half: on the rename layouts this same sweep would flip the
  //     census fingerprint), and sidecar-served searches must hold
  //     post-vacuum with the q204 recall floors.
  // Certified output: the exact-mode rows over the post-delta
  // collection — identical to q242's, so its oracle replays verbatim.
  // Bench tier: exec (physical store + index writes; the denominator
  // replays only the exact-mode scoring).
  def q251(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q251-store").toString
    val vs = new graft.store.SnapshotStore(s, storeRoot, nBuckets = 8)
    val emb = graft.Tables.load(s, dir, "embeddings")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val n2 = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val keyCol = when(col("vec_id") < 1000000000000L,
        lpad(col("vec_id").cast("string"), 12, "0"))
      .otherwise(raise_error(concat(lit("q251: vec_id "),
        col("vec_id").cast("string"),
        lit(" overflows the 12-char key pad"))))
    val normCol = when(n2 > 0, transform(col("embedding"),
        x => (x.cast("double") / sqrt(n2)).cast("float")))
      .otherwise(col("embedding"))
    val enc = org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk]
    vs.upsert(emb.select(keyCol.as("key"), normCol.as("embedding"),
      concat(lit("v"), col("vec_id")).as("content"), lit("").as("context"),
      concat(lit("g"), pmod(col("vec_id"), lit(32L))).as("documentid"))
      .as[graft.model.EmbeddedChunk](enc), "vecs")              // v1
    vs.buildIndex("vecs", "lsh")
    vs.buildIndex("vecs", "ivfsq")
    require(vs.hasFreshIndex("vecs", "lsh") &&
      vs.hasFreshIndex("vecs", "ivfsq"),
      "q251: sidecars not fresh after buildIndex on the snapshot layout")
    // (b) the MOR delta: a delta entry + a tombstone — no existing
    // data file changes, only two manifest commits.
    vs.upsert(emb.filter(col("vec_id") < 50)
      .select(concat(lit("n"), keyCol).as("key"), normCol.as("embedding"),
        concat(lit("vn"), col("vec_id")).as("content"),
        lit("").as("context"),
        concat(lit("h"), pmod(col("vec_id"), lit(8L))).as("documentid"))
      .as[graft.model.EmbeddedChunk](enc), "vecs")              // v2
    vs.delete("vecs", Seq("g31"))                               // v3
    require(!vs.hasFreshIndex("vecs", "lsh") &&
      !vs.hasFreshIndex("vecs", "ivfsq"),
      "q251: a manifest commit (MOR delta) must stale the sidecars")
    val delta = (0 until 8).map(b => s"h$b") :+ "g31"
    vs.refreshIndex("vecs", "lsh", delta)
    vs.refreshIndex("vecs", "ivfsq", delta)
    require(vs.hasFreshIndex("vecs", "lsh") &&
      vs.hasFreshIndex("vecs", "ivfsq"),
      "q251: refresh did not restore freshness on the snapshot layout")
    // (c) refresh over merge-on-read == frozen-model full re-encode.
    require(liveCodesMatchReencode(vs, "vecs", "ivfsq"),
      "q251: refreshed codes over MOR differ from a frozen-model " +
        "full re-encode")
    // (d) compact: every data file is rewritten, content identical —
    // the compaction re-stamps the sidecars (folding their deltas into
    // one base), so they stay fresh and still equal a full re-encode.
    vs.compact("vecs")                                          // v4
    require(vs.hasFreshIndex("vecs", "lsh") &&
      vs.hasFreshIndex("vecs", "ivfsq"),
      "q251: compact changed no row but staled the sidecars")
    require(liveCodesMatchReencode(vs, "vecs", "ivfsq"),
      "q251: the sidecar folded by compact differs from a frozen-model " +
        "full re-encode")
    // (e) vacuum: history's manifests + files go away, the LATEST
    // manifest is untouched — freshness must survive (this is exactly
    // where a census fingerprint would go stale for no reason).
    vs.vacuum("vecs", retainLast = 1, minAgeMs = 0L)
    require(vs.hasFreshIndex("vecs", "lsh") &&
      vs.hasFreshIndex("vecs", "ivfsq"),
      "q251: vacuum changed no live content but staled the sidecars")
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    certificateDf(s,
      recallCertificate(vs, "vecs", queryVecs, k = 10, dim = dim, "q251"))
  }

  // q252: SNAPSHOT VERSION DIFF gated — the provenance operator on top
  // of time travel: "what changed between the corpus version run A
  // read and the one run B read?" `SnapshotStore.changedDocuments`
  // classifies per documentid (added / removed / changed, by the
  // q202-family order-free content checksum) with a MANIFEST-PRUNED
  // fast path: when no compaction happened in the window, immutable
  // files + monotone MOR arbitration prove only window-mentioned
  // documents can differ, so the touched set comes from the window's
  // delta/tombstone files alone (column-pruned, O(window) — never
  // O(store)); a compaction in the window falls back to the full
  // two-scan content diff. The query builds v1 ingest → v2 %20
  // re-chunk → v3 new-document cohort → v4 delete → v5 compact and
  // REQUIREs in-run: (a) the fast diff(1,4) row-equals the full
  // diff(1,5) — the compaction is content-invisible to the diff and
  // the two tiers agree on the same window; (b) diff(4,5) is EMPTY
  // (compact alone changes nothing). Certified output: per-class
  // document counts + documentid checksums, replayed from `documents`.
  // Bench tier: exec (physical store commits; the denominator replays
  // the class derivation).
  def q252(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q252-store").toString
    val st = new graft.store.SnapshotStore(s, storeRoot, nBuckets = 8)
    val base = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val fresh = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 5)
      .select(col("doc_id"), col("lang"), col("text"))
    st.upsert(sliceChunks(base, 3, 150, ""), "docs")               // v1
    st.upsert(sliceChunks(base.filter(col("doc_id") % 20 === 0),
      2, 200, "r"), "docs")                                        // v2
    st.upsert(sliceChunks(fresh, 3, 150, ""), "docs")              // v3
    val victims = base.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(5).collect().map(r => s"d${r.getLong(0)}").toSeq
    st.delete("docs", victims)                                     // v4
    val fast = st.changedDocuments("docs", 1L, 4L)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    st.compact("docs")                                             // v5
    val full = st.changedDocuments("docs", 1L, 5L)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    require(fast == full,
      "q252: the manifest-pruned fast diff and the full content diff " +
        "disagree on the same logical window")
    require(st.changedDocuments("docs", 4L, 5L).isEmpty,
      "q252: a copy-on-write compact must be invisible to the diff")
    import s.implicits._
    fast.toDF("documentid", "change")
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(md5(col("documentid")), 1, 13), 16, 10)
          .cast("long")).as("checksum"))
      .orderBy(col("change"))
  }

  // q243: DOCUMENT DELETION gated on BOTH layouts — the takedown /
  // right-to-be-forgotten primitive (the replace-by-document upsert
  // can only replace, never remove; a 100 TB store without a delete
  // path cannot honor an opt-out). The query ingests the q202 chunk
  // set into a per-document store AND a bucketed store, deletes the
  // same fixed 5-document cohort from both, and REQUIREs in-run:
  // (a) the per-document layout physically dropped the victims'
  // partition directories (no rewrite at all — the layout's O(touched
  // documents) commit); (b) the bucketed layout rewrote ONLY the
  // victims' buckets (every untouched bucket's file statuses
  // byte-identical — the O(touched buckets' bytes) claim); (c) the
  // two layouts' read-backs are row-identical. Certified output: the
  // q202-style content checksum over the survivors, replayed from
  // `documents` minus the cohort. Bench tier: exec (physical store
  // writes; the denominator replays content derivation).
  def q243(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q243-store").toString
    val docStore = new VectorStore(s, s"$storeRoot/doc")
    val bktStore = new graft.store.BucketedVectorStore(
      s, s"$storeRoot/bkt", nBuckets = 16)
    val docs = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val chunks = docs
      .select(col("doc_id"), col("lang"),
        posexplode(array((0 until 3).map(i =>
          substring(col("text"), i * 150 + 1, 150)): _*))
          .as(Seq("ci", "content")))
      .filter(length(col("content")) > 0)
      .select(
        concat(lit("d"), col("doc_id"), lit(":"), col("ci")).as("key"),
        typedLit(Array.empty[Float]).as("embedding"),
        col("content"),
        col("lang").as("context"),
        concat(lit("d"), col("doc_id")).as("documentid"))
      .repartition(8)
      .as[graft.model.EmbeddedChunk](
        org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk])
      .localCheckpoint(true) // one derivation feeds both stores
    docStore.upsert(chunks, "docs")
    bktStore.upsert(chunks, "docs")
    val victims = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(5).collect().map(r => s"d${r.getLong(0)}").toSeq
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(storeRoot), s.sparkContext.hadoopConfiguration)
    def bucketStatuses(): Map[String, Seq[String]] =
      fsys.listStatus(new org.apache.hadoop.fs.Path(s"$storeRoot/bkt/docs"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(
          graft.store.BucketedMerge.BucketCol + "="))
        .map(st => st.getPath.getName -> fsys.listStatus(st.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(f => s"${f.getPath.getName}:${f.getLen}:" +
            s"${f.getModificationTime}").toSeq.sorted).toMap
    val preStatuses = bucketStatuses()
    val victimBuckets = victims.map(v => s.range(1)
      .select(graft.store.BucketedMerge.bucketOf(lit(v), 16))
      .head().getInt(0)).toSet.map((b: Int) =>
        s"${graft.store.BucketedMerge.BucketCol}=$b")
    docStore.delete("docs", victims)
    bktStore.delete("docs", victims)
    // (a) per-document layout: victim partition dirs physically gone.
    victims.foreach { v =>
      require(!fsys.exists(new org.apache.hadoop.fs.Path(
        s"$storeRoot/doc/docs/documentid=$v")),
        s"q243: victim partition $v survived the delete")
    }
    // (b) bucketed layout: untouched buckets physically untouched.
    val postStatuses = bucketStatuses()
    (preStatuses.keySet -- victimBuckets).foreach { b =>
      require(postStatuses.get(b) == preStatuses.get(b),
        s"q243: untouched bucket $b was rewritten by the delete")
    }
    // (c) the layouts agree row-for-row after the delete.
    val dRead = docStore.read("docs")
      .select(col("key"), col("content"), col("documentid"))
    val bRead = bktStore.read("docs")
      .select(col("key"), col("content"), col("documentid"))
    require(graft.SparkUtil.multisetEqual(dRead, bRead),
      "q243: layouts disagree after the delete")
    bktStore.read("docs")
      .select(col("key"), col("content"),
        substring(col("documentid"), 2, 18).cast("long").as("did"))
      .groupBy((col("did") % 7).as("bucket"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("did")).as("n_docs"),
        sum(conv(substring(md5(concat_ws(":", col("key"), col("content"))),
          1, 13), 16, 10).cast("long")).as("checksum"))
      .orderBy(col("bucket"))
  }

  /** Shared chunk derivation of the q202 family — n fixed-width slices
    * per document, 'keyTag'-marked keys so a re-chunking is
    * distinguishable from the original. One definition for the three
    * snapshot-store certificates (q244/q245/q246), matching q202/q241/
    * q243's local copies cell for cell.
    */
  private def sliceChunks(d: DataFrame, n: Int, width: Int,
      keyTag: String) = d
    .select(col("doc_id"), col("lang"),
      posexplode(array((0 until n).map(i =>
        substring(col("text"), i * width + 1, width)): _*))
        .as(Seq("ci", "content")))
    .filter(length(col("content")) > 0)
    .select(
      concat(lit("d"), col("doc_id"), lit(s":$keyTag"), col("ci")).as("key"),
      typedLit(Array.empty[Float]).as("embedding"),
      col("content"),
      col("lang").as("context"),
      concat(lit("d"), col("doc_id")).as("documentid"))
    .repartition(8)
    .as[graft.model.EmbeddedChunk](
      org.apache.spark.sql.Encoders.product[graft.model.EmbeddedChunk])

  /** The q202-family certified output: survivor content checksum,
    * grouped by doc_id % 7.
    */
  private def contentChecksum(read: DataFrame): DataFrame = read
    .select(col("key"), col("content"),
      substring(col("documentid"), 2, 18).cast("long").as("did"))
    .groupBy((col("did") % 7).as("bucket"))
    .agg(count(lit(1)).as("n_chunks"),
      countDistinct(col("did")).as("n_docs"),
      sum(conv(substring(md5(concat_ws(":", col("key"), col("content"))),
        1, 13), 16, 10).cast("long")).as("checksum"))
    .orderBy(col("bucket"))

  // q244: the MANIFEST-COMMITTED snapshot store's full lifecycle gated
  // under the q202-family content oracle — the layout whose commit
  // survives an OBJECT store (the other two layouts commit with
  // directory renames: atomic O(1) on HDFS, copy+delete per object on
  // S3). Four commits — v1 ingest (3x150 chunks), v2 replace-increment
  // (doc_id % 20 == 0 re-chunked 2x200 under 'r' keys), v3 delete (the
  // fixed 5-smallest-ids cohort), v4 copy-on-write compact — with the
  // layout's four load-bearing claims REQUIREd in-run:
  // (a) data files are IMMUTABLE: v1's physical (path, len, mtime)
  //     stamps are byte-identical after three later commits — no
  //     commit ever renamed, rewrote, or copied an existing file (the
  //     object-store-safety claim; the ONLY mutation in the whole run
  //     is one manifest-file creation per commit);
  // (b) TIME TRAVEL: after all four commits, readAt(v1) returns
  //     exactly the rows captured right after v1 — a training run can
  //     pin the corpus version it read (provenance);
  // (c) merge-on-read REPLACE/DELETE semantics: v2's arbitration drops
  //     the replaced documents' 3x150 chunks, v3's tombstone drops the
  //     victims (both certified by the content oracle);
  // (d) the compacted live census is bounded by nBuckets=16 —
  //     independent of document count, same claim as q202.
  // Certified output: the survivor checksum over the FINAL state,
  // replayed from `documents` (replace cohort re-chunked, delete
  // cohort removed). Bench tier: exec (physical store writes; the
  // denominator replays content derivation).
  def q244(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q244-store").toString
    val st = new graft.store.SnapshotStore(s, storeRoot, nBuckets = 16)
    val docs = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    st.upsert(sliceChunks(docs, 3, 150, ""), "docs") // v1
    val v1Rows = st.readAt("docs", 1L)
      .select(col("key"), md5(col("content")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(storeRoot), s.sparkContext.hadoopConfiguration)
    def stamps(files: Seq[String]): Seq[String] = files.sorted.map { rel =>
      val fst = fsys.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$storeRoot/docs/$rel"))
      s"$rel:${fst.getLen}:${fst.getModificationTime}"
    }
    val v1Files = st.liveDataFiles("docs", 1L)
    val v1Stamps = stamps(v1Files)
    // v2: the replace increment — re-chunked documents, fewer+wider.
    st.upsert(sliceChunks(docs.filter(col("doc_id") % 20 === 0),
      2, 200, "r"), "docs")
    // v3: the takedown — fixed 5-smallest-ids cohort.
    val victims = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(5).collect().map(r => s"d${r.getLong(0)}").toSeq
    st.delete("docs", victims)
    // v4: copy-on-write compact.
    val (before, after) = st.compact("docs")
    require(st.versions("docs") == Seq(1L, 2L, 3L, 4L),
      s"q244: expected versions 1..4, got ${st.versions("docs")}")
    require(after <= 16 && after < before,
      s"q244: compacted live census $after (from $before) must be " +
        "bounded by nBuckets=16")
    // (a) immutability: v1's files untouched by the three later commits.
    require(stamps(v1Files) == v1Stamps,
      "q244: a later commit mutated v1's data files — the rename-free " +
        "commit claim is broken")
    // (b) time travel: v1 reads exactly as committed.
    val v1Replay = st.readAt("docs", 1L)
      .select(col("key"), md5(col("content")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    require(v1Replay == v1Rows,
      "q244: readAt(v1) diverged after later commits — time travel broken")
    contentChecksum(st.read("docs"))
  }

  // q245: VACUUM gated — the retention op that makes the snapshot
  // store's history FINITE (without it, every commit's files live
  // forever; a right-to-be-forgotten delete never physically erases).
  // Build v1 ingest → v2 replace-increment → v3 compact, plant an
  // ORPHAN data dir (a crashed writer: data written, manifest never
  // published — invisible to every read), then vacuum(retainLast=1).
  // REQUIREd in-run:
  // (a) the grace window holds: a vacuum with minAgeMs=1h collects
  //     NOTHING (every dir is seconds old — an in-flight writer's
  //     staged data must never be swept);
  // (b) the real vacuum deletes the two delta dirs AND the orphan,
  //     leaving exactly the compacted base live;
  // (c) live content is byte-identical before/after (the certified
  //     output is computed AFTER the vacuum);
  // (d) aged-out history refuses loudly: readAt(v1) now throws.
  // Certified output: the survivor checksum (v1 content with the
  // replace cohort re-chunked — no delete in this lifecycle), replayed
  // from `documents`. Bench tier: exec.
  def q245(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q245-store").toString
    val st = new graft.store.SnapshotStore(s, storeRoot, nBuckets = 16)
    val docs = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    st.upsert(sliceChunks(docs, 3, 150, ""), "docs")               // v1
    st.upsert(sliceChunks(docs.filter(col("doc_id") % 20 === 0),
      2, 200, "r"), "docs")                                        // v2
    st.compact("docs")                                             // v3
    val orphan = java.nio.file.Paths.get(s"$storeRoot/docs/data/delta-orphan")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-0.parquet"),
      "crashed-writer".getBytes("UTF-8"))
    val preRows = contentChecksum(st.read("docs")).collect().toSeq
    val (del0, _) = st.vacuum("docs", retainLast = 3, minAgeMs = 3600000L)
    require(del0 == 0L,
      s"q245: the 1h grace window collected $del0 dirs of seconds-old data")
    require(java.nio.file.Files.exists(orphan),
      "q245: the grace window did not protect the in-flight-aged orphan")
    val (deleted, live) = st.vacuum("docs", retainLast = 1, minAgeMs = 0L)
    require(deleted >= 3L,
      s"q245: expected the two delta dirs + the orphan swept, got $deleted")
    require(live == 1L,
      s"q245: expected exactly the compacted base live, got $live dirs")
    require(!java.nio.file.Files.exists(orphan),
      "q245: the crashed writer's orphan dir survived the vacuum")
    val gone =
      try { st.readAt("docs", 1L); false }
      catch { case _: IllegalArgumentException => true }
    require(gone, "q245: vacuumed v1 is still readable — retention is " +
      "not enforced")
    val post = contentChecksum(st.read("docs"))
    require(post.collect().toSeq == preRows,
      "q245: vacuum changed live content")
    post
  }

  // q246: CONCURRENT COMMITTERS gated — the multi-writer safety claim
  // under the content oracle. The snapshot commit is an optimistic CAS
  // on the next manifest version slot; a loser REBASES (pure manifest
  // arithmetic) and retries. Four writers upsert DISJOINT document
  // cohorts (the doc_id % 20 == 0 replace set split 4 ways) from four
  // threads against one collection; whatever the interleaving, every
  // batch must land and replace-by-document must hold. REQUIREd
  // in-run: (a) 1 seed + 4 writer commits land exactly versions 1..5 —
  // contiguous, no slot skipped or double-claimed; (b) every writer's
  // cohort is present under its 'r' re-chunking. Certified output: the
  // survivor checksum over the final state — identical to q202's
  // (the union of the four disjoint batches IS the full replace set),
  // so the oracle is interleaving-independent by construction. Bench
  // tier: exec (physical store writes from racing threads).
  def q246(s: SparkSession, dir: String): DataFrame = {
    val storeRoot = Files.createTempDirectory("graft-q246-store").toString
    val st = new graft.store.SnapshotStore(s, storeRoot, nBuckets = 16)
    val docs = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    st.upsert(sliceChunks(docs, 3, 150, ""), "docs") // v1, the seed
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 4).map { w =>
      Future {
        st.upsert(sliceChunks(docs.filter(col("doc_id") % 20 === 0 &&
          (col("doc_id") / 20).cast("long") % 4 === w), 2, 200, "r"),
          "docs")
      }
    }
    Await.result(Future.sequence(writers), 10.minutes)
    require(st.versions("docs") == (1L to 5L),
      s"q246: 5 commits must land versions 1..5 whatever the " +
        s"interleaving, got ${st.versions("docs")}")
    // Every writer's cohort present under its re-chunking.
    val rDocs = st.read("docs")
      .filter(col("key").contains(":r"))
      .select(substring(col("documentid"), 2, 18).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    val expected = docs.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    require(rDocs == expected,
      s"q246: replace cohorts lost in the race — ${expected.size} " +
        s"expected, ${rDocs.size} landed")
    contentChecksum(st.read("docs"))
  }

  /** q162: hive-partitioned layout + PARTITION-PRUNING certificate —
    * writes the corpus partitioned by `lang`, reads it back with a
    * two-language predicate, and REQUIRES (a) the predicate reaches
    * the scan as a partition filter and (b) the FileIndex lists
    * strictly fewer partition directories under that filter — the
    * physical end-to-end proof of the first 100 TB layout lever
    * (a pruned scan never even LISTS the other languages' files),
    * not just a plan-string grep. Result: per-lang doc count + char
    * sum, oracle-checked against the unpartitioned source table.
    * Physical-write cost dominates the trivial oracle → exec tier in
    * Bench (see BASELINE.md).
    */
  def q162(s: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-q162-layout").toString
    graft.Tables.load(s, dir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(root)
    val q = s.read.parquet(root)
      .filter(col("lang").isin("en", "zh"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec leaf that hides the scan from collect.
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    require(scans.nonEmpty, "q162: no parquet scan in the physical plan")
    val scan = scans.head
    require(scan.partitionFilters
        .exists(_.references.exists(_.name == "lang")),
      "q162: lang predicate did not reach the scan as a partition filter")
    val pruned = scan.relation.location.listFiles(scan.partitionFilters,
      Nil).length
    val all = scan.relation.location.listFiles(Nil, Nil).length
    require(pruned < all,
      s"q162: pruning ineffective — FileIndex lists $pruned of $all " +
        "partitions under the partition filter")
    q
  }

  /** q164: SCHEMA-EVOLUTION certificate — two parquet snapshots with
    * drifting schemas (v2 adds `n_toks`) union under a mergeSchema
    * read: the old snapshot's missing column must surface as NULLs,
    * not errors, and aggregates over the merged view must match the
    * source-of-truth recompute. The shape every long-lived 100 TB
    * table hits (columns are added mid-corpus; rewriting history is
    * not an option). REQUIREs pin the merged schema and the null-fill
    * before any aggregate runs.
    */
  def q164(s: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-q164-evo").toString
    val d = graft.Tables.load(s, dir, "documents")
    val nToks = size(org.apache.spark.sql.functions.filter(
      split(col("text"), " "), t => length(t) > 0)).cast("long")
    d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$root/snap=1")
    d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        nToks.as("n_toks"))
      .write.mode("overwrite").parquet(s"$root/snap=2")
    val merged = s.read.option("mergeSchema", "true").parquet(root)
    require(merged.schema.fieldNames.contains("n_toks"),
      "q164: mergeSchema read dropped the evolved column")
    require(merged.filter(col("snap") === 1 &&
        col("n_toks").isNotNull).isEmpty,
      "q164: pre-evolution rows must carry NULL for the added column")
    merged.groupBy(col("snap").cast("long").as("snap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        count(col("n_toks")).as("toks_present"),
        sum(coalesce(col("n_toks"), lit(0L))).as("sum_toks"))
      .orderBy(col("snap"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q164_schema_evolution" -> (q164 _),
    "q162_partition_pruning" -> (q162 _),
    "q89_stream_ingest" -> (q89 _),
    "q44_ingest_pipeline" -> (q44 _),
    "q148_store_compaction" -> (q148 _),
    "q202_bucketed_compaction" -> (q202 _),
    "q204_search_mode_recall" -> (q204 _),
    "q205_stream_ingest_bucketed" -> (q205 _),
    "q240_index_sidecar_search" -> (q240 _),
    "q241_incremental_compaction" -> (q241 _),
    "q242_index_refresh" -> (q242 _),
    "q251_snapshot_index_serving" -> (q251 _),
    "q252_snapshot_diff" -> (q252 _),
    "q243_document_delete" -> (q243 _),
    "q244_snapshot_store" -> (q244 _),
    "q245_snapshot_vacuum" -> (q245 _),
    "q246_concurrent_commits" -> (q246 _),
    "q247_stream_ingest_snapshot" -> (q247 _),
    "q69_bucketed_merge" -> (q69 _),
    "q73_jsonl_roundtrip" -> (q73 _),
    "q95_csv_roundtrip" -> (q95 _),
    "q116_orc_roundtrip" -> (q116 _)
  )

  /** q44's oracle: the committed store-content golden manifest
    * (`q44_store_golden.csv`, main resources — regenerate by running q44
    * and dumping its result) rendered as a DuckDB VALUES relation. The
    * pipeline's inputs are the bundled markdown/PDF/SQLite corpus, not
    * the parquet tables, so DuckDB cannot re-derive the store — but the
    * pipeline is fully deterministic (hashing embedder, deterministic
    * chunk keys), so certifying against the reviewed manifest is exact:
    * the driver's hash gate now pins every chunk byte (md5 chain) and
    * every embedding value (e6 integer checksum) each round, at every
    * SF. Cross-checked by GoldenChunksSpec and the idempotence specs.
    */
  private lazy val q44GoldenSql: String = {
    val in = getClass.getClassLoader.getResourceAsStream("q44_store_golden.csv")
    require(in != null,
      "q44_store_golden.csv missing from main resources — the q44 oracle " +
        "golden was moved or renamed (regenerate by running q44 and " +
        "dumping its result)")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val rows = try src.getLines().filter(_.nonEmpty).toList
    finally src.close()
    def q(x: String) = "'" + x.replace("'", "''") + "'"
    val values = rows.map { l =>
      val parts = l.split(",", -1)
      require(parts.length == 6,
        s"q44_store_golden.csv: expected 6 comma fields per line, got " +
          s"${parts.length} in: $l")
      val Array(reader, docid, succ, nch, cmd5, esum) = parts
      val cm = if (cmd5.isEmpty) "CAST(NULL AS VARCHAR)" else q(cmd5)
      val es = if (esum.isEmpty) "CAST(NULL AS BIGINT)"
        else s"CAST($esum AS BIGINT)"
      s"(${q(reader)}, ${q(docid)}, $succ, CAST($nch AS BIGINT), $cm, $es)"
    }.mkString(",\n  ")
    s"""SELECT * FROM (VALUES
       |  $values)
       |AS t(reader, documentid, succeeded, n_chunks, chunks_md5, emb_e6)
       |ORDER BY reader, documentid""".stripMargin
  }

  /** The q202-family lifecycle content: v1 full ingest (3x150 chunks)
    * + the doc_id % 20 == 0 replace increment (2x200 'r' chunks),
    * checksummed by doc_id % 7 — the shared certificate of
    * q202/q245/q246 (one lifecycle, three layouts/claims).
    */
  private lazy val q202ReplaceContentSql: String =
    """WITH d AS (SELECT doc_id, lang, text FROM documents
      |           WHERE doc_id % 10 = 0),
      |c1 AS (SELECT doc_id, i.ci,
      |        substr(text, CAST(i.ci * 150 + 1 AS INTEGER), 150)
      |          AS content,
      |        'd' || CAST(doc_id AS VARCHAR) || ':' ||
      |          CAST(i.ci AS VARCHAR) AS key
      |      FROM d CROSS JOIN
      |        (SELECT unnest(range(0, 3)) AS ci) i
      |      WHERE doc_id % 20 <> 0),
      |c2 AS (SELECT doc_id, i.ci,
      |        substr(text, CAST(i.ci * 200 + 1 AS INTEGER), 200)
      |          AS content,
      |        'd' || CAST(doc_id AS VARCHAR) || ':r' ||
      |          CAST(i.ci AS VARCHAR) AS key
      |      FROM d CROSS JOIN
      |        (SELECT unnest(range(0, 2)) AS ci) i
      |      WHERE doc_id % 20 = 0),
      |k AS (SELECT doc_id, key, content FROM c1
      |        WHERE LENGTH(content) > 0
      |      UNION ALL
      |      SELECT doc_id, key, content FROM c2
      |        WHERE LENGTH(content) > 0)
      |SELECT doc_id % 7 AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(('0x' || substr(md5(key || ':' || content), 1, 13))
      |    AS BIGINT)) AS BIGINT) AS checksum
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "q44_ingest_pipeline" -> q44GoldenSql,
    // q164: the merged-view aggregates re-derived from the source of
    // truth — the evolved column exists only for odd doc_ids (snapshot
    // 2), COUNT skips the null-filled history, SUM coalesces it.
    "q164_schema_evolution" ->
      """WITH v AS (SELECT
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS snap,
        |    n_chars,
        |    CASE WHEN doc_id % 2 = 1 THEN
        |      CAST(len(list_filter(regexp_split_to_array(text, ' '),
        |        x -> LENGTH(x) > 0)) AS BIGINT) END AS n_toks
        |  FROM documents)
        |SELECT CAST(snap AS BIGINT) AS snap,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(n_toks) AS BIGINT) AS toks_present,
        |  CAST(SUM(COALESCE(n_toks, 0)) AS BIGINT) AS sum_toks
        |FROM v GROUP BY snap ORDER BY snap""".stripMargin,
    // q162: the aggregate the pruned partitioned scan must reproduce
    // from the unpartitioned source (layout must not change results).
    "q162_partition_pruning" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'zh')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q148: the aggregate re-derived from documents — chunking replayed
    // as fixed-offset substrings, checksums as 13-hex-digit md5 longs
    // (52 bits, exact in both engines, order-independent sum).
    "q148_store_compaction" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents
        |           WHERE doc_id % 10 = 0),
        |c AS (SELECT doc_id, i.ci,
        |        substr(text, CAST(i.ci * 150 + 1 AS INTEGER), 150)
        |          AS content
        |      FROM d CROSS JOIN
        |        (SELECT unnest(range(0, 3)) AS ci) i),
        |k AS (SELECT doc_id,
        |        'd' || CAST(doc_id AS VARCHAR) || ':' ||
        |          CAST(ci AS VARCHAR) AS key,
        |        content
        |      FROM c WHERE LENGTH(content) > 0)
        |SELECT doc_id % 7 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(('0x' || substr(md5(key || ':' || content), 1, 13))
        |    AS BIGINT)) AS BIGINT) AS checksum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // q202 / q245 / q246 share ONE oracle: the q148 content
    // certificate over the v1-ingest + %20-replace lifecycle (no
    // delete) — the bucketed compaction (q202), the snapshot vacuum
    // (q245, output computed after the vacuum) and the four racing
    // committers (q246, whose disjoint cohorts union to the full
    // replace set) must all land exactly this content.
    // FINAL state — docs re-ingested by the second batch (doc_id % 20
    // = 0) carry ONLY their 2×200 re-chunking ('d<id>:r<ci>' keys);
    // everything else keeps the 3×150 chunks. A store that leaked the
    // obsolete chunks through the replace path would fail the checksum.
    "q202_bucketed_compaction" -> q202ReplaceContentSql,
    // q204: the exact-mode replay. list_dot_product over DOUBLE lists is
    // the same ascending index-order double fold as the codegen'd
    // CosineSimilarity loop (dot, self-norms, then dot/sqrt(nx*ny)),
    // so the 6dp scores and the (score desc, key) cut reproduce. The
    // ANN recall floors are enforced inside the gated Spark run.
    "q204_search_mode_recall" ->
      """WITH v0 AS (SELECT vec_id,
        |    lpad(CAST(vec_id AS VARCHAR), 12, '0') AS key,
        |    CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
        |vr AS (SELECT vec_id, key, de,
        |    sqrt(list_dot_product(de, de)) AS nrm FROM v0),
        |n AS (SELECT vec_id, key, list_dot_product(e, e) AS n2, e FROM (
        |    SELECT vec_id, key, CASE WHEN nrm > 0 THEN
        |        list_transform(de, x -> CAST(CAST(x / nrm AS REAL)
        |          AS DOUBLE))
        |      ELSE de END AS e FROM vr)),
        |q AS (SELECT vec_id AS query_id, de AS qe,
        |      list_dot_product(de, de) AS qn2
        |      FROM v0 WHERE vec_id < 5),
        |p AS (SELECT q.query_id, n.key,
        |        CASE WHEN n.n2 = 0 OR q.qn2 = 0 THEN 0.0
        |          ELSE round(list_dot_product(n.e, q.qe)
        |            / sqrt(n.n2 * q.qn2), 6) END AS score
        |      FROM n CROSS JOIN q),
        |r AS (SELECT query_id, key, score, row_number() OVER (
        |        PARTITION BY query_id ORDER BY score DESC, key) AS rk
        |      FROM p)
        |SELECT query_id, key, score FROM r WHERE rk <= 10
        |ORDER BY query_id, score DESC, key""".stripMargin,
    // q240: the persisted-index serving path returns the same certified
    // exact-mode rows as q204 (the sidecar must be invisible to
    // results); the sidecar/staleness machinery is REQUIRED in-run.
    "q240_index_sidecar_search" ->
      """WITH v0 AS (SELECT vec_id,
        |    lpad(CAST(vec_id AS VARCHAR), 12, '0') AS key,
        |    CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
        |vr AS (SELECT vec_id, key, de,
        |    sqrt(list_dot_product(de, de)) AS nrm FROM v0),
        |n AS (SELECT vec_id, key, list_dot_product(e, e) AS n2, e FROM (
        |    SELECT vec_id, key, CASE WHEN nrm > 0 THEN
        |        list_transform(de, x -> CAST(CAST(x / nrm AS REAL)
        |          AS DOUBLE))
        |      ELSE de END AS e FROM vr)),
        |q AS (SELECT vec_id AS query_id, de AS qe,
        |      list_dot_product(de, de) AS qn2
        |      FROM v0 WHERE vec_id < 5),
        |p AS (SELECT q.query_id, n.key,
        |        CASE WHEN n.n2 = 0 OR q.qn2 = 0 THEN 0.0
        |          ELSE round(list_dot_product(n.e, q.qe)
        |            / sqrt(n.n2 * q.qn2), 6) END AS score
        |      FROM n CROSS JOIN q),
        |r AS (SELECT query_id, key, score, row_number() OVER (
        |        PARTITION BY query_id ORDER BY score DESC, key) AS rk
        |      FROM p)
        |SELECT query_id, key, score FROM r WHERE rk <= 10
        |ORDER BY query_id, score DESC, key""".stripMargin,
    // q241: the q202 content certificate with the fixed 5-smallest-ids
    // replace cohort — re-ingested docs carry ONLY the 2×200 'r'
    // re-chunking; the incremental compaction must change no content
    // (only files).
    "q241_incremental_compaction" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents
        |           WHERE doc_id % 10 = 0),
        |rc AS (SELECT doc_id FROM d ORDER BY doc_id LIMIT 5),
        |c1 AS (SELECT doc_id, i.ci,
        |        substr(text, CAST(i.ci * 150 + 1 AS INTEGER), 150)
        |          AS content,
        |        'd' || CAST(doc_id AS VARCHAR) || ':' ||
        |          CAST(i.ci AS VARCHAR) AS key
        |      FROM d CROSS JOIN
        |        (SELECT unnest(range(0, 3)) AS ci) i
        |      WHERE doc_id NOT IN (SELECT doc_id FROM rc)),
        |c2 AS (SELECT doc_id, i.ci,
        |        substr(text, CAST(i.ci * 200 + 1 AS INTEGER), 200)
        |          AS content,
        |        'd' || CAST(doc_id AS VARCHAR) || ':r' ||
        |          CAST(i.ci AS VARCHAR) AS key
        |      FROM d CROSS JOIN
        |        (SELECT unnest(range(0, 2)) AS ci) i
        |      WHERE doc_id IN (SELECT doc_id FROM rc)),
        |k AS (SELECT doc_id, key, content FROM c1
        |        WHERE LENGTH(content) > 0
        |      UNION ALL
        |      SELECT doc_id, key, content FROM c2
        |        WHERE LENGTH(content) > 0)
        |SELECT doc_id % 7 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(('0x' || substr(md5(key || ':' || content), 1, 13))
        |    AS BIGINT)) AS BIGINT) AS checksum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // q242: the exact-mode replay over the POST-DELTA collection —
    // originals minus the g31 cohort (vec_id % 32 = 31), plus the 'n'
    // copies of vec_id < 50 (same normalized vectors, new keys). The
    // refresh/freshness/code-equality machinery is REQUIRED in-run.
    "q242_index_refresh" ->
      """WITH v0 AS (SELECT vec_id,
        |    lpad(CAST(vec_id AS VARCHAR), 12, '0') AS key,
        |    CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
        |vr AS (SELECT vec_id, key, de,
        |    sqrt(list_dot_product(de, de)) AS nrm FROM v0),
        |n AS (SELECT vec_id, key, list_dot_product(e, e) AS n2, e FROM (
        |    SELECT vec_id, key, CASE WHEN nrm > 0 THEN
        |        list_transform(de, x -> CAST(CAST(x / nrm AS REAL)
        |          AS DOUBLE))
        |      ELSE de END AS e FROM vr)),
        |fin AS (SELECT key, n2, e FROM n WHERE vec_id % 32 <> 31
        |      UNION ALL
        |      SELECT 'n' || key AS key, n2, e FROM n WHERE vec_id < 50),
        |q AS (SELECT vec_id AS query_id, de AS qe,
        |      list_dot_product(de, de) AS qn2
        |      FROM v0 WHERE vec_id < 5),
        |p AS (SELECT q.query_id, fin.key,
        |        CASE WHEN fin.n2 = 0 OR q.qn2 = 0 THEN 0.0
        |          ELSE round(list_dot_product(fin.e, q.qe)
        |            / sqrt(fin.n2 * q.qn2), 6) END AS score
        |      FROM fin CROSS JOIN q),
        |r AS (SELECT query_id, key, score, row_number() OVER (
        |        PARTITION BY query_id ORDER BY score DESC, key) AS rk
        |      FROM p)
        |SELECT query_id, key, score FROM r WHERE rk <= 10
        |ORDER BY query_id, score DESC, key""".stripMargin,
    // q251: q242's oracle VERBATIM — the snapshot layout's final
    // collection after delta + tombstone + compact + vacuum is the
    // same post-delta content (originals minus the g31 cohort plus the
    // 'n' copies), and the layout must be invisible to exact-mode
    // results. The manifest-tracked freshness lifecycle (stale on MOR
    // delta and on compact, fresh through vacuum, refresh==re-encode
    // over merge-on-read) is REQUIRED in-run.
    "q251_snapshot_index_serving" ->
      """WITH v0 AS (SELECT vec_id,
        |    lpad(CAST(vec_id AS VARCHAR), 12, '0') AS key,
        |    CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
        |vr AS (SELECT vec_id, key, de,
        |    sqrt(list_dot_product(de, de)) AS nrm FROM v0),
        |n AS (SELECT vec_id, key, list_dot_product(e, e) AS n2, e FROM (
        |    SELECT vec_id, key, CASE WHEN nrm > 0 THEN
        |        list_transform(de, x -> CAST(CAST(x / nrm AS REAL)
        |          AS DOUBLE))
        |      ELSE de END AS e FROM vr)),
        |fin AS (SELECT key, n2, e FROM n WHERE vec_id % 32 <> 31
        |      UNION ALL
        |      SELECT 'n' || key AS key, n2, e FROM n WHERE vec_id < 50),
        |q AS (SELECT vec_id AS query_id, de AS qe,
        |      list_dot_product(de, de) AS qn2
        |      FROM v0 WHERE vec_id < 5),
        |p AS (SELECT q.query_id, fin.key,
        |        CASE WHEN fin.n2 = 0 OR q.qn2 = 0 THEN 0.0
        |          ELSE round(list_dot_product(fin.e, q.qe)
        |            / sqrt(fin.n2 * q.qn2), 6) END AS score
        |      FROM fin CROSS JOIN q),
        |r AS (SELECT query_id, key, score, row_number() OVER (
        |        PARTITION BY query_id ORDER BY score DESC, key) AS rk
        |      FROM p)
        |SELECT query_id, key, score FROM r WHERE rk <= 10
        |ORDER BY query_id, score DESC, key""".stripMargin,
    // q252: the diff classes replayed from `documents` — removed = the
    // 5-smallest victims (of those present at v1), changed = the %20
    // re-chunk cohort minus victims (key-space change ⇒ checksum
    // change), added = the %10==5 cohort with ≥1 non-empty slice. The
    // fast==full equality and compact-invisibility claims are REQUIRED
    // in-run.
    "q252_snapshot_diff" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |             WHERE doc_id % 10 = 0),
        |add0 AS (SELECT doc_id, text FROM documents
        |         WHERE doc_id % 10 = 5),
        |vict AS (SELECT doc_id FROM base ORDER BY doc_id LIMIT 5),
        |r AS (SELECT unnest(range(0, 3)) AS ci),
        |b1 AS (SELECT DISTINCT doc_id FROM base CROSS JOIN r
        |       WHERE LENGTH(substr(text,
        |         CAST(ci * 150 + 1 AS INTEGER), 150)) > 0),
        |a1 AS (SELECT DISTINCT doc_id FROM add0 CROSS JOIN r
        |       WHERE LENGTH(substr(text,
        |         CAST(ci * 150 + 1 AS INTEGER), 150)) > 0),
        |cls AS (
        |  SELECT doc_id, 'removed' AS change FROM b1
        |    WHERE doc_id IN (SELECT doc_id FROM vict)
        |  UNION ALL
        |  SELECT doc_id, 'changed' FROM b1
        |    WHERE doc_id % 20 = 0
        |      AND doc_id NOT IN (SELECT doc_id FROM vict)
        |  UNION ALL
        |  SELECT doc_id, 'added' FROM a1)
        |SELECT change, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(('0x' || substr(md5('d' ||
        |    CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)) AS BIGINT)
        |    AS checksum
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
    // q243: the q202-style survivor checksum — documents minus the
    // deleted 5-smallest-ids cohort; both layouts' agreement and the
    // physical delete claims are REQUIRED in-run.
    "q243_document_delete" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents
        |           WHERE doc_id % 10 = 0),
        |rc AS (SELECT doc_id FROM d ORDER BY doc_id LIMIT 5),
        |c AS (SELECT doc_id, i.ci,
        |        substr(text, CAST(i.ci * 150 + 1 AS INTEGER), 150)
        |          AS content,
        |        'd' || CAST(doc_id AS VARCHAR) || ':' ||
        |          CAST(i.ci AS VARCHAR) AS key
        |      FROM d CROSS JOIN
        |        (SELECT unnest(range(0, 3)) AS ci) i
        |      WHERE doc_id NOT IN (SELECT doc_id FROM rc)),
        |k AS (SELECT doc_id, key, content FROM c
        |        WHERE LENGTH(content) > 0)
        |SELECT doc_id % 7 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(('0x' || substr(md5(key || ':' || content), 1, 13))
        |    AS BIGINT)) AS BIGINT) AS checksum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // q244: the snapshot-store lifecycle's FINAL state — the q202
    // replace content minus the q243 delete cohort (immutability, time
    // travel, census and version claims are REQUIRED in-run; the
    // merge-on-read replace/delete semantics are what this checksum
    // certifies).
    "q244_snapshot_store" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents
        |           WHERE doc_id % 10 = 0),
        |rc AS (SELECT doc_id FROM d ORDER BY doc_id LIMIT 5),
        |c1 AS (SELECT doc_id, i.ci,
        |        substr(text, CAST(i.ci * 150 + 1 AS INTEGER), 150)
        |          AS content,
        |        'd' || CAST(doc_id AS VARCHAR) || ':' ||
        |          CAST(i.ci AS VARCHAR) AS key
        |      FROM d CROSS JOIN
        |        (SELECT unnest(range(0, 3)) AS ci) i
        |      WHERE doc_id % 20 <> 0),
        |c2 AS (SELECT doc_id, i.ci,
        |        substr(text, CAST(i.ci * 200 + 1 AS INTEGER), 200)
        |          AS content,
        |        'd' || CAST(doc_id AS VARCHAR) || ':r' ||
        |          CAST(i.ci AS VARCHAR) AS key
        |      FROM d CROSS JOIN
        |        (SELECT unnest(range(0, 2)) AS ci) i
        |      WHERE doc_id % 20 = 0),
        |k AS (SELECT doc_id, key, content FROM c1
        |        WHERE LENGTH(content) > 0
        |          AND doc_id NOT IN (SELECT doc_id FROM rc)
        |      UNION ALL
        |      SELECT doc_id, key, content FROM c2
        |        WHERE LENGTH(content) > 0
        |          AND doc_id NOT IN (SELECT doc_id FROM rc))
        |SELECT doc_id % 7 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(('0x' || substr(md5(key || ':' || content), 1, 13))
        |    AS BIGINT)) AS BIGINT) AS checksum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // q245: the q202 replace content verbatim (this lifecycle has no
    // delete; the vacuum's physical claims — grace window, orphan
    // sweep, retention refusal, live-content invariance — are
    // REQUIRED in-run, and the certified output is computed AFTER the
    // vacuum).
    "q245_snapshot_vacuum" -> q202ReplaceContentSql,
    // q246: the union of the four racing writers' disjoint cohorts IS
    // the full q202 replace set, so the oracle is interleaving-
    // independent by construction (the CAS/version claims are
    // REQUIRED in-run).
    "q246_concurrent_commits" -> q202ReplaceContentSql,
    "q73_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q95_csv_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q116_orc_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q89_stream_ingest" ->
      """SELECT CAST(doc_id AS VARCHAR) AS documentid,
        |  CAST(384 AS INTEGER) AS dim, md5(text) AS content_md5
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    // q205: same content certificate as q89 — the layout must be
    // invisible to the read-back.
    "q205_stream_ingest_bucketed" ->
      """SELECT CAST(doc_id AS VARCHAR) AS documentid,
        |  CAST(384 AS INTEGER) AS dim, md5(text) AS content_md5
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    // q247: same content certificate again — the snapshot layout (and
    // a full redelivery) must be invisible to the read-back; the
    // version-audit claims are REQUIRED in-run.
    "q247_stream_ingest_snapshot" ->
      """SELECT CAST(doc_id AS VARCHAR) AS documentid,
        |  CAST(384 AS INTEGER) AS dim, md5(text) AS content_md5
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q69_bucketed_merge" ->
      """WITH base AS (SELECT doc_id AS id, 0 AS version, n_chars AS v,
        |                FALSE AS del, 0 AS src FROM documents),
        |upd AS (SELECT doc_id AS id, 1 AS version, n_chars + 1000 AS v,
        |          (doc_id % 3 = 0) AS del, 1 AS src
        |        FROM documents WHERE doc_id % 7 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
        |        ORDER BY version DESC, src DESC) AS rn FROM u)
        |SELECT id, version, v FROM r WHERE rn = 1 AND NOT del
        |ORDER BY id""".stripMargin
  )
}
