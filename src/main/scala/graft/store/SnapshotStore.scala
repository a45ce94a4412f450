package graft.store

import graft.model.EmbeddedChunk
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** MANIFEST-committed snapshot store — the layout whose COMMIT survives
  * an object store, where [[VectorStore]] and [[BucketedVectorStore]]
  * do not.
  *
  * Both rename-commit layouts publish state transitions with directory
  * renames (dynamic-partition overwrite; [[ChunkStore.commitSwap]]).
  * Renames are atomic O(1) metadata ops on HDFS-like filesystems — and
  * NOT on the object stores a 100 TB deployment actually lives on: S3
  * "rename" is a copy+delete per object (a compaction commit becomes a
  * non-atomic multi-minute window), and dynamic overwrite's
  * delete-then-write exposes readers to partial state. This store
  * removes renames of data from the commit path entirely — the
  * Iceberg/Delta commit shape, rebuilt on plain parquet:
  *
  *   - **Data files are immutable.** Every writer lands its rows in a
  *     fresh uniquely-named directory under `data/` and NEVER touches
  *     an existing file. There is nothing to rename, copy, or
  *     overwrite — the only ordering requirement is "data durable
  *     before manifest visible".
  *   - **The commit is ONE atomic file creation.** State version N is
  *     the manifest `_snapshots/v%08dN.json` — the list of (data dir,
  *     kind, seq) entries that ARE version N. Publishing = creating
  *     that file if-absent (Hadoop `FileContext.rename(…, Rename.NONE)`
  *     over a staged temp — fails if vN exists; on S3 the same slot is
  *     a conditional `If-None-Match` PUT). Readers see the old version
  *     or the new one, never anything between.
  *   - **Concurrent writers are SAFE, not corrupting.** Two committers
  *     race for the same version slot; exactly one file creation
  *     succeeds. The loser re-reads the new latest, REBASES its staged
  *     entry (pure manifest arithmetic — upsert/delete append their
  *     entry; compact keeps entries committed past its snapshot), and
  *     retries the next slot. No writer ever blocks a reader.
  *   - **Old versions remain readable** ([[readAt]]): a manifest pins
  *     its file set, and commits only ADD files — time travel until
  *     [[vacuum]] ages the old manifests out. Failed/crashed writers
  *     leave only orphan data dirs no manifest references; vacuum
  *     sweeps those too (behind a mtime grace window so an in-flight
  *     writer's staged-but-uncommitted data is never collected).
  *
  * Replace-by-document on immutable files is MERGE-ON-READ: an upsert
  * appends its batch as a `delta` entry (cost O(batch) — no read-back,
  * no shuffle, the cheap-write side of the LSM trade-off); a delete
  * appends a `tombstone` entry (just the documentids). A read
  * arbitrates per documentid by entry seq — newest mention wins, a
  * tombstone winner drops the document, and base files are shadowed by
  * ANY delta mention (replace semantics: a document's chunks always
  * come wholly from one entry). The arbitration table is
  * O(delta-mentioned documents), not O(store): after [[compact]]
  * (copy-on-write: rewrite live rows into nBuckets base files, commit
  * a manifest with that single entry) reads are a plain scan again.
  * The LSM ledger at 100 TB: commits stay O(batch) all day, reads pay
  * a delta-sized arbitration that compaction resets on schedule.
  *
  * The reference's store commits row-at-a-time inside one SQLite
  * transaction (`VectorStoreCommands.cs:159`) — single-writer ACID the
  * engine gets for free on one node and must RECONSTRUCT on a fleet;
  * this layout is that reconstruction.
  */
final class SnapshotStore(protected val spark: SparkSession,
    protected val root: String, nBuckets: Int = 16) extends ChunkStore {

  import SnapshotStore._

  private def fs(p: String) = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(p), spark.sparkContext.hadoopConfiguration)

  private def snapshotsDir(c: String) = s"${collectionPath(c)}/_snapshots"
  private def dataDir(c: String) = s"${collectionPath(c)}/data"

  private def tableSchema(c: String): StructType =
    ChunkStore.storedSchema(spark, s"${collectionPath(c)}/_schema")

  // ---------------------------------------------------------------- commits

  /** All committed versions, ascending — one driver-side listing. */
  def versions(collection: String): Seq[Long] = {
    val d = snapshotsDir(collection)
    val f = fs(d)
    val p = new org.apache.hadoop.fs.Path(d)
    if (!f.exists(p)) return Seq.empty
    f.listStatus(p).map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toLong }.sorted.toSeq
  }

  private def latestVersion(collection: String): Option[Long] =
    versions(collection).lastOption

  private[store] def readManifestJson(collection: String, v: Long): Manifest = {
    val p = new org.apache.hadoop.fs.Path(
      s"${snapshotsDir(collection)}/${manifestName(v)}")
    require(fs(p.toString).exists(p),
      s"snapshot v$v of '$collection' does not exist (never committed, " +
        "or vacuumed past retention)")
    Manifest.fromJson(ChunkStore.readText(spark, p))
  }

  /** The optimistic-concurrency commit loop: stage data once (the
    * caller already wrote it), then CAS manifests until one lands.
    * `rebase` maps the then-current latest manifest (None = empty
    * collection) to the next version's entry list — pure manifest
    * arithmetic, so a lost race costs one re-list + one re-publish,
    * never a data rewrite.
    */
  private def commit(collection: String, op: String)(
      rebase: Option[Manifest] => Seq[Entry]): Manifest = {
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val parent = latestVersion(collection).map(readManifestJson(collection, _))
      val v = parent.map(_.version).getOrElse(0L) + 1
      val m = Manifest(v, parent.map(_.version).getOrElse(0L), op,
        rebase(parent))
      // Atomic create-if-absent of the version slot; false = lost race.
      if (ChunkStore.tryPublish(spark, snapshotsDir(collection),
          manifestName(m.version), m.toJson.getBytes("UTF-8"))) return m
    }
    throw new java.util.ConcurrentModificationException(
      s"snapshot commit on '$collection' lost 50 consecutive races")
  }

  // ---------------------------------------------------------- ChunkStore

  /** W1: append the batch as an immutable delta (or the first base).
    * Cost O(batch): one parquet write of the incoming rows straight out
    * of their upstream tasks — no read-back of existing data, no
    * shuffle, no renames of any existing file — plus the one-file
    * manifest CAS. Replace-by-document holds at READ time (newest seq
    * wins per documentid), not by rewriting the replaced rows here.
    */
  def upsert(chunks: Dataset[EmbeddedChunk], collection: String): Unit = {
    val cdir = collectionPath(collection)
    val f = fs(cdir)
    val schemaDir = new org.apache.hadoop.fs.Path(s"$cdir/_schema")
    if (!f.exists(schemaDir))
      chunks.toDF().limit(0).coalesce(1)
        .write.mode("overwrite").parquet(schemaDir.toString)
    val rel = s"data/${newDirName("delta")}"
    chunks.toDF().write.parquet(s"$cdir/$rel")
    commit(collection, "upsert") { parent =>
      val v = parent.map(_.version).getOrElse(0L) + 1
      val kind = if (parent.isEmpty) "base" else "delta"
      parent.map(_.entries).getOrElse(Seq.empty) :+ Entry(rel, kind, v)
    }
  }

  /** Document takedown: a tombstone entry — ONLY the documentids land
    * on disk (a tiny parquet), cost O(ids). The documents' chunk rows
    * stay physically present in older files until [[compact]] +
    * [[vacuum]] age them out — the honest MOR contract (a
    * right-to-be-forgotten pipeline runs delete, compact, vacuum; the
    * delete alone makes the rows unreadable at every live version
    * going forward, the other two make the bytes go away).
    */
  def delete(collection: String, docIds: Seq[String]): Unit = {
    if (docIds.isEmpty) return
    if (latestVersion(collection).isEmpty) return // nothing to delete
    val rel = s"data/${newDirName("tomb")}"
    import org.apache.spark.sql.Encoders
    spark.createDataset(docIds.distinct)(Encoders.STRING)
      .toDF("documentid").coalesce(1)
      .write.parquet(s"${collectionPath(collection)}/$rel")
    commit(collection, "delete") { parent =>
      val v = parent.map(_.version).getOrElse(0L) + 1
      parent.map(_.entries).getOrElse(Seq.empty) :+
        Entry(rel, "tombstone", v)
    }
  }

  /** Schema-on-read of the LATEST snapshot. */
  def read(collection: String): DataFrame = {
    val v = latestVersion(collection).getOrElse(
      throw new IllegalArgumentException(
        s"collection '$collection' has no committed snapshot"))
    readAt(collection, v)
  }

  /** TIME TRAVEL: read the store exactly as committed at `version`.
    * A manifest pins its file set and data files are immutable, so
    * this is reproducible to the byte until vacuum drops the manifest
    * — the training-data provenance primitive ("which corpus state did
    * run X read?") the rename layouts cannot offer.
    */
  def readAt(collection: String, version: Long): DataFrame =
    readManifest(collection, readManifestJson(collection, version))

  /** The Δ read of an index refresh: the latest snapshot pruned to
    * `docIds` at every scan (see [[readManifest]]).
    */
  override protected def readDocuments(collection: String,
      docIds: Seq[String]): DataFrame = {
    val v = latestVersion(collection).getOrElse(
      throw new IllegalArgumentException(
        s"collection '$collection' has no committed snapshot"))
    readManifest(collection, readManifestJson(collection, v), Some(docIds))
  }

  /** Merge-on-read over one manifest. Base entries are a plain scan;
    * delta/tombstone entries build a per-documentid arbitration table
    * (newest seq wins; struct max — one partial-aggregable pass) that
    * is O(delta-mentioned documents), NEVER O(store): base rows join
    * it anti (any mention shadows the whole document — replace
    * semantics), delta rows keep only their winning seq's rows, a
    * tombstone winner drops the document everywhere. With no deltas
    * (post-compact) the arbitration disappears entirely.
    */
  private def readManifest(collection: String, m: Manifest,
      docIds: Option[Seq[String]] = None): DataFrame = {
    val cdir = collectionPath(collection)
    val sch = tableSchema(collection)
    // MOR arbitration is per-documentid, so restricting every entry scan
    // to a documentid set commutes with the arbitration: filtered-then-
    // merged == merged-then-filtered. Applying the filter AT THE SCAN
    // (not after the joins) is what lets parquet prune row groups — on a
    // compacted base (hash-bucketed by documentid, sorted within files)
    // an IN probe of d ids touches ~d row groups, not the store.
    def prune(df: DataFrame): DataFrame =
      docIds.fold(df)(ids => df.filter(col("documentid").isin(ids: _*)))
    def dataDf(paths: Seq[String]) =
      prune(spark.read.schema(sch).parquet(paths.map(p => s"$cdir/$p"): _*))
    val bases = m.entries.filter(_.kind == "base")
    val deltas = m.entries.filter(_.kind == "delta")
    val tombs = m.entries.filter(_.kind == "tombstone")
    val base =
      if (bases.nonEmpty) dataDf(bases.map(_.path))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    if (deltas.isEmpty && tombs.isEmpty) return base
    val tombSchema = StructType(Seq(StructField("documentid", StringType)))
    val mentions = (deltas.map(e =>
        dataDf(Seq(e.path)).select(col("documentid"))
          .withColumn("__seq", lit(e.seq))
          .withColumn("__tomb", lit(false))) ++
      tombs.map(e =>
        prune(spark.read.schema(tombSchema).parquet(s"$cdir/${e.path}"))
          .withColumn("__seq", lit(e.seq))
          .withColumn("__tomb", lit(true))))
      .reduce(_ unionByName _)
    val arb = mentions.groupBy(col("documentid"))
      .agg(max(struct(col("__seq"), col("__tomb"))).as("__w"))
      .select(col("documentid"), col("__w.__seq").as("__wseq"),
        col("__w.__tomb").as("__wtomb"))
    val deltaRows = deltas.map(e =>
        dataDf(Seq(e.path)).withColumn("__seq", lit(e.seq)))
      .reduceOption(_ unionByName _)
    val liveDelta = deltaRows.map(_
        .join(arb.filter(!col("__wtomb")), Seq("documentid"))
        .filter(col("__seq") === col("__wseq"))
        .select(sch.fieldNames.map(col): _*))
    val liveBase = base
      .join(arb.select(col("documentid")), Seq("documentid"), "left_anti")
      .select(sch.fieldNames.map(col): _*)
    liveDelta.fold(liveBase)(liveBase.unionByName(_))
  }

  /** COPY-ON-WRITE compaction: stream the live rows (one MOR pass)
    * into nBuckets fresh base files clustered and sorted by
    * documentid, then commit a manifest whose entry list is that
    * single base — plus any entries OTHER writers committed past the
    * compaction's snapshot (the rebase: their seqs are newer, so MOR
    * arbitration keeps their rows winning — a compaction never undoes
    * a concurrent upsert). Old files stay on disk, still readable at
    * old versions, until [[vacuum]]. Returns (live files before,
    * after): after is bounded by nBuckets regardless of how many
    * commits ever happened — same census independence as the bucketed
    * layout, with a rename-free commit. An ANN sidecar that was fresh
    * before stays fresh ([[ChunkStore.restampIndexes]]).
    */
  def compact(collection: String): (Long, Long) =
    compact(collection, () => ())

  /** Test seam: `beforeCommit` runs after the rewrite lands on disk
    * and before the manifest CAS — the window a concurrent compaction
    * races in (SnapshotStoreSpec drives a full second compact through
    * it).
    */
  private[store] def compact(collection: String,
      beforeCommit: () => Unit): (Long, Long) = {
    val snapV = latestVersion(collection).getOrElse(
      throw new IllegalArgumentException(
        s"collection '$collection' has no committed snapshot"))
    val before = liveDataFiles(collection, snapV).size.toLong
    val snapM = readManifestJson(collection, snapV)
    val rel = s"data/${newDirName("base")}"
    readManifest(collection, snapM)
      .repartition(nBuckets, col("documentid"))
      .sortWithinPartitions(col("documentid"), col("key"))
      .write.parquet(s"${collectionPath(collection)}/$rel")
    beforeCommit()
    // CONCURRENT-COMPACTION guard: base entries do not participate in
    // MOR arbitration (they are plain scans), so two racing compactions
    // must never BOTH commit a base — the loser's manifest would carry
    // two overlapping full bases and every live row would read twice.
    // The rebase detects a base committed past this compaction's
    // snapshot (the other compaction won the manifest race) and YIELDS:
    // the committed state already has a single fresh base plus the
    // post-snapshot deltas, so this rewrite is redundant — its staged
    // dir becomes an orphan vacuum sweeps. Content is identical either
    // way; only which writer's files serve it differs.
    try {
      val m = commit(collection, "compact") { parent =>
        if (parent.exists(_.entries.exists(e =>
            e.kind == "base" && e.seq > snapV)))
          throw SnapshotStore.CompactionSuperseded
        val v = parent.map(_.version).getOrElse(0L) + 1
        Entry(rel, "base", v) +:
          parent.map(_.entries.filter(_.seq > snapV)).getOrElse(Seq.empty)
      }
      // The sidecars survive: with no concurrent entry rebased in, the
      // new version holds exactly snapV's rows, so a sidecar fresh at
      // snapV is re-stamped fresh at it.
      if (m.entries.size == 1)
        restampIndexes(collection, fingerprintOf(snapM), fingerprintOf(m))
      (before, liveDataFiles(collection, m.version).size.toLong)
    } catch {
      case SnapshotStore.CompactionSuperseded =>
        val winner = latestVersion(collection).getOrElse(snapV)
        (before, liveDataFiles(collection, winner).size.toLong)
    }
  }

  /** VERSION DIFF — the provenance question between two pinned corpus
    * states ("what changed between the corpus run A read and the one
    * run B read?"): per documentid, `added` / `removed` / `changed` /
    * `unchanged`, where content identity is an order-free sum of two
    * independently-seeded 64-bit xxhash64(key, content) digests over
    * the document's chunks (two decimal half-sums — replace semantics
    * make the chunk multiset the document's identity; 128 independent
    * bits make sum-cancellation collisions negligible, unlike the q202
    * bucket certificates' 52-bit prefixes which certify against an
    * oracle rather than classify). Only DIFFERING documents are returned (the result is
    * change-sized; a re-upsert with identical content is content-
    * unchanged and does not appear).
    *
    * Scale shape — two tiers, chosen by the manifests alone:
    *   - **manifest-pruned fast path** (no compaction in (fromV, toV]):
    *     data files are immutable and MOR arbitration is monotone in
    *     seq, so ONLY documents mentioned by entries committed in the
    *     window can differ. The touched set comes from the new delta/
    *     tombstone files' documentid columns (column-pruned scans of
    *     the WINDOW's data only), and both versions are read restricted
    *     to it — a literal IN filter pushed into every data-file scan
    *     when the set is small ([[SnapshotStore.DiffPushdownCapKey]],
    *     row-group-pruned on a compacted base), else a semi-join —
    *     cost O(window), never O(store).
    *   - **full diff** (a base entry in the window — compaction rewrote
    *     the file set): both versions' MOR reads aggregate to one
    *     checksum row per documentid and full-outer-join on the id —
    *     two scans + one co-partitioned shuffle, the exact price of a
    *     content-honest diff across a rewrite. SnapshotStoreSpec pins
    *     fast == full on the same window.
    *
    * Why a compact-THEN-deltas window cannot take a widened fast path
    * (r21, the r20 verdict's question): deltas committed BEFORE the
    * compaction are folded into the base — `m(toV).entries` keeps only
    * entries past the compaction snapshot — so the documents those
    * folded deltas touched are unrecoverable from the post-compact
    * manifests, and pruning to the post-compact deltas' documentids
    * would silently drop them from the diff. SnapshotStoreSpec's
    * compact-then-deltas case pins exactly this arbitration.
    */
  def changedDocuments(collection: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV < toV, s"changedDocuments needs fromV < toV " +
      s"(got $fromV, $toV)")
    val m2 = readManifestJson(collection, toV)
    val m1 = readManifestJson(collection, fromV) // fail early; reused below
    val newEntries = m2.entries.filter(_.seq > fromV)
    val cdir = collectionPath(collection)
    def emptyDiff(): DataFrame = {
      val sch = StructType(Seq(
        StructField("documentid", StringType),
        StructField("change", StringType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    }
    // Content identity = order-free SUM of TWO independently-seeded
    // 64-bit chunk hashes (r18, advisor): the r17 classifier summed
    // 52-bit md5 prefixes, where distinct chunk multisets can cancel to
    // the same sum and a changed document would silently drop from the
    // diff. Summing two independent 64-bit spaces makes that collision
    // ~2^-128; decimal(38,0) sums keep multiplicity semantics (a
    // multiset, not a set) without ANSI long-overflow risk; xxhash64
    // (codegen'd, long-native) replaces md5+conv+substring string work
    // on what is a full-corpus scan in the compaction-window tier.
    def checksums(df: DataFrame, as: String) = {
      def half(seed: Int) =
        xxhash64(lit(seed), col("key"), col("content"))
          .cast("decimal(38,0)")
      df.groupBy(col("documentid"))
        .agg(sum(half(1)).as(s"${as}_hi"), sum(half(2)).as(s"${as}_lo"))
    }
    val (v1c, v2c) =
      if (newEntries.exists(_.kind == "base")) {
        (checksums(readAt(collection, fromV), "__c1"),
          checksums(readAt(collection, toV), "__c2"))
      } else if (newEntries.isEmpty) {
        // Same entry list ⇒ provably no change; empty diff, zero scans.
        return emptyDiff()
      } else {
        val tombSchema = StructType(Seq(
          StructField("documentid", StringType)))
        val touched = newEntries.map { e =>
          if (e.kind == "tombstone")
            spark.read.schema(tombSchema).parquet(s"$cdir/${e.path}")
          else spark.read.schema(tableSchema(collection))
            .parquet(s"$cdir/${e.path}").select(col("documentid"))
        }.reduce(_ unionByName _).distinct()
        // SCAN pruning on top of the manifest pruning (r18): when the
        // touched set is small enough to ship as a literal IN filter,
        // push it into every data-file scan of BOTH versions
        // ([[readManifest]]'s docIds) instead of semi-joining against a
        // full store scan. On the steady-state layout (a compacted base
        // is hash-bucketed by documentid and sorted within each file)
        // parquet's row-group stats prune the base to ~|window| row
        // groups, so the diff's wall tracks the WINDOW, not the store —
        // the ScaleStress snapshot tier measures exactly this. Past the
        // cap (a bulk window) the semi-join plan is the right one: a
        // driver-side IN list that size would bloat the plan, and the
        // scan is store-sized either way.
        val cap = spark.conf.get(DiffPushdownCapKey, "1000").toInt
        val probe = touched.limit(cap + 1).collect().map(_.getString(0))
        // New delta files that mention zero documentids (e.g. an empty
        // write) ⇒ provably no change — don't lean on isin()'s
        // empty-list-evaluates-false behavior to get there implicitly.
        if (probe.isEmpty) return emptyDiff()
        if (probe.length <= cap) {
          val ids = probe.toSeq
          (checksums(readManifest(collection, m1, Some(ids)), "__c1"),
            checksums(readManifest(collection, m2, Some(ids)), "__c2"))
        } else
          (checksums(readAt(collection, fromV)
              .join(touched, Seq("documentid"), "left_semi"), "__c1"),
            checksums(readAt(collection, toV)
              .join(touched, Seq("documentid"), "left_semi"), "__c2"))
      }
    v1c.join(v2c, Seq("documentid"), "full_outer")
      .select(col("documentid"),
        when(col("__c1_hi").isNull, lit("added"))
          .when(col("__c2_hi").isNull, lit("removed"))
          .when(col("__c1_hi") =!= col("__c2_hi") ||
            col("__c1_lo") =!= col("__c2_lo"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
      .filter(col("change") =!= "unchanged")
  }

  /** The data files (relative paths) a version actually reads. */
  def liveDataFiles(collection: String, version: Long): Seq[String] = {
    val m = readManifestJson(collection, version)
    val cdir = collectionPath(collection)
    m.entries.flatMap { e =>
      val f = fs(cdir)
      val it = f.listFiles(
        new org.apache.hadoop.fs.Path(s"$cdir/${e.path}"), true)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          out += s"${e.path}/${st.getPath.getName}"
      }
      out
    }
  }

  /** Age out history: keep the newest `retainLast` manifests (always
    * at least the latest), delete older manifest files, then delete
    * every `data/` dir no KEPT manifest references — including orphans
    * from crashed writers (data written, manifest never published).
    * `minAgeMs` is the in-flight-writer grace window: a dir younger
    * than it is never collected, because an uncommitted writer's
    * staged data is indistinguishable from an orphan until its commit
    * lands or its crash ages. The LIBRARY default is the CLI's 1-hour
    * grace — `minAgeMs = 0` is an explicit test-only opt-in, because a
    * zero default would let an API caller's vacuum race an upsert that
    * has written its data dir but not yet published its manifest: the
    * staged dir would be swept as an "orphan" and the upsert's commit
    * would land a manifest referencing deleted files. Returns (data
    * dirs deleted, data dirs live). Live content is untouched by
    * construction — every kept manifest's whole file set is retained,
    * so reads at every retained version are byte-identical before and
    * after.
    *
    * READER contract: a reader still holding a [[readAt]] plan for an
    * AGED-OUT version fails LOUDLY at materialization (Spark's scan
    * surfaces the missing files as an error; `ignoreMissingFiles`
    * stays false) — it never silently returns partial rows. Readers of
    * RETAINED versions are unaffected. Size `retainLast`/`minAgeMs` to
    * cover the longest-running query (SnapshotStoreSpec pins the
    * fail-loudly outcome).
    */
  def vacuum(collection: String, retainLast: Int = 2,
      minAgeMs: Long = 3600000L): (Long, Long) = {
    require(retainLast >= 1, "vacuum must retain at least the latest")
    val all = versions(collection)
    require(all.nonEmpty,
      s"collection '$collection' has no committed snapshot")
    val keep = all.takeRight(retainLast)
    val referenced = keep
      .flatMap(v => readManifestJson(collection, v).entries.map(_.path))
      .toSet
    val cdir = collectionPath(collection)
    val f = fs(cdir)
    // Drop aged-out manifests first: once a version is gone, readers
    // can no longer pin its files, so the file sweep below is safe.
    all.dropRight(retainLast).foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(
        s"${snapshotsDir(collection)}/${manifestName(v)}"), false)
    }
    val dPath = new org.apache.hadoop.fs.Path(dataDir(collection))
    val now = System.currentTimeMillis()
    var deleted = 0L
    var live = 0L
    if (f.exists(dPath)) f.listStatus(dPath).foreach { st =>
      val rel = s"data/${st.getPath.getName}"
      if (referenced(rel)) live += 1
      else if (now - st.getModificationTime >= minAgeMs) {
        f.delete(st.getPath, true)
        deleted += 1
      }
    }
    // Staged-manifest leftovers from crashed publishers age out too.
    val staged = new org.apache.hadoop.fs.Path(
      s"${snapshotsDir(collection)}/_staged")
    if (f.exists(staged)) f.listStatus(staged).foreach { st =>
      if (now - st.getModificationTime >= minAgeMs) f.delete(st.getPath, false)
    }
    (deleted, live)
  }

  /** Index freshness tracks the MANIFEST, not raw file listings: a
    * commit (new manifest) must invalidate, a vacuum (same live
    * entries, fewer historical files) must not.
    */
  override protected def storeFingerprint(collection: String): String =
    latestVersion(collection).fold("empty")(v =>
      fingerprintOf(readManifestJson(collection, v)))

  private def fingerprintOf(m: Manifest): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(m.toJson.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }
}

object SnapshotStore {
  /** Hadoop-conf key listing the URI schemes whose manifest CAS uses
    * atomic-at-close conditional CREATE instead of staged rename —
    * object stores, where rename is copy+delete and must never be on
    * the commit path. Comma-separated; default `objfs` ONLY (the test
    * shim, whose create genuinely publishes-or-fails atomically at
    * close). `s3a` is deliberately NOT in the default: stock Hadoop
    * S3A's plain `create(path, overwrite = false)` is a HEAD existence
    * check at create time followed by an UNCONDITIONAL PUT at close —
    * a TOCTOU window, not a CAS. Add `s3a` here only when the
    * deployment's client performs a true conditional PUT
    * (`If-None-Match: *`) for create-if-absent — e.g. Hadoop ≥ 3.4.1
    * with S3A conditional create enabled — at which point the slot
    * write is the atomic commit this branch assumes. Without that, an
    * S3 deployment must front manifest publication with an external
    * CAS (a DynamoDB-style lock or a catalog service), exactly as
    * Iceberg/Delta do on S3.
    */
  val CasCreateSchemesKey = "graft.snapshot.cas.create.schemes"

  /** Spark-conf key: max touched-documentid count [[SnapshotStore.changedDocuments]]
    * ships as a literal IN filter into both versions' scans (the
    * row-group-pruned fast path); windows touching more ids fall back
    * to the semi-join plan. Default 1000.
    */
  val DiffPushdownCapKey = "graft.snapshot.diff.pushdown.cap"

  /** Control-flow signal inside [[SnapshotStore.compact]]'s commit
    * loop: a concurrent compaction committed its base first; ours must
    * yield, not stack a second base. Stackless — it only unwinds to
    * the enclosing catch.
    */
  private object CompactionSuperseded
    extends scala.util.control.ControlThrowable

  // One-or-more digits with an 8 floor, NOT exactly 8: %08d is a
  // MINIMUM width, so version 100,000,000 writes a 9-digit name; an
  // exact-8 pattern would make it invisible to versions()/latestVersion
  // and silently reset the store to "empty" (theoretical at realistic
  // commit rates, but the failure mode is silent).
  private val ManifestName = """v(\d{8,})\.json""".r

  private def manifestName(v: Long): String = f"v$v%08d.json"

  private def newDirName(tag: String): String =
    s"$tag-${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}"

  /** One manifest entry: a data directory (relative to the collection)
    * plus how its rows participate in merge-on-read. `seq` is the
    * version that committed it — the arbitration order.
    */
  final case class Entry(path: String, kind: String, seq: Long)

  /** Version N of a collection IS this file's content: the entry list,
    * its parent version, and the op that produced it (audit trail).
    * Serialized by hand (sorted keys, no reflection) — the manifest is
    * the store's durability contract, so its byte format must not
    * depend on library serializer defaults.
    */
  final case class Manifest(version: Long, parent: Long, op: String,
      entries: Seq[Entry]) {
    def toJson: String = {
      val es = entries.map(e =>
        s"""{"kind":"${e.kind}","path":"${e.path}","seq":${e.seq}}""")
        .mkString("[", ",", "]")
      s"""{"entries":$es,"op":"$op","parent":$parent,"version":$version}"""
    }
  }

  object Manifest {
    def fromJson(s: String): Manifest = {
      import org.json4s._
      implicit val fmt: Formats = DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(s)
      Manifest(
        (j \ "version").extract[Long],
        (j \ "parent").extract[Long],
        (j \ "op").extract[String],
        (j \ "entries").extract[Seq[JValue]].map { e =>
          Entry((e \ "path").extract[String], (e \ "kind").extract[String],
            (e \ "seq").extract[Long])
        })
    }
  }
}
