package graft.store

import graft.model.EmbeddedChunk
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-BUCKETED vector store — the layout that survives 100 TB where
  * [[VectorStore]]'s per-document partitioning does not.
  *
  * [[VectorStore]] mirrors the reference's replace-by-document unit
  * (`VectorStoreCommands.cs:159`) as one parquet partition per
  * `documentid`. That is the right IncrementalIngestion=false analogue
  * for an ingest increment, but its physical file census grows with the
  * DOCUMENT COUNT: a billion-document corpus is a billion directories,
  * and every dynamic-overwrite commit renames one file per touched
  * document serially on the driver (the measured ~10 s of q148's wall —
  * BASELINE.md r13 profile).
  *
  * This store keeps the SAME logical contract — replace-by-document
  * upsert, idempotent deterministic keys, layout invisible to readers —
  * on the [[BucketedMerge]] layout: `nBuckets` hash partitions of
  * `documentid` (one directory per bucket, every chunk of a document in
  * exactly one bucket). Consequences, each load-bearing at scale:
  *
  *   - the file census is bounded by `nBuckets × files-per-bucket`,
  *     INDEPENDENT of document count; compaction restores exactly
  *     `nBuckets` files no matter how many documents ever arrived;
  *   - an upsert reads and rewrites only the incoming documents'
  *     buckets (partition pruning on the bucket column — untouched
  *     buckets are never opened), and its commit renames O(touched
  *     buckets) files, not O(touched documents);
  *   - replace-by-document holds because bucket(documentid) is a pure
  *     function: the anti-join that drops a re-ingested document's
  *     prior chunks only ever needs the touched buckets.
  *
  * Pick `nBuckets` so one bucket fits an executor core's working set
  * (100 TB / 8192 ≈ 12 GB), exactly like [[BucketedMerge]]. Certified
  * under the q202 oracle (same content certificate as q148, plus the
  * census bound asserted inside the gated run).
  */
final class BucketedVectorStore(protected val spark: SparkSession,
    protected val root: String, nBuckets: Int = 16) extends ChunkStore {

  import BucketedMerge.{BucketCol, bucketOf}

  private def path(collection: String) = s"$root/$collection"

  private def fs(p: String) = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(p), spark.sparkContext.hadoopConfiguration)

  private def exists(p: String): Boolean =
    fs(p).exists(new org.apache.hadoop.fs.Path(p))

  private def tableSchema(dir: String) =
    ChunkStore.storedSchema(spark, s"$dir/_schema")

  /** W1 on the bucketed layout: create-or-replace the incoming
    * documents' chunks. First write lays the table out (static
    * overwrite + 0-row schema sidecar, the [[BucketedMerge.init]]
    * shape); every later batch is a pruned replace-by-document merge.
    */
  def upsert(chunks: Dataset[EmbeddedChunk], collection: String): Unit = {
    val dir = path(collection)
    if (!exists(dir)) {
      // First write: the table layout is exactly BucketedMerge.init's
      // (bucket repartition + partitionBy + 0-row _schema sidecar) —
      // ONE implementation of the init/sidecar discipline, not three.
      BucketedMerge.init(chunks.toDF(), dir, "documentid", nBuckets)
      return
    }
    // Materialize the batch ONCE (the BucketedMerge discipline): the
    // touched-bucket list, the documentid delete set and the write must
    // all see identical rows.
    val incoming = chunks.toDF()
      .withColumn(BucketCol, bucketOf(col("documentid"), nBuckets))
      .localCheckpoint(true)
    // O(nBuckets) driver-side list — bounded by construction.
    val touched = incoming.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    // Replace unit = documentid: drop every prior chunk of the
    // incoming documents (a re-ingested document with FEWER chunks
    // must not leave orphans), keep everything else in the touched
    // buckets, append the batch. The delete set is bounded by the
    // batch's distinct documents and broadcasts.
    val docIds = incoming.select(col("documentid")).distinct()
    val survivors = spark.read.schema(tableSchema(dir)).parquet(dir)
      .filter(col(BucketCol).isin(touched.map(Integer.valueOf).toSeq: _*))
      .join(broadcast(docIds), Seq("documentid"), "left_anti")
    // Deliberately NOT re-clustered on the bucket column: an
    // incremental batch writes straight out of its upstream tasks
    // (no extra shuffle per merge — the cheap-write side of the LSM
    // trade-off), so a touched bucket accumulates one file per
    // writing task until [[compact]] restores one-file-per-bucket.
    // Write amplification per merge stays O(touched buckets' bytes);
    // the file-census debt is what compaction is FOR, and unlike the
    // per-document layout the debt is bounded by buckets × batches,
    // never by document count.
    // Materialized BEFORE the write: the rows come from the same
    // directory the dynamic overwrite replaces, and a task retried
    // after the commit starts deleting replaced files must never
    // re-read them. The checkpoint is bounded by the TOUCHED buckets
    // (the read above is pruned), never the whole store — the same
    // self-overwrite discipline BucketedMerge.merge applies.
    survivors.unionByName(incoming.select(survivors.columns.map(col): _*))
      .localCheckpoint(true)
      .write.partitionBy(BucketCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir)
    // A touched bucket always holds ≥1 incoming row, so dynamic
    // overwrite never leaves an emptied directory here (unlike
    // tombstone merges — BucketedMerge.merge's cleanup).
  }

  /** Document deletion on the bucketed layout: the id list resolves to
    * its buckets driver-side (bucket(documentid) is a pure function
    * over a bounded delete batch), ONLY those buckets are read back
    * (partition pruning), survivors are anti-joined against the
    * broadcast id set and rewritten in place — the same bounded
    * self-overwrite discipline as [[upsert]], cost O(touched buckets'
    * bytes). A bucket whose every row was deleted gets NO partition
    * from the dynamic overwrite — the stale directory would resurrect
    * the deleted chunks — so emptied buckets are removed explicitly
    * (the [[BucketedMerge.merge]] tombstone cleanup).
    */
  def delete(collection: String, docIds: Seq[String]): Unit = {
    if (docIds.isEmpty) return
    val dir = path(collection)
    import org.apache.spark.sql.Encoders
    val ids = spark.createDataset(docIds)(Encoders.STRING)
      .toDF("documentid")
      .withColumn(BucketCol, bucketOf(col("documentid"), nBuckets))
      .localCheckpoint(true)
    val touched = ids.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    val survivors = spark.read.schema(tableSchema(dir)).parquet(dir)
      .filter(col(BucketCol).isin(touched.map(Integer.valueOf).toSeq: _*))
      .join(broadcast(ids.select(col("documentid"))),
        Seq("documentid"), "left_anti")
      .localCheckpoint(true)
    survivors.write.partitionBy(BucketCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir)
    val survived = survivors.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSet
    val emptied = touched.filterNot(survived)
    if (emptied.nonEmpty) {
      val f = fs(dir)
      emptied.foreach { b =>
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/$BucketCol=$b"), true)
      }
    }
  }

  /** Schema-on-read; the bucket column is layout, not data. */
  def read(collection: String): DataFrame =
    spark.read.schema(tableSchema(path(collection)))
      .parquet(path(collection)).drop(BucketCol)

  /** POINT READ: one document's chunks, opening exactly ONE bucket
    * directory. `bucket(documentid)` is a pure function, so the lookup
    * resolves the bucket driver-side (a 1-row local eval, no job
    * against the store) and pushes `bucket = <literal>` to the scan as
    * a PARTITION filter — the FileIndex never even lists the other
    * buckets' files (certified physically in the spec, the q162
    * discipline). The fetch-by-document primitive a serving layer
    * needs: at 100 TB a point read costs one bucket's listing, not a
    * store scan.
    */
  def readDocument(collection: String, documentId: String): DataFrame = {
    val b = spark.range(1)
      .select(bucketOf(lit(documentId), nBuckets)).head().getInt(0)
    spark.read.schema(tableSchema(path(collection)))
      .parquet(path(collection))
      .filter(col(BucketCol) === lit(b) && col("documentid") === documentId)
      .drop(BucketCol)
  }

  /** Compact a collection to exactly one file per bucket: rewrite into
    * a sibling temp directory, then swap via the crash-safe
    * rename-aside commit ([[ChunkStore.commitSwap]]). The tmp-and-swap
    * shape (not an in-place dynamic overwrite) is deliberate: an
    * in-place rewrite reads the directory it replaces, which would
    * force materializing the WHOLE collection first (the
    * self-overwrite discipline upsert pays only for its touched
    * buckets) — a full extra copy of a 100 TB store held in executor
    * storage. Writing aside streams the store through once; the commit
    * is nBuckets staged files + three driver renames (aside, publish,
    * clear), never O(documents) (VectorStore.compact's per-document
    * layout renames ~one file per document). Returns (files_before,
    * files_after): after is bounded by `nBuckets` regardless of
    * document count — the census-independence claim q202 asserts. The
    * swap keeps the `_index` sidecars, and fresh ones stay fresh
    * ([[ChunkStore.publishCompaction]]).
    */
  def compact(collection: String): (Long, Long) = {
    val dir = path(collection)
    val fp = storeFingerprint(collection)
    val before = countDataFiles(dir)
    val tmp = dir + "__compact_tmp"
    val rows = spark.read.schema(tableSchema(dir)).parquet(dir)
    rows.repartition(nBuckets, col(BucketCol))
      .sortWithinPartitions(col("documentid"), col("key"))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(tmp)
    rows.limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/_schema")
    publishCompaction(collection, tmp, fp)
    (before, countDataFiles(dir))
  }

  /** Per-bucket data-file census — O(nBuckets) driver-side listing. */
  def bucketFileCounts(collection: String): Map[Int, Long] = {
    val dir = path(collection)
    val f = fs(dir)
    f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$BucketCol="))
      .map { st =>
        val b = st.getPath.getName.stripPrefix(s"$BucketCol=").toInt
        b -> ChunkStore.countDataFiles(spark, st.getPath.toString)
      }.toMap
  }

  /** INCREMENTAL compaction — the operational maintenance primitive at
    * 100 TB, where [[compact]]'s whole-collection rewrite is a
    * once-in-a-while layout reset: rewrite ONLY the buckets whose file
    * count exceeds `maxFilesPerBucket`, in place (dynamic overwrite of
    * exactly those buckets, rows materialized first — the bounded
    * self-overwrite discipline upsert uses). Cost ∝ the fragmented
    * buckets' bytes, not the store; the untouched buckets' files are
    * never opened (partition pruning) or renamed. Returns
    * (buckets_rewritten, files_before, files_after).
    */
  def compactFragmented(collection: String,
      maxFilesPerBucket: Int = 4): (Int, Long, Long) = {
    val dir = path(collection)
    val counts = bucketFileCounts(collection)
    val frag = counts.filter(_._2 > maxFilesPerBucket).keys.toSeq.sorted
    val before = counts.values.sum
    if (frag.isEmpty) return (0, before, before)
    val rows = spark.read.schema(tableSchema(dir)).parquet(dir)
      .filter(col(BucketCol).isin(frag.map(Integer.valueOf): _*))
      .localCheckpoint(true)
    rows.repartition(frag.length, col(BucketCol))
      .sortWithinPartitions(col("documentid"), col("key"))
      .write.partitionBy(BucketCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir)
    (frag.length, before, bucketFileCounts(collection).values.sum)
  }

  /** Recursive .parquet data-file census (shared walker, _schema
    * sidecar excluded).
    */
  def countDataFiles(p: String): Long = ChunkStore.countDataFiles(spark, p)
}
