package graft.store

import graft.functions.{Embedding, EmbeddingProvider}
import graft.model.EmbeddedChunk
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed vector store (SURVEY.md §1.2, §2.6, §2.7).
  *
  * A store root directory holds one collection per subdirectory; each
  * collection is a parquet dataset partitioned by `documentid`. The record
  * schema mirrors the reference's collection definition
  * (`VectorStoreCommands.cs:91-104`): key, embedding float[384] @ cosine,
  * content, context, documentid.
  *
  * Upsert semantics: the reference's writer runs with
  * `IncrementalIngestion = false` (`VectorStoreCommands.cs:159`) — a
  * re-processed document's prior records are replaced wholesale. Dynamic
  * partition overwrite on `documentid` gives exactly that: only the
  * partitions present in the incoming batch are rewritten, every other
  * document's chunks are untouched. Combined with deterministic chunk keys
  * re-ingestion is idempotent. At 100 TB this is the scalable upsert: no
  * read-modify-write of the whole store, just the touched partitions.
  *
  * ANN serving: [[buildIndex]] persists a `_index` sidecar per mode
  * (LSH bucket codes / IVF-SQ codes plus a manifest holding the fitted
  * model, stamped with the store's data fingerprint), and [[search]]'s
  * ANN modes serve from the sidecar whenever it is FRESH — the
  * reference analogue is sqlite-vec querying a PERSISTED index
  * (`VectorStoreCommands.cs:113`), not refitting per query. A stale
  * sidecar (any upsert/delete since the last build or refresh) is
  * ignored, falling back to the fit-at-search convenience path;
  * [[hasFreshIndex]] is the staleness probe the q146/q151 refresh
  * policies hook into.
  */
final class VectorStore(protected val spark: SparkSession,
    protected val root: String) extends ChunkStore {

  private def path(collection: String) = s"$root/$collection"

  /** W1: create-or-replace the incoming documents' chunks. */
  def upsert(chunks: Dataset[EmbeddedChunk], collection: String): Unit =
    chunks.write
      .partitionBy("documentid")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path(collection))

  /** Q3: schema-on-read — no fixed case class required on the way out. */
  def read(collection: String): DataFrame =
    spark.read.parquet(path(collection))

  /** Document deletion on the per-document layout: each id IS a
    * partition directory, so a delete is one driver-side directory
    * remove per id — no data rewrite at all, the same O(touched
    * documents) commit class as this layout's upsert. Any `_index`
    * sidecar goes fingerprint-stale automatically (the data files
    * changed), so searches fall back rather than resurrecting deleted
    * chunks from a stale index; [[refreshIndex]] drops their codes.
    */
  def delete(collection: String, docIds: Seq[String]): Unit = {
    val dir = path(collection)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    docIds.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/documentid=$id"), true)
    }
  }

  /** Schema-supplied read: skips the footer-sampling schema-inference
    * job — the right call when the caller already knows the chunk
    * schema (every re-read in a pipeline does).
    */
  def read(collection: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path(collection))

  /** Store MAINTENANCE: compact a collection's small files. Every
    * dynamic-overwrite upsert writes ≥1 new file into each touched
    * `documentid` partition, and chunks of one document arriving in
    * different tasks fan a single partition out over many files — on a
    * long-lived corpus-scale store the accumulated small files, not the
    * bytes, become the scan bottleneck (open/footer cost per file,
    * manifest pressure). Compaction re-clusters each document's rows
    * into one task (`repartition(documentid)`), rewrites the collection
    * so every partition holds a single file, and swaps the directories
    * via the crash-safe rename-aside commit ([[ChunkStore.commitSwap]])
    * — the layout rewrite is invisible to readers' results and
    * preserves the replace-unit (`documentid`) the upsert contract
    * depends on. The swap keeps the `_index` sidecars, and fresh ones
    * stay fresh ([[ChunkStore.publishCompaction]]).
    * At 100 TB the same rewrite runs per partition-RANGE
    * (compact only directories whose file count exceeds a threshold)
    * and also folds `maxRecordsPerFile` for file-size targets; the
    * whole-collection form here is that operation at collection scope.
    * Returns (files_before, files_after) so callers can certify the
    * physical claim, not just assume it.
    */
  def compact(collection: String): (Long, Long) = {
    val p = path(collection)
    val fp = storeFingerprint(collection)
    val before = countDataFiles(p)
    val tmp = p + "__compact_tmp"
    read(collection)
      .repartition(col("documentid"))
      .write.partitionBy("documentid").mode("overwrite").parquet(tmp)
    publishCompaction(collection, tmp, fp)
    (before, countDataFiles(p))
  }

  /** Recursive .parquet data-file count (shared walker). */
  private def countDataFiles(p: String): Long =
    ChunkStore.countDataFiles(spark, p)

  /** Q1 + metadata pre-filter: restrict the scan BEFORE scoring. Because
    * collections are parquet partitioned by `documentid`, a filter on
    * `documentid` becomes partition PRUNING — the KNN only reads the
    * matching documents' files, never the whole collection. (The
    * reference's sqlite-vec search has no filter surface; this is the
    * store feature every production vector search needs.)
    */
  def searchFiltered(collection: String, queryText: String, k: Int,
      filter: org.apache.spark.sql.Column,
      provider: EmbeddingProvider = Embedding.default): DataFrame = {
    val qv = provider.embed(queryText)
    read(collection)
      .filter(filter)
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }
}

