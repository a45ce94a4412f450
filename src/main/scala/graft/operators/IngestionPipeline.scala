package graft.operators

import graft.functions.{Embedding, EmbeddingProvider}
import graft.model.{ElementRow, EmbeddedChunk, IngestionResult}
import graft.store.ChunkStore
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pipeline driver (SURVEY.md §2.5, D1): composes
  * `source → chunk → embed → write` as one lazy lineage and returns a
  * per-document results dataset — the Spark analogue of the reference's
  * `IngestionPipeline.ProcessAsync` stream of `IngestionResult`s
  * (`VectorStoreCommands.cs:58-64,74-80,163-180`).
  *
  * Fault isolation matches the reference: a document whose parse produced
  * `error` element rows is reported as failed and contributes no chunks;
  * every other document proceeds independently (per-item try/catch ≙
  * error rows as data, `VectorStoreCommands.cs:32-47`).
  */
object IngestionPipeline {

  /** One source into one collection: per-document results. */
  def run(elements: Dataset[ElementRow], store: ChunkStore,
      collection: String,
      chunker: SemanticChunker = SemanticChunker.default,
      provider: EmbeddingProvider = Embedding.default)
      : Dataset[IngestionResult] = {
    import elements.sparkSession.implicits._
    ingest(Seq(collection -> elements), store, _ => collection, chunker,
      provider).as[IngestionResult]
  }

  /** Several sources as ONE lineage: all sources are unioned and
    * parsed/chunked/embedded in a single pass (one eager checkpoint, one
    * embed computation, one results job) instead of paying the per-run
    * job floor once per source; only the store writes remain
    * per-collection (they land in different directories by design).
    *
    * `sources` maps a tag (reported in the result's `reader` column) to
    * that source's element rows; `collectionOf` names the store
    * collection per tag. Document ids must be disjoint across sources
    * (the reference's identifiers — file names vs "Article #N" — are);
    * a collision fails the ingest in-plan, before any store write,
    * rather than silently cross-wiring chunks to the wrong collection.
    */
  def runTagged(sources: Seq[(String, Dataset[ElementRow])],
      store: ChunkStore, collectionOf: String => String,
      chunker: SemanticChunker = SemanticChunker.default,
      provider: EmbeddingProvider = Embedding.default): DataFrame = {
    require(sources.nonEmpty, "runTagged: no sources")
    val reader =
      if (sources.size == 1) lit(sources.head._1)
      else typedlit(sources.map(_._1)).getItem(col("__src"))
    ingest(sources, store, collectionOf, chunker, provider)
      .select(reader.as("reader"), col("documentid"), col("succeeded"),
        col("n_chunks"), col("error"))
  }

  /** The one pipeline body: checkpoint the elements; split off failed
    * documents and anti-join them away; chunk and embed; upsert per
    * collection; build the per-document results (`documentid`,
    * `succeeded`, `n_chunks`, `error`, after `__src`, the source index,
    * when there are several sources), checkpointed.
    *
    * One source is the common case and plans as a plain pipeline: no
    * source column, the chunks persisted lazily for the single write.
    * Several sources carry their index on every element and tag each
    * chunk through one broadcast join, materialized eagerly so the
    * collision guard runs before the first write and each per-collection
    * write is a plain filter over the checkpointed blocks.
    */
  private def ingest(sources: Seq[(String, Dataset[ElementRow])],
      store: ChunkStore, collectionOf: String => String,
      chunker: SemanticChunker, provider: EmbeddingProvider): DataFrame = {
    val spark = sources.head._2.sparkSession
    import spark.implicits._
    val tagged = sources.size > 1

    // Eager materialization in its own job: `elems` feeds the failed-docs
    // aggregate, the anti-join and the results — a lazy persist would
    // have the branches race to compute the same partitions inside the
    // first action ("Block already exists" churn). Checkpoint blocks are
    // freed by the ContextCleaner when `elems` goes out of scope.
    val elems = (
      if (!tagged) sources.head._2.toDF()
      else sources.zipWithIndex.map { case ((_, ds), i) =>
        ds.toDF().withColumn("__src", lit(i))
      }.reduce(_.unionAll(_))
    ).localCheckpoint(true)
    val failedDocs = elems.filter(col("element_type") === "error")
      .groupBy(col("doc_id"))
      .agg(first(col("text"), ignoreNulls = true).as("error"))
    // One row per document, with its source index when tagged; a
    // document under two sources raises in-plan (int min/max keep the
    // aggregate codegen'd).
    val docs =
      if (!tagged) elems.select(col("doc_id")).distinct()
      else elems.groupBy(col("doc_id"))
        .agg(min(col("__src")).as("__lo"), max(col("__src")).as("__hi"))
        .select(col("doc_id"),
          when(col("__lo") === col("__hi"), col("__lo")).otherwise(
            raise_error(concat(lit("runTagged: doc_id '"), col("doc_id"),
              lit("' appears under multiple sources")))).as("__src"))

    val good = (if (tagged) elems.drop("__src") else elems)
      .join(failedDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .as[ElementRow]
    val embedded = Embed.chunks(chunker.chunks(good), provider)
    val chunks =
      if (!tagged) embedded.persist(StorageLevel.MEMORY_AND_DISK).toDF()
      else embedded.join(broadcast(docs), col("documentid") === col("doc_id"))
        .drop("doc_id").localCheckpoint(true)
    sources.zipWithIndex.foreach { case ((tag, _), i) =>
      val mine =
        if (!tagged) chunks
        else chunks.filter(col("__src") === i).drop("__src")
      store.upsert(mine.as[EmbeddedChunk], collectionOf(tag))
    }

    val counts = chunks.groupBy(col("documentid").as("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    // Materialize the per-document results (small: one row per document,
    // stays distributed — no driver collect; at 100 TB "documents" can be
    // millions of rows) so the chunk cache can be released HERE rather
    // than living for the rest of the session. The local checkpoint cuts
    // the result's lineage off the unpersisted inputs; its own blocks are
    // freed by the ContextCleaner on GC.
    val results = docs
      .join(failedDocs, Seq("doc_id"), "left")
      .join(counts, Seq("doc_id"), "left")
      .select((if (tagged) Seq(col("__src")) else Nil) ++ Seq(
        col("doc_id").as("documentid"),
        col("error").isNull.as("succeeded"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        col("error")): _*)
      .localCheckpoint(true)
    chunks.unpersist()
    results
  }
}
