package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental merge (CDC upsert + delete) over a hash-bucketed parquet
  * table — the primitive that keeps a 100 TB store current without
  * rewriting it.
  *
  * The table is laid out as `nBuckets` hash partitions of the merge key
  * (a directory per bucket). A merge batch:
  *   1. tags each incoming row with its bucket (pure expression);
  *   2. reads ONLY the touched buckets back (partition pruning on the
  *      bucket column — untouched buckets are never opened);
  *   3. resolves per-key winners — highest version, batch beats base on
  *      ties — and drops tombstoned keys;
  *   4. rewrites only the touched buckets (dynamic partition overwrite).
  * Cost scales with the batch's bucket fan-out, not the table size: a
  * batch touching b of N buckets reads and rewrites b/N of the data.
  * Choose `nBuckets` so one bucket fits an executor core's working set
  * (100 TB / 8192 ≈ 12 GB), exactly like [[BucketedTables]].
  *
  * Determinism: the winner rule is total (version, then source, then a
  * last-resort arbitrary-but-stable tiebreak is the caller's duty via
  * distinct versions per key within a batch), so re-running a merge is
  * idempotent.
  */
object BucketedMerge {

  val BucketCol = "bucket"

  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key.cast("string")), lit(nBuckets)).cast("int")

  /** Initialize (or fully rewrite) the bucketed table from `df`. STATIC
    * overwrite on purpose: a re-init must clear every stale bucket
    * directory, including ones the new data or a new `nBuckets` layout
    * does not touch — dynamic overwrite is only correct in [[merge]].
    */
  def init(df: DataFrame, dir: String, keyCol: String, nBuckets: Int): Unit = {
    val bucketed = df.withColumn(BucketCol, bucketOf(col(keyCol), nBuckets))
    bucketed.repartition(col(BucketCol))
      .write.partitionBy(BucketCol)
      .mode("overwrite").parquet(dir)
    // 0-row schema sidecar (underscore dirs are invisible to data reads):
    // keeps the table readable even when a merge deletes every bucket.
    bucketed.limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_schema")
  }

  private def tableSchema(spark: SparkSession, dir: String) =
    ChunkStore.storedSchema(spark, s"$dir/_schema")

  /** Apply one merge batch. `updates` carries the table schema plus
    * `versionCol` (monotone per key) and, if `tombstoneCol` is set, a
    * boolean column marking deletes. Only the batch's buckets are read
    * and rewritten.
    */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, versionCol: String, nBuckets: Int,
      tombstoneCol: Option[String] = None): Unit = {
    val tomb = tombstoneCol.getOrElse {
      // No delete channel: synthesize an always-false column so one code
      // path serves both.
      "__no_tombstone"
    }
    val upd0 = if (tombstoneCol.isDefined) updates
      else updates.withColumn(tomb, lit(false))
    // Materialize the batch ONCE: the touched-bucket list and the write
    // below must see the identical rows — a nondeterministic updates
    // source evaluated twice could emit a bucket the base read excluded,
    // and dynamic overwrite would then replace that bucket with update
    // rows alone. (Eager local checkpoint, freed by the ContextCleaner.)
    val upd = upd0.withColumn(BucketCol, bucketOf(col(keyCol), nBuckets))
      .withColumn("__src", lit(1))
      .localCheckpoint(true)
    // The touched-bucket list is O(nBuckets) — a bounded driver-side
    // collect by construction, not data-dependent.
    val touched = upd.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    val base = spark.read.schema(tableSchema(spark, dir)).parquet(dir)
      .filter(col(BucketCol).isin(touched.map(Integer.valueOf).toSeq: _*))
      .withColumn(tomb, lit(false))
      .withColumn("__src", lit(0))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("__src").desc)
    val winners = base.unionByName(upd)
      .withColumn("__rn", row_number().over(w))
      // NULL in the tombstone channel means "not a delete", never "drop
      // the row" (!NULL is NULL and would silently delete on a filter).
      .filter(col("__rn") === 1 && !coalesce(col(tomb), lit(false)))
      .drop("__rn", "__src", tomb)
      .localCheckpoint(true)
    winners
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir)
    // Dynamic overwrite writes no partition for a touched bucket whose
    // rows were ALL tombstoned — the stale directory would survive and
    // resurrect the deleted keys. Remove emptied buckets explicitly.
    val survived = winners.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSet
    val emptied = touched.filterNot(survived)
    if (emptied.nonEmpty) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      emptied.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$BucketCol=$b"), true)
      }
    }
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(tableSchema(spark, dir)).parquet(dir).drop(BucketCol)
}
