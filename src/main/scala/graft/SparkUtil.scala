package graft

import org.apache.spark.sql.DataFrame

object SparkUtil {

  /** Raise a compute-bound pipeline's input to the session's default
    * parallelism when the scan produced fewer partitions.
    *
    * Parquet splits are row-group-granular, so a small table written as
    * one file with one row group scans as ONE task — and an expression-
    * heavy projection (language scoring, simhash, n-gram hashing) then
    * runs single-threaded however many cores the session has. At
    * production scale input splits outnumber cores and this is a
    * structural no-op; when it does fire, the one round-robin exchange of
    * the input is exactly the trade a compute-bound stage wants. Filter/
    * projection pushdown is unaffected (Catalyst pushes both through the
    * repartition to the scan).
    */
  /** Materialization point for the two-pass primitives whose SECOND
    * pass must observe the FIRST pass's exact partitioning
    * (Dedup.lshCandidatePairs' self-join sides, Packing.prefixSums,
    * Ranks.distributedPrefixSum).
    *
    * Default: eager `localCheckpoint` — executor-memory blocks, zero
    * disk, freed by the ContextCleaner, and NOT fault-tolerant: on
    * executor loss the blocks are gone and the JOB FAILS (it never
    * silently recomputes into a different partitioning — fail-stop,
    * but a rerun on a lossy cluster). For long 100×-scale runs where a
    * rerun is unaffordable, the DURABLE mode is an explicit opt-in:
    * set a SparkContext checkpoint directory (a distributed FS path)
    * AND `spark.graft.checkpoint.reliable=true` — the same
    * materialization then goes through reliable
    * `Dataset.checkpoint(eager = true)`, which preserves partitioning
    * and survives executor loss at the cost of one distributed-FS
    * write per materialization. Both modes return the identical rows
    * (SparkUtilSpec pins it); only the failure semantics differ.
    */
  def stableCheckpoint[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] = {
    val spark = ds.sparkSession
    val reliable = spark.conf
      .getOption("spark.graft.checkpoint.reliable").exists(_.toBoolean)
    if (reliable && spark.sparkContext.getCheckpointDir.isDefined)
      ds.checkpoint(eager = true)
    else ds.localCheckpoint(true)
  }

  def ensureParallelism(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // no partition introspection on streams
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Co-partition count for an iterative graph loop, derived from the
    * MATERIALIZED size of its (already checkpointed) edge table rather
    * than pinned to the session shuffle parallelism (r21, guide §2.2
    * "scale-adaptive partitioning"; r22 refinement below): a local
    * candidate subgraph loops over a handful of partitions while a
    * cluster-sized edge table still fans out to the session's full
    * shuffle parallelism. A pinned `numShufflePartitions` here made
    * every per-round stage a 32-task scheduling storm on kilobyte
    * graphs (q197 +1.1 s).
    *
    * r22 (ADVICE r21): the r21 rule read the checkpoint's PARTITION
    * COUNT, which for the src/dst union of a wide upstream shuffle is
    * 2× the upstream count regardless of bytes — a kilobyte subgraph
    * arriving from a 32-partition exchange still looped at the session
    * cap. The count now derives from the checkpointed blocks' actual
    * bytes at [[LoopPartitionBytes]] per partition, read from the block
    * manager master, which the eager localCheckpoint's tasks updated
    * before its job finished — no polling of the asynchronous status
    * listener. A plan that is not a checkpoint (no stored blocks) falls
    * back to the r21 partition-count rule. Perf-only: the loop
    * joins/aggregates are key-deterministic, so the partition count
    * never changes results.
    */
  private val LoopPartitionBytes = 64L << 20
  def loopPartitions(materialized: DataFrame): Int = {
    val spark = materialized.sparkSession
    val cap = spark.sessionState.conf.numShufflePartitions
    val byCount = math.max(1, math.min(cap, materialized.rdd.getNumPartitions))
    // The checkpointed RDD rides the analyzed plan's LogicalRDD.
    val bytes = materialized.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.GraftBridge.rddStoredBytes(lr.rdd.id)
      case _ => 0L
    }
    if (bytes > 0L)
      math.max(1, math.min(byCount,
        ((bytes + LoopPartitionBytes - 1) / LoopPartitionBytes).toInt))
    else byCount
  }

  /** Multiset-equality certificate in ONE aggregate per side.
    *
    * The in-run REQUIREs of the store queries (q242/q243/q251) used
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` — two wide
    * hash-distinct plans, each reading BOTH inputs, so each side was
    * scanned (and, for q242/q251, the frozen-model re-encode was
    * re-executed) twice. This replaces that with the snapshot diff's
    * discipline (SnapshotStore.changedDocuments, r18): per side, one
    * map-side-combinable aggregate of row count + order-free sums of
    * TWO independently-seeded 64-bit xxhash64 row digests in
    * decimal(38,0). Equal triples ⇒ multiset-equal up to ~2^-128
    * collision odds — the certificate goes from exact to
    * cryptographically-improbable-to-miss, and the cost from four
    * scans + two shuffles to two scans + two tiny collects.
    *
    * Column ORDER matters (the row digest hashes columns in order):
    * select both sides into the same column order, as an exceptAll
    * call site already had to.
    *
    * NULL safety: xxhash64 SKIPS null inputs (a null column leaves the
    * running hash unchanged), so without a marker the rows ('x', null)
    * and (null, 'x') would digest identically under BOTH seeds — a
    * class the exceptAll this replaced caught. Each column is
    * therefore preceded by its isnull flag: the flag column is never
    * null, so column positions stay aligned in the hashed sequence and
    * a value shifting across a null column changes the digest.
    */
  def multisetEqual(a: DataFrame, b: DataFrame): Boolean = {
    import org.apache.spark.sql.functions._
    def sig(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
      val cols = df.columns.toSeq.map(col)
      val marked = cols.flatMap(c => Seq(isnull(c).cast("int"), c))
      def h(seed: Int) =
        sum(xxhash64((lit(seed) +: marked): _*).cast("decimal(38,0)"))
      val r = df.agg(count(lit(1)).as("n"), h(1).as("h1"), h(2).as("h2"))
        .head()
      (r.getLong(0),
        Option(r.getDecimal(1)).map(BigDecimal(_)).orNull,
        Option(r.getDecimal(2)).map(BigDecimal(_)).orNull)
    }
    sig(a) == sig(b)
  }
}
