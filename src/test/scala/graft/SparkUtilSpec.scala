package graft

class SparkUtilSpec extends SparkSpec {

  test("stableCheckpoint: the durable opt-in returns identical rows " +
      "through a reliable checkpoint, and the default stays local") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 997).select(col("id"),
      pmod(col("id"), lit(7)).cast("string").as("g"))
    // Default mode: no reliable checkpoint files are written.
    val local = SparkUtil.stableCheckpoint(df)
    val expected = local.collect().map(_.toSeq).sortBy(_.toString).toSeq
    // Durable mode: checkpoint dir + the opt-in conf. The two-pass
    // primitives rely on partitioning surviving the materialization —
    // reliable Dataset.checkpoint preserves it (unlike a parquet
    // round-trip), so the downstream mapPartitions offsets stay valid.
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val durable = SparkUtil.stableCheckpoint(
        df.repartitionByRange(4, col("g"), col("id")))
      assert(durable.collect().map(_.toSeq).sortBy(_.toString).toSeq
        == expected)
      assert(durable.rdd.getNumPartitions == 4,
        "reliable checkpoint must preserve the range partitioning")
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "durable mode must write checkpoint files")
      // The real consumer: the distributed rank fallback is row-equal
      // under the durable materialization.
      val viaDurable = graft.operators.Ranks.distributedPrefixSum(
        df.withColumn("w", lit(1L)), "g", Seq("id"), "w", "cum")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      spark.conf.set("spark.graft.checkpoint.reliable", "false")
      val viaLocal = graft.operators.Ranks.distributedPrefixSum(
        df.withColumn("w", lit(1L)), "g", Seq("id"), "w", "cum")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(viaDurable == viaLocal)
      // And the other named consumer: the LSH pair self-join emits the
      // identical candidate set under the durable materialization.
      import spark.implicits._
      val docs = (0 until 40)
        .map(i => (i.toLong, s"w${i % 4} x y z common tail tokens"))
        .toDF("doc_id", "text")
      def pairs(): Seq[(Long, Long)] = {
        val sh = graft.operators.Dedup.shingles(docs, "doc_id", "text", 3)
        graft.operators.Dedup.lshCandidatePairs(
            graft.operators.Dedup.lshBuckets(
              graft.operators.Dedup.minhashSignatures(sh, k = 8),
              bands = 2, rowsPerBand = 4))
          .select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      spark.conf.set("spark.graft.checkpoint.reliable", "true")
      val durablePairs = pairs()
      spark.conf.set("spark.graft.checkpoint.reliable", "false")
      assert(durablePairs == pairs(),
        "lshCandidatePairs must emit the same pairs in both modes")
    } finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
  }

  test("loopPartitions reads a fresh checkpoint's bytes at once, without " +
      "polling") {
    // Kilobytes over 8 partitions: the bytes rule gives 1 partition, the
    // partition-count fallback min(shuffle partitions, 8) = 4 — so 1
    // shows the bytes were read right after the checkpoint.
    val und = spark.range(0, 2000)
      .selectExpr("id AS src", "id % 50 AS dst")
      .repartition(8).localCheckpoint(true)
    val t0 = System.nanoTime()
    val counts = (1 to 5).map(_ => SparkUtil.loopPartitions(und))
    val perCallMs = (System.nanoTime() - t0) / 1e6 / 5
    assert(counts.distinct == Seq(1), counts)
    // One retry sleep of the polling rule was 20 ms.
    assert(perCallMs < 20, f"$perCallMs%.1f ms per call")
    // No stored blocks (not a checkpoint): the partition-count rule.
    assert(SparkUtil.loopPartitions(spark.range(0, 100, 1, 3).toDF()) == 3)
  }

  test("ensureParallelism raises split-sparse input to default parallelism") {
    val one = spark.range(1000).coalesce(1)
    assert(one.rdd.getNumPartitions == 1)
    val raised = SparkUtil.ensureParallelism(one.toDF())
    assert(raised.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("ensureParallelism is a structural no-op with enough partitions") {
    val wide = spark.range(1000)
      .repartition(spark.sparkContext.defaultParallelism + 4)
    val out = SparkUtil.ensureParallelism(wide.toDF())
    // same plan, no extra exchange — partition count unchanged
    assert(out.rdd.getNumPartitions == wide.rdd.getNumPartitions)
    assert(out.queryExecution.executedPlan.toString ==
      wide.toDF().queryExecution.executedPlan.toString)
  }

  test("multisetEqual: equal multisets (any order/partitioning) agree; " +
      "multiplicity, value, and empty/non-empty differences are caught") {
    import spark.implicits._
    val a = Seq(("k1", 1), ("k2", 2), ("k2", 2)).toDF("k", "v")
    val shuffled = Seq(("k2", 2), ("k1", 1), ("k2", 2)).toDF("k", "v")
      .repartition(7)
    assert(SparkUtil.multisetEqual(a, shuffled),
      "order and partitioning must not matter")
    val multiplicity = Seq(("k1", 1), ("k2", 2)).toDF("k", "v")
    assert(!SparkUtil.multisetEqual(a, multiplicity),
      "a dropped duplicate must be caught (multiset, not set)")
    val value = Seq(("k1", 1), ("k2", 2), ("k2", 3)).toDF("k", "v")
    assert(!SparkUtil.multisetEqual(a, value))
    val empty = a.limit(0)
    assert(SparkUtil.multisetEqual(empty, a.limit(0)))
    assert(!SparkUtil.multisetEqual(empty, a))
    // Cancellation hardening: two rows swapped between columns hash
    // differently per row, and the TWO independent seeds make a sum
    // collision on one seed insufficient.
    val swapped = Seq(("1", 0), ("k2", 2), ("k2", 2)).toDF("k", "v")
    assert(!SparkUtil.multisetEqual(a, swapped))
    // Null-shift hardening (advisor r19): xxhash64 SKIPS null inputs,
    // so without the per-column isnull markers ('x', null) and
    // (null, 'x') digest identically under both seeds.
    val xn = Seq((Some("x"), None: Option[String])).toDF("k", "v")
    val nx = Seq((None: Option[String], Some("x"))).toDF("k", "v")
    assert(!SparkUtil.multisetEqual(xn, nx),
      "a value shifting across a null column must change the digest")
    val xn2 = Seq((Some("x"), None: Option[String])).toDF("k", "v")
      .repartition(3)
    assert(SparkUtil.multisetEqual(xn, xn2),
      "null-bearing rows must still compare equal to themselves")
  }
}
