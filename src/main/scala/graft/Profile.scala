package graft

import org.apache.spark.sql.SparkSession

/** Per-query cost attribution for the bench-gate analysis: wall time vs
  * Spark job structure (job count, summed job wall, time covered by
  * jobs, largest job). Lets BASELINE.md's floor correction be MEASURED
  * instead of asserted — `wall − busy` (busy: the union of the job
  * intervals, which overlap under AQE) is driver-side
  * planning/codegen/collect latency, and
  * `njobs × empty-job floor` is the scheduling cost a long-lived cluster
  * amortizes but a per-query local bench pays in full.
  *
  * Usage: graft.Profile <sfDir> <queryName>... (3 warm reps each; an
  * empty-job floor probe prints first).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // SPARK_GRAFT_AQE=false lets an A/B measure AQE's per-stage job
      // scheduling cost at bench scale (it's a cluster-scale feature;
      // locally each query stage is its own job + floor).
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val log = new JobLog(spark.sparkContext)

    // Empty-job floor: the fixed scheduling+codegen cost of one no-op job.
    val floorReps = (1 to 10).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"empty_job_floor_median=${floorReps(5)}%.3f s")

    for (n <- names) {
      val fn = SparkEntry.queries(n)
      for (rep <- 1 to 3) {
        val prev = log.snapshot()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val jobs = log.since(prev)
        val secs = jobs.map(_.seconds)
        val busy = JobLog.busySeconds(jobs)
        println(f"$n rep$rep wall=$wall%.2f njobs=${jobs.size} " +
          f"jobsum=${secs.sum}%.2f busy=$busy%.2f " +
          f"maxjob=${secs.maxOption.getOrElse(0.0)}%.2f " +
          f"driver=${wall - busy}%.2f")
        // SPARK_GRAFT_JOBDBG: per-job wall + submitting call site, last
        // rep only — which operator pays the njobs × floor tax.
        if (rep == 3 && sys.env.contains("SPARK_GRAFT_JOBDBG"))
          jobs.zipWithIndex.foreach { case (j, i) =>
            println(f"  job$i%3d ${j.seconds}%6.2fs  ${j.name}")
          }
      }
    }
    spark.stop()
  }
}
