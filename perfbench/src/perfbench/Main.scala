package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Weather markers: recorded beside the metrics to explain a noisy run,
  * never used to normalise one.
  */
object Weather {
  /** Median wall of a one-task Spark job: the scheduling floor. */
  def emptyJobMs(spark: SparkSession): Double = Stats.median((0 until 7).map { _ =>
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(Seq(1), 1).count()
    (System.nanoTime() - t0) / 1e6
  })

  /** Median wall of a fixed single-thread arithmetic kernel. */
  def cpuKernelMs(): Double = Stats.median((0 until 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var acc = 0.0
    var i = 0
    while (i < 4000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += math.sqrt((x & 0xffff).toDouble)
      i += 1
    }
    if (acc < 0) println(acc)
    (System.nanoTime() - t0) / 1e6
  })

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
}

/** Entry point of one benchmark JVM. `run.py` builds and launches it and
  * adds the operator oracle verdicts to the result it writes.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workdir>
  *   <resources dir> <operator tables dir> <result json> <cores>
  */
object Main {
  def session(work: Path, cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.cleaner.periodicGC.interval", "1h")
    .getOrCreate()

  /** Runs every step once on each layout to load the classes
    * a benchmark run needs; run.py records them into a class archive.
    */
  private def train(o: Opts): Unit = {
    val spark = session(o.work, o.cores)
    spark.sparkContext.setLogLevel("ERROR")
    Workload.train.foreach { w =>
      val run = new Run(spark, o.copy(workload = w, seconds = 0, trace = false,
        work = o.work.resolve(w.name)), new Tracer(false))
      run.execute(setupReps = 1)
      require(run.failed == 0, s"training pass failed: ${run.failures.mkString("; ")}")
    }
    Weather.emptyJobMs(spark)
    Weather.cpuKernelMs()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val Array(wl, seed, seconds, trace, work, res, tables, out, cores) = args
    val o = Opts(Workload.all.getOrElse(wl, Workload.serve), seed.toLong,
      seconds.toInt, trace == "1", Paths.get(work), Paths.get(res),
      Paths.get(tables), Paths.get(out), cores.toInt)
    if (wl == "train") { train(o); return }
    def mark(what: String): Unit = System.err.println(
      s"perfbench: $what at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0} s")
    val spark = session(o.work, o.cores)
    mark("session")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(o.trace)
    val jobs = new JobLog
    if (o.trace) spark.sparkContext.addSparkListener(jobs)
    val weather0 = (Weather.emptyJobMs(spark), Weather.cpuKernelMs())
    Files.write(o.work.resolve("oracle_sql.json"), Serialization.write(
      Workload.OperatorQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    )(DefaultFormats).getBytes("UTF-8"))
    mark("weather and oracle")
    val run = new Run(spark, o, tracer)
    val r = run.execute(setupReps = 4)
    val weather1 = (Weather.emptyJobMs(spark), Weather.cpuKernelMs())
    val planted = Checks.plantedFailuresCaught(Checks.golden(o.resources))
    mark("end weather")

    val metrics: Map[String, Double] =
      if (!o.trace) r.e2e
      else {
        val overhead = run.traceOverheadPct(spark, jobs)
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val spans = tracer.spans.filter(s => r.traced.exists { case (a, b) =>
          s.startNs >= a && s.endNs <= b })
        val layer = Layers.metrics(spans, jobs.snapshot, r) ++ Map(
          "spark.empty_job_ms.start" -> weather0._1,
          "spark.empty_job_ms.end" -> weather1._1,
          "cpu.kernel_ms.start" -> weather0._2,
          "cpu.kernel_ms.end" -> weather1._2,
          "jvm.gc_ms" -> r.gcMs,
          "trace.overhead_pct" -> overhead)
        Files.write(o.out.resolveSibling("spans.json"),
          Layers.spansJson(spans, jobs.snapshot).getBytes("UTF-8"))
        layer
      }
    val result = Map(
      "workload" -> wl, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "planted_failures_caught" -> planted,
      "failures" -> run.failures.toSeq,
      "operator_runs" -> run.opRuns.toMap,
      "operator_outputs" -> o.work.resolve("ops").toString,
      "base_ingest_s" -> r.baseIngestS, "window_s" -> r.windowS,
      "weather" -> Map("empty_job_ms_start" -> weather0._1,
        "empty_job_ms_end" -> weather1._1, "cpu_kernel_ms_start" -> weather0._2,
        "cpu_kernel_ms_end" -> weather1._2),
      "metrics" -> metrics)
    Files.write(o.out, Serialization.write(result)(DefaultFormats).getBytes("UTF-8"))
    spark.stop()
    mark("stopped")
  }
}
