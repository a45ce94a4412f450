package perfbench

/** Per-layer metrics of a traced run, computed from its spans and jobs.
  * Span names are the layers: parse, chunk, embed, pipeline,
  * commit.upsert, commit.delete, maint.compact, maint.vacuum, index.build,
  * index.refresh, search.<mode>, search.batch.<mode> and op.<query>;
  * request.<kind> spans group one client operation. Only jobs that
  * started inside the traced intervals count.
  */
object Layers {

  def metrics(spans: Seq[Span], allJobs: Seq[JobRec], r: Run#Outcome): Map[String, Double] = {
    val jobs = allJobs.filter(j => r.tracedMs.exists { case (a, b) =>
      j.startMs >= a && j.startMs <= b })
    val att = new Attribution(spans, jobs)
    val in = r.inputs.withDefaultValue(0.0)
    def named(n: String) = spans.filter(_.name == n)
    def wallS(n: String) = named(n).map(_.wallNs).sum / 1e9
    def jobsOf(ss: Seq[Span]): Seq[JobRec] =
      ss.flatMap(att.jobsUnder).groupBy(_.id).values.map(_.head).toSeq
    def jobCount(n: String) = jobsOf(named(n)).size.toDouble
    def per(x: Double, n: Double) = if (n == 0) 0.0 else x / n

    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("parse.s") = wallS("parse")
    m("parse.elements") = in("parse.elements")
    m("parse.jobs") = jobCount("parse")
    m("chunk.s") = wallS("chunk")
    m("chunk.chunks") = in("chunk.chunks")
    m("chunk.shuffle_bytes") = jobsOf(named("chunk")).map(_.shuffleWriteBytes).sum.toDouble
    m("embed.s") = wallS("embed")
    m("embed.vectors") = in("embed.vectors")
    val pipes = named("pipeline")
    m("ref.batch_s") = in("ref.batch_s")
    m("pipeline.s") = wallS("pipeline")
    m("pipeline.jobs") = jobCount("pipeline")
    m("pipeline.driver_s") = pipes.map(att.driverMs).sum / 1000
    m("commit.upsert_s") = wallS("commit.upsert")
    m("commit.delete_s") = wallS("commit.delete")
    m("commit.jobs") = jobsOf(named("commit.upsert") ++ named("commit.delete")).size.toDouble
    m("commit.bytes_written") = in("commit.bytes_written")
    m("commit.files_written") = in("commit.files_written")
    m("commit.write_amp") = per(in("commit.bytes_written"), in("commit.logical_bytes"))
    m("maint.compact_s") = wallS("maint.compact")
    m("maint.vacuum_s") = wallS("maint.vacuum")
    m("maint.vacuum_files") = in("maint.vacuum_files")
    m("maint.bytes_rewritten") = in("maint.bytes_rewritten")
    m("maint.files_before") = per(in("maint.files_before"), in("maint.compactions"))
    m("maint.files_after") = per(in("maint.files_after"), in("maint.compactions"))
    val index = named("index.build") ++ named("index.refresh")
    m("index.build_s") = wallS("index.build")
    m("index.refresh_s") = wallS("index.refresh")
    m("index.jobs") = jobsOf(index).size.toDouble
    m("index.code_rows_written") = jobsOf(index).map(_.recordsWritten).sum.toDouble
    Workload.Modes.foreach { mode =>
      val ss = named(s"search.$mode")
      val js = jobsOf(ss)
      val n = ss.size.toDouble
      m(s"search.$mode.n") = in(s"search.$mode.n")
      m(s"search.$mode.jobs_per_query") = per(js.size, n)
      m(s"search.$mode.records_read_per_query") = per(js.map(_.recordsRead).sum, n)
      m(s"search.$mode.job_ms") = per(ss.map(att.jobMs).sum, n)
      m(s"search.$mode.driver_ms") = per(ss.map(att.driverMs).sum, n)
      m(s"search.$mode.p90_ms") = in(s"search.$mode.p90_ms")
      val bs = named(s"search.batch.$mode")
      val bj = jobsOf(bs)
      m(s"search.batch.$mode.jobs") = per(bj.size, bs.size)
      m(s"search.batch.$mode.records_read_per_query") =
        per(bj.map(_.recordsRead).sum, in(s"search.batch.$mode.queries"))
      m(s"search.batch.$mode.driver_ms") = per(bs.map(att.driverMs).sum, bs.size)
      m(s"search.batch.$mode.qps") = in(s"search.batch.$mode.qps")
    }
    m("search.sidecar_hit_ratio") = per(in("sidecar.hit"), in("sidecar.asked"))
    var opJobs = Seq.empty[JobRec]
    Workload.OperatorQueries.foreach { q =>
      val ss = named(s"op.$q")
      val js = jobsOf(ss)
      opJobs ++= js
      m(s"op.$q.s") = in(s"op.$q.s")
      m(s"op.$q.jobs") = per(js.size, ss.size)
      m(s"op.$q.shuffle_bytes") = per(js.map(_.shuffleWriteBytes).sum, ss.size)
      m(s"op.$q.spill_bytes") = per(js.map(_.spillBytes).sum, ss.size)
    }
    m("op.gc_ms") = opJobs.map(_.gcMs).sum.toDouble
    m("op.task_skew_max") = (opJobs.filter(_.taskMs.size >= 4).map { j =>
      j.taskMs.max / math.max(1.0, Stats.median(j.taskMs.map(_.toDouble).toSeq))
    } :+ 1.0).max
    m("trace.unattributed_jobs") = att.unattributed.toDouble
    m("trace.spans") = spans.size.toDouble
    m.toMap
  }

  /** Spans with their attributed jobs, for the trace file. */
  def spansJson(spans: Seq[Span], jobs: Seq[JobRec]): String = {
    val att = new Attribution(spans, jobs)
    val bySpan = att.jobSpan.groupBy(_._2).map { case (s, js) => s -> js.keys.toSeq.sorted }
    org.json4s.jackson.Serialization.write(spans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_ms" -> s.wallNs / 1e6, "self_ms" -> att.selfNs(s) / 1e6,
        "job_ms" -> att.jobMs(s).toDouble, "jobs" -> bySpan.getOrElse(s.id, Nil))
    })(org.json4s.DefaultFormats)
  }
}
