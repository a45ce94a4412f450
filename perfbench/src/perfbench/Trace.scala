package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Closed interval arithmetic on [start, end) pairs of epoch milliseconds
  * or nanoseconds. Jobs under AQE overlap, so time covered by a set of
  * jobs is the measure of their union, never the sum of their lengths.
  */
object Intervals {
  type Iv = (Long, Long)

  /** Merge overlapping or touching intervals; empty ones are dropped. */
  def union(ivs: Seq[Iv]): Seq[Iv] = {
    val sorted = ivs.filter { case (s, e) => e > s }.sortBy(_._1)
    val out = mutable.ArrayBuffer.empty[Iv]
    sorted.foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  def measure(ivs: Seq[Iv]): Long = union(ivs).map { case (s, e) => e - s }.sum

  /** Measure of the union of `ivs`, each first clipped to `within`. */
  def coveredWithin(within: Iv, ivs: Seq[Iv]): Long =
    measure(ivs.map { case (s, e) =>
      (math.max(s, within._1), math.min(e, within._2)) })
}

/** One traced call into a layer: name, nanosecond bounds, the enclosing
  * span and the request (benchmark operation) it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallNs: Long = endNs - startNs
}

/** Spans kept in memory and written out when the run ends. Disabled, it
  * only runs the body: untraced runs pay one branch per call.
  */
final class Tracer(var enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var request = 0

  /** Starts a new request id for the operation the client issues next. */
  def newRequest(): Unit = request += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) 0 else stack.top
      stack.push(id)
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack.pop()
        done += Span(id, name, parent, request, ns0, ns1, ms0, ms1)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

/** Task totals of one Spark job. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  var gcMs = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** Benchmark-owned listener: every job with the task metrics of its
  * stages. Jobs are matched to spans afterwards by start time
  * ([[Attribution]]); with one client thread the match is unambiguous.
  */
final class JobLog extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); r <- jobs.get(jid)) {
      r.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        r.recordsRead += m.inputMetrics.recordsRead +
          m.shuffleReadMetrics.recordsRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.recordsWritten += m.outputMetrics.recordsWritten
        r.gcMs += m.jvmGCTime
      }
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** Span/job arithmetic behind the per-layer metrics. */
final class Attribution(spans: Seq[Span], jobs: Seq[JobRec]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  private def depth(s: Span): Int =
    if (s.parent == 0) 0 else 1 + byId.get(s.parent).map(depth).getOrElse(0)

  /** Each job goes to the deepest span open when it started. */
  val jobSpan: Map[Int, Int] = {
    val ordered = spans.sortBy(s => -depth(s))
    jobs.flatMap { j =>
      ordered.find(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .map(s => j.id -> s.id)
    }.toMap
  }

  def unattributed: Int = jobs.count(j => !jobSpan.contains(j.id))

  /** Jobs attributed to `s` or to any span nested in it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = mutable.HashSet(s.id)
    def walk(id: Int): Unit = children.getOrElse(id, Nil).foreach { c =>
      ids += c.id; walk(c.id)
    }
    walk(s.id)
    jobs.filter(j => jobSpan.get(j.id).exists(ids))
  }

  /** Wall of `s` minus the part of it its child spans cover. */
  def selfNs(s: Span): Long = s.wallNs - Intervals.coveredWithin(
    (s.startNs, s.endNs),
    children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))

  /** Union of the intervals of the jobs under `s`, clipped to `s`. */
  def jobMs(s: Span): Long = Intervals.coveredWithin((s.startMs, s.endMs),
    jobsUnder(s).map(j => (j.startMs, j.endMs)))

  /** Wall of `s` during which none of its jobs ran. */
  def driverMs(s: Span): Double = s.wallNs / 1e6 - jobMs(s)
}
