package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Per-job wall clock for the harnesses (Bench, Profile, ScaleStress):
  * which jobs ran in a window, how long each took and what it ran, so a
  * slow run carries its own attribution — one long job means a task-
  * level stall, time covered by jobs ≪ wall means the gap was driver or
  * scheduler work between jobs.
  */
final class JobLog(sc: SparkContext) extends SparkListener {
  import JobLog.Job
  private val starts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val ends = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  sc.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    starts.put(j.jobId, (j.time, j.stageInfos.lastOption
      .map(_.name.takeWhile(_ != '\n')).getOrElse("?")))
  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val (t0, name) = Option(starts.get(j.jobId)).getOrElse((j.time, "?"))
    ends.put(j.jobId, Job(j.jobId, t0, j.time, name))
  }

  /** Ids of the jobs ended so far, as of every event posted until now. */
  def snapshot(): Set[Int] = {
    import scala.jdk.CollectionConverters._
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    ends.keySet().asScala.toSet
  }

  /** Jobs ended since `prev`, in job-id order. */
  def since(prev: Set[Int]): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    ends.asScala.valuesIterator.filterNot(j => prev(j.id)).toSeq
      .sortBy(_.id)
  }
}

object JobLog {
  /** One job: id, start and end (epoch ms) and its last stage's name. */
  final case class Job(id: Int, startMs: Long, endMs: Long, name: String) {
    def seconds: Double = (endMs - startMs) / 1000.0
  }

  /** Seconds covered by at least one job — the measure of the union of
    * their intervals. Jobs overlap under AQE (concurrent query stages),
    * so summing their lengths can exceed the wall they ran in.
    */
  def busySeconds(jobs: Seq[Job]): Double = {
    var covered = 0L
    var (curStart, curEnd) = (0L, Long.MinValue)
    jobs.sortBy(_.startMs).foreach { j =>
      if (j.startMs > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = j.startMs
        curEnd = j.endMs
      } else curEnd = math.max(curEnd, j.endMs)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered / 1000.0
  }
}
