package graft

class JobLogSpec extends SparkSpec {
  private def job(id: Int, start: Long, end: Long) = JobLog.Job(id, start, end, "")

  test("busySeconds is the measure of the union of job intervals") {
    // [0,100) overlaps [50,150); [200,400) contains [250,300); [150,200)
    // touches both neighbours' ends; [600,700) stands apart.
    val jobs = Seq(job(1, 0, 100), job(2, 50, 150), job(3, 200, 400),
      job(4, 250, 300), job(5, 600, 700))
    assert(JobLog.busySeconds(jobs) == 0.45)
    assert(JobLog.busySeconds(jobs.reverse) == 0.45)
    assert(jobs.map(_.seconds).sum > 0.45)
    assert(JobLog.busySeconds(jobs :+ job(6, 150, 200)) == 0.5)
    assert(JobLog.busySeconds(Nil) == 0.0)
  }

  test("since lists exactly the jobs run after the snapshot, with names") {
    val sc = spark.sparkContext
    val log = new JobLog(sc)
    try {
      val prev = log.snapshot()
      sc.parallelize(1 to 10, 2).count()
      sc.parallelize(1 to 10, 2).map(_ + 1).collect()
      val jobs = log.since(prev)
      assert(jobs.size == 2)
      assert(jobs.map(_.id) == jobs.map(_.id).sorted)
      assert(jobs.forall(j => j.endMs >= j.startMs && j.name != "?"))
      assert(log.since(log.snapshot()).isEmpty)
    } finally sc.removeSparkListener(log)
  }
}
