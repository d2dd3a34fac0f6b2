package graft

import org.apache.spark.JobExecutionStatus

/** The watchdog behind Bench and Verify: a hung query is cancelled
  * and reported, a crashed one reported, a fatal error ends the run.
  */
class MeasureSpec extends SparkSpec {

  private def group(tag: String) = s"measure-spec-$tag-${System.nanoTime()}"

  test("a body that outlives the timeout is reported and its jobs cancelled") {
    val g = group("timeout")
    val r = Measure.run(spark, g, timeoutS = 1) {
      spark.sparkContext.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(60000))
    }
    assert(r == Left("timed out after 1s (job group cancelled)"))
    val tracker = spark.sparkContext.statusTracker
    assert(tracker.getJobIdsForGroup(g).nonEmpty, "the body never started a job")
    def running = tracker.getJobIdsForGroup(g).toSeq
      .flatMap(tracker.getJobInfo)
      .filter(_.status == JobExecutionStatus.RUNNING)
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (running.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(running.isEmpty, s"jobs of $g still running 5 s after the timeout")
  }

  test("a body that throws a non-fatal error returns its message") {
    val r = Measure.run(spark, group("fail"), timeoutS = 60) {
      throw new IllegalStateException("boom")
    }
    assert(r == Left("boom"))
  }

  test("a fatal error from the body ends the run") {
    intercept[InterruptedException] {
      Measure.run(spark, group("fatal"), timeoutS = 60) {
        throw new InterruptedException("stop")
      }
    }
  }

  test("a fast body returns its elapsed seconds") {
    val r = Measure.run(spark, group("fast"), timeoutS = 60) {
      spark.range(1000).count()
    }
    assert(r.exists(_ > 0), r)
  }
}
