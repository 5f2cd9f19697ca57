package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("Profile.Collector: counters read right after drain() hold every job of a multi-job action") {
    val sc = spark.sparkContext
    // a slow listener on the same queue holds every later event back, so
    // counters read without waiting for delivery would miss the action's tail
    val slow = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Thread.sleep(200)
    }
    sc.addSparkListener(slow)
    val c = new Profile.Collector(sc)
    try {
      c.drain()
      c.reset()
      val group = "profile-spec"
      sc.setJobGroup(group, "checkpoint then shuffled write", interruptOnCancel = false)
      try {
        val df = spark.range(0, 2000, 1, 4).localCheckpoint()
        df.repartition(3).write.format("noop").mode("overwrite").save()
      } finally sc.clearJobGroup()
      c.drain()
      val jobs = c.jobs
      assert(jobs.size >= 2)
      assert(jobs.size == sc.statusTracker.getJobIdsForGroup(group).length)
      assert(jobs.forall(_.endMs >= 0))
      assert(c.shuffleWrite > 0)
    } finally { sc.removeSparkListener(c); sc.removeSparkListener(slow) }
  }
}
