package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Job profiler (dev tool): runs each named query into the noop sink once
  * untimed (codegen, JIT) and three times measured, and reports
  * the fastest run's seconds and, of the last run, what the final
  * `explain` cannot show for iterative or checkpointed operators — every
  * job the query launches, eager `localCheckpoint`s and driver collects
  * included:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=4 \
  *     sbt "runMain graft.Profile q_pagerank q_bfs_hops"
  *
  * prints one aggregate line per query (jobs, stages, shuffle read/write
  * bytes, input bytes, seconds), then one line per job (id, seconds,
  * `spark.job.description`, else the call site). The environment and its
  * defaults are Bench's. For plans, use `PlanAudit <names>`.
  */
object Profile {
  /** Measured runs per query: Bench's min-of-3, so a ratio of two runs of
    * this tool is not one run's noise. */
  private val Runs = 3

  final case class Job(id: Int, desc: String, startMs: Long, endMs: Long)

  /** Counts the jobs and completed stages of the context it is added to.
    * Listener events arrive asynchronously: read the counters only after
    * [[drain]]. */
  final class Collector(sc: SparkContext) extends SparkListener {
    private val DrainGroup = "graft.profile.drain"
    private val starts = mutable.LinkedHashMap[Int, (String, Long)]()
    private val ends = mutable.Map[Int, Long]()
    private val drainStages = mutable.Set[Int]()
    private var drainJob = -1
    private var drained: CountDownLatch = _
    var stages = 0
    var shuffleRead, shuffleWrite, input = 0L
    sc.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.jobGroup.id").contains(DrainGroup)) {
        drainJob = j.jobId
        drainStages ++= j.stageIds
      } else starts(j.jobId) = (prop("spark.job.description")
        .orElse(prop("callSite.short"))
        // the result stage, created last, is named after the action's call site
        .getOrElse(j.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name)), j.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == drainJob) drained.countDown() else ends(e.jobId) = e.time
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      if (!drainStages(s.stageInfo.stageId)) {
        stages += 1
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          input += m.inputMetrics.bytesRead
        }
      }
    }

    /** Waits until this listener has been handed every event posted so far.
      * Runs a sentinel job in its own job group (clearing the caller's)
      * and waits for its end: one listener queue delivers events in order,
      * and an action posts its jobs' end events before it returns. */
    def drain(): Unit = {
      val latch = new CountDownLatch(1)
      synchronized { drained = latch }
      sc.setJobGroup(DrainGroup, "profile drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      if (!latch.await(60, TimeUnit.SECONDS))
        sys.error("Profile: listener events not delivered within 60 s")
    }

    /** Jobs started since the last [[reset]], in start order; endMs is -1
      * for a job whose end has not been seen. */
    def jobs: Seq[Job] = synchronized {
      starts.toSeq.map { case (id, (desc, t0)) => Job(id, desc, t0, ends.getOrElse(id, -1L)) }
    }

    def reset(): Unit = synchronized {
      starts.clear(); ends.clear()
      stages = 0; shuffleRead = 0L; shuffleWrite = 0L; input = 0L
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Profile <query> [query ...]")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Collector(spark.sparkContext)
    args.foreach { name =>
      def run() = SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      run()
      val sec = (1 to Runs).map { _ =>
        c.drain()
        c.reset()
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.min
      c.drain()
      val jobs = c.jobs
      println(f"[profile] $name%-28s jobs=${jobs.size}%-3d stages=${c.stages}%-4d " +
        f"shuffle_read=${c.shuffleRead}%-12d shuffle_write=${c.shuffleWrite}%-12d " +
        f"input=${c.input}%-12d sec=$sec%.3f")
      jobs.foreach { j =>
        println(f"[profile]   job=${j.id}%5d sec=${(j.endMs - j.startMs) / 1e3}%7.3f  ${j.desc}")
      }
    }
    spark.stop()
  }
}
