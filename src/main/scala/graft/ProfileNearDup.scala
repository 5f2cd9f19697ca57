package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Profiling aid for the incremental near-dup sink's SMALL-batch regime
  * (VERDICT r12 item 7): drives the sf0.1 documents corpus through the
  * sink in 1.25k-doc batches and prints per-batch walls plus the
  * Spark-UI-free stage census (number of jobs/stages per batch via a
  * SparkListener) — the data for deciding which fixed cost to attack.
  * Not part of any gate. */
object ProfileNearDup {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var runMs = 0L
    @volatile var cpuMs = 0L
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1; stages += j.stageInfos.size
        if (sys.env.contains("GRAFT_ND_JOBS"))
          System.err.println(s"[ndprof-job] ${j.jobId}: " +
            j.stageInfos.map(s => s"${s.name.takeWhile(_ != '\n').take(60)}(${s.numTasks})")
              .mkString(" | "))
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskMetrics != null) {
          runMs += t.taskMetrics.executorRunTime
          cpuMs += t.taskMetrics.executorCpuTime / 1000000L
        }
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (sys.env.contains("GRAFT_ND_STAGES")) {
          val i = s.stageInfo
          val wall = for {a <- i.completionTime; b <- i.submissionTime} yield a - b
          System.err.println(f"[ndprof-stage] ${i.stageId} ${wall.getOrElse(-1L)}%d ms " +
            s"tasks=${i.numTasks} ${i.name.takeWhile(_ != '\n').take(70)}")
        }
    })

    val docs = Tables.load(spark, sfDir, "documents").select($"doc_id", $"text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndprof").toString
    // SPARK_GRAFT_ND_BATCHES: micro-batch count (default 4 ≈ the bench point;
    // 20 → 250-doc batches, the long-run file-accretion regime)
    val docBatches = sys.env.getOrElse("SPARK_GRAFT_ND_BATCHES", "4").toInt
    def ingest(src: org.apache.spark.sql.DataFrame, state: String): Double = {
      val t = System.nanoTime()
      (0L until docBatches.toLong).foreach { b =>
        val (j0, s0, t0, r0, c0) = (jobs, stages, tasks, runMs, cpuMs)
        val tb = System.nanoTime()
        graft.streaming.Streaming.incrementalNearDupSink("doc_id", "text", state)(
          src.filter($"doc_id" % docBatches === b), b)
        System.err.println(f"[ndprof] $state b$b: ${(System.nanoTime() - tb) / 1e9}%.2f s " +
          s"jobs=${jobs - j0} stages=${stages - s0} tasks=${tasks - t0} " +
          s"run=${runMs - r0}ms cpu=${cpuMs - c0}ms")
      }
      (System.nanoTime() - t) / 1e9
    }
    ingest(docs.limit(500), s"$tmp/warm"): Unit
    val runs = (1 to 2).map(i => ingest(docs, s"$tmp/state_$i"))
    val pairs = spark.read.parquet(s"$tmp/state_1/pairs").count()
    println(f"[ndprof] min wall ${runs.min}%.2f s => ${5000 / runs.min}%.0f docs/s, pairs=$pairs")
    spark.stop()
  }
}
