package lambdabench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It only uses hooks Spark offers to any
  * application: a `SparkListener` for jobs and stages, a
  * `QueryExecutionListener` for Catalyst phase times, the job group that
  * the harness sets around every op, and the static `CodegenMetrics`
  * histograms. Spans stay in memory until [[writeSpans]].
  *
  * Span nesting: op -> build | exec -> job -> stage. An ingest op (one
  * micro-batch) nests one span per sink call between op and job. Jobs and
  * stages find their span through the job group id; query executions,
  * which carry no group, through the op whose interval holds them. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val stageGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val openStages = mutable.HashSet.empty[Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[Qe]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      jobs(e.jobId) = Job(e.jobId,
        p.flatMap(x => Option(x.getProperty(GroupKey))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse(""),
        e.time, -1L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(x => Option(x.getProperty(GroupKey))).getOrElse("")
      stageGroup(e.stageInfo.stageId) = (g, e.stageInfo.submissionTime.getOrElse(-1L))
      openStages += e.stageInfo.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      openStages -= si.stageId
      val (g, start) = stageGroup.getOrElse(si.stageId, ("", si.submissionTime.getOrElse(-1L)))
      stages += Stage(si.stageId, stageJob.getOrElse(si.stageId, -1), g, start,
        si.completionTime.getOrElse(-1L), si.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val at = ph.values.map(_.startTimeMs).maxOption.getOrElse(System.currentTimeMillis())
    val scans = try qe.analyzed.collectLeaves().count {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    } catch { case _: Throwable => 0 }
    synchronized { qes += Qe(at, ms("optimization"), ms("planning"), scans) }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Records a harness-side span (op, build, exec, sink) in wall-clock ms. */
  def span(kind: String, id: String, parent: String, startMs: Long, endMs: Long,
           name: String): Unit = synchronized {
    spans += Span(kind, id, parent, startMs, endMs, name)
  }

  /** Runs `body` with the job group set to `group` and the phase property
    * set, so every job and stage it launches is attributed to it. */
  def within[T](group: String, phase: String)(body: => T): T = {
    sc.setJobGroup(group, phase, interruptOnCancel = false)
    sc.setLocalProperty(PhaseKey, phase)
    try body
    finally { sc.clearJobGroup(); sc.setLocalProperty(PhaseKey, null) }
  }

  /** The op spans with the given ids. */
  def ops(ids: Set[String]): Seq[Span] = synchronized {
    spans.filter(s => s.kind == "op" && ids(s.id)).toSeq
  }

  /** Waits until the listeners have been handed every event posted so
    * far. The listener bus delivers events in order, so once the end of
    * a job launched here arrives, so has every earlier job, stage and
    * query-execution event; then no job or stage seen to start may still
    * be open. Gives up after 60 s. The drain job leaves no record. */
  def drain(): Unit = {
    within(DrainGroup, "drain")(sc.parallelize(Seq(1), 1).count())
    def settled = synchronized {
      jobs.values.exists(j => j.group == DrainGroup && j.end >= 0) &&
        jobs.values.forall(_.end >= 0) && openStages.isEmpty
    }
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!settled && System.nanoTime() < deadline) Thread.sleep(10)
    synchronized {
      jobs.filterInPlace((_, j) => j.group != DrainGroup)
      stages.filterInPlace(_.group != DrainGroup)
    }
  }

  /** Per-op averages over the op spans with ids in `ops` (the timed
    * window). Jobs and stages belong to an op when their group is the op
    * id or starts with "<op id>/". */
  def perOp(ops: Seq[Span]): Map[String, Double] = synchronized {
    if (ops.isEmpty) return Map.empty
    def mine(op: String, g: String) = g == op || g.startsWith(op + "/")
    val n = ops.size.toDouble
    var inJob, gap, nJobs, buildJobs, nStages, tasks, taskMs, gcMs = 0.0
    var shR, shW, spill, opt, plan, scans = 0.0
    ops.foreach { op =>
      val js = jobs.values.filter(j => mine(op.id, j.group)).toSeq
      val busy = union(js.map(j => (j.start, if (j.end < 0) j.start else j.end)))
      inJob += busy
      gap += math.max(0.0, (op.endMs - op.startMs) - busy)
      nJobs += js.size
      buildJobs += js.count(_.phase == "build")
      val ss = stages.filter(s => mine(op.id, s.group))
      nStages += ss.size
      ss.foreach { s =>
        tasks += s.tasks; taskMs += s.runMs; gcMs += s.gcMs
        shR += s.shuffleRead; shW += s.shuffleWrite; spill += s.spill
      }
      qes.filter(q => q.atMs >= op.startMs && q.atMs <= op.endMs).foreach { q =>
        opt += q.optimizeMs; plan += q.planMs; scans += q.scans
      }
    }
    def phaseMs(kind: String) = spans.filter(s => s.kind == kind &&
      ops.exists(o => s.parent == o.id)).map(s => (s.endMs - s.startMs).toDouble).sum / n
    Map(
      "tables.scans_per_op" -> scans / n,
      "build.ms" -> phaseMs("build"),
      "build.jobs" -> buildJobs / n,
      "catalyst.optimize_ms" -> opt / n,
      "catalyst.plan_ms" -> plan / n,
      "exec.ms" -> (phaseMs("exec") + phaseMs("sink")),
      "exec.in_job_ms" -> inJob / n,
      "exec.gap_ms" -> gap / n,
      "exec.jobs" -> nJobs / n,
      "exec.stages" -> nStages / n,
      "exec.tasks" -> tasks / n,
      "exec.task_ms" -> taskMs / n,
      "exec.task_gc_ms" -> gcMs / n,
      "exec.shuffle_read_bytes" -> shR / n,
      "exec.shuffle_write_bytes" -> shW / n,
      "exec.spill_bytes" -> spill / n)
  }

  /** Jobs per call for sink spans named `name`. */
  def sinkJobs(name: String): Double = synchronized {
    val calls = spans.filter(s => s.kind == "sink" && s.name == name)
    if (calls.isEmpty) 0.0
    else calls.map(c => jobs.values.count(_.group == c.id)).sum.toDouble / calls.size
  }

  /** Every span, one JSON object per line: harness spans, then jobs and
    * stages with their parent span. */
  def writeSpans(path: String): Unit = synchronized {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(s"""{"kind":"${s.kind}","id":"${s.id}","parent":"${s.parent}",""" +
          s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      }
      jobs.values.foreach { j =>
        out.println(s"""{"kind":"job","id":"job${j.id}","parent":"${j.group}",""" +
          s""""name":"${j.phase}","start_ms":${j.start},"end_ms":${j.end}}""")
      }
      stages.foreach { s =>
        out.println(s"""{"kind":"stage","id":"stage${s.id}","parent":"job${s.job}",""" +
          s""""name":"${s.group}","start_ms":${s.start},"end_ms":${s.end},""" +
          s""""tasks":${s.tasks},"task_ms":${s.runMs},"shuffle_read_bytes":${s.shuffleRead},""" +
          s""""shuffle_write_bytes":${s.shuffleWrite}}""")
      }
    } finally out.close()
  }
}

object Trace {
  val PhaseKey = "lambdabench.phase"
  val DrainGroup = "lambdabench.drain"
  /** The local property `setJobGroup` sets (its constant is package-private). */
  val GroupKey = "spark.jobGroup.id"

  final case class Span(kind: String, id: String, parent: String, startMs: Long,
                        endMs: Long, name: String)
  final case class Job(id: Int, group: String, phase: String, start: Long, var end: Long)
  final case class Stage(id: Int, job: Int, group: String, start: Long, end: Long,
                         tasks: Int, runMs: Long, gcMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long)
  final case class Qe(atMs: Long, optimizeMs: Double, planMs: Double, scans: Int)

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total.toDouble
  }

  /** Codegen counters: (compiles, compile ms, max method bytecode bytes).
    * The histograms keep every sample while fewer than 1028 were taken;
    * past that the compile time falls back to mean x count. */
  def codegen(): (Long, Double, Long) = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = t.getSnapshot
    val ms = if (t.getCount <= snap.size) snap.getValues.sum.toDouble
      else snap.getMean * t.getCount
    (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount, ms,
      CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax)
  }

  /** JVM counters: (JIT compile ms, GC ms), cumulative since start. */
  def jvm(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime.toDouble
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
    (jit, gc)
  }
}
