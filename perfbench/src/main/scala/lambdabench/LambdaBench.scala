package lambdabench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** One benchmark run of one workload in a fresh JVM; `perfbench/run.py`
  * builds the program, launches this main and turns its report into the
  * benchmark's metrics.
  *
  *   serving  the dashboard pages as registry queries, one client, closed loop
  *   ingest   `events` micro-batches fanned out to eight streaming sinks
  *
  * The program is reached only through `SparkEntry.queries`, `Tables.load`
  * and the `Streaming.*Sink` functions. A run is: set-up (three times, the
  * last session is kept), an untimed cold pass (serving: every query once,
  * its output checked; ingest: the first three micro-batches), on serving
  * [[warmRounds]] untimed warm-up rounds, then closed-loop ops for
  * `--seconds` (serving: at least [[timedRounds]] rounds; ingest: at least
  * [[timedBatches]] micro-batches), then on ingest the check of every
  * sink's state, then live heap after GC. With `--trace 1` the [[Trace]]
  * recorder is on and the per-layer numbers are added.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace, data
  * (the tables directory), work (a scratch directory this run owns), out
  * (the JSON report), k (local cores); for ingest, stream-start and
  * stream-rows (the `event_id` range the stream replays) and batch-rows. */
object LambdaBench {

  /** Dashboard pages (show.py) as their registry analogs. The serving
    * loop runs them in rounds, each page once per round in a seeded order,
    * so every run times the same mix. */
  val serving: Seq[String] = Seq(
    "q_p5_point_lookup", "q_p6_filter_eq", "q_p7_kol_gate",
    "q_t1_top5_influence", "q_t2_top5_active",
    "q_a3_histogram", "q_a4_event_histogram",
    "q_a5_global_stats", "q_a6_engagement_stats",
    "q_a7_distinct", "q_a9_engagement_series")

  /** The eight sinks consumer1's micro-batch fans out to. */
  val sinkNames: Seq[String] = Seq("insert_if_absent", "upsert_last_wins",
    "rollup", "golden_record", "quality_monitor", "trending", "ewma",
    "hll_distinct")

  /** Serving rounds: untimed warm-up rounds after the cold pass, and the
    * fewest timed rounds (four samples of every page). */
  val warmRounds = 2
  val timedRounds = 4

  /** Timed ingest micro-batches per run: five, for a median, as many as
    * the benchmark's time budget takes (about 5 s each). */
  val timedBatches = 5

  private def nowMs(): Long = System.currentTimeMillis()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final class Run(val spark: SparkSession, val data: String, val trace: Option[Trace]) {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    private var nextId = 0
    /** When set, op span ids land in `timedIds` (the timed window). */
    var timing = false
    val timedIds = mutable.ArrayBuffer.empty[String]

    def newId(): String = { nextId += 1; s"op$nextId" }

    /** One attempted op: failures are counted and reported, never thrown. */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable =>
        failed += 1
        if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
    }

    /** Runs `body` as a span of `kind` under `parent`; with tracing off it
      * only runs the body. */
    def traced[T](kind: String, id: String, parent: String, name: String)(body: => T): T =
      trace match {
        case None => body
        case Some(t) =>
          val s = nowMs()
          try t.within(id, kind)(body) finally t.span(kind, id, parent, s, nowMs(), name)
      }

    /** A registry query: the registry call (build) plus a noop write
      * (exec). Returns the elapsed ms. */
    def query(name: String): Double = {
      val id = newId()
      val t0 = System.nanoTime()
      val s = nowMs()
      val df = traced("build", id + "/b", id, name)(SparkEntry.queries(name)(spark, data))
      traced("exec", id + "/e", id, name)(
        df.write.format("noop").mode("overwrite").save())
      trace.foreach(_.span("op", id, "", s, nowMs(), name))
      if (timing) timedIds += id
      secs(t0) * 1000
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val k = a("k").toInt
    val work = a("work")
    require(Seq("serving", "ingest").contains(workload), s"unknown workload $workload")
    val rng = new scala.util.Random(seed)
    // JVM uptime at the end of each phase, for the run's time budget
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = phases(phase) =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    // ---- set-up, three times; the last session stays live
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var events: Array[Row] = Array.empty
    var eventSchema: org.apache.spark.sql.types.StructType = null
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$k]")
        .appName(s"lambdabench-$workload")
        .config("spark.sql.shuffle.partitions", k.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // a dashboard opens its tables; a stream consumer loads its stream
      if (workload == "serving") Tables.all(spark, a("data"))
      else {
        val ev = Tables.load(spark, a("data"), "events")
        val from = a("stream-start").toLong
        eventSchema = ev.schema
        events = ev.filter(col("event_id") >= from &&
            col("event_id") < from + a("stream-rows").toLong)
          .collect().sortBy(_.getAs[Long]("event_id"))
      }
      setups += secs(t0)
      mark(s"setup$i")
      if (i < 3) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val trace = if (tracing) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val run = new Run(spark, a("data"), trace)
    val (jit0, gc0) = Trace.jvm()
    val cg0 = Trace.codegen()

    val report = mutable.LinkedHashMap.empty[String, String]
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""

    var cgCold = (0L, 0.0, 0L)

    workload match {
      case "serving" =>
        // cold pass, untimed: the first execution of every page in this
        // JVM, which also collects and fingerprints its result
        val cold = rng.shuffle(serving).map { q =>
          val t0 = System.nanoTime()
          val d = run.attempt(s"check $q")(Digest.of(SparkEntry.queries(q)(spark, run.data)))
          (q, secs(t0) * 1000, d)
        }
        cgCold = Trace.codegen()
        mark("cold")
        report("cold_ms_by_kind") = cold.map { case (q, ms, _) => s"${str(q)}:${num(ms)}" }
          .mkString("{", ",", "}")
        report("digests") = cold.collect { case (q, _, Some(d)) =>
          s"""${str(q)}:{"rows":${d.rows},"hash":"${d.hash}"}"""
        }.mkString("{", ",", "}")
        // warm-up rounds, untimed: the first rounds after the cold pass run
        // 10 to 30 % slow while the JIT compiles the query path
        for (_ <- 1 to warmRounds; q <- rng.shuffle(serving))
          run.attempt(s"warm $q")(run.query(q))
        mark("warm")
        // timed closed loop: one client, the next query when one returns;
        // whole rounds, each page once per round, for at least `--seconds`
        // and at least [[timedRounds]] rounds
        val samples = mutable.ArrayBuffer.empty[Double]
        val kinds = mutable.ArrayBuffer.empty[String]
        val t0 = System.nanoTime()
        run.timing = true
        var rounds = 0
        while (rounds < timedRounds || secs(t0) < seconds) {
          rng.shuffle(serving).foreach { q =>
            run.attempt(s"timed $q")(run.query(q)).foreach { ms => samples += ms; kinds += q }
          }
          rounds += 1
        }
        report("window_s") = num(secs(t0))
        mark("timed")
        report("sample_ms") = arr(samples)
        report("sample_kind") = kinds.map(str).mkString("[", ",", "]")

      case "ingest" =>
        require(events.length == a("stream-rows").toInt,
          s"events holds ${events.length} rows in the stream's event_id range")
        // the stream, in event order, cut into equal micro-batches
        val batches = events.grouped(a("batch-rows").toInt).toSeq
        val stateRoot = s"$work/state"
        val sinks = Sinks(s"$stateRoot/inc")
        def applyBatch(i: Int, timedSinks: Option[mutable.Map[String, mutable.ArrayBuffer[Double]]]): Double = {
          val id = run.newId()
          val s = nowMs()
          val t0 = System.nanoTime()
          val df = spark.createDataFrame(batches(i).toSeq.asJava, eventSchema)
          sinks.foreach { case (name, sink) =>
            val c0 = System.nanoTime()
            run.attempt(s"batch $i $name")(
              run.traced("sink", s"$id/$name", id, name)(sink(df, i.toLong)))
            timedSinks.foreach(_.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs(c0) * 1000)
          }
          trace.foreach(_.span("op", id, "", s, nowMs(), s"batch$i"))
          if (timedSinks.isDefined) run.timedIds += id
          secs(t0) * 1000
        }
        // cold: a fresh consumer's first three micro-batches, the first
        // call of every sink and the two warm-up batches after it; the
        // latency window starts after them
        report("cold_batch_ms") = arr((0 to 2).map(applyBatch(_, None)))
        cgCold = Trace.codegen()
        mark("cold")
        val perSink = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
        val batchMs = mutable.ArrayBuffer.empty[Double]
        var next = 3
        val t0 = System.nanoTime()
        // at least five timed batches, whose median is the latency, and
        // at least `--seconds`, as far as the stream reaches
        while ((batchMs.size < timedBatches || secs(t0) < seconds) && next < batches.size) {
          batchMs += applyBatch(next, Some(perSink))
          next += 1
        }
        val window = secs(t0)
        mark("timed")
        report("window_s") = num(window)
        report("sample_ms") = arr(batchMs)
        report("sink_ms") = perSink.map { case (n, xs) => s"${str(n)}:${arr(xs)}" }
          .mkString("{", ",", "}")
        // correctness: each sink's state against a one-shot batch
        // computation over every row it was fed
        val fed = spark.createDataFrame(batches.take(next).flatten.toSeq.asJava, eventSchema)
        val checks = sinkNames.map { name =>
          name -> run.attempt(s"check $name") {
            val why = Sinks.check(spark, name, s"$stateRoot/inc/$name", fed)
            if (why.nonEmpty) throw new IllegalStateException(why)
          }.isDefined
        }
        mark("check")
        report("sink_checks") = checks.map { case (n, ok) => s"${str(n)}:$ok" }
          .mkString("{", ",", "}")
        report("state") = sinkNames.map { n =>
          val (files, bytes) = dirSize(new java.io.File(s"$stateRoot/inc/$n"))
          s"""${str(n)}:{"files":$files,"bytes":$bytes}"""
        }.mkString("{", ",", "}")
    }

    val (jit1, gc1) = Trace.jvm()
    report("heap_live_mb") = num(liveHeapMb())
    mark("heap")

    trace.foreach { t =>
      t.drain()
      val ops = t.ops(run.timedIds.toSet)
      val layers = mutable.LinkedHashMap.empty[String, Double]
      layers ++= t.perOp(ops)
      // direct Tables.load calls on every table, after the timed window
      val loads = (1 to 3).flatMap(_ => Tables.names.map { n =>
        val t0 = System.nanoTime(); Tables.load(spark, run.data, n); secs(t0) * 1000
      })
      layers("tables.load_ms") = median(loads)
      layers("codegen.classes") = (cgCold._1 - cg0._1).toDouble
      layers("codegen.compile_ms") = cgCold._2 - cg0._2
      layers("codegen.max_method_bytes") = cgCold._3.toDouble
      layers("jvm.jit_ms") = jit1 - jit0
      layers("jvm.gc_ms") = gc1 - gc0
      sinkNames.foreach(n => layers(s"sink.$n.jobs") = t.sinkJobs(n))
      report("layers") = layers.map { case (n, v) => s"${str(n)}:${num(v)}" }
        .mkString("{", ",", "}")
      t.writeSpans(s"$work/spans.jsonl")
    }

    mark("trace")
    report("phase_end_s") = phases.map { case (n, v) => s"${str(n)}:${num(v)}" }
      .mkString("{", ",", "}")
    report("setup_s") = arr(setups)
    report("attempted") = run.attempted.toString
    report("failed") = run.failed.toString
    report("errors") = run.errors.map(str).mkString("[", ",", "]")
    report("env") = Seq(
      "spark" -> spark.version,
      "java" -> sys.props("java.version"),
      "k" -> k.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "available_processors" -> Runtime.getRuntime.availableProcessors.toString)
      .map { case (kk, v) => s"${str(kk)}:${str(v)}" }.mkString("{", ",", "}")
    val json = report.map { case (kk, v) => s"${str(kk)}:$v" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Used heap after full collections, once Spark's cleaner has had the
    * chance to release what the collections made unreachable. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(250)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def dirSize(f: java.io.File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (1L, f.length())
    else f.listFiles().map(dirSize).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
