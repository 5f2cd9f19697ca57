package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{jobsOf, withConfs}

/** Plan-discipline RATCHET over the lazily-constructible query core: the
  * graft.PlanAudit dev tool turned into a regression gate. Asserts, from
  * each query's physical plan at sf0.001 (analysis only — nothing
  * executes), that
  *
  *  1. NO query plans a CartesianProduct (the full board measured zero —
  *     bench_history/PLAN_AUDIT_r14.txt);
  *  2. NO Filter re-evaluates an interpreted higher-order expression
  *     (the explode-alias pushdown trap — PlanAudit's HOF-IN-FILTER);
  *  3. BroadcastNestedLoopJoins appear ONLY in queries frozen in the
  *     allowlist below, at no more than their frozen count. Every entry
  *     is a 1-row scalar join (a corpus total / an anchor vector riding
  *     a broadcast — the benign shape PlanAudit documents); a NEW BNLJ
  *     anywhere else is the constant-folded-join-key accident the
  *     skylineNd refine hit, and it should fail the build, not the
  *     bench.
  *
  * The spec audits the LAZY core only (construction = analysis): the
  * eager families (LSH/ANN/k-means/tokenizer/classifier builders run
  * volume gates and training jobs at construction time) are covered by
  * the full PlanAudit run recorded per round instead. */
class PlanDisciplineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  /** Lazy queries audited here; value = frozen max BNLJ count. */
  private val LazyCore: Map[String, Int] = Map(
    // projections / filters / functions / joins / aggs / top-k
    "q_p1_projection" -> 0, "q_p5_point_lookup" -> 0, "q_p6_filter_eq" -> 0,
    "q_p7_kol_gate" -> 0, "q_p11_null_guard" -> 0,
    "q_f1_influence" -> 0, "q_f2_brand_rename" -> 0, "q_f2_rename_nested" -> 0,
    "q_f4_filename_epoch" -> 0, "q_f5_json_props" -> 0,
    "q_j1_linkage" -> 0, "q_j1_linkage_salted" -> 0, "q_j2_dim_enrich" -> 0,
    "q_j3_anti" -> 0, "q_j3_semi" -> 0,
    "q_a1_rollup" -> 0, "q_a2_merge_partials" -> 0, "q_a3_histogram" -> 0,
    "q_a4_event_histogram" -> 0, "q_a5_global_stats" -> 0,
    "q_a6_engagement_stats" -> 0, "q_a7_distinct" -> 0,
    "q_a8_dedup_first_wins" -> 0, "q_a9_engagement_series" -> 0,
    "q_t1_top5_influence" -> 0, "q_t2_top5_active" -> 0, "q_union_names" -> 0,
    // relational breadth
    "q_funnel" -> 2, "q_cohort_retention" -> 0, "q_yoy_revenue" -> 0,
    "q_trending" -> 0, "q_correlation" -> 0, "q_user_trend" -> 0,
    "q_gini" -> 0, "q_mad_outliers" -> 0, "q_winsorized" -> 0,
    "q_skew_report" -> 3, "q_hist_quantiles" -> 0, "q_profile_table" -> 0,
    "q_asof_attrib" -> 0, "q_sessionize" -> 0,
    // text / curation (lazy members)
    "q_text_stats" -> 0, "q_quality_score" -> 0, "q_lang_id" -> 0,
    "q_fingerprint" -> 0, "q_chunk" -> 0, "q_pack_sequences" -> 0,
    "q_quality_flags" -> 0, "q_social_tags" -> 0, "q_split_assign" -> 0,
    "q_normalize_text" -> 0, "q_sentences" -> 0, "q_redact_pii" -> 0,
    "q_dedup_exact" -> 0, "q_url_dedup" -> 0,
    "q_unigram_logprob" -> 1, "q_bigram_logprob" -> 1,
    "q_tfidf_top_terms" -> 1, "q_min_k_prob" -> 1,
    // table maintenance / planning / analytics pack
    "q_scd2_build" -> 0, "q_cdc_apply" -> 0, "q_compaction_plan" -> 0,
    "q_zorder_value" -> 0, "q_hilbert_value" -> 0,
    "q_skyline" -> 0, "q_ewma" -> 0, "q_benford" -> 0,
    "q_script_detect" -> 0, "q_snapshot_diff" -> 0,
    "q_join_size" -> 3, "q_chi2_independence" -> 3,
    "q_markov_transitions" -> 0, "q_ab_ttest" -> 1,
    "q_mojibake" -> 0, "q_bootstrap_ci" -> 0, "q_rfm_segments" -> 0,
    "q_ks_test" -> 0)

  test("lazy core: no cartesians, no HOF-in-filter, BNLJ only where frozen") {
    val missing = LazyCore.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"allowlist names no longer registered: $missing")
    val violations = LazyCore.toSeq.sortBy(_._1).flatMap { case (name, maxBnlj) =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      def n(p: String) = p.r.findAllIn(plan).size
      val cart = n("CartesianProduct")
      val bnlj = n("BroadcastNestedLoopJoin")
      val hof = plan.linesIterator.count(l =>
        l.contains("Filter ") && l.contains("lambdafunction"))
      Seq(
        if (cart > 0) Some(s"$name: CartesianProduct=$cart") else None,
        if (bnlj > maxBnlj) Some(s"$name: BNLJ=$bnlj > frozen $maxBnlj") else None,
        if (hof > 0) Some(s"$name: HOF-IN-FILTER=$hof") else None).flatten
    }
    assert(violations.isEmpty, violations.mkString("; "))
  }

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
  private val RangeExchange = "Exchange rangepartitioning"
  private val ruleOff =
    Seq("spark.sql.optimizer.excludedRules" -> "graft.plans.SmallSortOnePartition")

  /** Lazy-core queries whose sort keeps its range exchange at sf0.001:
    * each sorts a join's output (or an aggregate over one), and without
    * column statistics Spark estimates a join's size as the product of
    * its sides' sizes, far above the advisory partition size. */
  private val RangeSorted = Set("q_bigram_logprob", "q_j2_dim_enrich",
    "q_snapshot_diff", "q_winsorized", "q_yoy_revenue")

  test("small sorts: no lazy-core query plans a range exchange, but for the frozen join sorts") {
    val ranged = LazyCore.keySet.filter(planOf(_).contains(RangeExchange))
    assert(ranged == RangeSorted, s"range exchanges in ${ranged.toSeq.sorted.mkString(", ")}")
  }

  test("small sorts: a top-k keeps TakeOrderedAndProject and adds no exchange") {
    def exchanges(p: String) = "Exchange ".r.findAllIn(p).size
    Seq("q_t1_top5_influence", "q_t2_top5_active").foreach { name =>
      val (on, off) = (planOf(name), withConfs(ruleOff)(planOf(name)))
      assert(on.contains("TakeOrderedAndProject") && !on.contains("Coalesce"), on)
      assert(exchanges(on) == exchanges(off), s"$on\nvs rule off:\n$off")
    }
  }

  test("small sorts: a range exchange above the advisory size, without AQE or without coalescing") {
    val name = "q_a3_histogram"
    assert(!planOf(name).contains(RangeExchange))
    assert(withConfs(ruleOff)(planOf(name)).contains(RangeExchange))
    Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false").foreach { kv =>
      assert(withConfs(Seq(kv))(planOf(name)).contains(RangeExchange), kv)
    }
  }

  test("small sorts: the same row sequence with the rule on and off, in fewer jobs") {
    def run(name: String) = {
      var rows = Array.empty[org.apache.spark.sql.Row]
      val jobs = jobsOf { rows = SparkEntry.queries(name)(spark, sfDir).collect() }
      (rows, jobs)
    }
    Seq("q_a9_engagement_series", "q_a3_histogram", "q_p6_filter_eq").foreach { name =>
      run(name) // resolves the tables, so neither side counts that job
      val ((on, jobsOn), (off, jobsOff)) = (run(name), withConfs(ruleOff)(run(name)))
      assert(on.nonEmpty && on.sameElements(off), name)
      assert(jobsOn.size < jobsOff.size, s"$name: jobs $jobsOn vs rule off $jobsOff")
    }
  }

  /** FULL-REGISTRY SHUFFLE RATCHET — the BNLJ-freeze pattern applied to
    * exchange counts: every registered query's shuffle count (Exchange
    * hash/range/single) is pinned in `src/test/resources/
    * shuffles_pinned.tsv`; a refactor that adds an exchange to ANY query
    * fails the build, not the bench. Counts come from the physical plan
    * at sf0.001 under THIS suite's session (4 shuffle partitions, AQE
    * on, the graft extensions, so `SmallSortOnePartition` has shaped the
    * sorts); the initial adaptive plan is planned before any stage runs,
    * so the counts are deterministic.
    * Construction of the eager families (LSH/ANN/k-means/tokenizers)
    * runs their bounded sf0.001 build jobs once (StateCache-memoized
    * across JVMs) — measured ~1 min cold for the whole registry.
    *
    * A STRICT ratchet: an unpinned (new) query fails too, and an
    * IMPROVED count fails until re-pinned — regenerate deliberately with
    * `SPARK_GRAFT_PIN_REGEN=1 sbt "testOnly graft.PlanDisciplineSpec"`
    * and review the diff; that review IS the ratchet. */
  test("full registry: shuffle counts pinned per query") {
    val pinPath = java.nio.file.Paths.get("src/test/resources/shuffles_pinned.tsv")
    val shufflePat = "Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition".r
    val current: Seq[(String, String)] = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val entry = try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString
        shufflePat.findAllIn(plan).size.toString
      } catch { case e: Throwable =>
        s"FAILED:${Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(120)}"
      }
      name -> entry
    }
    if (sys.env.contains("SPARK_GRAFT_PIN_REGEN")) {
      java.nio.file.Files.createDirectories(pinPath.getParent)
      java.nio.file.Files.write(pinPath,
        current.map { case (n, s) => s"$n\t$s" }.mkString("", "\n", "\n")
          .getBytes("UTF-8"))
      info(s"regenerated ${current.size} pins at $pinPath")
    } else {
      assert(java.nio.file.Files.exists(pinPath),
        s"missing $pinPath — regenerate with SPARK_GRAFT_PIN_REGEN=1")
      val pinned = scala.io.Source.fromFile(pinPath.toFile, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(n, s) = l.split("\t", 2); n -> s
        }.toMap
      val violations = current.flatMap { case (name, got) =>
        pinned.get(name) match {
          case None => Some(s"$name: UNPINNED (got $got) — regen + review")
          case Some(p) if p != got => Some(s"$name: shuffles $got != pinned $p")
          case _ => None
        }
      } ++ pinned.keySet.diff(current.map(_._1).toSet)
        .map(n => s"$n: pinned but no longer registered — regen")
      assert(violations.isEmpty, violations.mkString("; "))
    }
  }
}
