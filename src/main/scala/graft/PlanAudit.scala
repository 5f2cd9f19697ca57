package graft

/** Plan-discipline audit (dev tool): prints the formatted physical plan of
  * selected registered queries plus a one-line shuffle/scan summary, so a
  * "this operator is single-shuffle" claim can be re-checked any time:
  *
  *   sbt "runMain graft.PlanAudit q_asof_attrib q_sessionize"
  *
  * With no args it summarizes EVERY registered query (no full plans):
  * name, #Exchange (shuffles), #BroadcastExchange, #scans, and whether the
  * plan contains a CartesianProduct / BroadcastNestedLoopJoin. The BNLJ
  * flag is benign when the broadcast side is a single row (the ANN anchor
  * vector / a scalar corpus count — the standard scalar-join shape); it is
  * a red flag on any query not deliberately registered as a quadratic
  * baseline (q_emb_neardup_pairs).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Bench.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).size
        // HOF-IN-FILTER: a lambdafunction inside a Filter condition means
        // an interpreted higher-order expression is being re-evaluated as a
        // predicate — usually InferFiltersFromGenerate + pushdown
        // substituting an expensive projection alias below its projection
        // (explode(attribute) trap, see Dedup.shingles; measured 6× on the
        // pair queries). Physical Filter lines look like "Filter (cond)"
        // or "+- Filter ..." — match the condition text on the same line.
        val hofFilters = plan.linesIterator.count(l =>
          l.contains("Filter ") && l.contains("lambdafunction"))
        val flags = (Seq(
          "CartesianProduct" -> n("CartesianProduct"),
          "BNLJ" -> n("BroadcastNestedLoopJoin"),
          "HOF-IN-FILTER" -> hofFilters).filter(_._2 > 0))
          .map { case (k, v) => s" $k=$v" }.mkString
        println(f"[audit] $name%-28s shuffles=${n("Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition")}%-3d " +
          f"broadcasts=${n("BroadcastExchange")}%-3d scans=${n("Scan parquet|FileScan")}%-3d$flags")
        if (args.nonEmpty) df.explain("formatted")
      } catch { case e: Throwable =>
        println(s"[audit] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
