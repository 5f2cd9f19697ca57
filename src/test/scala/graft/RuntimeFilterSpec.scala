package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.withConfs

/** Runtime bloom-filter join pruning — the engine mechanism that makes the
  * library's shuffle-join shapes cheap at 100 TB without any code change:
  * when a dim side carries a selective predicate, Catalyst injects a
  * bloom_filter_agg subquery over the dim keys and pushes a might_contain
  * gate into the FACT scan's filter, so fact rows that cannot join die at
  * the scan instead of riding the shuffle. Off at test scale only because
  * of the size thresholds (creation side must be ≤ creationSideThreshold,
  * default 10 MB; application side scan must be ≥
  * applicationSideScanSizeThreshold, default 10 GB) — i.e. it arms itself
  * exactly in the big-fact/small-dim regime the 100 TB layout lives in.
  * This spec drops the thresholds to the test scale and pins (a) the
  * injection happens on our join shape, (b) it is a semantic no-op.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val confs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def query() = {
    val d = "/root/testdata/sf0.01"
    Tables.load(spark, d, "lineitem")
      .join(Tables.load(spark, d, "part").filter(col("p_size") === 1),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_partkey"), col("p_name"))
  }

  test("selective dim predicate injects a bloom gate into the fact scan") {
    withConfs(confs) {
      val df = query()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), "bloom gate missing from plan")
      assert(plan.contains("bloom_filter_agg"), "bloom build subquery missing")
      // the gate must sit on the FACT side (filters l_partkey), not the dim
      assert(plan.linesIterator.exists(l =>
        l.contains("might_contain") && l.contains("l_partkey")))
    }
  }

  test("the runtime filter is a semantic no-op") {
    val expected = withConfs(Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")) {
      query().orderBy("l_orderkey", "l_partkey").collect().toSeq
    }
    val filtered = withConfs(confs) {
      query().orderBy("l_orderkey", "l_partkey").collect().toSeq
    }
    assert(filtered.nonEmpty && filtered == expected)
  }
}
