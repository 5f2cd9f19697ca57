package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.withConfs

/** AQE skew-join splitting — the RUNTIME half of the skew story. The
  * library's salted twins (`q_j1_linkage_salted`, `saltedBandSelfJoin`)
  * are the static mitigation for KNOWN hot keys; AQE's skew handling is
  * the dynamic one for skew discovered at run time: after the shuffle
  * materializes, oversized partitions of a sort-merge join are split into
  * sub-partitions (the other side's matching partition is replicated),
  * so one hot key stops serializing a 1000-executor stage behind a single
  * straggler task. Dormant at test scale only because of the size
  * thresholds — this spec drops them and pins (a) the optimized plan
  * marks the join skew=true, (b) splitting is a semantic no-op.
  */
class SkewJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val confs = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // count a partition as skewed at >16KB and 2x the median, and stop
    // AQE folding everything into one partition first
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  // 50k rows on ONE key plus a uniform tail, joined to a small dim with
  // payload — the classic hot-key fact-dim join
  private def skewed() = {
    val fact = spark.range(0, 60000)
      .select(when(col("id") < 50000, 7L).otherwise(col("id") % 97).as("k"),
        col("id").as("payload"))
    val dim = spark.range(0, 97)
      .select(col("id").as("k"), concat(lit("d"), col("id")).as("name"),
        lpad(lit("x"), 64, "x").as("pad"))
    fact.join(dim, "k").select(col("k"), col("payload"), col("name"))
  }

  test("AQE splits the hot partition and marks the join skew=true") {
    withConfs(confs) {
      val df = skewed()
      // execute THIS plan instance (count() would build its own execution
      // and leave df's adaptive plan un-finalized)
      assert(df.collect().length == 60000)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("skew=true"), s"no skew split in:\n$plan")
    }
  }

  test("skew splitting is a semantic no-op") {
    val expected = withConfs(Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      skewed().groupBy("k").agg(count(lit(1)).as("n"), sum("payload").as("s"))
        .orderBy("k").collect().toSeq
    }
    val split = withConfs(confs) {
      skewed().groupBy("k").agg(count(lit(1)).as("n"), sum("payload").as("s"))
        .orderBy("k").collect().toSeq
    }
    assert(split.nonEmpty && split == expected)
  }
}
