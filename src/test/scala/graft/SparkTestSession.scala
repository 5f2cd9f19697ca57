package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The descriptions of the jobs `body` launches, counted by a
    * [[Profile.Collector]] drained by its sentinel job. */
  def jobsOf(body: => Unit): Seq[String] = {
    val c = new Profile.Collector(spark.sparkContext)
    try {
      c.drain()
      c.reset()
      body
      c.drain()
      c.jobs.map(_.desc)
    } finally spark.sparkContext.removeSparkListener(c)
  }
}
