package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built with the
  * extensions the mains use (`Bench.session`): the graft kernels as SQL
  * functions and the optimizer rules, so specs plan what ships. */
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
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` with the session confs `kvs` set, restoring each one's
    * previous value (or unsetting it) afterwards. */
  def withConfs[A](kvs: Seq[(String, String)])(f: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
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
