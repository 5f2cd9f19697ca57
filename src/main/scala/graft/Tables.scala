package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table registry over the driver's parquet testdata (TESTDATA.md) plus the
  * reference's logical-table schemas (FIXTURES.md §A) used by the
  * streaming/JSON ingest path and unit tests.
  *
  * Parquet is self-describing, and a schema-less `spark.read.parquet` runs
  * a Spark job to read the file footers on every call. [[load]] pays that
  * job once per table: a process-wide catalog keyed on the table path and
  * the session's parquet inference settings ([[InferenceConfs]]) holds the
  * schema inferred from it, stamped with the (path, length, mtime) of
  * every data file ([[graft.operators.StateCache.fingerprint]]). A later
  * load whose stamp matches reads with the cached schema, so no job runs; a
  * rewritten table is inferred again and replaces its entry, so the catalog
  * holds one entry per path and settings. The settings are part of the key,
  * not of the stamp, because loading `events` turns `nanosAsLong` on for
  * the session: tables loaded before and after it keep both entries rather
  * than re-inferring. Only schemas are cached, never DataFrames: a
  * DataFrame would pin its session and a stale file listing. Catalyst still prunes columns and pushes filters into the
  * scan. The explicit StructTypes below mirror the reference's declared
  * schemas (reference: consumer2/consumer2.py:78-114) for the schema'd-JSON
  * path (SURVEY.md §2.1 S9), where inference would be a scale hazard: at
  * 100 TB a schema-inference pass is a full extra read of the lake.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One logical table. Column pruning + predicate pushdown reach the scan
    * because nothing materializes between read and the first transform.
    *
    * `events.ts` arrives in whichever flavor the writer chose, and a real
    * lake has all of them; normalize every flavor to TimestampType (LTZ)
    * here, in ONE place, so the 11 downstream `unix_micros` call sites
    * never see anything else:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read nanos
    *     as long (legacy conf) and truncate to micros with integer
    *     arithmetic — exact, no double round-trip.
    *   - TIMESTAMP_NTZ (plain `timestamp[us]`, e.g. pandas-written parquet
    *     without UTC adjustment): cast to TimestampType — exact under the
    *     repo-wide UTC session timezone (same wall-clock micros). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(read(spark, s"$sfDir/$name.parquet", name))
    } else read(spark, s"$sfDir/$name.parquet", name)
  }

  /** The session settings that change what parquet schema inference
    * returns for the same files; part of every catalog key. */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** (path, settings) -> (stamp, raw inferred schema): the catalog of the
    * class doc. */
  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, StructType)]()

  /** `path` read with its cataloged raw schema, inferring it (one job,
    * labelled `tables/<name>/schema`) when the stamp is new. */
  private def read(spark: SparkSession, path: String, name: String): DataFrame = {
    val key = (path,
      InferenceConfs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}").mkString(","))
    val stamp = graft.operators.StateCache.fingerprint(spark, path, "")
    Option(catalog.get(key)).filter(_._1 == stamp) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val raw = withJobDescription(spark, s"tables/$name/schema")(spark.read.parquet(path))
        catalog.put(key, (stamp, raw.schema))
        raw
    }
  }

  /** Runs `body` with the jobs it launches described as `desc`, restoring
    * the caller's description afterwards. */
  private[graft] def withJobDescription[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Normalize `ts` to TimestampType regardless of source flavor (see
    * [[load]]). Factored out so tests can poison a frame with each flavor
    * and assert every registered temporal query still analyzes. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def all(spark: SparkSession, sfDir: String): Map[String, DataFrame] =
    names.map(n => n -> load(spark, sfDir, n)).toMap

  // ---------------------------------------------------------------------
  // Reference logical tables (consumer2.py:78-109), used for the JSON/
  // streaming ingest path and fixtures. All nullable = permissive reads.
  // ---------------------------------------------------------------------

  /** projects_social_media (consumer2.py:80-84). `twitter` arrives as a JSON
    * *string* and is parsed with [[twitterSchema]] (consumer2.py:111-114). */
  val projectsSchema: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("projectId", StringType),
    StructField("twitter", StringType),
    StructField("website", StringType),
    StructField("timestamp", LongType)))

  /** Inner schema of the `twitter` JSON string (consumer2.py:111-114). */
  val twitterSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("url", StringType)))

  /** tweets (consumer2.py:86-93). */
  val tweetsSchema: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("author", StringType),
    StructField("authorName", StringType),
    StructField("views", LongType),
    StructField("likes", LongType),
    StructField("replyCounts", LongType),
    StructField("retweetCounts", LongType),
    StructField("timestamp", LongType)))

  /** twitter_users (consumer2.py:95-107). */
  val usersSchema: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("userName", StringType),
    StructField("url", StringType),
    StructField("favouritesCount", IntegerType),
    StructField("friendsCount", IntegerType),
    StructField("listedCount", IntegerType),
    StructField("mediaCount", IntegerType),
    StructField("followersCount", IntegerType),
    StructField("statusesCount", IntegerType),
    StructField("blue", BooleanType),
    StructField("location", StringType),
    StructField("timestamp", LongType)))

  /** events.props inner schema (FIXTURES.md §B). */
  val propsSchema: StructType = StructType(Seq(StructField("k", LongType)))
}
