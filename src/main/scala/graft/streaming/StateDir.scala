package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The crash-safe publish protocol of a state dir — the one copy behind
  * the read-merge-rewrite sinks in [[Streaming]] and
  * [[graft.operators.Scale.compactDir]]. The one exception is
  * [[Streaming.incrementalNearDupSink]], whose append-only state commits
  * by moving files in (its scaladoc says why); it shares the checked
  * [[StateDir.rename]].
  *
  * A writer builds the complete new version of `<dir>` under [[next]]
  * (`<dir>_next`), writing each table with [[write]]: the table's parquet
  * files, then its schema (`schema.json`) in the table's hidden `_schema`
  * file. It then calls [[publish]], which:
  *  1. for marker sinks, writes the `_applied` marker as the LAST file
  *     in `_next`;
  *  2. moves the live `<dir>` aside to `<dir>_old` (if there is one);
  *  3. renames `_next` to `<dir>`;
  *  4. drops `_old`.
  * RENAME-ASIDE, not delete-then-rename: at every instant the newest
  * complete state exists under SOME name, and [[recover]], run before
  * every merge, repairs whichever window a crash hit. Every path goes
  * through the Hadoop `FileSystem` of the dir (file://, hdfs://, s3a:// —
  * a java.io.File rename never resolves URI-qualified paths), and every
  * rename result is checked: a swallowed failure would strand the merge
  * in `_next`, which is silent data loss.
  *
  * The `_applied` marker records the last applied batch id INSIDE the
  * state dir (invisible to parquet reads), so the same rename publishes
  * data and marker together: a replayed batch id is skipped, and no crash
  * point separates a state from its marker. Its payload is space-separated
  * decimal longs, the batch id first — `"<batchId>"`, or
  * `"<batchId> <n_total>"` for [[Streaming.trendingSink]]'s running
  * total. Sinks that are not replay-idempotent by themselves (counts,
  * folds, ledgers) carry it; last-write-wins upsert and compaction do
  * not.
  *
  * THE RECORDED SCHEMA. [[read]] reads a live table with the schema that
  * [[write]] recorded beside it, so a steady merge launches no
  * footer-inference job. `_schema` is written before the marker and moves
  * with its data in the same rename, so it always describes the files
  * beside it. A table without one (state published before schemas were
  * recorded, or a `_next` written by other code) is read by inference,
  * its job labelled `<caller>/state/schema`.
  *
  * THE MICRO-BATCH APPLY. A single-table sink is one call of
  * [[StateDir.applyBatch]] with its merge function, which runs, in this
  * order:
  *  1. [[recover]];
  *  2. for marker sinks, skip a batch id at or below the applied one;
  *  3. test the dir for state ([[StateDir.hasState]]);
  *  4. read the live table, if there is one;
  *  5. [[write]] the merge of it and the batch to [[next]];
  *  6. [[publish]], with the batch id as the marker for marker sinks.
  * Sinks whose marker carries more than the batch id, or whose state is
  * several tables, call [[recovered]] and [[publish]] themselves and test
  * for state with [[hasState]]. */
private[graft] final class StateDir(spark: SparkSession, dir: String, caller: String) {
  /** Where the writer puts the complete new state before [[publish]]. */
  val next: String = dir + "_next"

  private val cur = new Path(dir)
  private val nextPath = new Path(next)
  private val old = new Path(dir + "_old")
  private val fs: FileSystem = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash repair, run before every merge:
    *  - `_next` with NO live state dir ⇒ the crash hit between the
    *    move-aside and the publish rename; `_next` holds the fully merged
    *    state (it is a superset of `_old`), so publish it.
    *  - `_next` WITH a live state dir ⇒ the crash hit after the merge write
    *    but before the swap began; the streaming checkpoint never committed
    *    that batch, so it replays — drop the stale `_next`.
    *  - a surviving `_old` after the state dir is live is swap debris —
    *    drop it.
    *  - a lone `_old` (no live dir, nothing published from `_next`) is the
    *    last complete state — restore it rather than lose the table.
    *
    * Marker-carrying sinks pass `requireMarker = true`: the marker is the
    * LAST thing written into `_next` before the swap, so its presence
    * proves every table in the dir committed. Without the check, a crash
    * mid-write on the FIRST batch (no live state dir to trigger the drop
    * path) would publish a half-written `_next` — for psiDriftSink that is
    * a ref/ without its ledger/ (permanent crash-loop on every later
    * read), and for the single-table sinks a marker-less state that the
    * replayed batch then merges into AGAIN (silent double-fold for
    * non-idempotent EWMA/ledger state). An incomplete `_next` is deleted;
    * the streaming checkpoint never committed that batch, so it replays
    * from scratch. */
  def recover(requireMarker: Boolean): Unit = {
    if (fs.exists(nextPath)) {
      val complete = !requireMarker || fs.exists(new Path(nextPath, StateDir.Marker))
      if (!fs.exists(cur) && complete)
        rename(nextPath, cur, s"recovery failed to publish $nextPath -> $cur")
      else fs.delete(nextPath, true): Unit
    }
    if (fs.exists(cur)) fs.delete(old, true): Unit
    else if (fs.exists(old)) rename(old, cur, s"recovery failed to restore $old")
  }

  /** The live dir's marker fields, or None before the first publish. */
  def marker: Option[Seq[Long]] = {
    val m = new Path(cur, StateDir.Marker)
    if (!fs.exists(m)) None
    else Some(readText(m).trim.split(" ").toSeq.map(_.toLong))
  }

  /** The last applied batch id, -1 before the first publish. */
  def appliedBatch: Long = marker.fold(-1L)(_.head)

  /** Whether the live dir holds state: [[StateDir.hasState]]. */
  def hasState: Boolean = StateDir.hasState(fs, cur)

  /** The live table, or None while the dir holds no state. */
  def live: Option[DataFrame] =
    if (hasState) Some(read()) else None

  /** The live table `table` ("" is the dir itself), read with its
    * recorded schema: see THE RECORDED SCHEMA in the class doc. */
  def read(table: String = ""): DataFrame = {
    val path = sub(cur, table)
    val recorded = new Path(path, StateDir.Schema)
    if (fs.exists(recorded))
      spark.read.schema(DataType.fromJson(readText(recorded)).asInstanceOf[StructType])
        .parquet(path.toString)
    else graft.Tables.withJobDescription(spark, s"$caller/state/schema")(
      spark.read.parquet(path.toString))
  }

  /** Writes `df` as table `table` ("" is the dir itself) of [[next]], then
    * records its schema there for [[read]]. */
  def write(df: DataFrame, table: String = ""): Unit = {
    val path = sub(nextPath, table)
    df.write.mode("overwrite").parquet(path.toString)
    writeText(new Path(path, StateDir.Schema), df.schema.json)
  }

  /** Publishes [[next]] as the live dir: writes `marker` (when given) as
    * the last file in `_next`, then the checked two-rename swap. */
  def publish(marker: Long*): Unit = {
    if (marker.nonEmpty) writeText(new Path(nextPath, StateDir.Marker), marker.mkString(" "))
    if (fs.exists(cur)) rename(cur, old, s"failed to move $cur aside")
    rename(nextPath, cur, s"failed to publish $nextPath")
    fs.delete(old, true): Unit // debris left by a crash here is dropped by recover
  }

  private def rename(from: Path, to: Path, what: String): Unit =
    StateDir.rename(fs, from, to, s"$caller: $what")

  private def sub(root: Path, table: String): Path =
    if (table.isEmpty) root else new Path(root, table)

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  private def writeText(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
}

private[graft] object StateDir {
  private val Marker = "_applied"
  private val Schema = "_schema"

  /** A checked rename: `FileSystem.rename` reports failure by returning
    * false, and a swallowed false is silent data loss. */
  def rename(fs: FileSystem, from: Path, to: Path, what: => String): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(what)

  /** Opens `dir` and runs [[StateDir.recover]] — every writer's first step. */
  def recovered(spark: SparkSession, dir: String, caller: String,
                requireMarker: Boolean): StateDir = {
    val state = new StateDir(spark, dir, caller)
    state.recover(requireMarker)
    state
  }

  /** The "no state" rule, the one definition: `dir` holds state when it
    * exists and has a visible entry. Hidden `_`/`.` entries do not count,
    * directories included — a `_temporary` left by an interrupted write,
    * the `_applied` marker, a `_schema` record and checksum files are no
    * state — and a pre-created empty dir is no state, so neither sends the
    * first batch into a parquet read of a dir with no data files. The test
    * goes through the dir's own Hadoop FileSystem: a `java.io.File` check
    * would be local-only and silently skip the merge for s3a://, hdfs:// or
    * file:// dirs. */
  def hasState(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    hasState(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  private def hasState(fs: FileSystem, path: Path): Boolean =
    fs.exists(path) && fs.listStatus(path).exists { st =>
      val n = st.getPath.getName
      !(n.startsWith("_") || n.startsWith("."))
    }

  /** One micro-batch of a single-table sink, the apply sequence of the
    * class scaladoc. `merge` gets the live table, or None before the
    * first batch, and returns the complete new state.
    *
    * Only "no state yet" skips the merge with the stored table. Any other
    * failure — a union or schema mismatch, an unreadable table — fails
    * the batch: swallowed, it would overwrite `_next` with the batch
    * alone and publish a state that silently dropped everything stored.
    *
    * `batchId = Some(id)` is a marker sink: recovery requires the marker,
    * a replayed batch is skipped, and `id` is published as the marker.
    * `None` is for state that a replay merges to the same result
    * (last-write-wins): no marker and no replay skip. */
  def applyBatch(spark: SparkSession, dir: String, caller: String, batchId: Option[Long])
                (merge: Option[DataFrame] => DataFrame): Unit = {
    val state = recovered(spark, dir, caller, requireMarker = batchId.isDefined)
    if (!batchId.exists(_ <= state.appliedBatch)) {
      state.write(merge(state.live))
      state.publish(batchId.toSeq: _*)
    }
  }
}
