package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The crash-safe publish protocol of a state dir — the one copy behind
  * the read-merge-rewrite sinks in [[Streaming]] and
  * [[graft.operators.Scale.compactDir]]. The one exception is
  * [[Streaming.incrementalNearDupSink]], whose append-only state commits
  * by moving files in (its scaladoc says why); it shares the checked
  * [[StateDir.rename]].
  *
  * A writer builds the complete new version of `<dir>` under [[next]]
  * (`<dir>_next`) and then calls [[publish]], which:
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
  * not. */
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
    else {
      val in = fs.open(m)
      val text =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      Some(text.trim.split(" ").toSeq.map(_.toLong))
    }
  }

  /** The last applied batch id, -1 before the first publish. */
  def appliedBatch: Long = marker.fold(-1L)(_.head)

  /** Publishes [[next]] as the live dir: writes `marker` (when given) as
    * the last file in `_next`, then the checked two-rename swap. */
  def publish(marker: Long*): Unit = {
    if (marker.nonEmpty) {
      val out = fs.create(new Path(nextPath, StateDir.Marker), true)
      try out.write(marker.mkString(" ").getBytes("UTF-8")) finally out.close()
    }
    if (fs.exists(cur)) rename(cur, old, s"failed to move $cur aside")
    rename(nextPath, cur, s"failed to publish $nextPath")
    fs.delete(old, true): Unit // debris left by a crash here is dropped by recover
  }

  private def rename(from: Path, to: Path, what: String): Unit =
    StateDir.rename(fs, from, to, s"$caller: $what")
}

private[graft] object StateDir {
  private val Marker = "_applied"

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
}
