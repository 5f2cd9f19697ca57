package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C4-style blocklist gating: which blocklisted terms does each document
  * contain, and should it be dropped? The scan itself is the
  * [[graft.plans.AcMatches]] Aho–Corasick expression — one automaton walk
  * per row regardless of lexicon size — so a 50k-entry badword list costs
  * the same plan shape as a 5-entry one: ONE scan stage, no join, no
  * explode, no per-pattern column. (C4 dropped any page containing a
  * "List of Dirty, Naughty …" entry; RefinedWeb and FineWeb gate URLs
  * and text the same way.)
  */
object Blocklist {

  /** Per-document blocklist audit: `(id, hits, n_hits, blocked)` where
    * `hits` is the lexicographically-sorted distinct matched terms.
    * Case-insensitive substring semantics (both sides lowercased — the
    * C4 convention); pad patterns with spaces for word-boundary
    * matching. Pure scan stage; compose `.filter(!col("blocked"))` for
    * the drop form without re-scanning. */
  def audit(df: DataFrame, id: String, text: String,
            patterns: Seq[String]): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    require(patterns.nonEmpty, "Blocklist.audit: empty blocklist")
    df.select(col(id),
        call_function("ac_matches", lower(col(text)),
          typedlit(patterns.map(_.toLowerCase))).as("hits"))
      .withColumn("n_hits", size(col("hits")))
      .withColumn("blocked", col("n_hits") > 0)
  }
}
