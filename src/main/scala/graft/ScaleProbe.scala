package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale probe: does the measured cost curve match the plan-shape
  * predictions SCALE.md makes for each operator family?
  *
  * Correctness gates run at sf0.01 and the bench at sf0.1; every 100 TB
  * claim above that rests on plan audits. This main converts the claims to
  * measurements by synthesizing a ~10x corpus (an sf1-equivalent for the
  * tables the quiet-top-10 touch) and re-running the exact registered
  * queries against it, plus two targeted micro-probes the audits cannot
  * express:
  *
  *   - `dupgroups`: the union-find fast path vs the distributed
  *     label-propagation loop on either side of the `smallGraphBound`
  *     crossover (Dedup.dupGroups) — both paths timed at both sizes, and
  *     result equality asserted, so "no cliff at the bound" is a number,
  *     not a sentence.
  *   - `spans`: substringSpans capped vs uncapped on a boilerplate-salted
  *     corpus — the df-cap's purpose is bounding hot-window fan-out at
  *     cap^2; the probe plants a corpus-wide boilerplate run and measures
  *     the quadratic blow-up the cap removes.
  *
  * SYNTHESIS preserves each family's within-corpus structure exactly while
  * keeping replicas disjoint, so the predicted scaling of every pair-
  * generating family is linear (x replicas), not quadratic:
  *   - documents: every token of replica r > 0 gets a `~r<r>` suffix — a
  *     bijective shingle remap, so within-replica Jaccard/MinHash/prefix
  *     structure is IDENTICAL to the base corpus and cross-replica shingle
  *     overlap is zero.
  *   - embeddings: replica r > 0 is a signed circular shift (an orthogonal
  *     transform) of the base vectors — within-replica cosines preserved
  *     exactly (up to float reassociation), cross-replica cosines
  *     pseudo-random.
  *   - orders/lineitem/part: join keys offset per replica — ten disjoint
  *     trade graphs / basket universes.
  *
  * Stages (arg 1): synth | quiet | dupgroups | spans | all. Results append
  * to target/probe/probe_results.jsonl (one JSON object per measurement)
  * and echo to stdout as `[probe] {...}`.
  */
object ScaleProbe {
  private val Off = 10000000L
  private val Dim = 64

  /** Overridable so specs exercising synth() don't append smoke lines to
    * the canonical measurement file. */
  private def resultsPath: String =
    sys.props.getOrElse("graft.probe.results", "target/probe/probe_results.jsonl")

  private def emit(fields: (String, Any)*): Unit = {
    val json = fields.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v: Double) => f""""$k":$v%.3f"""
      case (k, v: Seq[_]) =>
        s""""$k":[${v.map(x => f"${x.asInstanceOf[Double]}%.3f").mkString(",")}]"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    println(s"[probe] $json")
    val f = new java.io.File(resultsPath)
    f.getParentFile.mkdirs()
    val w = new java.io.FileWriter(f, true)
    try w.write(json + "\n") finally w.close()
  }

  // ------------------------------------------------------------------
  // Synthesis
  // ------------------------------------------------------------------

  /** Offset `keys` by r*Off — replica key spaces are disjoint. */
  private def offsetKeys(df: DataFrame, r: Int, keys: Seq[String]): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * Off)))

  private def replicate(base: DataFrame, replicas: Int)(mk: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until replicas).map(r => if (r == 0) base else mk(base, r)).reduce(_ unionByName _)

  def synth(spark: SparkSession, baseDir: String, outDir: String, replicas: Int): Unit = {
    val t0 = System.nanoTime()
    val docs = Tables.load(spark, baseDir, "documents")
    // bijective token remap: suffix every token with ~r<r> (no whitespace,
    // survives the repo-wide split(trim(text), "\\s+") tokenizer)
    replicate(docs, replicas) { (b, r) =>
      offsetKeys(b, r, Seq("doc_id"))
        .withColumn("text",
          array_join(transform(split(trim(col("text")), "\\s+"),
            t => concat(t, lit(s"~r$r"))), " "))
        .withColumn("n_chars", length(col("text")))
    }.repartition(16).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.load(spark, baseDir, "embeddings")
    // signed circular shift: orthogonal, so within-replica cosines are the
    // base corpus's; the shift stride and sign pattern differ per replica
    replicate(emb, replicas) { (b, r) =>
      val shift = (r * 7) % Dim
      offsetKeys(b, r, Seq("vec_id"))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(Dim - 1)), i =>
            element_at(col("embedding"), (pmod(i + lit(shift), lit(Dim)) + 1).cast("int")) *
              when(pmod(xxhash64(lit(r), i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
            .cast("array<float>"))
    }.repartition(16).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    replicate(Tables.load(spark, baseDir, "orders"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("o_orderkey", "o_custkey"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    replicate(Tables.load(spark, baseDir, "lineitem"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("l_orderkey", "l_partkey", "l_suppkey"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    replicate(Tables.load(spark, baseDir, "part"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("p_partkey"))
    }.repartition(8).write.mode("overwrite").parquet(s"$outDir/part.parquet")

    // events: user universes disjoint per replica, timestamps untouched —
    // so per-user day spans (recursion DEPTH) are scale-invariant and only
    // the user count (recursion FRONTIER) grows with replicas
    replicate(Tables.load(spark, baseDir, "events"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("event_id", "user_id"))
    }.repartition(8).write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // customer (round 11, for the fuzzy-match family): keys offset AND
    // names suffixed "~<r><r><r>" — a common suffix preserves every
    // within-replica pairwise levenshtein EXACTLY, while any two replicas'
    // suffixes differ in 3 positions, so cross-replica distances exceed
    // the family's maxDist and FastSS (complete blocking + exact verify)
    // emits exactly 10x the base pair rows
    replicate(Tables.load(spark, baseDir, "customer"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("c_custkey"))
        .withColumn("c_name", concat(col("c_name"), lit(s"~$r$r$r")))
    }.repartition(8).write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    val secs = (System.nanoTime() - t0) / 1e9
    val counts = Seq("documents", "embeddings", "orders", "lineitem", "part",
        "events", "customer")
      .map(t => t -> spark.read.parquet(s"$outDir/$t.parquet").count())
    counts.foreach { case (t, n) => emit("probe" -> "synth", "table" -> t, "rows" -> n) }
    emit("probe" -> "synth", "table" -> "_all", "secs" -> secs, "replicas" -> replicas)
  }

  // ------------------------------------------------------------------
  // Quiet-top-10 at base vs 10x
  // ------------------------------------------------------------------

  /** Linear-prediction rows: registered scale paths. */
  private val tierA = Seq(
    "q_pagerank", "q_dedup_groups_lsh", "q_neardup_purge",
    "q_dedup_minhash_lsh", "q_dedup_prefix_jaccard", "q_decontaminate_bloom",
    "q_pmi_pairs", "q_mutual_knn_dedup_benign", "q_negative_sample_bounded",
    // round-10 recursion family: banded provenance (frontier scales with
    // the corpus, depth with cluster diameter) and both densification
    // forms (frontier = users, depth = span days — scale-invariant here)
    "q_dup_provenance_lsh", "q_activity_spine", "q_activity_spine_recursive",
    // round-10 one-pass operators: the quality gate (scan + one agg) and
    // the KMV sketch (one distinct shuffle, then k-row pair work)
    "q_expectations", "q_kmv_intersect",
    // round-11 extension (VERDICT r10 item 1): the previously-unprobed
    // pair-generating / iterative families whose replicas ARE
    // union-composable. fuzzy_match: FastSS blocking over suffix-remapped
    // customer names (rows x10 exact — complete blocking + affix-invariant
    // levenshtein). label_prop / kcore: bounded-round iteration over 10
    // key-disjoint co-purchase graphs (rows x10 exact; labels/degrees are
    // offset-invariant). curation_pipeline: exact-dedup + token gate +
    // hash split over bijectively-remapped docs (rows x10 exact — token
    // counts and equality classes are remap-invariant). bm25_topk: the
    // postings shuffle is restricted to the 4 base-vocab query terms, so
    // rows stay k (= 10) at every scale and the cost curve is the
    // document-stats scan.
    "q_fuzzy_match", "q_label_prop", "q_kcore", "q_curation_pipeline",
    "q_bm25_topk",
    // round-11 media family: per-document codec work (encode → real JDK
    // decode → features) is embarrassingly parallel, and the phash dedup
    // groups key on id - id%5 — the replica offset (10^7) is divisible
    // by 5, so replica groups are disjoint from base groups and pair
    // rows scale x10 exactly
    "q_image_decode", "q_image_phash_dedup", "q_audio_decode",
    "q_video_frames",
    // round-12 additions. containment: a NEW pair-generating family —
    // the bijective shingle remap preserves every within-replica
    // containment and zeroes cross-replica overlap, so directed pair
    // rows scale x10 exactly. zorder: per-row codegen over part, rows
    // x10 exact (bounds widen with the offset keys but every row still
    // gets a code). k_anonymize: rows x10 exact (one output row per
    // customer); the replicas share QI values so group sizes grow x10
    // and the SUPPRESSION PATTERN legitimately changes — the probe's
    // contract here is row parity + linear cost, not value identity.
    // dp_histogram: output rows scale-invariant (25 nations), cost is
    // the one aggregation.
    "q_dedup_containment", "q_zorder_value", "q_k_anonymize",
    "q_dp_histogram",
    // tokenize→pack: one output row per document (x10 exact). The ~r<r>
    // token suffixes change the 10x corpus's vocabulary, so the LEARNED
    // merge table legitimately differs from the base corpus's — the
    // contract is row parity + linear cost (BPE stats stay
    // vocabulary-bounded; the pack is one window per language), not
    // value identity.
    "q_tokenize_pack",
    // chat family (r17): conv_id = doc_id div 8, so the 10x corpus has
    // x10 conversations; audit rows x10 exact (one per conv). chat_pack
    // rows scale with SURVIVING turns — the planted-defect mods
    // (%7/%11/%37/%101) hit different doc_ids across replicas, so the
    // valid fraction drifts a little and the contract is linear cost +
    // approximate row parity, not value identity (the BPE model also
    // legitimately retrains, the q_tokenize_pack note). Cost: one
    // corpus-grain exchange on conv_id + conv-grain pack windows.
    "q_chat_audit", "q_chat_pack",
    // pref-pair guard (r17): pairs = docs div 3, planted dups/flips at
    // fixed mods -> output rows ~x10 (planted fraction identical per
    // replica; near-dup groups re-form within replicas only, since the
    // synth ~r suffixes zero cross-replica shingle overlap). Cost is the
    // prompt shingle-Jaccard join (the q_dedup_prefix_jaccard scale
    // note) + pair-grain components/split.
    "q_pref_leakage",
    // r17 second wave. chat_render: one row per valid conv (~x10), cost
    // is the conv exchange + per-group ordered concat (rendered strings
    // stay distributed). best_of_n: one row per cleared prompt (~x10),
    // one window over the prompt exchange. dpo_margin: one row per pair
    // (~x10), two scan-stage quality projections + a pair-grain join.
    "q_chat_render", "q_best_of_n", "q_dpo_margin",
    // pack_efficiency: pack-grain output (~x10 packs), cost = the chat
    // pack chain + one conv-grain aggregation. source_overlap: output is
    // SOURCE-PAIR grain (scale-invariant rows — sources don't multiply
    // with the corpus; the synth's ~r suffixes disjoin replica shingle
    // spaces so inter stays per-replica); cost = the distinct
    // (source, shingle) table + shingle-keyed self-join.
    "q_pack_efficiency", "q_source_overlap",
    // rouge2: one row per lang-adjacent pair = n_docs − n_langs, so x10
    // up to the constant lang-count offset (4995 → 49995); cost is the
    // melted bigram count aggregation, linear in corpus tokens.
    "q_rouge2",
    // round-13 additions. quality_clf: one output row per doc (x10
    // exact); the ~r<r> token suffixes change the char-3-gram feature
    // distribution, so the LEARNED weights legitimately differ from the
    // base corpus's — contract is row parity + linear cost (features are
    // one explode + one agg, each epoch two bounded jobs over the
    // checkpointed doc-key-partitioned feature table, driver state =
    // buckets+1 rows). blocklist: one row per doc (x10 exact), one
    // automaton scan per row — hit VALUES differ per replica because the
    // suffixes break the cross-word 'fast sort' phrase, which is the
    // point (substring semantics survive, phrase semantics change with
    // the text). unigram_tok: one row per doc (x10 exact); replica
    // suffixes multiply the vocabulary x10 (~r<r> words are new), which
    // scales the driver-side EM with the VOCABULARY (the Bpe contract,
    // 310 words here) while the encode stays one codegen Viterbi per
    // row; suffixed words top out at 11 chars, inside the oracle-bound
    // require(maxWordLen <= 12) the query enforces.
    "q_quality_clf", "q_blocklist_filter", "q_unigram_tok",
    // clf_pr_curve: train->score->calibrate as one plan. Output is BINS
    // (one row per distinct fixed-point score, <= FP+1), not docs, so
    // the contract is bounded output + linear cost — the per-score agg
    // is the linear part; the descending window runs over bin rows only.
    "q_clf_pr_curve",
    // kn_perplexity: one row per >=2-token doc (x10 exact — token counts
    // are suffix-invariant). The ~r suffixes multiply the training
    // vocabulary x10, so the LEARNED KN model legitimately differs from
    // the base corpus's: row parity + linear cost is the contract (model
    // tables are vocabulary-bounded aggs; scoring is token-keyed joins).
    // pca_project: one row per vector (x10 exact). Replicas are signed
    // circular shifts — orthogonal, so the 10x second-moment matrix is a
    // sum of conjugated copies and the LEARNED direction legitimately
    // differs; the Gram shuffle stays dim^2 groups at any corpus size.
    "q_kn_perplexity", "q_pca_project",
    // fs_linkage: candidate pairs are per-user rank windows and replica
    // user universes are DISJOINT with identical in-block structure, so
    // pairs scale x10 exactly AND the EM sums scale x10 uniformly -- the
    // learned (p, m, u) are scale-INVARIANT and every posterior weight
    // reproduces identically per replica. The strongest probe contract
    // of the learned-operator family: value identity, not just parity.
    "q_fs_linkage",
    // html_extract: one row per doc (x10 exact), per-row regex work over
    // planted markup -- embarrassingly parallel scan, nothing joins.
    "q_html_extract",
    // ngram_scrub: one row per corpus doc (x10 exact). The ~r suffixes
    // make replica gram spaces DISJOINT, so each replica's src0 slice
    // only matches its own docs: scrub decisions reproduce identically
    // per replica (value identity modulo the suffix remap).
    "q_ngram_scrub",
    // ppl_buckets: one row per >=2-token doc (x10 exact). The learned KN
    // model differs at 10x (the kn_perplexity contract) but the output
    // is ALWAYS a per-language tercile split, so the bucket sizes stay
    // n/3 per lang at any scale -- row parity + linear cost + the
    // structural tercile invariant.
    "q_ppl_buckets",
    // quality_signals: one row per doc (x10 exact), composing the two
    // memoized model families -- the probe measures the scoring-only
    // steady state plus the two joins; learned values legitimately
    // differ at 10x (the quality_clf / kn_perplexity contracts).
    "q_quality_signals",
    // interpolate_gaps: the activity-spine scale contract (frontier =
    // users x10, per-user day spans scale-invariant), so spine rows and
    // fills scale x10 exactly with identical per-replica values.
    "q_interpolate_gaps",
    // cusum_alarms: disjoint replica user universes with untouched
    // timestamps/values -- per-user statistics reproduce identically,
    // rows and alarms x10 exact. One sort per user partition.
    "q_cusum_alarms",
    // compaction_plan: one output row per inventory file (x10 exact).
    // Bin ASSIGNMENTS legitimately re-pack at 10x (each lang partition's
    // inventory is 10x denser, so the running-sum cuts fall elsewhere);
    // cost is one window sort per partition over metadata-grain rows.
    "q_compaction_plan",
    // round-14 analytics pack. skyline (2D): replica event rows carry
    // the SAME (ts, value) pairs as the base corpus (only user/event
    // keys offset), so the union frontier equals the base frontier's
    // value set and every replica's copies of those points survive
    // (duplicate points never dominate) — rows x10 exact, cost is the
    // bucketed prune + distinct-x window, linear. ewma: disjoint replica
    // user universes with untouched series — per-user folds reproduce
    // identically, rows x10 exact, VALUE identity. min_k_prob: the
    // bijective ~r remap keeps every within-replica count and n_total
    // scales x10, shifting every logprob by exactly -ln(10) — rankings
    // and the k cut are count-based hence invariant, so rows x10 exact
    // with uniformly shifted scores.
    "q_skyline", "q_ewma", "q_min_k_prob",
    // rand_proj: one output row per (vector, direction) — rows x10 exact
    // (m fixed); replica vectors are signed circular shifts, so their
    // projections onto the FIXED sign matrix legitimately differ from the
    // base corpus's values. Cost is the embarrassingly-parallel codegen
    // scan — the flattest curve on the board by construction.
    "q_rand_proj",
    // r18 probe-coverage additions (VERDICT item 7: the r17/r18 optimized
    // paths get committed 10x rows). bfs_hops: replica co-purchase graphs
    // are key-disjoint with identical structure, so reached sets and hop
    // values reproduce per replica (rows x10 exact) — the probe pins the
    // r17 frontier rewrite's asymptotic claim (per-round work ∝ frontier).
    // bigram_logprob: one row per >=2-token doc (x10 exact); the learned
    // bigram LM legitimately differs at 10x (the kn_perplexity contract)
    // — row parity + linear cost, pinning the r17 vocabulary-grain claim.
    // mad_outliers: replica events reuse base values, so the global
    // median/MAD histogram reproduces exactly and per-row flags are value-
    // identical; rows x10 exact, cost = the two histogram passes.
    "q_bfs_hops", "q_bigram_logprob", "q_mad_outliers",
    // variant_extract / quality_flags / repetition_stats: per-row
    // scan-stage pipelines (rows x10 exact; quality/repetition values are
    // remap-invariant per replica — token equality classes survive the ~r
    // suffix; variant leaves reproduce per replica key offset). These pin
    // the r18 fan-out/kernel rewrites' linearity.
    "q_variant_extract", "q_quality_flags", "q_repetition_stats",
    // leakage_split: docs x10, near-dup groups re-form within replicas
    // only (disjoint shingle spaces) — rows x10 exact, cost = the shingle
    // pair join + the small-graph component resolution (the r18
    // coalesce(1) drain).
    "q_leakage_split",
    // dedup_simhash: one row per doc (x10 exact); fingerprint VALUES are
    // fresh hash draws per replica remap (the simhash_pairs contract) —
    // row parity + the one-aggregation cost curve (the r17 32-accumulator
    // rewrite).
    "q_dedup_simhash")

  /** Linear-COST families whose OUTPUT is not union-composable, so "rows
    * x10 exact" is unachievable by any replica synthesis and row parity is
    * NOT the check — the measured time ratio and the bounded output size
    * are. snm_pairs: rank-window semantics — interleaving any new rows
    * into the sort changes rank adjacency (identical part names across
    * replicas sort together and displace base window pairs); output stays
    * <= n·window·passes by construction, cost is sort + bounded window.
    * simhash_pairs: per-replica token remaps re-draw every 32-bit word
    * hash, so each replica's collision structure is a fresh sample of the
    * same small-vocabulary regime (cross-replica hamming<=1 collisions:
    * ~33/2^32 per pair, single digits at this scale); cost is the
    * pigeonhole bucket join. */
  private val tierC = Seq("q_snm_pairs", "q_simhash_pairs",
    // heavy_hitters: the ~r token remap SPLITS every base token into 10
    // replica variants, so every relative frequency drops x10 and the
    // phi > 1/50 qualifying set legitimately empties at 10x -- output is
    // bounded (<= k) by construction either way; the contract here is
    // the cost ratio of the MG sweep + verification pass, not row parity.
    "q_heavy_hitters",
    // soft_quality_sample: membership is a per-doc draw against the
    // LEARNED score, and the 10x corpus legitimately trains a different
    // model (the quality_clf contract), so the kept-row count varies
    // with the score distribution -- bounded by the corpus either way;
    // the cost contract is the classifier's (probed x2.2) + a map-only
    // hash filter.
    "q_soft_quality_sample",
    // tok_fairness: output is bounded by |langs| at ANY scale, and the
    // ~r token remap legitimately retrains both tokenizer models (the
    // bpe_encode / unigram_tok contracts), so values shift with the
    // learned merges/pieces -- the contract is the cost ratio of the two
    // trainings + encodes plus one |langs|-row aggregate.
    "q_tok_fairness",
    // round-14 analytics pack, non-composable outputs. skyline_nd: the
    // ~r token suffixes LENGTHEN replica tokens, so replica docs
    // legitimately dominate base docs on max_tok and the union frontier
    // is not the base frontier x10 -- the contract is bounded output
    // (the frontier) + the Σ|bucket|² prune cost staying linear at the
    // fixed bucketTargetRows. silhouette: output is bounded at k rows
    // at ANY scale; the 10x corpus legitimately trains different
    // centroids (the kmeans_assign contract), so the contract is the
    // cost ratio of the Lloyd rounds + one Top2Dist2 scan.
    "q_skyline_nd", "q_silhouette",
    // join_size: ONE summary row at any scale; replica order/lineitem key
    // universes are disjoint so est_rows = 10x the base estimate exactly
    // (a sum over disjoint key unions) -- cost is the two key-grain
    // aggregations + one key-grain join. chi2_independence: one row; the
    // doc replicas keep lang/source untouched, so every (o, r, c, n)
    // scales x10 and chi2 scales x10 EXACTLY ((10o-10e)^2/10e = 10x) --
    // value contract up to the 6th decimal.
    "q_join_size", "q_chi2_independence",
    // hilbert_value: the zorder contract verbatim — per-row codegen over
    // part, rows x10 exact (bounds widen with the offset keys but every
    // row still gets a walk index).
    "q_hilbert_value",
    // ab_ttest: ONE output row at any scale; replica events reuse base
    // values so the group moments scale x10 uniformly — means are
    // IDENTICAL and t grows exactly √10 (se² scales 1/10): a derivable
    // value contract, probed for cost only.
    "q_ab_ttest",
    // ks_test: one row; replica events reuse base values so every CDF
    // step reproduces — D is scale-INVARIANT (cum·n products scale x100
    // uniformly) and ks_stat grows exactly √10. Value contract; cost is
    // the value-grain window.
    "q_ks_test",
    // script_detect: one row per doc (x10 exact), per-row regex scan —
    // embarrassingly parallel; the doc_id%5 planting keys on ids that
    // shift by the replica offset (10^7, divisible by 5), so each
    // replica doc lands in the same script bucket as its base twin and
    // VALUES reproduce identically. benford: <= 9 output rows at any
    // scale; replica events reuse base values, so every digit count
    // scales x10 and the ppm shares are IDENTICAL — value contract.
    "q_script_detect", "q_benford",
    // snapshot_diff: disjoint replica user universes with untouched
    // change streams — each replica's delta reproduces the base delta
    // identically, rows x10 exact, value identity. Cost: two key-grain
    // last-write windows + one key-grain full-outer join.
    "q_snapshot_diff",
    // markov_transitions: disjoint replica users with identical event
    // sequences — every (from, to) cell count scales x10 and the ppm
    // shares are IDENTICAL (value contract; output bounded |states|²).
    // mojibake: one row per doc (x10 exact); the ~r token suffixes add
    // undamaged ASCII, so hit counts reproduce per replica.
    "q_markov_transitions", "q_mojibake",
    // bootstrap_ci: B = 32 output rows at any scale; replica events are
    // new draws (ids shift the hash), so the means legitimately differ
    // but concentrate on the same replica-invariant population mean —
    // cost is the one explode×B scan, linear.
    "q_bootstrap_ci",
    // rfm_segments: one row per user (x10 exact — disjoint replica user
    // universes); each replica reproduces the base corpus's per-user
    // R/F/M values, and the quantile CUTS shift as the population grows
    // x10 with identical distribution — ntile assignments reproduce per
    // replica (equal metric multisets tile identically). Cost: one
    // key-grain agg + three key-grain windows.
    "q_rfm_segments",
    // global_topk: k = 10 output rows at ANY scale. Replica custkeys are
    // offset (disjoint customer universes reproducing base totals), so
    // the x10 corpus holds each base total 10 times and the global top-10
    // collapses to the ten replicas of the single best customer — a
    // derivable value contract. Cost: three linear scans with only
    // ≤ k·P head rows + candidate partials exchanged (the TPUT shape).
    "q_global_topk",
    // sparse_cosine_join: the q_dedup_prefix_jaccard scale contract for
    // the weighted form — replica shingle universes are disjoint (the
    // ~r token suffix remap), so cross-replica candidates are zero and
    // rows scale ~x10 with linear posting cost. Values near τ may flip:
    // the floor-quantized idf at the 10x N is not exactly proportional
    // to the base idf, so this row's contract is COST + bounded output,
    // not value identity (unlike the unweighted Jaccard twin).
    "q_sparse_cosine_join",
    // frequent_pairs: RELATIVE support (1/2 of baskets) over replica-
    // disjoint token universes — at 10x every token's support stays at
    // its base count while n_baskets grows 10x, so L1 EMPTIES and the
    // pair join runs over nothing: the A-priori prune at its extreme
    // (cost = one token-grain aggregation; output legitimately empty).
    // woe_iv: lang/source untouched by replicas → counts x10; the +1
    // smoothing makes woe/iv approximately (not exactly) reproduced;
    // category grain, ≤ |sources| rows. seasonal_profile: replica events
    // reuse base ts and values → slot counts x10, means and lifts
    // IDENTICAL (value contract); ≤ 168 rows at any scale.
    "q_frequent_pairs", "q_woe_iv", "q_seasonal_profile",
    // cusum: replica users are disjoint with identical series → every
    // replica user reproduces the base user's smax/first_alarm exactly
    // (value identity, rows x10); per-user windows, key-grain output.
    // woe_iv_binned: value bins untouched by replicas → counts x10,
    // woe/iv approximately reproduced (the +1 smoothing), bin grain.
    "q_cusum_twosided", "q_woe_iv_binned",
    // clf_auc: the trained-classifier family's one-number eval — replica
    // docs keep lang and the ~r-suffixed tokens hash to fresh buckets,
    // so the model legitimately differs at 10x; the contract is bounded
    // output (ONE row) + training cost linear in corpus (the q_clf_pr
    // family's registered scale path, shared memoized model).
    "q_clf_auc",
    // readability: per-doc scan-stage regex counts, rows x10; replica
    // tokens gain the vowel-less ~r<r> suffix, so syllables shift by the
    // per-word floor only when the base word was vowel-less — values
    // REPRODUCE for vowel-bearing corpora (this one). burstiness:
    // replica users keep base timestamps → per-user gap distributions
    // identical, values reproduce exactly, rows x10.
    "q_readability", "q_burstiness",
    // round-16 additions. spearman: ONE row at any scale; replica
    // lineitem reuses base (quantity, discount) values, so every cell
    // count scales x10 and midranks scale uniformly — rho is
    // scale-INVARIANT (value contract); cost is two distinct-value
    // marginals + one bounded-cell join. js_divergence: token grain —
    // the ~r suffixes split every base token into 10 replica variants
    // with proportional counts, so each variant's p and q are base/10
    // and term mass is conserved: jsd REPRODUCES the base value (rows
    // x10 at the vocabulary grain). zipf_fit: ONE row; the 10x
    // vocabulary repeats each base frequency 10 times at consecutive
    // ranks, legitimately flattening the fitted slope — contract is
    // bounded output + the one vocabulary-grain window's cost.
    "q_spearman", "q_js_divergence", "q_zipf_fit",
    // golden_record: one row per user (x10 exact — disjoint replica user
    // universes with identical per-user event stacks), survivor VALUES
    // reproduce per replica; cost is one window sort per user partition.
    // lang_confusion: class-grain output (<= |langs|+1 rows at ANY
    // scale); replica docs keep lang, and the ~r token suffixes leave
    // the stopword-regex hits intact ('~' is a non-word character, so
    // \\b(the)\\b still fires inside "the~r1"), so predictions and the
    // whole report REPRODUCE at 10x with counts x10 (value contract on
    // the ratios).
    "q_golden_record", "q_lang_confusion",
    // clf_calibration: bin-grain output (<= 10 rows at ANY scale) over
    // the shared memoized classifier — the q_clf_auc scale contract
    // (bounded output + training linear in corpus); the model
    // legitimately retrains at 10x so bin values shift with the scores.
    "q_clf_calibration",
    // lang_kappa: ONE row; the q_lang_confusion value contract verbatim
    // (regex hits suffix-invariant, counts x10 uniformly) — po, pe and
    // kappa REPRODUCE the base values exactly.
    "q_lang_kappa",
    // mutual_info: ONE row; replicas keep (lang, source) untouched, so
    // every cell and marginal count scales x10 uniformly and all the
    // p-ratios are scale-invariant — mi and nmi REPRODUCE the base
    // values exactly (value contract); cost is the one cell aggregation.
    "q_mutual_info",
    // band_skew_report (r18 coverage): band-grain output bounded at the
    // band count at ANY scale; the per-replica token remaps redraw the
    // simhash collision structure (the q_simhash_pairs contract), so the
    // contract is bounded output + the one-aggregation cost curve.
    "q_band_skew_report")

  /** Optional comma-separated SPARK_GRAFT_PROBE_ONLY filter so a new
    * family can be probed without re-timing the whole board. */
  private def probeFilter(names: Seq[String]): Seq[String] =
    sys.env.get("SPARK_GRAFT_PROBE_ONLY") match {
      case Some(s) => val keep = s.split(",").map(_.trim).toSet
        names.filter(keep)
      case None => names
    }

  /** Documented adversarial / quadratic-twin rows: run once, and an
    * in-plan audit firing is a RESULT (the guard working), not a failure. */
  private val tierB = Seq(
    "q_emb_neardup_lsh", "q_emb_neardup_lsh_salted",
    "q_mutual_knn_dedup_lsh", "q_negative_sample",
    // round 11: semDedup at its REGISTERED parameters (k = 8 fixed) is a
    // documented quadratic regime at 10x — cluster populations scale x10,
    // within-cluster pair work x100 (production scales k with n to hold
    // cluster size constant; the registered query pins the small-sf gate)
    "q_semdedup")

  private def runQuery(spark: SparkSession, name: String, dir: String,
                       timedRuns: Int, countRows: Boolean): Unit = {
    val fn = SparkEntry.queries(name)
    def once(): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    try {
      val samples = (1 to timedRuns).map(_ => once())
      val rows = if (countRows) fn(spark, dir).count() else -1L
      emit("probe" -> "quiet10", "query" -> name, "dir" -> dir,
        "secs" -> samples.min, "runs" -> samples.toSeq, "rows" -> rows)
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("[\"\\n\\r\\\\]", " ").take(300)
        emit("probe" -> "quiet10", "query" -> name, "dir" -> dir,
          "error" -> msg)
    }
  }

  def quiet(spark: SparkSession, baseDir: String, probeDir: String): Unit = {
    val (ta, tb, tc) = (probeFilter(tierA), probeFilter(tierB), probeFilter(tierC))
    // base scale: warmup + min-of-3 (the SCALE.md board convention)
    (ta ++ tb ++ tc).foreach { n =>
      try SparkEntry.queries(n)(spark, baseDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    (ta ++ tb ++ tc).foreach(n => runQuery(spark, n, baseDir, timedRuns = 3, countRows = true))
    // probe scale: AQE compiles different plans, so the first timed run
    // carries codegen/JIT for those plans; min-of-2 absorbs most of it and
    // the per-run samples are recorded so the inflation stays visible
    (ta ++ tc).foreach(n => runQuery(spark, n, probeDir, timedRuns = 2, countRows = true))
    // tier B at 10x: since round 11 the registered LSH forms carry the
    // DEFAULT candidate-volume cap, so the adversarial rows are EXPECTED
    // to raise here — an emitted "candidate volume/candidates exceed"
    // error line is the guard demonstrably firing at scale, not a probe
    // failure. q_negative_sample (labeled quadratic twin, no cap) and
    // q_semdedup (fixed-k cluster regime) still run to completion.
    tb.foreach(n => runQuery(spark, n, probeDir, timedRuns = 1, countRows = false))
  }

  // ------------------------------------------------------------------
  // Headline-family re-validation sweep (round 16, VERDICT r15 #5)
  // ------------------------------------------------------------------

  /** The rows whose scaling claims carry the most weight: the dedup /
    * ANN / tokenizer families end-to-end (per-round 10x probes only ever
    * covered each round's NEW rows — these families' claims dated from
    * their landing rounds) plus the most expensive registry rows of the
    * r15 board. Registered queries run VERBATIM at both scales. */
  private val familyRows = Seq(
    // dedup family
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_prefix_jaccard",
    "q_dedup_groups_lsh",
    // ANN family — per-dir offline indexes build during the untimed
    // warmup (the ingest-phase contract); timed runs measure the probe
    "q_ann_brute_topk", "q_ann_ivf_topk", "q_ann_pq_topk",
    "q_ann_ivfpq_topk",
    // tokenizer family — models legitimately retrain on the 10x corpus
    // (the ~r suffixes change the vocabulary); contract is cost, not
    // value identity (the q_tokenize_pack / q_unigram_tok probe notes)
    "q_tok_fairness", "q_bpe_encode", "q_unigram_tok", "q_tokenize_pack",
    // the r15 board's most expensive rows not covered above
    "q_global_topk", "q_label_prop", "q_grouping_sets", "q_rouge2",
    "q_heavy_hitters", "q_sparse_cosine_join", "q_grouped_quantiles",
    "q_kn_perplexity", "q_repetition_stats", "q_kmv_intersect",
    "q_tfidf_top_terms", "q_text_stats", "q_variant_extract")

  /** sf0.1 → 10x cost ratios for [[familyRows]], one JSON line per row:
    * base min-of-3 vs probe min-of-2 (the quiet() methodology), row
    * counts at both scales for the parity contracts. Dimension tables
    * the synth does not replicate (region/nation/supplier) are copied
    * 1x — the realistic 100 TB shape, where dims grow slower than
    * facts — so every registry row loads. */
  def families(spark: SparkSession, baseDir: String, probeDir: String): Unit = {
    Seq("region", "nation", "supplier").foreach { tbl =>
      if (!new java.io.File(s"$probeDir/$tbl.parquet/_SUCCESS").exists())
        Tables.load(spark, baseDir, tbl)
          .write.mode("overwrite").parquet(s"$probeDir/$tbl.parquet")
    }
    val rows = probeFilter(familyRows)
    def timed(name: String, dir: String, runs: Int): (Double, Long) = {
      val fn = SparkEntry.queries(name)
      // untimed warmup: AQE plan compile + codegen/JIT + any per-dir
      // offline index/model build (ingest-phase work by contract)
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val secs = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      (secs, fn(spark, dir).count())
    }
    rows.foreach { name =>
      try {
        val (b, bRows) = timed(name, baseDir, runs = 3)
        val (p, pRows) = timed(name, probeDir, runs = 2)
        emit("probe" -> "families", "query" -> name,
          "base_secs" -> b, "probe_secs" -> p,
          "ratio" -> (if (b > 0) p / b else -1.0),
          "base_rows" -> bRows, "probe_rows" -> pRows)
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\n\\r\\\\]", " ").take(300)
          emit("probe" -> "families", "query" -> name, "error" -> msg)
      }
    }
  }

  // ------------------------------------------------------------------
  // dupGroups crossover micro-probe
  // ------------------------------------------------------------------

  /** nPairs chain pairs in components of `chainLen` nodes: component c has
    * nodes c*chainLen .. c*chainLen+chainLen-1 and pairs (j, j+1). Known
    * components, diameter chainLen-1, ids disjoint across components. */
  private[graft] def chainPairs(spark: SparkSession, nPairs: Long, chainLen: Int): DataFrame = {
    val per = (chainLen - 1).toLong
    spark.range(nPairs)
      .select(
        (expr(s"id div $per") * chainLen + pmod(col("id"), lit(per))).as("doc_a"),
        (expr(s"id div $per") * chainLen + pmod(col("id"), lit(per)) + 1).as("doc_b"))
  }

  def dupgroups(spark: SparkSession): Unit = {
    import graft.operators.Dedup
    // dupGroups materializes edges = 2 x pairs; the bound is 2^20 EDGES
    val below = (1L << 20) * 3 / 8   // 786k edges  -> local union-find
    val above = (1L << 20) * 3 / 4   // 1.57M edges -> distributed loop
    for ((pairs, tag) <- Seq((below, "below_bound"), (above, "above_bound"));
         (bound, path) <- Seq((1L << 20, "auto"), (0L, "forced_distributed"),
                              (1L << 22, "forced_local"))) {
      val p = chainPairs(spark, pairs, 8).localCheckpoint()
      val t0 = System.nanoTime()
      val out = Dedup.dupGroups(p, smallGraphBound = bound)
      out.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      emit("probe" -> "dupgroups", "size" -> tag, "path" -> path,
        "pairs" -> pairs, "edges" -> pairs * 2, "secs" -> secs)
    }
    // path equivalence at the crossover scale: forced local == forced
    // distributed on the SAME above-bound graph
    val p = chainPairs(spark, above, 8).localCheckpoint()
    val local = Dedup.dupGroups(p, smallGraphBound = Long.MaxValue)
    val dist = Dedup.dupGroups(p, smallGraphBound = 0L)
    val diff = local.exceptAll(dist).count() + dist.exceptAll(local).count()
    emit("probe" -> "dupgroups", "check" -> "path_equality_above_bound",
      "diff_rows" -> diff)
    require(diff == 0L, s"dupGroups paths disagree above the bound: $diff rows")
  }

  // ------------------------------------------------------------------
  // substringSpans boilerplate micro-probe
  // ------------------------------------------------------------------

  def spans(spark: SparkSession, baseDir: String): Unit = {
    import graft.operators.Dedup
    val docs = Tables.load(spark, baseDir, "documents").localCheckpoint()
    val bp = (1 to 30).map(i => s"graftbp$i").mkString(" ")
    // every 8th doc gets the same 30-token boilerplate tail: 625 docs at
    // sf0.1 -> k=8 gives 23 window hashes of doc-frequency 625 each;
    // uncapped fan-out 23 * 625^2 ~ 9.0M joined rows and ~195k span rows
    // of pure boilerplate; the df-cap (16) drops those windows before the
    // join
    val salted = docs.withColumn("text",
      when(col("doc_id") % 8 === 0, concat(col("text"), lit(" " + bp)))
        .otherwise(col("text"))).localCheckpoint()
    def run(tag: String, df: DataFrame, cap: Option[Int]): Unit = {
      val t0 = System.nanoTime()
      val out = Dedup.substringSpans(df, "doc_id", "text", k = 8, maxDocFreq = cap)
      val rows = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      emit("probe" -> "spans", "corpus" -> tag,
        "cap" -> cap.getOrElse(-1), "span_rows" -> rows, "secs" -> secs)
    }
    run("base", docs, None)           // reference: no boilerplate
    run("salted", salted, None)       // the quadratic blow-up
    run("salted", salted, Some(16))   // the capped scale path
    run("base", docs, Some(16))       // cap overhead on a clean corpus
  }

  // ------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val stage = args.headOption.getOrElse("all")
    val baseDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val probeDir = args.lift(2).getOrElse("target/probe/sf1")
    val replicas = args.lift(3).map(_.toInt).getOrElse(10)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val marker = new java.io.File(s"$probeDir/part.parquet/_SUCCESS")
    stage match {
      case "synth" => synth(spark, baseDir, probeDir, replicas)
      case "quiet" => quiet(spark, baseDir, probeDir)
      case "families" =>
        if (!marker.exists()) synth(spark, baseDir, probeDir, replicas)
        families(spark, baseDir, probeDir)
      case "dupgroups" => dupgroups(spark)
      case "spans" => spans(spark, baseDir)
      case "all" =>
        if (!marker.exists()) synth(spark, baseDir, probeDir, replicas)
        quiet(spark, baseDir, probeDir)
        dupgroups(spark)
        spans(spark, baseDir)
      case other => sys.error(s"unknown stage: $other")
    }
    spark.stop()
  }
}
