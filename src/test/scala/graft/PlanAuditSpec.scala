package graft

/** Catalog-wide physical-plan guardrails: the anti-patterns that silently
  * turn a working sf0.01 query into a dead one at 100 TB must not appear
  * in any catalog plan. Runs on the smallest fixture — plan shape, not
  * data, is under test.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose nested-loop join is the DESIGN, not an accident:
    *  - v1: brute-force cosine top-k is deliberately broadcast-Q x scan-N
    *    (the exact baseline the ANN variants are judged against);
    *  - p4: the corpus-size scalar N arrives as a one-row broadcast;
    *  - q22: rows compared against a one-row global aggregate (scalar
    *    subquery — every engine broadcasts the scalar);
    *  - v6: IVF cell assignment scores every vector against the 10-row
    *    broadcast centroid table — a small-side cross product by
    *    definition of a coarse quantizer;
    *  - v7: the per-dim min/max stats arrive as a one-row broadcast;
    *  - v8: carries v1's exact brute-force side in-query as the recall
    *    ground truth (same broadcast-Q x scan-N shape as v1);
    *  - v9: ADC scoring is the broadcast-Q x scan-N exhaustive form over
    *    the compressed codes (the IVF-PQ composition with v6's cell
    *    layout is what bounds the scan at 100 TB);
    *  - v10: k-means assignment reads the packed one-row centroid
    *    broadcast next to every vector — the projection-shaped argmin by
    *    construction;
    *  - v12: v9's broadcast-Q x scan-N ADC scoring plus v8's exact
    *    ground-truth side, both deliberate;
    *  - v13: the PQ coder reads the packed one-row codebook broadcast
    *    (v9's shape); candidate generation itself is the cell equi-join;
    *  - v14: cell assignment scores every vector against the 10-row
    *    broadcast centroid table (v6's coarse-quantizer shape); the
    *    pair stage itself is the cell equi-join;
    *  - v15: brute-force scoring in PROJECTED space (broadcast-Q x
    *    scan-N by design — the dimension, not the candidate count, is
    *    what JL reduces) plus v8's exact ground-truth side;
    *  - d22: the global min language count arrives as a one-row
    *    broadcast next to the |langs|-row rate table (p4/v7's scalar
    *    shape).
    */
  private val nestedLoopByDesign =
    Set("v1_cosine_topk", "p4_tfidf", "q22_global_customers", "v6_ivf_ann",
      "v7_quantize", "v8_ivf_nprobe", "v9_pq_adc", "v10_kmeans_iter",
      "v12_pq_learned", "v13_ivfpq", "v14_semdedup", "v15_random_projection",
      "d22_temperature_mix",
      //  - v16: carries v8's exact ground-truth side, restricted to the
      //    filtered corpus (the same deliberate broadcast-Q x scan-N)
      "v16_filtered_ann",
      //  - v17: v13's deliberate broadcasts, unchanged — centroid cross
      //    join for assignment, packed residual codebook, exact truth
      "v17_ivfadc_residual",
      //  - v18: v1's deliberate broadcast-Q x scan-N, over the
      //    versioned current view
      "v18_versioned_ann",
      //  - p12: the min-pool-count scalar arrives as a one-row
      //    broadcast next to the |langs|-row rate table (d22's shape)
      "p12_delivery_e2e",
      //  - p13: the one-row corpus stats (N, total length) broadcast
      //    next to every scored candidate (p4/v7's scalar shape)
      "p13_bm25_retrieve",
      //  - p27: the lexical leg carries p13's one-row stats scalar and
      //    the vector leg v1's deliberate broadcast-Q x scan-N cosine
      "p27_rank_fusion",
      //  - v28: the retrieval pool is v1's deliberate broadcast-Q x
      //    scan-N (inside the pool's materialize-once barrier; listed
      //    for the design record even when the truncated plan hides it)
      "v28_mmr_diversify",
      //  - v29: the 10-row centroid frame broadcast against the scan
      //    (v6's coarse-quantizer shape)
      "v29_silhouette",
      //  - w30: the one-row corpus-epoch date broadcast next to every
      //    event (d22/p13's scalar shape) to index the day bitmask
      "w30_bitmap_retention",
      //  - v19: v8's deliberate shapes — the centroid cross join for
      //    assignment and the exact ground-truth side
      "v19_nprobe_sweep",
      //  - v20: the Hamming scan IS the deliberate broadcast-Q x scan-N
      //    (over 2 sign words per vector — the bandwidth trick), plus
      //    the exact ground-truth side
      "v20_hamming_ann",
      //  - p14: the one-row min-count broadcast next to the rate table
      //    (d22's scalar shape, once per epoch row)
      "p14_anneal_mix",
      //  - p22: the one-row score min/max broadcast that quantizes the
      //    two-level prefix's range buckets (r15; d22's scalar shape)
      "p22_curriculum_batches",
      // (d31/p19 no longer appear here: their one-row vocabulary
      // broadcast lives in lmScored's persist-once BUILD; the audited
      // query plans are reads of the persisted table)
      //  - v21: v1's deliberate broadcast-Q x scan-N (one pass scores
      //    all four prefix dims) plus v8's exact ground-truth side
      "v21_matryoshka_sweep",
      //  - r11: the one-row cutover-tick scalar broadcast next to each
      //    generation's branch scan (q22's shape, once per branch)
      "r11_schema_evolution",
      //  - r18: r11's cutover-scalar broadcasts, unchanged (the widen/
      //    drop unification itself is pure projection, shuffle-free)
      "r18_schema_narrowing",
      //  - r19: r18's cutover-scalar broadcasts, unchanged (the nested
      //    struct widen is a positional cast — pure projection)
      "r19_nested_widening",
      //  - v22: the deliberate broadcast-Q x scan-N over the int8 codes
      //    (v1's shape on 4x narrower rows) plus the one-row packed
      //    stats broadcast (v7's scalar shape) and the exact-truth side
      "v22_int8_ann",
      //  - v31: v22's coarse scan shapes (packed stats scalar, int8
      //    broadcast-Q x scan-N) plus the Q x 30 pool broadcast into the
      //    float-side refine scan and the exact-truth side
      "v31_rerank_refine",
      //  - v23: both assignment passes read the packed one-row centroid
      //    broadcast next to every vector (v10's projection-shaped
      //    argmin, by construction)
      "v23_index_staleness",
      //  - d37: the one-row corpus-count broadcast next to each of the
      //    two first-occurrence grids and the doc rollup (q22's scalar
      //    shape, three consumers)
      "d37_vocab_growth",
      //  - p18: the one-row (total, n_sources) broadcast next to the
      //    |sources|-row token table (d22's scalar shape)
      "p18_repeat_factor",
      //  - q31: the one-row key-domain maxima broadcast next to every
      //    fact row (q22's scalar shape) for grid normalization
      "q31_zorder_layout",
      //  - r15: the one-row as-of cutoff broadcast next to every log row
      //    (q22's scalar shape)
      "r15_asof_read",
      //  - q32: the one-row total-revenue broadcast next to the per-part
      //    frame (q22's scalar shape — the group-vs-global HAVING)
      "q32_important_parts",
      //  - v24: the cell assignment scores every vector against the
      //    10-row broadcast centroid table (v6's coarse-quantizer shape)
      "v24_cell_balance",
      //  - d41: the one-row total-occurrences broadcast next to the
      //    bounded 10k-row head frame (q22's scalar shape)
      "d41_vocab_coverage",
      //  - v25: the cell assignment scores every vector against the
      //    10-row broadcast centroid table (v6's coarse-quantizer shape)
      "v25_cluster_balanced",
      //  - d43: the one-row corpus-token-total broadcast next to the
      //    <=4-row band rollup (p4/q22's scalar shape)
      "d43_dedup_yield",
      //  - v26: v6's broadcast-centroid assignment plus v1's deliberate
      //    broadcast-Q x scan-N exact ground-truth side
      "v26_hard_negatives",
      //  - p23: the deliberate broadcast-eval x scan-train product —
      //    the eval side is KBs by construction (p3's own argument)
      "p23_semantic_decontaminate",
      //  - d44: the one-row corpus-count broadcast next to the per-doc
      //    frame (p4/q22's scalar shape)
      "d44_novelty_curve",
      //  - v27: v9's coder — the packed one-row codebook broadcast next
      //    to every vector (the deliberate projection-shaped argmin)
      "v27_pq_distortion",
      //  - w27: the one-row session-total broadcast next to the
      //    |types|^2-row pair frame (p4/q22's scalar shape)
      "w27_association_rules",
      //  - r16: the one-row GC-horizon scalar broadcast next to every
      //    log row (r15's shape)
      "r16_tombstone_gc")

  test("no catalog query plans a cartesian product") {
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product:\n$plan")
    }
  }

  test("no catalog query plans an accidental nested-loop join") {
    for ((name, fn) <- SparkEntry.queries if !nestedLoopByDesign(name)) {
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join:\n$plan")
    }
  }

  test("p7 approx variant drops the Expand; exact default keeps it for the oracle") {
    // p7's approx variant is gone: this case checks only that the exact
    // distinct counts, which the oracle replays, plan an Expand
    val exactDf = graft.queries.Pipeline.p7Profile(spark, dir)
    assert(exactDf.queryExecution.executedPlan.toString.contains("Expand"),
      "exact multi-COUNT(DISTINCT) should plan an Expand — did p7 stop counting exactly?")
  }

  test("d14 quota sampling pre-prunes to top-K before the shuffle") {
    val plan = graft.queries.Documents.d14SourceQuota(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=K filter did not compile to a group limit (the exchange " +
        s"would carry every row per source):\n$plan")
  }

  /** Selective scans must reach parquet as pushed filters — a scan that
    * filters AFTER reading every row pays full I/O at 100 TB. Checked on
    * representative queries with a constant predicate on a scanned
    * column (dynamic/derived predicates can't push by nature).
    */
  test("constant predicates reach the parquet scan as PushedFilters") {
    val pushdownQueries =
      Seq("q3_shipping_priority", "q6_forecast_revenue", "q21_semi_anti")
    for (name <- pushdownQueries) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[[^\\]]*(GreaterThan|LessThan|EqualTo|In)".r
      assert(pushed.findFirstIn(plan).isDefined,
        s"$name scan has no pushed comparison filter:\n$plan")
    }
  }

  /** Shuffle-count goldens: every exchange is a full network pass over
    * the data at 100 TB, so a query silently gaining one is a perf
    * regression even while its values stay correct. Ceilings were
    * recorded from the current plans (regenerate with the
    * [[ShuffleGolden]] main); a count above its golden fails, a count
    * below means the golden should be lowered.
    */
  test("no catalog query shuffles more than its recorded golden") {
    val golden = Map(
      // d37: the checkpointed tokenize repartition + the 1-row count agg
      // + three grid aggs (token totals; word and 3-gram first-occurrence
      // each pay explode-groupBy + quartile rollup) + the 4-row window
      // and output sort exchanges (tiny frames; joins broadcast)
      "d37_vocab_growth" -> 9,
      // w21: one user_id lag-window exchange + the 5-row bucket rollup
      // (distinct-user expand rides it) + output sort
      "w21_gap_histogram" -> 3,
      // p18: per-source token agg + 1-row total agg (broadcast back) +
      // the |sources|-row output sort
      "p18_repeat_factor" -> 4,
      // q30: per-order completion max + two month-grid aggs + the
      // dozens-of-rows window/sort (full-outer join rides the grid)
      "q30_order_backlog" -> 4,
      // q31: per scheme — a 1-row domain agg + one bucket hash agg over
      // the fact table + a 64-row rollup (the union's sort rides the
      // tiny frames); the fact table is deliberately SCANNED per branch
      // rather than checkpointed: a pruned parquet re-read beats
      // materializing a normalized copy of the corpus at scale
      "q31_zorder_layout" -> 6,
      // r15: the 1-row cutoff agg + ONE user_id collapse serving both
      // the head and as-of states + the 8-row bucket rollup + sort
      "r15_asof_read" -> 4,
      // p20: ONE source-token corpus agg; the waterline algebra runs in
      // the deliberate |sources|-row single-partition window + output sort
      "p20_budget_waterfill" -> 2,
      // q32: the per-part frame rides a checkpoint barrier (its corpus
      // agg paid there, shared by both consumers); in-plan: the 1-row
      // total agg + output sort (the HAVING filter and the scalar
      // broadcast are exchange-free)
      "q32_important_parts" -> 2,
      // r14: ONE batch_id hash agg over the corpus (rides the ledger's
      // checkpoint build); in-plan, everything runs on the |batches|-row
      // ledger — block-partial agg, the |blocks|-row exclusive-prefix
      // window (the only single-partition pass), the blk-keyed cumulative
      // window, and the output sort (two-level prefix sum: no
      // full-ledger single-partition WindowExec)
      "r14_batch_ledger" -> 4,
      // d39: the line explode rides a checkpoint barrier (repartition
      // paid there); in-plan: the distinct-doc frequency agg costs two
      // line-keyed exchanges ((line,doc) partial + line final), then the
      // doc_id rebuild agg + output sort. At fixture size the frequency
      // side broadcasts into the marking join (so the probe side needs
      // no exchange); at scale the planner would line-shuffle both sides
      // instead — data-sized frequency tables must never broadcast
      "d39_line_dedup" -> 4,
      "d11_winnowing" -> 3, "d12_dup_clusters" -> 3, "d13_pii_scrub" -> 3,
      "d14_source_quota" -> 3, "d15_repetition" -> 2, "d1_exact_dedup" -> 2,
      "d2_token_stats" -> 2, "d3_quality_score" -> 1, "d4_fingerprint" -> 2,
      // d7: band-dedup is an in-projection filter on the sketches' XOR
      // (r11) — only the output sort shuffles beyond the persisted
      // signature read
      "d5_ngram_jaccard" -> 2, "d6_minhash_lsh" -> 2, "d7_simhash" -> 1,
      // d46: d16's spans off the persisted k-gram index (its in-plan
      // exchanges) + the per-doc fold, the docs join, and the
      // |sources|-row rollup/sort
      "d46_memorization_risk" -> 3,
      // d47: ONE global conditional-sum agg (24 counters, partial agg
      // reduces every partition to a single row before the exchange);
      // the 6-pair stack and sort ride the 1-row frame
      "d47_rule_agreement" -> 1,
      // d45: d5's persisted pair expansion (2) + the threshold rollup's
      // (threshold, doc) distinct grid + the 4-row output sort
      "d45_threshold_sweep" -> 4,
      // d44: the explode folds behind the checkpoint; in-plan: the
      // k-keyed first-occurrence agg, its per-doc rollup, the per-doc
      // count agg, their |docs|-row join, the 10-row decile agg, and
      // the output sort (the corpus-count scalar broadcasts)
      "d44_novelty_curve" -> 6,
      // d43: reads d23's persisted cluster labels (CC build paid
      // out-of-plan, shared); the member join + comp windows + band
      // rollup + output sort; the corpus-token scalar broadcasts
      "d43_dedup_yield" -> 4,
      // d42: d5's exact shape over the excerpt-augmented corpus — the
      // pair expansion re-reads its persisted bucket table (build paid
      // out-of-plan), one intersection agg + the output sort; the
      // direction explode is projection-shaped
      "d42_containment" -> 2,
      // d22: the corpus-statistics rate side costs 2 tiny aggs (lang
      // counts + global min) before broadcast; the corpus itself sees
      // only the final per-lang rollup + sort
      "d22_temperature_mix" -> 5,
      // d35: pair distinct + two doc_id join sides (the shingle sets
      // ship only for CANDIDATE pairs) + the 17-row rollup rides; the
      // pair expansion re-reads d6's persisted bucket table
      "d35_est_calibration" -> 5,
      // d36: the (source, s) grid exchange carries the corpus (behind
      // the checkpoint); the rest assemble |sources|-row frames
      "d36_source_overlap" -> 4,
      // q28: the decorrelated scalar subquery is one per-part agg +
      // one partkey join — exactly two fact exchanges
      "q28_small_qty_correlated" -> 2,
      // q29: both correlated subqueries decorrelate to semi/anti joins
      // that broadcast at this SF; the one exchange is the final agg
      "q29_waiting_orders" -> 1,
      // p17: p6's single window exchange + the 4-row band rollup;
      // the corpus is not re-read
      "p17_packing_waste" -> 3,
      // w19: one user_id window exchange + the |touch types|-row
      // rollup + output sort
      "w19_last_touch" -> 3,
      // w20: the (day, type) hash agg + the WindowGroupLimit-pruned
      // rank window + output sort, all on the tiny grid
      "w20_grouped_topk" -> 3,
      // r13: seven independent FK edges; each fact edge pays the child
      // (key, multiplicity) collapse + a parent distinct + a key join
      // riding the collapse's partitioning + a one-row agg, dim edges
      // broadcast — the joined frame is the key space, never the fact
      // table, and no count_distinct Expand survives
      "r13_referential_audit" -> 21,
      // v23: both assignments are broadcast projections (0 exchanges);
      // the count is the CDC latest-wins collapse + the vec_id churn
      // join + per-cell rollups and their |cells|-row assembly joins
      "v23_index_staleness" -> 21,
      // r12: two independent latest-wins collapses (the source one-shot
      // + r10's fold path, each one hash exchange) fold to 16-row
      // grids; the grid join + output sort ride the tiny frames
      "r12_checksum_audit" -> 4,
      // d34: corpus repartition + per-shingle df agg + the 5-row band
      // rollup + output sort; the share denominator is a window over
      // the band frame
      "d34_df_profile" -> 4,
      // v22: rank window + output sort; the one-row packed stats
      // localCheckpoints so both coded sides share one build, and the
      // exact-truth side's window rides the same broadcast shape
      "v22_int8_ann" -> 3,
      // v31: v22's coarse rank window + the refine rank window (over
      // Q x 30 rows) + the exact-truth window + output sort; the pool
      // broadcasts into the float scan, never a second corpus exchange
      "v31_rerank_refine" -> 4,
      // p28: the per-source top-k window (WindowGroupLimit pre-prunes
      // map-side) + output sort; priority is a pure projection
      "p28_weighted_sample" -> 2,
      // m5: the (format, hash) group agg + the per-format rollup +
      // output sort over the |formats|-row grid
      "m5_storage_dedup" -> 3,
      // w18: the 1024-cell sketch agg + the exact agg (top-10 rides a
      // TakeOrdered, the 40-row estimate join rides the broadcast)
      "w18_cms_heavy_hitters" -> 2,
      // p16: the grouping-sets pass (Expand + agg, 2) + the exact-dup
      // hash agg (2) + the near-dup section's pair distinct + final
      // grid sort; the near-dup pairs re-read d6's persisted table
      "p16_dataset_card" -> 6,
      // p15: the shard position window (reused by the manifest agg) +
      // two ShardCount-row exchanges for the offset prefix + output sort
      "p15_resume_slice" -> 4,
      // w17: the user_id window exchange + the |types|^2 grid rollup
      // (distinct-user expand rides it) + the grid output sort
      "w17_transition_matrix" -> 3,
      // r18: r11's shape exactly — the evolved-union projection adds
      // no exchange; the four are the two cutover scalar aggs + the
      // latest-wins collapse + the final sort
      "r18_schema_narrowing" -> 4,
      // r19: r18's shape — the nested widen adds no exchange
      "r19_nested_widening" -> 4,
      // r11: one tiny scalar agg per generation branch (the cutover
      // tick), the ArgMaxRow collapse, and the output sort
      "r11_schema_evolution" -> 4,
      // v21: ONE qid exchange shared by all four prefix-dim rank windows
      // (four in-partition sorts), the exact-truth side's window, and
      // the 4-row output sort after the single-row sweep agg
      "v21_matryoshka_sweep" -> 3,
      // d33: corpus repartition + vocab distinct + lang rollup + output
      // sort; the per-(lang, doc) partial agg rides the doc_id partition
      // and the encoded vocab broadcasts
      "d33_bpe_encode" -> 4,
      // d32: pair expansion reads the persisted chunked r=2 bucket table;
      // in-plan cost is the pair distinct + the one-row sweep agg (the
      // 3-row output sort rides the single partition)
      "d32_lsh_band_sweep" -> 2,
      // d40: the pair expansion reads d6's persisted chunked bucket
      // table; in-plan cost is the pair distinct + the per-doc leak
      // rollup + output sort — everything candidate-sized
      "d40_split_leakage" -> 3,
      // d41: word counts fold behind the checkpoint barrier; in-plan
      // cost is the single-partition window over the bounded 10k head
      // (the TakeOrdered cut and the scalar broadcast are exchange-free)
      "d41_vocab_coverage" -> 1,
      // r16: r15's collapse shape — the user_id exchange + the horizon
      // scalar's tiny agg + the bucket rollup + output sort
      "r16_tombstone_gc" -> 4,
      // p21: ONE corpus agg to |sources x langs| cells + the
      // single-partition share/TV window over that bounded frame (the
      // window's exchange and the output sort share it)
      "p21_mixture_drift" -> 2,
      // w23: one user exchange carries the timeline window AND the
      // (user, seg) rank/sum/max windows (clustered-distribution
      // reuse); the rollup agg + 2-row share window are the other two
      "w23_decay_attribution" -> 3,
      // p22: the score projection folds behind the checkpoint, and the
      // r15 two-level prefix ladder (group agg + min/max scalar +
      // bucket-partitioned in-bucket window) folds behind its own
      // gated reuse point; in-plan cost is that ladder once, the
      // <= 4096-row bucket-base window (the ONLY single-partition
      // frame, provably capped), the score-partitioned rank window,
      // the batch agg, and the output sort — every exchange moves a
      // |scores|-bounded frame, never the corpus, and the corpus
      // itself never crosses one partition
      "p22_curriculum_batches" -> 5,
      // w24: the (user, day) grid distinct folds behind the checkpoint;
      // in-plan cost is the two weekly folds (daily rollup + wau
      // distinct), their |weeks|-row join, and the output sort
      "w24_stickiness" -> 5,
      // w25: one user-keyed exchange serves the funnel window AND the
      // per-user collapse; the band rollup, the 12-row share window,
      // and the output sort are the rest
      "w25_time_to_convert" -> 4,
      // p23: the eval side broadcasts (tiny by construction); the one
      // exchange is the output sort
      "p23_semantic_decontaminate" -> 1,
      // p24: one corpus fold to |sources| rows; the epoch windows and
      // the output sort run on the bounded |sources| x 3 frame
      "p24_slot_apportionment" -> 2,
      // p25: the chunk fan-out folds on the repartition's own key; the
      // 3-row band rollup and the output sort are the rest
      "p25_overlap_audit" -> 3,
      // p26: both assignments are one projection (argmax folds, no
      // explode); the <=81-cell grid folds behind the checkpoint, and
      // in-plan the two 9-row rollups meet in tiny broadcast joins onto
      // the enumerated shard spine + sort
      "p26_rendezvous_shards" -> 2,
      // w28: one user-keyed exchange (the following-frame min), the
      // 5-row band rollup + its share window, and the output sort
      "w28_error_recovery" -> 3,
      // w29: the four streaming twins run at CALL time (each one
      // key-hashed exchange inside its own streaming query — not part
      // of this plan); the returned profile is a 4-row driver frame
      "w29_state_profile" -> 0,
      // w27: the session_window exchange folds behind the checkpoint;
      // in-plan: the 1-row total agg, the |types| rate agg, the
      // |types|^2 pair agg, its pair-keyed finalization, and the output
      // sort (rate joins broadcast)
      "w27_association_rules" -> 5,
      // w26: one user-keyed exchange shared by both lead() windows, the
      // (trigram, user) distinct grid agg, and the 125-row output sort
      "w26_sequence_patterns" -> 3,
      // m7: pure per-row codec work in one mapPartitions pass — the
      // only exchange is the output sort
      "m7_thumbnail_audit" -> 1,
      // m8: frames explode map-side; ONE media-keyed exchange serves
      // the lag window, the running-cut window, and both subset-key
      // rollups + the output sort
      "m8_scene_cuts" -> 2,
      // v27: v9's coder (centroid fold aggs + the vec_id repartition
      // spreading the interpreted argmin lambdas) + the 4-row subspace
      // agg + output sort
      "v27_pq_distortion" -> 5,
      // r17: one batch-keyed exchange for the sealing-time window, the
      // band rollup, and the output sort (the 5-row share window rides)
      "r17_batch_freshness" -> 3,
      // v26: the shared assignment checkpoint feeds both sides; the
      // mined and exact top-3 windows + the output sort are the rest
      "v26_hard_negatives" -> 3,
      // v24: v6's broadcast-centroid assignment (projection-shaped),
      // then the |cells| agg + the bounded share/skew window
      "v24_cell_balance" -> 2,
      // v25: the |cells| rate agg + its bounded quota window, the gate
      // join-back's rollup, and the output sort — assignment itself is
      // the broadcast projection
      "v25_cluster_balanced" -> 4,
      // d31: reads the persisted lm_scored table (train + score ran once
      // at build); the worst-25 report is a TakeOrdered — exchange-free
      "d31_lm_quality" -> 0,
      // p19: the per-lang ntile window over the persisted scored table
      // (bucketed by lang) + the 3|langs|-row rollup riding it; one
      // exchange total
      "p19_perplexity_buckets" -> 1,
      // p14: d22's shape — the rate-table build's tiny aggs + the final
      // epoch x lang rollup + output sort; the corpus scan is read once
      "p14_anneal_mix" -> 5,
      // p8: signature groupBy + final per-doc agg + sort; the benchmark
      // side broadcasts, so the (band,sig) join itself is exchange-free
      "p8_fuzzy_decontaminate" -> 3,
      // p9: distinct + repartition + final per-doc agg + output sort; the
      // 32 KB bitmap build rides a one-time localCheckpoint and the four
      // lane probes are broadcast joins against its <= 4096 words
      "p9_bloom_decontaminate" -> 3,
      // p10: the (epoch, shard) window partition + output sort — no
      // global sort; shards order locally
      "p10_epoch_shuffle" -> 2,
      // d21: base pairs + delta pairs both re-read the persisted bucketed
      // signature table (shuffle-free bucket joins); only the two
      // blocked-expansion chunk repartitions remain
      "d21_incremental_neardup" -> 2,
      // d27: the HOF-spread repartition + one pair hash agg (top-20 is
      // TakeOrdered)
      "d27_bpe_step" -> 2,
      // d28: since r11's continuation the pre-deletion labels are a
      // PERSISTED bucketed read (the previous-run artifact, built once)
      // — the plan keeps the base-pair re-derivation feeding the
      // surviving-pair restriction + the affected-subgraph CC off its
      // durable final table + cluster-size window + sort (was 10 with
      // the inline d26 re-derivation)
      "d28_deletion_clusters" -> 5,
      // d26: since r11 the fixpoint is affected-only — untouched star
      // pass-through (broadcast anti-join on the checkpointed touched
      // set) ∪ reconverged labels off the durable final round table +
      // cluster-size window + output sort; the corpus-sized cost that
      // moved is the CALL-TIME CC rounds (never in this plan), which
      // now shuffle only touched components (d26_delta volume golden)
      "d26_incremental_clusters" -> 3,
      // d16/d18 read the persisted bucketed k-gram index (the default
      // since r5): detection keeps only the span-merge window + output
      // sort; clipping adds the span-list agg + corpus join
      // d23: labels persist like v14's (r6) — pair expansion + CC run
      // at BUILD; the query plan is the quality join + the shared
      // election/size window exchange + output sort
      "d23_canonical_keep" -> 2,
      // d24: one pure projection for all five rules (the d19 fold runs
      // per-doc) — just the HOF-spread repartition + output sort
      "d24_quality_gate" -> 2,
      "d16_substring_spans" -> 2, "d17_stratified_sample" -> 2,
      "d18_clip_spans" -> 4, "d19_dup_ngram_fraction" -> 2,
      // d20: dup-status delta (2 h-aggs) + affected-doc semi-joins +
      // two span-merge windows + output sort over the shared index scan
      "d20_incremental_spans" -> 7,
      "v10_kmeans_iter" -> 5,
      // v11 reads the persisted trace table (training ran at build);
      // v12 = ADC ranking + recall join over the persisted codebook;
      // v13 = cell equi-join + ADC window + recall join
      "v11_kmeans_converged" -> 1, "v12_pq_learned" -> 5,
      "v13_ivfpq" -> 6,
      // v14: sizes agg + label join + output sort share exchanges once
      // the labels persist (r6: the CC fixpoint runs at BUILD into the
      // fingerprint-scoped table; the query plan only re-reads it);
      // w11: sketch agg + exact agg (top-20 is TakeOrdered, the rank
      // window runs over 20 rows)
      "v14_semdedup" -> 2, "w11_heavy_hitters" -> 2,
      // d29: training runs at build (driver merge loop, v11's shape);
      // the query plan reads the 8-row persisted merge table + sort
      "d29_bpe_train" -> 1,
      // d30: the bucketed gram table feeds the pair join; island window
      // + pair agg + top-3 window + output sort
      "d30_contamination_attribution" -> 4,
      // p13: df/query frames ride the bucketed inverted index (no
      // exchange), leaving the query-term distinct + the (qid, doc)
      // score agg + top-5 window's qid exchange
      "p13_bm25_retrieve" -> 3,
      // p27: the lexical (qid, doc) score agg + each leg's per-qid
      // rank window + the fused window's qid exchange + output sort —
      // every post-retrieval frame is Q x depth rows (tiny by
      // construction), so these exchanges are control-plane, not data
      "p27_rank_fusion" -> 5,
      // v28: the corpus-sized retrieval + per-step argmax windows all
      // live inside materialize-once barriers over Q x depth frames
      // (202 exchanges of exponential plan growth before the barrier —
      // see the query's scaladoc); the final read pays the output sort
      "v28_mmr_diversify" -> 1,
      // v29: the input repartition + the fixed-point centroid agg's
      // (label, dim) exchange + the per-vector a/b agg + the per-label
      // stats agg + output sort; the L-row centroid frame broadcasts
      "v29_silhouette" -> 5,
      // v30: the centroid (label, dim) agg's two exchanges + ONE
      // label-keyed exchange shared by the stats window, the worst-rank
      // window, and the per-label rollup (same key — no re-shuffle) +
      // output sort; the L-row centroid frame broadcast equi-joins, so
      // unlike v29 the scored frame is |vecs|, never |vecs| x |cells|
      "v30_centroid_outliers" -> 4,
      // w12: one grouped agg (exact + sketch percentiles fuse into the
      // same hash aggregate) + output sort
      "w12_quantile_sketch" -> 2,
      // w13: the user partition (three stacked window minima + the
      // rollup share it) + output sort — the naive funnel is a 3-way
      // self-join
      "w13_funnel" -> 2,
      // w30: the 1-row epoch agg + the user-keyed bit_or mask agg (the
      // ONLY corpus-wide exchange, |users| 64-bit words after map-side
      // combine) + the cohort window + cohort x offset rollup + output
      // sort, all on the <= |users| mask frame — vs w14, whose widest
      // exchanges carry the users x days grid twice
      "w30_bitmap_retention" -> 5,
      // w14: grid distinct + user window + cohort rollup + the tiny
      // cohort-denominator window + output sort; everything after the
      // distinct runs on at most users x days rows
      "w14_retention" -> 5,
      // w15: (type, minute) grid agg + the type-partitioned trailing
      // window (both window nodes share one exchange) + output sort
      "w15_anomaly" -> 3,
      // v15: the projection is shuffle-free; the 3 exchanges are the two
      // top-k windows (projected + exact ground truth) + output sort
      "v15_random_projection" -> 3,
      // d25: two corpus passes (probe repartition — its per-doc agg
      // rides the doc_id partitioning — and the stats branch's
      // repartition + bucket rollup) + the deliberate one-partition
      // window over the 4096-row stats frame; top-25 is TakeOrdered
      "d25_domain_affinity" -> 4,
      // p11: one hash agg on the derived bucket key + output sort
      "p11_length_buckets" -> 2,
      // p12: d24's repartition + the pool semi-join + the rate rollup
      // over the checkpointed pool + the (epoch, shard) window + sort
      "p12_delivery_e2e" -> 5,
      "p6_pack_budget" -> 2, "p7_profile" -> 2, "w10_interval_join" -> 2,
      "d8_langid" -> 2, "d9_langid_ngram" -> 7,
      // d38: d9's prediction chain (same 7-exchange shape: gram explode
      // repartition, profile agg+window, score agg, argmax window, label
      // join) + the |sources|-row rollup/sort riding the doc frame
      "d38_source_label_noise" -> 7, "m1_media_metadata" -> 3,
      "m2_decode_features" -> 2,
      // m3: 2 assumes the sub-threshold scanSpread path fired (source
      // bytes < cores x openCostInBytes at this spec's local[4] = 16
      // MiB) — the spread replaces the groupBy exchange; fixture growth
      // past the gate flips the plan back to 3 (ADVICE r14)
      "m3_frame_sample" -> 2,
      // m6: synthesis + decode are mapPartitions projections; one
      // sample_rate hash agg + output sort
      "m6_audio_features" -> 2,
      // w22: the (day, reg) corpus sketch agg rides the checkpoint
      // barrier; in-plan the merge/estimate run on the |days|x256 grid
      // ((wd,reg) max + wd rollup) and the exact ground-truth side pays
      // the (d,user) distinct + (wd,user) expand + wd rollup; est-exact
      // join + output sort ride the |days|-row frames
      "w22_sketch_merge" -> 8,
      // m4: frame hashes feed the d6 band groupBy + chunk-blocked pair
      // expansion; same 2-exchange shape as d6 (the sort is TakeOrdered)
      "m4_frame_neardup" -> 2, "p1_chunking" -> 2,
      "p2_split_assign" -> 2, "p3_decontaminate" -> 3, "p4_tfidf" -> 6,
      "p5_pipeline_e2e" -> 3, "q10_rollup" -> 3, "q11_setops" -> 2,
      "q12_antijoin" -> 2, "q13_part_stats" -> 3, "q14_promo_share" -> 1,
      "q15_small_qty_revenue" -> 2, "q16_large_orders" -> 1,
      "q17_distinct_agg" -> 3, "q18_large_order_customers" -> 1,
      // q26: one per-priority window exchange feeds all four ranking
      // functions + output sort
      "q26_rank_suite" -> 3,
      // q27: Expand + one hash agg + the output sort — the multi-grain
      // pass costs one shuffle regardless of how many sets it serves
      "q27_grouping_sets" -> 3,
      "q19_disjunctive_revenue" -> 1, "q1_pricing_summary" -> 3,
      "q20_qualified_suppliers" -> 4,
      "q21_semi_anti" -> 2, "q22_global_customers" -> 3,
      "q23_cube_flags" -> 3, "q24_quantiles" -> 2, "q25_full_outer" -> 3,
      "q2_top_acctbal_sql" -> 2, "q3_shipping_priority" -> 1,
      "q4_order_priority" -> 2, "q5_local_supplier_volume" -> 2,
      "q6_forecast_revenue" -> 1, "q7_top_customers" -> 1,
      "q8_yearly_nation_revenue" -> 2, "q9_window_rank" -> 2,
      // r10: the last windowed fold's ObjectHashAggregate off the
      // checkpointed previous state (sort is TakeOrdered-free but rides
      // the agg's exchange via AQE reuse at this size)
      "r10_incremental_compaction" -> 1,
      "r1_replica_current" -> 2, "r2_schema_transform" -> 1,
      "r3_envelope" -> 2, "r4_idempotent_merge" -> 3, "r5_replica_sql" -> 3,
      "r6_resync_e2e" -> 2, "r8_yaml_ddl_replica" -> 3,
      // r9: one per-key window exchange + output sort
      "r9_scd2_history" -> 2,
      "w9_partition_pruned" -> 2,
      "r7_transparent_final" -> 2,
      "v1_cosine_topk" -> 2, "v2_lsh_ann" -> 2, "v3_label_norms" -> 2,
      "v4_label_centroids" -> 2, "v5_embedding_neardup" -> 1,
      "v6_ivf_ann" -> 2, "v7_quantize" -> 3, "v8_ivf_nprobe" -> 3,
      // v16: v8's shape (cell equi-join off the checkpointed assignment
      // + recall window + output sort); the metadata filter adds nothing
      "v16_filtered_ann" -> 3,
      // v17: v13's shape + the residual-codebook aggregation pass over
      // the checkpointed assignment (coding itself stays a projection)
      "v17_ivfadc_residual" -> 6,
      // v18: the ArgMaxRow collapse of the versioned log (one hash
      // exchange on vec_id, read by both query and candidate sides) +
      // top-k window + output sort
      "v18_versioned_ann" -> 4,
      // v19: the shared candidate window's qid exchange + the global
      // tuning agg + output sort — all four probe depths ride ONE sweep
      "v19_nprobe_sweep" -> 3,
      // v20: Hamming-shortlist window + rerank window + output sort;
      // coding itself is a pure projection
      "v20_hamming_ann" -> 3,
      // v9: 2 KB-sized codebook aggregations + the fixture-parallelism
      // repartition + top-k window + output sort; the per-vector coding
      // itself is shuffle-free (projection over the broadcast book)
      "v9_pq_adc" -> 5,
      // w16: the event_type running-max window + the bucket rollup
      // (rollup rides the window's partitioning; output sort is tiny)
      "w16_disorder_profile" -> 2,
      "w1_tumbling" -> 2,
      "w2_sliding" -> 2, "w3_session" -> 2, "w4_json_extract" -> 2,
      "w5_asof_join" -> 2, "w6_range_activity" -> 2,
      "w7_distinct_sketch" -> 3, "w8_pivot_daily" -> 3)
    val missing = SparkEntry.queries.keySet -- golden.keySet
    assert(missing.isEmpty, s"queries without a shuffle golden: $missing")
    for ((name, fn) <- SparkEntry.queries) {
      val n = ShuffleGolden.count(fn(spark, dir).queryExecution.executedPlan)
      assert(n <= golden(name),
        s"$name shuffles $n times, golden is ${golden(name)} — plan regressed")
    }
  }

  test("r7's raw-table SQL carries the injected FINAL rewrite (ArgMaxRow, no manual view)") {
    val plan = SparkEntry.queries("r7_transparent_final")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("arg_max_row"),
      s"replica scan was not rewritten into the versioned FINAL view:\n$plan")
  }

  test("w9 prunes day partitions at planning time (PartitionFilters, not row pushdown)") {
    val plan = SparkEntry.queries("w9_partition_pruned")(spark, dir)
      .queryExecution.executedPlan.toString
    val pf = """PartitionFilters: \[[^\]]*event_date[^\]]*\]""".r
    assert(pf.findFirstIn(plan).isDefined,
      s"w9 scan has no partition filter on event_date — the date predicate " +
        s"is filtering rows instead of skipping day directories:\n$plan")
  }

  test("every catalog query has a DuckDB oracle (except documented rows-only)") {
    val rowsOnly = Set.empty[String] // every query is oracle-checked as of r2
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }
}
