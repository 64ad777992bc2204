package graft

import org.apache.spark.sql.catalyst.expressions.{Cast, Explode, GreaterThan, Literal, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan assertions (SURVEY §4): the scale properties the engine
  * RELIES on must be visible in the plan, not assumed — predicate pushdown
  * to the parquet scan, column pruning, broadcast joins for dimensions,
  * partial (map-side) aggregation, and top-k without a global sort.
  * A regression here doesn't change results, it changes what happens at
  * 100 TB — which is why it's tested.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.queries(name)(spark, sf0001).queryExecution.sparkPlan.toString

  test("scan_project_filter pushes the predicate into the parquet scan") {
    val p = plan("scan_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"predicate not pushed:\n$p")
  }

  test("scan_project_filter prunes to the three referenced columns") {
    val p = plan("scan_project_filter")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("join_broadcast uses BroadcastHashJoin for both dimensions") {
    val p = plan("join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"expected 2 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to SMJ:\n$p")
  }

  test("join_star_q5 broadcasts the small dims and never cartesian-joins") {
    val p = plan("join_star_q5")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast in star join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in star join:\n$p")
  }

  test("agg_pricing_summary does partial (map-side) aggregation") {
    val p = plan("agg_pricing_summary")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    assert(p.contains("partial_"), s"no partial aggregation — all rows shuffle:\n$p")
  }

  test("limit_topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$p")
  }

  test("dedup_minhash has no cartesian/nested-loop pair explosion") {
    val p = plan("dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair-explosion join shape:\n$p")
  }

  test("dedup_jaccard_pairs joins on the block keys, not a nested loop") {
    val p = plan("dedup_jaccard_pairs")
    assert(!p.contains("CartesianProduct"), s"unblocked cross product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi-join on (lang, source) blocks:\n$p")
  }

  test("sim_cosine_topk broadcasts the query side") {
    val p = plan("sim_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  test("sim top-k state is intrinsically bounded: map-side TopKNeighbors, no per-query sort window") {
    // Round 20 (VERDICT r19 #1): the r19 shape — row_number over
    // Window.partitionBy(query_id) — bounded what SHUFFLES (Partial
    // WindowGroupLimit) but still SORTED every joined input partition
    // first, so per-task state grew ∝ partition size (41.9→83.9 MB across
    // the x1024→x2048 embeddings probe). The fix is the BottomTwo pattern
    // at K=5: a partial_topkneighbors ObjectHashAggregate pushes each row
    // into ≤|queries|×K slots map-side — flat in the corpus no matter how
    // deployment sizes partitions. Pin BOTH halves: the partial aggregate
    // must exist in every consumer of cosineTopK, and the exact top-k
    // must carry no Window (and therefore no pre-window partition sort)
    // at all.
    for (q <- Seq("sim_cosine_topk", "sim_knn_label", "sim_ann_recall")) {
      val p = plan(q)
      assert(p.contains("partial_topkneighbors"),
        s"$q: map-side partial TopKNeighbors aggregate gone:\n$p")
      // ADVICE r20 #1: pinning the partial alone would stay green if the
      // aggregate fell back to SortAggregate (objectHashAggregate.enabled
      // off, or a buffer-encoder change) — the full per-partition sort on
      // query_id this test exists to prevent would silently return.
      assert(p.contains("ObjectHashAggregate"),
        s"$q: TopKNeighbors no longer hash-aggregated (SortAggregate fallback?):\n$p")
      assert(!p.contains("SortAggregate"),
        s"$q: a SortAggregate appeared in a TopKNeighbors consumer:\n$p")
    }
    val pTop = plan("sim_cosine_topk")
    assert(!pTop.contains("Window"),
      s"sim_cosine_topk: a window (the unbounded per-query sort shape) is back:\n$pTop")
    // knn's one remaining window ranks the ≤(queries×labels)-row vote
    // counts — bounded input by construction. If a row_number line stops
    // mentioning votes, the top-k sort window crept back in.
    val pKnn = plan("sim_knn_label")
    val badWins = pKnn.linesIterator
      .filter(l => l.contains("row_number") && !l.contains("votes#")).toSeq
    assert(badWins.isEmpty,
      s"sim_knn_label: a non-vote row_number window is back:\n" +
        s"${badWins.mkString("\n")}\n$pKnn")
  }

  test("scan_sample_stratified keeps its per-language top-10 intrinsically bounded") {
    // Round 21: the row_number window partitioned on the closed ~5-value
    // lang key (≤#langs sort tasks for the whole corpus) is replaced by
    // the 10-slot TopKNeighbors aggregate — no Window, no SortAggregate,
    // map-side partial.
    val p = plan("scan_sample_stratified")
    assert(!p.contains("Window"),
      s"scan_sample_stratified: the closed-lang-key sort window is back:\n$p")
    assert(p.contains("partial_topkneighbors"),
      s"scan_sample_stratified: map-side bounded top-10 aggregate gone:\n$p")
    assert(!p.contains("SortAggregate"),
      s"scan_sample_stratified: aggregate fell back to SortAggregate:\n$p")
  }

  test("join_range_binned plans an equi-join, not a nested loop") {
    val p = plan("join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned range join fell back to a nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), s"no equi-join on bin:\n$p")
  }

  test("dedup_minhash_verified keeps the cluster-rep shape (no pair explosion)") {
    val p = plan("dedup_minhash_verified")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair-explosion join shape:\n$p")
  }

  test("sub_correlated decorrelates into aggregate + broadcast joins") {
    val p = plan("sub_correlated")
    assert(p.contains("BroadcastHashJoin"), s"subquery not decorrelated to a join:\n$p")
    assert(p.contains("partial_"), s"decorrelated aggregate not partial:\n$p")
    assert(!p.contains("CartesianProduct"), s"correlated subquery became a product:\n$p")
  }

  test("sub_in_filter plans left-semi and left-anti joins") {
    val p = plan("sub_in_filter")
    assert(p.contains("LeftSemi"), s"IN did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT IN did not become an anti join:\n$p")
  }

  test("sim_ann_ivf probes cells via an equi-join, with intrinsically bounded top-k and top-1") {
    // Round 21 (VERDICT r20 #1): both IVF windows are gone — the
    // nearest-centroid assignment is a PER-ROW codegen'd argmax over the
    // collected centroid array (zero row blowup, zero shuffle, zero
    // sort; an aggregate-based reduction was measured falling back to
    // sort-based execution past 128 groups and rejected — see
    // Similarity.ivfAssigned) and the cell top-5 is the TopKNeighbors
    // aggregate over the ≤|queries| group keys. These plans must carry
    // NO Window at all (the x4096 probe measured the window shape's
    // per-task peaks growing 151→177/201 MB per octave).
    for (q <- Seq("sim_ann_ivf", "sim_kmeans_step")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q: a window (the partition-sort assignment/top-k shape) is back:\n$p")
      assert(!p.contains("SortAggregate"),
        s"$q: an aggregate fell back to SortAggregate:\n$p")
      // The assignment must stay a per-row lambda: its centroid argmax
      // appears as an `aggregate(cents…)` HOF inside a Project, never as
      // a grouping on vec_id (corpus-cardinality keys ⇒ sort fallback).
      val vecIdAggs = p.linesIterator.filter(l =>
        (l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
          && l.contains("keys=[vec_id")).toSeq
      assert(vecIdAggs.isEmpty,
        s"$q: a corpus-cardinality vec_id aggregation is back in the assignment:\n$p")
    }
    val p = plan("sim_ann_ivf")
    assert(p.contains("BroadcastHashJoin [cell"), s"cell probe is not an equi-join:\n$p")
    assert(p.contains("partial_topkneighbors"),
      s"sim_ann_ivf: cell top-5 lost the map-side TopKNeighbors aggregate:\n$p")
    assert(plan("sim_kmeans_step").contains("partial_"),
      s"sim_kmeans_step: per-(cell, dim) centroid sums lost the map-side partial phase")
  }

  test("win_islands runs both windows without an intermediate shuffle") {
    // Exchanges only exist in the executed plan (EnsureRequirements); two
    // adjacent Window nodes over the same user_id partitioning must not
    // have one between them — that would be a second shuffle per pass.
    val p = Registry.queries("win_islands")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val seg = p.substring(p.indexOf("Window"), p.lastIndexOf("Window"))
    assert(!seg.contains("Exchange"), s"shuffle between the island windows:\n$p")
  }

  test("join_star_q7 pushes the nation-name filter into both dimension scans") {
    // VERDICT r03 #3: the two-nation predicate must prune BOTH nation dims
    // at the scan, so the broadcast builds carry 2 rows each instead of the
    // whole dimension and the OR residual filters an already-tiny join.
    val p = plan("join_star_q7")
    assert("In\\(n_name".r.findAllIn(p).size >= 2,
      s"nation-name filter not pushed into both dimension scans:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation dims not broadcast:\n$p")
  }

  test("as-of family joins carry the time bucket in the join key") {
    // VERDICT r05 #3: the as-of rewrite bounds per-user work by joining
    // purchases to the carry table on (user_id, bkt) — if the bucket ever
    // drops out of the equi-join key, a hot user's whole history lands in
    // one task again. Also pin that the user×signup pairs join (the old
    // O(p·s) shape: a join keyed on user only, followed by a per-purchase
    // row_number) stays gone: every join in these plans must key on bkt.
    for (q <- Seq("join_asof", "join_asof_forward", "join_asof_nearest")) {
      val p = plan(q)
      val joinKeyLines = p.linesIterator
        .filter(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
          || l.contains("BroadcastHashJoin")).toSeq
      assert(joinKeyLines.nonEmpty, s"$q: no equi-join found:\n$p")
      joinKeyLines.foreach { l =>
        assert(l.contains("bkt"), s"$q: join without the time bucket in its key: $l\n$p")
      }
      assert(!p.contains("row_number"), s"$q: per-purchase row_number shape is back:\n$p")
    }
  }

  test("join_scd2_lookup broadcasts the versioned dimension (no dim-side shuffle)") {
    val p = Registry.queries("join_scd2_lookup")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"SCD2 dim not broadcast:\n$p")
  }

  // Queries whose semantics genuinely need a non-equi or cross join; each
  // keeps one side tiny/broadcast so the product stays bounded.
  private val intentionalProducts = Set(
    "join_cross",          // declared cartesian (5×3 rows)
    "join_range",          // non-equi band join, broadcast 5-row band table
    "sim_cosine_topk",     // broadcast 10-query side × candidates
    "sim_knn_label",       // builds on sim_cosine_topk
    "sim_ann_lsh",         // bucket equi-join but id<>id residual
    "dedup_embedding",     // broadcast 200-query side, id< residual
    "text_tfidf",          // crossJoin with 1-row N aggregate
    "text_logprob_score",  // crossJoin with 1-row corpus-total aggregate
    "stream_watermark_filter", // crossJoin with 1-row max aggregate
    "sim_ann_ivf",         // crossJoin with broadcast 8-row centroid table
    "sim_ann_recall",      // reuses sim_cosine_topk scan + ivf assignment
    "sim_cosine_sql",      // crossJoin with 1-row query-vector subselect
    "text_vocab_growth",   // crossJoin with broadcast 6-row checkpoint list
    "text_source_divergence", // crossJoin with 1-row corpus-total aggregate
    "join_value_concentration", // crossJoin with 1-row totals aggregate
    "scan_oversample_balance", // crossJoin with 1-row max-count aggregate
    "sim_kmeans_step",     // crossJoin with broadcast 8-row centroid table
    "agg_chi_square",      // crossJoin with 1-row grand-total aggregate
    "behavior_lift",       // crossJoin with 1-row basket-count aggregate
    "ts_reindex_spine",    // spine from 1-row min/max agg, broadcast left join
    "win_ntile",           // crossJoin with 1-row min/max bucket-range agg
    "sub_recursive_cte")   // 1-row bounds × 101-row recursive counter

  test("sketch_bloom_membership broadcasts the filter, streaming the probe side") {
    val p = plan("sketch_bloom_membership")
    // The aggregated filter is ≤8 rows by construction; the probe side is
    // the one that grows, so it must never shuffle for this join. A left
    // join can only build right — if the join type or broadcast side
    // flips, this pins it.
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"probe join must be a left-outer broadcast of the filter words:\n$p")
    assert(!p.contains("SortMergeJoin"), s"probe side shuffled for the filter join:\n$p")
  }

  test("profile top-k queries reduce map-side (no vocabulary-wide window)") {
    // Round-16 scaling-harness finding (documents family, BASELINE.md r16):
    // the profile top-N window — row_number over Window.partitionBy(lang)
    // on corpus-wide (lang, gram|term) counts — funnels the entire
    // vocabulary into ≤#languages sort tasks (×8→×64 corpus: 35.7× wall
    // for 8× data). r16's fix was a two-phase prof_pid-salted window
    // pair; round 22 (VERDICT r21 #7) replaces it with the bounded
    // string-keyed TopKTerms aggregate — the per-partition-top-K-is-a-
    // superset argument made intrinsic (map-side K-slot buffers, no
    // sort, no salt, one fewer Exchange). This ratchet pins the partial
    // (map-side) aggregate's presence on the profile path and that NO
    // window over the vocabulary key (plang/lang + gram/term count
    // ordering) came back. text_langid/chargram keep their per-doc
    // wGuess window (bounded: ≤ queried docs × languages rows), so the
    // negative assert is scoped to prof_pid/vocabulary windows rather
    // than plan-wide (the ADVICE r21 #3 scoping discipline).
    for (q <- Seq("text_langid_chargram", "text_langid", "text_term_freq")) {
      val p = plan(q)
      assert(p.contains("partial_topkterms"),
        s"$q: profile top-k lost the map-side bounded TopKTerms " +
          s"aggregate:\n$p")
      assert(!p.contains("prof_pid"),
        s"$q: the prof_pid-salted window shape is back:\n$p")
      val vocabWin = p.linesIterator.find(l =>
        l.contains("Window") && l.contains("cnt#"))
      assert(vocabWin.isEmpty,
        s"$q: a window ordered on the vocabulary counts is back " +
          s"(sorts the whole vocabulary): ${vocabWin.getOrElse("")}\n$p")
    }
    // text_term_freq's ONLY windows were the profile pair — its plan
    // must now be window-free end to end.
    assert(!plan("text_term_freq").contains("Window"),
      s"text_term_freq: unexpected window:\n${plan("text_term_freq")}")
  }

  test("dedup_embedding keeps the cosine out of the join and pre-limits the window") {
    // Round-16 scaling-harness finding (embeddings family, BASELINE.md
    // r16): dedup_embedding stayed flat through ×256 (512k vectors). The
    // plan properties that make that true — and that this ratchet pins:
    // (1) the 200-query side is the BNL build side with its vec_id < 200
    //     pushed to the parquet scan, so only the bounded side replicates;
    // (2) the join condition is ONLY the cheap prior_id < vec_id long
    //     compare — graft_cosine must never appear in it, or the O(d)
    //     dot product runs per SCANNED pair (∝ 200·n) instead of per
    //     SURVIVING pair (constant: priors are transitively < 200);
    // (3) the top-1 per query is a pair of built-in max_by aggregates
    //     over the packed decimal ordering (round 22, VERDICT r21 #3):
    //     the r21 TopKNeighbors K=1 typed aggregate had O(1) buffers but
    //     ObjectHashAggregateExec sort-falls-back past 128 keys/task —
    //     measured firing here (numTasksFallBacked=2/1 at sf0.1). max_by
    //     on all-mutable buffers plans as codegen'd HashAggregateExec:
    //     no fallback threshold at any group count, no sort, no typed
    //     encoder per row.
    val p = plan("dedup_embedding")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,200)]"),
      s"query-side bound not pushed to the scan:\n$p")
    val joinLine = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin"))
    assert(joinLine.isDefined, s"expected the bounded BNL join:\n$p")
    assert(joinLine.get.contains("BuildLeft"),
      s"the bounded query side must be the build side:\n$p")
    assert(!joinLine.get.contains("graft_cosine"),
      s"cosine leaked into the join condition (runs per scanned pair):\n$p")
    assert(p.contains("partial_max_by"),
      s"top-1 lost the map-side max_by argmax aggregate:\n$p")
    val aggLines = p.linesIterator.filter(l => l.contains("max_by")).toSeq
    assert(aggLines.nonEmpty && aggLines.forall(_.contains("HashAggregate")) &&
      !p.contains("ObjectHashAggregate"),
      s"dedup_embedding: the argmax left codegen HashAggregate (the " +
        s"ObjectHashAggregate 128-key sort fallback class):\n$p")
    assert(!p.contains("Window"),
      s"dedup_embedding: the per-query sort window shape is back:\n$p")
    assert(!p.contains("SortAggregate"),
      s"dedup_embedding: the top-1 aggregate fell back to SortAggregate:\n$p")
  }

  test("agg_trimmed_mean finds its trim cuts without a raw-row rank window") {
    // Round-16 scaling verdict (BASELINE.md r16, graded `weak`): the old
    // formulation ranked EVERY order row with row_number over
    // Window.partitionBy(o_orderpriority) — a closed 5-value key — so the
    // rank sort exchanged the whole table into ≤5 non-empty partitions:
    // parallelism capped at 5 tasks regardless of cluster size, per-task
    // sort buffer linear in the data (measured 6.4–6.7× step per 8× data,
    // 168 MB at ×64). The scale-safe shape derives the trim boundaries
    // from percentile fences plus an exact walk over the fence band's
    // DISTINCT values (value-granularity-bounded), so NO operator may
    // rank or window raw rows: the plan must carry no Window at all, and
    // its aggregates must stay map-side partial.
    val p = plan("agg_trimmed_mean")
    assert(!p.contains("row_number"),
      s"raw-row rank window is back in the trim:\n$p")
    assert(!p.contains("Window"),
      s"a window over the closed 5-value priority key is back:\n$p")
    assert(p.contains("partial_"),
      s"trim aggregation lost its map-side partial phase:\n$p")
  }

  test("win_zscore and win_share_of_group join broadcast group totals, no raw-row window") {
    // Round-17 scaling pass (BASELINE.md r17): both ops computed their
    // per-group moments with whole-partition windows partitioned on the
    // closed 5-value o_orderpriority key — every row exchanged into ≤5
    // tasks just to read a 5-row total. The scale shape is a 5-row
    // map-side aggregate broadcast-joined back onto the (parallel) scan:
    // no Window operator at all, and the row side never shuffles.
    for (q <- Seq("win_zscore", "win_share_of_group")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q: raw-row window over the closed priority key is back:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: group totals not broadcast-joined:\n$p")
      assert(p.contains("partial_"),
        s"$q: totals aggregate lost its map-side partial phase:\n$p")
    }
  }

  test("agg_topn_share pre-reduces top-10 per input partition before any per-priority step") {
    // Round-17 scaling pass: the top-10 rank window partitioned on the
    // closed 5-value key sorted the whole table on ≤5 tasks to keep 50
    // rows. Required shape (the profile-top-k pattern): phase 1 ranks
    // within (priority, input-partition) — any row beaten by 10 rows in
    // its own partition is beaten by 10 rows globally — and the merge of
    // the ≤10·partitions candidates happens in an aggregate (HOF over a
    // collected bounded array), never a raw-row window. Every Window line
    // must therefore carry the tpid salt in its partition spec, and the
    // lrn <= 10 bound must survive in the collecting aggregate (it is a
    // CASE inside collect_list, not a Filter — the same pass also needs
    // every row for the group total).
    val p = plan("agg_topn_share")
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("tpid#")),
      s"agg_topn_share: a window without the tpid salt in its partition spec:\n$p")
    assert(p.contains("lrn#"),
      s"agg_topn_share: the lrn <= 10 candidate bound is gone:\n$p")
  }

  test("agg_spearman derives rank maps from value histograms, never ranking raw rows") {
    // Round-17 scaling pass: the two rank windows on the closed 3-value
    // key sorted the whole table twice on ≤3 tasks (294 MB/task at ×8)
    // and DIED at ×64 — sum(rx·rx) over raw-row ranks overflows Long
    // (measured ARITHMETIC_OVERFLOW, BASELINE r17). Round-18 constant shave
    // (VERDICT r17 #1): min-rank is a function of the value, so both rank
    // maps are RANGE-frame cumulative windows computed DIRECTLY over the
    // map-side cell histogram (granularity-bounded) — no re-aggregation
    // per measure, no broadcast joins back, no join at all: one cell
    // exchange plus one tiny repartition(flag) serves every window and
    // the final decimal moment aggregate (old shape: 9 shuffles + 2
    // broadcasts; new: 3 shuffles, 0 broadcasts — ExchangeBudgetSpec
    // pins the counts).
    val p = plan("agg_spearman")
    assert(!p.contains("rank("),
      s"agg_spearman: raw-row rank window is back:\n$p")
    assert(!p.contains("Join"),
      s"agg_spearman: a join crept back into the rank-map derivation:\n$p")
    assert(p.contains("partial_"),
      s"agg_spearman: cell counts lost the map-side partial phase:\n$p")
    // Every window runs over the aggregated cell stream, partitioned on
    // the flag (never on raw rows): its input carries the cell count c#.
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("c#")),
      s"agg_spearman: a window not over the cell histogram:\n$p")
  }

  test("agg_gini computes rank-weighted sums from the value histogram, not row_number") {
    // Round-17 scaling pass: Σ(rank·x) over a tied run is a closed form
    // of (value, multiplicity, cnt_lt) — the row_number window on the
    // closed 5-value key was pure funnel. The only window allowed is the
    // cumulative count over the DISTINCT-value histogram.
    val p = plan("agg_gini")
    assert(!p.contains("row_number"),
      s"agg_gini: raw-row rank window is back:\n$p")
    assert(p.contains("partial_"),
      s"agg_gini: histogram aggregate lost its map-side partial phase:\n$p")
  }

  test("customer rank-family ops bucket-salt every window and broadcast offsets") {
    // Round-17 closed-key sweep, second wave: win_cume_dist, win_pct_rank
    // and agg_percentile_disc ranked every raw customer row in a window
    // partitioned on the closed 5-value c_mktsegment key — the same
    // ≤5-sort-task funnel the first wave rewrote, with measured
    // linear-per-task memory growth (8.9→25.2 MB across ×64 replicated
    // customers, BASELINE.md r17). Required shape (the win_ntile
    // deterministic-value-bucket pattern, generalized per group): every
    // Window line must carry the bkt# salt in its partition spec, and the
    // per-(segment, bucket) counts/offsets must come back via broadcast
    // join — never a raw-row window on the bare segment key.
    for (q <- Seq("win_cume_dist", "win_pct_rank", "agg_percentile_disc")) {
      val p = plan(q)
      val bigWins = p.linesIterator.filter(l =>
        l.contains("Window") && l.contains("c_mktsegment#") && !l.contains("bkt#")).toSeq
      assert(bigWins.isEmpty,
        s"$q: a window partitioned on the bare closed segment key is back:\n" +
          s"${bigWins.mkString("\n")}\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: bucket offsets not broadcast-joined:\n$p")
      assert(!p.contains("cume_dist(") && !p.contains("percent_rank("),
        s"$q: raw-row rank window function is back:\n$p")
    }
  }

  test("win_rank_dense derives both ranks from the price histogram, never ranking raw rows") {
    // Round-17 second wave: rank and dense_rank on the closed ~25-value
    // p_brand key are pure functions of the VALUE (rank = #{> v} + 1;
    // dense = distinct-above + 1), so both derive from the per-distinct-
    // price histogram (granularity-bounded, the agg_spearman mechanism)
    // broadcast back onto the scan — no rank()/dense_rank() over raw rows.
    val p = plan("win_rank_dense")
    assert(!p.contains("rank("), // also matches dense_rank(
      s"win_rank_dense: raw-row rank window is back:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"win_rank_dense: rank map not broadcast-joined:\n$p")
    assert(p.contains("partial_count"),
      s"win_rank_dense: histogram lost its map-side partial phase:\n$p")
  }

  test("win_first_nth reduces bounded top-2 state per group and broadcasts it, no window") {
    // Round-17 second wave removed the full-frame window on the closed
    // p_brand key (≤25 sort tasks for 2 values per brand) in favor of
    // tpid-salted WindowGroupLimit candidates. Round-18 constant shave
    // (VERDICT r17 #1): the same per-task bound made direct — a typed
    // bottom-2 aggregate (graft.functions.BottomTwo, the SecondMax
    // pattern) with O(1) per-row push and O(1) merge, map-side
    // combinable. No window, no salt exchange, and crucially no map-side
    // SORT of every partition (the WGL pass sorted each partition on
    // (brand, tpid, price, key) before limiting). The ≤25-row result
    // still broadcasts back onto the never-shuffled scan.
    val p = plan("win_first_nth")
    assert(!p.contains("first(") && !p.contains("nth_value("),
      s"win_first_nth: full-frame window function is back:\n$p")
    assert(!p.contains("Window"),
      s"win_first_nth: a window (and its per-partition sort) is back:\n$p")
    assert(p.contains("bottomtwo") || p.contains("BottomTwo"),
      s"win_first_nth: the bounded top-2 aggregate is gone:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"win_first_nth: top-2 not broadcast-joined:\n$p")
  }

  test("ts_active_concurrency and text_pack_bins two-phase their running sums over buckets") {
    // Round-17 second wave: both ops ran a raw-row running sum in a
    // window partitioned on a closed key (event_type / lang) — the
    // whole boundary/document stream through ≤#key sort tasks. The scale
    // shape is a two-phase prefix sum over deterministic value buckets
    // (time / doc_id ranges): local running sums within (key, bkt) in
    // parallel, exclusive per-bucket offsets over the tiny aggregate.
    // Every Window line must carry the bkt# salt except the offsets
    // window, which runs over ≤ keys×buckets aggregated rows
    // (recognizable by its cnt/dsum input, never raw stream columns).
    // text_pack_bins emits per-ROW bins, so its offsets come back via
    // broadcast join; ts_active_concurrency's answer is per-GROUP
    // (round-18 shave, VERDICT r17 #1: peak = max(off + per-bucket
    // max(lcum))), so it needs no join and no second derivation of the
    // boundary stream at all — one scan, one heavy exchange.
    for ((q, raw) <- Seq("ts_active_concurrency" -> "delta#",
                         "text_pack_bins" -> "n_toks#")) {
      val p = plan(q)
      val rawWins = p.linesIterator.filter(l =>
        l.contains("Window") && l.contains(raw) && !l.contains("bkt#")).toSeq
      assert(rawWins.isEmpty,
        s"$q: a raw-stream running-sum window without the bkt salt is back:\n" +
          s"${rawWins.mkString("\n")}\n$p")
    }
    assert(plan("text_pack_bins").contains("BroadcastHashJoin"),
      s"text_pack_bins: bucket offsets not broadcast-joined")
    val pAc = plan("ts_active_concurrency")
    assert(!pAc.contains("Join"),
      s"ts_active_concurrency: a join (second stream derivation) is back:\n$pAc")
  }

  // (The round-17 "Partial WindowGroupLimit pre-reduce" pin for
  // scan_sample_stratified is superseded by the round-21 no-Window /
  // partial_topkneighbors ratchet above: the group-limit bounded what
  // SHUFFLED but still sorted each task's rows; the 10-slot aggregate
  // removed the sort entirely.)

  test("sim_quantize_int8 computes min/max once per row and the quantized array once") {
    // Round-17 universal-sweep finding: the op is linear (slope 0.85) but
    // its CONSTANT was ~150× off — the original body captured the
    // `array_min(emb)` / `array_max(emb)` EXPRESSION TREES inside the
    // transform lambda (re-evaluated per ELEMENT: 64 elements × repeated
    // O(64) array scans per vector) and projected the transform three
    // times (q_first / q_last / q_sum each rebuilt the whole array).
    // ~104 s for 2M vectors at ×1024, all of it redundant re-evaluation.
    // The scale-safe shape pre-projects mn/range and the quantized array
    // q as named columns (CollapseProject keeps non-cheap aliases used
    // more than once), so the plan's lambda references ATTRIBUTES:
    // array_min/array_max appear exactly once each, and exactly one
    // transform builds q.
    val p = plan("sim_quantize_int8")
    assert("array_min".r.findAllIn(p).size == 1,
      s"vector min re-evaluated inside the lambda (expected 1 array_min):\n$p")
    assert("array_max".r.findAllIn(p).size == 1,
      s"vector max re-evaluated inside the lambda (expected 1 array_max):\n$p")
    assert("transform\\(".r.findAllIn(p).size == 1,
      s"quantized array rebuilt per consumer (expected 1 transform):\n$p")
  }

  /** Optimized plans of every Generate `name` builds, including the ones
    * inside subtrees it materializes (absent from its own plan).
    */
  private def builtGenerates(name: String): Seq[Generate] =
    SparkSpec.plansOptimizedDuring(spark) {
      Registry.queries(name)(spark, SparkSpec.freshDir(sf0001)).queryExecution.optimizedPlan
    }.flatMap(_.collect { case g: Generate => g }).distinct

  test("explode_outer dedup postings evaluate split/shingles once, no generator filter below") {
    // Round 22 (OPTIMIZATION_r22.md §2): a plain explode lets
    // InferFiltersFromGenerate copy the generator's child into
    // `size(…) > 0 AND isnotnull(…)` conjuncts below the Generate — an
    // interpreted Filter (the HOF child defeats codegen) that re-evaluated
    // array_distinct(split(text)), and for dedup_ngram_jaccard the whole
    // shingle build, per row. The rule skips outer generates, so these
    // sites use explode_outer plus an isnotnull filter above; a Spark
    // upgrade that infers filters for outer generates would bring the
    // duplication back silently. (Spark 4.1 also infers only for an
    // attribute input, so tokenPairs' inline split would not regress
    // under a plain explode today; its pin guards the next upgrade.) Two
    // of the three subtrees are materialized, hence the built-plan walk.
    for ((name, evaluation) <- Seq(
        "dedup_jaccard_pairs" -> "split\\(",
        "dedup_minhash_verified" -> "split\\(",
        "dedup_ngram_jaccard" -> "transform\\(zip_with\\(")) {
      val explodes = builtGenerates(name).filter(_.generator.isInstanceOf[Explode])
      assert(explodes.size == 1, s"$name: expected one explode Generate:\n$explodes")
      val g = explodes.head.treeString
      assert(evaluation.r.findAllIn(g).size == 1,
        s"$name: the generator input is evaluated more than once:\n$g")
      val inferred = explodes.head.child.collect { case f: Filter => f.condition }
        .filter(_.exists {
          case GreaterThan(Size(_, _), Literal(0, _)) => true
          case _ => false
        })
      assert(inferred.isEmpty, s"$name: generator-inferred filter below the Generate:\n$g")
    }
  }

  test("kmeans and label-centroid posexplode(emb) keep the emb cast out of interpreted filters") {
    // A plain posexplode over the projected `emb` attribute gets the
    // inferred `size(emb) > 0 AND isnotnull(emb)` filter, which pushdown
    // inlines into the scan as a second cast of `embedding`. Today that
    // filter runs inside whole-stage codegen, whose common-subexpression
    // elimination shares the cast (VERDICT r22 #6). Pinned so a heavier
    // generator child cannot silently recreate the interpreted-filter
    // duplication the dedup postings had (see the explode_outer ratchet).
    def interpreted(p: SparkPlan, inCodegen: Boolean): Seq[FilterExec] = p match {
      case a: AdaptiveSparkPlanExec => interpreted(a.executedPlan, false)
      case s: QueryStageExec => interpreted(s.plan, false)
      case w: WholeStageCodegenExec => interpreted(w.child, true)
      case i: InputAdapter => interpreted(i.child, false)
      case f: FilterExec => (if (inCodegen) Nil else Seq(f)) ++ interpreted(f.child, inCodegen)
      case other => other.children.flatMap(interpreted(_, inCodegen))
    }
    for (name <- Seq("sim_kmeans_step", "sim_label_centroid")) {
      val df = Registry.queries(name)(spark, sf0001)
      df.collect()
      val p = df.queryExecution.executedPlan
      val castFilters = interpreted(p, false).filter(_.condition.exists {
        case c: Cast => c.child.references.exists(a => a.name == "embedding" || a.name == "emb")
        case _ => false
      })
      assert(castFilters.isEmpty, s"$name: interpreted Filter over the emb cast:\n$p")
    }
  }

  test("no query plans an unintentional cartesian product") {
    val offenders = Registry.all.map(_.name)
      .filterNot(intentionalProducts)
      .filter { n =>
        val p = plan(n)
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty, s"unintentional product joins in: $offenders")
  }
}
