package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale contract, enforced:
  * filters reach the parquet scan, projections prune columns, small
  * dims broadcast, the ngram self-join stays sort-merge.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter pushed to the parquet scan") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"))
    assert(p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q1: scan prunes to touched columns only") {
    val p = plan("q1_pricing")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unpruned scan: $readSchema")
    assert(readSchema.contains("l_quantity"))
  }

  test("q3/j1: dimension joins are broadcast") {
    assert(plan("q3_shipping").contains("BroadcastHashJoin"))
    assert(plan("j1_enrich_lookup").contains("BroadcastHashJoin"))
  }

  test("ngram self-join is sort-merge, not broadcast") {
    val p = plan("dedup_ngram_top_pairs")
    assert(p.contains("SortMergeJoin"), "shingle self-join must shuffle on the key")
  }

  test("whole-stage codegen covers the scan+filter+project pipelines") {
    // AQE finalizes the plan only on execution
    for (q <- Seq("q1_pricing", "text_quality")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect() // executes THIS queryExecution so AQE finalizes it
      val p = df.queryExecution.executedPlan.toString
      // codegen stages print as "*(n) Operator" in the final plan
      assert(p.contains("WholeStageCodegen") || p.contains("*("), s"$q lost codegen:\n$p")
    }
  }

  test("scale-aware planes: the corpus count prunes every column (footer-only scan)") {
    // scaleAwarePlanes sizes the LSH width from embeddings.count() —
    // claimed metadata-only (r15 verdict #5). Pin the claim: the
    // count's scan must carry an EMPTY ReadSchema, which the parquet
    // reader satisfies from footer row counts without decoding any
    // column chunk — the closest local[] analogue of a catalog-stats
    // lookup, and the property that keeps the once-per-build count
    // O(#files) instead of O(data) at 100 TB.
    val df = graft.Tables.embeddings(spark, sfDir).groupBy().count()
    val p = df.queryExecution.executedPlan.toString
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("struct<>"),
      s"corpus count must not decode columns: $rs\n$p")
  }

  test("minhash aggregate is partial (map-side combine)") {
    val p = plan("dedup_minhash_buckets")
    // partial_min markers appear in the partial HashAggregate
    assert(p.contains("partial_min") || p.contains("HashAggregate"))
    assert(p.contains("Exchange hashpartitioning(doc_id"))
  }

  test("lsh-verified pairs: bucket equi-join, NO nested-loop anywhere") {
    // the declared query consumes the build-once checkpoint, so the
    // join shape is pinned on the un-memoized builder feeding it
    val p = graft.operators.Similarity.lshVerifiedPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidate generation must be the bucket equi-join, not all-pairs:\n$p")
  }

  test("containment pairs: shingle-keyed sort-merge self-join, never all-pairs") {
    val p = plan("dedup_containment_pairs")
    assert(p.contains("SortMergeJoin"), s"shingle self-join must shuffle on the key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("f7 anti-join broadcasts the existing-values side") {
    val p = plan("f7_meta_anti")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"existing catalog values must broadcast, the documents side must not shuffle:\n$p")
  }

  test("simhash banded candidates: band-bucket equi-join, NO nested loop") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidate generation must be the band-bucket equi-join, not all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("simhash pre-aggregates (doc_id, word_hash) before the bit votes") {
    val p = plan("dedup_simhash")
    // two-level aggregation: first keyed on (doc_id, h), then on doc_id
    assert(p.contains("Exchange hashpartitioning(doc_id"), p)
    assert(p.contains("partial_count") || p.contains("count"), p)
  }

  test("centroid outliers: centroids broadcast back, no nested loop") {
    val p = plan("ann_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"labels×dims centroid table must broadcast against the corpus scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("tfidf: term join is equi-keyed and N arrives as a broadcast, not a collect") {
    val p = plan("text_tfidf_topk")
    assert(!p.contains("CartesianProduct"), s"N must broadcast-nested-loop a single row, never cartesian:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"tf⋈df must be an equi-join:\n$p")
  }

  test("repetition: gram counts partially aggregate before the shuffle") {
    val p = plan("text_repetition")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("int8 quantization is shuffle-free: one narrow scan, no Exchange") {
    val p = plan("embed_quantize_int8")
    assert(!p.contains("Exchange"),
      s"per-vector quantization must pipeline with the scan, never shuffle:\n$p")
  }

  test("lang balance: counts broadcast back, corpus side never shuffles") {
    val p = plan("corpus_lang_balance")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-lang count table must broadcast against the main scan:\n$p")
    // the only Exchanges allowed feed the tiny counts aggregate, never
    // repartition the documents scan (it has no hash-partitioning on doc
    // columns other than lang's pre-agg)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("normalized dedup: exactly one shuffle, keyed on the norm hash") {
    val p = plan("dedup_normalized_keep_first")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected the single norm-hash shuffle, got $exchanges:\n$p")
  }

  test("temperature sample: counts broadcast back, no corpus-side sort-merge") {
    val p = plan("corpus_temperature_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("vocab top-k is TakeOrderedAndProject, never a global sort") {
    val p = plan("corpus_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must keep k rows per partition, not sort the vocabulary:\n$p")
  }

  test("approx aggs: KMV aggregate is partial; median windows are flag-partitioned") {
    val p = plan("sub_approx_aggs")
    // TypedImperativeAggregate with map-side partials (ObjectHashAggregate)
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_kmv_sketch"),
      s"KMV must combine map-side:\n$p")
    // every window carries a partition spec — no single-partition
    // global window anywhere in this query (the histogram windows
    // partition by l_returnflag)
    assert(p.contains("windowspecdefinition(l_returnflag"), p)
    assert(!p.contains("windowspecdefinition(,") &&
      !p.contains("SinglePartition, Window"), s"unpartitioned window:\n$p")
  }

  test("bpe learning round: pair explode runs over the distinct-word table") {
    // the learned-rules OUTPUT is a k-row driver-side table (like a
    // tokenizer's merges.txt); the distributed part is the per-round
    // pair-count aggregate — pin ITS shape instead
    import org.apache.spark.sql.functions.{col, concat, concat_ws, lit, split}
    val words = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(org.apache.spark.sql.functions.count(lit(1)).as("freq"))
    val spaced = concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" "))
    val p = operators.Corpus.bpeRoundPairCounts(words, spaced)
      .queryExecution.executedPlan.toString
    // word-frequency aggregate BELOW the generator: the explode runs
    // over vocab entries, never the raw token stream
    assert(p.contains("Generate") && p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
  }

  test("pq-adc: codebook and LUT broadcast; scoring never nested-loops") {
    val p = plan("ann_pq_adc_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"codebook/LUT joins must broadcast against the corpus:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"ADC scoring must stay equi-keyed:\n$p")
  }

  test("ivf-pq: equi-keyed scoring; the only cross product is the tiny " +
      "broadcast centroid set") {
    val p = plan("ann_ivf_pq_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"),
      s"assignment must broadcast the centroids, never shuffle a cross:\n$p")
  }

  test("bloom prefilter: might_contain filters the probe side BELOW the join") {
    val df = SparkEntry.queries("j_bloom_prefilter")(TestSpark.spark, TestSpark.sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"bloom filter missing from plan:\n$p")
    // the bloom test must sit on the lineitem scan side, not above the join:
    // every join operator line must come BEFORE the might_contain line
    // (executedPlan prints top-down, children below parents)
    val lines = p.linesIterator.toSeq
    val joinIdx = lines.indexWhere(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
    val bloomIdx = lines.indexWhere(_.contains("might_contain"))
    assert(joinIdx >= 0 && bloomIdx > joinIdx,
      s"bloom_contains must be pushed below the join:\n$p")
  }

  test("semantic dedup: cell equi-join candidates; only the broadcast " +
      "centroid assignment crosses") {
    val p = plan("dedup_semantic_keep_first")
    assert(!p.contains("CartesianProduct"),
      s"assignment must broadcast the centroids, never shuffle a cross:\n$p")
    // the pair join itself is equi-keyed on cent_id
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("cent_id")),
      s"within-cell pairs must come from the cent_id equi-join:\n$p")
    assert(p.contains("LeftAnti"), s"survivor set must be a left-anti join:\n$p")
  }

  test("chunk dedup: boilerplate census aggregates with map-side combine") {
    val p = plan("dedup_chunks_global")
    assert(p.contains("LeftAnti"), s"chunk removal must be a left-anti join:\n$p")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("abc classes: distributed prefix sum — range exchange, pid-partitioned window, no single-task sort over parts") {
    val df = graft.operators.Relational.ordersAbcClasses(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the cumulative share must ride the pid-partitioned window; the
    // only unpartitioned window allowed is the <= #partitions-row
    // offset table
    assert(p.contains("hashpartitioning(pid"), s"prefix window must partition by pid:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("source cap: salted partial top-k precedes the per-source window") {
    val p = plan("corpus_source_cap")
    // two row_number windows: (source, salt) then (source) —
    // matching "Window [row_number()" excludes the WindowGroupLimit
    // helper operators each window adds
    val windows = p.linesIterator.count(_.contains("Window [row_number()"))
    assert(windows == 2, s"expected salted pre-pass + final window, got $windows:\n$p")
  }

  test("mix epochs: per-lang counts broadcast back, the corpus never sorts") {
    val p = plan("corpus_mix_epochs")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"per-lang counts and n_max must arrive as broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must never shuffle for the epoch manifest:\n$p")
    assert(p.contains("Generate explode"), s"epoch explode missing:\n$p")
  }

  test("char diversity: prefix-bounded explode reads only (doc_id, text)") {
    val p = plan("text_char_diversity")
    assert(p.contains("ReadSchema") && p.contains("doc_id") && p.contains("text"))
    assert(!p.contains("n_chars") && !p.contains("lang"),
      s"scan must prune to the two used columns:\n$p")
    // two-stage aggregation: (doc,char) count collapses map-side
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p)
  }

  test("ngram novelty: doc-keyed join only — the gram space is never joined") {
    val p = plan("text_ngram_novelty")
    val gramJoin = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("[s"))
    assert(!gramJoin, s"no join may key on the gram column:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("native as-of variants share the backward plan shape: one exchange " +
      "per side, no union") {
    for (q <- Seq("asof_forward_native", "asof_nearest_native")) {
      val p = plan(q)
      assert(p.contains("AsofJoin"), s"$q must plan the custom exec:\n$p")
      assert(!p.contains("Union") && !p.contains("Window"), s"$q:\n$p")
    }
  }

  test("range-join rule: the naive inequality join plans as an equi-join") {
    val p = plan("range_join_rule")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the optimizer rule must remove the nested loop:\n$p")
    // any equi-join flavor keyed on the bin (the tiny test SF broadcasts;
    // at scale EnsureRequirements picks shuffled hash / sort-merge)
    assert(p.linesIterator.exists(l =>
      l.contains("HashJoin") && l.contains("__graft_bin")),
      s"expected the bin-keyed equi-join:\n$p")
  }

  test("winnow fingerprints: a per-document projection — no window sort, " +
      "no gram-stream hash exchange; at most the scan fan-out (r18)") {
    val p = plan("text_winnow_fp")
    assert(!p.contains("Window"),
      s"the doc-keyed window sort must stay folded into the array form:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"no keyed shuffle belongs in a per-document statistic:\n$p")
    // the only admissible exchange is the scale-adaptive round-robin
    // fan-out of the raw doc rows (fires only when the scan has fewer
    // partitions than the session parallelism — i.e. tiny local files)
    val exchanges = "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).size
    assert(exchanges <= 1,
      s"expected at most the scan fan-out exchange:\n$p")
  }

  test("winnow pairs: fingerprint self-join is shuffle-keyed, not nested-loop") {
    // the declared query consumes the build-once checkpoint (its own
    // plan is a Scan ExistingRDD — see GraphEdgesSpec), so the join
    // shape is pinned on the UN-memoized builder that feeds the build
    val p = graft.operators.Dedup.winnowSharedPairsAll(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"overlap join must block on the fingerprint key:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"corpus-sized sides must shuffle-merge, not broadcast:\n$p")
  }

  test("prefix jaccard: every join is equi-keyed — no nested loop anywhere") {
    val p = plan("dedup_prefix_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the prefix screen must never plan a pair scan:\n$p")
  }

  test("image hamming: census pair join is equi-keyed on the band value") {
    val p = plan("dedup_image_hamming")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band blocking must yield equi-joins:\n$p")
  }

  test("new classics: dims broadcast, no nested loop, no cartesian") {
    for (q <- Seq("q2_min_cost_supplier", "q7_volume_shipping",
        "q9_product_profit", "q16_supplier_cnt", "q20_part_promotion")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q must broadcast its dims:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q8/q11: the global scalar arrives via broadcast, never a shuffle") {
    for (q <- Seq("q8_market_share", "q11_important_stock")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: the one-row total must broadcast-nested-loop, not cartesian:\n$p")
    }
  }

  test("q12/q13: date filter pushdown and map-side partial aggregation") {
    val p12 = plan("q12_ship_priority")
    assert(p12.contains("HashAggregate") && !p12.contains("CartesianProduct"), p12)
    val p13 = plan("q13_cust_distribution")
    // double aggregation: per-customer then histogram
    assert(p13.linesIterator.count(_.contains("HashAggregate")) >= 3, p13)
  }

  test("scd2 history: one customer-keyed exchange feeds the yearly agg, " +
      "every window, and the interval agg") {
    val p = plan("scd2_tier_history")
    val exchanges = "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"repartition(o_custkey) must satisfy every downstream distribution:\n$p")
    assert(p.contains("Window"), p)
  }

  test("session_window native: single user-keyed shuffle, no global window") {
    val p = plan("sub_session_window")
    val exchanges = "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"session assembly is one user-keyed exchange:\n$p")
    assert(!p.contains("SinglePartition"), s"nothing may serialize globally:\n$p")
  }

  test("column profiler: one lineitem scan, sketch NDV, NO Expand") {
    val p = plan("sub_profile_columns")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"the profile must be one pass, not a scan per column:\n$p")
    // VERDICT r6 #2: exact multi-column NDV planned as Expand ×8 — the
    // KMV sketch keeps the single scan at 1× row traffic
    assert(!p.contains("Expand"),
      s"sketch NDV must not multiply rows via Expand:\n$p")
    assert(p.contains("kmv_sketch"), s"NDV must come from the KMV sketch:\n$p")
  }

  test("exact profiler twin: two narrow passes, no Expand mega-aggregate") {
    val p = plan("sub_profile_exact")
    // scalar pass + narrow NDV pass — and NOT the one-scan Expand
    // count_distinct plan, which drags 4·columns agg buffers through
    // two shuffles (13.1 s → 5.1 s warmed at sf0.1)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"the exact profile is exactly two passes:\n$p")
    assert(!p.contains("Expand"),
      s"NDV must stack to narrow (column,value) rows, not Expand:\n$p")
    // the distinct collapse aggregates map-side before the shuffle
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the 7-row ndv table must broadcast back:\n$p")
  }

  test("z-order layout: rank is range-partitioned; offsets broadcast back") {
    // disable the correctness checkpoint ONLY to expose the full plan
    // (the checkpoint truncates lineage above the range exchange)
    spark.conf.set("graft.zorder.pinPartitioning", "false")
    try {
      val p = plan("layout_zorder")
      assert(p.contains("rangepartitioning"),
        s"the layout sort must range-partition, never a global window:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"the P-row offset table must broadcast back:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.unset("graft.zorder.pinPartitioning")
  }

  test("media codecs read only (doc_id, n_chars) from the documents scan") {
    for (q <- Seq("mm_decode_image", "mm_decode_audio",
        "mm_decode_video", "mm_video_sample")) {
      val p = plan(q)
      val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!readSchema.contains("text"),
        s"$q must not read the text column: $readSchema")
      assert(readSchema.contains("n_chars"), s"$q: $readSchema")
    }
  }

  test("video decode: exactly the row-spreading exchange, then narrow codec stages") {
    // r13: the few-MB documents projection is ONE parquet split, so a
    // zero-shuffle plan ran every codec pass serially on one core (the
    // sf1 audit measured mm_image_ahash at e_top 1.35 for this). The
    // intended shape is now ONE explicit REPARTITION_BY_NUM exchange
    // spreading the (doc_id, n_chars) rows, then narrow mapPartitions
    // stages — any FURTHER shuffle (or losing the spread) is a bug.
    for (q <- Seq("mm_decode_video", "mm_video_sample")) {
      val p = plan(q)
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$q must spread the codec rows across cores:\n$p")
      val exchanges = "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).size
      assert(exchanges == 1,
        s"$q must have exactly the one row-spreading exchange:\n$p")
    }
  }

  test("lm perplexity: all equi-joins, cutoff calibration is bounded aggregates") {
    val p = plan("text_lm_perplexity")
    // 1-row broadcasts (totals, cutoffs) legitimately print as
    // BroadcastNestedLoopJoin BuildRight Cross; anything else is a bug
    val badBnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(l => l.contains("BuildRight") && l.contains("Cross"))
    assert(badBnlj.isEmpty && !p.contains("CartesianProduct"),
      s"LM lookups must be equi-joins:\n$p")
    // single-partition exchanges: only the scalar O(k)-state topk_by
    // aggregates (totals, hash sample, cutoff array) whose partials
    // collapse map-side — never a sort/window of the corpus or slice
    val singles = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singles <= 5, s"bounded calibration only, got $singles SinglePartition:\n$p")
    // and none of them feeds a window/sort — every single-partition
    // exchange is the final step of a scalar aggregate
    assert(!p.contains("Window"), s"no window anywhere in the plan:\n$p")
  }

  test("drift psi: no window, no sort — counts + broadcasts only") {
    val p = plan("events_drift_psi")
    assert(!p.contains("Window"), s"PSI must not need a window:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("BuildRight"),
      s"stats/totals rides a 1-row broadcast:\n$p")
  }

  test("group sample: ObjectHashAggregate partials, no per-group window sort") {
    val p = plan("sketch_group_sample")
    assert(p.contains("ObjectHashAggregate"),
      s"bounded sampler must plan as ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"), s"the window formulation is the oracle, not the plan:\n$p")
  }

  test("histogram quantiles: bin census is a partial hash aggregate") {
    val p = plan("sketch_hist_quantiles")
    assert(p.contains("HashAggregate"), p)
    // the exact rank twin is the ONLY sort (calibration harness)
    assert(p.contains("Window"), "rank twin present by design")
  }

  test("matryoshka funnel: corpus never shuffles, queries broadcast") {
    val p = plan("embed_matryoshka_recall")
    // stage-1 scoring joins the 10-row query set as a broadcast (the
    // <> condition plans it as a BNLJ BuildRight, same as ann_brute);
    // the only exchanges repartition the Q·N scored rows for the two
    // per-query rank windows — the corpus scan itself feeds the join
    // directly with no hashpartitioning on vec_id
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastNestedLoopJoin") && l.contains("BuildRight")),
      s"query set must broadcast against the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("snapshot diff: one key-keyed sort-merge full outer, no window") {
    val p = plan("sub_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"the diff IS the full-outer merge:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    // churn classification happens after the join; no second pass over
    // either snapshot
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"each snapshot reads its scan once:\n$p")
  }

  test("layout skip workload: rectangle table broadcasts against zone maps") {
    spark.conf.set("graft.zorder.pinPartitioning", "false")
    try {
      val p = plan("layout_skip_workload")
      assert(p.contains("rangepartitioning"),
        s"block assignment must be the distributed rank:\n$p")
      // the nRects-row workload joins the block-count-sized zone maps
      // as a broadcast (cross of 12 × blocks is fine; data-sized isn't)
      assert(!p.contains("SortMergeJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"workload probe must not shuffle the zone maps:\n$p")
    } finally spark.conf.unset("graft.zorder.pinPartitioning")
  }

  test("report card: hash census collapses map-side, no window, no CP") {
    val p = plan("corpus_report_card")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"the dup census is a count + equi-join back, never a window:\n$p")
  }

  private def unpartitionedWindows(name: String) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
  }

  test("hist quantiles: exact twin never sorts raw rows on one task") {
    // the rank-r read is localized to the holding bin and windowed
    // PARTITIONED by q_pct; the only legitimate unpartitioned window
    // is the cum_before walk over the BINS census (≤ `bins` rows by
    // construction). A global row_number over raw `c` — the old exact
    // twin — would sort the whole table on one task at 100×.
    val wins = unpartitionedWindows("sketch_hist_quantiles")
    assert(wins.forall(_.orderSpec.forall(_.child.references
        .map(_.name).forall(_ == "bin"))),
      s"unpartitioned window over raw rows: $wins")
  }

  test("lm perplexity: no window at all — cutoffs ride bounded topk_by") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = SparkEntry.queries("text_lm_perplexity")(spark, sfDir)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.isEmpty,
      "tertile cutoffs must come from the bounded topk_by sample, not ntile")
  }

  test("source ablation: one corpus scan, totals ride a 1-row broadcast") {
    val p = plan("corpus_source_ablation")
    // per-source partials are localCheckpointed, so the documents scan
    // appears exactly once even though `per` feeds totals AND output
    assert(p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents")) <= 1,
      s"ablation must derive both sides from ONE corpus scan:\n$p")
    val badBnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(l => l.contains("BuildRight") && l.contains("Cross"))
    assert(badBnlj.isEmpty && !p.contains("CartesianProduct"),
      s"totals must be a 1-row broadcast:\n$p")
  }

  test("incremental dedup: every candidate join equi-keyed, no corpus self-pairs") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"new-vs-corpus candidates must stay (band,bucket)/(hash) equi-keyed:\n$p")
  }

  test("mad outliers: both median windows partitioned by event_type") {
    assert(unpartitionedWindows("events_mad_outliers").isEmpty,
      "medians are windows over the calendar-bounded daily table, " +
        "PARTITIONED by event_type — never a global sort")
    val p = plan("events_mad_outliers")
    // med and mad join back as tiny broadcasts
    assert(p.contains("BroadcastHashJoin"), s"median joins must broadcast:\n$p")
  }

  test("trending decay: rank window partitioned, anchor is a 1-row broadcast") {
    assert(unpartitionedWindows("events_trending_decay").isEmpty,
      "the rank window runs over the (items × days)-bounded census, " +
        "PARTITIONED by event_type")
    val p = plan("events_trending_decay")
    val badBnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(l => l.contains("BuildRight") && l.contains("Cross"))
    assert(badBnlj.isEmpty && !p.contains("CartesianProduct"),
      s"max-day anchor must be a 1-row broadcast:\n$p")
  }

  test("label purity: bounded topk_by, id-keyed label lookup, no window") {
    val p = plan("embed_label_purity")
    assert(p.contains("ObjectHashAggregate"),
      s"per-vector top-k must ride the O(k)-state aggregate:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"the window formulation is the oracle, not the plan:\n$p")
  }

  test("apply changeset: key-slice filter reaches both parquet scans") {
    val p = plan("sub_apply_changeset")
    // the ≡0 mod 4 output slice is a join-key predicate, applied to
    // base AND changeset BEFORE the full-outer joins — at 100 TB this
    // is the difference between merging 1/4 and merging everything
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"MERGE must stay key-equi:\n$p")
    assert(p.linesIterator.count(l => l.contains("Filter") &&
        l.contains("% 4") && l.contains("o_orderkey")) >= 2,
      s"key-slice must prune both inputs before the join:\n$p")
  }

  test("bloom advisor: KMV partials map-side, one scan per keyed table") {
    val p = plan("sub_bloom_advisor")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_kmv_sketch"),
      s"NDV sketches must combine map-side:\n$p")
    assert(!p.contains("Window"), s"advisor math is pure projection:\n$p")
  }

  test("kcenter coreset: narrow per-round updates, argmax never sorts") {
    val p = plan("embed_kcenter_coreset")
    // per-round state updates ride 1-row broadcasts; the selection is
    // a max(struct) aggregate — no Sort of the corpus, no window
    val badBnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(l => l.contains("BuildRight") && l.contains("Cross"))
    assert(badBnlj.isEmpty && !p.contains("CartesianProduct"),
      s"center broadcasts must be 1-row BuildRight:\n$p")
    assert(!p.contains("Window"), s"no window anywhere:\n$p")
  }

  test("triangles: oriented wedge join stays equi-keyed") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge + closing joins must be key-equi:\n$p")
  }

  test("zipf fit: vocabulary cut by TakeOrdered, never a global sort") {
    // the declared query localCheckpoints the top-N table (shared by
    // the rank window and the shift anchor), which hides its subtree —
    // pin the top-N fragment's own plan instead
    import org.apache.spark.sql.functions.{col, count, explode, lit, split}
    val top = graft.Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(1000)
    val p = top.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N must keep N rows per partition:\n$p")
  }

  test("multiprobe LSH: probes broadcast, candidates bucket-equi") {
    val p = plan("ann_lsh_multiprobe")
    assert(p.contains("BroadcastHashJoin"),
      s"probe set must broadcast against the bucket index:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("budget mix: one corpus scan, census-only windows") {
    val p = plan("corpus_budget_mix")
    assert(p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents")) <= 1,
      s"census must be localCheckpointed — one corpus scan:\n$p")
    val badBnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(l => l.contains("BuildRight") && l.contains("Cross"))
    assert(badBnlj.isEmpty && !p.contains("CartesianProduct"),
      s"budget must be a 1-row broadcast:\n$p")
  }

  test("centroid drift: aggregate-only, no window, no cross product") {
    val p = plan("embed_centroid_drift")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"drift is partial sums + a labels-row join:\n$p")
  }

  test("transition matrix: lag window user-partitioned, totals broadcast") {
    assert(unpartitionedWindows("events_transition_matrix").isEmpty,
      "the lag window must partition by user_id")
    val p = plan("events_transition_matrix")
    assert(p.contains("BroadcastHashJoin"),
      s"row totals must broadcast back:\n$p")
  }

  test("monitor ensemble: census joins only, no cross product") {
    val p = plan("events_monitor_ensemble")
    assert(!p.contains("CartesianProduct"),
      s"the four detector censuses compose by key joins:\n$p")
    val badBnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(l => l.contains("BuildRight") && l.contains("Cross"))
    assert(badBnlj.isEmpty, s"only 1-row stat broadcasts allowed:\n$p")
  }

  test("entropy profile: no window, totals broadcast to the term table") {
    val p = plan("text_entropy_profile")
    assert(!p.contains("Window"), s"entropy is aggregates only:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source totals must broadcast back:\n$p")
  }

  test("hard negatives: bucket-equi candidates, bounded topk_by, no window") {
    val p = plan("embed_hard_negatives")
    assert(!p.contains("CartesianProduct"),
      s"anchors must never cross buckets:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"per-anchor top-k must ride the O(k)-state aggregate:\n$p")
    assert(!p.contains("Window"),
      s"the window formulation is the oracle, not the plan:\n$p")
  }

  // --- round-9 session guards -------------------------------------------

  test("rfm: the only window is the dim-partitioned census walk") {
    assert(unpartitionedWindows("orders_rfm_segments").isEmpty,
      "quintile cutoffs ride the dim-partitioned census window, " +
        "never a sort over customers")
    val p = plan("orders_rfm_segments")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the 12-cutoff row must broadcast back for scalar scoring:\n$p")
  }

  test("user gini: window partitioned by type over the count census") {
    assert(unpartitionedWindows("events_user_gini").isEmpty,
      "the rank-weighted sum walks the count-of-counts census " +
        "partitioned by event_type — never a sort over users")
  }

  test("funnel latency: unpartitioned window only over the minute census") {
    // the latency domain is capped at 2880 minutes by the funnel
    // definition, so the census walk is the legitimate bounded case
    val wins = unpartitionedWindows("events_funnel_latency")
    assert(wins.forall(_.orderSpec.forall(_.child.references
        .map(_.name).forall(_ == "mb"))),
      s"unpartitioned window over non-census rows: $wins")
  }

  test("alignment: no window, no pairwise join — the identity is aggregates") {
    val p = plan("embed_alignment")
    assert(!p.contains("Window"), s"the closed form needs no window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no pairwise join may appear — that is the whole point:\n$p")
  }

  test("graph peel/BFS rounds: equi-joins only, never all-pairs") {
    for (q <- Seq("graph_kcore", "graph_core_distance")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: per-round degree/frontier joins must stay node-keyed:\n$p")
    }
  }

  test("snaive eval: day-shifted equi self-joins, no window") {
    val p = plan("events_forecast_snaive")
    assert(!p.contains("Window"), s"both forecasts are self-joins:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("readability: single scan, zero exchanges") {
    val p = plan("text_readability")
    assert(!p.contains("Exchange"),
      s"a per-doc Column program must not shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("gap census: lag window partitioned by type over the day census") {
    assert(unpartitionedWindows("events_gap_census").isEmpty,
      "the gap walk is partitioned by event_type over (type, day) rows")
  }

  test("ohlc: one aggregate, no window, no join") {
    val p = plan("events_ohlc_hourly")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"open/close must ride the struct extremes inside ONE aggregate:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("basket rules: orderkey-bounded pair join, marginals broadcast") {
    val p = plan("orders_basket_rules")
    assert(!p.contains("CartesianProduct"),
      s"the pair fan-out must stay keyed on l_orderkey:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"brand marginals and the basket total must broadcast:\n$p")
  }

  test("edit distance + crossmodal: verify joins equi-keyed on doc ids") {
    for (q <- Seq("dedup_edit_distance", "mm_crossmodal_audit")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: payloads attach by doc_id equi-joins only:\n$p")
    }
  }

  test("group quantiles: census window partitioned by event_type") {
    assert(unpartitionedWindows("sketch_group_quantiles").isEmpty,
      "the cumulative walk must ride the type-partitioned bins census")
  }

  test("kmv set ops: raw events only aggregated — pair work is sketch-sized") {
    // the localCheckpointed sketch subtree appears as an ExistingRDD
    // scan here; its O(k)-state kmv aggregate shape is pinned by the
    // sketch_kmv_distinct guard
    val p = plan("sketch_kmv_setops")
    assert(!p.contains("CartesianProduct"),
      s"the t1<t2 pair join must stay a broadcast over sketch rows:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"pair fan-out and exact twin must broadcast the small sides:\n$p")
  }

  test("link prediction: both wedge sides read a pinned w repartition, uv aggregate pinned") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object H extends AdaptiveSparkPlanHelper
    def names(es: Seq[Expression]) = es.collect { case a: Attribute => a.name }
    def repartition(key: String): PartialFunction[SparkPlan, ShuffleExchangeExec] = {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM &&
          (e.outputPartitioning match {
            case HashPartitioning(ks, _) => names(ks) == Seq(key)
            case _ => false
          }) => e
      case ReusedExchangeExec(_, e: ShuffleExchangeExec)
          if repartition(key).isDefinedAt(e) => e
    }
    // the final plan, after AQE has replanned joins and reused stages
    val df = SparkEntry.queries("graph_link_prediction")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // each wedge side's explode width is an explicit repartition, exempt
    // from AQE's byte-driven coalescing; both sides get the same width
    val w = H.collect(p)(repartition("w"))
    assert(w.nonEmpty && w.map(_.outputPartitioning.numPartitions).distinct.size == 1,
      s"the wedge exchanges must be REPARTITION_BY_NUM on w at one width:\n$p")
    def fed(side: SparkPlan) = H.collect(side)(repartition("w")).nonEmpty
    val wedgeJoins = H.collect(p) {
      case j: BaseJoinExec if names(j.leftKeys) == Seq("w") &&
          fed(j.left) && fed(j.right) => j }
    assert(wedgeJoins.size == 1, s"a w repartition must feed both wedge sides:\n$p")
    val uv = H.collect(p)(repartition("uv"))
    assert(uv.size == 1, s"exactly one REPARTITION_BY_NUM exchange keyed on uv:\n$p")
    val uvAggs = H.collect(p) {
      case a: BaseAggregateExec if names(a.groupingExpressions) == Seq("uv") &&
          H.find(a)(_ eq uv.head).isDefined => a }
    assert(uvAggs.nonEmpty, s"the uv exchange must sit below the uv aggregate:\n$p")
    assert(H.collect(p) { case g: GenerateExec => g }.isEmpty &&
      !p.toString.contains("collect_list"),
      s"pairs come from the wedge self-join, never a per-middle array explode:\n$p")
  }
}
