package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.PortableHash

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs downstream of dedup/quality: deterministic dataset splits and
  * token-budget sequence packing.
  *
  * Scale notes (100 TB):
  *  - the split is a pure map over a content-independent portable hash:
  *    no shuffle, no RNG state, stable under re-runs and re-partitions
  *    (the property that actually matters — a `rand()` split silently
  *    reshuffles train/test on every retry);
  *  - packing windows are keyed (lang, shard) where shard is a hash of
  *    the doc id: per-key data stays executor-local and the key space
  *    scales with the corpus instead of the ~20 languages (a
  *    partition-by-lang-only window is the skew trap at 100 TB).
  */
object Corpus {

  /** Deterministic stratified train/validation/test split: the md5-based
    * portable hash of the doc id modulo 100 buckets → 80/10/10. The
    * salt prefix decorrelates this hash from any other doc_id-keyed
    * hashing in the pipeline. */
  def stratifiedSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = PortableHash.md5Hash48(
      concat(lit("split:"), col("doc_id").cast("string"))) % 100
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), bucket.as("split_bucket"),
        when(bucket < 80, "train").when(bucket < 90, "validation")
          .otherwise("test").as("split"))
  }

  /** SPLIT-LEAKAGE AUDIT — the check run before trusting any
    * doc-level split: near-duplicate pairs whose endpoints land in
    * DIFFERENT splits leak training text into evaluation (the
    * contamination mechanism behind the post-GPT-3 dedup-your-eval
    * lesson — a doc-hash split is deterministic but near-dup-blind by
    * construction). Per unordered split pair: edge count, a leak flag,
    * and an example pair to drill into (argmin via the portable
    * packed-struct min, the OHLC pattern).
    *
    * Edges are the PROVEN winnow near-dup list
    * ([[Dedup.winnowEdgesMaterialized]] — build-once, oracle-gated as
    * `graph_edges_build`); the audit itself is two doc-keyed equi-joins
    * attaching the split labels to the edge endpoints (the split table
    * is corpus-sized, so these shuffle on the doc key; at 100 TB the
    * EDGE list is the smaller side and is the broadcast candidate if
    * it is bounded) plus one split-pair-sized aggregate — output is
    * ≤ |splits|² rows at any corpus size. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val split = stratifiedSplit(spark, sfDir).select(col("doc_id"), col("split"))
    val edges = Dedup.winnowEdgesMaterialized(spark, sfDir)
      .select(col("id1"), col("id2"))
    edges
      .join(split.select(col("doc_id").as("id1"), col("split").as("s1")), Seq("id1"))
      .join(split.select(col("doc_id").as("id2"), col("split").as("s2")), Seq("id2"))
      .select(least(col("s1"), col("s2")).as("split_a"),
        greatest(col("s1"), col("s2")).as("split_b"), col("id1"), col("id2"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_edges"),
        min(struct(col("id1"), col("id2"))).as("x"))
      .select(col("split_a"), col("split_b"), col("n_edges"),
        (col("split_a") =!= col("split_b")).as("is_leak"),
        col("x.id1").as("example_id1"), col("x.id2").as("example_id2"))
  }

  /** LEAKAGE-FREE SPLIT — the fix the audit motivates: hash the
    * near-dup CLUSTER label instead of the doc id, so every connected
    * component of the near-dup graph lands wholly in one split and
    * cross-split edges are ZERO by construction (both endpoints of any
    * edge share a cluster, hence a bucket, hence a split). The output
    * census carries `n_cross_edges` computed the hard way — the
    * oracle's replay of the same count is the machine-checked proof of
    * the zero, not an assertion.
    *
    * Scale shape: cluster labels come from the O(log n) star
    * contraction over the materialized edge list (the
    * `dedup_cluster_labels` path); the split is a pure map over the
    * label hash (no RNG, re-run-stable — the [[stratifiedSplit]]
    * property lifted from docs to clusters); the census is one
    * map-side-combined aggregate to |splits| rows plus one edge-keyed
    * recount of crossings. Trade-off vs the doc split, stated: bucket
    * proportions hold over CLUSTERS, so a mega-cluster drags its whole
    * mass into one split — which is exactly why [[Dedup.clusterCensus]]
    * audits the size tail first. */
  def clusteredSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val edges = Dedup.winnowEdgesMaterialized(spark, sfDir)
      .select(col("id1"), col("id2"))
    val bucket = PortableHash.md5Hash48(
      concat(lit("csplit:"), col("cluster").cast("string"))) % 100
    val assigned = Dedup.connectedComponents(docs, edges)
      .select(col("doc_id"), col("cluster"),
        when(bucket < 80, "train").when(bucket < 90, "validation")
          .otherwise("test").as("split"))
      .localCheckpoint(eager = false) // census + both crossing sides
    val cross = edges
      .join(assigned.select(col("doc_id").as("id1"), col("split").as("s1")), Seq("id1"))
      .join(assigned.select(col("doc_id").as("id2"), col("split").as("s2")), Seq("id2"))
      .agg(coalesce(sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)), lit(0L))
        .as("n_cross_edges"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"))
      .crossJoin(broadcast(cross))
  }

  /** SPLIT-BALANCE ALERT — DECLARES the
    * mega-cluster trade-off [[clusteredSplit]] only documented: bucket
    * proportions hold over CLUSTERS, so one giant near-dup component
    * can drag its whole token mass into a single split and pull the
    * realized proportions off the 80/10/10 target. Per split: docs,
    * clusters, token mass, the split's token-mass SHARE in integer
    * micro-units (portable — no float division anywhere), the single
    * largest cluster's share of the split's own mass, and two flags —
    * `is_skewed` (share more than 5 points off its target) and
    * `is_cluster_dominated` (one cluster holds over half the split).
    * The cap family's discipline (`graph_dropped_hubs`,
    * `dedup_oversized_buckets`): pathologies surface as alert-query
    * rows, not docstring caveats.
    *
    * Scale: rides the same build-once edge memo and star-contraction
    * labels as the split itself; after the label join everything is two
    * map-side-combined aggregates (per-(split, cluster) mass, then the
    * |splits|-row census) plus one 1-row broadcast total — output is
    * |splits| rows at any corpus size. */
  def splitBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val edges = Dedup.winnowEdgesMaterialized(spark, sfDir)
      .select(col("id1"), col("id2"))
    val bucket = PortableHash.md5Hash48(
      concat(lit("csplit:"), col("cluster").cast("string"))) % 100
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val assigned = Dedup.connectedComponents(docs.select(col("doc_id")), edges)
      .select(col("doc_id"), col("cluster"),
        when(bucket < 80, "train").when(bucket < 90, "validation")
          .otherwise("test").as("split"))
      .join(toks, Seq("doc_id"))
    val byCluster = assigned.groupBy(col("split"), col("cluster"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("mass"))
    val bySplit = byCluster.groupBy(col("split"))
      .agg(sum(col("nd")).as("n_docs"), count(lit(1)).as("n_clusters"),
        sum(col("mass")).as("token_mass"),
        max(col("mass")).as("top_cluster_mass"))
      .localCheckpoint(eager = false) // census rows + the 1-row total
    val total = bySplit.agg(sum(col("token_mass")).as("total_mass"))
    bySplit.crossJoin(broadcast(total))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("token_mass"),
        expr("token_mass * 1000000 DIV total_mass").as("share_micro"),
        expr("top_cluster_mass * 1000000 DIV token_mass")
          .as("top_cluster_share_micro"))
      .withColumn("target_micro",
        when(col("split") === "train", 800000L).otherwise(100000L))
      .withColumn("is_skewed",
        abs(col("share_micro") - col("target_micro")) > 50000L)
      .withColumn("is_cluster_dominated",
        col("top_cluster_share_micro") > 500000L)
  }

  /** SPLIT-CHURN AUDIT — the day-2 stability twin of
    * [[clusteredSplit]], enabled by the cluster-label IVM
    * ([[Dedup.clusterRefresh]]): when the day's admitted docs merge
    * near-dup components, the merged component's label becomes the
    * UNION MIN — so the label hash, and therefore the split, of every
    * doc in the absorbed components can FLIP. That is the documented
    * instability of cluster-hashed splits (a doc that silently moves
    * train→test between releases invalidates eval history), and this
    * query DECLARES it: the (old_split → new_split) migration matrix
    * over day-1 docs, with admitted docs entering as old_split='new',
    * a churn flag on off-diagonal day-1 rows, and an example doc per
    * cell to drill into.
    *
    * Scale shape: one shared day-1 fingerprint scan feeds the stored
    * labels AND the refreshed table ([[Dedup.clusterRefreshOf]]'s
    * single-scan contract); the refresh itself is delta-bounded; the
    * matrix is one map-side-combined aggregate to
    * ≤ (|splits|+1)·|splits| rows. */
  def splitChurn(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val admitted = Dedup.admittedMaterialized(spark, sfDir)
    // day-1 fingerprints + stored labels are the PERSISTED day-1 state
    // — read from the build-once memo (Dedup.Day1ClusterFamily; bench
    // charges the build to `corpus_daily_increment`), never rebuilt
    // per query
    val oldFpRaw = Dedup.day1FingerprintsMaterialized(spark, sfDir)
    val refreshedFp = oldFpRaw.unionByName(TextAnalysis
        .winnowDocFps(docs.join(admitted, Seq("doc_id"), "left_semi"), 4))
      .localCheckpoint(eager = false)
    val stored = Dedup.storedClusterLabelsMaterialized(spark, sfDir)
    val refreshed = Dedup.clusterRefreshOf(spark, sfDir, admitted,
      Dedup.deltaEdgesOf(spark, sfDir, admitted, Some(refreshedFp)),
      storedLabels = Some(stored))
    def splitOf(c: Column): Column = {
      val b = PortableHash.md5Hash48(concat(lit("csplit:"), c.cast("string"))) % 100
      when(b < 80, "train").when(b < 90, "validation").otherwise("test")
    }
    refreshed.select(col("doc_id"), splitOf(col("cluster")).as("new_split"))
      .join(stored.select(col("doc_id"),
        splitOf(col("cluster")).as("old_split")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("new_split"),
        coalesce(col("old_split"), lit("new")).as("old_split"))
      .groupBy(col("old_split"), col("new_split"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))
      .select(col("old_split"), col("new_split"), col("n_docs"),
        (col("old_split") =!= col("new_split") &&
          col("old_split") =!= "new").as("is_churn"),
        col("example_doc"))
  }

  /** The composed cleaning pipeline a corpus release actually runs:
    * language filter → quality gate (length + lexical diversity) →
    * exact dedup keep-first → redaction, in one DataFrame program.
    * Each stage is the already-oracled operator; composing them stays
    * a single scan + one window shuffle (the dedup) — Catalyst fuses
    * the filters and projections around it. */
  def cleanPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col("doc_id"))
    val words = split(col("text"), " ")
    TextAnalysis.redactPii(spark, sfDir)
      .join(Tables.documents(spark, sfDir), "doc_id")
      .filter(col("lang").isin("en", "de", "fr"))
      .withColumn("n_words", size(words))
      .withColumn("distinct_ratio",
        size(array_distinct(words)).cast("double") / size(words))
      .filter(col("n_words") >= 5 && col("distinct_ratio") > 0.3)
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_words"),
        graft.operators.PortableRound.pround(col("distinct_ratio"), 4).as("distinct_ratio"),
        col("redacted"))
  }

  /** Benchmark decontamination: flag training documents that share
    * ≥ `minShared` distinct word-3-grams with any eval-set document
    * (the overlap check run before training so test sets don't leak
    * into the corpus). Eval membership here is doc_id < `evalMax` —
    * a stand-in for the real eval-set table.
    *
    * Scale shape: the eval side is a benchmark (tiny, fixed) — its
    * shingles BROADCAST, so the 100 TB training side never shuffles:
    * one narrow scan + broadcast hash join + a (train,eval)-keyed
    * count with map-side combine. */
  def decontaminate(spark: SparkSession, sfDir: String, evalMax: Long = 20,
      minShared: Long = 3): DataFrame = {
    val docs = Dedup.withShingles(Tables.documents(spark, sfDir))
    def shingleRows(df: DataFrame, idCol: String) = df
      .select(col("doc_id").as(idCol), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    val trainSh = shingleRows(docs.filter(col("doc_id") >= evalMax), "train_doc")
    val evalSh = shingleRows(docs.filter(col("doc_id") < evalMax), "eval_doc")
    trainSh.join(broadcast(evalSh), "s")
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Language rebalancing: deterministically downsample every language
    * to (approximately) the size of the smallest one — the mixture-
    * flattening pass run before training so a 90%-English crawl doesn't
    * produce a 90%-English model. A document survives iff
    * `hash(doc_id) mod M  <  M · cap / n_lang`, spelled as the integer
    * cross-multiplication `(h mod M) · n_lang < cap · M` so neither
    * engine ever rounds a division.
    *
    * Scale shape: the per-language counts are a ~|languages|-key
    * aggregate (map-side combine collapses it to one row per lang per
    * partition) whose result BROADCASTS back; the main pass is then a
    * narrow scan + filter — the 100 TB side never shuffles. The
    * hash-threshold keeps the sample deterministic under retries and
    * repartitions, unlike `rand()`-based sampling. */
  def langBalance(spark: SparkSession, sfDir: String, mod: Long = 1000000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val cap = counts.agg(min(col("n_lang")).as("cap"))
    val h = PortableHash.md5Hash48(
      concat(lit("bal:"), col("doc_id").cast("string")))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(cap))
      .filter(pmod(h, lit(mod)) * col("n_lang") < col("cap") * mod)
      .select(col("doc_id"), col("lang"))
  }

  /** Temperature-flattened language sampling (τ = 0.5): keep probability
    * `p_l = sqrt(cap / n_l)`, so a language's expected share scales with
    * `sqrt(n_l)` — the standard multilingual-pretraining compromise
    * between the raw crawl mixture (τ=1, big languages drown the rest)
    * and full flattening (τ=0, [[langBalance]], small languages repeat
    * too often downstream). No `pow`/`sqrt` is ever evaluated: the
    * survival test `h/M < sqrt(cap/n_l)` is squared into the pure
    * integer comparison `(h mod M)² · n_l < cap · M²`, which both
    * engines compute exactly. `(h mod M)² · n_l` needs headroom — with
    * M = 10⁶ it fits a long up to n_l ≈ 9·10⁵; beyond that (the 100 TB
    * mixture) widen the cross-multiply to DECIMAL(38,0) or drop M to
    * 10⁴ — the comparison stays exact either way.
    *
    * Scale shape: same as [[langBalance]] — tiny per-lang count agg
    * broadcast back, then a narrow filter scan; zero corpus shuffle. */
  def temperatureSample(spark: SparkSession, sfDir: String, mod: Long = 1000000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val cap = counts.agg(min(col("n_lang")).as("cap"))
    val h = pmod(PortableHash.md5Hash48(
      concat(lit("temp:"), col("doc_id").cast("string"))), lit(mod))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(cap))
      .filter(h * h * col("n_lang") < col("cap") * mod * mod)
      .select(col("doc_id"), col("lang"))
  }

  /** TEMPERATURE-SWEEP MIXING ADVISOR — the tuning curve behind
    * [[temperatureSample]]'s single τ = 0.5 (joining the
    * nprobe/band/elbow advisor family): per τ ∈ {1, 1/2, 1/4} and
    * language, how many documents the temperature gate keeps and the
    * resulting mixture share. τ = 1 flattens to the min-language cap
    * (uniform mixture), τ → 0 keeps everything (proportional) — the
    * ladder shows exactly what each half-step of flattening costs in
    * data. Keep tests are pure integer cross-multiplications of the
    * SAME portable hash (u < (cap/n)^τ ⇔ u^{1/τ}·n^… < cap·mod^…);
    * the quartic rung uses the hash's top bits so u⁴ stays in Long
    * (coarser threshold, and only LOOSER — the keep sets still nest,
    * which the spec pins).
    *
    * Scale: one lang census + three filters over the same scan —
    * counts map-side combine; nothing shuffles but ≤ 3·|langs| rows. */
  def temperatureSweep(spark: SparkSession, sfDir: String,
      mod: Long = 1000000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val cap = counts.agg(min(col("n_lang")).as("cap"))
    val h = pmod(PortableHash.md5Hash48(
      concat(lit("temp:"), col("doc_id").cast("string"))), lit(mod))
    val base = docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(cap))
      .select(col("lang"), col("n_lang"), col("cap"), h.as("h"),
        (h / lit(1024L)).cast("long").as("h4"))
      .localCheckpoint(eager = false) // three rungs, one scan
    val mod4 = mod / 1024L
    def rung(tauMilli: Long, keep: Column): DataFrame = {
      val kept = base.filter(keep)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"),
          max(col("n_lang")).as("n_lang"))
      val tot = kept.agg(sum(col("n_kept")).as("tot_kept"))
      kept.crossJoin(broadcast(tot))
        .select(lit(tauMilli).as("tau_milli"), col("lang"), col("n_lang"),
          col("n_kept"),
          expr("(n_kept * 1000) DIV tot_kept").as("mix_share_milli"))
    }
    rung(1000L, expr("h * n_lang < cap * 1000000"))
      .unionByName(rung(500L,
        expr("h * h * n_lang < cap * 1000000 * 1000000")))
      .unionByName(rung(250L,
        expr(s"h4 * h4 * h4 * h4 * n_lang < cap * $mod4 * $mod4 * $mod4 * $mod4")))
  }

  /** One row per token instance (split on single space, empties from
    * leading/double spaces dropped — mirrored exactly in the oracles). */
  private def tokenRows(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode_outer(split(col("text"), " ")).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")

  /** Vocabulary head: global top-k words by instance count — the
    * tokenizer-training vocabulary seed. Deterministic boundary:
    * (count desc, word) is a total order because the word is the group
    * key. Scale: one map-side-combined count shuffle, then Spark's
    * distributed top-k (`TakeOrderedAndProject` — each partition keeps
    * k, the driver merges k·partitions rows, never the full vocab). */
  def vocabTopK(spark: SparkSession, sfDir: String, k: Int = 100,
      minCount: Long = 2L): DataFrame =
    tokenRows(spark, sfDir)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("w")).limit(k)

  /** The BPE training vocabulary: distinct `^[a-z]+$` words (length
    * ≥ 2) with corpus frequency. The [a-z] restriction keeps
    * per-character indexing unambiguous in every engine (multibyte
    * grapheme slicing differs; byte-level BPE would make the same
    * restriction by construction). */
  private def bpeWordFreq(spark: SparkSession, sfDir: String): DataFrame =
    tokenRows(spark, sfDir)
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Char-spaced form of `w`: "batch" → " b a t c h " — the working
    * representation every merge round rewrites in place. */
  private val bpeSpaced =
    concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" "))

  /** One literal-replace pass applying merge rule `pair` ("l r") to a
    * spaced column: `" l r "` → `" lr "`. `replace` is a single
    * leftmost non-overlapping pass with IDENTICAL semantics in Spark
    * (StringReplace) and DuckDB — including the shared-boundary quirk
    * on runs (" l l l " merges once per pass, the trailing space of a
    * match is consumed) — so the oracle replays every rewrite
    * bit-for-bit. */
  private def bpeApply(s: Column, pair: String): Column =
    call_function("replace", s,
      lit(" " + pair + " "), lit(" " + pair.replace(" ", "") + " "))

  /** The per-round pair-count aggregate over the current spaced forms:
    * adjacent TOKEN bigrams (multi-char tokens once merges have fired),
    * weighted by word frequency. Exposed (not private) so the
    * plan-shape guard can pin that every learning round is a single
    * map-side-combined aggregate over the distinct-word table.
    *
    * `sequence` needs the size guard: a fully-merged single-token word
    * has size(tk)=1 and Spark's `sequence(1, 0)` would count DOWN
    * ([1,0]) instead of returning empty. */
  def bpeRoundPairCounts(words: DataFrame, s: Column): DataFrame = {
    val tk = split(trim(s), " ")
    val idx = when(size(tk) >= 2, sequence(lit(1), size(tk) - 1))
      .otherwise(array().cast("array<int>"))
    val pairs = transform(idx, i =>
      concat(element_at(tk, i), lit(" "), element_at(tk, i + 1)))
    words.select(col("freq"), explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
  }

  /** Learned-rule memo: a compiled tokenizer is CONFIGURATION — real
    * release pipelines train once per (corpus, k) and ship the rule
    * table to every consumer, so the three tokenizer queries (merges /
    * encode / vocab / fertility) sharing one JVM must not re-run the k
    * learning rounds each. The learner is fully deterministic (argmax
    * with total-order tie-break over exact integer counts), so caching
    * cannot change any result — and the DuckDB oracle re-derives the
    * rules from scratch every time, which keeps the memo honest. */
  private val bpeRulesMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Seq[(String, Long)]]()

  /** TRUE sequential BPE learning (Sennrich et al. 2016, reference:
    * the tokenizer-training half of a corpus release): `k` merge
    * rounds over the distinct-word table, each round re-counting
    * adjacent-pair frequencies over the CURRENT (already-merged) token
    * forms, taking the (n DESC, pair ASC) argmax as the next rule, and
    * rewriting the vocabulary before the next count. Unlike a
    * first-round candidate census, later rounds merge multi-character
    * tokens ("jo in" → "join"), which is what makes BPE a tokenizer
    * rather than a bigram table.
    *
    * Scale: the corpus collapses to the DISTINCT-WORD table once
    * (Heaps' law: vocab ≪ corpus) and is cached; each round is one
    * map-side-combined aggregate over that cached vocab plus a 1-row
    * argmax collect — the k driver round-trips are inherent to the
    * algorithm (rule r+1's statistic depends on rule r's rewrite) and
    * touch vocab-sized data only, never the 100 TB token stream. The
    * rewrite chain stays a lazy codegen'd Column, re-running the
    * accumulated replaces over the cached vocab each round — O(k²)
    * replace passes total, fine for small k, but at real-tokenizer k
    * (tens of thousands of merges) both that and Catalyst's analysis
    * of a k-deep expression tree blow up, so every `checkpointEvery`
    * rounds the rewritten vocabulary MATERIALIZES (lazy
    * localCheckpoint) and the chain resets — O(k·checkpointEvery)
    * work, bounded expression depth, the standard unrolled-iteration
    * treatment (same as PageRank's per-pass checkpoint). Returns
    * (pair, n) in learned rank order; stops early iff the vocabulary
    * is fully merged. */
  def learnBpeRules(spark: SparkSession, sfDir: String, k: Int,
      checkpointEvery: Int = 8): Seq[(String, Long)] = {
    val key = (new java.io.File(sfDir).getAbsolutePath, k, checkpointEvery)
    bpeRulesMemo.computeIfAbsent(key,
      _ => learnBpeRulesUncached(spark, sfDir, k, checkpointEvery))
  }

  private def learnBpeRulesUncached(spark: SparkSession, sfDir: String, k: Int,
      checkpointEvery: Int): Seq[(String, Long)] = {
    // The vocab working set is Heaps-bounded (a few MB at test SFs) but
    // a plain .cache() freezes it at the aggregate's shuffle width —
    // 32 partitions here — so every one of the k learning rounds paid a
    // 32-task stage for kilobytes of work per task (measured run ≈ 3×
    // cpu, pure task launch). BuildOnce.sized lays it out by MEASURED
    // bytes (1 partition per BuildOnce.MemoPartitionBytes, capped at the
    // session parallelism), so round cost scales with vocab size, not
    // core count; the every-`checkpointEvery` rewrite checkpoints
    // inherit that layout through the narrow withColumn.
    val base = BuildOnce.sized(
      bpeWordFreq(spark, sfDir).withColumn("s", bpeSpaced))
    try {
      var words = base
      val rules = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var s: Column = col("s")
      var exhausted = false
      while (rules.length < k && !exhausted) {
        val best = bpeRoundPairCounts(words, s)
          .orderBy(col("n").desc, col("pair")).limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val pair = best(0).getString(0)
          rules += ((pair, best(0).getLong(1)))
          s = bpeApply(s, pair)
          if (rules.length % checkpointEvery == 0) {
            words = words.withColumn("s", s).localCheckpoint(eager = false)
            s = col("s")
          }
        }
      }
      rules.toSeq
    } finally BuildOnce.releaseNow(base)
  }

  /** The learned BPE rule table as a query result: (rank, pair,
    * merged, n) for k sequential merge rounds — the artifact a
    * tokenizer build ships. The table itself is k rows of driver-side
    * configuration (the learning jobs above are the distributed part),
    * exactly like a compiled tokenizer's merges.txt. */
  def bpeLearnedMerges(spark: SparkSession, sfDir: String, k: Int = 16)
      : DataFrame = {
    import spark.implicits._
    // Deliberately UNCACHED: this is the training query, and its cost
    // IS the k learning rounds — a memo hit here would misreport the
    // benchmark. (It still seeds the memo for the application queries.)
    val rules = learnBpeRulesUncached(spark, sfDir, k, checkpointEvery = 8)
    bpeRulesMemo.put((new java.io.File(sfDir).getAbsolutePath, k, 8), rules)
    rules.zipWithIndex.map { case ((pair, n), i) =>
      ((i + 1).toLong, pair, pair.replace(" ", ""), n)
    }.toDF("rank", "pair", "merged", "n")
  }

  /** First-round BPE merge candidates: adjacent character-pair counts
    * weighted by word frequency — the round-1 statistic only (kept as
    * the cheap single-shot census; [[learnBpeRules]] is the real
    * sequential learner whose first merge agrees with this table's top-1).
    *
    * Scale: the corpus collapses to the DISTINCT-WORD table first
    * (Heaps' law: vocab ≪ corpus), so the char-pair explode runs over
    * vocabulary entries, not the 100 TB token stream; two map-side-
    * combined shuffles end-to-end, then distributed top-k. */
  def bpeFirstMerges(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    bpeWordFreq(spark, sfDir)
      .select(col("freq"), explode_outer(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .filter(col("pair").isNotNull)
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)

  /** BPE ENCODE — the tokenizer-APPLICATION half of the BPE pair
    * ([[learnBpeRules]] is the learning half): the k genuinely-learned
    * sequential rules compile into a chain of `replace` passes over
    * the char-spaced word, applied in learned rank order. Because each
    * rule was learned against the vocabulary state its predecessors
    * produced, applying the full chain to the initial spaced form
    * reproduces the learner's final state exactly (same rewrites, same
    * order), and multi-character merges ("join", "hash") appear in the
    * output token streams. Output: the vocabulary head with each
    * word's token sequence and token count — the compression audit a
    * tokenizer change ships with.
    *
    * Scale: the k-row rule table collects ONCE and compiles into the
    * plan as literal arguments (a rule table is broadcast
    * configuration, not data — same pattern as a compiled tokenizer);
    * the encode itself is a narrow codegen'd projection, no shuffle
    * beyond the vocab count. */
  def bpeEncode(spark: SparkSession, sfDir: String,
      kMerges: Int = 16, kWords: Int = 100): DataFrame = {
    val merges = learnBpeRules(spark, sfDir, kMerges).map(_._1)
    val words = bpeWordFreq(spark, sfDir)
      .orderBy(col("freq").desc, col("w")).limit(kWords)
    val encodedCol = merges.foldLeft(bpeSpaced)(bpeApply)
    words.withColumn("encoded", trim(encodedCol))
      .withColumn("n_tokens", size(split(col("encoded"), " ")).cast("long"))
      .select(col("w"), col("freq"), col("encoded"), col("n_tokens"))
  }

  /** The final BPE vocabulary — the token inventory (with weighted
    * occurrence counts) the learned tokenizer actually produces over
    * the corpus, i.e. the `vocab.json` half of a tokenizer release
    * next to [[bpeLearnedMerges]]' merges.txt. Multi-char learned
    * tokens rank at the top by construction (they were merged BECAUSE
    * they were frequent).
    *
    * Scale: same shape as [[bpeEncode]] — the rule chain compiles into
    * literals, the token explode runs over the distinct-word table
    * (Heaps-bounded), one map-side-combined count shuffle, then
    * distributed top-k. */
  def bpeVocab(spark: SparkSession, sfDir: String,
      kMerges: Int = 16, k: Int = 100): DataFrame = {
    val merges = learnBpeRules(spark, sfDir, kMerges).map(_._1)
    val encodedCol = merges.foldLeft(bpeSpaced)(bpeApply)
    bpeWordFreq(spark, sfDir)
      .select(col("freq"), explode(split(trim(encodedCol), " ")).as("token"))
      .groupBy(col("token")).agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token")).limit(k)
  }

  /** TOKENIZER FERTILITY by language — the per-language audit every
    * multilingual tokenizer release ships (tokens-per-word and
    * chars-per-token under the learned merges): a tokenizer trained on
    * a skewed mix "taxes" under-represented languages with higher
    * fertility (more tokens for the same text), which inflates their
    * effective sequence lengths and training cost. Computed by
    * encoding the DISTINCT-WORD table once with the k learned rules
    * and joining per-(lang, word) instance counts — never encoding
    * the corpus row-by-row.
    *
    * Scale: the rule chain is literal configuration; the encode runs
    * over the Heaps-bounded vocabulary; the (lang, word) count is one
    * map-side-combined shuffle of the token stream (the only
    * corpus-sized pass), the join is vocab-sized, and the final
    * per-lang aggregate collapses map-side to `langs` rows. */
  def bpeFertility(spark: SparkSession, sfDir: String,
      kMerges: Int = 16): DataFrame = {
    val merges = learnBpeRules(spark, sfDir, kMerges).map(_._1)
    val encodedCol = merges.foldLeft(bpeSpaced)(bpeApply)
    val wordTok = bpeWordFreq(spark, sfDir)
      .withColumn("n_tokens_w", size(split(trim(encodedCol), " ")).cast("long"))
      .select(col("w"), col("n_tokens_w"))
    val langWords = Tables.documents(spark, sfDir)
      .select(col("lang"), explode_outer(split(col("text"), " ")).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
    langWords.join(wordTok, "w")
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_tokens_w")).as("n_tokens"),
        sum(col("n") * length(col("w"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        PortableRound.pround(
          col("n_tokens").cast("double") / col("n_words"), 4)
          .as("tokens_per_word"),
        PortableRound.pround(
          col("n_chars").cast("double") / col("n_tokens"), 4)
          .as("chars_per_token"))
  }

  /** CORPUS REPORT CARD — the per-source release dashboard a dataset
    * card publishes (docs, language spread, mean quality, duplication
    * rate, token mass): the integration query that composes the
    * engine's quality scorer, exact-dedup census, and token counter in
    * ONE pass over the corpus plus one hash-count side-table. Mean
    * quality aggregates the EXACT micro-unit score
    * ([[TextAnalysis.qualityMicroCol]]) so the cross-document sum is
    * order-independent long arithmetic, never a partitioning-dependent
    * double fold.
    *
    * Scale: one corpus scan computes (source, lang, q_micro, tokens,
    * text-hash) narrowly; the duplicate census is a map-side-combined
    * count on the 48-bit text hash joined back hash-keyed (f rows per
    * duplicate group, never f²); the final per-source aggregate
    * collapses map-side to `sources` rows. Three shuffles total, all
    * keyed, none data-squared. */
  def reportCard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        TextAnalysis.qualityMicroCol.as("q_micro"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        graft.functions.PortableHash.md5Hash48(col("text")).as("h48"))
    val dupHash = docs.groupBy(col("h48")).agg(count(lit(1)).as("hn"))
    docs.join(dupHash, "h48")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("q_micro")).as("q_micro_sum"),
        sum(col("ws_tokens")).as("ws_tokens_sum"),
        sum(when(col("hn") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        PortableRound.pround(col("q_micro_sum").cast("double") /
          (col("n_docs") * 10000), 4).as("mean_quality"),
        PortableRound.pround(col("ws_tokens_sum").cast("double") /
          col("n_docs"), 4).as("mean_ws_tokens"),
        PortableRound.pround(col("n_dup") * 100.0 / col("n_docs"), 4)
          .as("dup_pct"))
  }

  /** LEAVE-ONE-SOURCE-OUT ABLATION REPORT — the "which source is
    * hurting the mix?" table a curation pass reads before dropping or
    * capping a provider: for each source, the corpus WITHOUT it —
    * docs, whitespace tokens, exact-integer mean quality (micro), and
    * the source's own token share (milli). The per-source deltas of
    * mean quality are the cheap first-order proxy for the full
    * retraining ablation (a DataComp/Dolma-style source audit).
    *
    * Everything derives from ONE corpus scan: per-source partial sums
    * (map-side combined) plus a 1-row broadcast of the totals — the
    * "without s" aggregates are totals − source partials, never a
    * second pass per source (which at 20 sources would be 20 corpus
    * scans). All-integer: mean quality is an exact sum DIV count. */
  def sourceAblation(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"),
        TextAnalysis.qualityMicroCol.as("q_micro"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"))
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("n_toks"),
        sum(col("q_micro")).as("q_sum"))
      .localCheckpoint(eager = false) // feeds tot AND the final select: one corpus scan
    val tot = per.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("n_toks")).as("tot_toks"), sum(col("q_sum")).as("tot_q"))
    per.crossJoin(broadcast(tot))
      .select(col("source"),
        (col("tot_docs") - col("n_docs")).as("docs_without"),
        (col("tot_toks") - col("n_toks")).as("tokens_without"),
        when(col("tot_docs") > col("n_docs"),
          expr("(tot_q - q_sum) DIV (tot_docs - n_docs)"))
          .otherwise(lit(null).cast("long")).as("mean_quality_micro_without"),
        expr("tot_q DIV tot_docs").as("mean_quality_micro_full"),
        expr("(n_toks * 1000) DIV tot_toks").as("token_share_milli"))
  }

  /** TOKEN-BUDGET MIX ALLOCATION — the greedy quality-first budget
    * cut: rank sources by exact-integer mean quality (desc, source
    * asc), allocate the token budget (`budgetMilli` of the corpus)
    * cumulatively — full sources until the boundary, a partial
    * allocation at the boundary source, zero beyond. The output table
    * IS the mix spec a 100 TB materialization pass executes (per
    * source: rank, mean quality, tokens available vs allocated, the
    * allocated share of the source in milli).
    *
    * Scale: one corpus scan to the per-source census (map-side
    * combined); ranking and the cumulative walk run over the
    * |sources|-bounded census (documented unpartitioned window —
    * source cardinality, never data-sized), budget as a 1-row
    * broadcast. */
  def budgetMix(spark: SparkSession, sfDir: String,
      budgetMilli: Long = 400): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.documents(spark, sfDir)
      .select(col("source"), TextAnalysis.qualityMicroCol.as("q_micro"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"),
        sum(col("q_micro")).as("q_sum"))
      .withColumn("mean_q_micro", expr("q_sum DIV n_docs"))
      .localCheckpoint(eager = false) // census feeds totals AND the walk
    val budget = per.agg(
      expr(s"(sum(n_toks) * $budgetMilli) DIV 1000").as("budget_toks"))
    // bounded census walk: rank + running total of the sources above
    val w = Window.orderBy(col("mean_q_micro").desc, col("source"))
    per.crossJoin(broadcast(budget))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_before",
        coalesce(sum(col("n_toks")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("rank"), col("mean_q_micro"),
        col("n_toks"), col("budget_toks"),
        greatest(least(col("n_toks"), col("budget_toks") - col("cum_before")),
          lit(0L)).as("alloc_toks"))
      .withColumn("alloc_milli", expr("(alloc_toks * 1000) DIV n_toks"))
  }

  /** The unrolled DuckDB oracle for [[bpeLearnedMerges]] /
    * [[bpeEncode]] / [[bpeVocab]] (`mode` ∈ merges|encode|vocab):
    * k rounds of (pair-count → argmax → rewrite) CTEs
    * replaying the sequential learner exactly — `replace` and binary
    * string ordering are identical in both engines, so every round's
    * argmax and rewrite match bit-for-bit. CTEs are MATERIALIZED:
    * w{r} is referenced twice per round, so inlined CTEs would expand
    * the scan tree exponentially (2^k parquet scans). */
  def bpeOracleSql(k: Int, mode: String, kWords: Int = 100): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      "t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)",
      """f AS MATERIALIZED (SELECT w, count(*) AS freq FROM t
        |  WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2 GROUP BY 1)""".stripMargin,
      """w0 AS MATERIALIZED (SELECT w, freq,
        |  ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s FROM f)""".stripMargin)
    for (r <- 0 until k) {
      ctes += s"""p$r AS MATERIALIZED (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS pair
        |    FROM (SELECT freq, string_split(trim(s), ' ') AS tk FROM w$r))
        |  GROUP BY 1)""".stripMargin
      ctes += s"b$r AS MATERIALIZED (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1)"
      // LEFT JOIN, not cross join: when the learner runs DRY before
      // round k (no pair left — the zipf corpus reaches this at round
      // 2, since only the 'dup' marker passes the [a-z]+ filter), b$r
      // is EMPTY and a cross join would annihilate the word table —
      // every downstream consumer went empty while Spark correctly
      // carried the exhausted state forward (the zipf data shows it).
      // An absent best pair must pass words through unchanged.
      ctes += s"""w${r + 1} AS MATERIALIZED (SELECT w, freq,
        |  CASE WHEN b.pair IS NULL THEN s ELSE replace(s, ' ' || b.pair || ' ',
        |  ' ' || replace(b.pair, ' ', '') || ' ') END AS s
        |  FROM w$r LEFT JOIN b$r b ON true)""".stripMargin
    }
    val fin = mode match {
      case "encode" =>
        ctes += s"wtop AS (SELECT w FROM f ORDER BY freq DESC, w LIMIT $kWords)"
        s"""SELECT w, CAST(freq AS BIGINT) AS freq, trim(s) AS encoded,
           |  CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_tokens
           |FROM w$k WHERE w IN (SELECT w FROM wtop)""".stripMargin
      case "vocab" =>
        s"""SELECT token, CAST(sum(freq) AS BIGINT) AS n_occurrences
           |FROM (SELECT freq, unnest(string_split(trim(s), ' ')) AS token FROM w$k)
           |GROUP BY 1 ORDER BY n_occurrences DESC, token LIMIT $kWords""".stripMargin
      case "fertility" =>
        ctes += "tl AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)"
        ctes += """lw AS (SELECT lang, w, count(*) AS n FROM tl
          |  WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2 GROUP BY 1, 2)""".stripMargin
        ctes += s"""wt AS (SELECT w,
          |  CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_tokens_w
          |  FROM w$k)""".stripMargin
        """SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
          |  CAST(sum(n * n_tokens_w) AS BIGINT) AS n_tokens,
          |  floor(CAST(sum(n * n_tokens_w) AS DOUBLE) / sum(n) * 10000 + 0.5) / 10000
          |    AS tokens_per_word,
          |  floor(CAST(sum(n * len(w)) AS DOUBLE) / sum(n * n_tokens_w) * 10000 + 0.5) / 10000
          |    AS chars_per_token
          |FROM lw JOIN wt USING (w) GROUP BY 1""".stripMargin
      case "compression" =>
        // token/char mass at the w4/w8/w16 checkpoints of the SAME
        // sequential learning replay (greedy prefix property)
        val sel = Seq(4, 8, 16).filter(_ <= k).map(kk =>
          s"SELECT CAST($kk AS BIGINT) AS k_merges, " +
            s"CAST(sum(freq * len(string_split(trim(s), ' '))) AS BIGINT) AS n_tokens, " +
            s"CAST(sum(freq * len(w)) AS BIGINT) AS n_chars FROM w$kk")
          .mkString(" UNION ALL ")
        s"""SELECT k_merges, n_tokens, n_chars,
           |  (n_chars * 10000) // n_tokens AS chars_per_token_x4
           |FROM ($sel) ORDER BY k_merges""".stripMargin
      case _ =>
        val sel = (0 until k).map(r =>
          s"SELECT CAST(${r + 1} AS BIGINT) AS rank, pair, " +
            s"replace(pair, ' ', '') AS merged, n FROM b$r").mkString(" UNION ALL ")
        s"SELECT * FROM ($sel) ORDER BY rank"
    }
    "WITH " + ctes.mkString(",\n") + "\n" + fin
  }

  /** CONTEXT-WINDOW EFFICIENCY TABLE — the "choose your sequence
    * length" baseline a release decision starts from: for each
    * candidate window length, the windows needed, padding wasted, and
    * token efficiency of NAIVE one-document-per-window batching
    * (documents longer than the window split into ⌈n/W⌉ windows, the
    * last one padded). This is the no-packing baseline that justifies
    * [[packBins]]' bin-packing and [[contextWindows]]' concatenation —
    * the efficiency gap between this table and the packed layouts IS
    * the packing win, quantified. All-integer (⌈n/W⌉ as
    * (n+W−1) DIV W, efficiency in exact milli-units).
    *
    * Scale shape: one narrow token-count scan, the per-W explode
    * happens on the tiny per-doc count rows, one map-side-combined
    * aggregate to |windows| rows. */
  def windowEfficiency(spark: SparkSession, sfDir: String,
      windows: Seq[Int] = Seq(128, 256, 512)): DataFrame =
    Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .select(col("n_tok"),
        explode(array(windows.map(w => lit(w.toLong)): _*)).as("window_len"))
      .withColumn("n_win", expr("(n_tok + window_len - 1) DIV window_len"))
      .groupBy(col("window_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_win")).as("n_windows"),
        sum(col("window_len") * col("n_win") - col("n_tok")).as("n_pad_tokens"))
      .withColumn("efficiency_milli",
        expr("(n_tokens * 1000) DIV (window_len * n_windows)"))

  /** TOKENIZER COMPRESSION SWEEP — the merge-budget curve next to
    * [[bpeLearnedMerges]]' rule table: corpus token mass and
    * chars-per-token under the first k ∈ {4, 8, 16} learned merges.
    * Because sequential BPE is greedy-deterministic, the k-rule
    * tokenizer IS the length-k prefix of the 16-rule one, so one
    * learning run yields every point on the curve; compression (rising
    * chars-per-token) quantifies what each doubling of the merge
    * budget buys — the tokenizer-size trade every vocab decision
    * weighs. The oracle replays the same 16 materialized merge rounds
    * and counts at the w4/w8/w16 checkpoints, so the curve is
    * bit-exact.
    *
    * Scale shape: the rules are driver-side config (vocab-sized
    * learning, memoized); each sweep point is a narrow codegen'd
    * encode over the Heaps-bounded distinct-word table (checkpointed
    * once, reused by all k) folded into one map-side aggregate. */
  def bpeCompressionSweep(spark: SparkSession, sfDir: String,
      ks: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val rules = learnBpeRules(spark, sfDir, ks.max).map(_._1)
    val base = bpeWordFreq(spark, sfDir).localCheckpoint(eager = false)
    ks.map { k =>
      val enc = rules.take(k).foldLeft(bpeSpaced)(bpeApply)
      base.select(lit(k.toLong).as("k_merges"),
        (col("freq") * size(split(trim(enc), " "))).as("tok"),
        (col("freq") * length(col("w"))).as("ch"))
    }.reduce(_ unionByName _)
      .groupBy(col("k_merges"))
      .agg(sum(col("tok")).as("n_tokens"), sum(col("ch")).as("n_chars"))
      .withColumn("chars_per_token_x4", expr("(n_chars * 10000) DIV n_tokens"))
  }

  /** RELEASE FUNNEL — the end-to-end yield report of the whole
    * curation pipeline, stage by stage: raw → language filter →
    * length/diversity filter → exact dedup (keep-first) → quality
    * gate → decontamination, each applied to the SURVIVORS of the
    * previous stage, reporting docs, token mass, and retained shares
    * vs raw. This is the integration query: every stage reuses the
    * exact semantics of its standalone operator ([[cleanPipeline]]'s
    * filters, keep-first-by-content-hash, the quality micro score,
    * [[decontaminate]]'s ≥3-shared-3-gram rule), so the funnel proves
    * the operators COMPOSE — and it is the one-table answer to "where
    * did my corpus go" that every release post-mortem starts from.
    * Length/diversity uses the exact integer cross-multiplication
    * (10·distinct > 3·words ⟺ ratio > 0.3 for integers) so no stage
    * boundary sits on a float compare.
    *
    * Scale shape: ONE corpus scan computes all per-doc flags; the
    * dedup rank is the usual (hash)-keyed window over stage-2
    * survivors; contamination reuses the broadcast-eval-shingles join
    * (the 100 TB side never shuffles for it); the 6-way stage explode
    * runs on tiny flag rows and collapses map-side to 6 output rows. */
  def releaseFunnel(spark: SparkSession, sfDir: String,
      qualityMin: Long = 5000L, evalMax: Long = 20L,
      minShared: Long = 3L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = split(col("text"), " ")
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"),
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_distinct"),
        TextAnalysis.qualityMicroCol.as("q_micro"))
      .localCheckpoint(eager = false)
    val flags = base
      .withColumn("lang_ok", col("lang").isin("en", "de", "fr"))
      .withColumn("len_ok",
        col("n_words") >= 5 && col("n_distinct") * 10 > col("n_words") * 3)
      .withColumn("q_ok", col("q_micro") >= qualityMin)
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val keepFirst = flags.filter(col("lang_ok") && col("len_ok"))
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), lit(true).as("dedup_ok"))
    val contaminated = decontaminate(spark, sfDir, evalMax, minShared)
      .select(col("train_doc").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val staged = flags
      .join(keepFirst, Seq("doc_id"), "left")
      .join(broadcast(contaminated), Seq("doc_id"), "left")
      .withColumn("dedup_ok", coalesce(col("dedup_ok"), lit(false)))
      .withColumn("clean_ok", col("contaminated").isNull)
      .select(col("n_words"), col("lang_ok"), col("len_ok"),
        col("dedup_ok"), col("q_ok"), col("clean_ok"),
        explode(sequence(lit(0), lit(5))).as("stage"))
      .filter((col("stage") < 1 || col("lang_ok")) &&
        (col("stage") < 2 || col("len_ok")) &&
        (col("stage") < 3 || col("dedup_ok")) &&
        (col("stage") < 4 || col("q_ok")) &&
        (col("stage") < 5 || col("clean_ok")))
    val totals = base.agg(count(lit(1)).as("tot_docs"),
      sum(col("n_words")).as("tot_toks"))
    val names = array(Seq("raw", "lang", "length", "exact_dedup",
      "quality", "decontaminated").map(lit): _*)
    staged.groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("stage").cast("long").as("stage"),
        element_at(names, col("stage").cast("int") + 1).as("stage_name"),
        col("n_docs"), col("n_tokens"),
        expr("(n_docs * 1000) DIV tot_docs").as("doc_retained_milli"),
        expr("(n_tokens * 1000) DIV tot_toks").as("token_retained_milli"))
  }

  /** Memorization-risk miner: the most-repeated 5-gram spans across
    * the corpus — the statistic behind boilerplate detection and the
    * "repeated substring" contamination sweeps training pipelines run
    * before fitting (a span appearing thousands of times is either
    * boilerplate to strip or a template the model will memorize).
    * Reports total occurrences AND distinct-doc spread; ranked by
    * (total desc, gram) so the LIMIT boundary is a total order.
    *
    * Scale: positional 5-grams collapse map-side per partition before
    * the one (gram)-keyed count shuffle — Heaps' law keeps the distinct
    * gram table ≪ the token stream — then distributed top-k
    * (TakeOrderedAndProject), never a full sort. */
  def dupNgrams(spark: SparkSession, sfDir: String, n: Int = 5,
      k: Int = 50, minDocs: Long = 3L): DataFrame = {
    val words = col("__w")
    Tables.documents(spark, sfDir)
      .withColumn("__w", split(col("text"), " "))
      // sequence(1, x) flips to descending when x < 1 — keep only docs
      // long enough to hold at least one n-gram
      .filter(size(words) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j)): _*)))
        .as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_total").desc, col("gram")).limit(k)
  }

  /** Collocation mining: top word bigrams by PMI. The log in
    * `pmi = log(N·c_xy / (c_x·c_y))` is monotone, so ranking by the
    * rational score `N·c_xy / (c_x·c_y)` is ranking by PMI without ever
    * evaluating a transcendental the two engines could disagree on; the
    * score itself is one exact integer product per side and a single
    * IEEE division, bit-equal everywhere (the integer cross-products
    * need DECIMAL headroom beyond ~2⁵³ tokens). `minPair` is the
    * standard guard against rare-pair PMI blowup.
    *
    * Scale: bigram counts collapse map-side; the `minPair` filter runs
    * BEFORE the unigram joins, so the joined table is the collocation
    * candidates, not the full bigram space; the totals row broadcasts. */
  def pmiTopK(spark: SparkSession, sfDir: String, k: Int = 50,
      minPair: Long = 5L): DataFrame = {
    val uni = tokenRows(spark, sfDir)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).as("n_tokens"))
    val ws = Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
    val pairs = ws.select(explode_outer(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minPair)
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_pair"),
        PortableRound.pround(
          (col("c_pair") * col("n_tokens")).cast("double") / (col("c1") * col("c2")),
          6).as("pmi_score"))
      .orderBy(col("pmi_score").desc, col("w1"), col("w2")).limit(k)
  }

  /** T5-style SPAN-CORRUPTION manifest: deterministic non-overlapping
    * mask spans per document (~15% noise density, span length 2-4 ≈
    * mean 3), emitted as (doc, span, start, len, sentinel) rows — the
    * denoising-objective prep step. Spans are placed one per equal
    * segment with a portable-hash offset inside it, so they can never
    * overlap and both engines place them identically; the corpus text
    * is never rewritten (same manifest-not-materialization design as
    * the context windows).
    *
    * Scale shape: narrow bounded explode (n_tokens/20 rows per doc),
    * pure integer Column math, zero shuffle. */
  def spanCorruption(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("n_spans", expr("n_tokens div 20"))
      .filter(col("n_spans") > 0)
      .withColumn("seg_len", expr("n_tokens div n_spans"))
    val h = PortableHash.md5Hash48(concat(
      lit("span:"), col("doc_id").cast("string"), lit(":"), col("span_id").cast("string")))
    docs.select(col("doc_id"), col("seg_len"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("span_id"))
      .withColumn("len_tok", pmod(h, lit(3L)) + 2) // 2..4, mean 3 ≈ 15% of 20
      .withColumn("start_tok",
        col("span_id") * col("seg_len") +
          pmod(h, col("seg_len") - col("len_tok") + 1))
      .select(col("doc_id"), col("span_id"), col("start_tok"), col("len_tok"),
        concat(lit("<extra_id_"), col("span_id").cast("string"), lit(">")).as("sentinel"))
  }

  /** Context-window chunking: split each document's token stream into
    * overlapping windows of `window` tokens advancing by `stride`
    * (stride < window ⇒ the standard pretraining overlap so no span is
    * seen only at a window edge). Emits the window MANIFEST
    * (doc, window_id, start, length) rather than materialized token
    * slices — the downstream reader slices lazily, so the 100 TB text
    * is never duplicated ~1.33× through a shuffle. All integer
    * arithmetic; the ceil-division is spelled `(x + stride − 1) ∕
    * stride` on exact small integers in both engines.
    *
    * Scale: one narrow scan + a bounded explode (≤ n/stride rows per
    * doc), zero shuffle. */
  def contextWindows(spark: SparkSession, sfDir: String, window: Int = 64,
      stride: Int = 48): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
    val nWin = when(col("n_tokens") <= window, lit(1L)).otherwise(
      ((col("n_tokens") - window + stride - 1) / stride).cast("long") + 1L)
    docs
      .select(col("doc_id"), col("n_tokens"),
        explode_outer(sequence(lit(0L), nWin - 1L)).as("window_id"))
      .filter(col("window_id").isNotNull)
      .select(col("doc_id"), col("window_id"),
        (col("window_id") * stride).as("start_tok"),
        least(lit(window.toLong),
          col("n_tokens") - col("window_id") * stride).as("n_tok"))
  }

  /** Deterministic training-order shuffle: every document gets a
    * (shard, pos_in_shard) — shard from one salted portable hash,
    * position by a second-order hash within the shard. The standard
    * write layout before training: S shard files, each internally
    * shuffled, reproducible bit-for-bit across retries (a `rand()`
    * shuffle silently re-orders every epoch on recompute).
    *
    * Scale: ONE shuffle keyed on shard (the window partition), and the
    * shard count is chosen so a shard fits a writer task; the position
    * window sorts within a shard only — there is no global total order
    * anywhere (a global `row_number` would serialize on one partition
    * at 100 TB). */
  def shuffleOrder(spark: SparkSession, sfDir: String, shards: Int = 16): DataFrame = {
    val h = PortableHash.md5Hash48(
      concat(lit("shuf:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), pmod(h, lit(shards)).as("shard"),
        (h / shards).cast("long").as("shuffle_key"))
      .withColumn("pos_in_shard", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos_in_shard"))
  }

  /** Streaming sequence packing: per (lang, shard) stream ordered by
    * doc_id, documents concatenate into fixed token-budget bins; a
    * document lands in the bin its preceding cumulative fills
    * (GPT-style concat-then-chunk pretraining batches). Pure window
    * program — one shuffle on the window key, no UDF. */
  def packTokenBins(spark: SparkSession, sfDir: String, budget: Long = 2048,
      shards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(shards)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("tokens"))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("tokens"),
        floor((col("cum_tokens") - col("tokens")) / budget).as("bin_id"))
  }

  /** PACKING-WASTE AUDIT — the fill-efficiency report on
    * [[packTokenBins]]' layout (padding waste is THE packing metric:
    * every wasted token is a wasted training FLOP): per (lang, shard)
    * the bin count, packed tokens, nominal capacity, the exact milli
    * fill ratio, and the largest single bin (the overflow indicator —
    * concat-then-chunk lets a long doc spill past the budget; a
    * max_bin far above it says the budget is mis-sized for the doc
    * length distribution).
    *
    * Scale: rides the packer's one (lang, shard)-keyed window shuffle,
    * then two tiny censuses. */
  def packWasteAudit(spark: SparkSession, sfDir: String,
      budget: Long = 2048, shards: Int = 8): DataFrame = {
    val bins = packTokenBins(spark, sfDir, budget, shards)
      .groupBy(col("lang"), col("shard"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("bin_tokens"))
    bins.groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_bins"), sum(col("bin_tokens")).as("packed_tokens"),
        max(col("bin_tokens")).as("max_bin_tokens"))
      .select(col("lang"), col("shard"), col("n_bins"), col("packed_tokens"),
        (col("n_bins") * budget).as("capacity_tokens"),
        expr(s"(packed_tokens * 1000) DIV (n_bins * $budget)")
          .as("fill_milli"),
        col("max_bin_tokens"))
  }

  /** Per-source document cap: keep the `cap` highest-quality documents
    * of every source (quality = lexical diversity, the same
    * distinct-word ratio the cleaning gate uses; ties break on
    * doc_id). The C4/RefinedWeb-style anti-spam pass — one domain
    * mirroring itself a million times must not dominate the mixture.
    *
    * Scale shape: per-source top-k via TWO windows — a partial top-k
    * per (source, salt) first, then the final per-source rank over at
    * most `salts × cap` survivors. A single per-source window is the
    * skew trap: one giant domain serializes into one task at 100 TB,
    * while the salted pre-pass bounds every final partition. The
    * partial pass is correct because the per-source top-`cap` is a
    * subset of every salt-slice's top-`cap`. */
  def sourceCap(spark: SparkSession, sfDir: String,
      cap: Int = 10, salts: Int = 8): DataFrame = {
    val words = split(col("text"), " ")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        (size(array_distinct(words)).cast("double") / size(words)).as("q"),
        pmod(col("doc_id"), lit(salts)).as("salt"))
    val w1 = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("q").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
    docs.withColumn("r1", row_number().over(w1)).filter(col("r1") <= cap)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= cap)
      .select(col("doc_id"), col("source"), col("rank"),
        PortableRound.pround(col("q"), 4).as("quality"))
  }

  /** DSIR-style importance weights (arXiv:2302.03169 shape): score each
    * document by how much its hashed-bigram profile looks like a TARGET
    * domain (here: the `en` slice) relative to the raw corpus — the
    * standard data-selection pass before pretraining. Per feature
    * bucket, the Laplace-smoothed ratio `(cnt_target+1)/(cnt_raw+1)` is
    * kept as an exact micro-scaled integer (`·10⁶` then floor-div), and
    * a document's score is the exact integer sum over its features, so
    * both engines agree bit-for-bit; only the final per-feature average
    * is portably rounded.
    *
    * Scale shape: ONE bigram pass (localCheckpoint'ed — bucket counts
    * and the score join both read it), ONE (bucket) aggregate with both
    * counts as conditional sums (4096 rows), broadcast back, one (doc)
    * aggregate. The 100 TB corpus shuffles once, on the bucket key. */
  def dsirWeights(spark: SparkSession, sfDir: String, buckets: Int = 4096,
      targetLang: String = "en"): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .withColumn("n_words", size(col("w")))
    val grams = docs
      .select(col("doc_id"), col("lang"), col("w"), col("n_words"),
        posexplode(col("w")).as(Seq("pos", "u")))
      .filter(col("pos") + 2 <= col("n_words"))
      .select(col("doc_id"), col("lang"),
        pmod(PortableHash.md5Hash48(concat(lit("ds:"), col("u"), lit(" "),
          element_at(col("w"), col("pos") + 2))), lit(buckets.toLong)).as("bucket"))
      .localCheckpoint()
    val weights = grams.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt_r"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("cnt_t"))
      .select(col("bucket"),
        expr("((cnt_t + 1) * 1000000) div (cnt_r + 1)").as("w_micro"))
    grams.join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w_micro")).as("score_micro"))
      .select(col("doc_id"), col("n_feats"), col("score_micro"),
        PortableRound.pround(col("score_micro").cast("double") / col("n_feats"), 2)
          .as("avg_weight"))
  }

  /** Domain-mixing EPOCH MANIFEST: scarce languages repeat across
    * training epochs instead of being discarded or materialized —
    * `epochs_l` = smallest e in [1, cap] with `e · n_l >= n_max`,
    * i.e. `min(cap, ceil(n_max / n_l))` in exact integer arithmetic
    * (the static-weights analogue of DoReMi-style mixture tuning; the
    * downsampling twins are [[langBalance]]/[[temperatureSample]]).
    * Emits one (doc, epoch) row plus a portable order hash the reader
    * sorts on — the 100 TB corpus is never physically duplicated, the
    * manifest is the repetition (same design as the context-window
    * manifest).
    *
    * Scale shape: tiny per-lang count agg broadcast back, then a
    * narrow bounded explode (≤ cap rows per doc); zero corpus shuffle.
    */
  def mixEpochs(spark: SparkSession, sfDir: String, cap: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val mx = counts.agg(max(col("n_lang")).as("n_max"))
    // smallest e with e*n_lang >= n_max, capped: a when-cascade keeps
    // the arithmetic integral (no ceil/div rounding disagreements)
    val e = (1 until cap).foldRight(lit(cap.toLong)) { (k, rest) =>
      when(col("n_lang") * k >= col("n_max"), k.toLong).otherwise(rest)
    }
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(mx))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), e)).as("epoch"))
      .withColumn("ord_hash", PortableHash.md5Hash48(concat(
        lit("mix:"), col("doc_id").cast("string"), lit(":"),
        col("epoch").cast("string"))))
  }

  /** Per-language quality-percentile gate: keep each language's top
    * decile by [[TextAnalysis.qualityScoreCol]] — the ADAPTIVE variant
    * of a fixed score threshold (a fixed cutoff over- or under-prunes
    * languages whose score distributions differ; a per-lang percentile
    * prunes each distribution equally). The decile test is pure
    * integers — `rn <= (n_lang + 9) DIV 10` on a deterministic
    * (score desc, doc_id) row_number — no percent_rank double at the
    * boundary.
    *
    * Scale notes: scoring is a narrow codegen'd projection; both
    * windows (rank + per-lang count) share ONE lang-keyed shuffle. A
    * language is a coarse partition at corpus scale — the two-stage
    * salted top-k of [[sourceCap]] is the swap-in when a single lang
    * dominates; the decile count then comes from the same pre-agg. */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        graft.operators.TextAnalysis.qualityScoreCol.as("quality_score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val cw = Window.partitionBy(col("lang"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(cw))
      .filter(col("rn") <= expr("(n_lang + 9) DIV 10"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("rn"), col("n_lang"))
  }
}
