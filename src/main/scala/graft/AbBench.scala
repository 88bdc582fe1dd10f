package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warmed-JVM A/B micro-harness: times named DataFrame thunks
  * back-to-back, interleaved, in ONE JVM — the instrument BENCHNOTES
  * entries come from. Exists because perf deltas on this box have shown
  * 4.2× load-noise swings across JVMs ([[Bench]] commentary); an
  * interleaved same-process A/B is the only measurement that survives
  * that. Runs in [[Bench.session]], so every case plans exactly as the
  * bench chain does.
  *
  * Usage: `runMain graft.AbBench <sfDir> <case>[,<case>…]` where each
  * case is a key of [[cases]]. Prints one JSON line per case with the
  * per-pass times and the median.
  */
object AbBench {

  /** Each case: (label, thunk). Every case runs a production operator
    * on its default path or with a documented parameter (a cap, a plane
    * count, a slice); add one here when an A/B needs a parameter variant
    * that isn't a declared query. */
  def cases(spark: SparkSession, sfDir: String): Map[String, () => DataFrame] = {
    // day-1 near-dup graph for the star-CC case, built once and shared
    // across passes, so the timed region is ONLY the contraction loop.
    // BuildOnce memos survive the between-pass block sweep; a plain
    // localCheckpoint would be released after the warm-up pass.
    lazy val day1 = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 >= 2)
    def day1Nodes = operators.BuildOnce.get(spark, "abbench_day1", s"$sfDir#nodes")(
      day1.select(col("doc_id")).localCheckpoint())
    def day1Edges = operators.BuildOnce.get(spark, "abbench_day1", s"$sfDir#edges") {
      val fp = operators.Dedup.capHotKeys(
        operators.TextAnalysis.winnowFingerprints(day1, 4)
          .select(col("doc_id"), col("fp_hash")).distinct(),
        Seq("fp_hash"), 4096)
      fp.select(col("fp_hash"), col("doc_id").as("id1"))
        .join(fp.select(col("fp_hash").as("h2"), col("doc_id").as("id2")),
          col("fp_hash") === col("h2") && col("id1") < col("id2"))
        .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3).select(col("id1"), col("id2"))
        .localCheckpoint()
    }
    Map(
      "winnow_recall_full" ->
        (() => operators.Dedup.winnowRecallEval(spark, sfDir)),
      "winnow_recall_slice2" ->
        (() => operators.Dedup.winnowRecallEval(spark, sfDir,
          docIdModulus = 2, docIdResidue = 1)),
      "winnow_recall_slice4" ->
        (() => operators.Dedup.winnowRecallEval(spark, sfDir,
          docIdModulus = 4, docIdResidue = 1)),
      "skip_workload_full" ->
        (() => operators.Substrate.layoutSkipWorkload(spark, sfDir)),
      "skip_workload_zonemaps_z" ->
        (() => operators.Substrate.zoneMapsBench(spark, sfDir, "zorder")),
      "skip_workload_zonemaps_h" ->
        (() => operators.Substrate.zoneMapsBench(spark, sfDir, "hilbert")),
      "skip_workload_zonemaps_lin" ->
        (() => operators.Substrate.zoneMapsBench(spark, sfDir, "linear")),
      "lp_pairs_build" ->
        (() => operators.Dedup.winnowSharedPairsAll(spark, sfDir, minShared = 1)),
      "lp_full" ->
        (() => operators.GraphOps.linkPrediction(spark, sfDir)),
      // hub-cap curve: the wedge bound Σ_{deg≤cap} deg² measured biting
      // at lowered caps (cap 64 drops 3976 hubs at sf0.1: 113 M → 1.9 M
      // wedge rows; at sf1 the uncapped graph is infeasible)
      "lp_full_cap1024" -> (() =>
        operators.GraphOps.linkPrediction(spark, sfDir, maxHubDeg = 1024)),
      "lp_full_cap256" -> (() =>
        operators.GraphOps.linkPrediction(spark, sfDir, maxHubDeg = 256)),
      "lp_full_cap64" -> (() =>
        operators.GraphOps.linkPrediction(spark, sfDir, maxHubDeg = 64)),
      "lp_dropped_cap256" -> (() =>
        operators.GraphOps.linkPredictionDroppedHubs(spark, sfDir, maxHubDeg = 256)),
      // minhash bucket cap: sf1 bucket sizes (~140 max) sit under the
      // 1024 default, so cap 64 is the setting that bites
      "lsh_pairs_cap64" -> (() =>
        operators.Dedup.minhashNearDupPairs(spark, sfDir, maxBucketSize = 64)),
      // hyperplane-LSH width: pair mass ~n²/2^planes. Planes pinned
      // explicitly, because the method default is scale-aware
      // (planesFor → 8 at sf1) and would make the pair an 8-vs-8 no-op
      "purity_planes4" -> (() =>
        operators.Similarity.labelPurity(spark, sfDir, planes = 4)),
      "purity_planes8" -> (() =>
        operators.Similarity.labelPurity(spark, sfDir, planes = 8)),
      // fixed-k trained IVF, inline rather than through its BuildOnce
      // memo (a memoized thunk would time a cache hit on repeat
      // passes): train + assign + probe + top-k end to end
      "ivf_topk_fixedk_trained" -> (() =>
        operators.Similarity.kmeansIvfTopK(spark, sfDir, iters = 2)),
      "cc_day1" -> (() =>
        operators.GraphOps.connectedComponentsStar(day1Nodes, day1Edges, "doc_id")),
      // what the shingle projection costs per full-corpus evaluation,
      // against a plain scan of the same column: the scale for deciding
      // whether a verify stage's semi-join belongs below the projection
      "probe_docs_scan" -> (() =>
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), length(col("text")).as("n"))),
      "probe_shingles_all" -> (() =>
        operators.Dedup.withShingles(Tables.documents(spark, sfDir))
          .select(col("doc_id"), size(col("sh")).as("n"))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Bench.session(sfDir)
    val cs = cases(spark, sfDir)
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      cs(n)().write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // outside the timed region: sweep this pass's lazy checkpoint
      // blocks and collect its garbage, so neither lands inside the
      // next pass's timed window (unswept, unchanged arms swung 7→40 s)
      operators.BuildOnce.releaseScoped(spark, blocking = true)
      System.gc()
      Thread.sleep(200)
      dt
    }
    names.foreach(once) // warm-up pass, unreported
    val passes =
      sys.env.get("SPARK_GRAFT_AB_PASSES").map(_.toInt).getOrElse(3)
    val times = collection.mutable.Map.empty[String, Vector[Double]]
    for (_ <- 1 to passes; n <- names)
      times(n) = times.getOrElse(n, Vector.empty) :+ once(n)
    for (n <- names) {
      val ts = times(n)
      val med = ts.sorted.apply(ts.size / 2)
      println(s"""{"case":"$n","passes":[${
        ts.map(t => f"$t%.3f").mkString(",")}],"median":${f"$med%.3f"}}""")
    }
    spark.stop()
  }
}
