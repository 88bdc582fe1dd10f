package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver. Results are materialized through
  * the noop sink so every column/expression is actually computed (count()
  * would let Catalyst prune the work).
  *
  * Methodology:
  *   - per-query MEDIAN of [[Repeats]] timed runs, so one JIT/GC outlier
  *     cannot masquerade as a regression;
  *   - the repeats run as round-robin PASSES over all queries, so a
  *     machine-wide contention burst hits at most one repeat per query;
  *   - failures are reported as -1 AND listed under a "failed" key so a
  *     crashing query can never make the total look better;
  *   - the JSON line is printed as the FINAL stdout line after
  *     spark.stop(), and build.sbt uses `run / outputStrategy :=
  *     StdoutOutput` so it arrives bare (no sbt "[info] " prefix);
  *   - the three lines are also written to SPARK_GRAFT_BENCH_OUT
  *     (default bench_out.json), and the per-query stage metrics of
  *     every timed run to the [[sidecarPath]] beside it.
  */
object Bench {
  /** Timed passes per query (median-of-N); the sf1 scaling leg lowers
    * it to keep a full pass of the set inside its time budget. */
  val Repeats: Int =
    sys.env.get("SPARK_GRAFT_BENCH_REPEATS").map(_.toInt).getOrElse(3)

  /** Raw input bytes per shuffle partition in [[shufflePartitions]]:
    * the ~50× intermediate explosion of the raw parquet lands each
    * shuffle partition in the ~100 MB-at-scale band. */
  val PartitionInputBytes: Long = 2L << 20

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** Build-once families reset before timing their declared BUILD query,
    * so the build query reports the real build cost (cold memo) and the
    * family's consumers report steady-state marginal cost, instead of
    * the build landing on whichever consumer happens to run first.
    * Repeats of the build query each pay a fresh build; consumers later
    * in the same round-robin pass hit the rebuilt memo. */
  val coldStartFamilies: Map[String, Seq[String]] = Map(
    "graph_edges_build" -> Seq(graft.operators.Dedup.EdgesFamily),
    "dedup_lsh_verified_pairs" -> Seq(graft.operators.Similarity.LshPairsFamily),
    "graph_candidates_build" -> Seq(graft.operators.GraphOps.CandidatesFamily),
    // the day-1 cluster-state family (day-1 fingerprints + stored
    // labels): corpus_daily_increment is first of the day-2 IVM family
    // in the chain, so it is the declared build row — each of its
    // repeats pays the full day-1 winnow + star-CC rebuild, and
    // dedup_cluster_refresh / corpus_split_churn report steady-state
    // marginal cost
    "corpus_daily_increment" -> Seq(graft.operators.Dedup.Day1ClusterFamily),
    // the day-2 admission table (the cascade's outcome) — its declared
    // build row is dedup_incremental itself; the five refresh
    // consumers read the table like the nightly job they model
    "dedup_incremental" -> Seq(graft.operators.Dedup.AdmissionFamily),
    // the trained-quantizer family: the cell census is its declared
    // build row, so it reports the real train+assign cost (both memos
    // cleared) and the other cell-family consumers report steady-state
    "embed_cell_balance" -> Seq(graft.operators.Similarity.IvfCentroidsFamily,
      graft.operators.Similarity.IvfCellsFamily))

  /** Counter names of a [[MetricsRow]], in sidecar key order: jobs
    * started, stages completed, their tasks, executor run/CPU/GC
    * milliseconds, bytes spilled to disk, shuffle bytes read and
    * written. */
  val MetricKeys: Seq[String] = Seq("jobs", "stages", "tasks", "run_ms",
    "cpu_ms", "gc_ms", "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes")

  /** One timed run of one query: its wall seconds (-1 on failure) and
    * the [[MetricKeys]] counters of every job it started. The counters
    * fill in as the listener bus delivers the run's events, which can
    * trail the action; after `spark.stop()` they are final. */
  final class MetricsRow(private[Bench] val id: String, val query: String, val pass: Int) {
    @volatile var wallS: Double = -1.0
    private[Bench] val counts = new AtomicLongArray(MetricKeys.size)
    def apply(key: String): Long = counts.get(MetricKeys.indexOf(key))

    /** The sidecar line: `{"query", "pass", "wall_s", <MetricKeys>}`. */
    def json: String =
      (Seq(s""""query":${jsonEscape(query)}""", s""""pass":$pass""",
        s""""wall_s":${num3(wallS)}""") ++
        MetricKeys.indices.map(i => s""""${MetricKeys(i)}":${counts.get(i)}"""))
        .mkString("{", ",", "}")
  }

  /** The bench's stage-metrics instrument, one structured report per
    * timed run in the manner of Structured Streaming's per-trigger
    * progress. [[once]] tags its thread's jobs with the run's row id (a
    * Spark local property, inherited by broadcast and subquery
    * threads); this listener charges each job, and every stage of it,
    * to that row. Attribution goes by tag, not by the time an event
    * arrives, so a late event never lands on the next query. */
  final class QueryMetrics extends SparkListener {
    private val byId = new ConcurrentHashMap[String, MetricsRow]()
    private val stageRow = new ConcurrentHashMap[Int, MetricsRow]()
    /** Rows in run order. */
    val rows = new ConcurrentLinkedQueue[MetricsRow]()

    private[Bench] def start(query: String, pass: Int): MetricsRow = {
      val row = new MetricsRow(byId.size.toString, query, pass)
      byId.put(row.id, row)
      rows.add(row)
      row
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(RowProperty)))
        .flatMap(id => Option(byId.get(id))).foreach { row =>
          row.counts.incrementAndGet(0)
          e.stageIds.foreach(stageRow.put(_, row))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageRow.get(e.stageInfo.stageId)).foreach { row =>
        row.counts.incrementAndGet(1)
        row.counts.addAndGet(2, e.stageInfo.numTasks.toLong)
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          row.counts.addAndGet(3, m.executorRunTime)
          row.counts.addAndGet(4, m.executorCpuTime / 1000000L)
          row.counts.addAndGet(5, m.jvmGCTime)
          row.counts.addAndGet(6, m.diskBytesSpilled)
          row.counts.addAndGet(7, m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead)
          row.counts.addAndGet(8, m.shuffleWriteMetrics.bytesWritten)
        }
      }
  }

  private val RowProperty = "graft.bench.metricsRow"

  /** The metrics sidecar beside the bench output file:
    * `bench_out.json` → `bench_out.metrics.jsonl`. */
  def sidecarPath(outPath: String): String =
    outPath.stripSuffix(".json") + ".metrics.jsonl"

  /** One timed, fully-materialized run; -1.0 on failure. With `metrics`
    * the run is recorded as a row of pass `pass`. After the action
    * completes (timing stopped), the per-invocation lazy checkpoint
    * blocks are released and, after a heavy run, the garbage collected,
    * so neither lands inside the next query's timed window. */
  def once(spark: SparkSession, sfDir: String, name: String,
      metrics: Option[QueryMetrics] = None, pass: Int = 0): Double = {
    coldStartFamilies.get(name)
      .foreach(_.foreach(graft.operators.BuildOnce.clearFamily))
    val row = metrics.map(_.start(name, pass))
    row.foreach(r => spark.sparkContext.setLocalProperty(RowProperty, r.id))
    val t0 = System.nanoTime()
    val elapsed = try {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        -1.0
    } finally spark.sparkContext.setLocalProperty(RowProperty, null)
    row.foreach(_.wallS = elapsed)
    // Measurement hygiene, not result caching: every timed run still
    // computes from parquet. The sweep blocks, so released blocks are
    // gone before the next query starts. A run over 2 s leaves enough
    // garbage that its GC debt would land on the next timed query, so
    // it is collected here and the ContextCleaner's unpersist RPCs get
    // 300 ms to drain; a sub-second run's debt is smaller than that
    // cost. A failed run (-1) may have produced a heavy run's garbage.
    graft.operators.BuildOnce.releaseScoped(spark, blocking = true)
    if (elapsed > 2.0 || elapsed < 0) {
      System.gc()
      Thread.sleep(300)
    }
    elapsed
  }

  /** All N timed repeats for one query (any may be -1.0 on failure). */
  def repeats(spark: SparkSession, sfDir: String, name: String): Seq[Double] =
    (1 to Repeats).map(_ => once(spark, sfDir, name))

  /** N round-robin passes over ALL queries (pass 1: q1..qn, pass 2:
    * q1..qn, ...) instead of N consecutive repeats per query. A
    * machine-wide contention burst then lands on at most ONE repeat of
    * each query and the median rejects it; consecutive repeats let a
    * single multi-second burst poison all N repeats of whichever query
    * it straddles. Pure so the ordering is unit-testable: `runOne` is
    * (passIndex, name) => seconds. */
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
    * 17 MB sf0.1 input 32 wide and gave 8 and 32 cores the same widths.
    * One partition per [[PartitionInputBytes]] of raw parquet, clamped
    * to [1, 512] for the local mains; a cluster deployment sizes by the
    * same bytes rule with its own cap. Compute-dense operators whose
    * cost is fan-out rather than input bytes pin their own width (the
    * lp wedge's 4 × cores). */
  def shufflePartitions(sfDir: String): String = {
    val bytes = try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    } catch { case _: Throwable => 0L }
    math.max(1L, math.min(512L,
      (bytes + PartitionInputBytes - 1) / PartitionInputBytes)).toString
  }

  /** Local cores of every main: `SPARK_GRAFT_CPUS`, else the host's. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The session every measurement main runs in (Bench, Verify,
    * ExplainDump, AbBench), so their plans and stage numbers come from
    * the plan the bench times: [[cpus]] cores, the [[shufflePartitions]]
    * byte rule, AQE on, UTC, no UI. AQE coalesces with Spark's own
    * defaults (parallelismFirst, 64 MB advisory size): byte-driven
    * coalescing cannot see CPU per byte and measured slower on the
    * CPU-dense small-byte stages (OPTIMIZATION_r18.md). `extraConf`
    * ("k=v;k2=v2") adds ad-hoc settings on top, e.g. a `graft.*` knob
    * for a plan dump. */
  def session(sfDir: String, extraConf: Option[String] = None): SparkSession = {
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
    * self-evident in the bench line instead of reading as a
    * regression. */
  def loadAvg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  private def jsonEscape(s: String): String =
    graft.sources.NexusExtractor.jsonStr(s)

  private def numArr(xs: Seq[Double]): String =
    xs.map(num3).mkString("[", ",", "]")

  /** 3-decimal rounding for every number the bench emits: the median of
    * 3 wall-clock runs has nowhere near microsecond significance, and
    * full-precision doubles triple the line length. */
  private def num3(x: Double): String =
    // Locale.ROOT: a comma-decimal default locale would render "1,305"
    // and the .toDouble trim would kill the bench before any output
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x)).toDouble.toString

  /** COMPACT final line — bounded-size summary ONLY, no per-query map.
    * A caller that keeps only a ~2 KB stdout tail loses any per-query
    * payload once the query count grows. The final line
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
    // loadavg_launch is sampled FIRST thing in main, before the session
    // build and the warm-up query: the co-tenant load of the window.
    // loadavg_start is sampled after warm-up and so includes self-load.
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

  /** Contention-audit detail (per-repeat arrays) as its own JSON line,
    * kept OUT of the final compact line. */
  def buildDetailLine(results: Seq[(String, Seq[Double])]): String = {
    val reps = results.map { case (k, ts) => jsonEscape(k) + ":" + numArr(ts) }
      .mkString("{", ",", "}")
    s"""{"metric":"repeats","repeats":$reps}"""
  }

  private def writeOrWarn(path: String, text: String): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }

  def main(args: Array[String]): Unit = {
    // FIRST thing, before the session (and its threads) exists: the
    // launch-window co-tenant load.
    val loadLaunch = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sfDir)
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)

    // Optional override for ad-hoc sweeps: comma-separated names, or
    // "ALL" for every declared query. The default is the headline set
    // the recorded bench artifacts were measured on.
    // SPARK_GRAFT_BENCH_GROUP narrows the selected set to a comma list
    // of name PREFIXES, one JVM per family (tools/bench_bounce.sh). The
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
    }).filter(inGroup)
    require(queryNames.nonEmpty,
      s"no queries selected: group=${group.map(_.mkString(","))} matched nothing " +
        "(check SPARK_GRAFT_BENCH_GROUP / SPARK_GRAFT_BENCH_QUERIES)")

    // JVM/codegen warm-up on the first query (not reported).
    once(spark, sfDir, queryNames.head)

    val loadStart = loadAvg()
    val results = interleaved(queryNames, Repeats,
      (p, n) => once(spark, sfDir, n, Some(metrics), p + 1))
    val line = buildLine(results, sfDir, loadStart, loadAvg(), loadLaunch)
    val medians = buildMediansLine(results)
    val detail = buildDetailLine(results)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    writeOrWarn(outPath, detail + "\n" + medians + "\n" + line + "\n")
    // stop() drains the listener bus, so every row's counters are final
    spark.stop()
    val rows = metrics.rows.toArray(Array.empty[MetricsRow])
    writeOrWarn(sidecarPath(outPath), rows.map(_.json + "\n").mkString)
    // Detail, then medians, then the bounded compact line LAST: the
    // driver's stdout capture keeps the tail, so the machine-readable
    // summary can never be the part that truncates away.
    println(detail)
    println(medians)
    println(line)
  }
}
