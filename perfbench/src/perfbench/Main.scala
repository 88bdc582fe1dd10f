package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it together with
  * the program's sources and starts it once per run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json> [--sf <dir>] [--rate <msg/s>]
  *
  * It sets up Spark, runs one workload, checks its outputs and writes a
  * flat JSON result (metrics, per-layer numbers, check counts) that
  * run.py turns into the final result line.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      work: Path,
      out: Path,
      sf: String,
      cores: Int,
      rate: Double)

  /** What a workload hands back. `latenciesMs` feed the p50 (and the
    * traced run's p90);
    * `extra` holds workload-specific per-layer metrics. */
  final case class Outcome(
      setupS: Seq[Double],
      latenciesMs: Array[Double],
      opsPerS: Double,
      windowMs: Double,
      attempted: Long,
      failed: Long,
      checks: Seq[String],
      extra: Map[String, Double],
      detail: Map[String, String] = Map.empty)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      m.getOrElse("sf", ""), m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("rate").map(_.toDouble).getOrElse(Ingest.PacedRate))
  }

  def session(o: Opts, sub: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"perfbench-${o.workload}")
      .master(s"local[${o.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val s =
      if (sub) b
        // the substrate bench's own settings (graft.Bench.main)
        .config("spark.sql.shuffle.partitions", graft.Bench.shufflePartitions(o.sf))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .getOrCreate()
      // the online ingestor's setting (graft.streaming.OnlineIngestor.main)
      else b.config("spark.sql.shuffle.partitions", o.cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private lazy val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Phase marker on stderr, seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s  $msg")

  def percentile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toArray, 0.5)

  def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def jstr(s: String): String = graft.sources.NexusExtractor.jsonStr(s)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) {
      Files.writeString(Paths.get(args(1)), SubstrateMix.oracleJson())
      return
    }
    val o = parse(args)
    Files.createDirectories(o.work)
    val sub = o.workload == "substrate_mix"
    val spark = session(o, sub)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    log("session ready")
    TraceState.enabled = o.trace
    val sparkListener = if (o.trace) {
      val l = new SparkMetricsListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    val outcome = try o.workload match {
      case "ingest_paced" => Ingest.paced(spark, o, sparkListener)
      case "ingest_bulk" => Ingest.bulk(spark, o, sparkListener)
      case "substrate_mix" => SubstrateMix.run(spark, o, sparkListener)
      case other => sys.error(s"unknown workload $other")
    } finally spark.stop()
    log("session stopped")

    val lat = outcome.latenciesMs.sorted
    val e2e = Seq(
      "setup_s" -> (sessionS + median(outcome.setupS)),
      "latency_p50_ms" -> percentile(lat, 0.50),
      "ops_per_s" -> outcome.opsPerS,
      "rss_peak_mb" -> vmHwmMb())
    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers ++= outcome.extra
    SubstrateMix.Queries.foreach(q => layers.getOrElseUpdate(s"q.$q.s", 0.0))
    e2e.foreach { case (k, v) => layers(s"traced.$k") = v }
    layers("traced.latency_p90_ms") = percentile(lat, 0.90)

    val sb = new StringBuilder("{")
    sb.append(s""""attempted":${outcome.attempted},"failed":${outcome.failed},""")
    sb.append(s""""checks":${outcome.checks.map(jstr).mkString("[", ",", "]")},""")
    sb.append(s""""samples":${lat.length},"session_s":${num(sessionS)},""")
    sb.append(s""""setup_runs_s":${outcome.setupS.map(num).mkString("[", ",", "]")},""")
    sb.append(s""""window_ms":${num(outcome.windowMs)},""")
    sb.append(s""""detail":{${outcome.detail.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString(",")}},""")
    sb.append(s""""e2e":{${e2e.map { case (k, v) => jstr(k) + ":" + num(v) }.mkString(",")}},""")
    sb.append(s""""layers":{${layers.map { case (k, v) => jstr(k) + ":" + num(v) }.mkString(",")}}}""")
    Files.writeString(o.out, sb.result())
  }
}
