package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.operators.BuildOnce

/** Closed loop over a fixed list of `SparkEntry.queries` at sf0.1, one
  * query at a time: an untimed warm pass, then [[TimedPasses]] timed
  * passes. Each query's rows are collected inside the timed region (the
  * user-visible result); the last pass's rows are written as parquet
  * afterwards, so run.py can compare them with the DuckDB oracle's
  * recorded digests.
  */
object SubstrateMix {

  /** A per-arm sweep the roadmap targets and the imsc rule program run as
    * one relational plan, then a sample of the sub-second TPC-H queries
    * that sit on the per-job floor. */
  val Queries: Seq[String] = Seq(
    "corpus_gate_sweep", "imsc_pipeline", "q3_shipping", "q6_forecast", "q14_promo")

  /** Set-up warm-up query (not timed as part of the mix). */
  val WarmUp = "q6_forecast"
  /** Timed passes after the warm pass; a query's time is their median. */
  val TimedPasses = 3

  def run(spark: SparkSession, o: Main.Opts, sl: Option[SparkMetricsListener]): Main.Outcome = {
    require(o.sf.nonEmpty && java.nio.file.Files.isDirectory(java.nio.file.Paths.get(o.sf)),
      s"--sf must name the sf0.1 table directory, got '${o.sf}'")
    val sc = spark.sparkContext
    val setup = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(WarmUp)(spark, o.sf).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // fresh build-once memos for the warm pass (graft.Bench does the same)
    BuildOnce.clearAll()
    BuildOnce.releaseScoped(spark, blocking = true)

    /** One pass over the list: (query, seconds, rows, schema) each. */
    def pass(): Seq[(String, Double, Array[Row], org.apache.spark.sql.types.StructType)] =
      Queries.map { q =>
        graft.Bench.coldStartFamilies.get(q).foreach(_.foreach(BuildOnce.clearFamily))
        sc.setLocalProperty(TraceState.QueryKey, q)
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, o.sf)
        val rows = df.collect()
        val t1 = System.nanoTime()
        sc.setLocalProperty(TraceState.QueryKey, null)
        TraceState.record(s"query:$q", q, t0, t1, "substrate_mix")
        // outside the timed region: drop this query's scoped blocks
        BuildOnce.releaseScoped(spark, blocking = true)
        (q, (t1 - t0) / 1e9, rows, df.schema)
      }

    // an untimed first pass lets JIT compilation and lazy set-up finish:
    // a long-lived session runs these queries warm
    val w = System.nanoTime()
    pass()
    val warmPassS = (System.nanoTime() - w) / 1e9
    Main.log(f"warm pass $warmPassS%.2f s")
    val snap0 = Layers.snap(None, sl)
    val w0 = System.nanoTime()
    val passes = Seq.fill(TimedPasses)(pass())
    val w1 = System.nanoTime()
    val snap1 = Layers.snap(None, sl)
    val results = passes.last
    val perQuery = Queries.indices.map(i => Main.median(passes.map(_(i)._2)))

    // results for the oracle comparison in run.py
    val out = o.work.resolve("results")
    results.foreach { case (q, _, rows, schema) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val rowCounts = results.map { case (q, _, rows, _) => s"$q=${rows.length}" }.mkString(",")
    val times = perQuery
    val substrateS = times.sum
    val layers =
      if (o.trace) Layers.between(snap0, snap1, o.cores, sl) ++
        Queries.zip(perQuery).map { case (q, t) => s"q.$q.s" -> t }
      else Map.empty[String, Double]
    if (o.trace) Layers.writeSpans(o.work.resolve("spans.jsonl"), sl, None)
    Main.Outcome(
      setupS = setup,
      latenciesMs = times.map(_ * 1000.0).toArray,
      opsPerS = Queries.size / substrateS,
      windowMs = (w1 - w0) / 1e6,
      attempted = Queries.size,
      failed = 0,
      checks = Nil,
      extra = layers ++ Map(
        "bench.gen_lag_ms" -> 0.0, "bench.backlog_end" -> 0.0, "bench.input_gen_s" -> 0.0,
        "bench.warm_pass_s" -> warmPassS),
      detail = Map("substrate_s" -> substrateS.toString, "rows" -> rowCounts,
        "queries" -> Queries.mkString(","),
        "rows_only" -> SparkEntry.rowsOnly.keys.toSeq.sorted.mkString(",")))
  }

  /** `SparkEntry.oracleSql` of the timed queries as a JSON object — the
    * input of `oracle.py record`. */
  def oracleJson(): String =
    Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
      .map { case (q, sql) => graft.sources.NexusExtractor.jsonStr(q) + ":" +
        graft.sources.NexusExtractor.jsonStr(sql) }
      .mkString("{", ",", "}")
}
