package graft

/** Dumps `.explain("formatted")` for a comma-separated list of declared
  * queries (or ALL) to `<outDir>/<name>.txt` — the plan evidence the
  * optimization rounds commit under plans/. Runs in [[Bench.session]],
  * so the captured plan is the one the bench runs.
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> <q1,q2,...|ALL>
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.ExplainDump <sfDir> <outDir> <q1,q2,...|ALL>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, list) = args.take(3)
    // the bench's own session, so dumped plans show the exchanges the
    // bench actually runs; SPARK_GRAFT_EXPLAIN_CONF="k=v;k2=v2" adds
    // ad-hoc settings — e.g. graft.zorder.pinPartitioning=false to dump
    // the ranking subtree a localCheckpoint otherwise hides as
    // Scan ExistingRDD
    val spark = Bench.session(sfDir, sys.env.get("SPARK_GRAFT_EXPLAIN_CONF"))
    val names = if (list == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = 0
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$n.txt"), plan)
        println(s"[explain] $n ok (${plan.length} chars)")
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[explain] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
    // a scripted plan-dump step must not silently produce nothing:
    // any failed query exits nonzero
    if (failed > 0) sys.exit(1)
  }
}
