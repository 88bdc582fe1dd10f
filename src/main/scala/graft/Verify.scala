package graft
import java.nio.file.{Files, Paths}
import graft.sources.NexusExtractor.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the bench's own session (input-byte-derived partitioning), so the
    // oracle hash-compare proves every result is invariant under the
    // partition count the bench actually runs with
    val spark = Bench.session(sfDir)
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset for fast local iteration with
    // tools/check_oracle.py; the driver runs without it (all queries).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // sweep per-invocation lazy-checkpoint blocks between queries
      // (quiescent point; BuildOnce memos are spared), so no query's
      // blocks outlive it
      graft.operators.BuildOnce.releaseScoped(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // queries that are rows-only BY DESIGN, with the reason
    val rowsOnly = SparkEntry.rowsOnly
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), rowsOnly)
    spark.stop()
  }
}
