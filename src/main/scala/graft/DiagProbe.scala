package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Ad-hoc diagnostic main: prints the partition counts of the
  * build-once memos and a per-stage task/time table for one query —
  * the stage-level visibility the disabled UI would give (guide §7.1).
  * Usage: runMain graft.DiagProbe <sfDir> <queryName> */
object DiagProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val query = args(1)
    // the bench's own session, so the stage table is the bench's plan;
    // ad-hoc conf overrides: SPARK_GRAFT_DIAG_CONF="k=v;k2=v2"
    val spark = Bench.session(sfDir, sys.env.get("SPARK_GRAFT_DIAG_CONF"))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"run=${m.executorRunTime / 1e3}%8.2f cpu=${m.executorCpuTime / 1e9}%8.2f " +
          f"gc=${m.jvmGCTime / 1e3}%6.2f spillMB=${m.diskBytesSpilled / 1e6}%6.0f " +
          f"shufRdMB=${(m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead) / 1e6}%6.0f " +
          f"shufWrMB=${m.shuffleWriteMetrics.bytesWritten / 1e6}%6.0f  ${si.name}%s")
      }
    })
    val pairs = operators.GraphOps.candidatePairsMaterialized(spark, sfDir)
    println(s"[memo] lp_candidates partitions = ${pairs.queryExecution.toRdd.getNumPartitions}")
    val edges = operators.Dedup.winnowEdgesMaterialized(spark, sfDir)
    println(s"[memo] winnow_edges partitions = ${edges.queryExecution.toRdd.getNumPartitions}")
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      SparkEntry.queries(query)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[wall] $query pass $i = ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
