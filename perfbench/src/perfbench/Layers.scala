package perfbench

/** Per-layer numbers over one measured window, as differences of two
  * snapshots of the cumulative counters in [[TraceState]] and the
  * listeners. Every layer is reported on every workload; a layer the
  * workload does not exercise reads 0. */
object Layers {

  final case class Snap(
      epochMs: Long,
      batches: Long,
      rows: Long,
      phases: Map[String, Long],
      spark: Array[Long],
      trace: Array[Long])

  private val PhaseKeys = Seq("latestOffset", "queryPlanning", "walCommit", "addBatch",
    "commitOffsets", "triggerExecution", "getBatch")

  def snap(progress: Option[ProgressListener], spark: Option[SparkMetricsListener]): Snap = {
    import TraceState._
    Snap(
      System.currentTimeMillis(),
      progress.map(_.batches.get).getOrElse(0L),
      progress.map(_.rowsIn.get).getOrElse(0L),
      progress.map(p => PhaseKeys.map(k => k -> p.phase(k)).toMap).getOrElse(Map.empty),
      spark.map(_.snapshot()).getOrElse(Array.fill(8)(0L)),
      Array(hdf5Reads.get, hdf5Ns.get, hdf5Bytes.get, hdf5Failed.get, catGets.get,
        catGetNs.get, catPosts.get, catPostNs.get, catProbes.get, catProbeHits.get,
        catErrors.get, sinkNs.get))
  }

  /** `messages` is the number of bus files the stream committed in the
    * window, read from its checkpoint, and `files` the distinct data files
    * the window's messages name: the bases of the re-scan and re-read
    * ratios. */
  def between(a: Snap, b: Snap, cores: Int, spark: Option[SparkMetricsListener],
      messages: Long = 0, files: Long = 0): Map[String, Double] = {
    val windowMs = math.max(1L, b.epochMs - a.epochMs).toDouble
    def ph(k: String) = (b.phases.getOrElse(k, 0L) - a.phases.getOrElse(k, 0L)).toDouble
    val sp = b.spark.zip(a.spark).map { case (x, y) => (x - y).toDouble }
    val tr = b.trace.zip(a.trace).map { case (x, y) => (x - y).toDouble }
    val trigger = ph("triggerExecution")
    val addBatch = ph("addBatch")
    val sinkMs = tr(11) / 1e6
    val hdf5Ms = tr(1) / 1e6
    val getMs = tr(5) / 1e6
    val postMs = tr(7) / 1e6
    val execRun = sp(3)
    val busy = spark.map(_.busyMs(a.epochMs, b.epochMs).toDouble).getOrElse(0.0)
    val driverMs = windowMs - busy
    def ratio(x: Double, y: Double) = if (y <= 0) 0.0 else x / y
    Map(
      "streaming.batches" -> (b.batches - a.batches).toDouble,
      "streaming.rows_in" -> messages.toDouble,
      "streaming.source_rows_per_message" -> ratio((b.rows - a.rows).toDouble, messages.toDouble),
      "streaming.latest_offset_ms" -> ph("latestOffset"),
      "streaming.query_planning_ms" -> ph("queryPlanning"),
      "streaming.wal_commit_ms" -> ph("walCommit"),
      "streaming.add_batch_ms" -> addBatch,
      "streaming.commit_offsets_ms" -> ph("commitOffsets"),
      "streaming.trigger_ms" -> trigger,
      "streaming.idle_ms" -> (if (b.batches > a.batches) math.max(0.0, windowMs - trigger) else 0.0),
      "ingest.plan_ms" -> math.max(0.0, addBatch - sinkMs),
      "sink.ms" -> sinkMs,
      "hdf5.reads" -> tr(0),
      "hdf5.read_ms" -> hdf5Ms,
      "hdf5.bytes" -> tr(2),
      "hdf5.failed" -> tr(3),
      "hdf5.reads_per_file" -> ratio(tr(0), files.toDouble),
      "catalog.gets" -> tr(4),
      "catalog.get_ms" -> getMs,
      "catalog.posts" -> tr(6),
      "catalog.post_ms" -> postMs,
      "catalog.probe_hit_ratio" -> ratio(tr(9), tr(8)),
      "catalog.errors" -> tr(10),
      "spark.jobs" -> sp(0),
      "spark.stages" -> sp(1),
      "spark.tasks" -> sp(2),
      "spark.exec_run_ms" -> execRun,
      "spark.exec_cpu_ms" -> sp(4) / 1e6,
      "spark.gc_ms" -> sp(5),
      "spark.shuffle_bytes" -> sp(6),
      "spark.spill_bytes" -> sp(7),
      "spark.driver_ms" -> driverMs,
      "share.driver" -> ratio(driverMs, windowMs),
      "share.exec_slots" -> ratio(execRun, windowMs * cores),
      "share.hdf5_of_exec" -> ratio(hdf5Ms, execRun),
      "self.trigger_ms" -> math.max(0.0, trigger - PhaseKeys.filter(_ != "triggerExecution").map(ph).sum),
      "self.sink_driver_ms" -> math.max(0.0, sinkMs - busy),
      "self.task_other_ms" -> math.max(0.0, execRun - hdf5Ms - getMs - postMs))
  }

  /** Spans as JSON lines: trace-wrapper spans plus one span per Spark
    * job (parent = its micro-batch or query); executor spans name their
    * stage, mapped here to the enclosing job. */
  def writeSpans(path: java.nio.file.Path, spark: Option[SparkMetricsListener],
      progress: Option[ProgressListener]): Unit = {
    import scala.jdk.CollectionConverters._
    val js = graft.sources.NexusExtractor.jsonStr _
    val stageToJob = spark.map(_.stageToJob.asScala.toMap).getOrElse(Map.empty[Int, Int])
    def parent(p: String) =
      if (p.startsWith("stage:")) stageToJob.get(p.stripPrefix("stage:").toInt).map(j => s"job:$j").getOrElse(p)
      else p
    val lines = TraceState.spans.asScala.toSeq.map { s =>
      s"""{"name":${js(s.name)},"key":${js(s.key)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${js(parent(s.parent))}}"""
    } ++ spark.toSeq.flatMap(_.jobSpans.asScala.toSeq.map { case (id, key, t0, t1) =>
      s"""{"name":"job:$id","key":${js(key)},"start_ms":$t0,"end_ms":$t1,""" +
        s""""parent":${js(if (key.isEmpty) "" else s"batch:$key")}}"""
    }) ++ progress.toSeq.flatMap(_.reports.asScala.toSeq.map { r =>
      s"""{"name":"batch:${r.batchId}","key":"${r.batchId}","end_ns":${r.arrivalNs},""" +
        s""""rows":${r.rows},"parent":"query:${r.runId}"}"""
    })
    java.nio.file.Files.write(path, lines.asJava)
  }
}
