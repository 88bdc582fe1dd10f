package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `key` is the micro-batch id (`streaming.sql.batchId`)
  * or the substrate query name; `parent` names the enclosing span. */
final case class Span(name: String, key: String, startNs: Long, endNs: Long, parent: String)

/** JVM-static trace state. Executor-side wrappers run inside task
  * closures, which are deserialized copies, so anything they count must
  * live in a static object, not in the closure. */
object TraceState {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()

  val hdf5Reads, hdf5Ns, hdf5Bytes, hdf5Failed = new AtomicLong
  val catGets, catGetNs, catPosts, catPostNs, catProbes, catProbeHits, catErrors = new AtomicLong
  val sinkNs = new AtomicLong

  val QueryKey = "perfbench.query"

  /** Span key of the current thread: the batch id on executors and on
    * the streaming driver thread, the query name during substrate runs. */
  def currentKey(): String = {
    val tc = TaskContext.get()
    val fromTask =
      if (tc == null) null
      else Option(tc.getLocalProperty("streaming.sql.batchId"))
        .orElse(Option(tc.getLocalProperty(QueryKey))).orNull
    if (fromTask != null) fromTask else ""
  }

  def parentOfTask(): String = {
    val tc = TaskContext.get()
    if (tc == null) "driver" else s"stage:${tc.stageId()}"
  }

  def record(name: String, key: String, t0: Long, t1: Long, parent: String): Unit =
    if (enabled) spans.add(Span(name, key, t0, t1, parent))
}

/** The stream config's file reader (by default
  * `Hdf5Reader.fileReaderWith(...)`) wrapped with call timing. */
final class TracedReader(inner: String => Option[String]) extends (String => Option[String])
    with Serializable {
  def apply(path: String): Option[String] = {
    val t0 = System.nanoTime()
    val out = inner(path)
    val t1 = System.nanoTime()
    TraceState.hdf5Reads.incrementAndGet()
    TraceState.hdf5Ns.addAndGet(t1 - t0)
    if (out.isEmpty) TraceState.hdf5Failed.incrementAndGet()
    else TraceState.hdf5Bytes.addAndGet(
      try java.nio.file.Files.size(java.nio.file.Paths.get(path)) catch { case _: Exception => 0L })
    TraceState.record("hdf5.read", TraceState.currentKey(), t0, t1, TraceState.parentOfTask())
    out
  }
}

/** Delegating catalog that times every GET-type call and POST. */
final case class TracedCatalog(inner: graft.catalog.Catalog) extends graft.catalog.Catalog {
  import TraceState._

  private def timed[T](name: String, counter: AtomicLong, ns: AtomicLong)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    catch { case e: Throwable => catErrors.incrementAndGet(); throw e }
    finally {
      val t1 = System.nanoTime()
      counter.incrementAndGet()
      ns.addAndGet(t1 - t0)
      record(name, currentKey(), t0, t1, parentOfTask())
    }
  }
  private def probe(hit: Boolean): Boolean = {
    catProbes.incrementAndGet()
    if (hit) catProbeHits.incrementAndGet()
    hit
  }

  def lookupJson(url: String, field: String): Option[String] =
    timed("catalog.get", catGets, catGetNs)(inner.lookupJson(url, field))
  def querySamples(name: String, proposalId: String): Seq[String] =
    timed("catalog.get", catGets, catGetNs)(inner.querySamples(name, proposalId))
  def datasetExists(pid: String): Boolean =
    probe(timed("catalog.get", catGets, catGetNs)(inner.datasetExists(pid)))
  def metadataValueExists(key: String, value: String): Boolean =
    probe(timed("catalog.get", catGets, catGetNs)(inner.metadataValueExists(key, value)))
  override def enumeratePids: Option[Set[String]] = inner.enumeratePids
  override def enumerateMetadataValues(key: String): Option[Set[String]] =
    inner.enumerateMetadataValues(key)
  def createDataset(json: String): String =
    timed("catalog.post", catPosts, catPostNs)(inner.createDataset(json))
  def createOrigDatablock(json: String): String =
    timed("catalog.post", catPosts, catPostNs)(inner.createOrigDatablock(json))
  override def createSample(name: String, proposalId: String): Unit =
    timed("catalog.post", catPosts, catPostNs)(inner.createSample(name, proposalId))
}

/** Scheduler-level counters from Spark's public listener events: job
  * intervals (for the no-job-running driver share), stage task metrics,
  * and job spans keyed by batch id or query name. */
final class SparkMetricsListener extends SparkListener {
  private val lock = new Object
  private var active = 0
  private var busySince = 0L
  /** Closed [start, end) epoch-ms intervals with at least one job running. */
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobSpans = new ConcurrentLinkedQueue[(Int, String, Long, Long)]()

  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes = new AtomicLong

  private def keyOf(p: java.util.Properties): String =
    if (p == null) ""
    else Option(p.getProperty("streaming.sql.batchId"))
      .orElse(Option(p.getProperty(TraceState.QueryKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs.incrementAndGet()
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    jobStart(e.jobId) = (e.time, keyOf(e.properties))
    if (active == 0) busySince = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, key) => jobSpans.add((e.jobId, key, t0, e.time)) }
    active = math.max(0, active - 1)
    if (active == 0) busy += ((busySince, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(e.stageInfo.numTasks.toLong)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  /** Milliseconds of [w0, w1] (epoch ms) with a job running. */
  def busyMs(w0: Long, w1: Long): Long = lock.synchronized {
    val open = if (active > 0) Seq((busySince, w1)) else Nil
    (busy ++ open).map { case (a, b) => math.max(0L, math.min(b, w1) - math.max(a, w0)) }.sum
  }

  def snapshot(): Array[Long] = Array(jobs.get, stages.get, tasks.get, runMs.get,
    cpuNs.get, gcMs.get, shuffleBytes.get, spillBytes.get)
}

/** Micro-batch progress: cumulative phase durations and input rows, and
  * the arrival time of each progress report. */
final class ProgressListener extends StreamingQueryListener {
  val batches, rowsIn = new AtomicLong
  val phases = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val reports = new ConcurrentLinkedQueue[ProgressListener.Report]()

  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches.incrementAndGet()
    rowsIn.addAndGet(p.numInputRows)
    d.foreach { case (k, v) => phases.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v) }
    reports.add(ProgressListener.Report(p.runId, p.batchId, now, p.numInputRows))
  }

  def phase(k: String): Long = Option(phases.get(k)).map(_.get).getOrElse(0L)
}

object ProgressListener {
  /** One micro-batch as seen by the listener: query run, batch id,
    * arrival nanoTime of its progress report, input rows. */
  final case class Report(runId: java.util.UUID, batchId: Long, arrivalNs: Long, rows: Long)
}
