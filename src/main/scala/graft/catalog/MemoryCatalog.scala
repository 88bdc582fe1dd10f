package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** MUTABLE in-memory catalog: the verification target for streaming
  * acceptance runs ([[graft.streaming.StressHarness]]) — where
  * [[LocalCatalog]] is a frozen fixture, this one accepts K1/K2 POSTs
  * like the real backend, so a stream can write THROUGH the sink and
  * the F6 anti-join sees its own earlier batches (the mechanism that
  * turns checkpoint replay into exactly-once, ref §2.7 /
  * scicat_offline_ingestor.py:67-85 per-record dedup-then-commit).
  *
  * The store is JVM-static keyed by instance id: tasks get a
  * serialized handle, executor-side inserts in local mode land in the
  * one shared store. That matches this harness's scope — single-JVM
  * acceptance runs (`local[n]`, the reference's own E2E shape); a
  * multi-executor cluster verifies against a real SciCat/HTTP backend
  * via [[HttpScicatCatalog]], same interface. */
final class MemoryCatalog private (val id: Long) extends Catalog {

  private def store = MemoryCatalog.stores.get(id)

  def lookupJson(url: String, field: String): Option[String] =
    Option(store.docs.get(url)).flatMap(Catalog.projectField(_, field))

  def querySamples(name: String, proposalId: String): Seq[String] =
    Option(store.docs.get(s"samples/$name/$proposalId")).toSeq.flatMap(Catalog.sampleIds)

  override def datasetExists(pid: String): Boolean = store.pids.containsKey(pid)

  override def metadataValueExists(key: String, value: String): Boolean = false

  override def enumeratePids: Option[Set[String]] =
    Some(store.pids.keySet().asScala.toSet)

  /** K1: parse the pid out of the POSTed document and remember it —
    * the piece that makes replayed batches idempotent. Counts every
    * accepted POST so tests can assert no duplicate ever reached the
    * backend. */
  override def createDataset(datasetJson: String): String = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(datasetJson)
    val pid = Option(node.get("pid")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("dataset document has no pid"))
    val first = store.pids.putIfAbsent(pid, java.lang.Boolean.TRUE) == null
    if (!first) store.duplicatePosts.incrementAndGet()
    store.datasetPosts.incrementAndGet()
    datasetJson
  }

  override def createOrigDatablock(datablockJson: String): String = {
    store.datablockPosts.incrementAndGet()
    datablockJson
  }

  /** J5 get-or-create backend half: remember the sample under the same
    * key [[querySamples]] probes, so a replayed batch's existence check
    * sees what an earlier (possibly crashed) run already created. A
    * create for an ALREADY-EXISTING (name, proposal) counts as a
    * duplicate — the exactly-once assertion surface, mirroring
    * [[createDataset]]'s duplicate-POST counter. Every accepted create
    * is appended to an ordered log with its worker thread, so tests can
    * assert the per-instrument serialization invariant (ref ADR-003:
    * one mutex per instrument). */
  override def createSample(sampleName: String, proposalId: String): Unit = {
    val key = s"samples/$sampleName/$proposalId"
    val doc = "[" + graft.sources.NexusExtractor.jsonStr(sampleName) + "]"
    val first = store.docs.putIfAbsent(key, doc) == null
    if (!first) store.duplicateSampleCreates.incrementAndGet()
    val seq = store.sampleCreates.incrementAndGet()
    store.sampleLog.add(MemoryCatalog.SampleCreate(
      seq, sampleName, proposalId, Thread.currentThread().getName))
  }

  def pids: Set[String] = store.pids.keySet().asScala.toSet
  def datasetPostCount: Long = store.datasetPosts.get()
  def duplicatePostCount: Long = store.duplicatePosts.get()
  def sampleCreateCount: Long = store.sampleCreates.get()
  def duplicateSampleCreateCount: Long = store.duplicateSampleCreates.get()
  def sampleCreateLog: Seq[MemoryCatalog.SampleCreate] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[MemoryCatalog.SampleCreate]
    store.sampleLog.forEach(e => { out += e; () })
    out.toSeq
  }
}

object MemoryCatalog {
  /** One accepted sample create, in global acceptance order. */
  final case class SampleCreate(seq: Long, name: String, proposal: String, thread: String)

  private final class Store {
    val docs = new ConcurrentHashMap[String, String]()
    val pids = new ConcurrentHashMap[String, java.lang.Boolean]()
    val datasetPosts = new AtomicLong(0)
    val datablockPosts = new AtomicLong(0)
    val duplicatePosts = new AtomicLong(0)
    val sampleCreates = new AtomicLong(0)
    val duplicateSampleCreates = new AtomicLong(0)
    val sampleLog = new java.util.concurrent.ConcurrentLinkedQueue[SampleCreate]()
  }

  private val stores = new ConcurrentHashMap[Long, Store]()
  private val nextId = new AtomicLong(0)

  def apply(docs: Map[String, String] = Map.empty): MemoryCatalog = {
    val id = nextId.incrementAndGet()
    val store = new Store
    docs.foreach { case (k, v) => store.docs.put(k, v) }
    stores.put(id, store)
    new MemoryCatalog(id)
  }
}
