package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Compute-once registry behind the build-once artifacts
  * ([[Dedup.winnowEdgesMaterialized]], [[Similarity.lshPairsMaterialized]],
  * [[GraphOps.candidatePairsMaterialized]]): one `localCheckpoint`ed build
  * per (application, family, sfDir), every later consumer receives the
  * SAME DataFrame instance (plan = a scan of the stored rows —
  * GraphEdgesSpec pins both properties).
  *
  * Lifecycle invariants:
  *  - the build runs OUTSIDE any map lock: `computeIfAbsent` would execute
  *    the whole Spark job while holding the bin lock, blocking concurrent
  *    same-bin lookups — here a losing racer just discards its build
  *    (`putIfAbsent` decides; both candidates are value-identical);
  *  - DISCARDED entries release their executor block storage:
  *    a localCheckpoint pins the materialized RDD's blocks until
  *    application end, so every eviction path — `clearFamily` before each
  *    timed build repeat, `putIfAbsent` race losers, app-end cleanup,
  *    `clearAll` — unpersists the checkpointed RDD behind the dropped
  *    DataFrame instead of leaking one full edge-list/LSH-pair checkpoint
  *    per bench pass (a checkpoint's plan is a single [[LogicalRDD]] leaf,
  *    so releasing the plan's LogicalRDD leaves frees exactly its blocks);
  *  - entries are keyed STRUCTURALLY (appId, family, sfDir), never by
  *    a joined string such as `appId|family|sfDir`, so an sfDir holding
  *    the delimiter cannot cross-evict another family;
  *  - entries EVICT when their application ends (one SparkListener per
  *    application), so a JVM that starts/stops many sessions — test
  *    suites, notebooks — never accumulates checkpointed DataFrames
  *    pinned to dead SparkContexts;
  *  - [[clearFamily]] gives the bench a COLD-START knob: resetting a
  *    family before timing its declared build query makes that query
  *    report the real build cost instead of a memo lookup, and the
  *    family's consumers report steady-state marginal cost (without
  *    the reset the build cost lands on whichever consumer happens to
  *    run first).
  */
object BuildOnce {
  /** Stored bytes per partition of a [[sized]] memo: AQE's own
    * minPartitionSize. */
  val MemoPartitionBytes: Long = 1L << 20

  /** Scale-adaptive partition sizing for memo materialization (guide
    * §2): `localCheckpoint` FREEZES whatever layout the build's tail
    * stage happened to have, and both failure modes are measured —
    *   - too NARROW: AQE coalesced the 12 MB candidate memo to 3
    *     byte-sized partitions, putting graph_link_prediction's
    *     compute-dense wedge join on 10 tasks / 122 MB spill while 22
    *     cores idled;
    *   - too WIDE: a blanket repartition(defaultParallelism) spread the
    *     25-row edge memo over 32 partitions, so every ROUND of every
    *     iterative consumer (BFS, k-core peel, LPA, star CC) launched
    *     32–64 near-empty tasks — task-launch overhead, not compute
    *     (graph_core_distance: 533 tasks, run 58 s vs cpu 21 s).
    * So: materialize at the natural layout, read the ACTUAL stored
    * bytes from the block manager (no extra job), and re-lay-out only
    * when the measured size disagrees — one partition per
    * [[MemoPartitionBytes]], capped at the session parallelism. This is
    * the single-JVM stand-in for the bucketed table's file-count sizing
    * the memo scaladocs describe as the 100 TB shape: block count grows
    * with the data, never with a constant. Returns the eager
    * checkpoint — callers must NOT checkpoint again. */
  def sized(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val first = df.localCheckpoint()
    val rddIds = first.queryExecution.analyzed
      .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    val bytes = sc.getRDDStorageInfo.filter(i => rddIds(i.id))
      .map(i => i.memSize + i.diskSize).sum
    val natural = first.rdd.getNumPartitions
    val target = math.max(1L, math.min(sc.defaultParallelism.toLong,
      (bytes + MemoPartitionBytes - 1) / MemoPartitionBytes)).toInt
    if (natural == target) first
    else {
      val fitted = first.repartition(target).localCheckpoint()
      release(first)
      fitted
    }
  }

  /** Release a `sized`/localCheckpoint'ed DataFrame's blocks eagerly —
    * the public unpersist for NON-memo callers that use [[sized]] for a
    * query-scoped materialization (e.g. the BPE learner's vocab) and
    * must free it before the query returns rather than leaving it to
    * the harness-boundary sweep. */
  def releaseNow(df: DataFrame): Unit = release(df)

  private final case class Key(appId: String, family: String, k: String)
  private val memos = new ConcurrentHashMap[Key, DataFrame]()
  private val hooked = ConcurrentHashMap.newKeySet[String]()

  /** Free the executor block storage behind a discarded entry. A
    * build-once DataFrame is an eager `localCheckpoint`, whose analyzed
    * plan is exactly one [[LogicalRDD]] leaf over the persisted RDD —
    * unpersisting those leaves releases the blocks immediately instead
    * of at application end. Best-effort: a stopped SparkContext (app-end
    * eviction) has nothing left to free and must not throw. */
  private def release(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }

  /** Memoized `build` per (application, family, key). The by-name build
    * is evaluated at most once per caller; concurrent racers resolve via
    * `putIfAbsent` (first writer wins; the value-identical loser's
    * checkpoint blocks are released, not leaked). */
  def get(spark: SparkSession, family: String, k: String)
      (build: => DataFrame): DataFrame = {
    val appId = spark.sparkContext.applicationId
    val full = Key(appId, family, k)
    val hit = memos.get(full)
    if (hit != null) return hit
    val built = build // outside the map lock — this runs Spark jobs
    val prev = memos.putIfAbsent(full, built)
    if (hooked.add(appId)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          removeMatching(_.appId == appId)
          hooked.remove(appId)
        }
      })
    }
    if (prev != null) { release(built); prev } else built
  }

  /** Remove-and-release every entry whose key matches `p`. */
  private def removeMatching(p: Key => Boolean): Unit = {
    val it = memos.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { release(e.getValue); it.remove() }
    }
  }

  /** Evict one family's entries (all applications), releasing their
    * checkpoint blocks — the bench's cold-start knob for timing a
    * declared build query honestly. Exact segment match on the
    * structured key: an sfDir that happens to CONTAIN another family's
    * name can never cross-evict it.
    *
    * HARNESS-BOUNDARY CONTRACT: releasing the blocks
    * behind a checkpoint-truncated plan makes any PREVIOUSLY RETURNED
    * memo instance fail with "checkpoint block not found" on
    * re-execution instead of recomputing — eager release trades the
    * block leak for that hard edge. clearFamily/clearAll may therefore
    * only be called at a quiescent point of a SINGLE-THREADED harness
    * (between bench repeats, between test suites), never while another
    * thread may still re-execute a memo DataFrame and never from
    * library code on the query path. [[enforceSingleThreaded]] asserts
    * the no-concurrent-clear half of that contract at runtime. */
  def clearFamily(family: String): Unit = enforceSingleThreaded {
    removeMatching(_.family == family)
  }

  /** Evict everything (test isolation), releasing all blocks. Same
    * harness-boundary contract as [[clearFamily]]. */
  def clearAll(): Unit = enforceSingleThreaded {
    removeMatching(_ => true)
  }

  /** RDD ids backing the live memo DataFrames — the blocks a
    * harness-boundary sweep must NOT release. */
  private def memoRddIds: Set[Int] = {
    val out = scala.collection.mutable.Set.empty[Int]
    memos.values().forEach { df =>
      try df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
        .foreach(out.add)
      catch { case _: Throwable => () }
    }
    out.toSet
  }

  /** HARNESS-BOUNDARY block sweep: unpersist every
    * persistent RDD in the context EXCEPT those backing live BuildOnce
    * memos. The per-invocation lazy `localCheckpoint`s on the query
    * paths (capHotKeys, winnow truth sides, iterative loop lineage
    * truncation, …) otherwise pin executor block storage until the
    * ContextCleaner happens to GC them — the measured mechanism behind
    * the 282-query ALL-mode inflation (BENCHNOTES.md: late-alphabet
    * heavy queries ran ~1.35–2× their clean-JVM time under accumulated
    * block pressure). One sweep per completed query keeps the session
    * at steady-state block occupancy.
    *
    * Same contract class as [[clearFamily]]: callers must be at a
    * QUIESCENT single-threaded harness point (after a query's action
    * completed, before the next query's plan is built) — a released
    * materialized checkpoint fails re-execution rather than
    * recomputing. Bench/Verify call it between queries; library code
    * on the query path never may. */
  def releaseScoped(spark: SparkSession, blocking: Boolean = false): Unit = {
    val keep = memoRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id))
        try rdd.unpersist(blocking = blocking) catch { case _: Throwable => () }
    }
  }

  /** Runtime tripwire for the clear-path contract: two clears racing
    * each other is definitive proof the caller is NOT the quiescent
    * single-threaded harness the scaladoc demands, so fail loudly
    * instead of letting the release race surface later as an opaque
    * "checkpoint block not found" inside some consumer's job. (The
    * full contract — no concurrent CONSUMERS either — is not cheaply
    * checkable here; this catches the detectable half.) */
  private val clearing = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def enforceSingleThreaded(body: => Unit): Unit = {
    if (!clearing.compareAndSet(false, true))
      throw new IllegalStateException(
        "BuildOnce.clearFamily/clearAll raced another clear: these are " +
          "single-threaded harness-boundary calls (see scaladoc)")
    try body finally clearing.set(false)
  }
}
