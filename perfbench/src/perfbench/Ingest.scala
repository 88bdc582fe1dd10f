package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.IngestorConfig
import graft.schema.ConfigValue
import graft.schema.ConfigValue._
import graft.sources.Hdf5Reader
import graft.streaming.{IngestStream, MessageCodec, Messages, OnlineIngestor, Sinks, StressHarness}

import NexusGen.{Expect, FileSpec}

/** The two ingest workloads. Both drive the production streaming path:
  * `IngestStream.ingestQuery` over the `StressHarness.fileBus` file bus,
  * the stream config from `OnlineIngestor.buildStreamConfig` (default
  * HDF5 file reader) and `Sinks.restDatasetSink` into an
  * `HttpScicatCatalog` pointed at [[SciCatStub]].
  */
object Ingest {

  /** Open-loop rate of `ingest_paced`, messages/s: half the rate
    * (48 msg/s) at which a warmed stream drains the same small-file
    * messages in a closed loop (`--rate 0`) on a 4-vCPU host; see
    * perfbench/NOTES.md. */
  val PacedRate = 24.0
  /** Backlog of `ingest_bulk` per measured second: about the drain rate
    * of the bulk-file path on a 4-core host, so a run measures about
    * `--seconds`. */
  val BulkPerSecond = 4
  /** Seconds of paced traffic the kept stream ingests before the window.
    * A stream's batches keep getting faster for its first ~20 s of paced
    * traffic while the JIT compiles the driver's per-batch path; measured
    * earlier, the p50 depends on how far a run got along that curve. */
  val PacedWarmSeconds = 15
  val MaxFilesPerTrigger = 64
  val SetupRepeats = 3
  val DrainTimeoutS = 90.0
  val SampleChecks = 16

  // --- inputs ----------------------------------------------------------

  /** Run `f` over `items` on `threads` threads, in order. */
  private def par[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    try items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) })).map(_.get())
    finally { pool.shutdownNow(); pool.awaitTermination(60, TimeUnit.SECONDS) }
  }

  /** Write the file and read it back through the program's reader; any
    * difference aborts the run before timing starts. */
  private def materialize(spec: FileSpec): Expect = {
    val p = java.nio.file.Paths.get(spec.name)
    Files.createDirectories(p.getParent)
    Files.write(p, Hdf5Writer.write(spec.tree))
    val back = Hdf5Reader.read(spec.name)
    if (back != Hdf5Writer.toNexusRoot(spec.tree))
      throw new IllegalStateException(s"HDF5 read-back differs from the generated tree: ${spec.name}")
    spec.expect
  }

  private def writeConfig(work: Path, schemas: Seq[(String, String)], metadataDedup: Boolean): Path = {
    val dir = work.resolve("schemas")
    Files.createDirectories(dir)
    schemas.foreach { case (name, yaml) => Files.writeString(dir.resolve(s"$name.imsc.yml"), yaml) }
    val cfg = work.resolve("ingestor.yml")
    Files.writeString(cfg,
      s"""ingestion:
         |  schemas_directory: "$dir"
         |  check_if_dataset_exists_by_pid: true
         |  check_if_dataset_exists_by_metadata: $metadataDedup
         |  check_if_dataset_exists_by_metadata_key: job_id
         |  file_handling:
         |    ingestor_files_directory: "${work.resolve("ingestor")}"
         |scicat:
         |  host: "http://localhost:1/api/v3/"
         |  token: "bench-token"
         |  timeout: 30
         |""".stripMargin)
    cfg
  }

  private final class Bus(work: Path, tag: String) {
    val dir: Path = Files.createDirectories(work.resolve(s"bus-$tag"))
    val stage: Path = Files.createDirectories(work.resolve(s"stage-$tag"))
    private var n = 0
    /** Stage a message; returns its staged path. */
    def stageMessage(payload: Array[Byte]): Path = {
      val p = stage.resolve(f"msg-$n%06d.bin")
      n += 1
      Files.write(p, payload)
      p
    }
    def release(staged: Path): Unit =
      Files.move(staged, dir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  private def wrdn(path: String, job: String, error: Boolean = false): Array[Byte] =
    MessageCodec.encodeWrdnFb(Messages.WritingFinished(
      "filewriter", job, error_encountered = error, path, "{}", if (error) "failed" else "done"))

  // --- one stream set-up ---------------------------------------------------

  private final class Stream(
      val stub: SciCatStub, val query: StreamingQuery, val bus: Bus, val checkpoint: Path) {

    /** Bus files in committed micro-batches and the last such batch id,
      * read from the checkpoint: the file source logs every batch's files
      * under sources/0 (deltas and periodic .compact files) and
      * commits/<id> marks a finished batch. Progress reports cannot give
      * this: their input-row counts grow with every re-scan of the source
      * inside a batch. */
    def committed(): (Long, Long) = {
      def names(d: Path): Seq[String] =
        if (!Files.isDirectory(d)) Nil
        else Files.list(d).iterator().asScala.map(_.getFileName.toString)
          .filterNot(n => n.startsWith(".") || n.endsWith(".tmp")).toSeq
      val done = names(checkpoint.resolve("commits")).filter(_.forall(_.isDigit)).map(_.toLong).toSet
      val src = checkpoint.resolve("sources").resolve("0")
      val entries = names(src).flatMap { n =>
        try Files.readAllLines(src.resolve(n)).asScala.drop(1).flatMap { line =>
          for (p <- SourcePath.findFirstMatchIn(line); b <- SourceBatch.findFirstMatchIn(line))
            yield p.group(1) -> b.group(1).toLong
        } catch { case _: java.io.IOException => Nil }
      }.toMap
      val files = entries.values.filter(done)
      (files.size.toLong, if (files.isEmpty) -1L else files.max)
    }
  }
  private val SourcePath = "\"path\":\"([^\"]*)\"".r
  private val SourceBatch = "\"batchId\":(\\d+)".r

  private def startStream(spark: SparkSession, o: Main.Opts, cfgPath: Path, tag: String,
      knownPids: Set[String], knownJobs: Set[String]): Stream = {
    val stub = new SciCatStub(knownPids, knownJobs)
    val cfg = IngestorConfig.loadFile(cfgPath.toString, Seq("--scicat.host", stub.baseUrl))
    val base = OnlineIngestor.buildStreamConfig(cfg)
    val streamCfg =
      if (!o.trace) base
      else base.copy(catalog = TracedCatalog(base.catalog), fileReader = new TracedReader(base.fileReader))
    val catalog = streamCfg.catalog
    val sink: (DataFrame, Long) => Unit =
      if (!o.trace) Sinks.restDatasetSink(catalog)
      else (batch, id) => {
        val t0 = System.nanoTime()
        try Sinks.restDatasetSink(catalog)(batch, id)
        finally {
          val t1 = System.nanoTime()
          TraceState.sinkNs.addAndGet(t1 - t0)
          TraceState.record("sink", id.toString, t0, t1, s"batch:$id")
        }
      }
    val bus = new Bus(o.work, tag)
    val ckpt = o.work.resolve(s"checkpoint-$tag")
    val query = IngestStream.ingestQuery(
      StressHarness.fileBus(spark, bus.dir.toString, MaxFilesPerTrigger),
      streamCfg, sink, checkpointDir = Some(ckpt.toString))
    new Stream(stub, query, bus, ckpt)
  }

  private def waitFor(timeoutS: Double, pollMs: Long = 2)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(pollMs)
    cond
  }

  /** [[SetupRepeats]] full stream set-ups (stub, config, stream start,
    * one warm-up message ingested end to end); all but the last are torn
    * down. Returns the kept stream and every set-up's seconds. */
  private def setUp(spark: SparkSession, o: Main.Opts, cfgPath: Path,
      knownPids: Set[String], knownJobs: Set[String], warmups: Seq[FileSpec]): (Stream, Seq[Double]) = {
    var kept: Stream = null
    val times = warmups.zipWithIndex.map { case (w, k) =>
      val t0 = System.nanoTime()
      val s = startStream(spark, o, cfgPath, s"s$k", knownPids, knownJobs)
      s.bus.release(s.bus.stageMessage(wrdn(w.name, w.expect.jobId)))
      if (!waitFor(DrainTimeoutS)(s.stub.posts.containsKey(w.expect.pid)) ||
          !waitFor(DrainTimeoutS, pollMs = 5)(s.committed()._1 >= 1))
        throw new IllegalStateException(s"warm-up message $k never reached the catalog")
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < warmups.size - 1) stop(s) else kept = s
      dt
    }
    Main.log(s"set-ups done: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    (kept, times)
  }

  private def stop(s: Stream): Unit = {
    try s.query.stop() catch { case _: Exception => () }
    s.stub.stop()
  }

  /** Arrival of the progress report of the last committed batch. */
  private def doneAt(p: ProgressListener, s: Stream): Option[Long] = {
    val last = s.committed()._2
    waitFor(5.0, pollMs = 5)(p.reports.asScala.exists(r => r.runId == s.query.runId && r.batchId == last))
    p.reports.asScala.find(r => r.runId == s.query.runId && r.batchId == last).map(_.arrivalNs)
  }

  // --- output checks ---------------------------------------------------------

  private def field(m: CMap, path: String*): Option[ConfigValue] =
    path.foldLeft(Option[ConfigValue](m)) {
      case (Some(c: CMap), k) => c.get(k)
      case _ => None
    }

  private def str(m: CMap, path: String*): String = field(m, path: _*) match {
    case Some(CStr(s)) => s
    case Some(other) => other.toString
    case None => "<absent>"
  }

  /** Differences between a POSTed dataset document and the prediction. */
  def checkDocument(doc: String, e: Expect, bulk: Boolean): Seq[String] = {
    val m = ConfigValue.fromJson(doc) match {
      case c: CMap => c
      case other => return Seq(s"${e.pid}: document is not an object")
    }
    val out = mutable.Buffer.empty[String]
    def same(what: String, got: String, want: String): Unit =
      if (got != want) out += s"${e.pid}: $what '$got' != '$want'"
    same("runNumber", str(m, "runNumber"), e.runNumber)
    same("datasetName", str(m, "datasetName"), e.datasetName)
    same("team", str(m, "scientificMetadata", "acquisition_team_members", "value"), e.team)
    same("temperature unit", str(m, "scientificMetadata", "sample_temperature", "unit"), "K")
    if (bulk) {
      same("instrumentId", str(m, "instrumentId"), "instrument-" + e.instrument.toLowerCase)
      same("log unit", str(m, "scientificMetadata", "log_total", "unit"), e.sumUnit)
      val got = str(m, "scientificMetadata", "log_total", "value")
      val ok = scala.util.Try(got.toDouble).toOption
        .exists(v => math.abs(v - e.sumValue) <= 1e-9 * math.max(1.0, math.abs(e.sumValue)))
      if (!ok) out += s"${e.pid}: log_total '$got' != ${e.sumValue}"
    }
    out.toSeq
  }

  /** Exactly-once and filter checks over every timed message, plus the
    * seeded document sample. Returns (failed outcomes, check messages). */
  private def checkOutcomes(stub: SciCatStub, seed: Long, expected: Seq[Expect],
      forbidden: Set[String], warm: Set[String], bulk: Boolean): (Long, Seq[String]) = {
    val notes = mutable.Buffer.empty[String]
    val posted = stub.posts.keySet().asScala.toSet
    val missing = expected.filterNot(e => posted(e.pid))
    val wrong = posted -- expected.map(_.pid) -- warm
    val forbiddenPosted = wrong.intersect(forbidden)
    if (missing.nonEmpty) notes += s"${missing.size} expected datasets never POSTed"
    if (forbiddenPosted.nonEmpty) notes += s"${forbiddenPosted.size} filtered/replayed messages POSTed"
    if ((wrong -- forbidden).nonEmpty) notes += s"${(wrong -- forbidden).size} unknown pids POSTed"
    if (stub.duplicatePosts.get > 0) notes += s"${stub.duplicatePosts.get} duplicate dataset POSTs"
    val missingBlocks = stub.posts.size - stub.datablockPosts.get
    if (missingBlocks != 0) notes += s"$missingBlocks datasets without exactly one origdatablock POST"
    if (stub.badRequests.get > 0) notes += s"${stub.badRequests.get} malformed requests"
    val landed = expected.filter(e => posted(e.pid))
    val sample = new scala.util.Random(seed).shuffle(landed.sortBy(_.pid)).take(SampleChecks)
    val docFailures = sample.map(e => checkDocument(stub.posts.get(e.pid)._2, e, bulk))
    notes ++= docFailures.flatten.take(5)
    val badDocs = docFailures.count(_.nonEmpty)
    val failed = missing.size + wrong.size + stub.duplicatePosts.get + math.abs(missingBlocks) + badDocs
    (failed, notes.toSeq)
  }

  // --- workloads -------------------------------------------------------------

  /** Open loop at `o.rate` ([[PacedRate]] unless set): small files, one
    * schema, every pid new, ~10 % pl72 and ~2 % errored wrdn messages that
    * must be filtered. Rate 0 releases all `--seconds` × [[PacedRate]]
    * messages at once: a closed drain that gives the saturation rate. */
  def paced(spark: SparkSession, o: Main.Opts, sl: Option[SparkMetricsListener]): Main.Outcome = {
    val g0 = System.nanoTime()
    val files = o.work.resolve("files").toString
    val total = math.max(1, (o.seconds * (if (o.rate > 0) o.rate else PacedRate)).round.toInt)
    val r = new java.util.Random(o.seed)
    // kind: 0 = wrdn, 1 = pl72, 2 = wrdn with error_encountered
    val kinds = Vector.fill(total) { val u = r.nextDouble(); if (u < 0.10) 1 else if (u < 0.12) 2 else 0 }
    val specs = (0 until total).map(i => NexusGen.smallFile(o.seed, i, files))
    val warmSpecs = (0 until SetupRepeats).map(k => NexusGen.smallFile(o.seed, 1000000 + k, files))
    val warmTraffic = (0 until (PacedWarmSeconds * PacedRate).round.toInt)
      .map(i => NexusGen.smallFile(o.seed, 2000000 + i, files))
    // pl72 files exist too, so a pl72 message that leaked through the type
    // filter would be POSTed and caught by the checks, not nulled by F11
    par(specs ++ warmSpecs ++ warmTraffic, o.cores)(materialize)
    val cfgPath = writeConfig(o.work, Seq("bench-small" -> NexusGen.smallSchema), metadataDedup = false)
    val payloads = specs.zip(kinds).map {
      case (s, 1) => MessageCodec.encodePl72Fb(Messages.RunStartInfo(s.expect.jobId, s.name, "ymir"))
      case (s, 2) => wrdn(s.name, s.expect.jobId, error = true)
      case (s, _) => wrdn(s.name, s.expect.jobId)
    }
    val inputGenS = (System.nanoTime() - g0) / 1e9
    Main.log(f"inputs written and verified in $inputGenS%.2f s")

    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val (stream, setupTimes) = setUp(spark, o, cfgPath, Set.empty, Set.empty, warmSpecs)
    try {
      /** Release `msgs` one every `step` ns from 50 ms on; returns each
        * message's scheduled send time and the largest lateness. */
      def send(msgs: IndexedSeq[Path], step: Long): (Array[Long], Long) = {
        val t0 = System.nanoTime() + 50000000L
        val sched = Array.tabulate(msgs.size)(i => t0 + i * step)
        var maxLag = 0L
        for (i <- msgs.indices) {
          val wait = sched(i) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          stream.bus.release(msgs(i))
          maxLag = math.max(maxLag, System.nanoTime() - sched(i))
        }
        (sched, maxLag)
      }
      val w0 = System.nanoTime()
      val warmCommitted = stream.committed()._1 + warmTraffic.size
      send(warmTraffic.map(s => stream.bus.stageMessage(wrdn(s.name, s.expect.jobId))),
        (1e9 / PacedRate).toLong)
      if (!waitFor(DrainTimeoutS)(warmTraffic.forall(s => stream.stub.posts.containsKey(s.expect.pid))) ||
          !waitFor(DrainTimeoutS, pollMs = 20)(stream.committed()._1 >= warmCommitted))
        throw new IllegalStateException("warm traffic never reached the catalog")
      doneAt(progress, stream) // the last warm batch's report lands before the window
      val warmPassS = (System.nanoTime() - w0) / 1e9
      Main.log(f"warm traffic done in $warmPassS%.2f s")

      val staged = payloads.map(stream.bus.stageMessage)
      val expected = specs.zip(kinds).collect { case (s, 0) => s.expect }
      val snap0 = Layers.snap(Some(progress), sl)
      val committed0 = stream.committed()._1
      val (sched, maxLag) = send(staged, if (o.rate > 0) (1e9 / o.rate).toLong else 0L)
      val t0 = sched(0)
      val produceEnd = System.nanoTime()
      def processed = stream.committed()._1 - committed0
      val backlogEnd = total - processed
      val drained = waitFor(DrainTimeoutS)(expected.forall(e => stream.stub.posts.containsKey(e.pid))) &&
        waitFor(DrainTimeoutS, pollMs = 20)(processed >= total)
      // the last batch's progress report must be in before the snapshot
      val lastReport = doneAt(progress, stream).getOrElse(produceEnd)
      val snap1 = Layers.snap(Some(progress), sl)
      Main.log("measured window closed")
      val lat = specs.indices.filter(kinds(_) == 0).map { i =>
        Option(stream.stub.posts.get(specs(i).expect.pid)).map(p => (p._1 - sched(i)) / 1e6)
          .getOrElse(DrainTimeoutS * 1000.0)
      }.toArray
      val lastPost = expected.flatMap(e => Option(stream.stub.posts.get(e.pid)).map(_._1)).maxOption.getOrElse(0L)
      val tEnd = math.max(lastPost, lastReport)
      val forbidden = specs.zip(kinds).collect { case (s, k) if k != 0 => s.expect.pid }.toSet
      val (failed, notes) = checkOutcomes(stream.stub, o.seed, expected, forbidden,
        (warmSpecs ++ warmTraffic).map(_.expect.pid).toSet, bulk = false)
      val layers =
        if (o.trace) Layers.between(snap0, snap1, o.cores, sl,
          messages = stream.committed()._1 - committed0, files = expected.size)
        else Map.empty[String, Double]
      if (o.trace) Layers.writeSpans(o.work.resolve("spans.jsonl"), sl, Some(progress))
      Main.Outcome(
        setupS = setupTimes,
        latenciesMs = lat,
        opsPerS = total / ((tEnd - t0) / 1e9),
        windowMs = (tEnd - t0) / 1e6,
        attempted = total,
        failed = failed + (if (drained) 0 else 1),
        checks = notes ++ (if (drained) Nil else Seq("stream did not drain")),
        extra = layers ++ Map(
          "bench.gen_lag_ms" -> maxLag / 1e6,
          "bench.backlog_end" -> backlogEnd.toDouble,
          "bench.input_gen_s" -> inputGenS,
          "bench.warm_pass_s" -> warmPassS),
        detail = Map("messages" -> total.toString, "wrdn_ok" -> expected.size.toString,
          "rate_per_s" -> o.rate.toString))
    } finally stop(stream)
  }

  /** Closed drain of a pre-staged backlog of ~280 KB files across three
    * schemas; a third of the messages replay pids the catalog already
    * holds (F6) and metadata-key dedup (F7) is on. */
  def bulk(spark: SparkSession, o: Main.Opts, sl: Option[SparkMetricsListener]): Main.Outcome = {
    val g0 = System.nanoTime()
    val files = o.work.resolve("files").toString
    val total = math.max(3, o.seconds * BulkPerSecond)
    val r = new java.util.Random(o.seed)
    val replay = Vector.fill(total)(r.nextDouble() < 1.0 / 3)
    val specs = (0 until total).map(i => NexusGen.bulkFile(o.seed, i, r.nextInt(3), files))
    // warm-up files take every code path of the timed ones at a fraction of the size
    val warmSpecs = (0 until SetupRepeats).map(k => NexusGen.bulkFile(o.seed, 1000000 + k, k % 3, files, n = 16))
    par(specs ++ warmSpecs, o.cores)(materialize)
    val cfgPath = writeConfig(o.work,
      NexusGen.BulkInstruments.indices.map(k => s"bench-$k" -> NexusGen.bulkSchema(k)),
      metadataDedup = true)
    val known = specs.zip(replay).collect { case (s, true) => s.expect }
    val inputGenS = (System.nanoTime() - g0) / 1e9
    Main.log(f"inputs written and verified in $inputGenS%.2f s")

    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val (stream, setupTimes) = setUp(spark, o, cfgPath, known.map(_.pid).toSet,
      known.map(_.jobId).toSet, warmSpecs)
    try {
      val staged = specs.map(s => stream.bus.stageMessage(wrdn(s.name, s.expect.jobId)))
      val expected = specs.zip(replay).collect { case (s, false) => s.expect }
      doneAt(progress, stream) // the warm-up batch's report lands before the window
      val snap0 = Layers.snap(Some(progress), sl)
      val committed0 = stream.committed()._1
      val t0 = System.nanoTime()
      staged.foreach(stream.bus.release)
      def processed = stream.committed()._1 - committed0
      val at = t0 + o.seconds * 1000000000L
      var backlogEnd = -1L
      val drained = waitFor(DrainTimeoutS, pollMs = 20) {
        val n = processed
        if (backlogEnd < 0 && System.nanoTime() >= at) backlogEnd = total - n
        n >= total && expected.forall(e => stream.stub.posts.containsKey(e.pid))
      }
      if (backlogEnd < 0) backlogEnd = 0
      val done = doneAt(progress, stream).getOrElse(System.nanoTime())
      val snap1 = Layers.snap(Some(progress), sl)
      Main.log("measured window closed")
      val lat = expected.map { e =>
        Option(stream.stub.posts.get(e.pid)).map(p => (p._1 - t0) / 1e6).getOrElse(DrainTimeoutS * 1000.0)
      }.toArray
      val lastPost = expected.flatMap(e => Option(stream.stub.posts.get(e.pid)).map(_._1)).maxOption.getOrElse(0L)
      val tEnd = math.max(done, lastPost)
      val (failed, notes) = checkOutcomes(stream.stub, o.seed, expected,
        known.map(_.pid).toSet, warmSpecs.map(_.expect.pid).toSet, bulk = true)
      val layers =
        if (o.trace) Layers.between(snap0, snap1, o.cores, sl,
          messages = stream.committed()._1 - committed0, files = total)
        else Map.empty[String, Double]
      if (o.trace) Layers.writeSpans(o.work.resolve("spans.jsonl"), sl, Some(progress))
      Main.Outcome(
        setupS = setupTimes,
        latenciesMs = lat,
        opsPerS = total / ((tEnd - t0) / 1e9),
        windowMs = (tEnd - t0) / 1e6,
        attempted = total,
        failed = failed + (if (drained) 0 else 1),
        checks = notes ++ (if (drained) Nil else Seq("stream did not drain")),
        extra = layers ++ Map(
          "bench.gen_lag_ms" -> 0.0,
          "bench.backlog_end" -> backlogEnd.toDouble,
          "bench.input_gen_s" -> inputGenS,
          "bench.warm_pass_s" -> 0.0),
        detail = Map("messages" -> total.toString, "new" -> expected.size.toString,
          "replays" -> known.size.toString))
    } finally stop(stream)
  }
}
