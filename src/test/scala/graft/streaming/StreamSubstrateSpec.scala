package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IngestDemo
import graft.streaming.Messages._

/** Streaming substrate: watermarked event-time windows, cross-batch
  * stateful dedup, and sustained-throughput parity with the reference's
  * stress envelope (BASELINE.md: 1 msg/s for 300 s, ≤60 s per-record).
  */
class StreamSubstrateSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("watermarked tumbling window aggregates event time (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamSources.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"),
      watermark = "5 minutes", window_ = "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()

    def ts(s: String) = Timestamp.valueOf(s)
    input.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:45:00"), "click", 2.0),
      (ts("2024-01-01 10:50:00"), "view", 3.0))
    q.processAllAvailable()
    // advance event time past the watermark so the 10:00 window closes
    input.addData((ts("2024-01-01 12:30:00"), "click", 1.0))
    q.processAllAvailable()
    val rows = spark.sql("select * from win_out").collect()
    q.stop()
    val clicks = rows.find(r => r.getAs[String]("event_type") == "click")
    assert(clicks.isDefined && clicks.get.getAs[Long]("n") == 2)
    assert(clicks.get.getAs[Double]("total_value") == 3.0)
  }

  test("watermarked SESSION windows merge by gap and close past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = StreamSources.sessionWindows(
      input.toDF().toDF("ts", "user_id"), gap = "30 minutes", watermark = "5 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()

    def ts(s: String) = Timestamp.valueOf(s)
    input.addData(
      (ts("2024-01-01 10:00:00"), 1L), // session A…
      (ts("2024-01-01 10:20:00"), 1L), // …merges (gap 20m < 30m)
      (ts("2024-01-01 11:30:00"), 1L), // new session (gap 70m)
      (ts("2024-01-01 10:00:00"), 2L))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 14:00:00"), 99L)) // advance watermark
    q.processAllAvailable()
    val rows = spark.sql("select * from sess_out").collect()
    q.stop()
    val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      .map(r => (r.getAs[Timestamp]("session_start").toString,
        r.getAs[Long]("n_events"))).sortBy(_._1)
    assert(u1.toSeq == Seq(("2024-01-01 10:00:00.0", 2L), ("2024-01-01 11:30:00.0", 1L)))
    assert(rows.count(_.getAs[Long]("user_id") == 2L) == 1)
  }

  test("stream-stream interval join matches the batch inequality join") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val errIn = MemoryStream[(Timestamp, Long, Double)]
    val clkIn = MemoryStream[(Timestamp, Long, Double)]
    val joined = StreamSources.intervalJoinStreams(
      errIn.toDF().toDF("ts", "user_id", "err_value"),
      clkIn.toDF().toDF("r_ts", "r_user_id", "click_value"),
      lookback = "10 minutes", watermark = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()

    val errs = Seq(
      (ts("2024-01-01 10:10:00"), 1L, 1.0),
      (ts("2024-01-01 10:10:00"), 2L, 3.0),
      (ts("2024-01-01 10:30:00"), 1L, 2.0))
    val clks = Seq(
      (ts("2024-01-01 10:01:00"), 1L, 10.0), // within 10m of u1 err 10:10
      (ts("2024-01-01 10:05:00"), 2L, 40.0), // within 10m of u2 err 10:10
      (ts("2024-01-01 09:30:00"), 1L, 30.0), // too old for both
      (ts("2024-01-01 10:25:00"), 1L, 20.0), // within 10m of u1 err 10:30
      (ts("2024-01-01 10:12:00"), 2L, 50.0)) // AFTER the u2 error: out
    // roughly-ordered delivery split across micro-batches (the u2 error
    // arrives a batch after its matching click — cross-batch buffering),
    // then disjoint users advance both watermarks to flush
    errIn.addData(errs.take(1)); clkIn.addData(clks.take(3))
    q.processAllAvailable()
    errIn.addData(errs.drop(1)); clkIn.addData(clks.drop(3))
    q.processAllAvailable()
    errIn.addData((ts("2024-01-01 12:00:00"), 98L, 0.0))
    clkIn.addData((ts("2024-01-01 12:00:00"), 99L, 0.0))
    q.processAllAvailable()
    val streamed = spark.sql("select user_id, err_value, click_value from ssj_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    q.stop()
    // batch twin: plain inequality join over the same rows
    val be = errs.toDF("ts", "user_id", "err_value")
    val bc = clks.toDF("r_ts", "r_user_id", "click_value")
    val batch = be.join(bc, col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("ts") - expr("INTERVAL 10 minutes") &&
        col("r_ts") <= col("ts"))
      .select("user_id", "err_value", "click_value")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(batch == Set((1L, 1.0, 10.0), (1L, 2.0, 20.0), (2L, 3.0, 40.0)))
  }

  test("dropDuplicatesWithinWatermark: in-window replays drop, state evicts past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Timestamp, String, String)]
    val out = StreamSources.dedupWithinWatermark(
      input.toDF().toDF("ts", "job_id", "payload"),
      eventTimeCol = "ts", delay = "10 minutes", keys = Seq("job_id"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("wm_dedup_out").start()

    // batch 1: original + same-batch replay + a second key
    input.addData(
      (ts("2024-01-01 10:00:00"), "job-1", "original"),
      (ts("2024-01-01 10:00:00"), "job-1", "same-batch replay"),
      (ts("2024-01-01 10:01:00"), "job-2", "other key"))
    q.processAllAvailable()
    // batch 2: cross-batch replay while job-1 is still inside the window
    input.addData((ts("2024-01-01 10:02:00"), "job-1", "cross-batch replay"))
    q.processAllAvailable()
    // batch 3: advance the watermark far past 10:00 + delay -> evicts state
    input.addData((ts("2024-01-01 11:00:00"), "job-3", "advance watermark"))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    // batch 4: a "replay" carrying an event time BEYOND the watermark is
    // admitted again (state was evicted; by event-time semantics this is
    // a new event — the documented bounded-state trade)
    input.addData((ts("2024-01-01 11:05:00"), "job-1", "post-eviction"))
    q.processAllAvailable()
    val rows = spark.sql("select job_id, payload from wm_dedup_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(rows == Set(
      ("job-1", "original"), ("job-2", "other key"),
      ("job-3", "advance watermark"), ("job-1", "post-eviction")),
      s"got $rows")
    // bounded store: job-1/job-2 evicted once the watermark passed them
    assert(stateRows <= 2, s"state not evicted: $stateRows rows retained")
  }

  test("TTL'd dedup state: first passes + arms TTL, replay drops, timeout evicts") {
    import org.apache.spark.sql.streaming.TestGroupState
    // first occurrence: passes, state armed with the TTL
    val fresh = TestGroupState.create[Boolean](
      optionalState = org.apache.spark.api.java.Optional.empty[Boolean](), timeoutConf = org.apache.spark.sql.streaming
        .GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out = StreamSources.dedupTtlUpdate(
      Iterator(("job-1", "payload")), fresh, ttlMs = 60000L)
    assert(out.contains("payload"))
    assert(fresh.get && fresh.getTimeoutTimestampMs.isPresent)
    assert(fresh.getTimeoutTimestampMs.get() == 61000L) // now + ttl

    // replay inside the TTL: dropped
    val seen = TestGroupState.create[Boolean](
      optionalState = org.apache.spark.api.java.Optional.of(true), timeoutConf = org.apache.spark.sql.streaming
        .GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 2000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    assert(StreamSources.dedupTtlUpdate(
      Iterator(("job-1", "replay")), seen, 60000L).isEmpty)

    // TTL expiry: state evicted (bounded store), nothing emitted
    val expired = TestGroupState.create[Boolean](
      optionalState = org.apache.spark.api.java.Optional.of(true), timeoutConf = org.apache.spark.sql.streaming
        .GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 100000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    assert(StreamSources.dedupTtlUpdate(
      Iterator.empty[(String, String)], expired, 60000L).isEmpty)
    assert(expired.isRemoved)
  }

  test("transformWithState dedup: replay drops ACROSS query restarts (RocksDB)") {
    // TimeMode.None so drain-and-stop runs terminate (see the operator
    // scaladoc: with a TTL, ProcessingTime mode schedules a follow-up
    // batch after every batch and never idles). Two AvailableNow runs
    // over one checkpoint prove the stronger property — the RocksDB
    // keyed state SURVIVES a query restart.
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("tws_ckpt").toString
    try {
      val input = MemoryStream[(String, String)]
      val out = StreamSources.statefulDedupTws(input.toDS())
      // foreachBatch, not the memory sink: only fault-tolerant sinks
      // may resume from a checkpoint, and restart-survival is the point
      val got = new ConcurrentLinkedQueue[String]()
      def runOnce(): Set[String] = {
        got.clear()
        val q = out.writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
            batch.collect().foreach(got.add)
          }.start()
        assert(q.awaitTermination(120000), "AvailableNow run must terminate")
        scala.jdk.CollectionConverters.CollectionHasAsScala(got).asScala.toSet
      }
      input.addData(("job-1", "payload-1"), ("job-2", "payload-2"))
      assert(runOnce() == Set("payload-1", "payload-2"))
      input.addData(("job-1", "replay"), ("job-3", "payload-3"))
      assert(runOnce() == Set("payload-3")) // replay dropped
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming KMV: cross-batch fold == single-pass batch sketch") {
    import org.apache.spark.sql.streaming.TestGroupState
    val batch1 = Seq(900L, 100L, 500L, 100L)
    val batch2 = Seq(50L, 700L, 200L, 500L)
    val k = 4
    // single-pass reference over the union
    val ref = new graft.plans.KmvBuffer(k)
    (batch1 ++ batch2).foreach(ref.add)
    // two micro-batches through the state-update function
    val s1 = TestGroupState.create[Array[Long]](
      optionalState = org.apache.spark.api.java.Optional.empty[Array[Long]](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    StreamSources.kmvUpdate("t", k, batch1.iterator, s1)
    val s2 = TestGroupState.create[Array[Long]](
      optionalState = org.apache.spark.api.java.Optional.of(s1.get),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 2000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val (_, kUsed, kthMin, est) = StreamSources.kmvUpdate("t", k, batch2.iterator, s2)
    assert(s2.get.toSeq == ref.toArray.toSeq) // {50,100,200,500}
    assert(kUsed == 4 && kthMin == 500L)
    assert(est == graft.plans.KmvBuffer.estimate(k, ref.toArray))
  }

  test("streaming KMV end-to-end: estimate refreshes across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sketched = StreamSources.streamingKmv(input.toDS(), k = 2)
    val q = sketched.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("kmv_out").start()
    input.addData(("a", 30L), ("a", 10L), ("b", 5L))
    q.processAllAvailable()
    input.addData(("a", 20L), ("a", 10L))
    q.processAllAvailable()
    val rows = spark.sql("select * from kmv_out").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    q.stop()
    // final state for key a = two smallest distinct of {30,10,20,10}
    val aFinal = rows.filter(_._1 == "a").maxBy(r => -r._3) // smallest kth = latest
    assert(aFinal == (("a", 2, 20L, graft.plans.KmvBuffer.estimate(2, Array(10L, 20L)))))
    assert(rows.contains(("b", 1, 5L, 1.0))) // not full → exact
  }

  test("windowed CMS: stream sketch equals batch arithmetic, state bounded by d*w") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val cms = StreamSources.windowedCms(
      input.toDF().toDF("ts", "key"),
      watermark = "5 minutes", window_ = "1 hour", depth = 4, width = 64)
    val q = cms.writeStream.outputMode("append")
      .format("memory").queryName("cms_out").start()

    def ts(s: String) = Timestamp.valueOf(s)
    // one hot key (5 hits) + cold keys inside the 10:00 window
    val keys = Seq.fill(5)("hot") ++ (1 to 7).map(i => s"cold$i")
    input.addData(keys.map(k => (ts("2024-01-01 10:07:00"), k)): _*)
    q.processAllAvailable()
    input.addData((ts("2024-01-01 12:30:00"), "later")) // close the window
    q.processAllAvailable()
    val rows = spark.sql("select * from cms_out").collect()
      .map(r => ((r.getAs[Int]("d"), r.getAs[Long]("c")), r.getAs[Long]("n"))).toMap
    q.stop()

    // the finalized matrix is bounded by d*w whatever streamed through
    assert(rows.nonEmpty && rows.size <= 4 * 64)
    // estimate(hot) via the same portable cells, computed in batch
    def cells(k: String): Seq[(Int, Long)] = {
      val df = (0 until 4).toDF("d").select(col("d"),
        pmod(graft.functions.PortableHash.md5Hash48(
          concat(col("d").cast("string"), lit(":"), lit(k))), lit(64L)).as("c"))
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    }
    val estHot = cells("hot").map(dc => rows.getOrElse(dc, 0L)).min
    assert(estHot >= 5L, s"CMS must never undercount the hot key: $estHot")
    assert(estHot <= 12L, "estimate cannot exceed the window's row count")
    val estCold = cells("cold1").map(dc => rows.getOrElse(dc, 0L)).min
    assert(estCold >= 1L)
  }

  test("windowed PSI: stream gate equals an independent integer recount") {
    implicit val sqlCtx = spark.sqlContext
    // independent reimplementation of the portable integer PSI
    def plog2Micro(x: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
      e * 1000000L + ((x - (1L << e)) * 1000000L) / (1L << e)
    }
    def psiOf(curr: Seq[Long], base: Seq[Long]): Long = {
      val nC = curr.sum; val nB = base.sum
      curr.zip(base).map { case (c, b) =>
        val pm = (c + 1) * 1000000L / (nC + 10)
        val qm = (b + 1) * 1000000L / (nB + 10)
        val x = math.max(
          (c + 1) * (nB + 10) * 1048576L / ((b + 1) * (nC + 10)), 1L)
        (pm - qm) * (plog2Micro(x) - 20000000L) / 1000000L
      }.sum
    }

    // calibration: "shift" type historically lived in bins 0-1,
    // "stable" spread over bins 0-4 (vmin=0, vmax=100 → bin = value/10)
    val baseline = Seq(
      ("shift", 0L, 20L), ("shift", 1L, 20L),
      ("stable", 0L, 8L), ("stable", 1L, 8L), ("stable", 2L, 8L),
      ("stable", 3L, 8L), ("stable", 4L, 8L))
      .toDF("event_type", "bin", "c_base")
    val input = MemoryStream[(Timestamp, String, Double)]
    val psi = StreamSources.windowedPsi(
      input.toDF().toDF("ts", "event_type", "value"), baseline,
      vmin = 0.0, vmax = 100.0, watermark = "5 minutes", window_ = "1 hour")
    val q = psi.writeStream.outputMode("append")
      .format("memory").queryName("psi_out").start()
    def ts(s: String) = Timestamp.valueOf(s)
    // window 10:00-11:00: "shift" now lands in bins 8-9, "stable" stays
    val shifted = (0 until 20).map(i => (ts("2024-01-01 10:05:00"), "shift", 85.0 + (i % 2) * 10))
    val stable = (0 until 20).map(i => (ts("2024-01-01 10:06:00"), "stable", (i % 5) * 10.0 + 5))
    input.addData(shifted ++ stable: _*)
    q.processAllAvailable()
    input.addData((ts("2024-01-01 12:30:00"), "late", 1.0)) // close the window
    q.processAllAvailable()
    val rows = spark.sql("select * from psi_out").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_curr"), r.getAs[Long]("n_base"), r.getAs[Long]("psi_micro"))).toMap
    q.stop()

    val shiftCurr = Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 10L, 10L)
    val shiftBase = Seq(20L, 20L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    val stableCurr = Seq(4L, 4L, 4L, 4L, 4L, 0L, 0L, 0L, 0L, 0L)
    val stableBase = Seq(8L, 8L, 8L, 8L, 8L, 0L, 0L, 0L, 0L, 0L)
    assert(rows("shift") == ((20L, 40L, psiOf(shiftCurr, shiftBase))))
    assert(rows("stable") == ((20L, 40L, psiOf(stableCurr, stableBase))))
    // and the gate actually separates: shifted type far above stable
    assert(rows("shift")._3 > 10 * math.max(1L, math.abs(rows("stable")._3)))
  }

  test("streaming OHLC bars equal the batch bars once windows finalize") {
    implicit val sqlCtx = spark.sqlContext
    val sfDir = graft.TestSpark.sfDir
    // replay the real events through a MemoryStream in 3 ts-ordered
    // chunks + a far-future terminator to close every window
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1.getTime)
    val input = MemoryStream[(Timestamp, String, Long, Double)]
    val q = StreamSources.ohlcStream(
        input.toDF().toDF("ts", "event_type", "event_id", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ohlc_out").start()
    ev.grouped(math.max(1, ev.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    input.addData((new Timestamp(ev.last._1.getTime + 86400000L), "zz", -1L, 0.0))
    q.processAllAvailable()
    val got = spark.sql("select * from ohlc_out").collect()
      .filter(_.getString(1) != "zz")
      .map { r =>
        (r.getTimestamp(0).getTime / 3600000L, r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      }.toMap
    q.stop()
    val batch = graft.operators.Relational.eventsOhlcHourly(spark, sfDir)
      .collect().map { r =>
        // batch hr is epoch-µs DIV 3600000000 = the same hour index
        (r.getAs[Long]("hr"), r.getAs[String]("event_type")) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("open_cents"),
            r.getAs[Long]("high_cents"), r.getAs[Long]("low_cents"),
            r.getAs[Long]("close_cents")))
      }.toMap
    assert(got == batch,
      s"finalized streaming bars must equal the batch bars (${got.size} vs ${batch.size})")
  }

  test("mapGroupsWithState dedups keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val deduped = StreamSources.statefulDedup(input.toDS())
    val q = deduped.filter(_.isDefined).map(_.get)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("dedup_out").start()

    input.addData(("job-1", "a"), ("job-2", "b"))
    q.processAllAvailable()
    input.addData(("job-1", "a-replay"), ("job-3", "c")) // job-1 replayed
    q.processAllAvailable()
    val got = spark.sql("select * from dedup_out").collect().map(_.getString(0)).sorted
    q.stop()
    assert(got.toSeq == Seq("a", "b", "c")) // replay dropped
  }

  test("throughput: 300 wrdn messages end-to-end well above 1 msg/s") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val results = new ConcurrentLinkedQueue[Row]()
    val cfg = IngestStream.Config(
      schemas = Seq(IngestDemo.schema),
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    val query = IngestStream.ingestQuery(
      input.toDF(), cfg, (batch, _) => batch.collect().foreach(results.add))

    val t0 = System.nanoTime()
    val msgs = (1 to 300).map(i => MessageCodec.encodeWrdn(
      WritingFinished("svc", s"job-$i", error_encountered = false,
        s"/data/a/run$i.nxs", "{}", "done")))
    msgs.grouped(100).foreach(batch => input.addData(batch))
    query.processAllAvailable()
    query.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(results.size == 300, s"got ${results.size}")
    val rate = 300 / secs
    info(f"ingested 300 msgs in $secs%.1f s → $rate%.0f msg/s")
    assert(rate > 1.0, f"below the reference envelope: $rate%.2f msg/s")
  }
}

class CheckpointRecoverySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("restart from checkpoint resumes offsets — no reprocessing (§2.7)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[Array[Byte]]
    val results = new ConcurrentLinkedQueue[String]()
    val cfg = IngestStream.Config(
      schemas = Seq(IngestDemo.schema),
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      batch.select("runNumber").collect().foreach(r => results.add(r.getString(0)))

    def wrdn(i: Int) = MessageCodec.encodeWrdn(WritingFinished(
      "svc", s"j$i", error_encountered = false, s"/data/a/r$i.nxs", "{}", "ok"))

    val q1 = IngestStream.ingestQuery(input.toDF(), cfg, sink, Some(ckpt))
    input.addData(wrdn(1), wrdn(2), wrdn(3))
    q1.processAllAvailable()
    q1.stop()
    assert(results.size == 3)

    // restart against the same checkpoint: only NEW offsets process
    input.addData(wrdn(4), wrdn(5))
    val q2 = IngestStream.ingestQuery(input.toDF(), cfg, sink, Some(ckpt))
    q2.processAllAvailable()
    q2.stop()
    assert(results.size == 5, s"expected no reprocessing, got ${results.size}")
  }
}
