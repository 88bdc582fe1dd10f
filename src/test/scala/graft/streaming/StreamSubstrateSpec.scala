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

  test("streaming EWMA burst monitor equals the batch twin on replayed daily counts") {
    import org.apache.spark.sql.streaming.TestGroupState
    val sfDir = graft.TestSpark.sfDir
    // the batch twin's own input: per-(type, day) counts
    val daily = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = graft.operators.Relational.eventsEwmaAnomaly(spark, sfDir)
      .collect().map { r =>
        (r.getString(0), r.getAs[Long]("day"), r.getAs[Long]("n"),
          if (r.isNullAt(r.fieldIndex("ewma_milli"))) None
          else Some(r.getAs[Long]("ewma_milli")),
          r.getAs[Boolean]("is_burst"))
      }.toSet
    // replay each key's days through the state transition in 3 chunks
    // (cross-batch state carry), exactly as micro-batches would deliver
    val got = daily.groupBy(_._1).flatMap { case (_, rows) =>
      val ordered = rows.sortBy(_._2)
      var stateValue: Option[Array[Long]] = None
      ordered.grouped(math.max(1, ordered.length / 3 + 1)).flatMap { chunk =>
        val st = TestGroupState.create[Array[Long]](
          optionalState = stateValue.map(org.apache.spark.api.java.Optional.of[Array[Long]])
            .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          batchProcessingTimeMs = 1000L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        val out = StreamSources.ewmaUpdate("k", chunk.iterator, st).toVector
        stateValue = Some(st.get)
        assert(st.get.length <= 7, "ring must stay bounded at the horizon")
        out
      }
    }.toSet
    assert(got == expected, "streaming state transition must replay the batch query exactly")
  }

  test("streaming CUSUM monitor equals the batch twin on replayed daily counts") {
    import org.apache.spark.sql.streaming.TestGroupState
    val sfDir = graft.TestSpark.sfDir
    val calDays = 14
    val daily = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the batch twin scores every key, calibrating on whatever prefix
    // exists; the stream only emits keys whose series reached calDays
    val longKeys = daily.groupBy(_._1).filter(_._2.length >= calDays).keySet
    assert(longKeys.nonEmpty, "fixture too small: no key reaches calDays")
    val expected = graft.operators.Relational.eventsCusumShift(spark, sfDir, calDays)
      .collect().map { r =>
        (r.getString(0), r.getAs[Long]("day"), r.getAs[Long]("n"),
          r.getAs[Long]("mean_milli"), r.getAs[Long]("cusum_milli"),
          r.getAs[Boolean]("is_shift"))
      }.filter(t => longKeys.contains(t._1)).toSet
    // replay each key's days through the state transition in 4 chunks
    // (cross-batch state carry), exactly as micro-batches would deliver
    val got = daily.groupBy(_._1).flatMap { case (key, rows) =>
      val ordered = rows.sortBy(_._2)
      var stateValue: Option[Array[Long]] = None
      ordered.grouped(math.max(1, ordered.length / 4 + 1)).flatMap { chunk =>
        val st = TestGroupState.create[Array[Long]](
          optionalState = stateValue.map(org.apache.spark.api.java.Optional.of[Array[Long]])
            .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          batchProcessingTimeMs = 1000L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        val out = StreamSources.cusumUpdate(calDays)(key, chunk.iterator, st).toVector
        stateValue = Some(st.get)
        assert(st.get.length <= 4 + 2 * calDays,
          "state must stay bounded: 4 longs + the calibration buffer")
        out
      }
    }.toSet
    assert(got == expected,
      "streaming CUSUM must replay the batch query exactly for calibrated keys")
    // and a key that never reaches calDays emits nothing, state bounded
    val shortKey = daily.groupBy(_._1).find(_._2.length < calDays)
    for ((k, rows) <- shortKey) {
      val st = TestGroupState.create[Array[Long]](
        optionalState = org.apache.spark.api.java.Optional.empty[Array[Long]](),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
        batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = false)
      assert(StreamSources.cusumUpdate(calDays)(k, rows.sortBy(_._2).iterator, st).isEmpty)
    }
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

  test("streaming snaive skill monitor: last emission per key equals the batch MASE row") {
    import org.apache.spark.sql.streaming.TestGroupState
    val sfDir = graft.TestSpark.sfDir
    val daily = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = graft.operators.Relational.forecastSnaiveEval(spark, sfDir)
      .collect().map { r =>
        r.getString(0) -> ((r.getAs[Long]("n_days"),
          r.getAs[Long]("sum_abs_err_naive"),
          r.getAs[Long]("sum_abs_err_snaive"), r.getAs[Long]("mase_milli")))
      }.toMap
    // replay each key's days through the state transition in 3 chunks
    val lastPerKey = scala.collection.mutable.Map[String, (Long, Long, Long, Long)]()
    daily.groupBy(_._1).foreach { case (key, rows) =>
      val ordered = rows.sortBy(_._2)
      var stateValue: Option[Array[Long]] = None
      ordered.grouped(math.max(1, ordered.length / 3 + 1)).foreach { chunk =>
        val st = TestGroupState.create[Array[Long]](
          optionalState = stateValue.map(org.apache.spark.api.java.Optional.of[Array[Long]])
            .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          batchProcessingTimeMs = 1000L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        StreamSources.snaiveUpdate(key, chunk.iterator, st).foreach {
          case (et, _, nd, s1, s7, mase) => lastPerKey(et) = (nd, s1, s7, mase)
        }
        stateValue = Some(st.get)
        assert(st.get.length <= 3 + 2 * 7,
          "state must stay bounded: 3 running longs + a 7-day ring")
      }
    }
    assert(lastPerKey.toMap == expected,
      "cumulative streaming skill must land exactly on the batch aggregate")
  }

  test("streaming snaive end-to-end: scores only fully-lagged days across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamSources.snaiveSkillStream(input.toDS())
      .toDF("event_type", "day", "n_days", "s1", "s7", "mase_milli")
      .writeStream.outputMode("append")
      .format("memory").queryName("snaive_out").start()
    // days 1..7: nothing can score (no day has both lag-1 and lag-7)
    input.addData((1L to 7L).map(d => ("a", d, 100L)): _*)
    q.processAllAvailable()
    assert(spark.sql("select * from snaive_out").count() == 0,
      "no day scores before a full week of history")
    // day 8: lag-1 = day 7, lag-7 = day 1 → first score; stable series
    // ⇒ e1 = e7 = 0, mase = 0/max(0,1)
    input.addData(("a", 8L, 100L))
    q.processAllAvailable()
    // day 9 arrives after a weekly spike pattern breaks: n jumps
    input.addData(("a", 9L, 170L))
    q.processAllAvailable()
    val rows = spark.sql("select * from snaive_out").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
    q.stop()
    assert(rows.map(_._1).toSeq == Seq(8L, 9L))
    assert(rows.head == ((8L, 1L, 0L, 0L)), s"stable day: $rows")
    // day 9: e1 = |170-100| = 70 = e7 → cumulative (2, 70, 70)
    assert(rows(1) == ((9L, 2L, 70L, 70L)))
  }

  test("streaming windowed-Hampel end-to-end: window emits only when the next block opens") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamSources.hampelMonitorStream(input.toDS(), windowDays = 7)
      .toDF("event_type", "win", "day", "dow", "n", "dow_med", "resid",
        "med_r", "mad_r", "is_anom")
      .writeStream.outputMode("append")
      .format("memory").queryName("hampel_out").start()
    // days 0..6 fill window 0 — nothing emits while it is open
    input.addData((0L to 3L).map(d => ("a", d, 100L)): _*)
    q.processAllAvailable()
    input.addData((4L to 6L).map(d => ("a", d, if (d == 5L) 500L else 100L)): _*)
    q.processAllAvailable()
    assert(spark.sql("select * from hampel_out").count() == 0,
      "an open window must not emit")
    // day 7 opens window 1 → window 0's 7 rows emit, spike day flagged
    input.addData(("a", 7L, 100L))
    q.processAllAvailable()
    val rows = spark.sql("select * from hampel_out").collect()
      .map(r => (r.getLong(2), r.getLong(4), r.getBoolean(9))).sortBy(_._1)
    q.stop()
    assert(rows.map(_._1).toSeq == (0L to 6L), s"window 0 must emit whole: ${rows.toSeq}")
    // with 7 distinct dows each dow-median = its own n → resid 0 → only
    // the spike day can flag... and with MAD 0 any nonzero adev flags;
    // here every resid is 0 so nothing is anomalous EXCEPT nothing:
    // per-dow medians absorb the spike (1 sample per dow). The honest
    // single-sample-per-dow behavior: no flags.
    assert(rows.forall(!_._3), s"one-sample dows self-absorb: ${rows.toSeq}")
    assert(rows.count(_._2 == 500L) == 1)
  }

  test("streaming gap monitor: emitted holes recompose the batch gap census") {
    import org.apache.spark.sql.streaming.TestGroupState
    val sfDir = graft.TestSpark.sfDir
    val daily = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = graft.operators.Relational.eventsGapCensus(spark, sfDir)
      .collect().map { r =>
        r.getString(0) -> ((r.getAs[Long]("n_gaps"), r.getAs[Long]("longest_gap")))
      }.toMap
    val gaps = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    daily.groupBy(_._1).foreach { case (key, rows) =>
      val ordered = rows.sortBy(_._2)
      var stateValue: Option[Long] = None
      ordered.grouped(math.max(1, ordered.length / 3 + 1)).foreach { chunk =>
        val st = TestGroupState.create[Long](
          optionalState = stateValue.map(org.apache.spark.api.java.Optional.of[Long])
            .getOrElse(org.apache.spark.api.java.Optional.empty[Long]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          batchProcessingTimeMs = 1000L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        gaps ++= StreamSources.gapUpdate(key, chunk.iterator, st)
        stateValue = Some(st.get)
      }
    }
    val byType = gaps.groupBy(_._1)
    expected.foreach { case (t, (nGaps, longest)) =>
      val g = byType.getOrElse(t, Seq.empty)
      assert(g.size.toLong == nGaps, s"gap count mismatch at $t")
      assert((if (g.isEmpty) 0L else g.map(_._3).max) == longest,
        s"longest gap mismatch at $t")
    }
    // gap intervals never overlap a present day
    val present = daily.map(d => (d._1, d._2)).toSet
    gaps.foreach { case (t, start, len) =>
      (start until start + len).foreach(d =>
        assert(!present((t, d)), s"emitted gap covers a present day: $t $d"))
    }
  }

  test("streaming transition feed reproduces the batch Markov matrix across chunked batches") {
    import org.apache.spark.sql.streaming.TestGroupState
    val sfDir = graft.TestSpark.sfDir
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = graft.operators.Relational.eventsTransitionMatrix(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    // replay each user's events in 3 chunks through the state transition
    val bigrams = scala.collection.mutable.Map[(String, String), Long]()
    ev.groupBy(_._1).foreach { case (user, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      var st: Option[(Long, Long, String)] = None
      ordered.grouped(math.max(1, ordered.length / 3 + 1)).foreach { chunk =>
        val gs = TestGroupState.create[(Long, Long, String)](
          optionalState = st.map(org.apache.spark.api.java.Optional.of[(Long, Long, String)])
            .getOrElse(org.apache.spark.api.java.Optional.empty[(Long, Long, String)]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          batchProcessingTimeMs = 1000L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        StreamSources.transitionUpdate(user, chunk.iterator, gs).foreach {
          case (_, f, t) => bigrams((f, t)) = bigrams.getOrElse((f, t), 0L) + 1L
        }
        st = Some(gs.get)
      }
    }
    assert(bigrams.toMap == expected,
      "the streamed bigram feed must count to exactly the batch matrix")
  }

  test("streaming CUSUM end-to-end: level shift accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamSources.cusumShiftStream(input.toDS(), calDays = 3)
      .toDF("event_type", "day", "n", "mean_milli", "cusum_milli", "is_shift")
      .writeStream.outputMode("append")
      .format("memory").queryName("cusum_out").start()
    // calibration: mean = 100 → slack = mean/20 = 5% → dev(110) = +5000
    input.addData(("a", 1L, 100L), ("a", 2L, 100L))
    q.processAllAvailable()
    assert(spark.sql("select * from cusum_out").count() == 0,
      "nothing emits until the calibration window closes")
    input.addData(("a", 3L, 100L)) // closes calibration → backlog emits
    q.processAllAvailable()
    // sustained +10%: no single day is a shift, the accumulation is
    input.addData(("a", 4L, 110L), ("a", 5L, 110L), ("a", 6L, 110L))
    q.processAllAvailable()
    input.addData(("a", 7L, 110L), ("a", 8L, 110L))
    q.processAllAvailable()
    val rows = spark.sql("select * from cusum_out").collect()
      .map(r => (r.getLong(1), r.getLong(4), r.getBoolean(5))).sortBy(_._1)
    q.stop()
    assert(rows.map(_._1).toSeq == (1L to 8L), s"got ${rows.toSeq}")
    assert(rows.take(3).forall(r => r._2 == 0L && !r._3),
      "calibration days have zero deviation here")
    // dev(110) = 110000 − 100000 − 5000 = +5000/day → cusum ramps
    assert(rows.drop(3).map(_._2).toSeq == Seq(5000L, 10000L, 15000L, 20000L, 25000L))
    // threshold 3·mean = 300000 milli = 300k: not yet tripped at day 8
    assert(rows.forall(!_._3), "a slow +10% drift needs ~60 days to trip 3·mean")
  }

  test("streaming EWMA end-to-end: bursts fire across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamSources.ewmaBurstStream(input.toDS())
      .toDF("event_type", "day", "n", "ewma_milli", "is_burst")
      .writeStream.outputMode("append")
      .format("memory").queryName("ewma_out").start()
    input.addData(("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L))
    q.processAllAvailable()
    input.addData(("a", 4L, 500L)) // 5x the EWMA -> burst
    q.processAllAvailable()
    val rows = spark.sql("select * from ewma_out").collect()
      .map(r => (r.getLong(1), r.isNullAt(3), r.getBoolean(4))).sortBy(_._1)
    q.stop()
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.head._2, "first day has no history")
    assert(!rows(1)._3 && !rows(2)._3, "steady days are not bursts")
    assert(rows(3)._3, "the 5x day must trip the burst flag")
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

  test("streaming windowed-Hampel: closed windows equal the batch windowed monitor") {
    import org.apache.spark.sql.streaming.TestGroupState
    val sfDir = graft.TestSpark.sfDir
    val daily = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // batch twin, restricted to windows the stream will have CLOSED
    // (every win except each key's last)
    val lastWin = daily.groupBy(_._1).map { case (k, rs) =>
      k -> rs.map(r => Math.floorDiv(r._2, 28L)).max
    }
    val expected = graft.operators.Relational.eventsHampelWindowed(spark, sfDir)
      .collect().map { r =>
        (r.getString(0), r.getAs[Long]("win"), r.getAs[Long]("day"),
          r.getAs[Long]("dow"), r.getAs[Long]("n"), r.getAs[Long]("dow_med"),
          r.getAs[Long]("resid"), r.getAs[Long]("med_r"),
          r.getAs[Long]("mad_r"), r.getAs[Boolean]("is_anom"))
      }.filter(t => t._2 < lastWin(t._1)).toSet
    assert(expected.nonEmpty, "need at least one closed window at this SF")
    // replay each key's days through the state transition in 4 chunks
    // (micro-batch boundaries land mid-window on purpose)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
    daily.groupBy(_._1).foreach { case (key, rows) =>
      val ordered = rows.map(r => (key, r._2, r._3)).sortBy(_._2)
      var stateValue: Option[Array[Long]] = None
      ordered.grouped(math.max(1, ordered.length / 4 + 1)).foreach { chunk =>
        val st = TestGroupState.create[Array[Long]](
          optionalState = stateValue.map(org.apache.spark.api.java.Optional.of[Array[Long]])
            .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          batchProcessingTimeMs = 1000L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        emitted ++= StreamSources.hampelUpdate(28)(key, chunk.iterator, st)
        stateValue = Some(st.get)
        assert(st.get.length <= 1 + 2 * 28,
          "state must stay bounded: the win id + one (day, n) pair per window day")
      }
    }
    assert(emitted.toSet == expected,
      "closed streaming windows must reproduce the batch windowed Hampel rows exactly")
  }

  test("streaming ACF end-to-end: the lag table emits as each anchor closes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamSources.acfMonitorStream(input.toDS(), maxLag = 7)
      .toDF("event_type", "anchor_day", "lag", "num", "den", "acf_milli")
      .writeStream.outputMode("append")
      .format("memory").queryName("acf_out").start()
    input.addData(("a", 0L, 2L), ("a", 1L, 4L))
    q.processAllAvailable()
    // anchor 0 closed with T = 1: no lag has a pair yet — no rows
    assert(spark.sql("select * from acf_out").count() == 0)
    input.addData(("a", 3L, 6L)) // closes anchor 1 (T = 2, x = [2, 4])
    q.processAllAvailable()
    val rows = spark.sql("select * from acf_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
    // hand check: S=6, Q=20, P1=8 → den=8, num1=−4 → acf −500 milli
    assert(rows.toSeq == Seq(("a", 1L, 1L, -4L, 8L, Some(-500L))), rows.toSeq.toString)
    q.stop()
  }

  test("streaming ACF: every closed anchor equals the batch monitor on its prefix, with constant state") {
    import org.apache.spark.sql.streaming.TestGroupState
    val census = graft.Tables.events(spark, graft.TestSpark.sfDir)
      .select(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().toSeq
    val types = census.map(_._1).distinct.sorted
    assert(types.nonEmpty)
    types.foreach { et =>
      val rows = census.filter(_._1 == et).sortBy(_._2)
      val maxDay = rows.map(_._2).max
      val withFlush = rows :+ ((et, maxDay + 1L, 0L)) // closes the final anchor
      var stateValue: Option[Array[Long]] = None
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Long, Long, Option[Long])]
      withFlush.grouped(math.max(1, withFlush.length / 4 + 1)).foreach { chunk =>
        val st = TestGroupState.create[Array[Long]](
          optionalState = stateValue.map(org.apache.spark.api.java.Optional.of[Array[Long]])
            .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          batchProcessingTimeMs = 1000L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        got ++= StreamSources.acfUpdate()(et, chunk.iterator, st)
        stateValue = Some(st.get)
        assert(st.get.length == 5 + 3 * 7,
          "ACF state is CONSTANT-size sufficient statistics, never the series")
      }
      val anchors = got.map(_._2).distinct.sorted
      assert(anchors.nonEmpty, s"type $et must close at least one anchor")
      Seq(anchors.head, anchors(anchors.size / 2), anchors.last).distinct.foreach { a =>
        val prefix = rows.filter(_._2 <= a)
          .toDF("event_type", "day", "n")
        val batch = graft.operators.Relational.acfOf(prefix).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
        val stream = got.filter(_._2 == a)
          .map(x => (x._1, x._3, x._4, x._5, x._6)).toSet
        assert(stream == batch,
          s"closed ACF anchor must equal the batch prefix: type=$et anchor=$a\n" +
            s"stream=$stream\nbatch=$batch")
      }
    }
  }

  test("acfUpdate: a corrupt far-future day is counted and dropped, never advances the anchor") {
    import org.apache.spark.sql.streaming.TestGroupState
    def freshState(v: Option[Array[Long]]) = TestGroupState.create[Array[Long]](
      optionalState = v.map(org.apache.spark.api.java.Optional.of[Array[Long]])
        .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val dropped = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val count = (et: String, d: Long) => { dropped += (et -> d); () }
    // the r12-advice poison scenario: one corrupt timestamp ~2700 years
    // out would spin O(gap) zero-fills AND permanently misanchor the
    // monitor (every later real day becomes a "late" drop forever)
    val s1 = freshState(None)
    StreamSources.acfUpdate(7, count)("a",
      Iterator(("a", 0L, 2L), ("a", 1L, 4L), ("a", 999999L, 5L)), s1)
    assert(dropped.toSeq == Seq("a" -> 999999L),
      "the far-future day must route to the drop channel")
    assert(s1.get(0) == 1L, "the anchor must not advance past the sanity horizon")
    // the monitor keeps working: the next REAL day closes anchor 1
    // exactly as if the corrupt row never arrived
    val s2 = freshState(Some(s1.get))
    val out = StreamSources.acfUpdate(7, count)("a",
      Iterator(("a", 3L, 6L)), s2).toSeq
    assert(out == Seq(("a", 1L, 1L, -4L, 8L, Some(-500L))), out.toString)
    // a gap INSIDE the horizon still zero-fills normally (day 3 above
    // skipped day 2 — T counts the spine, not the rows)
    assert(s2.get(2) == 3L, "in-horizon gaps must still zero-fill the spine")
  }

  test("acfUpdate: a corrupt FIRST day never becomes the anchor (r13 advice)") {
    import org.apache.spark.sql.streaming.TestGroupState
    def freshState(v: Option[Array[Long]]) = TestGroupState.create[Array[Long]](
      optionalState = v.map(org.apache.spark.api.java.Optional.of[Array[Long]])
        .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val dropped = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val count = (et: String, d: Long) => { dropped += (et -> d); () }
    // the r13-advice poison path: the FIRST row for a fresh key is a
    // corrupt far-future (or negative) timestamp — without the
    // epoch-horizon gate it would be adopted as the anchor forever,
    // turning every later REAL day into a permanent late-drop
    val s1 = freshState(None)
    StreamSources.acfUpdate(7, count)("a",
      Iterator(("a", 999999L, 9L), ("a", -5L, 1L)), s1)
    assert(dropped.toSeq.toSet == Set("a" -> 999999L, "a" -> -5L),
      "both implausible first days must route to the drop channel")
    assert(s1.get(0) == Long.MinValue,
      "no anchor may be adopted from an out-of-horizon first day")
    // recovery: the first PLAUSIBLE day anchors normally and the
    // monitor proceeds as if the corrupt rows never arrived
    val s2 = freshState(Some(s1.get))
    StreamSources.acfUpdate(7, count)("a",
      Iterator(("a", 10L, 3L), ("a", 11L, 5L)), s2)
    assert(s2.get(0) == 11L, "a plausible day must anchor and advance normally")
    assert(s2.get(1) == 5L)
  }

  test("acfUpdate: emit-time BigInt assembly matches batch where Long intermediates would wrap") {
    import org.apache.spark.sql.streaming.TestGroupState
    // A 100-day series of ~5e6 daily counts: the emitted num/den are
    // small (alternating ±1e3 noise), and the batch Long sums are fine
    // (den = Σ dev² = 1e12), but the stream's OLD Long intermediates
    // t·t·q ≈ 2.5e19 and t·t·p(k) ≈ 2.5e19 wrap 2⁶³ (r12 advice) — so
    // this series distinguishes BigInt assembly from Long assembly.
    val et = "bigcount"
    val c = 5000000L; val d = 1000L
    val rows: Seq[(String, Long, Long)] =
      (0L until 100L).map(day => (et, day, c + (if (day % 2 == 0) d else -d)))
    val withFlush = rows :+ ((et, 100L, 0L)) // closes anchor 99
    var stateValue: Option[Array[Long]] = None
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long, Option[Long])]
    withFlush.grouped(25).foreach { chunk =>
      val st = TestGroupState.create[Array[Long]](
        optionalState = stateValue.map(org.apache.spark.api.java.Optional.of[Array[Long]])
          .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
        batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = false)
      got ++= StreamSources.acfUpdate()(et, chunk.iterator, st)
      stateValue = Some(st.get)
    }
    // hand check at the closed anchor 99 (T = 100, dev_t = ±T·d):
    // den = Σ dev² = 100·(100·1000)² = 1e12; lag-1 pairs are all
    // anti-aligned → num₁ = −99·1e10, acf₁ = −990 milli; lag-2 pairs
    // all aligned → num₂ = +98·1e10, acf₂ = +980 milli
    val at99 = got.filter(_._2 == 99L).map(r => (r._3, r._4, r._5, r._6)).sortBy(_._1)
    assert(at99.take(2) == Seq(
      (1L, -990000000000L, 1000000000000L, Some(-990L)),
      (2L, 980000000000L, 1000000000000L, Some(980L))), at99.toString)
    // and the full table equals the batch monitor on the same prefix
    val batch = graft.operators.Relational.acfOf(
        rows.toDF("event_type", "day", "n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    assert(got.filter(_._2 == 99L).map(x => (x._1, x._3, x._4, x._5, x._6)).toSet
      == batch, "closed anchor must equal batch on the wide-count series")
  }

  test("hampelUpdate counts contract-violating late days instead of silent drops") {
    import org.apache.spark.sql.streaming.TestGroupState
    def freshState(v: Option[Array[Long]]) = TestGroupState.create[Array[Long]](
      optionalState = v.map(org.apache.spark.api.java.Optional.of[Array[Long]])
        .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val dropped = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val count = (et: String, d: Long) => { dropped += (et -> d); () }
    // windowDays=7: days 0,1 open window 0; day 7 closes it
    val s1 = freshState(None)
    val out1 = StreamSources.hampelUpdate(7, count)(
      "a", Iterator(("a", 0L, 5L), ("a", 1L, 6L), ("a", 7L, 4L)), s1).toSeq
    assert(out1.size == 2 && dropped.isEmpty)
    // day 2 arrives AFTER window 0 closed: counted, no emission, and the
    // open-window state is untouched (batch==stream invariant preserved
    // for everything the stream still owns)
    val s2 = freshState(Some(s1.get))
    val out2 = StreamSources.hampelUpdate(7, count)(
      "a", Iterator(("a", 2L, 9L)), s2).toSeq
    assert(out2.isEmpty)
    assert(dropped.toList == List("a" -> 2L),
      "the late day must surface through the drop channel")
    assert(s2.get.sameElements(s1.get),
      "a late day must not corrupt the open window's buffered state")
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

  test("streaming funnel replays the batch funnel exactly across chunked batches") {
    import org.apache.spark.sql.streaming.TestGroupState
    val sfDir = graft.TestSpark.sfDir
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = graft.operators.Relational.eventsFunnel(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("view_us"),
          Option(r.getAs[java.lang.Long]("click_us")).map(_.longValue),
          Option(r.getAs[java.lang.Long]("purchase_us")).map(_.longValue),
          r.getAs[Int]("stage").toLong))).toMap
    val windowUs = 3600L * 1000000L
    // replay each user's events in 3 time-ordered chunks; the LAST
    // emitted row per user must equal the batch row
    val got = scala.collection.mutable.Map[Long, (Long, Option[Long], Option[Long], Long)]()
    ev.groupBy(_._1).foreach { case (user, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      var st: Option[Array[Long]] = None
      ordered.grouped(math.max(1, ordered.length / 3 + 1)).foreach { chunk =>
        val gs = TestGroupState.create[Array[Long]](
          optionalState = st.map(org.apache.spark.api.java.Optional.of[Array[Long]])
            .getOrElse(org.apache.spark.api.java.Optional.empty[Array[Long]]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          batchProcessingTimeMs = 1000L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        StreamSources.funnelUpdate(windowUs)(user, chunk.iterator, gs).foreach {
          case (u, v, c, p, s) => got(u) = (v, c, p, s)
        }
        st = Some(gs.get)
        assert(gs.get.length == 3, "funnel state is exactly 3 longs")
      }
    }
    assert(got.toMap == expected,
      "last streamed funnel row per user must equal the batch funnel")
  }

  test("streaming funnel end-to-end: advances emit across micro-batches, no regressions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String)]
    val q = StreamSources.funnelStream(input.toDS(), windowUs = 1000L)
      .toDF("user_id", "view_us", "click_us", "purchase_us", "stage")
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    input.addData((7L, 100L, 1L, "click")) // pre-view click: ignored
    q.processAllAvailable()
    assert(spark.sql("select * from funnel_out").count() == 0)
    input.addData((7L, 200L, 2L, "view"), (7L, 300L, 3L, "click"))
    q.processAllAvailable()
    input.addData((7L, 5000L, 4L, "purchase")) // outside click+1000: no advance
    q.processAllAvailable()
    input.addData((7L, 1200L, 5L, "purchase")) // late data: within window
    q.processAllAvailable()
    val rows = spark.sql("select * from funnel_out").collect()
      .map(r => (r.getLong(4), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(_._1)
    q.stop()
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L), s"got ${rows.toSeq}")
    assert(rows.last == (3L, 200L, 300L, 1200L),
      "the stage-3 row carries the locked view/click/purchase instants")
  }
}
