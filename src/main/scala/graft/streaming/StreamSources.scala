package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming source constructors and stateful substrate.
  *
  * [[fromKafka]] is the production wiring of S1
  * (ref: build_consumer, src/scicat_kafka.py:54-71): bootstrap +
  * subscribe + security options map 1:1 onto the Kafka source options;
  * commit policy is replaced by checkpointing (§2.7). Untestable in this
  * offline environment (no broker) but identical downstream: every
  * transform in [[IngestStream]] consumes any DataFrame with a binary
  * `value` column.
  */
object StreamSources {

  /** S1 option plumbing as a PURE function — the reference's consumer
    * flattening (`collect_consumer_options`, src/scicat_kafka.py:21-51
    * + `collect_kafka_topics` :44-51) re-expressed for Spark's Kafka
    * source so the EXACT map `format("kafka")` receives is spec-pinned
    * even without a broker (this sandbox ships no kafka jars). Rules,
    * each from the reference or a documented Spark-source constraint:
    *  - snake_case keys → dot.case, empty values dropped;
    *  - bootstrap servers (list or one string) → comma-joined;
    *  - topics (list or comma string) → the `subscribe` option;
    *  - commit policy (`individual_message_commit`,
    *    `enable_auto_commit`) is DROPPED, not forwarded: the source
    *    rejects `kafka.enable.auto.commit` — offset progress lives in
    *    the checkpoint (§2.7 delivery; the reference's per-message
    *    commit maps to checkpoint-after-batch + F6 dedup);
    *  - `auto_offset_reset` is TRANSLATED to `startingOffsets` (the
    *    source rejects `kafka.auto.offset.reset`);
    *  - confluent's `sasl_username`/`sasl_password` pair becomes the
    *    Java client's single `kafka.sasl.jaas.config` login-module
    *    line (SCRAM mechanisms → ScramLoginModule, else
    *    PlainLoginModule);
    *  - everything else (`security.protocol`, `sasl.mechanism`,
    *    `ssl.ca.location`, `group.id`, …) passes through under the
    *    `kafka.` prefix the source strips for its consumer. */
  def kafkaSourceOptions(
      bootstrapServers: Seq[String],
      topics: Seq[String],
      consumerOptions: Map[String, String] = Map.empty,
      maxOffsetsPerTrigger: Option[Long] = None): Map[String, String] = {
    // deterministic precedence when dotted and snake variants of the
    // same key are both present: sorted order makes snake_case ('_' >
    // '.') win, always — never hash-iteration luck
    val norm = consumerOptions.toSeq.sortBy(_._1)
      .map { case (k, v) => k.replace('.', '_') -> v }.toMap
    // structurally handled or checkpoint-replaced — never forwarded
    val dropped = Set("topics", "bootstrap_servers",
      "individual_message_commit", "enable_auto_commit",
      "auto_offset_reset", "sasl_username", "sasl_password")
    val passthrough = norm.collect {
      case (k, v) if v.nonEmpty && !dropped(k) =>
        s"kafka.${k.replace('_', '.')}" -> v
    }
    // JAAS values are quoted strings: escape backslash + quote so a
    // generated secret containing either (or a semicolon, inert once
    // quoted) cannot break the parser or inject module options
    def jaasQuote(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val jaas = (norm.get("sasl_username").filter(_.nonEmpty),
        norm.get("sasl_password").filter(_.nonEmpty)) match {
      case (Some(u), Some(p)) =>
        val module =
          if (norm.getOrElse("sasl_mechanism", "").toUpperCase.startsWith("SCRAM"))
            "org.apache.kafka.common.security.scram.ScramLoginModule"
          else "org.apache.kafka.common.security.plain.PlainLoginModule"
        Map("kafka.sasl.jaas.config" ->
          s"$module required username=${jaasQuote(u)} password=${jaasQuote(p)};")
      case _ => Map.empty[String, String]
    }
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers.mkString(","),
      "subscribe" -> topics.mkString(","),
      // the source accepts only earliest/latest (or offset JSON); the
      // value is TRIMMED first ("latest " must mean latest, not a
      // silent full-topic reprocess), then "none"/empties/typos fall
      // back to the reference default — with a warning, because a
      // silent earliest fallback on a typo re-ingests the whole topic
      (norm.get("auto_offset_reset").map(_.trim) match {
        case Some(v @ ("earliest" | "latest")) => "startingOffsets" -> v
        case Some(other) =>
          org.apache.log4j.Logger.getLogger(getClass).warn(
            s"unrecognized auto_offset_reset '$other': falling back to 'earliest' " +
              "(full-topic reprocess); use 'earliest' or 'latest'")
          "startingOffsets" -> "earliest"
        case None => "startingOffsets" -> "earliest"
      })) ++
      passthrough ++ jaas ++
      maxOffsetsPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString) // A8
  }

  def fromKafka(
      spark: SparkSession,
      bootstrapServers: String,
      topics: Seq[String],
      securityOptions: Map[String, String] = Map.empty,
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(
        Seq(bootstrapServers), topics, securityOptions, maxOffsetsPerTrigger))
      .load()

  /** Event-time tumbling-window aggregation with a watermark — the
    * streaming form of the batch `tumbling_window` query (§2.7
    * substrate; the reference itself needs no windows). */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** STREAMING OHLC BARS — the live twin of
    * [[graft.operators.Relational.eventsOhlcHourly]]: one watermarked
    * event-time tumbling window per (hour, type), open/close resolved
    * by the SAME lexicographic struct min/max over (µs, event_id,
    * cents) the batch query uses, so a finalized bar is bit-identical
    * to the batch bar. Structured Streaming's stateful HashAggregate
    * carries the struct extremes exactly like max(): a few longs per
    * open bar, evicted by the watermark.
    *
    * Input frame needs (ts timestamp, event_type, event_id, value). */
  def ohlcStream(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("close_cents"))
      .select(col("window.start").as("bar_start"), col("event_type"),
        col("n"), col("open_cents"), col("high_cents"), col("low_cents"),
        col("close_cents"))

  /** Windowed PSI drift gate — the streaming twin of
    * [[graft.operators.Relational.eventsDriftPsi]]: each event-time
    * tumbling window's `value` histogram is compared against a STATIC
    * calibration histogram (`baseline`: sparse `(event_type, bin,
    * c_base)` rows from a batch calibration run, the CCNet-constants
    * pattern again), emitting `psi_micro` per (window, event_type) as
    * the window finalizes. Fires the same integer-exact math as the
    * batch gate: Laplace-smoothed shares, portable log2, no libm.
    *
    * Shape: ONE stateful aggregation (state = open windows × types ×
    * `bins` conditional counters — bounded, evicted by the watermark);
    * the per-bin histogram is built with `bins` conditional sums so no
    * chained streaming aggregation is needed, and the PSI fold runs in
    * the post-aggregation projection over the dense bin arrays
    * (stream-static left join on event_type only). `vmin`/`vmax` are
    * calibration constants, broadcast by construction. */
  def windowedPsi(events: DataFrame, baseline: DataFrame,
      vmin: Double, vmax: Double,
      watermark: String = "10 minutes", window_ : String = "1 hour",
      bins: Int = 10): DataFrame = {
    // dense per-type base-count array from the sparse calibration rows
    val base = baseline.groupBy(col("event_type"))
      .agg(map_from_entries(collect_list(
        struct(col("bin"), col("c_base")))).as("m"))
      .select(col("event_type"),
        expr(s"transform(sequence(0L, ${bins - 1}L), b -> " +
          "coalesce(element_at(m, b), 0L))").as("base_arr"))
    val binned = events.withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"),
        least(greatest(floor(((col("value") - vmin) * bins) /
          (vmax - vmin)).cast("long"), lit(0L)), lit(bins - 1L)).as("bin"))
    val hist = binned
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(array((0 until bins).map(b =>
        sum(when(col("bin") === b, 1L).otherwise(0L))): _*).as("curr_arr"))
    // the same smoothed-integer PSI as the batch gate, folded over the
    // dense arrays in fixed bin order (s.x is inlined thrice by the
    // portable log2 — the struct field stands in for a named column)
    val fold =
      "aggregate(" +
        "transform(zip_with(curr_arr, base_arr, (c, b) -> struct(c, b)), s -> " +
        s"named_struct('pm', (s.c + 1L) * 1000000L DIV (n_curr + $bins), " +
        s"'qm', (s.b + 1L) * 1000000L DIV (n_base + $bins), " +
        s"'x', greatest((s.c + 1L) * (n_base + $bins) * ${1L << 20}L DIV " +
        s"((s.b + 1L) * (n_curr + $bins)), 1L))), " +
        "0L, (acc, s) -> acc + (s.pm - s.qm) * " +
        s"((${plogStruct}) - 20000000L) DIV 1000000L)"
    hist.join(base, Seq("event_type"), "left")
      .withColumn("n_curr",
        expr("aggregate(curr_arr, 0L, (acc, c) -> acc + c)"))
      .withColumn("n_base",
        expr("aggregate(coalesce(base_arr, array_repeat(0L, " + bins + ")), " +
          "0L, (acc, b) -> acc + b)"))
      .withColumn("base_arr",
        coalesce(col("base_arr"), expr(s"array_repeat(0L, $bins)")))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_curr"), col("n_base"), expr(fold).as("psi_micro"))
  }

  /** [[graft.operators.TextAnalysis.plog2MicroSql]] over the fold
    * struct's `s.x` (a field reference is as inlinable as a column). */
  private def plogStruct: String =
    graft.operators.TextAnalysis.plog2MicroSql("s.x")

  /** Windowed Count-Min heavy-hitter sketch — the streaming twin of
    * [[graft.operators.Sketches.cmsHeavyHitters]]: per event-time
    * tumbling window, the d×w counter matrix built as a plain
    * watermarked streaming aggregation. State is BOUNDED at d·w
    * counters per open window no matter how many distinct keys stream
    * through — the top-talkers monitor that cannot OOM on a key
    * explosion (a per-key streaming count would); the watermark
    * finalizes and evicts each window's matrix. Cells use the portable
    * md5-48 salt, so stream and batch sketches are identical on
    * identical input. Output rows ARE the sketch: estimate any key
    * downstream as `min` over its d cells. */
  def windowedCms(events: DataFrame, keyCol: String = "key",
      watermark: String = "10 minutes", window_ : String = "1 hour",
      depth: Int = 4, width: Int = 1024): DataFrame =
    events.withWatermark("ts", watermark)
      .select(col("ts"), col(keyCol).cast("string").as("k"),
        explode(array((0 until depth).map(lit): _*)).as("d"))
      .withColumn("c", pmod(graft.functions.PortableHash.md5Hash48(
        concat(col("d").cast("string"), lit(":"), col("k"))), lit(width.toLong)))
      .groupBy(window(col("ts"), window_), col("d"), col("c"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("d"), col("c"), col("n"))

  /** Event-time SESSION windows with a watermark — the streaming twin
    * of the batch `sub_sessionize` query (gap-based windows are the one
    * window family `window()` can't express; Spark's `session_window`
    * merges rows whose gaps stay under the timeout). State per open
    * session is bounded by the watermark: sessions older than the
    * delay finalize and evict. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n_events"))

  /** Watermarked STREAM-STREAM interval join — the streaming twin of
    * the batch range join ([[graft.operators.Temporal.rangeJoinBinned]]
    * / RangeJoinRule): every `right` row of the same user within
    * `[left.ts - lookback, left.ts]` of a `left` row, both sides
    * unbounded streams. The time-bound condition is what makes the
    * state BOUNDED: each side buffers only rows younger than
    * watermark + lookback, and Spark evicts the rest — without the
    * bound a stream-stream join must retain one side forever. Output
    * rows appear once both watermarks pass the match window (append
    * mode). Column contract: `left` carries (ts, user_id, …), `right`
    * carries (r_ts, r_user_id, …) — disjoint names, callers pre-rename. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
      lookback: String = "10 minutes",
      watermark: String = "5 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.withWatermark("r_ts", watermark)
    l.join(r, col("user_id") === col("r_user_id") &&
      col("r_ts") >= col("ts") - expr(s"INTERVAL $lookback") &&
      col("r_ts") <= col("ts"))
  }

  /** Cross-batch keyed dedup via mapGroupsWithState: first occurrence of
    * each key passes, replays are dropped — the stateful form of the F6
    * dedup gate for streams without a queryable catalog. State is one
    * boolean per key; a production deployment bounds it with
    * `GroupStateTimeout.ProcessingTimeTimeout` + `setTimeoutDuration`
    * (a TTL keeps the keyed store from growing unboundedly at 100 TB —
    * omitted here because a pending timeout keeps test micro-batches
    * scheduling forever under `processAllAvailable`). */
  def statefulDedup[T](
      keyed: Dataset[(String, T)])(implicit te: org.apache.spark.sql.Encoder[T],
      oe: org.apache.spark.sql.Encoder[Option[T]]): Dataset[Option[T]] = {
    implicit val boolEnc: org.apache.spark.sql.Encoder[Boolean] =
      org.apache.spark.sql.Encoders.scalaBoolean
    keyed.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .mapGroupsWithState[Boolean, Option[T]](GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, T)], state: GroupState[Boolean]) =>
          if (state.exists) None // replay → dropped
          else {
            state.update(true)
            rows.buffered.headOption.map(_._2)
          }
      }
  }

  /** The TTL'd form of [[statefulDedup]]'s state update, for a
    * `mapGroupsWithState` under `GroupStateTimeout.ProcessingTimeTimeout`:
    * keyed store size is bounded by (arrival rate × TTL) instead of
    * growing with every key ever seen. Specs drive it directly through
    * Spark's public `TestGroupState` (a live query with pending
    * timeouts never quiesces under `processAllAvailable`). Semantics: first occurrence passes and arms the TTL;
    * replays inside the TTL drop; when the key times out its state is
    * evicted, so a LATER replay is re-admitted — the bounded-memory
    * trade-off, backstopped by the F6/F7 catalog dedup which is not
    * time-bounded. */
  def dedupTtlUpdate[T](
      rows: Iterator[(String, T)],
      state: GroupState[Boolean],
      ttlMs: Long): Option[T] = {
    if (state.hasTimedOut) { state.remove(); None }
    else if (state.exists) None
    else {
      state.update(true)
      state.setTimeoutDuration(ttlMs)
      rows.buffered.headOption.map(_._2)
    }
  }

  /** EVENT-TIME-bounded streaming dedup via the built-in
    * `dropDuplicatesWithinWatermark` — the third point on the repo's
    * dedup-state spectrum: [[statefulDedup]] (unbounded state, exact),
    * [[dedupTtlUpdate]] (processing-time TTL, bounded by arrival
    * rate × TTL), and this (EVENT-time bound, bounded by event-time
    * skew × rate — the right bound when replays cluster around the
    * original event, which is what Kafka redelivery and job retries
    * produce: a retry carries the ORIGINAL event timestamp, so however
    * late it ARRIVES it lands inside the original's watermark window
    * and is dropped, where a processing-time TTL would have expired).
    * State for a key is evicted once the watermark passes its event
    * time + delay; a duplicate with an event time older than the
    * watermark is dropped BY THE WATERMARK itself on arrival, so
    * within one run the output is exactly-once for same-event-time
    * replays — the residual risk is only a replay carrying a NEWER
    * event time than the original (not a replay, a new event, by
    * event-time semantics). Backstopped by the F6/F7 catalog dedup
    * like the TTL variant.
    *
    * `eventTimeCol` must be a TimestampType column; `keys` must NOT
    * include it (the operator matches on keys, the watermark bounds
    * the state). */
  def dedupWithinWatermark(df: DataFrame, eventTimeCol: String,
      delay: String, keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** First-occurrence dedup on the Spark 4 `transformWithState` API —
    * the production twin of [[dedupTtlUpdate]]: the TTL is DECLARED
    * (`TTLConfig`) instead of hand-armed timers, and the operator runs
    * on the RocksDB state store (`stateStore.providerClass` must point
    * at RocksDBStateStoreProvider — transformWithState requires it),
    * which is also what bounds state at 100 TB: the keyed store spills
    * off-heap and TTL'd entries vacuum out without a timer per key.
    *
    * `ttl = None` runs in `TimeMode.None` (state bounded only by the
    * checkpoint). With a TTL the operator runs in ProcessingTime mode,
    * where Spark schedules a follow-up micro-batch after EVERY batch to
    * advance eviction — correct for the always-on daemon, but a test
    * (or any drain-and-stop run) never idles: `processAllAvailable`
    * and even `Trigger.AvailableNow` loop forever (observed: 440+
    * batches over two input rows). */
  class FirstSeenProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, String), String] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val ttlConf = ttl.map(org.apache.spark.sql.streaming.TTLConfig(_))
        .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean, ttlConf)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[String] = {
      if (seen.exists()) Iterator.empty // replay inside the TTL: dropped
      else {
        seen.update(true)
        rows.take(1).map(_._2) // first occurrence passes
      }
    }
  }

  def statefulDedupTws(keyed: Dataset[(String, String)],
      ttl: Option[java.time.Duration] = None): Dataset[String] = {
    implicit val se: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val timeMode =
      if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    keyed.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new FirstSeenProcessor(ttl), timeMode, OutputMode.Append())
  }

  /** The state-update for [[streamingKmv]], visible so specs drive it
    * through `TestGroupState`: fold the batch's hashes into the key's
    * ≤k minima and emit the refreshed (k_used, kth_min, estimate).
    * State is the ascending minima array — O(k) longs per key, the
    * same bound the batch aggregate puts on its shuffle — and folding
    * through [[graft.plans.KmvBuffer]] makes stream and batch sketches
    * identical on identical input (spec-pinned). */
  def kmvUpdate(key: String, k: Int, hashes: Iterator[Long],
      state: GroupState[Array[Long]]): (String, Int, Long, Double) = {
    val buf = new graft.plans.KmvBuffer(k)
    if (state.exists) state.get.foreach(buf.add)
    hashes.foreach(buf.add)
    val minima = buf.toArray
    state.update(minima)
    (key, minima.length, if (minima.isEmpty) 0L else minima.last,
      graft.plans.KmvBuffer.estimate(k, minima))
  }

  /** Geometric EWMA weights shared bit-for-bit with the batch twin
    * ([[graft.operators.Relational.eventsEwmaAnomaly]]): α = 1/4 over
    * a 7-entry horizon as the exact integers 3^(j−1)·4^(7−j). */
  val EwmaWeights: Array[Long] =
    Array.tabulate(7)(j => math.pow(3, j).toLong * math.pow(4, 6 - j).toLong)

  /** State transition of the STREAMING EWMA burst monitor — the
    * bounded-state streaming twin of
    * [[graft.operators.Relational.eventsEwmaAnomaly]] (same pairing
    * discipline as windowedCms ↔ sketch_cms_heavy): per event-type
    * key the state is the ≤7 most recent closed daily counts
    * (most-recent-first ring), each arriving day is scored against
    * the weighted history with the SAME integer arithmetic as the
    * batch query (exact weights, milli EWMA by integer division,
    * burst = n·W > 2·S), then pushed into the ring. Days inside one
    * batch are processed in day order; cross-batch order is the
    * upstream windowed count's closure order (watermark-monotone).
    * Exposed for direct `TestGroupState` specs like
    * [[dedupTtlUpdate]]/[[kmvUpdate]]. */
  def ewmaUpdate(key: String, rows: Iterator[(String, Long, Long)],
      state: GroupState[Array[Long]])
      : Iterator[(String, Long, Long, Option[Long], Boolean)] = {
    val hist = scala.collection.mutable.ArrayBuffer(
      state.getOption.getOrElse(Array.empty[Long]).toSeq: _*)
    val out = rows.toSeq.sortBy(_._2).map { case (et, day, n) =>
      val recent = hist.take(7)
      val w = recent.indices.map(EwmaWeights).sum
      val s = recent.zipWithIndex.map { case (c, i) => c * EwmaWeights(i) }.sum
      val ewma = if (w > 0) Some(s * 1000 / w) else None
      val burst = w > 0 && n * w > 2 * s
      hist.insert(0, n)
      if (hist.size > 7) hist.remove(7, hist.size - 7)
      (et, day, n, ewma, burst)
    }
    state.update(hist.toArray)
    out.iterator
  }

  /** The streaming EWMA burst monitor over a stream of closed
    * (event_type, day, n) daily counts (the output of a watermarked
    * daily window upstream): O(7) longs of state per key — the
    * monitor a 100 TB ingest runs continuously where the batch twin
    * is the backfill/audit form. */
  def ewmaBurstStream(daily: Dataset[(String, Long, Long)])
      : Dataset[(String, Long, Long, Option[Long], Boolean)] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Long, Option[Long], Boolean)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Long, Long, Option[Long], Boolean)]()
    daily.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Array[Long], (String, Long, Long, Option[Long], Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(ewmaUpdate)
  }

  /** State transition of the STREAMING seasonal-naive skill monitor —
    * the live twin of
    * [[graft.operators.Relational.forecastSnaiveEval]] (the pairing
    * discipline of [[ewmaUpdate]]/[[cusumUpdate]]): per event-type
    * key the state is the running (n_days, Σ|e_naive|, Σ|e_snaive|)
    * plus the last 7 calendar days' closed counts (≤ 3 + 14 longs).
    * A day scores iff BOTH its lag-1 and lag-7 counts are in the
    * ring — exactly the batch query's join condition — and each
    * scored day emits the CUMULATIVE skill row, so the last emission
    * per key equals the batch aggregate bit-for-bit. Days inside a
    * batch are processed in day order; cross-batch order is the
    * upstream watermarked window's closure order. */
  def snaiveUpdate(key: String, rows: Iterator[(String, Long, Long)],
      state: GroupState[Array[Long]])
      : Iterator[(String, Long, Long, Long, Long, Long)] = {
    val st = state.getOption.getOrElse(Array(0L, 0L, 0L))
    var nd = st(0); var s1 = st(1); var s7 = st(2)
    val hist = scala.collection.mutable.Map.empty[Long, Long]
    st.drop(3).grouped(2).foreach { p => hist(p(0)) = p(1) }
    val out = rows.toSeq.sortBy(_._2).flatMap { case (et, day, n) =>
      val scored = (hist.get(day - 1), hist.get(day - 7)) match {
        case (Some(p1), Some(p7)) =>
          nd += 1; s1 += math.abs(n - p1); s7 += math.abs(n - p7)
          Some((et, day, nd, s1, s7, s7 * 1000 / math.max(s1, 1L)))
        case _ => None
      }
      hist(day) = n
      // next processed day Y ≥ day+1 needs Y−7 ≥ day−6: drop older
      hist.filterInPlace { case (d, _) => d >= day - 6 }
      scored
    }
    state.update(Array(nd, s1, s7) ++
      hist.toSeq.sortBy(_._1).flatMap(p => Seq(p._1, p._2)))
    out.iterator
  }

  /** The streaming seasonal-naive skill monitor over closed
    * (event_type, day, n) daily counts: O(17) longs of state per key,
    * append mode — the continuous form of the MASE audit whose batch
    * twin is the backfill. */
  def snaiveSkillStream(daily: Dataset[(String, Long, Long)])
      : Dataset[(String, Long, Long, Long, Long, Long)] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Long, Long, Long, Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Long, Long, Long, Long, Long)]()
    daily.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Array[Long], (String, Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(snaiveUpdate)
  }

  /** State transition of the STREAMING gap monitor — the live twin of
    * [[graft.operators.Relational.eventsGapCensus]]: per event-type
    * key the state is ONE long (the last closed day); a day arriving
    * more than one past it emits the hole it closes over
    * (gap_start, gap_len) — the alert feed whose batch twin is the
    * backfill census. Days inside a batch are processed in day order;
    * cross-batch order is the upstream watermarked window's closure
    * order. */
  def gapUpdate(key: String, rows: Iterator[(String, Long, Long)],
      state: GroupState[Long])
      : Iterator[(String, Long, Long)] = {
    var last = state.getOption.getOrElse(Long.MinValue)
    val out = rows.toSeq.sortBy(_._2).flatMap { case (et, day, _) =>
      val gap = if (last != Long.MinValue && day > last + 1)
        Some((et, last + 1, day - last - 1)) else None
      if (day > last) last = day
      gap
    }
    state.update(last)
    out.iterator
  }

  /** One closed Hampel window, computed EXACTLY the way the batch
    * twin [[graft.operators.Relational.eventsHampelWindowed]] does:
    * per-dow lower median of the daily counts, lower median of the
    * residuals, MAD of the residuals, 3×MAD flag — every median the
    * DISCRETE lower median at rank (cnt+1)/2 in (value, day) order.
    * Pure function of the window's (day, n) pairs so the spec can pin
    * stream == batch row-for-row. */
  def hampelWindow(et: String, win: Long, days: Seq[(Long, Long)])
      : Seq[(String, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)] = {
    def lowerMedian(valueDay: Seq[(Long, Long)]): Long = {
      val s = valueDay.sorted
      s((s.size + 1) / 2 - 1)._1
    }
    val dowMed: Map[Long, Long] = days.groupBy(_._1 % 7).map {
      case (dow, ds) => dow -> lowerMedian(ds.map { case (d, n) => (n, d) })
    }
    val resid = days.map { case (d, n) => (d, n, n - dowMed(d % 7)) }
    val medR = lowerMedian(resid.map(r => (r._3, r._1)))
    val madR = lowerMedian(resid.map { case (d, _, r) => (math.abs(r - medR), d) })
    resid.sortBy(_._1).map { case (d, n, r) =>
      (et, win, d, d % 7, n, dowMed(d % 7), r, medR, madR,
        math.abs(r - medR) > 3 * madR)
    }
  }

  /** State transition of the STREAMING windowed seasonal-Hampel
    * monitor — the bounded-state twin of
    * [[graft.operators.Relational.eventsHampelWindowed]]. Exact global
    * Hampel medians need unbounded history, so the streamable contract
    * is the WINDOWED one: per event-type key the state is the current
    * `windowDays`-block's buffered (day, n) pairs — ≤ windowDays
    * pairs by construction, zero approximation error — and a window's
    * rows emit the moment a day from a LATER block arrives (the
    * window-finalized re-read shape of [[windowedPsi]]). Days inside a
    * batch are processed in day order; cross-batch order is the
    * upstream watermarked daily census's closure order (the
    * [[gapUpdate]] contract). State layout: [win, d1, n1, d2, n2, …].
    *
    * `onLateDrop` fires for every contract-violating row (a day whose
    * window already closed): the batch==stream invariant silently
    * diverges if the upstream ordering contract breaks, so violations
    * must be COUNTABLE — the stream wires a LongAccumulator here, so a
    * contract violation is detectable rather than a silent drop. */
  def hampelUpdate(windowDays: Int,
      onLateDrop: (String, Long) => Unit = (_, _) => ())(key: String,
      rows: Iterator[(String, Long, Long)],
      state: GroupState[Array[Long]])
      : Iterator[(String, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)] = {
    var (win, buf) = state.getOption match {
      case Some(a) => (a(0), a.drop(1).grouped(2).map(p => (p(0), p(1))).toVector)
      case None => (Long.MinValue, Vector.empty[(Long, Long)])
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
    rows.toSeq.sortBy(_._2).foreach { case (et, day, n) =>
      val w = Math.floorDiv(day, windowDays.toLong)
      if (win == Long.MinValue) { win = w; buf = Vector((day, n)) }
      else if (w == win) buf :+= ((day, n))
      else if (w > win) {
        out ++= hampelWindow(et, win, buf)
        win = w; buf = Vector((day, n))
      } else onLateDrop(et, day) // w < win: late day after its window
        // closed — the upstream watermark already finalized it;
        // contract-dropped like gapUpdate, but COUNTED via onLateDrop
    }
    state.update(Array(win) ++ buf.flatMap(p => Array(p._1, p._2)))
    out.iterator
  }

  /** The streaming windowed-Hampel alert feed over closed
    * (event_type, day, n) daily counts: ≤ 2·windowDays+1 longs of
    * state per key, append mode — emits a closed window's full Hampel
    * table (bit-identical to the batch windowed monitor) as its first
    * out-of-window day arrives. */
  def hampelMonitorStream(daily: Dataset[(String, Long, Long)],
      windowDays: Int = 28)
      : Dataset[(String, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    implicit val outEnc: org.apache.spark.sql.Encoder[
        (String, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
        (String, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]()
    // Ordering-contract violations (late days for closed windows) are
    // counted in a named accumulator, visible in the Spark UI/metrics
    // and assertable in specs — never silently swallowed.
    val late = daily.sparkSession.sparkContext
      .longAccumulator("hampel_late_dropped")
    daily.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Array[Long],
        (String, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        hampelUpdate(windowDays, (_, _) => late.add(1L)))
  }

  /** State transition of the STREAMING ACF monitor — the live twin of
    * [[graft.operators.Relational.eventsAcf]], keeping the monitor
    * class's twin coverage complete as the batch family grows. The
    * whole-history statistic folds into O(maxLag) SUFFICIENT
    * STATISTICS, so the state never grows with the series: with
    * dev_t = T·x_t − S, algebra gives
    *   num_k = T²·P_k − T·S·(2S − tail_k − head_k) + (T−k)·S²
    *   den   = T²·Q − T·S²
    * where P_k = Σ x_t·x_{t+k}, Q = Σ x², and head_k/tail_k are the
    * first/last k daily values — so the state is exactly
    * [anchor, pending, T, S, Q, first×L, last×L, P×L] (5 + 3L longs),
    * bit-identical to the batch query over the prefix at every closed
    * anchor. The calendar spine is reproduced by ZERO-FILLING skipped
    * days on anchor advance (missing days are real zeros in the batch
    * spine too); same-day census rows accumulate into `pending` until
    * the anchor closes. Emission: a later day finalizes the table AS
    * OF the old anchor (lags 1..min(L, T−1) — the batch inner lag
    * join emits exactly those); `acf_milli` is None when den = 0 (a
    * constant prefix), mirroring the batch NULL. Exact-integer
    * throughout: num and den ASSEMBLE in BigInt from the Long
    * sufficient statistics (Long intermediates like
    * t·t·p(k−1) overflow at tighter thresholds than the batch path's
    * sum(dev·dev), silently breaking the bit-identity contract on
    * long/high-count series; the state stays 5+3L longs, only the
    * emit-time arithmetic widens), and BigInt's truncate-toward-zero
    * division IS the batch sign-safe DIV. The emitted num/den columns
    * narrow back to Long — exact whenever the batch Long sums
    * themselves fit, i.e. the same documented headroom bound. Late
    * days (day < anchor) count via `onLateDrop`, never silently
    * swallowed ([[hampelUpdate]] discipline). Days further than
    * `maxGapDays` PAST the anchor also route to `onLateDrop` instead
    * of advancing it: the zero-fill loop is O(gap), so
    * one corrupt far-future timestamp would otherwise spin millions
    * of pushes AND poison the monitor permanently (every later real
    * day lands behind the bogus anchor) — cap-and-alert, matching the
    * capped-join discipline everywhere else. The FIRST row of a fresh
    * key is held to the same standard: a day outside
    * [0, `epochHorizonDays`] is dropped-and-counted instead of adopted
    * as the anchor, closing the poison path where one corrupt
    * far-future timestamp arriving FIRST misanchors the key forever
    * (every later real day would route to `onLateDrop`). The horizon
    * is a fixed config, not processing time, so replays stay
    * deterministic and the batch twin needs no clock. */
  def acfUpdate(maxLag: Int = 7,
      onLateDrop: (String, Long) => Unit = (_, _) => (),
      maxGapDays: Long = 3650L,
      epochHorizonDays: Long = 100000L)(key: String,
      rows: Iterator[(String, Long, Long)],
      state: GroupState[Array[Long]])
      : Iterator[(String, Long, Long, Long, Long, Option[Long])] = {
    val L = maxLag
    var anchor = Long.MinValue
    var pending = 0L
    var t = 0L; var s = 0L; var q = 0L
    val first = Array.ofDim[Long](L)
    val last = Array.ofDim[Long](L)
    val p = Array.ofDim[Long](L)
    state.getOption.foreach { a =>
      anchor = a(0); pending = a(1); t = a(2); s = a(3); q = a(4)
      Array.copy(a, 5, first, 0, L)
      Array.copy(a, 5 + L, last, 0, L)
      Array.copy(a, 5 + 2 * L, p, 0, L)
    }
    // append one spine day: update the lag products against the ring
    // of the last L values BEFORE rotating the new value in
    def push(x: Long): Unit = {
      var k = 1
      while (k <= L) {
        if (t >= k) p(k - 1) += last(L - k) * x
        k += 1
      }
      var i = 0
      while (i < L - 1) { last(i) = last(i + 1); i += 1 }
      last(L - 1) = x
      if (t < L) first(t.toInt) = x
      t += 1; s += x; q += x * x
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long, Option[Long])]
    def emit(a: Long): Unit = {
      val tB = BigInt(t); val sB = BigInt(s)
      val den = tB * tB * q - tB * sB * sB
      var k = 1
      while (k <= math.min(L.toLong, t - 1)) {
        val head = first.take(k).sum
        val tail = last.slice(L - k, L).sum
        val num = tB * tB * p(k - 1) -
          tB * sB * (2 * sB - BigInt(tail) - BigInt(head)) +
          BigInt(t - k) * sB * sB
        val acf = if (den == 0) None else Some((num * 1000 / den).toLong)
        out += ((key, a, k.toLong, num.toLong, den.toLong, acf))
        k += 1
      }
    }
    rows.toSeq.sortBy(_._2).foreach { case (et, day, n) =>
      if (anchor == Long.MinValue) {
        // first row for a fresh key: plausibility-gate the candidate
        // anchor too — a corrupt day outside the epoch horizon must
        // not become the permanent reference point
        if (day < 0L || day > epochHorizonDays) onLateDrop(et, day)
        else { anchor = day; pending = n }
      }
      else if (day == anchor) pending += n
      // out-of-contract days — late, OR implausibly far future (a
      // corrupt timestamp would otherwise spin the O(gap) zero-fill
      // and permanently misanchor the monitor) — are counted, never
      // silently swallowed and never allowed to move the anchor
      else if (day < anchor || day - anchor > maxGapDays) onLateDrop(et, day)
      else {
        push(pending)
        emit(anchor)
        var g = anchor + 1 // zero-fill the calendar gap, no emission
        while (g < day) { push(0L); g += 1 }
        anchor = day; pending = n
      }
    }
    state.update(Array(anchor, pending, t, s, q) ++ first ++ last ++ p)
    out.iterator
  }

  /** The streaming ACF feed over the closed (event_type, day, n) daily
    * census: constant 5 + 3·maxLag longs of state per type, append
    * mode — emits a type's full lag-1..maxLag ACF table as each anchor
    * day closes, bit-identical to the batch monitor over the same
    * prefix. Late days AND days beyond the `maxGapDays` sanity horizon
    * count into the `acf_late_dropped` accumulator. */
  def acfMonitorStream(daily: Dataset[(String, Long, Long)],
      maxLag: Int = 7, maxGapDays: Long = 3650L,
      epochHorizonDays: Long = 100000L)
      : Dataset[(String, Long, Long, Long, Long, Option[Long])] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    implicit val outEnc: org.apache.spark.sql.Encoder[
        (String, Long, Long, Long, Long, Option[Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
        (String, Long, Long, Long, Long, Option[Long])]()
    val late = daily.sparkSession.sparkContext
      .longAccumulator("acf_late_dropped")
    daily.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Array[Long],
        (String, Long, Long, Long, Long, Option[Long])](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        acfUpdate(maxLag, (_, _) => late.add(1L), maxGapDays,
          epochHorizonDays))
  }

  /** State transition of the STREAMING transition-bigram feed — the
    * live twin of [[graft.operators.Relational.eventsTransitionMatrix]]:
    * per user, every event after the first emits its
    * (from_type, to_type) bigram; the matrix itself is then a plain
    * downstream count (batch over the emitted feed, or a second
    * watermarked agg for a live matrix). Per-user state is THREE
    * values — the last event's (ts_micros, event_id, event_type) — so
    * the feed runs at any user cardinality. Events inside one batch
    * are processed in (ts, event_id) order, matching the batch lag
    * window's frame exactly; cross-batch order is delivery order
    * (the [[ewmaUpdate]] contract — upstream ensures watermarked
    * time-ordered delivery, and the spec replays chunked batches). */
  def transitionUpdate(key: Long,
      rows: Iterator[(Long, Long, Long, String)],
      state: GroupState[(Long, Long, String)])
      : Iterator[(Long, String, String)] = {
    var last = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, eid, et) =>
      if (last != null) out += ((key, last._3, et))
      last = (ts, eid, et)
    }
    if (last != null) state.update(last)
    out.iterator
  }

  /** State transition of the STREAMING CUSUM level-shift monitor —
    * the bounded-state streaming twin of
    * [[graft.operators.Relational.eventsCusumShift]], completing the
    * monitor family (PSI, CMS, EWMA already have twins). The batch
    * detector's reset-at-zero recursion S_t = max(0, S_{t−1} + x_t)
    * equals P_t − min(0, min_{j≤t} P_j) over the running deviation sum
    * P, so the per-key streaming state is just TWO longs — (P, Pmin) —
    * plus the ≤`calDays` buffered calibration days: the batch twin
    * scores days 1..calDays retroactively with the calibration mean,
    * so the stream buffers them (bounded by construction) and emits
    * the backlog the moment the calibration window closes, after
    * which state is O(1) forever. Tracking Pmin from 0 (not +∞) bakes
    * in the batch side's `least(pmin, 0)` clamp exactly.
    *
    * Arithmetic is bit-identical to the batch query: mean_milli =
    * (Σn·1000) DIV calDays, dev = n·1000 − mean − mean DIV 20 (all
    * nonneg divisions, so Scala `/` == SQL `DIV`), shift at
    * cusum > 3·mean. Days inside one batch are processed in day
    * order; cross-batch order is the upstream watermarked window's
    * closure order, same contract as [[ewmaUpdate]]. */
  def cusumUpdate(calDays: Int)(key: String,
      rows: Iterator[(String, Long, Long)],
      state: GroupState[Array[Long]])
      : Iterator[(String, Long, Long, Long, Long, Boolean)] = {
    // state layout: [mean_milli | -1 while calibrating, p, pmin,
    //                nBuffered, day_1, n_1, ..., day_k, n_k]
    val st = state.getOption.getOrElse(Array(-1L, 0L, 0L, 0L))
    var mean = st(0); var p = st(1); var pmin = st(2)
    val buf = scala.collection.mutable.ArrayBuffer.tabulate(st(3).toInt)(i =>
      (st(4 + 2 * i), st(5 + 2 * i)))
    val out =
      scala.collection.mutable.ArrayBuffer[(String, Long, Long, Long, Long, Boolean)]()
    def score(day: Long, n: Long): Unit = {
      p += n * 1000 - mean - mean / 20
      pmin = math.min(pmin, p)
      val cusum = p - pmin // pmin ≤ 0 always: it starts at 0
      out += ((key, day, n, mean, cusum, cusum > 3 * mean))
    }
    rows.toSeq.sortBy(_._2).foreach { case (_, day, n) =>
      if (mean >= 0) score(day, n)
      else {
        buf += ((day, n))
        if (buf.size == calDays) {
          mean = buf.map(_._2).sum * 1000 / calDays
          buf.foreach { case (d, c) => score(d, c) }
          buf.clear()
        }
      }
    }
    state.update(
      Array(mean, p, pmin, buf.size.toLong) ++
        buf.flatMap { case (d, n) => Seq(d, n) })
    out.iterator
  }

  /** The streaming CUSUM level-shift monitor over closed (event_type,
    * day, n) daily counts: O(1) longs of state per key after the
    * bounded calibration buffer drains — the monitor a 100 TB ingest
    * runs continuously where [[graft.operators.Relational
    * .eventsCusumShift]] is the backfill/audit form. Emits exactly the
    * batch twin's rows for any key whose series reaches `calDays`
    * days (StreamSubstrateSpec pins stream == batch across
    * micro-batch boundaries); a shorter series stays buffered — a
    * stream cannot know the series ended, where the batch query
    * calibrates on whatever prefix exists. */
  def cusumShiftStream(daily: Dataset[(String, Long, Long)],
      calDays: Int = 14)
      : Dataset[(String, Long, Long, Long, Long, Boolean)] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    implicit val outEnc
        : org.apache.spark.sql.Encoder[(String, Long, Long, Long, Long, Boolean)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Long, Long, Long, Long, Boolean)]()
    daily.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Array[Long], (String, Long, Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(cusumUpdate(calDays))
  }

  /** State transition of the STREAMING conversion funnel — the live
    * twin of [[graft.operators.Relational.eventsFunnel]], completing
    * the events family's batch↔stream pairing (transition matrix,
    * CUSUM, EWMA, PSI, CMS already have twins). Per-user state is
    * THREE longs — the locked-in (view_us, click_us, purchase_us),
    * −1 while unset — and a row emits ONLY when the user's funnel
    * advances, so the output feed is at most 3 rows per user ever,
    * and the LAST row per user equals the batch query's row.
    *
    * With time-ordered delivery (the [[ewmaUpdate]] contract:
    * upstream watermarked ordering; in-batch rows are sorted by
    * (ts, event_id) here) the batch semantics reduce to first-match
    * locking: the first view fixes view_us = min(view), the first
    * click inside (view_us, view_us + window] fixes click_us — later,
    * smaller qualifying clicks cannot exist in event-time order —
    * and likewise for purchase. */
  def funnelUpdate(windowUs: Long)(key: Long,
      rows: Iterator[(Long, Long, Long, String)],
      state: GroupState[Array[Long]])
      : Iterator[(Long, Long, Option[Long], Option[Long], Long)] = {
    val st = state.getOption.getOrElse(Array(-1L, -1L, -1L))
    var view = st(0); var click = st(1); var purchase = st(2)
    val out = scala.collection.mutable
      .ArrayBuffer[(Long, Long, Option[Long], Option[Long], Long)]()
    // at IDENTICAL timestamps the batch query's >= bounds let a click
    // (purchase) qualify against a same-instant view (click) no matter
    // the event-id order — replay that by ranking types at equal ts
    def typeRank(et: String): Int = et match {
      case "view" => 0; case "click" => 1; case "purchase" => 2; case _ => 3
    }
    rows.toSeq.sortBy(r => (r._2, typeRank(r._4), r._3)).foreach { case (_, us, _, et) =>
      val changed = et match {
        case "view" if view < 0 =>
          view = us; true
        case "click" if view >= 0 && click < 0 &&
            us >= view && us <= view + windowUs =>
          click = us; true
        case "purchase" if click >= 0 && purchase < 0 &&
            us >= click && us <= click + windowUs =>
          purchase = us; true
        case _ => false
      }
      if (changed) {
        val stage = 1L + (if (click >= 0) 1L else 0L) +
          (if (purchase >= 0) 1L else 0L)
        out += ((key, view,
          if (click >= 0) Some(click) else None,
          if (purchase >= 0) Some(purchase) else None, stage))
      }
    }
    state.update(Array(view, click, purchase))
    out.iterator
  }

  /** The streaming conversion funnel over raw events
    * `(user_id, ts_micros, event_id, event_type)`: 3 longs of state
    * per user, append-mode output of funnel ADVANCES only. */
  def funnelStream(events: Dataset[(Long, Long, Long, String)],
      windowUs: Long = 3600L * 1000000L)
      : Dataset[(Long, Long, Option[Long], Option[Long], Long)] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    implicit val outEnc
        : org.apache.spark.sql.Encoder[(Long, Long, Option[Long], Option[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Option[Long], Option[Long], Long)]()
    events.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[Array[Long], (Long, Long, Option[Long], Option[Long], Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(funnelUpdate(windowUs))
  }

  /** Cross-batch distinct-count sketch per key: the STREAMING twin of
    * the batch `kmv_sketch` aggregate ([[graft.plans.KmvSketch]]) —
    * e.g. "distinct users per event type so far" refreshed every
    * micro-batch in update mode, without keeping the distinct set
    * itself in the state store. Input: (key, portable-hash) pairs. */
  def streamingKmv(keyed: Dataset[(String, Long)], k: Int = 64): Dataset[(String, Int, Long, Double)] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Int, Long, Double)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Int, Long, Double)]()
    keyed.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .mapGroupsWithState[Array[Long], (String, Int, Long, Double)](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Array[Long]]) =>
          kmvUpdate(key, k, rows.map(_._2), state)
      }
  }
}
