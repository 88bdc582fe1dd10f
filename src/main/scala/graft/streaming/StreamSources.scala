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
