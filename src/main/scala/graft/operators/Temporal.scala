package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Temporal join operators Spark has no built-in form of: backward
  * AS-OF join and interval (range) join.
  *
  * Both are expressed as compositions of shuffle-friendly primitives
  * rather than the naive inequality join (which Spark can only plan as
  * a broadcast-nested-loop — O(n·m) compares and a single-executor
  * bottleneck once the build side stops fitting in memory):
  *
  *  - AS-OF: union both sides, one window pass per key — a SINGLE
  *    shuffle on the join key, no join operator at all. The running
  *    `last(_, ignoreNulls)` over (ts, side) ordering is exactly the
  *    merge step of a sort-merge as-of join, but planned as a window
  *    so Spark handles spill/sort per key group. This is the shape
  *    that survives 100 TB: cost = one repartition + per-partition
  *    sort, identical to what any hand-written mergesort-join would
  *    pay, with no driver-side state.
  *  - RANGE: quantize time into fixed-width bins; intervals explode to
  *    the bins they cover, points map to exactly one bin, equi-join on
  *    the bin key, then re-check the precise predicate. Turns the
  *    nested loop into a hash/sort-merge equi-join whose key space is
  *    time bins — the standard interval-join design in streaming
  *    engines. Bin width is chosen ≈ interval length so each interval
  *    covers ≤ 2 bins (duplication factor ≤ 2); AQE splits hot bins.
  */
object Temporal {

  /** Backward as-of join: for each `left` row, attach the payload of
    * the LATEST `right` row with the same `keys` and `right.tsCol <=
    * left.tsCol` (nulls when no such row). Right payload = every right
    * column except keys/ts, plus the matched timestamp as
    * `matched_<tsCol>`; callers rename collisions beforehand.
    *
    * `right` must be unique per (keys, ts) — pre-aggregate if not —
    * which makes the result deterministic: ties between a right and a
    * left row at the same ts resolve right-first (>= semantics, same
    * as DuckDB/Pandas ASOF).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val payload = right.columns.filterNot(c => keys.contains(c) || c == tsCol).toSeq
    require(payload.nonEmpty, "right side needs at least one payload column")
    val rv = struct((col(tsCol).as("__rts") +: payload.map(col)): _*)
    val r = right.select(keys.map(col) ++ Seq(col(tsCol), rv.as("__rv"), lit(0).as("__side")): _*)
    val l = left.withColumn("__side", lit(1))
    val u = r.unionByName(l, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        (col("__m.__rts").as(s"matched_$tsCol") +: payload.map(p => col(s"__m.$p").as(p))): _*)
  }

  /** Interval (range) join via time-bin blocking: every `points` row
    * whose `ptsCol` falls in `[startCol, endCol)` of an `intervals`
    * row. Output = interval columns ++ point columns (inner join).
    * `binSeconds` should be ≈ the typical interval length (see object
    * doc); correctness does not depend on it, only the duplication
    * factor of the exploded interval side.
    */
  def rangeJoinBinned(points: DataFrame, intervals: DataFrame, ptsCol: String,
      startCol: String, endCol: String, binSeconds: Long): DataFrame = {
    val binUs = binSeconds * 1000000L
    val p = points.withColumn("__bin", floor(unix_micros(col(ptsCol)) / binUs))
    val i = intervals.withColumn("__bin", explode(sequence(
      floor(unix_micros(col(startCol)) / binUs),
      // end is exclusive: the last covered bin holds end - 1µs
      floor((unix_micros(col(endCol)) - 1) / binUs))))
    i.join(p, Seq("__bin"))
      .filter(col(ptsCol) >= col(startCol) && col(ptsCol) < col(endCol))
      .drop("__bin")
  }

  /** INTERVAL-OVERLAP join via bin blocking — the interval×interval
    * sibling of [[rangeJoinBinned]] (genomics overlap joins, outage ×
    * session attribution): every (a, b) pair with
    * `aStart < bEnd && bStart < aEnd`. Both sides explode to the
    * `binSeconds` bins their interval covers and equi-join on the bin;
    * a pair sharing several bins is kept EXACTLY ONCE by the
    * responsibility rule — only the FIRST shared bin
    * (`max(aBin₀, bBin₀)`, which both sides necessarily cover when
    * they overlap) emits the pair — so no DISTINCT pass over the pair
    * stream is needed.
    *
    * Scale: the pair space collapses from |A|·|B| (a
    * BroadcastNestedLoopJoin) to Σ per-bin |A_bin|·|B_bin| via a
    * shuffle-keyed equi-join; duplication factor ≈ interval/bin
    * length, so set `binSeconds` near the typical interval. Skewed
    * bins (an outage spike) ride AQE's skew split like any equi-join. */
  def overlapJoinBinned(a: DataFrame, b: DataFrame,
      aStart: String, aEnd: String, bStart: String, bEnd: String,
      binSeconds: Long): DataFrame = {
    val binUs = binSeconds * 1000000L
    def bins(s: String, e: String) = sequence(
      floor(unix_micros(col(s)) / binUs),
      floor((unix_micros(col(e)) - 1) / binUs))
    // Empty/inverted intervals overlap nothing (strict s < e semantics)
    // and MUST be dropped before the explode: for s == e the bin range
    // is [floor(s/W), floor((s-1)/W)] and Spark's `sequence` would
    // count DOWN instead of returning empty (the same trap the BPE
    // pair counter guards against).
    val ax = a.filter(col(aStart) < col(aEnd))
      .withColumn("__abin0", floor(unix_micros(col(aStart)) / binUs))
      .withColumn("__bin", explode(bins(aStart, aEnd)))
    val bx = b.filter(col(bStart) < col(bEnd))
      .withColumn("__bbin0", floor(unix_micros(col(bStart)) / binUs))
      .withColumn("__bin", explode(bins(bStart, bEnd)))
    ax.join(bx, Seq("__bin"))
      .filter(col(aStart) < col(bEnd) && col(bStart) < col(aEnd) &&
        col("__bin") === greatest(col("__abin0"), col("__bbin0")))
      .drop("__bin", "__abin0", "__bbin0")
  }

  /** Declared query: error incidents (10-min windows after each error)
    * overlap-joined against high-value purchase windows (30 min after
    * each purchase with value ≥ 100), aggregated per incident with the
    * EXACT total overlap duration in µs — outage × revenue-activity
    * attribution, the classic interval-overlap workload. */
  def overlapIncidentPurchases(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    def win(filtered: DataFrame, idAs: String, lenUs: Long, cols: Column*) =
      filtered.select(Seq(col("event_id").as(idAs), col("ts").as(s"${idAs}_start"),
        timestamp_micros(unix_micros(col("ts")) + lenUs).as(s"${idAs}_end")) ++ cols: _*)
    val incidents = win(events.filter(col("event_type") === "error"),
      "incident", 600L * 1000000L)
    val purchases = win(
      events.filter(col("event_type") === "purchase" && col("value") >= 100),
      "purchase", 1800L * 1000000L, col("user_id"))
    overlapJoinBinned(incidents, purchases,
        "incident_start", "incident_end", "purchase_start", "purchase_end",
        binSeconds = 1800)
      .withColumn("overlap_us",
        least(unix_micros(col("incident_end")), unix_micros(col("purchase_end"))) -
          greatest(unix_micros(col("incident_start")), unix_micros(col("purchase_start"))))
      .groupBy(col("incident"))
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("overlap_us")).as("total_overlap_us"))
  }

  /** Declared query: for each error event, the most recent click by the
    * same user at-or-before it (clicks pre-deduped to one per (user,
    * ts) so the match is unique). Timestamps emitted as epoch µs. */
  def asofLastClick(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("err_value"))
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    asofJoin(errors, clicks, Seq("user_id"), "ts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("err_us"), col("err_value"),
        unix_micros(col("matched_ts")).as("click_us"), col("click_value"))
  }

  /** [[asofLastClick]] through the NATIVE as-of operator
    * ([[graft.plans.AsofJoinNative]]: logical node → strategy →
    * sort-merge exec) instead of the union+window composition — same
    * inputs, same oracle, so the DuckDB gate proves the custom exec
    * row-for-row equal to both the composed form and DuckDB's own
    * ASOF JOIN. */
  def asofLastClickNative(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("err_value"))
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    graft.plans.AsofJoinNative.asofJoin(errors, clicks, Seq("user_id"), "ts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("err_us"), col("err_value"),
        unix_micros(col("matched_ts")).as("click_us"), col("click_value"))
  }

  /** Declared query: for each error event, the NEXT click by the same
    * user at-or-after it — the FORWARD direction of the native as-of
    * exec ([[graft.plans.AsofJoinNative]]). Same merge pass as
    * backward: the forward candidate is the buffered head, O(1) state,
    * identical shuffle/sort requirements. Oracle = DuckDB ASOF with the
    * inequality flipped (`e.ts <= c.ts`). */
  def asofNextClickNative(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("err_value"))
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    graft.plans.AsofJoinNative.asofJoin(errors, clicks, Seq("user_id"), "ts",
        direction = "forward")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("err_us"), col("err_value"),
        unix_micros(col("matched_ts")).as("click_us"), col("click_value"))
  }

  /** Declared query: for each error event, the NEAREST click by the
    * same user within ±10 minutes (ties at equal distance go backward,
    * the pandas `merge_asof` convention) — nearest direction +
    * tolerance of the native as-of exec. Oracle = both DuckDB ASOF
    * directions + a CASE picking the closer in-tolerance candidate. */
  def asofNearestClickNative(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("err_value"))
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    graft.plans.AsofJoinNative.asofJoin(errors, clicks, Seq("user_id"), "ts",
        direction = "nearest", tolerance = Some(600L * 1000000L))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("err_us"), col("err_value"),
        unix_micros(col("matched_ts")).as("click_us"), col("click_value"))
  }

  /** Declared query: each error event opens a 10-minute incident
    * window; count/aggregate the OTHER events falling inside it
    * (exact-decimal sum so the oracle matches bit-for-bit). Incidents
    * with no other events drop (inner join). */
  def rangeIncidentStats(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val windowUs = 600L * 1000000L
    val incidents = events.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("ts").as("start_ts"),
        timestamp_micros(unix_micros(col("ts")) + windowUs).as("end_ts"))
    rangeJoinBinned(events, incidents, "ts", "start_ts", "end_ts", binSeconds = 600)
      .filter(col("event_id") =!= col("incident_id"))
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }

  /** [[rangeIncidentStats]] written the NAIVE way — a plain inequality
    * join, the shape a user actually types — and rescued at plan time
    * by [[graft.plans.RangeJoinRule]]: the optimizer rule rewrites the
    * would-be BroadcastNestedLoopJoin into the bin-blocked equi-join.
    * Same oracle as the explicit-binning twin, so the DuckDB gate
    * proves the rewrite is semantics-free. */
  def rangeIncidentStatsRule(spark: SparkSession, sfDir: String): DataFrame = {
    // Scope the bin-width conf to THIS query by building it on an
    // ISOLATED child session (shared SparkContext, isolated SQL conf +
    // optimizer registrations). The returned Dataset stays bound to the
    // child session, so EVERY later (re-)optimization — including the
    // fresh QueryExecution that `df.write...save()` creates — sees the
    // width conf and applies the rewrite, while unrelated inequality
    // joins on the caller's session are never touched. (Round-6 lesson:
    // forcing `queryExecution.optimizedPlan` under a temporarily-set
    // conf pins only direct actions; write paths re-plan from the
    // logical plan and had silently fallen back to the O(n·m) loop.)
    val session = spark.newSession()
    graft.plans.RangeJoinRule.register(session)
    session.conf.set(graft.plans.RangeJoinRule.WidthConf, (600L * 1000000L).toString)
    val events = Tables.events(session, sfDir)
    val windowUs = 600L * 1000000L
    val incidents = events.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("ts").as("start_ts"),
        timestamp_micros(unix_micros(col("ts")) + windowUs).as("end_ts"))
    val other = events.select("event_id", "ts", "user_id", "value")
    incidents.join(other,
        col("ts") >= col("start_ts") && col("ts") < col("end_ts") &&
          col("event_id") =!= col("incident_id"))
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }

  /** CLASS-D OUTPUT ADVISOR for the interval-join family: the range
    * joins (`range_incident_stats`/`range_join_rule`)
    * are CORRECT and bin-blocked, but their OUTPUT grows ~quadratically
    * with event density (the scaling audit measured 101× output growth per
    * 10× input) — at 100 TB that's a fact a job must be able to QUERY
    * before paying for it, exactly like [[graft.operators.Skew
    * .skewAdvisor]] for salting. Per 10-minute bin of the incident
    * join: points in the bin, incident intervals covering it, the
    * bin-blocked join's pre-filter pair bound |points|·|intervals|
    * (what the equi-join materializes before the exact [start, end)
    * filter), the ACTUAL qualifying pairs, and the realized
    * selectivity in milli — Σ est_pairs is the cost estimate, Σ
    * actual_pairs the output size, and a handful of hot bins carrying
    * most of the mass is the signal to split the run or pre-aggregate.
    *
    * Scale shape: two single-scan (bin)-keyed counts (map-side
    * combined) + the audited bin-blocked join aggregated per bin —
    * the advisor costs ONE run of the join it prices; a deployment
    * caching `range_incident_stats` gets it for a reused scan. Bins
    * with only one side present estimate (and produce) zero pairs and
    * drop out (inner join on the two censuses). */
  def rangeOutputAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val windowUs = 600L * 1000000L
    val ev = events.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("bin", expr(s"us DIV $windowUs"))
    val inc = events.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"),
        unix_micros(col("ts")).as("start_us"))
      .withColumn("end_us", col("start_us") + windowUs)
    val pb = ev.groupBy(col("bin")).agg(count(lit(1)).as("n_points"))
    val ib = inc
      .withColumn("bin", explode(sequence(
        expr(s"start_us DIV $windowUs"), expr(s"(end_us - 1) DIV $windowUs"))))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_intervals"))
    val act = ev
      .join(inc
          .withColumn("bin", explode(sequence(
            expr(s"start_us DIV $windowUs"), expr(s"(end_us - 1) DIV $windowUs")))),
        Seq("bin"))
      .filter(col("us") >= col("start_us") && col("us") < col("end_us") &&
        col("event_id") =!= col("incident_id"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_act"))
    pb.join(ib, Seq("bin"))
      .join(act, Seq("bin"), "left")
      .select(col("bin"), col("n_points"), col("n_intervals"),
        (col("n_points") * col("n_intervals")).as("est_pairs"),
        coalesce(col("n_act"), lit(0L)).as("actual_pairs"),
        expr("coalesce(n_act, 0) * 1000 DIV (n_points * n_intervals)")
          .as("sel_milli"))
  }
}
