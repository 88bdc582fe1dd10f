package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational substrate: the reference's operator inventory (SURVEY.md §2)
  * re-expressed as declarative DataFrame programs over the TESTDATA tables,
  * plus TPC-H-shaped headline queries for the bench.
  *
  * Scale notes (100 TB):
  *  - every dimension join (`nation`, `region`, `customer` at small SF) is
  *    broadcast-hinted; fact-fact joins shuffle on their equi-keys and rely
  *    on AQE for skew handling;
  *  - aggregates are partial (map-side combine) by construction — plain
  *    `groupBy().agg()` of algebraic functions;
  *  - filters/projections are plain `Column` expressions so they reach the
  *    parquet scan (PushedFilters / ReadSchema).
  *
  * Money/quantity aggregates go through `decimal(18,2)` so that sums are
  * exact and engine-order-independent (double summation order differs
  * between partitions/engines); results are surfaced as rounded doubles.
  */
object Relational {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def asDouble(c: Column): Column = round(c, 2).cast("double")

  // ---------------------------------------------------------------------
  // Headline TPC-H-shaped queries (bench + correctness)
  // ---------------------------------------------------------------------

  /** Q1-shaped pricing summary: single scan, partial+final hash agg.
    * Ref analogue: A1/A2 size+count aggregation (scicat_dataset.py:907-910).
    */
  def q1Pricing(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        asDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
        asDouble(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        asDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))).as("sum_disc_price"),
        PortableRound.pround(sum(dec(col("l_quantity"))).cast("double") / count(lit(1)), 2).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q3-shaped shipping priority: broadcast dim filter, two shuffles, top-k.
    * Deterministic top-k: tie-break on o_orderkey.
    */
  def q3Shipping(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, sfDir).filter(col("o_orderdate") < lit("1995-03-15"))
    val li = Tables.lineitem(spark, sfDir).filter(col("l_shipdate") > lit("1995-03-15"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(asDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))).as("revenue"))
      .select(col("l_orderkey"), asDate(col("o_orderdate")).as("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q5-shaped local-supplier volume: full star join through
    * nation→region, all dims broadcast. */
  def q5Region(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1994-01-01") && col("o_orderdate") < lit("1996-01-01"))
    val li = Tables.lineitem(spark, sfDir)
    val sup = Tables.supplier(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir).filter(col("r_name").isin("ASIA", "EUROPE"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust.select(col("c_custkey"), col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(asDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q6-shaped forecasting-revenue change: the pure scan-and-aggregate
    * query — no join at all, so it measures raw pushdown + codegen'd
    * predicate throughput (dates shifted to this dataset's 1995-2001
    * range). */
  def q6Forecast(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(
        asDouble(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Q10-shaped returned-item reporting: fact-fact join + broadcast
    * dims + deterministic top-20 by revenue. */
  def q10Returns(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-04-01"))
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(asDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q18-shaped large-volume customers: the having-on-aggregate shape —
    * per-order quantity rollup feeds a semi-filter on the fact side
    * before the dimension joins. */
  def q18BigOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("tot_qty"))
      .filter(col("tot_qty") > 300)
    big.join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        asDate(col("o_orderdate")).as("o_orderdate"), col("o_totalprice"),
        asDouble(col("tot_qty")).as("tot_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q14-shaped promo revenue: lineitem × part with conditional
    * aggregation (covers the `part` table + case-aggregate shape). */
  def q14Promo(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") < lit("1995-07-01"))
    val part = Tables.part(spark, sfDir)
    val rev = dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        asDouble(sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0).cast("decimal(18,2)")))).as("promo_revenue"),
        asDouble(sum(rev)).as("total_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  /** Weekly cohort retention matrix — the classic product-analytics
    * companion to [[eventsFunnel]]/[[sessionize]]: users are cohorted by
    * their first active week, and each later active week counts into
    * (cohort_week, week_offset). All-integer epoch-week arithmetic
    * (floor divisions), so the oracle matches without rounding
    * discipline.
    *
    * Scale notes: the raw event stream collapses to DISTINCT
    * (user, week) FIRST (map-side combined — the 100 TB event volume
    * never reaches the window); the per-user min-week window rides the
    * user-keyed shuffle; the final (cohort, offset) agg is tiny. */
  def eventsRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 604800000000").as("wk"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    uw.withColumn("cohort_week", min(col("wk")).over(w))
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** 7-day sliding WAU (weekly-active-users per report day) — the
    * sliding DISTINCT-count window SQL engines can't express as a
    * window function (COUNT(DISTINCT) OVER a RANGE frame is
    * unsupported in Spark and most engines). The relational rewrite:
    * collapse to distinct (user, day), fan each user-day out to the 7
    * report days it contributes to (bounded explode), then a
    * two-level distinct count per report day. All-integer epoch-day
    * arithmetic.
    *
    * Scale notes: the 100 TB event stream collapses map-side to
    * (user, day) FIRST; the ×7 fan-out is bounded and narrow; the
    * (report_day, user) distinct collapses map-side again before the
    * only wide shuffle. Report days trimmed to full windows the data
    * can support (no partial leading windows). */
  def eventsWau(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
    val bounds = ud.agg(min(col("day")).as("min_day"), max(col("day")).as("max_day"))
    ud.select(col("user_id"), col("day"),
        explode(sequence(col("day"), col("day") + 6)).as("report_day"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .crossJoin(broadcast(bounds))
      // full windows only: report_day covers [report_day-6, report_day]
      .filter(col("report_day") >= col("min_day") + 6 &&
        col("report_day") <= col("max_day"))
      .select(col("report_day"), col("wau"))
  }

  /** Daily event-volume anomaly report (the monitoring query behind
    * every ingestion dashboard): every day with its count, signed
    * deviation, and 3σ / 1σ spike flags. The tests are EXACT integer
    * cross-multiplication — with n days, S = Σc, Q = Σc², day d
    * exceeds kσ iff (n·c_d − S)² > k²·(n·Q − S²) — algebraically
    * identical to (c_d − μ)² > k²σ² but with no float, no sqrt, no
    * rounding discipline. The squared terms are computed in
    * DECIMAL(38,0) (the oracle mirrors with HUGEINT): S² wraps a Long
    * past S ≈ 3·10⁹ total events, while decimal/int128 stay exact up
    * to 10³⁸ — far beyond any corpus. `dev_num` (n·c−S ≲ 10¹⁶ for
    * 10¹² events over 10⁴ days) still fits a Long and ships as one.
    *
    * Scale notes: events collapse map-side to one row per day
    * (checkpointed — consumed by the moment aggregate AND the report);
    * the (n, S, Q) moment row broadcasts back — the classic two-pass
    * variance without any driver collect. */
  def eventsSpikeDays(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // Q must cast to decimal BEFORE the per-row multiply-and-sum:
    // Σc² in Long wraps past 9.2·10¹⁸ (10¹² events over 10⁴ days →
    // Σc² ≈ 10²⁰) silently with ANSI off. Per-row c² ≤ 10³⁶ fits
    // DECIMAL(38,0) for any Long count.
    val cQ = col("c").cast("decimal(38,0)")
    val moments = daily.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("c")).cast("decimal(38,0)").as("s"),
      sum(cQ * cQ).as("q"))
    val cD = col("c").cast("decimal(38,0)")
    val dev = col("n") * cD - col("s")
    val devSq = dev * dev
    val varN = col("n") * col("q") - col("s") * col("s")
    daily.crossJoin(broadcast(moments))
      .select(col("day"), col("c").as("n_events"),
        dev.cast("long").as("dev_num"),
        (devSq > lit(9L) * varN).as("spike_3sigma"),
        (devSq > varN).as("over_1sigma"))
  }

  /** EWMA BURST DETECTOR over the per-type daily event series — the
    * ingest-monitoring twin of [[eventsSpikeDays]] (which compares
    * every day to the GLOBAL mean): each day is compared to an
    * exponentially-weighted moving average of the preceding days, so
    * a slow seasonal ramp is absorbed while a sudden burst (crawler
    * loop, backfill replay, bot traffic) trips the flag. α = 1/4 with
    * a 7-row horizon; the geometric weights (3/4)^(j−1) are carried as
    * the EXACT integers 3^(j−1)·4^(7−j) (w₁..w₇ = 4096, 3072, 2304,
    * 1728, 1296, 972, 729), so the weighted sum, the normalizing
    * total over the PRESENT lags (series heads have fewer), and the
    * milli-scaled EWMA are all long arithmetic — bit-replicable in
    * the oracle, no float smoothing state anywhere. "Preceding days"
    * is ROWS-based over the observed series (a day with zero events
    * produces no row and drops out of the window — documented
    * semantics, mirrored in the oracle).
    *
    * Scale shape: one map-side-combined (type, day) count — the only
    * corpus-sized pass — then 7 `lag`s over a (type)-partitioned
    * window of the tiny daily series. The flag is the integer cross-
    * multiply n·W > 2·S (i.e. the day is more than 2× its EWMA). */
  def eventsEwmaAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weights = Seq.tabulate(7)(j =>
      math.pow(3, j).toLong * math.pow(4, 6 - j).toLong)
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = weights.zipWithIndex.foldLeft(daily) { case (df, (wt, j)) =>
      df.withColumn(s"l${j + 1}", lag(col("n"), j + 1).over(w) * wt)
        .withColumn(s"p${j + 1}",
          when(lag(col("n"), j + 1).over(w).isNotNull, wt).otherwise(0L))
    }
    val s = (1 to 7).map(j => coalesce(col(s"l$j"), lit(0L))).reduce(_ + _)
    val wTot = (1 to 7).map(j => col(s"p$j")).reduce(_ + _)
    lagged
      .withColumn("s", s).withColumn("w_tot", wTot)
      .select(col("event_type"), col("day"), col("n"),
        when(col("w_tot") > 0, expr("(s * 1000) DIV w_tot"))
          .otherwise(lit(null).cast("long")).as("ewma_milli"),
        (col("w_tot") > 0 && col("n") * col("w_tot") > lit(2L) * col("s"))
          .as("is_burst"))
  }

  /** CUSUM LEVEL-SHIFT DETECTOR over the per-type daily series — the
    * third member of the monitor family and a genuinely different
    * detector class: [[eventsSpikeDays]] flags single outlier days
    * against the global mean, [[eventsEwmaAnomaly]] flags bursts
    * against recent history, CUSUM (the classic SPC chart) accumulates
    * SMALL SUSTAINED deviations until a level shift — a +10% volume
    * step no single day of which is remarkable — crosses the decision
    * threshold. Reference level is the mean of each type's first
    * `calDays` observed days (exact integer milli), slack is 5% of it
    * (the standard "allowance" that absorbs noise), threshold is 3
    * reference-days of accumulated drift.
    *
    * The reset-at-zero recursion S_t = max(0, S_{t−1} + x_t) is NOT
    * computed recursively: it equals P_t − min(0, min_{j≤t} P_j) for
    * the running sum P — two ordinary cumulative windows — so the
    * whole detector is declarative, integer-exact, and replays
    * bit-for-bit in the oracle (no recursive CTE on either engine).
    *
    * Scale shape: one map-side (type, day) count is the only
    * corpus-sized pass; calibration is a broadcast |types|-row table;
    * the two cumulative windows run (type)-partitioned over the tiny
    * daily series. */
  def eventsCusumShift(spark: SparkSession, sfDir: String,
      calDays: Int = 14): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cal = daily.withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= calDays)
      .groupBy(col("event_type"))
      .agg(expr("(sum(n) * 1000) DIV count(1)").as("mean_milli"))
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(cal), "event_type")
      .withColumn("dev_milli",
        col("n") * 1000 - col("mean_milli") - expr("mean_milli DIV 20"))
      .withColumn("p", sum(col("dev_milli")).over(cum))
      .withColumn("pmin", min(col("p")).over(cum))
      .withColumn("cusum_milli", col("p") - least(col("pmin"), lit(0L)))
      .withColumn("is_shift", col("cusum_milli") > lit(3L) * col("mean_milli"))
      .select(col("event_type"), col("day"), col("n"), col("mean_milli"),
        col("cusum_milli"), col("is_shift"))
  }

  /** MEDIAN/MAD ROBUST OUTLIER DAYS — the fourth monitor-family member
    * and the robust-statistics counterpart of [[eventsSpikeDays]]: the
    * spike detector's mean/stddev gate is itself dragged by the
    * outliers it hunts (one 100× day inflates σ enough to hide the
    * 10× days), while the median and the Median Absolute Deviation
    * have a 50% breakdown point. A day is flagged when
    * |n − median| > 3·MAD (the classic Hampel rule). Medians are the
    * DISCRETE lower median — the value at rank (cnt+1) DIV 2 in
    * (value, day) order — so every number is an integer shared
    * bit-for-bit with the oracle (no interpolated percentile, whose
    * halving differs across engines).
    *
    * Scale shape: the one corpus-sized pass is the map-side-combined
    * (type, day) count; both median extractions are row_number windows
    * PARTITIONED by type over the tiny daily table (days × types
    * rows — calendar-bounded, never data-sized), joined back as
    * |types|-row broadcasts. */
  def eventsMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // consumed by three plans below
    def lowerMedian(df: DataFrame, value: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col(value), col("day"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("rn") === expr("(cnt + 1) DIV 2"))
        .select(col("event_type"), col(value).as(out))
    }
    val med = lowerMedian(daily, "n", "med")
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("n") - col("med")))
    val mad = lowerMedian(dev, "adev", "mad")
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
        (col("adev") > lit(3L) * col("mad")).as("is_outlier"))
  }

  /** DECAYED TRENDING TOP-K — "what's hot right now" over the event
    * stream: per (event_type, item) where item is the `k` field of the
    * JSON props, an exponentially-decayed count with a 7-day half-life
    * anchored at the newest day in the table. The decay weight is the
    * EXACT integer `1000000 >> (age_days DIV 7)` — a true power-of-two
    * half-life, so every score is a plain long both engines sum
    * identically (no float decay drift), and items older than
    * 20 half-lives contribute exactly zero. The zero is enforced by an
    * explicit horizon clamp, not by the shift alone: Java/Spark
    * `shiftright` masks the shift amount to 6 bits, so an un-clamped
    * day ≥ 64 half-lives older than the anchor would WRAP back to full
    * weight — the clamp keeps every score exact on histories of any
    * span, and the oracle SQL states the same clamp.
    *
    * Scale shape: ONE corpus-sized pass — the map-side-combined
    * (type, item, day) count; the max-day anchor is a 1-row broadcast;
    * the rank window is PARTITIONED by event_type over the
    * (items × days)-bounded census, never over raw events. */
  def eventsTrendingDecay(spark: SparkSession, sfDir: String,
      halfLifeDays: Long = 7, topK: Int = 10): DataFrame =
    trendingDecayOf(Tables.events(spark, sfDir), halfLifeDays, topK)

  /** Same, over a caller-supplied events slice — the prefix-restricted
    * form the streaming-twin spec compares each closed anchor against
    * (the [[TextAnalysis.winnowFingerprints]] factoring discipline). */
  def trendingDecayOf(events: DataFrame,
      halfLifeDays: Long = 7, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("item"), col("day"))
      .agg(count(lit(1)).as("n"))
    val anchor = daily.agg(max(col("day")).as("max_day"))
    val scored = daily.crossJoin(broadcast(anchor))
      .withColumn("w_micro", expr(
        s"CASE WHEN (max_day - day) DIV $halfLifeDays >= 20 THEN 0L ELSE " +
          s"shiftright(1000000L, CAST((max_day - day) DIV $halfLifeDays AS INT)) END"))
      .groupBy(col("event_type"), col("item"))
      .agg(sum(col("n") * col("w_micro")).as("score_micro"),
        sum(col("n")).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("score_micro").desc, col("item"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("event_type"), col("rank"), col("item"),
        col("score_micro"), col("n_events"))
  }

  /** LAG-k AUTOCORRELATION of the daily event count per type — the
    * ACF profile (Box & Jenkins) completing the seasonality family:
    * [[eventsSeasonalityStrength]] tests ONE candidate period by
    * ANOVA, [[eventsDowProfile]] assumes the weekly one; the ACF
    * measures every lag 1..`maxLag` directly, the standard
    * period-discovery step before either. Exact integer end-to-end:
    * over the CALENDAR spine (missing days count 0 — gaps are real
    * signal, not absent rows), the centered deviation is the
    * integer `dev_t = T·x_t − S` (T spine days, S total events — the
    * spike-days discipline, mean-centering without division), so
    *   acf_milli(k) = (1000 · Σ dev_t·dev_{t+k}) DIV Σ dev_t²
    * is a plain integer ratio, sign-safe-DIV'd on both engines
    * (numerator may be negative; |num| ≤ den by Cauchy–Schwarz, so
    * the quotient fits trivially — the 1000·num product routes
    * through DECIMAL(38,0) so the long-overflow ceiling is the den
    * SUM, ~2⁶³/(T·x_max²), documented headroom at any test SF).
    * den = 0 (a constant series) yields NULL, never a division error.
    *
    * Scale shape: one map-side-combined daily census, a per-type
    * 2-row-broadcast spine explode, ONE (type, day)-keyed equi
    * self-join fanned per lag (census × maxLag rows, never raw
    * events), and a (type, lag) aggregate. */
  def eventsAcf(spark: SparkSession, sfDir: String, maxLag: Int = 7): DataFrame =
    acfOf(Tables.events(spark, sfDir)
      .select(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n")), maxLag)

  /** Same, over a caller-supplied (event_type, day, n) daily census —
    * spec-testable on synthetic series with known ACF. */
  def acfOf(daily: DataFrame, maxLag: Int = 7): DataFrame = {
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"), explode(expr("sequence(mn, mx)")).as("day"))
    val x = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("x"))
      .localCheckpoint(eager = false) // feeds stats + both lag-join sides
    val stats = x.groupBy(col("event_type"))
      .agg(count(lit(1)).as("t_days"), sum(col("x")).as("s"))
    val dev = x.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("day"),
        (col("t_days") * col("x") - col("s")).as("dev"))
      .localCheckpoint(eager = false)
    val den = dev.groupBy(col("event_type"))
      .agg(sum(col("dev") * col("dev")).as("den"))
    val lags = daily.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("lag"))
    val num = dev.crossJoin(broadcast(lags))
      .select(col("event_type"), (col("day") + col("lag")).as("day2"),
        col("lag"), col("dev"))
      .join(dev.select(col("event_type"), col("day").as("day2"),
        col("dev").as("dev2")), Seq("event_type", "day2"))
      .groupBy(col("event_type"), col("lag"))
      .agg(sum(col("dev") * col("dev2")).as("num"))
    num.join(broadcast(den), "event_type")
      .select(col("event_type"), col("lag"), col("num"), col("den"),
        expr("""CASE WHEN den = 0 THEN NULL
                WHEN num >= 0 THEN CAST((1000 * CAST(num AS DECIMAL(38,0))) DIV den AS BIGINT)
                ELSE -CAST((1000 * CAST(-num AS DECIMAL(38,0))) DIV den AS BIGINT) END""")
          .as("acf_milli"))
  }

  /** Q4-shaped priority check: orders with at least one LATE line
    * (shipped more than 90 days after the order date), counted per
    * priority. The EXISTS is a LEFT SEMI join — equi on the order key
    * with the ship-date inequality as the residual condition, so it
    * stays one shuffle-keyed semi join (never a nested loop) and the
    * probe side stops at the first matching line per order. */
  def q4LateOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li, ord("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > date_add(ord("o_orderdate").cast("date"), 90), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q19-shaped disjunctive-predicate revenue: three OR'd
    * (brand, size-range, quantity-range) bands across the part join.
    * The classic q19 plan trap is that the OR defeats pushdown; the
    * redundant conjunct hulls (`p_brand isin`, `l_quantity` between the
    * union of the bands) are stated explicitly so both scans prune
    * before the broadcast join and the OR is only the residual. */
  def q19BrandRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
    val part = Tables.part(spark, sfDir)
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#25") &&
        col("p_size") >= 1 && col("p_size") <= 15)
    val band = (col("p_brand") === "Brand#12" && col("p_size") <= 5 &&
        col("l_quantity") <= 11) ||
      (col("p_brand") === "Brand#23" && col("p_size") <= 10 &&
        col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
      (col("p_brand") === "Brand#25" &&
        col("l_quantity") >= 20 && col("l_quantity") <= 30)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(band)
      .agg(
        asDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private def asDate(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Q17-shaped small-quantity revenue: the CORRELATED SCALAR SUBQUERY
    * classic (`l_quantity < 0.2 · avg(l_quantity) per part`),
    * decorrelated the way every engine must — the per-part aggregate
    * joins back to the fact. The threshold test is the exact integer
    * cross-multiplication `qty · 5 · cnt < sum` (⟺ qty < 0.2·avg) in
    * DECIMAL, so no float boundary can diverge between engines.
    *
    * Scale: the per-part agg collapses map-side to one row per part;
    * the back-join is keyed on l_partkey (AQE skew territory), and the
    * brand filter prunes the part side BEFORE either shuffle. */
  def q17SmallQty(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
      .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
    // integer CENTS throughout: DECIMAL(18,2)·BIGINT widens differently
    // across engines, but cents are plain BIGINT everywhere
    val li = Tables.lineitem(spark, sfDir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        (dec(col("l_quantity")) * 100).cast("long").as("qty_c"),
        (dec(col("l_extendedprice")) * 100).cast("long").as("price_c"))
      .localCheckpoint() // consumed by the agg AND the back-join
    val perPart = li.groupBy(col("l_partkey").as("agg_partkey"))
      .agg(sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("cnt"))
    li.join(perPart, col("l_partkey") === col("agg_partkey"))
      .filter(col("qty_c") * 5 * col("cnt") < col("sum_qty_c"))
      .agg(sum(col("price_c")).as("total_price_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** Q21-shaped waiting-supplier report (adapted: no commit/receipt
    * dates in this schema — "late" = shipped >90 days after the order
    * date, the q4 convention): suppliers whose line was late on a
    * multi-supplier order where NO OTHER supplier was late — EXISTS as
    * a distinct-count comparison, NOT EXISTS as a LEFT ANTI join, the
    * two decorrelation shapes the classic exercises.
    *
    * Scale: per-order supplier/late-supplier counts collapse map-side
    * on l_orderkey; both joins stay orderkey-keyed; the supplier dim
    * broadcasts. */
  def q21WaitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, sfDir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        // the q4 lateness convention, same on both engines
        (col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 90)).as("late"))
      .localCheckpoint() // consumed by the census AND the late slice
    val census = li.groupBy(col("l_orderkey").as("c_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supps"))
    li.filter(col("late"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
      .join(census, col("l_orderkey") === col("c_orderkey"))
      // other suppliers exist on the order, but this one is the only late one
      .filter(col("n_supps") > 1 && col("n_late_supps") === 1)
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name")).limit(100)
  }

  /** Q15-shaped top supplier: quarterly revenue per supplier, keep the
    * row(s) equal to the MAX — the classic's view + scalar-subquery-on-
    * aggregate shape, decorrelated as a broadcast one-row max joined
    * back. Revenue in exact BIGINT cents so the equality against the
    * max is bit-safe (the double form of this query is famously
    * engine-divergent at the boundary).
    *
    * Scale: per-supplier revenue collapses map-side on l_suppkey; the
    * max row broadcasts; the supplier dim broadcasts. */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    // revenue per row = (price cents) × ((1−discount) cents): a plain
    // BIGINT product — decimal×decimal×int widens past DECIMAL(38) in
    // some engines, two exact cent factors never do
    val revE4 = (dec(col("l_extendedprice")) * 100).cast("long") *
      ((lit(1).cast("decimal(18,2)") - dec(col("l_discount"))) * 100).cast("long")
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revE4).as("total_revenue_e4"))
      .localCheckpoint() // consumed by the max AND the equality join
    val top = rev.agg(max(col("total_revenue_e4")).as("max_rev"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue_e4") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_e4"))
  }

  /** Q22-shaped global-sales-opportunity (adapted: no phone country
    * codes — grouped by market segment): rich-but-inactive customers,
    * i.e. above the average POSITIVE account balance with no orders on
    * file. The global avg is a broadcast scalar; the threshold test is
    * the exact integer-cents cross-multiplication `bal·cnt > sum`;
    * "inactive" = no orders since 2000 (this corpus's customers all
    * have SOME order — the classic's literal "no orders ever" returns
    * the empty set), a LEFT ANTI join on the recent orders' custkeys.
    *
    * Scale: the positive-balance moment row broadcasts; the anti-join
    * is custkey-keyed against the map-side-collapsed distinct custkey
    * set; everything else is narrow. */
  def q22GlobalSales(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"),
        (dec(col("c_acctbal")) * 100).cast("long").as("bal_c")) // exact cents
    val moments = cust.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("sum_bal_c"), count(lit(1)).as("cnt"))
    val active = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(moments))
      .filter(col("bal_c") * col("cnt") > col("sum_bal_c"))
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_cents"))
  }

  /** Q2-shaped min-cost supplier (adapted: no partsupp table — the
    * part-supplier relation and its "supply cost" derive from
    * lineitem: cost(part, supp) = min line price in cents). The
    * CORRELATED MIN SUBQUERY classic: suppliers achieving the minimum
    * cost among each part's suppliers, decorrelated as a per-part min
    * joined back, ties kept as the classic keeps them.
    *
    * Scale: the (part, supp) cost and per-part min collapse map-side,
    * both joins stay partkey-keyed, the part/supplier/nation dims
    * broadcast. */
  def q2MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
      .filter(col("p_size") === 15 && col("p_type") === "MEDIUM")
      .select(col("p_partkey"))
    val cost = Tables.lineitem(spark, sfDir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min((dec(col("l_extendedprice")) * 100).cast("long")).as("cost_c"))
      .localCheckpoint() // consumed by the per-part min AND the equality join
    val minCost = cost.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("cost_c")).as("min_cost_c"))
    cost.join(minCost,
        col("l_partkey") === col("m_partkey") && col("cost_c") === col("min_cost_c"))
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select((dec(col("s_acctbal")) * 100).cast("long").as("s_bal_c"),
        col("s_name"), col("n_name"), col("l_partkey").as("p_partkey"),
        col("cost_c"))
      .orderBy(col("s_bal_c").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** Q7-shaped volume shipping: revenue flowing between two nations in
    * either direction (supplier nation ↔ customer nation), per year.
    * The classic's double-dimension join fan: lineitem → orders →
    * customer → nation on one side, lineitem → supplier → nation on
    * the other, with the (n1, n2) ∈ {(A,B),(B,A)} disjunction.
    *
    * Scale: the only big-big join is lineitem⋈orders on the order key;
    * every dim broadcasts; revenue stays in exact e4 cent-products. */
  def q7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val (na, nb) = ("NATION_3", "NATION_7")
    val nat = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    val revE4 = (dec(col("l_extendedprice")) * 100).cast("long") *
      ((lit(1).cast("decimal(18,2)") - dec(col("l_discount"))) * 100).cast("long")
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(revE4).as("revenue_e4"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Q8-shaped national market share: one nation's slice of a region's
    * revenue per order-year. The share ships as an exact integer —
    * numerator, denominator, and micro-unit ratio
    * `num·1000000 DIV den` — so no float division can diverge.
    *
    * Scale: same join fan as q7; the region filter prunes the customer
    * side before its broadcast. */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val custIn = Tables.customer(spark, sfDir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .join(broadcast(custIn), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    val revE4 = (dec(col("l_extendedprice")) * 100).cast("long") *
      ((lit(1).cast("decimal(18,2)") - dec(col("l_discount"))) * 100).cast("long")
    Tables.lineitem(spark, sfDir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", revE4).otherwise(lit(0L)))
          .as("nation_rev_e4"),
        sum(revE4).as("total_rev_e4"))
      .select(col("o_year"), col("nation_rev_e4"), col("total_rev_e4"),
        // integer DIV: the e4 numerator × 1e6 tops 2^53, so a double
        // division would lose ulps the oracle keeps. The numerator
        // widens to DECIMAL(38,0) BEFORE the ×1e6 — in Long it sits
        // within ~6× of Long.MaxValue at sf0.1 already and wraps
        // silently at sf1+, while the oracle's HUGEINT keeps going.
        expr("CAST(nation_rev_e4 AS DECIMAL(38,0)) * 1000000 DIV total_rev_e4")
          .as("share_ppm"))
      .orderBy(col("o_year"))
  }

  /** Q9-shaped product-type profit (adapted: no partsupp supply cost —
    * cost(line) = quantity × p_retailprice in cents): profit per
    * supplier nation per year over a part-name subset. Exercises the
    * classic's 5-way join fan with an expression group key.
    *
    * Scale: part prunes on the name predicate BEFORE broadcasting;
    * lineitem⋈orders is the one big-big join; aggregates collapse
    * map-side on (nation, year). */
  def q9ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
      .filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"), (dec(col("p_retailprice")) * 100).cast("long").as("retail_c"))
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    val revE4 = (dec(col("l_extendedprice")) * 100).cast("long") *
      ((lit(1).cast("decimal(18,2)") - dec(col("l_discount"))) * 100).cast("long")
    val costE4 = (dec(col("l_quantity")) * 100).cast("long") * col("retail_c")
    Tables.lineitem(spark, sfDir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum(revE4 - costE4).as("profit_e4"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Q11-shaped important stock (adapted: no partsupp — a part's
    * "stock value" = Σ quantity × retailprice cents over the lines
    * shipped by suppliers of a nation subset): parts whose value
    * exceeds 1/1000 of the group total, the classic's HAVING-against-
    * global-scalar shape as an exact cross-multiplication.
    *
    * Scale: per-part values collapse map-side; the global total is a
    * broadcast one-row frame; no second pass over lineitem. */
  def q11ImportantStock(spark: SparkSession, sfDir: String): DataFrame = {
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val part = Tables.part(spark, sfDir)
      .select(col("p_partkey"), (dec(col("p_retailprice")) * 100).cast("long").as("retail_c"))
    val valued = Tables.lineitem(spark, sfDir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"))
      .agg(sum((dec(col("l_quantity")) * 100).cast("long") * col("retail_c"))
        .as("value_e4"))
      .localCheckpoint() // consumed by the total AND the threshold filter
    val total = valued.agg(sum(col("value_e4")).as("total_e4"))
    valued.crossJoin(broadcast(total))
      .filter(col("value_e4") * 1000L > col("total_e4"))
      .select(col("l_partkey").as("p_partkey"), col("value_e4"))
      .orderBy(col("value_e4").desc, col("p_partkey"))
      .limit(100)
  }

  /** Q12-shaped shipping priority (adapted: no ship modes or receipt
    * dates — lines split into SLOW (>90 days to ship, the q4 lateness
    * convention) and the returnflag plays the mode): per flag, how
    * many urgent/high-priority vs lower-priority orders shipped slow.
    * The classic's conditional-count (CASE-sum) shape.
    *
    * Scale: one orderkey join, map-side conditional sums, 3 rows out. */
  def q12ShipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(spark, sfDir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 90))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** Q13-shaped customer order-count distribution: the LEFT OUTER join
    * + double aggregation classic — orders per customer (zero
    * included), then the histogram of those counts.
    *
    * Scale: per-customer counts collapse map-side on o_custkey; the
    * left join keys on custkey; the histogram re-agg is tiny. */
  def q13CustDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.customer(spark, sfDir).select(col("c_custkey"))
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") =!= "5-LOW")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q16-shaped supplier diversity (adapted: the part-supplier
    * relation derives from lineitem; the "complaint" exclusion =
    * suppliers with a negative account balance): distinct suppliers
    * per (brand, type, size) for a size subset, excluding one brand.
    *
    * Scale: the distinct (part, supp) pairs collapse map-side before
    * the distinct-count; part prunes on brand/size BEFORE broadcast;
    * the excluded-supplier list broadcasts as an anti-join. */
  def q16SupplierCnt(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= "Brand#45" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val badSupp = Tables.supplier(spark, sfDir)
      .filter(dec(col("s_acctbal")) < 0).select(col("s_suppkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      .limit(100)
  }

  /** Q20-shaped part promotion (adapted: no partsupp availqty — a
    * supplier "has excess stake" in a part when its own 1996 shipped
    * quantity exceeds 5% of the part's total shipped quantity across
    * all suppliers and years): suppliers holding such a stake in any
    * small-type part, with their nation. The classic's nested-
    * aggregate semi-join shape, thresholds as exact integer
    * cross-multiplication.
    *
    * Scale: both aggregates collapse map-side on their keys; the
    * per-part totals broadcast back against the (part, supp) slice;
    * the final semi-join is suppkey-keyed. */
  def q20PartPromotion(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
      .filter(col("p_type") === "SMALL").select(col("p_partkey"))
    val li = Tables.lineitem(spark, sfDir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
        (dec(col("l_quantity")) * 100).cast("long").as("qty_c"))
      .localCheckpoint() // consumed by both aggregates
    val perPart = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("qty_c")).as("total_qty_c"))
    val stake = li
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("qty_c")).as("supp_qty_c"))
      .join(perPart, col("l_partkey") === col("t_partkey"))
      .filter(col("supp_qty_c") * 20L > col("total_qty_c"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, sfDir)
      .join(stake, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  // ---------------------------------------------------------------------
  // §2.2 Filters / predicates
  // ---------------------------------------------------------------------

  /** F1: message-type byte-slice filter (scicat_kafka.py:89-96) —
    * prefix predicate on the payload discriminator, pushed to the scan. */
  def f1TypeFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(substring(col("event_type"), 1, 2) === "cl")
      .select(col("event_id"), col("event_type"), col("user_id"))

  /** F2: error filter (scicat_kafka.py:99-110) — drop error records. */
  def f2ErrorFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") =!= "error")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("value")))).as("total_value"))

  /** F3/F4: schema-selector cascade (scicat_metadata.py:349-447) —
    * selectors compiled by the engine's [[graft.expr.SelectorCompiler]]
    * into a first-match `when` cascade; `otherwise` = fallback schema. */
  def f3SelectorCascade(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.SelectorCompiler
    import graft.schema.ConfigValue._
    val selectors = Seq( // (schema_id, selector) in (order, name) order
      "schema_src1" -> CStr("filename:starts_with:src1"),
      "schema_has2" -> CStr("filename:contains:2"))
    val src = col("source")
    val cascade = selectors.foldRight(
      when(col("lang") === "en", "schema_en").otherwise("fallback")) {
      case ((id, sel), rest) => when(SelectorCompiler.compile(sel, src), id).otherwise(rest)
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), cascade.as("schema_id"))
  }

  /** F6/F7: dedup exists-by-key as a left-anti join
    * (scicat_communication.py:161-236 → left_anti). Customers with no
    * orders = "new keys not yet in catalog". */
  def f6DedupAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** F7: dedup on `scientificMetadata.<key>.value` — the same left-anti
    * shape [[graft.streaming.IngestStream.processBatch]] applies when
    * `dedupMetadataKey` is set (ref: scicat_communication.py:196-236
    * `check_dataset_by_metadata`; default key `job_id`,
    * scicat_configuration.py:326-328). Here the metadata map is derived
    * from `documents` and the "existing catalog" side is the values held
    * by the first 100 docs, so the DuckDB oracle can replicate it. */
  def f7MetaAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val jobId = concat(col("source"), lit("-"), (col("doc_id") % 300).cast("string"))
    val withMeta = docs.select(
      col("doc_id"),
      map(
        lit("job_id"), struct(jobId.as("value"), lit("").as("unit")),
        lit("lang"), struct(col("lang").as("value"), lit("").as("unit"))
      ).as("scientificMetadata"))
    val existing = docs.filter(col("doc_id") < 100)
      .select(jobId.as("existing_value")).distinct()
    val keyValue =
      element_at(col("scientificMetadata"), "job_id").getField("value")
    withMeta
      .join(broadcast(existing), keyValue === col("existing_value"), "left_anti")
      .select(col("doc_id"), keyValue.as("meta_value"))
  }

  // ---------------------------------------------------------------------
  // §2.3 Projections / scalar transforms (VALUE-operator registry analogues)
  // ---------------------------------------------------------------------

  /** P2/P3/P7/P9: array_join, basename, literal replace, case fold
    * (scicat_dataset.py:156-234) composed in one projection via the
    * engine's VALUE-operator registry ([[graft.expr.ValueOperators]]). */
  def pValueOps(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.{ValueOperators, VarCol}
    import graft.expr.ValueOperators.OpSpec
    import graft.functions.DslCasts._
    def op(name: String, v: VarCol, spec: OpSpec = OpSpec()) =
      ValueOperators(Some(name), v, spec).value
    val words = VarCol(slice(split(col("text"), " "), 1, 5), lit(""), Some(DStringArr))
    val textCol = VarCol(col("text"), lit(""), Some(DString))
    val langCol = VarCol(col("lang"), lit(""), Some(DString))
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        op("join_with_space", words).as("first_words"),
        op("to-upper", langCol).as("lang_upper"),
        substring(op("str-replace", textCol,
          OpSpec(pattern = Some("the"), replacement = Some("THE"))), 1, 40).as("replaced_head"),
        op("filename", VarCol(col("source"), lit(""), Some(DString))).as("basename"))
  }

  /** P10/A4: `sum` value-operator — higher-order array fold
    * (scicat_dataset.py:237-242 → aggregate()). */
  def p10ArrayFold(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        aggregate(
          transform(split(col("text"), " "), w => length(w)),
          lit(0L),
          (acc, x) => acc + x.cast("long")).as("word_chars"),
        size(split(col("text"), " ")).cast("long").as("n_words"))

  /** P12: type-cast registry analogue (scicat_dataset.py:119-145) —
    * string/long/double/date casts in one projection. */
  def p12Casts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") < 100)
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_quantity").cast("long").as("qty_int"),
        col("l_quantity").cast("string").as("qty_str"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))

  // ---------------------------------------------------------------------
  // §2.4 Joins / lookups
  // ---------------------------------------------------------------------

  /** J1: enrichment lookup — broadcast left join against a small catalog
    * (scicat_dataset.py:393-407 → broadcast hash join, no shuffle of the
    * fact side). */
  def j1EnrichLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** J2: two-key equi-join returning a collected list
    * (scicat_communication.py:134-158 → groupBy + sort_array(collect_list)).
    * sort_array makes the list deterministic across partition orders; the
    * list is surfaced joined to a scalar string so the result set is
    * sortable by any downstream harness. */
  def j2CollectList(spark: SparkSession, sfDir: String): DataFrame = {
    val sup = Tables.supplier(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(array_join(sort_array(collect_list(col("s_name"))), ",").as("supplier_names"),
        count(lit(1)).as("n_suppliers"))
  }

  /** J4: sampleId merge — array union + distinct (scicat_dataset.py:980-991).
    * Output joined to a scalar string (see [[j2CollectList]]). */
  def j4ArrayMerge(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        array_join(array_sort(array_distinct(concat(
          slice(split(col("text"), " "), 1, 4),
          slice(split(col("text"), " "), 3, 4)))), ",").as("merged_tokens"))

  // ---------------------------------------------------------------------
  // §2.5-adjacent substrate: windows, set ops, rollup, time windows
  // ---------------------------------------------------------------------

  /** Window functions over the event stream table: per-user ordering,
    * running aggregates (substrate capability, SURVEY §2.5 note). */
  def wRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("running_value",
        PortableRound.pround(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .select(col("event_id"), col("user_id"), col("rn"), col("running_value"))
  }

  /** Event-time sliding aggregate via RANGE BETWEEN — the window family
    * `rowsBetween` cannot express (a trailing 10 MINUTES, not a
    * trailing k rows): per user, count + exact-decimal sum of values
    * in [ts − 10 min, ts]. The order key is epoch µs, so the frame
    * bound is pure integer arithmetic on both engines, and RANGE frames
    * include ts-peers regardless of tie order — deterministic without a
    * tie-break column. */
  def wRangeSliding(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-600L * 1000000L, 0)
    Tables.events(spark, sfDir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("n_10m", count(lit(1)).over(w))
      .withColumn("sum_10m", sum(dec(col("value"))).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("n_10m"), col("sum_10m"))
  }

  /** Ordered conversion FUNNEL (view → click → purchase, each step
    * within one hour of the previous): per user the earliest view, the
    * earliest qualifying click after it, the earliest qualifying
    * purchase after that, and the stage reached — the classic product-
    * analytics operator. Deterministic by construction (min per step).
    *
    * Scale shape: three per-step aggregates and every join keyed on
    * user_id — one partitioning reused throughout (bucket the events
    * table on user_id and no step shuffles at all). */
  def eventsFunnel(spark: SparkSession, sfDir: String,
      windowUs: Long = 3600L * 1000000L): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("us") >= col("view_us") && col("us") <= col("view_us") + windowUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("us") >= col("click_us") && col("us") <= col("click_us") + windowUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
        (lit(1) + when(col("click_us").isNotNull, 1).otherwise(0)
          + when(col("purchase_us").isNotNull, 1).otherwise(0)).as("stage"))
  }

  /** FUNNEL TIME-TO-CONVERT (the latency distribution completing the
    * funnel family: [[eventsFunnel]] says WHO converts,
    * [[funnelPaths]] says HOW, this says HOW FAST): p50/p90/p99 and
    * mean of view→purchase latency over completed funnels, in whole
    * minutes (milli-minutes for the mean) — exact value quantiles,
    * never an approximation.
    *
    * The exactness is affordable because the latency DOMAIN is bounded
    * by the funnel definition itself: click ≤ view + 24 h and
    * purchase ≤ click + 24 h (the wider consideration window the
    * latency question wants — the strict 1 h funnel barely converts)
    * cap the latency at 2880 minutes, so the minute census has ≤ 2881
    * rows no matter how many conversions flow through it — the cumulative walk is a constant-size single task
    * by construction, the same escape hatch a 100 TB run keeps.
    *
    * Scale: the funnel's user-keyed joins (one reusable partitioning),
    * then one map-side-combined minute census; cutoffs and moments are
    * broadcast 1-row aggregates. */
  def funnelLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val census = eventsFunnel(spark, sfDir, windowUs = 86400L * 1000000L)
      .filter(col("purchase_us").isNotNull)
      .select(expr("(purchase_us - view_us) DIV 60000000").as("mb"))
      .groupBy(col("mb")).agg(count(lit(1)).as("m"))
      .localCheckpoint(eager = false) // cum walk + totals
    val cum = census.withColumn("cum", sum(col("m")).over(
      Window.orderBy(col("mb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // n_conv coalesced so a window with ZERO conversions reports an
    // explicit 0 (null percentiles/mean), not an all-null row
    val tot = census.agg(coalesce(sum(col("m")), lit(0L)).as("n_conv"),
      sum(expr("mb * m")).as("sum_min"))
    cum.crossJoin(broadcast(tot))
      .crossJoin(broadcast(spark.range(1).select(
        explode(array(lit(50L), lit(90L), lit(99L))).as("q"))))
      .filter(col("cum") - col("m") < expr("(q * n_conv + 99) DIV 100") &&
        col("cum") >= expr("(q * n_conv + 99) DIV 100"))
      .groupBy().agg(
        max(when(col("q") === 50, col("mb"))).as("p50_min"),
        max(when(col("q") === 90, col("mb"))).as("p90_min"),
        max(when(col("q") === 99, col("mb"))).as("p99_min"))
      .crossJoin(broadcast(tot))
      .select(col("n_conv"), col("p50_min"), col("p90_min"), col("p99_min"),
        when(col("n_conv") > 0, expr("(sum_min * 1000) DIV n_conv"))
          .as("mean_min_milli"))
  }

  /** Population-Stability-Index drift monitor — the standard
    * data-quality gate between two snapshots of a feeding pipeline
    * (did the `value` distribution of each event type move between the
    * first and second half of the capture window?). PSI ≈ 0 stable,
    * ≥ 0.2 conventionally "significant drift, investigate upstream".
    *
    * Definition kept exactly engine-portable: the capture window is
    * split at its integer-microsecond midpoint; `value` maps into
    * `bins` equal-width bins between the global min/max (one fixed
    * IEEE expression both engines evaluate identically); per
    * (event_type, bin) the Laplace-smoothed shares p, q of the two
    * halves combine into `Σ (p − q) · log2(p/q)` where the log is the
    * integer-exact [[TextAnalysis.plog2MicroSql]] — so the reported
    * `psi_micro` (micro-bits) is bit-replicable, no libm.
    *
    * Scale: one scan → (event_type, bin, half) count with map-side
    * combine (key space = types × bins × 2, trivially small); global
    * min/max/cutoff and totals are 1-row/`types`-row broadcasts; the
    * bin frame enumerates types × bins so empty bins still carry their
    * smoothed contribution. No window, no sort, no collect — this runs
    * unchanged on 100 TB of events. */
  def eventsDriftPsi(spark: SparkSession, sfDir: String, bins: Int = 10): DataFrame =
    driftPsiOf(Tables.events(spark, sfDir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("value")), bins)

  /** [[eventsDriftPsi]]'s core over any `(event_type, us, value)` frame
    * — split out so specs can feed synthetic shifted distributions. */
  def driftPsiOf(ev: DataFrame, bins: Int): DataFrame = {
    val stats = ev.agg(min(col("us")).as("tmin"), max(col("us")).as("tmax"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val binned = ev.crossJoin(broadcast(stats))
      .select(col("event_type"),
        (col("us") < col("tmin") + expr("(tmax - tmin) DIV 2")).as("is_base"),
        least(greatest(floor(((col("value") - col("vmin")) * bins) /
          (col("vmax") - col("vmin"))).cast("long"), lit(0L)),
          lit(bins - 1L)).as("bin"))
    val counts = binned.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("c_base"),
        sum(when(col("is_base"), 0L).otherwise(1L)).as("c_curr"))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("c_base")).as("n_base"), sum(col("c_curr")).as("n_curr"))
    // enumerate types × bins so empty bins keep their smoothed term
    val frame = totals.select(col("event_type"), col("n_base"), col("n_curr"),
      explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
    val contrib = frame
      .join(counts, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("n_base"), col("n_curr"),
        (coalesce(col("c_base"), lit(0L)) + 1L).as("cb"),
        (coalesce(col("c_curr"), lit(0L)) + 1L).as("cc"))
      // p = cb/(n_base+bins), q = cc/(n_curr+bins); x = 2^20-scaled p/q
      .select(col("event_type"), col("n_base"), col("n_curr"),
        expr(s"cb * 1000000L DIV (n_base + $bins)").as("pm"),
        expr(s"cc * 1000000L DIV (n_curr + $bins)").as("qm"),
        greatest(expr(
          s"(cb * (n_curr + $bins) * ${1L << 20}L) DIV (cc * (n_base + $bins))"),
          lit(1L)).as("x"))
      .select(col("event_type"), col("n_base"), col("n_curr"),
        expr(s"(pm - qm) * (${TextAnalysis.plog2MicroSql("x")} - ${20L * 1000000L}L) " +
          "DIV 1000000L").as("c_micro"))
    contrib.groupBy(col("event_type"))
      .agg(max(col("n_base")).as("n_base"), max(col("n_curr")).as("n_curr"),
        sum(col("c_micro")).as("psi_micro"))
  }

  /** Sessionization: gap-based session windows per user (30-minute
    * inactivity closes a session) — the classic event-analytics shape
    * Structured Streaming models with session_window; here as the
    * batch window program (lag → new-session flag → running sum), one
    * shuffle on user_id shared by both windows. Timestamps compare as
    * floor-seconds on BOTH engines so the gap predicate is portable. */
  def sessionize(spark: SparkSession, sfDir: String, gapSeconds: Long = 1800): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sec = col("ts").cast("long")
    val newSession = when(
      lag(sec, 1).over(w).isNull || sec - lag(sec, 1).over(w) > gapSeconds, 1L)
      .otherwise(0L)
    Tables.events(spark, sfDir)
      .withColumn("session_idx",
        sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (max(sec) - min(sec)).as("duration_s"),
        min(sec).as("start_s"))
  }

  /** NATIVE session windows: the same gap semantics as [[sessionize]]
    * through Spark's built-in `session_window` grouping expression —
    * the operator Structured Streaming shares, exercised and
    * oracle-checked in batch (the streaming path reuses this exact
    * Column). A new session starts when an event arrives ≥ gap after
    * the previous one; window end = last event + gap. Everything ships
    * as exact epoch MICROSECONDS so the boundary tie (== gap) cannot
    * diverge between engines.
    *
    * Scale: session_window plans as ONE user-keyed shuffle + sort (the
    * same partitioning the window formulation uses); no state beyond
    * the group sort in batch. */
  def sessionWindowNative(spark: SparkSession, sfDir: String,
      gapSeconds: Long = 1800): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  /** SCD2 tier history — the GAPS-AND-ISLANDS classic every dimension
    * pipeline needs (type-2 slowly-changing attributes): per customer,
    * yearly cumulative spend maps to a tier, and consecutive same-tier
    * years collapse into [from_year, to_year] validity intervals.
    * lag → change flag → running island id → interval agg, all over
    * ONE customer-keyed shuffle: the explicit repartition(o_custkey)
    * satisfies the (custkey, yr) groupBy's ClusteredDistribution (a
    * subset partitioning co-locates it), every window's partitioning,
    * AND the closing interval agg — EnsureRequirements inserts no
    * further exchange. Money in exact BIGINT cents; tiers by integer
    * floor division. */
  def scd2TierHistory(spark: SparkSession, sfDir: String): DataFrame = {
    val yearly = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("spend_c"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("yr"))
    yearly
      .withColumn("cum_c",
        sum(col("spend_c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      // tier 0..4: one tier per 500k cents of lifetime spend, capped
      .withColumn("tier", least(expr("cum_c DIV 5000000"), lit(4L)))
      .withColumn("chg",
        when(lag(col("tier"), 1).over(w).isNull ||
          lag(col("tier"), 1).over(w) =!= col("tier"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("o_custkey").as("c_custkey"), col("island"), col("tier"))
      .agg(min(col("yr")).as("from_year"), max(col("yr")).as("to_year"),
        max(col("cum_c")).as("cum_spend_c"))
      .drop("island")
  }

  /** The simulated snapshot pair shared by [[snapshotDiff]] and
    * [[incrementalAgg]]: version A lags ingest (keys ≡0 mod 93
    * absent); version B has purged keys ≡0 mod 97 and repriced keys
    * ≡0 mod 89 by +5% (integer cents, floor). */
  private def snapshotVersions(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("price_c"))
    val a = base.filter(col("o_orderkey") % 93 =!= 0)
    val b = base.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("price_c", when(col("o_orderkey") % 89 === 0,
        expr("price_c * 105 DIV 100")).otherwise(col("price_c")))
    (a, b)
  }

  /** SNAPSHOT DIFF — the table-versioning primitive (Delta/Iceberg
    * `table_changes`, data-reconciliation audits): two snapshots of the
    * same keyed table compared by primary key + a portable row
    * fingerprint, emitting the CHANGELOG (insert/delete/update rows
    * only — output scales with churn, never table size). Snapshots are
    * simulated deterministically from `orders`: version A lags ingest
    * (keys ≡0 mod 93 absent), version B has purged keys ≡0 mod 97 and
    * repriced keys ≡0 mod 89 by +5% (integer cents, floor).
    *
    * The comparison is ONE full-outer sort-merge join on the key;
    * change classification reads the two null-sides, and row equality
    * is ONE 48-bit fingerprint compare ([[graft.functions.PortableHash]]
    * over the '|'-joined attribute rendering) instead of an N-column
    * inequality — the fingerprint is what you'd persist per row in a
    * reconciliation manifest so re-diffs never reread cold columns.
    *
    * Scale: both sides shuffle once on the key (or ZERO times when the
    * snapshots are key-bucketed tables, the layout a versioned lake
    * table already has); no window, no collect; the changed-row output
    * is churn-sized. The unchanged majority is dropped before any
    * further processing, so downstream stages never see table-sized
    * data. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (dec(col("o_totalprice")) * 100).cast("long").as("price_c"),
        col("o_orderdate"), col("o_orderpriority"))
    def fingerprint(price: Column): Column =
      graft.functions.PortableHash.md5Hash48(concat_ws("|",
        col("o_custkey"), col("o_orderstatus"), price,
        date_format(col("o_orderdate"), "yyyy-MM-dd"),
        col("o_orderpriority")))
    val a = base.filter(col("o_orderkey") % 93 =!= 0)
      .select(col("o_orderkey").as("a_key"), col("price_c").as("a_price_c"),
        fingerprint(col("price_c")).as("a_fp"))
    val bPrice = when(col("o_orderkey") % 89 === 0,
      expr("price_c * 105 DIV 100")).otherwise(col("price_c"))
    val b = base.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("b_key"), bPrice.as("b_price_c"),
        fingerprint(bPrice).as("b_fp"))
    a.join(b, col("a_key") === col("b_key"), "full_outer")
      .withColumn("change_type",
        when(col("a_key").isNull, lit("insert"))
          .when(col("b_key").isNull, lit("delete"))
          .when(col("a_fp") =!= col("b_fp"), lit("update")))
      .filter(col("change_type").isNotNull)
      .select(coalesce(col("a_key"), col("b_key")).as("o_orderkey"),
        col("change_type"),
        (coalesce(col("b_price_c"), lit(0L)) -
          coalesce(col("a_price_c"), lit(0L))).as("delta_c"),
        col("a_fp").as("old_fp"), col("b_fp").as("new_fp"))
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE (IVM) — the materialized-view
    * refresh every warehouse needs once full recompute stops fitting
    * the batch window: the per-customer (order count, spend) view at
    * snapshot A is advanced to snapshot B by applying the CHURN-SIZED
    * changelog — inserts contribute (+1, +new), deletes (−1, −old),
    * updates (0, +delta) — through one customer-keyed merge. The
    * DuckDB oracle computes the view at B by FULL RECOMPUTE, so the
    * green row is a proof that the incremental path is lossless
    * (including dropping groups whose count reaches zero).
    *
    * Scale: at 100 TB the view and the changelog are stored tables —
    * the refresh reads |view| + |churn|, never snapshot B; here both
    * derive from the same scan but keep the IVM plan shape: the delta
    * side aggregates map-side to churn-sized rows per group, the
    * merge is one full-outer key join (zero-shuffle when the view is
    * key-bucketed), and no window/sort/collect appears anywhere. */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val (a, b) = snapshotVersions(spark, sfDir)
    val view = a.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("price_c")).as("spend_c"))
    // churn rows with their group key and the old/new measure values
    val ak = a.select(col("o_orderkey"), col("o_custkey").as("a_cust"),
      col("price_c").as("a_price_c"))
    val bk = b.select(col("o_orderkey"), col("o_custkey").as("b_cust"),
      col("price_c").as("b_price_c"))
    val delta = ak.join(bk, Seq("o_orderkey"), "full_outer")
      .filter(col("a_cust").isNull || col("b_cust").isNull ||
        col("a_price_c") =!= col("b_price_c"))
      .select(coalesce(col("a_cust"), col("b_cust")).as("o_custkey"),
        (when(col("a_cust").isNull, 1L)
          .when(col("b_cust").isNull, -1L).otherwise(0L)).as("dn"),
        (coalesce(col("b_price_c"), lit(0L)) -
          coalesce(col("a_price_c"), lit(0L))).as("dspend"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("dn")).as("dn"), sum(col("dspend")).as("dspend"))
    view.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("spend_c"), lit(0L)) + coalesce(col("dspend"), lit(0L)))
          .as("spend_c"))
      .filter(col("n_orders") > 0)
  }

  /** DAY-OF-WEEK SEASONALITY PROFILE — the monitor-family companion
    * that separates "traffic is weird" from "it's Saturday": per
    * (event_type, day-of-week) counts with each cell's share of the
    * type's total and its deviation from the uniform 1/7 expectation,
    * in exact milli units (`dev_milli = n·7·1000 DIV total − 1000`).
    * Day-of-week is the portable `epoch_day % 7` — never an engine
    * `dayofweek()` whose week-start convention differs. A CUSUM/EWMA
    * alert that coincides with a |dev| the profile already explains
    * is seasonality, not drift.
    *
    * Scale: one map-side-combined count to a ≤ 7·|types| census, one
    * broadcast of per-type totals. */
  def eventsDowProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) DIV 86400000000) % 7").as("dow"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("event_type")).agg(sum(col("n")).as("total"))
    cells.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        expr("(n * 1000) DIV total").as("share_milli"),
        expr("(n * 7000) DIV total - 1000").as("dev_milli"))
  }

  /** SEASONAL HAMPEL — the deseasonalized robust monitor that closes
    * the gap between [[eventsMadOutliers]] (which flags every busy
    * Saturday on a weekly-patterned stream) and [[eventsDowProfile]]
    * (which explains the pattern but flags nothing): subtract each
    * (type, day-of-week)'s own lower-median baseline FIRST, then run
    * the Hampel |resid − med| > 3·MAD rule on the residuals — the
    * STL-decompose-then-test shape every production traffic monitor
    * converges on, kept exactly engine-portable because seasonal
    * baseline, residual median and MAD are all DISCRETE lower medians
    * (rank `(cnt+1) DIV 2` in (value, day) order) over integer daily
    * counts — no interpolation, no float.
    *
    * Scale: ONE corpus-sized pass (the map-side-combined (type, day)
    * count); everything after runs on the calendar-bounded daily
    * census — the three median extractions are row_number windows
    * partitioned by type(×dow) over days×types rows, joined back as
    * ≤ 7·|types|-row broadcasts. Runs unchanged on 100 TB of events. */
  def eventsSeasonalHampel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", col("day") % 7)
      .localCheckpoint(eager = false) // shared by the three median plans
    def lowerMedianBy(df: DataFrame, parts: Seq[String], value: String,
        out: String): DataFrame = {
      val w = Window.partitionBy(parts.map(col): _*)
        .orderBy(col(value), col("day"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy(parts.map(col): _*)))
        .filter(col("rn") === expr("(cnt + 1) DIV 2"))
        .select(parts.map(col) :+ col(value).as(out): _*)
    }
    val dowMed = lowerMedianBy(daily, Seq("event_type", "dow"), "n", "dow_med")
    val resid = daily.join(broadcast(dowMed), Seq("event_type", "dow"))
      .withColumn("resid", col("n") - col("dow_med"))
    val medR = lowerMedianBy(resid, Seq("event_type"), "resid", "med_r")
    val dev = resid.join(broadcast(medR), Seq("event_type"))
      .withColumn("adev", abs(col("resid") - col("med_r")))
    val madR = lowerMedianBy(dev, Seq("event_type"), "adev", "mad_r")
    dev.join(broadcast(madR), Seq("event_type"))
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        col("dow_med"), col("resid"), col("med_r"), col("mad_r"),
        (col("adev") > lit(3L) * col("mad_r")).as("is_anom"))
  }

  /** WINDOWED seasonal-Hampel — [[eventsSeasonalHampel]] scoped to
    * fixed `windowDays` calendar blocks (`win = day DIV windowDays`):
    * every median partitions by (event_type, win[, dow]) instead of
    * the whole history. Exact global medians need the whole series
    * per key; each windowed median needs at most `windowDays` daily
    * counts per key, so a window's rows are final once its block
    * ends and later days never change them. No approximation: the
    * error bound is zero by construction.
    *
    * Scale: identical plan shape to the global monitor — one
    * calendar-bounded daily census, three flag-partitioned lower-
    * median windows (now further partitioned by `win`, so single-task
    * volume SHRINKS vs the global variant), medians broadcast back. */
  def eventsHampelWindowed(spark: SparkSession, sfDir: String,
      windowDays: Int = 28): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", col("day") % 7)
      .withColumn("win", expr(s"day DIV $windowDays"))
      .localCheckpoint(eager = false) // shared by the three median plans
    def lowerMedianBy(df: DataFrame, parts: Seq[String], value: String,
        out: String): DataFrame = {
      val w = Window.partitionBy(parts.map(col): _*)
        .orderBy(col(value), col("day"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy(parts.map(col): _*)))
        .filter(col("rn") === expr("(cnt + 1) DIV 2"))
        .select(parts.map(col) :+ col(value).as(out): _*)
    }
    val dowMed = lowerMedianBy(daily, Seq("event_type", "win", "dow"), "n", "dow_med")
    val resid = daily.join(broadcast(dowMed), Seq("event_type", "win", "dow"))
      .withColumn("resid", col("n") - col("dow_med"))
    val medR = lowerMedianBy(resid, Seq("event_type", "win"), "resid", "med_r")
    val dev = resid.join(broadcast(medR), Seq("event_type", "win"))
      .withColumn("adev", abs(col("resid") - col("med_r")))
    val madR = lowerMedianBy(dev, Seq("event_type", "win"), "adev", "mad_r")
    dev.join(broadcast(madR), Seq("event_type", "win"))
      .select(col("event_type"), col("win"), col("day"), col("dow"), col("n"),
        col("dow_med"), col("resid"), col("med_r"), col("mad_r"),
        (col("adev") > lit(3L) * col("mad_r")).as("is_anom"))
  }

  /** U-SHAPED MULTI-TOUCH ATTRIBUTION — the position-based credit
    * model next to [[graft.operators.Temporal.asofLastClick]]'s
    * last-touch: every non-purchase event is a touch, assigned to the
    * user's NEXT purchase (the forward native as-of join), and each
    * conversion's 1000 milli-credits split 40/20/40 — first touch
    * 400, last touch 400, the middle 200 divided evenly (integer
    * floor, remainder to the first touch so every conversion's credits
    * sum to EXACTLY 1000 — the invariant the spec pins). Touch paths
    * of 1 or 2 events degenerate to 1000 and 500/500.
    *
    * Scale: the touch→conversion assignment is the native sort-merge
    * as-of exec (user-keyed shuffle, O(1) state per user); position
    * and path length are two frames of ONE (user, conv)-partitioned
    * window over the same shuffle; the final rollup is a
    * map-side-combined |channels|-row aggregate. No self-join, no
    * driver loop. */
  def attributionUShape(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val events = Tables.events(spark, sfDir)
    val touches = events.filter(col("event_type") =!= "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("conv_id"))
    val matched = graft.plans.AsofJoinNative
      .asofJoin(touches, purchases, Seq("user_id"), "ts", direction = "forward")
      .filter(col("matched_ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        unix_micros(col("matched_ts")).as("conv_us"))
    val w = Window.partitionBy(col("user_id"), col("conv_us"))
      .orderBy(col("us"), col("event_id"))
    val credited = matched
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("conv_us"))))
      .withColumn("credit_milli",
        when(col("n") === 1, 1000L)
          .when(col("n") === 2, 500L)
          .when(col("pos") === 1, lit(400L) + expr("200L % (n - 2)"))
          .when(col("pos") === col("n"), 400L)
          .otherwise(expr("200L DIV (n - 2)")))
    credited.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("pos") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("pos") === col("n"), 1L).otherwise(0L)).as("n_last"),
        sum(col("credit_milli")).as("credit_milli"))
  }

  /** SEASONAL-NAIVE FORECAST EVAL (MASE; Hyndman & Koehler 2006) —
    * the forecast-skill audit that tells a monitor's operator whether
    * the weekly pattern [[eventsSeasonalHampel]] deseasonalizes is
    * real SIGNAL: per event type, the mean absolute error of the
    * seasonal-naive forecast (ŷ_d = y_{d−7}) against the naive one
    * (ŷ_d = y_{d−1}) as the integer ratio `mase_milli` — below 1000
    * means last week predicts today better than yesterday does, i.e.
    * the seasonality is worth modeling; ≥ 1000 means a seasonal model
    * would be noise-fitting. Scored only on days where BOTH lags
    * exist, so the two errors are always comparable.
    *
    * Scale: one corpus-sized map-side-combined (type, day) count;
    * both forecasts are day-shifted self-equi-joins of the
    * calendar-bounded census — no window, no sort. */
  def forecastSnaiveEval(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // three self-join consumers
    val d1 = daily.select(col("event_type"), (col("day") + 1L).as("day"),
      col("n").as("f_naive"))
    val d7 = daily.select(col("event_type"), (col("day") + 7L).as("day"),
      col("n").as("f_snaive"))
    daily.join(d1, Seq("event_type", "day"))
      .join(d7, Seq("event_type", "day"))
      .select(col("event_type"),
        abs(col("n") - col("f_naive")).as("e1"),
        abs(col("n") - col("f_snaive")).as("e7"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("e1")).as("sum_abs_err_naive"),
        sum(col("e7")).as("sum_abs_err_snaive"))
      .withColumn("mase_milli",
        expr("(sum_abs_err_snaive * 1000) DIV greatest(sum_abs_err_naive, 1)"))
  }

  /** RFM SEGMENTATION (Hughes 1994 — the classic recency/frequency/
    * monetary customer census behind every retention dashboard) over
    * the orders table: each ordering customer gets three 1–5 quintile
    * scores and a named segment, reported per segment with customer
    * count and total monetary value.
    *
    * The quintiles are VALUE quantiles computed the scale-safe way:
    * never a global sort over customers, but a cumulative walk over a
    * DOMAIN-BOUNDED census — recency days are bounded by the calendar
    * span, order counts by the max order frequency, and monetary is
    * bucketed to $100 bins (cents DIV 10000) so its census is bounded
    * by the price range, not the customer count. All three censuses
    * ride ONE window PARTITIONED by dimension (a few thousand rows
    * total — no single-partition pass over the corpus); cutoff_q =
    * min census value whose cumulative count reaches ceil(q·N/5),
    * pivoted to a 1-row broadcast. Scoring is then scalar: score =
    * 1 + #{cutoffs strictly below the value} (recency inverted so
    * fresher = higher). All-integer arithmetic end to end — cents via
    * the portable floor(x·100+0.5), day arithmetic in epoch-micro DIV.
    *
    * Scale notes: one o_custkey-keyed shuffle builds the per-customer
    * triple; the censuses are map-side-combined tiny aggregates; the
    * cutoff row broadcasts back; the final segment rollup is ≤125
    * groups. The $100 bin is the knob that keeps the monetary census
    * bounded if the price domain widens. */
  def ordersRfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    val ord = Tables.orders(spark, sfDir)
    val maxDay = ord.agg(
      max(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")).as("max_day"))
    val cust = ord
      .select(col("o_custkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000").as("day"),
        cents.as("cents"))
      .groupBy(col("o_custkey"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("f_cnt"),
        sum(col("cents")).as("m_cents"))
      .crossJoin(broadcast(maxDay))
      .select(col("o_custkey"), (col("max_day") - col("last_day")).as("r_days"),
        col("f_cnt"), col("m_cents"),
        expr("m_cents DIV 10000").as("m_bucket"))
      .localCheckpoint(eager = false) // census + scoring consumers
    // one partitioned window over the union of the three bounded censuses
    val census = cust.select(lit("r").as("dim"), col("r_days").as("v"))
      .union(cust.select(lit("f").as("dim"), col("f_cnt").as("v")))
      .union(cust.select(lit("m").as("dim"), col("m_bucket").as("v")))
      .groupBy(col("dim"), col("v")).agg(count(lit(1)).as("cnt"))
    val cum = census.withColumn("cum", sum(col("cnt")).over(
      Window.partitionBy(col("dim")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = cust.agg(count(lit(1)).as("n_cust"))
    def cutCol(d: String, q: Int): Column =
      max(when(col("dim") === d && col("q") === q, col("v"))).as(s"${d}$q")
    val cuts = cum.crossJoin(broadcast(n))
      .crossJoin(broadcast(spark.range(1).select(
        explode(array(lit(1L), lit(2L), lit(3L), lit(4L))).as("q"))))
      .filter(col("cum") - col("cnt") < expr("(q * n_cust + 4) DIV 5") &&
        col("cum") >= expr("(q * n_cust + 4) DIV 5"))
      .groupBy().agg(
        cutCol("r", 1),
        (for (d <- Seq("r", "f", "m"); q <- 1 to 4; if (d, q) != (("r", 1)))
          yield cutCol(d, q)): _*)
    def score(v: Column, d: String): Column =
      lit(1) + (1 to 4).map(q =>
        when(v > col(s"${d}$q"), 1).otherwise(0)).reduce(_ + _)
    val scored = cust.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("m_cents"),
        (lit(6) - score(col("r_days"), "r")).cast("long").as("r_score"),
        score(col("f_cnt"), "f").cast("long").as("f_score"),
        score(col("m_bucket"), "m").cast("long").as("m_score"))
    scored
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_cust"), sum(col("m_cents")).as("m_cents_total"))
      .withColumn("segment", expr(
        """CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
          |  THEN 'champion'
          |WHEN f_score >= 4 THEN 'loyal'
          |WHEN m_score >= 4 THEN 'big_spender'
          |WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
          |WHEN r_score <= 2 THEN 'hibernating'
          |ELSE 'regular' END""".stripMargin))
  }

  /** OPEN-ORDER BACKLOG AGING (the operations report every
    * fulfillment dashboard leads with): orders still open ('O' /
    * 'P' status) bucketed by age at the snapshot instant (the corpus
    * max order date), per (priority, age bucket) with counts and
    * exact value cents — the table that says WHERE the backlog money
    * is stuck and for HOW long. Epoch-day integer aging, literal
    * bucket boundaries shared by both engines.
    *
    * Scale: one scan, CASE bucketing, a ≤ 5×4-cell census; the
    * snapshot max is a 1-row broadcast. */
  def ordersBacklogAging(spark: SparkSession, sfDir: String): DataFrame = {
    val day = expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderstatus"), col("o_orderpriority"), day.as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .localCheckpoint(eager = false) // snapshot max + the census
    val snap = ord.agg(max(col("day")).as("snap_day"))
    ord.filter(col("o_orderstatus") =!= "F")
      .crossJoin(broadcast(snap))
      .withColumn("age_days", col("snap_day") - col("day"))
      .withColumn("age_bucket", expr(
        """CASE WHEN age_days <= 30 THEN '0-30'
          |WHEN age_days <= 90 THEN '31-90'
          |WHEN age_days <= 365 THEN '91-365'
          |ELSE '365+' END""".stripMargin))
      .groupBy(col("o_orderpriority"), col("age_bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("value_cents"),
        max(col("age_days")).as("oldest_days"))
  }

  /** COHORT REVENUE PROGRESSION (the finance reading of retention —
    * [[eventsRetention]] counts heads, this follows MONEY): customers
    * cohorted by first-order year; per (cohort_year, order_year) the
    * active customers, order count, and exact revenue cents — the LTV
    * table a growth model calibrates on.
    *
    * Scale: one o_custkey-keyed min for the cohort label (the same
    * shuffle the per-customer rollup reuses), then a tiny
    * (cohort, year) census; revenue is exact integer cents. */
  def ordersCohortRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        year(col("o_orderdate").cast("timestamp")).cast("long").as("yr"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .localCheckpoint(eager = false) // cohort min + the rollup
    val cohort = ord.groupBy(col("o_custkey"))
      .agg(min(col("yr")).as("cohort_year"))
    ord.join(cohort, "o_custkey")
      .groupBy(col("cohort_year"), col("yr").as("order_year"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_cents"))
  }

  /** MARKET-BASKET ASSOCIATION RULES (Agrawal & Srikant 1994 — the
    * classic co-occurrence miner): each order is a basket of the
    * BRANDS it contains (brand granularity keeps the item domain
    * bounded at scale); for every ordered brand pair (a → b) the
    * support, confidence, and lift in exact integer micro/milli:
    * support = n_ab/N, confidence = n_ab/n_a, lift = n_ab·N/(n_a·n_b)
    * — lift > 1000 milli marks genuinely associated brands. Headroom:
    * n_ab·N·1000 needs N ≲ 3·10⁶ baskets per the usual long budget;
    * past that widen through decimal(38,0) (the documented policy).
    *
    * Scale: baskets collapse map-side to DISTINCT (order, brand); the
    * pair fan-out is an orderkey-keyed self-join whose per-order
    * output is bounded by (brands/order choose 2) — never a cross of
    * the catalog; the brand marginals broadcast back. */
  def basketRules(spark: SparkSession, sfDir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .localCheckpoint(eager = false) // marginals + both pair sides
    val n = baskets.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val marg = baskets.groupBy(col("p_brand")).agg(count(lit(1)).as("n_b"))
    val pairs = baskets.select(col("l_orderkey"), col("p_brand").as("brand_a"))
      .join(baskets.select(col("l_orderkey"), col("p_brand").as("brand_b")),
        Seq("l_orderkey"))
      .filter(col("brand_a") =!= col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("p_brand").as("brand_a"),
        col("n_b").as("n_a"))), Seq("brand_a"))
      .join(broadcast(marg.select(col("p_brand").as("brand_b"),
        col("n_b").as("n_bb"))), Seq("brand_b"))
      .crossJoin(broadcast(n))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        col("n_a"), col("n_bb").as("n_b"), col("n_orders"),
        expr("(n_ab * 1000000) DIV n_orders").as("support_micro"),
        expr("(n_ab * 1000000) DIV n_a").as("conf_micro"),
        expr("(n_ab * n_orders * 1000) DIV (n_a * n_bb)").as("lift_milli"))
  }

  /** OHLC DOWNSAMPLING (the financial-candlestick reduction every
    * time-series store ships): per (event_type, hour) the open /
    * high / low / close of `value` in exact cents, plus the bar's
    * event count. Open and close are the values of the FIRST and LAST
    * event in the bar — resolved deterministically as the min/max of
    * the (µs, event_id, cents) struct (lexicographic struct min/max,
    * identical on both engines; event_id breaks µs ties), so no
    * window and no self-join is needed.
    *
    * Scale: ONE map-side-combinable aggregate over the corpus — the
    * struct min/max carries 3 longs of state per (type, hour) group,
    * exactly like max(); nothing shuffles but the bar keys. */
  def eventsOhlcHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("hr"),
        expr("unix_micros(ts)").as("us"), col("event_id"), cents.as("cents"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("close_cents"))
  }

  /** CALENDAR GAP CENSUS — the completeness monitor every ingestion
    * dashboard runs before trusting a daily series ("which feeds have
    * holes?"): per event type the calendar span, days present, days
    * missing, the longest gap, and a completeness ratio in milli.
    * Gaps are derived WITHOUT generating the calendar: day − (rank of
    * day) is constant within a contiguous run (the gaps-and-islands
    * identity), so runs = distinct values of that difference, and the
    * longest gap is the max jump between consecutive present days
    * minus one.
    *
    * Scale: the corpus collapses map-side to one row per (type, day);
    * the window runs over that DOMAIN-BOUNDED census partitioned by
    * type — never over raw events. */
  def eventsGapCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
      .withColumn("prev", lag(col("day"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        (max(col("day")) - min(col("day")) + 1L).as("span_days"),
        coalesce(max(col("day") - col("prev") - 1L), lit(0L))
          .as("longest_gap"),
        sum(when(col("prev").isNotNull && col("day") > col("prev") + 1L, 1L)
          .otherwise(0L)).as("n_gaps"))
      .withColumn("completeness_milli",
        expr("(n_days * 1000) DIV span_days"))
  }

  /** DOW × HOUR ACTIVITY HEATMAP — the load-shape census behind
    * capacity planning and anomaly baselines (the 2-D refinement of
    * [[eventsDowProfile]]): per (day-of-week, hour-of-day) cell the
    * event count and its milli share WITHIN the weekday — the shape a
    * scheduler provisions against and the expected-traffic surface a
    * monitor normalizes by. Epoch-integer dow/hour arithmetic
    * (day 0 = Thursday, the Unix epoch convention) so both engines
    * agree with no calendar library.
    *
    * Scale: one corpus-sized map-side-combined count into ≤ 168
    * cells; weekday totals broadcast back. */
  def eventsHourHeatmap(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(expr("(unix_micros(ts) DIV 86400000000) % 7").as("dow"),
        expr("(unix_micros(ts) DIV 3600000000) % 24").as("hour"))
      .groupBy(col("dow"), col("hour")).agg(count(lit(1)).as("n"))
    val tot = cells.groupBy(col("dow")).agg(sum(col("n")).as("dow_total"))
    cells.join(broadcast(tot), "dow")
      .select(col("dow"), col("hour"), col("n"), col("dow_total"),
        expr("(n * 1000) DIV dow_total").as("share_milli"))
  }

  /** DAU/WAU STICKINESS — the engagement ratio every growth report
    * leads with (how much of the weekly audience shows up on a given
    * day): per full-window report day the daily actives, the sliding
    * 7-day actives from [[eventsWau]], and their milli ratio.
    * Composes two audited censuses; DAU ≤ WAU by construction (the
    * spec pins it), so the ratio is a true fraction.
    *
    * Scale: the DAU census is map-side; the WAU side is the audited
    * bounded ×7 fan-out; the join is day-keyed and tiny. */
  def eventsStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val dau = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("report_day"))
      .distinct()
      .groupBy(col("report_day")).agg(countDistinct(col("user_id")).as("dau"))
    eventsWau(spark, sfDir).join(dau, "report_day")
      .select(col("report_day"), col("dau"), col("wau"),
        expr("(dau * 1000) DIV wau").as("stickiness_milli"))
  }

  /** A/B SPLIT + SAMPLE-RATIO-MISMATCH GUARDRAIL (the first
    * experimentation-family query: the health check every A/B
    * platform runs before reading a single metric): users are
    * deterministically hash-split 50/50 (the portable md5-48, so the
    * assignment replays identically everywhere — the derandomized
    * randomization the samplers already use), and the query reports
    * the global arm sizes with the SRM χ² statistic
    * `(n_a − n_b)²·1000 DIV n` (the 1-df Pearson test against the
    * declared ratio — a large value means the split infrastructure
    * itself is broken) plus, per event type, each arm's reach and
    * the signed reach difference — the per-metric readout that is
    * only interpretable when SRM is clean.
    *
    * Scale: one distinct-user pass for the split (map-side), one
    * distinct (type, user) census; the 1-row global split broadcasts. */
  def eventsAbSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = pmod(graft.functions.PortableHash.md5Hash48(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val users = Tables.events(spark, sfDir).select(col("user_id")).distinct()
      .select(col("user_id"), bucket.as("arm"))
      .localCheckpoint(eager = false) // global split + per-type joins
    val g = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("g_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("g_b"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).distinct()
      .join(users, "user_id")
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("users_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("users_b"))
      .crossJoin(broadcast(g))
      .select(col("event_type"), col("users_a"), col("users_b"),
        col("g_a"), col("g_b"),
        expr("(users_a * 1000) DIV g_a").as("reach_a_milli"),
        expr("(users_b * 1000) DIV g_b").as("reach_b_milli"),
        expr("(users_a * 1000) DIV g_a - (users_b * 1000) DIV g_b")
          .as("reach_diff_milli"),
        expr("((g_a - g_b) * (g_a - g_b) * 1000) DIV (g_a + g_b)")
          .as("srm_chi2_milli"))
  }

  /** A/B VALUE LIFT READOUT — the metric read [[eventsAbSrm]] gates:
    * per event type each arm's event count, exact value cents, and
    * mean value in milli-cents (single floor per arm), with the
    * signed mean difference (subtraction of already-floored means —
    * portable without sign-safe division). Same deterministic hash
    * assignment as the guardrail, so the two queries read the same
    * experiment by construction.
    *
    * Scale: the split is a user-keyed broadcast-able dimension; the
    * readout is one (type, arm) map-side-combined aggregate. The
    * nonneg DIVs ride on `value ≥ 0` (the schema's contract); a
    * signed metric would need the sign-safe CASE split both engines
    * share (see text_vocab_drift). */
  def eventsAbLift(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = pmod(graft.functions.PortableHash.md5Hash48(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    Tables.events(spark, sfDir)
      .select(col("event_type"), bucket.as("arm"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("cents_a"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("cents_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("cents_a"), col("cents_b"),
        expr("(cents_a * 1000) DIV n_a").as("mean_a_mc"),
        expr("(cents_b * 1000) DIV n_b").as("mean_b_mc"),
        expr("(cents_a * 1000) DIV n_a - (cents_b * 1000) DIV n_b")
          .as("mean_diff_mc"))
  }

  /** NEW vs RETURNING daily actives — the growth-accounting split
    * every DAU chart draws (next to [[eventsRetention]]'s cohort
    * matrix: retention follows a cohort FORWARD, this reads each day
    * BACKWARD): per day the active users seen for the first time vs
    * returning, and the returning share in milli.
    *
    * Scale: the corpus collapses map-side to DISTINCT (user, day);
    * first-seen day is a user-keyed min reusing that census's
    * partitioning; the final census is calendar-bounded. */
  def eventsNewVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
      .localCheckpoint(eager = false) // min-day + census consumers
    val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    ud.join(first, "user_id")
      .groupBy(col("day"))
      .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
          .as("n_returning"))
      .withColumn("returning_milli",
        expr("(n_returning * 1000) DIV (n_new + n_returning)"))
  }

  /** ACTIVITY-STREAK CENSUS — the engagement-depth distribution
    * behind every retention dashboard's "streak" widget: per user the
    * LONGEST run of consecutive active days (gaps-and-islands: day −
    * row_number is constant within a run), then the census of how
    * many users top out at each streak length. Reads next to
    * [[eventsRetention]]'s cohort view: retention says users came
    * BACK, streaks say how long they STAYED continuous.
    *
    * Scale: the corpus collapses map-side to DISTINCT (user, day);
    * both windows are USER-partitioned over that census; the final
    * output is a streak-length census bounded by the calendar. */
  def eventsStreakCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("user_id")).agg(max(col("run")).as("best_streak"))
      .groupBy(col("best_streak")).agg(count(lit(1)).as("n_users"))
  }

  /** PARETO TOP-DECILE SHARE — the "80/20" reading of the same
    * concentration [[eventsUserGini]] summarizes as one coefficient:
    * per event type, the p90 activity cutoff (value quantile over the
    * count-of-counts census, RFM's convention — ties keep everyone at
    * the cutoff), how many users clear it, and the share of all
    * events they generate, in exact milli. Gini says HOW unequal;
    * this says WHO to capacity-plan for.
    *
    * Scale: same bounded machinery as the Gini — per-user counts
    * map-side combine, the census walk is type-partitioned, and the
    * cutoff row joins back by type (broadcast). */
  def eventsParetoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // census + share scan
    val census = perUser.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("m"))
    val cum = census.withColumn("cum", sum(col("m")).over(
      Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = census.groupBy(col("event_type"))
      .agg(sum(col("m")).as("n_users"), sum(expr("c * m")).as("total_events"))
    val cut = cum.join(broadcast(tot), "event_type")
      .filter(col("cum") - col("m") < expr("(9 * n_users + 9) DIV 10") &&
        col("cum") >= expr("(9 * n_users + 9) DIV 10"))
      .select(col("event_type"), col("c").as("cutoff"))
    perUser.join(broadcast(cut), "event_type")
      .groupBy(col("event_type"), col("cutoff"))
      .agg(sum(when(col("c") >= col("cutoff"), 1L).otherwise(0L)).as("n_top"),
        sum(when(col("c") >= col("cutoff"), col("c")).otherwise(0L))
          .as("top_events"))
      .join(broadcast(tot), "event_type")
      .select(col("event_type"), col("n_users"), col("total_events"),
        col("cutoff"), col("n_top"), col("top_events"),
        expr("(top_events * 1000) DIV total_events").as("top_share_milli"))
  }

  /** USER-ACTIVITY GINI (Lorenz/Gini concentration; Gini 1912) — the
    * inequality audit behind "is this event type driven by a few
    * power users?": per event type the exact Gini coefficient of the
    * per-user event-count distribution, in integer milli units.
    *
    * For users sorted ascending by count c₁…c_n,
    *   G = (2·Σ i·cᵢ − (n+1)·S) / (n·S),  S = Σ cᵢ.
    * The rank sum is computed WITHOUT sorting users: the count-of-
    * counts census (count value v → m users) is DOMAIN-BOUNDED (a
    * count, not a user id), and a group occupying ranks r+1..r+m
    * contributes v·(m·r + m(m+1)/2) exactly. One window partitioned
    * by event type walks the tiny census; everything stays long
    * arithmetic (n ≲ 10⁹, v ≲ 10⁶ ⇒ i·cᵢ sums ≲ 10²⁴? no — bounded
    * by n·S ≤ 10⁹·10¹² only at extreme corpora; at that point widen
    * through decimal(38,0) — documented, not silently wrong, and the
    * gate SFs sit 10 orders below).
    *
    * Scale: one corpus-sized map-side-combined (type, user) count,
    * one map-side census, a partitioned window over census rows. */
  def eventsUserGini(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val census = perUser.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    census
      .withColumn("r", coalesce(sum(col("m")).over(w), lit(0L)))
      .withColumn("ranksum",
        expr("c * (m * r + (m * (m + 1)) DIV 2)"))
      .groupBy(col("event_type"))
      .agg(sum(col("m")).as("n_users"), sum(expr("c * m")).as("total_events"),
        sum(col("ranksum")).as("rank_weighted_sum"))
      .withColumn("gini_milli", expr(
        """(2 * rank_weighted_sum - (n_users + 1) * total_events) * 1000
          | DIV (n_users * total_events)""".stripMargin))
  }

  /** TOP CONVERTING PATHS — the sequence-mining companion to
    * [[attributionUShape]] (same touch→conversion assignment, the
    * path itself instead of the credit split): per conversion the
    * ordered event-type path string of its touches, then the top-k
    * paths by conversion count — what funnel designers read to learn
    * which JOURNEYS convert, not just which channels. Ordering inside
    * a path is (us, event_id) — unique, so the string is a pure
    * function of the data on both engines (`array_sort` over structs
    * here, `string_agg ... ORDER BY` in the oracle).
    *
    * Scale: the assignment is the native forward as-of (user-keyed
    * shuffle); each path materializes via ONE bounded per-(user,
    * conv) aggregate (state = that conversion's touches, session-
    * bounded); the census is a map-side-combined (path) count and the
    * top-k is sort+limit — Spark plans TakeOrdered (per-partition
    * heaps + driver merge of k), never a single-partition window; the
    * rank column is a window over the already-reduced ≤ k rows. */
  def funnelPaths(spark: SparkSession, sfDir: String, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val events = Tables.events(spark, sfDir)
    val touches = events.filter(col("event_type") =!= "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("conv_id"))
    val matched = graft.plans.AsofJoinNative
      .asofJoin(touches, purchases, Seq("user_id"), "ts", direction = "forward")
      .filter(col("matched_ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        unix_micros(col("matched_ts")).as("conv_us"))
    val paths = matched.groupBy(col("user_id"), col("conv_us"))
      .agg(
        concat_ws(">", transform(
          array_sort(collect_list(struct(col("us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type"))).as("path"),
        count(lit(1)).as("n_touches"))
    val census = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("n_touches")).as("total_touches"))
      .withColumn("avg_len_milli",
        expr("total_touches * 1000 DIV n_conversions"))
    val top = census
      .orderBy(col("n_conversions").desc, col("path")).limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_conversions").desc, col("path"))).cast("long"))
      .select(col("rank"), col("path"), col("n_conversions"),
        col("total_touches"), col("avg_len_milli"))
  }

  /** MONITOR ENSEMBLE — the integration query over the four detector
    * classes (the monitor family's `corpus_release_funnel`): per
    * (type, day), the global-mean 3σ spike flag, the Hampel MAD
    * outlier flag, the CUSUM level-shift flag, the EWMA burst flag,
    * and the vote count — one alert row instead of four dashboards,
    * where 1 vote = "one detector's model of normal disagrees" and
    * 3+ votes = page someone. Each flag comes from the COMPONENT
    * OPERATOR verbatim (and the oracle composes the component
    * replicas verbatim), so the ensemble cannot drift from the
    * standalone queries it summarizes.
    *
    * Scale: composition-by-join on the calendar-bounded daily
    * censuses; each component is its own already-audited one-scan
    * plan — in production all four read the same materialized daily
    * table, and the joins are |days×types|-sized broadcasts. */
  def eventsMonitorEnsemble(spark: SparkSession, sfDir: String): DataFrame = {
    val mad = eventsMadOutliers(spark, sfDir)
      .select(col("event_type"), col("day"), col("n"),
        col("is_outlier").as("mad_outlier"))
    val cusum = eventsCusumShift(spark, sfDir)
      .select(col("event_type").as("c_type"), col("day").as("c_day"),
        col("is_shift").as("cusum_shift"))
    val ewma = eventsEwmaAnomaly(spark, sfDir)
      .select(col("event_type").as("e_type"), col("day").as("e_day"),
        col("is_burst").as("ewma_burst"))
    val spike = eventsSpikeDays(spark, sfDir)
      .select(col("day").as("s_day"), col("spike_3sigma"))
    mad
      .join(cusum, col("event_type") === col("c_type") && col("day") === col("c_day"))
      .join(ewma, col("event_type") === col("e_type") && col("day") === col("e_day"))
      .join(broadcast(spike), col("day") === col("s_day"))
      .select(col("event_type"), col("day"), col("n"),
        col("spike_3sigma"), col("mad_outlier"), col("cusum_shift"),
        col("ewma_burst"),
        (when(col("spike_3sigma"), 1L).otherwise(0L) +
          when(col("mad_outlier"), 1L).otherwise(0L) +
          when(col("cusum_shift"), 1L).otherwise(0L) +
          when(col("ewma_burst"), 1L).otherwise(0L)).as("votes"))
  }

  /** EVENT-TYPE TRANSITION MATRIX — the first-order Markov census of
    * user behavior (the sequence-mining staple behind funnel design
    * and bot detection: a user whose `view → purchase` probability
    * dwarfs the population's is a scripted client): per-user
    * event-type bigrams in (ts, event_id) order, aggregated to the
    * (from, to) matrix with exact milli transition probabilities
    * (row-normalized).
    *
    * Scale: ONE user-keyed shuffle for the lag window (per-user
    * sequences — the `sub_sessionize` shape), then a map-side-combined
    * count to the ≤|types|² matrix; row totals join back as a
    * |types|-row broadcast. */
  def eventsTransitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val bigrams = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = bigrams.groupBy(col("from_type")).agg(sum(col("n")).as("row_total"))
    bigrams.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("row_total"),
        expr("(n * 1000) DIV row_total").as("prob_milli"))
  }

  /** MARKOV STATIONARY FLOW (power iteration on the transition
    * census) — completes the Markov family: [[eventsTransitionMatrix]]
    * says where users go NEXT, this says where the flow SETTLES (the
    * long-run occupancy a capacity planner provisions for): π·P
    * iterated `rounds` times from the observed from-type shares, all
    * in exact micro integers — each term is the nonnegative
    * `(π_f · n_ft) DIV row_total_f`, so both engines floor
    * identically (per-round leak ≤ |types| micro, surfaced by the
    * convergence column rather than hidden). `delta_micro` = |last −
    * previous| is the audit that `rounds` suffices. Headroom:
    * π ≤ 10⁶ and n_ft ≤ 9·10¹² per cell before the product needs
    * decimal — far beyond any daily census.
    *
    * Scale: the iteration runs on the |types|² CENSUS, never the
    * corpus — one corpus-sized bigram count feeds it, then every
    * round is a broadcast join over ≤ 25 rows. */
  def markovStationary(spark: SparkSession, sfDir: String,
      rounds: Int = 8): DataFrame =
    markovStationaryFrom(eventsTransitionMatrix(spark, sfDir)
      .select(col("from_type"), col("to_type"), col("n"), col("row_total"))
      .localCheckpoint(), rounds)

  /** [[markovStationary]] over a caller-supplied (checkpointed)
    * transition census — lets [[eventsEntropyRate]] share ONE census
    * build instead of paying the corpus-sized bigram count twice. */
  def markovStationaryFrom(m: DataFrame, rounds: Int = 8): DataFrame = {
    val total = m.agg(sum(col("n")).as("t"))
    val pi0 = m.groupBy(col("from_type")).agg(max(col("row_total")).as("rt"))
      .crossJoin(broadcast(total))
      .select(col("from_type").as("event_type"),
        expr("(rt * 1000000) DIV t").as("pi"))
      .localCheckpoint()
    def step(pi: DataFrame): DataFrame =
      pi.select(col("event_type").as("from_type"), col("pi"))
        .join(broadcast(m), Seq("from_type"))
        .select(col("to_type").as("event_type"),
          expr("(pi * n) DIV row_total").as("term"))
        .groupBy(col("event_type")).agg(sum(col("term")).as("pi"))
        .localCheckpoint()
    var prev = pi0
    var cur = pi0
    for (_ <- 1 to rounds) { prev = cur; cur = step(cur) }
    pi0.select(col("event_type"), col("pi").as("pi0_micro"))
      .join(cur.select(col("event_type"), col("pi").as("pi_stat_micro")),
        Seq("event_type"))
      .join(prev.select(col("event_type"), col("pi").as("pi_prev")),
        Seq("event_type"))
      .select(col("event_type"), col("pi0_micro"), col("pi_stat_micro"),
        abs(col("pi_stat_micro") - col("pi_prev")).as("delta_micro"))
  }

  /** ENTROPY RATE of the user-flow chain (Shannon 1948's source rate,
    * composed from two existing censuses): per from-state the
    * conditional next-step entropy H_i = Σ_j p_ij·log2(1/p_ij) in
    * exact micro-bits via the portable integer log
    * ([[graft.operators.TextAnalysis.plog2MicroSql]] — the weighted
    * sum divides ONCE by the row total so floors don't accumulate),
    * weighted by [[markovStationary]]'s π to its contribution to the
    * chain's entropy rate H = Σ_i π_i·H_i — the "how predictable is
    * user behavior" number a sequence model's achievable perplexity
    * bottoms out at. Headroom: n_ij·plog ≲ 2⁶³ needs n_ij ≤ ~2·10¹¹
    * per cell (decimal hatch past that, the documented policy).
    *
    * Scale: everything runs on the |types|² census; the stationary
    * weights reuse the audited power iteration. */
  def eventsEntropyRate(spark: SparkSession, sfDir: String): DataFrame = {
    val plogRt = graft.operators.TextAnalysis.plog2MicroSql("rt")
    val plogNn = graft.operators.TextAnalysis.plog2MicroSql("nn")
    val m = eventsTransitionMatrix(spark, sfDir)
      .select(col("from_type"), col("to_type"), col("n"), col("row_total"))
      .localCheckpoint() // entropy terms + the power iteration
    val cond = m
      .select(col("from_type"), col("n").as("nn"), col("row_total").as("rt"))
      .withColumn("term", expr(s"nn * (($plogRt) - ($plogNn))"))
      .groupBy(col("from_type"))
      .agg(max(col("rt")).as("rt"), sum(col("term")).as("tsum"))
      .select(col("from_type").as("event_type"),
        expr("tsum DIV rt").as("cond_entropy_micro"))
    markovStationaryFrom(m)
      .select(col("event_type"), col("pi_stat_micro"))
      .join(cond, Seq("event_type"))
      .select(col("event_type"), col("pi_stat_micro"),
        col("cond_entropy_micro"),
        expr("(pi_stat_micro * cond_entropy_micro) DIV 1000000")
          .as("contrib_micro"))
  }

  /** CHANGESET APPLY (MERGE INTO) — the lakehouse write-path twin of
    * [[snapshotDiff]]: apply an (op, key, new-values) changeset to the
    * base snapshot with upsert semantics — `delete` drops the row,
    * `update` replaces values, `insert` adds the row, absent keys
    * carry. Correctness is pinned by the CDC ROUND-TRIP invariant:
    * the changeset is diff(A, B), so apply(A, changeset) must equal
    * snapshot B — and the DuckDB oracle recomputes B DIRECTLY, never
    * replaying the merge. A green row proves diff and apply compose
    * losslessly.
    *
    * Scale: one full-outer key join (zero-shuffle when both the table
    * and changelog are key-bucketed — the Delta/Iceberg MERGE shape);
    * the output slice (keys ≡0 mod 4) prunes BOTH inputs before the
    * join because the predicate is on the join key. */
  def applyChangeset(spark: SparkSession, sfDir: String): DataFrame = {
    val (a0, b0) = snapshotVersions(spark, sfDir)
    val slice = col("o_orderkey") % 4 === 0
    val a = a0.filter(slice)
    val b = b0.filter(slice)
    // the changeset diff(A, B): op + the full new-side values
    val cs = a.select(col("o_orderkey"), col("o_custkey").as("a_cust"),
        col("price_c").as("a_price"))
      .join(b.select(col("o_orderkey"), col("o_custkey").as("b_cust"),
        col("price_c").as("b_price")), Seq("o_orderkey"), "full_outer")
      .withColumn("op",
        when(col("a_cust").isNull, lit("insert"))
          .when(col("b_cust").isNull, lit("delete"))
          .when(col("a_price") =!= col("b_price"), lit("update")))
      .filter(col("op").isNotNull)
      .select(col("o_orderkey"), col("op"),
        col("b_cust").as("new_cust"), col("b_price").as("new_price"))
    // MERGE INTO a USING cs ON key: the one full-outer key join
    a.join(cs, Seq("o_orderkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("o_orderkey"),
        when(col("op").isin("insert", "update"), col("new_cust"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(col("op").isin("insert", "update"), col("new_price"))
          .otherwise(col("price_c")).as("price_c"))
  }

  /** Set operation: EXCEPT (distinct) — substrate capability. */
  def setExcept(spark: SparkSession, sfDir: String): DataFrame = {
    val allCust = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val urgentBuyers = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    allCust.except(urgentBuyers)
  }

  /** Event-time tumbling window aggregation (batch analogue of the
    * Structured Streaming pipeline in graft.streaming; SURVEY §2.7). */
  def tumblingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("value")))).as("total_value"))

  /** JSON projection (get_json_object analogue of P6 getitem on dicts,
    * scicat_dataset.py:192-197). */
  def p6JsonGetItem(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") > 90)

  /** Bloom-prefiltered shuffle join — the semi-join reduction Spark's
    * own runtime filter (`spark.sql.optimizer.runtime.bloomFilter.*`)
    * injects once the probe side crosses its 10 GiB threshold, built
    * explicitly via [[graft.plans.BloomFns]] so the plan shape is
    * deterministic at every scale factor:
    *
    *  1. the SELECTIVE side (urgent March-1995 orders) aggregates its
    *     join keys into ONE bloom filter row (a few KiB regardless of
    *     input size — map-side partial blooms OR-merge);
    *  2. the bloom reaches the probe side as a SCALAR SUBQUERY —
    *     `BloomFilterMightContain` requires a constant or scalar
    *     subquery bloom (analysis-enforced), the exact shape
    *     InjectRuntimeFilter itself builds; the subquery result
    *     broadcasts once per executor, not per row;
    *  3. the 100 TB side drops non-matching rows BEFORE its join
    *     shuffle: `bloom_contains` has no false negatives, so the
    *     equi-join result is exactly the plain join's (the oracle),
    *     while shuffle bytes scale with the MATCHING subset.
    *
    * At sf0.1 the filter passes ~1/40 of lineitem into the shuffle. */
  def bloomPrefilterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.BloomFns.register(spark)
    Tables.orders(spark, sfDir).createOrReplaceTempView("graft_bloom_orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_bloom_lineitem")
    spark.sql(
      """WITH urgent AS (
        |  SELECT o_orderkey, o_orderdate FROM graft_bloom_orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_orderdate >= '1995-03-01' AND o_orderdate < '1995-04-01'),
        |prefiltered AS (
        |  SELECT l_orderkey, l_extendedprice, l_discount
        |  FROM graft_bloom_lineitem
        |  WHERE bloom_contains(
        |    (SELECT bloom_agg(xxhash64(o_orderkey),
        |       CAST(100000 AS BIGINT), CAST(800000 AS BIGINT)) FROM urgent),
        |    xxhash64(l_orderkey)))
        |SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS order_day,
        |  count(*) AS n_items,
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) *
        |    (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2)
        |    as double) AS revenue
        |FROM prefiltered JOIN urgent ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)
  }

  /** LEVEL-SHIFT CHANGEPOINT (binary-segmentation depth 1) over the
    * per-type daily census — the offline twin of the CUSUM monitor:
    * CUSUM answers "did the level shift past the calibrated mean",
    * this answers WHERE the single best shift sits. For each
    * event_type the split s maximizes the two-segment fit
    * f(s) = S_l²/n_l + S_r²/n_r (equivalent to minimizing total SSE —
    * the Σx² term is split-invariant), evaluated in EXACT integer
    * milli via floor division on both engines; ties break to the
    * earliest split day through the lexicographic struct max (the
    * portable argmax of the OHLC pattern — no window, no sort).
    *
    * Scale: one corpus-sized map-side daily count; prefix sums ride a
    * calendar-bounded per-type window (the monitor-family census
    * contract); the argmax is a map-side-combined struct max; totals
    * broadcast. Headroom: S²·1000 needs Σn ≲ 3·10⁶ per type — past
    * that, widen through decimal(38,0) (the eventsUserGini policy).
    */
  def eventsLevelShift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("s_tot"), count(lit(1)).as("n_tot"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pre = daily
      .withColumn("s_l", sum(col("n")).over(w))
      .withColumn("n_l", row_number().over(w).cast("long"))
      .join(broadcast(tot), Seq("event_type"))
      .filter(col("n_l") < col("n_tot"))
      .withColumn("f_milli", expr(
        """(s_l * s_l * 1000) DIV n_l +
          |((s_tot - s_l) * (s_tot - s_l) * 1000) DIV (n_tot - n_l)"""
          .stripMargin))
    pre.groupBy(col("event_type"))
      .agg(max(struct(col("f_milli"), (-col("day")).as("negday"),
        col("day"), col("s_l"), col("n_l"), col("s_tot"), col("n_tot")))
        .as("b"))
      .select(col("event_type"),
        col("b.day").as("split_day"),
        col("b.n_tot").as("n_days"),
        expr("(b.s_l * 1000) DIV b.n_l").as("mean_left_milli"),
        expr("((b.s_tot - b.s_l) * 1000) DIV (b.n_tot - b.n_l)")
          .as("mean_right_milli"),
        expr("b.f_milli - (b.s_tot * b.s_tot * 1000) DIV b.n_tot")
          .as("gain_milli"))
  }

  /** ABC INVENTORY CLASSIFICATION — the classic Pareto cut on part
    * revenue (A: first 80% of revenue, B: to 95%, C: the tail),
    * summarized per class. Revenue is exact E4 units (cents × cents,
    * the q15 idiom); class boundaries are integer cross-multiplied
    * (cum·100 ≤ 80·total — never a division); ranking ties break by
    * partkey so both engines walk the identical prefix order.
    *
    * Scale: per-part revenue collapses map-side on l_partkey (the
    * fact table never sorts); the cumulative share uses the
    * DISTRIBUTED prefix-sum (range repartition → parallel per-
    * partition windows → broadcast cross-partition offsets), so no
    * single task ever holds the part dimension; the closing rollup is
    * a 3-row aggregate. */
  def ordersAbcClasses(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val revE4 = (dec(col("l_extendedprice")) * 100).cast("long") *
      ((lit(1).cast("decimal(18,2)") - dec(col("l_discount"))) * 100).cast("long")
    val perPart = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey")).agg(sum(revE4).as("rev_e4"))
    // DISTRIBUTED prefix sum — the cumulative revenue share never runs
    // a single-task global sort: range-repartition by (rev desc, key),
    // per-partition prefix windows run in parallel, and the cross-
    // partition offsets ride a ≤ #partitions-row broadcast (the
    // layout-pass shape). localCheckpoint because the ranged table
    // feeds BOTH the offset aggregate and the prefix window (range
    // boundary seeds must not re-draw — the zorder flake).
    val parted = perPart
      .repartitionByRange(col("rev_e4").desc, col("l_partkey"))
      .withColumn("pid", spark_partition_id().cast("long"))
      .localCheckpoint()
    val offsets = parted.groupBy(col("pid")).agg(sum(col("rev_e4")).as("psum"))
      .withColumn("offset", coalesce(sum(col("psum")).over(
        Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    val wIn = Window.partitionBy(col("pid"))
      .orderBy(col("rev_e4").desc, col("l_partkey"))
    val tot = perPart.agg(sum(col("rev_e4")).as("tot_e4"))
    parted
      .withColumn("inpfx", sum(col("rev_e4")).over(wIn))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("cum_e4", col("offset") + col("inpfx"))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum_e4") * 100 <= col("tot_e4") * 80, "A")
          .when(col("cum_e4") * 100 <= col("tot_e4") * 95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev_e4")).as("class_rev_e4"),
        expr("(sum(rev_e4) * 1000) DIV first(tot_e4)").as("rev_share_milli"))
  }

  /** SEASONALITY STRENGTH (one-way ANOVA eta-squared by day-of-week)
    * — the single number behind [[eventsDowProfile]]'s table: how much
    * of the daily-count variance does the weekly cycle explain?
    * eta_milli = SS_between/SS_total in milli, computed from pure
    * integer moments (S, Sigma-x-squared per type; S_d, N_d per dow) with
    * every rational term floored identically on both engines
    * (milli-scaled floor division, the level-shift discipline);
    * SS_between clamps at 0 because per-term floors can undershoot by
    * < |dows|. A value near 1000 = counts are a pure weekly pattern
    * ([[eventsForecastSnaive]] will look good); near 0 = the dow
    * profile is noise.
    *
    * Scale: one corpus-sized map-side daily count, then ONE pass of
    * map-side-combined (type, dow) and (type) moments — no window at
    * all, everything |types|·7-bounded. */
  def eventsSeasonalityStrength(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", col("day") % 7)
      .localCheckpoint(eager = false) // the dow and total moments share it
    val byDow = daily.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("s_d"), count(lit(1)).as("n_d"))
      .groupBy(col("event_type"))
      .agg(sum(expr("(s_d * s_d * 1000) DIV n_d")).as("f_milli"))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("s"), sum(expr("n * n")).as("sumsq"),
        count(lit(1)).as("n_days"))
    tot.join(byDow, Seq("event_type"))
      .withColumn("s2n_milli", expr("(s * s * 1000) DIV n_days"))
      .withColumn("ssb_milli", greatest(expr("f_milli - s2n_milli"), lit(0L)))
      .withColumn("sst_milli", expr("sumsq * 1000 - s2n_milli"))
      .select(col("event_type"), col("n_days"), col("s").as("total_events"),
        col("ssb_milli"), col("sst_milli"),
        expr("""CASE WHEN sst_milli > 0
          |THEN (ssb_milli * 1000) DIV sst_milli ELSE 0 END""".stripMargin)
          .as("eta_milli"))
  }

  /** REORDER-INTERVAL CENSUS — the purchase-cadence profile per market
    * segment (the recency axis of [[ordersRfmSegments]] extended to
    * the full gap distribution): per customer the day gaps between
    * consecutive orders (deterministic (day, orderkey) order), then
    * per segment the DISCRETE lower median, exact milli mean, and max
    * gap. The replenishment statistic inventory planners read next to
    * the ABC classes.
    *
    * Scale: the lag window is customer-keyed (the as-of shuffle
    * shape, O(1) state per row); the median never sorts raw gaps —
    * it reads the (segment, gap) CENSUS (bounded by the calendar
    * span) with a census-ordered cumulative window, the
    * [[eventsUserGini]] discipline; the dim join broadcasts. */
  def ordersReorderIntervals(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
        .as("day"), col("o_orderkey"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = o.withColumn("prev", lag(col("day"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), (col("day") - col("prev")).as("gap"))
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    val census = gaps.groupBy(col("c_mktsegment"), col("gap"))
      .agg(count(lit(1)).as("m"))
      .localCheckpoint(eager = false) // totals AND the median share it
    val tot = census.groupBy(col("c_mktsegment"))
      .agg(sum(col("m")).as("n_gaps"),
        sum(expr("gap * m")).as("sum_gap"), max(col("gap")).as("max_gap"))
    val wc = Window.partitionBy(col("c_mktsegment")).orderBy(col("gap"))
    val med = census.withColumn("cum", sum(col("m")).over(wc))
      .join(broadcast(tot.select(col("c_mktsegment"), col("n_gaps"))),
        Seq("c_mktsegment"))
      .filter(col("cum") >= expr("(n_gaps + 1) DIV 2"))
      .groupBy(col("c_mktsegment")).agg(min(col("gap")).as("median_gap"))
    tot.join(med, Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("n_gaps"), col("median_gap"),
        expr("(sum_gap * 1000) DIV n_gaps").as("mean_gap_milli"),
        col("max_gap"))
  }
}
