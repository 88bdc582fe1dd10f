package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Skew-handling substrate: salted aggregation and salted joins — the
  * manual fallbacks when AQE's skew-join split isn't applicable (e.g.
  * skewed groupBy keys, or builds where AQE is off).
  *
  * Pattern: explode the hot key into `salt` sub-keys, pre-aggregate on
  * (key, salt) — the heavy shuffle carries salt-spread partitions — then
  * finish with a cheap second aggregation on the (now tiny) keyed rows.
  */
object Skew {

  val Salts = 8

  /** Two-stage salted aggregation over a skewed key (event_type has ~5
    * values across all rows — every partition-sized key is "hot").
    * Results are identical to a direct groupBy; the oracle checks that.
    */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val salted = Tables.events(spark, sfDir)
      .withColumn("salt", pmod(col("event_id"), lit(Salts)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
    salted.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"),
        round(sum(col("v")), 2).cast("double").as("total_value"))
  }

  /** Salted join of a skewed fact against a replicated small side:
    * the hot build rows are replicated once per salt so the stream side
    * spreads across `Salts` partitions per key. Equivalent to the plain
    * broadcast join (oracle-checked); the pattern matters when the
    * small side is too large to broadcast but the key histogram is
    * extreme.
    */
  def saltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val facts = Tables.events(spark, sfDir)
      .withColumn("salt", pmod(col("event_id"), lit(Salts)))
    val dim = Seq("click" -> 1.0, "view" -> 0.1, "purchase" -> 10.0,
      "signup" -> 5.0, "error" -> 0.0)
      .toDF("event_type", "weight")
      .withColumn("salt", explode(sequence(lit(0), lit(Salts - 1))))
    facts.join(dim, Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(round(sum(col("value").cast("decimal(18,2)") * col("weight").cast("decimal(18,2)")), 2)
        .cast("double").as("weighted_value"))
  }

  /** Exact interpolated percentiles via explicit rank arithmetic
    * (windowed row_number + linear interpolation). Built-in
    * `percentile`/`quantile_cont` associate the interpolation
    * differently across engines (one-ulp differences that survive
    * rounding at quantile boundaries); spelling the formula out makes
    * the float ops identical on both sides — and the window+aggregate
    * shape is itself substrate coverage. */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    val ranked = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
    def q(p: Double, tag: String): Seq[(String, org.apache.spark.sql.Column)] = {
      val pos = (col("n") - 1).cast("double") * p + 1.0
      Seq(
        s"lo_$tag" -> floor(pos),
        s"hi_$tag" -> ceil(pos),
        s"frac_$tag" -> (pos - floor(pos)))
    }
    val marks = (q(0.5, "50") ++ q(0.95, "95")).foldLeft(ranked) {
      case (d, (name, c)) => d.withColumn(name, c)
    }
    def interp(tag: String) = {
      val vLo = max(when(col("rn") === col(s"lo_$tag"), col("l_extendedprice")))
      val vHi = max(when(col("rn") === col(s"hi_$tag"), col("l_extendedprice")))
      PortableRound.pround(vLo + (vHi - vLo) * max(col(s"frac_$tag")), 2)
    }
    marks.groupBy(col("l_returnflag"))
      .agg(interp("50").as("p50_exact"), interp("95").as("p95_exact"))
  }

  /** SKEW ADVISOR — the measurement half of the salting pattern
    * ([[saltedAgg]]/[[saltedJoin]] are the treatment): census the key
    * histogram of a planned shuffle key, flag keys whose row count
    * exceeds the per-task target, and recommend the salt factor
    * `ceil(n/target)` (capped — beyond the cap you re-shard the
    * pipeline, not the key). This is the number an operator (or AQE's
    * skew threshold) acts on; publishing it as a query makes the
    * decision auditable instead of folklore.
    *
    * Scale: ONE map-side-combined count on the key (the cheapest
    * possible full-data statistic); the key-count histogram is
    * key-cardinality-sized, the grand total is a 1-row broadcast, and
    * everything after the count touches only histogram rows. */
  def skewAdvisor(spark: SparkSession, sfDir: String,
      targetRows: Long = 1000L, maxSalt: Long = 32L): DataFrame = {
    val hist = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_rows"))
    val total = hist.agg(sum(col("n_rows")).as("tot"))
    hist.crossJoin(broadcast(total))
      .select(col("event_type"), col("n_rows"),
        PortableRound.pround(col("n_rows") * 100.0 / col("tot"), 4)
          .as("share_pct"),
        least(lit(maxSalt),
          expr(s"(n_rows + ${targetRows - 1}) DIV $targetRows"))
          .as("recommended_salt"),
        (col("n_rows") > targetRows).as("is_hot"))
  }

  /** Bounded-state approximate aggregates, ORACLE-CHECKABLE: the
    * portable KMV distinct-count estimate (the same bit-replicable
    * sketch proven in sketch_kmv_distinct — md5-48 hash space, k=64
    * minima, (k−1)·2^48/h_k estimator) plus an exact discrete median
    * twin. Spark's own `approx_count_distinct`/`percentile_approx`
    * (HLL / quantile-digest) have engine-specific estimates no other
    * engine can replay; the KMV estimate is a pure function of the
    * k-th smallest portable hash, so the ESTIMATE itself goes through
    * the DuckDB gate.
    *
    * The median twin is the count-histogram order statistic: collapse
    * to (flag, price) counts first (map-side combined; the histogram
    * is value-cardinality-sized, ≪ rows), then a cumulative-sum window
    * over the per-flag histogram picks the value whose cumulative
    * count spans ceil(n/2) — contrast with [[percentiles]], whose
    * row-level window sorts the full table per flag and is the
    * interpolating variant. No arithmetic touches the returned price,
    * so the double is bit-exact across engines. */
  def approxAggs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.BoundedAggregates.register(spark)
    val k = Sketches.KmvK
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        graft.functions.PortableHash.md5Hash48(col("l_partkey").cast("string")).as("h"),
        col("l_extendedprice").as("price"))
    val est = lit((k - 1) * math.pow(2, 48)) /
      element_at(col("kmv"), size(col("kmv"))).cast("double")
    val kmv = li.groupBy(col("l_returnflag"))
      .agg(call_function("kmv_sketch", col("h"), lit(k)).as("kmv"))
      .select(col("l_returnflag"),
        size(col("kmv")).cast("long").as("k_used"),
        when(size(col("kmv")) < k, size(col("kmv")).cast("double"))
          .otherwise(PortableRound.pround(est, 4)).as("est_parts"))
    val hist = li.groupBy(col("l_returnflag"), col("price"))
      .agg(count(lit(1)).as("c"))
    val cum = sum(col("c"))
      .over(Window.partitionBy(col("l_returnflag")).orderBy(col("price")))
    val med = hist.withColumn("cum", cum)
      .withColumn("n_all", sum(col("c")).over(Window.partitionBy(col("l_returnflag"))))
      // lower median rank: integer DIV, not `/` (Column `/` is double
      // division, which would shift the target by 0.5 on even counts)
      .withColumn("target", expr("(n_all + 1) DIV 2"))
      .filter(col("cum") - col("c") < col("target") && col("target") <= col("cum"))
      .select(col("l_returnflag"), col("price").as("p50_exact"))
    kmv.join(med, Seq("l_returnflag"))
  }
}
