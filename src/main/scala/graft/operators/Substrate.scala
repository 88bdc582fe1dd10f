package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.Extractors

/** Additional relational-substrate coverage: grouping sets, semi joins,
  * pattern joins, date arithmetic, SQL-text entry, extractor registry,
  * common-path aggregation, checksum surface. Everything here is a
  * single declarative plan — Catalyst picks broadcast vs shuffle and
  * keeps aggregates partial.
  */
object Substrate {

  /** ROLLUP aggregation (grouping-set substrate; free per SURVEY §2.5). */
  def rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double").as("total"))

  /** CUBE aggregation — all four grouping sets of (lang, source) in one
    * pass (the Expand doubles rows per grouping set, aggregates stay
    * partial; the rollup twin is [[rollup]]). */
  def cubeOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))

  /** FULL OUTER join — the one join flavor the substrate hadn't
    * exercised: segment customers vs their 1996 order activity, keeping
    * BOTH unmatched sides (segment customers with no orders AND active
    * customers outside the segment). Null-free output (coalesced keys /
    * zeros / placeholder name) so the hash compare is stable.
    *
    * Scale: both sides shuffle once on the join key — the standard
    * full-outer plan; the aggregate side collapses map-side first. */
  def fullOuterActivity(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val act = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double").as("total_spend"))
    cust.join(act, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_name"), lit("(outside-segment)")).as("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("total_spend"), lit(0.0)).as("total_spend"))
  }

  /** PIVOT — per-lang document counts spread into one column per source
    * bucket (the explicit value list keeps the output schema static, as
    * a production pivot at scale must: an unlisted-values pivot
    * collects the distinct values to the driver first). */
  def pivotLangSource(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("src_bucket",
        concat(lit("src"), pmod(substring(col("source"), 4, 10).cast("long"), lit(4))))
      .groupBy(col("lang"))
      .pivot("src_bucket", Seq("src0", "src1", "src2", "src3"))
      .agg(count(lit(1)))
      .select(col("lang"), coalesce(col("src0"), lit(0L)).as("src0"),
        coalesce(col("src1"), lit(0L)).as("src1"),
        coalesce(col("src2"), lit(0L)).as("src2"),
        coalesce(col("src3"), lit(0L)).as("src3"))

  /** LEFT SEMI join (EXISTS shape — F6's complement). */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    Tables.customer(spark, sfDir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** ilike pattern join — the J1 lookup variant
    * (ref: resources/small-ymir.imsc.yml.example:56 uses an ilike
    * filter in the instrument lookup). */
  def ilikeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables.nation(spark, sfDir)
    Tables.supplier(spark, sfDir)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").ilike("%ation_1%"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"))
  }

  /** INTERSECT set op: customers buying at both priority extremes. */
  def intersectOp(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val low = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey"))
    urgent.intersect(low)
  }

  /** Date arithmetic substrate: extraction, truncation, intervals. */
  def dateOps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").as("due_day"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date")).as("age_days"))

  /** SQL-text entry point: the same engine drives spark.sql over
    * registered views (API-surface parity for SQL users). */
  def sqlTopCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("v_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders")
    spark.sql(
      """SELECT c_custkey, c_name,
        |  count(*) AS n_orders,
        |  cast(round(sum(cast(o_totalprice as decimal(18,2))), 2) as double) AS spend
        |FROM v_customer JOIN v_orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY spend DESC, c_custkey LIMIT 25""".stripMargin)
  }

  /** A7: pluggable extractor aggregates applied by NAME over an array
    * column (max/min/mean goldens of the reference's extractor tests). */
  def extractorStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(
        col("vec_id"),
        PortableRound.pround(Extractors("max")(col("embedding")).cast("double"), 4).as("emb_max"),
        PortableRound.pround(Extractors("min")(col("embedding")).cast("double"), 4).as("emb_min"),
        PortableRound.pround(Extractors("mean")(col("embedding")), 4).as("emb_mean"),
        Extractors("count")(col("embedding")).as("emb_dim"))

  /** A3 as a groupBy aggregate via the typed CommonPathAggregator. */
  def commonPathByLang(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = udaf(new graft.plans.CommonPathAggregator)
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        concat(lit("/data/"), col("lang"), lit("/"), col("source"), lit("/run.nxs")).as("p"))
      .groupBy(col("lang"))
      .agg(agg(col("p")).as("common_path"), count(lit(1)).as("n_docs"))
  }

  /** S8 checksum surface: blake2b-512 hex over document bytes (UDF —
    * no DuckDB analogue, validated against RFC 7693 vectors in specs). */
  def blake2bChecksums(spark: SparkSession, sfDir: String): DataFrame = {
    val b2b = udf((s: String) =>
      if (s == null) null
      else graft.functions.Blake2b.hashHex(s.getBytes("UTF-8")))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), b2b(col("text")).as("blake2b"))
  }

  /** Format-bridge round-trip: the documents table written to and read
    * back from ORC, CSV and JSON (Spark's other three first-class file
    * formats), then aggregated per format. The oracle is the same
    * aggregate over the ORIGINAL parquet cross-joined with the format
    * names — equality proves each round-trip is lossless, including
    * CSV quoting of free text and JSON string escaping. The gate thus
    * covers format IO, not just query logic.
    *
    * Scale: each write is one pass over the (pruned) columns; reads
    * carry explicit schemas (no inference scan); the closing agg
    * collapses map-side to `formats × langs` rows. */
  def formatBridge(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val schema = docs.schema
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt_bridge").toString
    docs.write.mode("overwrite").orc(s"$tmp/orc")
    docs.write.mode("overwrite").option("header", "true").option("quoteAll", "true")
      .csv(s"$tmp/csv")
    docs.write.mode("overwrite").json(s"$tmp/json")
    val back = Seq(
      "orc" -> spark.read.schema(schema).orc(s"$tmp/orc"),
      "csv" -> spark.read.schema(schema).option("header", "true").csv(s"$tmp/csv"),
      "json" -> spark.read.schema(schema).json(s"$tmp/json"))
    back.map { case (fmt, df) =>
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_text_len"))
        .select(lit(fmt).as("fmt"), col("lang"), col("n_docs"),
          col("sum_chars"), col("sum_text_len"))
    }.reduce(_.unionByName(_))
  }

  /** The lineitem projection both profiler variants sweep: keys as-is,
    * money as exact BIGINT cents, dates as ISO strings, so both engines
    * render min/max identically. */
  private def profileInput(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("l_quantity_c"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("l_extendedprice_c"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipdate"),
        col("l_returnflag"))

  /** BLOOM-FILTER SIZING ADVISOR — the tuning-curve companion to
    * [[graft.plans.BloomFns]] and the runtime-filter family: for each
    * join-key column, its KMV NDV estimate (the same O(64)-state
    * sketch as [[profileColumns]], one scan per table) and, for two
    * candidate bit budgets, the resulting bits/key, the optimal hash
    * count k = round(m/n · ln 2), and the idealized false-positive
    * rate at that k — which is EXACTLY 2^−k, so the whole advisor
    * stays in integer arithmetic (ln 2 enters as the compile-time
    * micro constant 693147; no runtime libm call whose last ulp could
    * differ across engines). `m_opt_1pct_bits` inverts the sizing for
    * a 1% target (9.585060 bits/key, same constant convention).
    *
    * Scale: one scan per keyed table with map-side-combined sketch
    * partials; everything after the 4-row NDV table is constant work. */
  def bloomAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.BoundedAggregates.register(spark)
    val k = Sketches.KmvK
    def ndv(df: DataFrame, table: String, column: String): DataFrame =
      df.select(graft.functions.PortableHash.md5Hash48(
          col(column).cast("string")).as("h"))
        .agg(call_function("kmv_sketch", col("h"), lit(k)).as("kmv"))
        .select(lit(s"$table.$column").as("key_col"),
          when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
            .otherwise(floor(lit((k - 1) * math.pow(2, 48)) /
              element_at(col("kmv"), size(col("kmv"))).cast("double") + 0.5)
              .cast("long")).as("ndv_est"))
    val cols = ndv(Tables.events(spark, sfDir), "events", "user_id")
      .unionAll(ndv(Tables.orders(spark, sfDir), "orders", "o_custkey"))
      .unionAll(ndv(Tables.lineitem(spark, sfDir), "lineitem", "l_partkey"))
      .unionAll(ndv(Tables.lineitem(spark, sfDir), "lineitem", "l_suppkey"))
    cols.select(col("key_col"), col("ndv_est"),
        explode(array(lit(1L << 20), lit(1L << 23))).as("m_bits"))
      .select(col("key_col"), col("ndv_est"), col("m_bits"),
        expr("(m_bits * 1000) DIV ndv_est").as("bits_per_key_milli"),
        expr("greatest(1L, (m_bits * 693147 + ndv_est * 500000) DIV (ndv_est * 1000000))")
          .as("k_opt"))
      .withColumn("fpp_micro",
        expr("shiftright(1000000L, CAST(least(k_opt, 62L) AS INT))"))
      .withColumn("m_opt_1pct_bits",
        expr("(ndv_est * 9585060 + 999999) DIV 1000000"))
  }

  /** Column profiler — the ANALYZE-TABLE statistics sweep every engine
    * ships (per-column row/null/distinct counts + min/max): ONE pass
    * over lineitem, unpivoted to a row per column. NDV is the portable
    * KMV sketch estimate ([[graft.plans.BoundedAggregates.KmvSketch]],
    * deterministic and bit-replicable in the DuckDB oracle — the
    * `sketch_kmv_distinct` row proves the estimator): exact below k=64
    * distinct hashes, (k−1)·2⁴⁸/kth-min above. This is the right
    * ANALYZE default — exact multi-column NDV planned as an Expand ×
    * (columns+1), 8× the row traffic of the insight;
    * the sketch keeps O(k) state per column in the SAME single scan.
    * The exact variant survives as [[profileColumnsExact]].
    *
    * Scale: one scan, map-side partial aggregation, 7×64 longs of
    * sketch state per partition — constant in rows. */
  def profileColumns(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.BoundedAggregates.register(spark)
    val k = Sketches.KmvK
    val li = profileInput(spark, sfDir)
    val cols = li.schema.fieldNames.toSeq
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"cnt_$c"),
        call_function("kmv_sketch",
          graft.functions.PortableHash.md5Hash48Native(spark, col(c).cast("string")),
          lit(k)).as(s"kmv_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    }
    val allAggs = count(lit(1)).as("n_rows") +: aggs
    val one = li.agg(allAggs.head, allAggs.tail: _*)
    // sketch → estimate, exactly as sketch_kmv_distinct publishes it
    val withEst = one.select(col("n_rows") +: cols.flatMap { c =>
      val kmv = col(s"kmv_$c")
      val est = lit((k - 1) * math.pow(2, 48)) /
        element_at(kmv, size(kmv)).cast("double")
      Seq(col(s"cnt_$c"), col(s"min_$c"), col(s"max_$c"),
        when(size(kmv) < k, size(kmv).cast("double"))
          .otherwise(PortableRound.pround(est, 4)).as(s"ndv_$c"))
    }: _*)
    val stacked = cols.map(c =>
      s"'$c', cnt_$c, ndv_$c, min_$c, max_$c").mkString(", ")
    withEst.select(col("n_rows"), expr(
        s"stack(${cols.size}, $stacked) AS (column_name, n_filled, ndv_est, min_v, max_v)"))
      .select(col("column_name"), col("n_rows"),
        (col("n_rows") - col("n_filled")).as("n_null"),
        col("ndv_est"), col("min_v"), col("max_v"))
  }

  /** Exact-NDV twin of [[profileColumns]] — the one-shot ANALYZE you run
    * when cardinalities must be exact. Kept OFF the bench headline set;
    * the sketch variant is the scale default.
    *
    * Plan shape: NOT the naive multi-column `count_distinct` in one
    * aggregate — that plans as Expand × (columns+1) where every
    * expanded row still carries ALL column values plus 4·columns agg
    * buffers through two shuffles (measured 13 s at sf0.1). Instead:
    * pass 1 computes the scalar stats (count/min/max, no distinct) in
    * one narrow scan; pass 2 stacks to NARROW (column_name, value)
    * pairs, collapses distinct map-side, and counts per column — the
    * same Expand factor but two-column rows through the shuffle
    * (13.1 s → 5.1 s warmed at sf0.1, and at 100 TB the narrow
    * shuffle is the difference that matters). String-rendered values
    * keep NDV exact: every
    * profiled type's rendering is injective (ints, cents-longs,
    * ISO dates, flags). */
  def profileColumnsExact(spark: SparkSession, sfDir: String): DataFrame = {
    val li = profileInput(spark, sfDir)
    val cols = li.schema.fieldNames.toSeq
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"cnt_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    }
    val one = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackedVals = cols.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
    val ndv = li
      .select(expr(s"stack(${cols.size}, $stackedVals) AS (column_name, v)"))
      .filter(col("v").isNotNull)
      .distinct()
      .groupBy(col("column_name")).agg(count(lit(1)).as("ndv"))
    val stacked = cols.map(c =>
      s"'$c', cnt_$c, min_$c, max_$c").mkString(", ")
    one.select(col("n_rows"), expr(
        s"stack(${cols.size}, $stacked) AS (column_name, n_filled, min_v, max_v)"))
      .join(broadcast(ndv), Seq("column_name"))
      .select(col("column_name"), col("n_rows"),
        (col("n_rows") - col("n_filled")).as("n_null"),
        col("ndv"), col("min_v"), col("max_v"))
  }

  /** 16-bit × 16-bit Morton interleave as a codegen'd integer
    * expression: bit i of each key lands at positions 2i / 2i+1 — the
    * z-order curve value [[zorderLayout]] sorts by, public so the
    * physical-skipping spec lays real parquet out with the same curve. */
  def morton(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      (shiftright(x, i).bitwiseAND(1L) * (1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(1L) * (1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Production path: the native [[graft.plans.HilbertIndex]]
    * expression — one codegen'd call per row instead of the 16-round
    * projection chain below (measured ~5× on the layout family at
    * sf0.1, BENCHNOTES.md). The chain is retained as
    * [[withHilbertColumns]]: it documents the per-round math the
    * DuckDB oracle replays, and HilbertIndexSpec pins the two
    * bit-identical. */
  def withHilbert(df: DataFrame, xc: org.apache.spark.sql.Column,
      yc: org.apache.spark.sql.Column, out: String): DataFrame = {
    graft.plans.HilbertIndex.register(df.sparkSession)
    df.withColumn(out,
      call_function("hilbert16", xc.cast("long"), yc.cast("long")))
  }

  /** HILBERT curve index (xy2d, order 16) as a codegen'd integer
    * expression — the clustering curve that beats Z-order on rectangle
    * predicates because consecutive curve positions are always
    * grid-adjacent (no Z-shaped jumps across the key domain), which is
    * why modern lakehouse clustering uses it. Unrolled 16 rounds of
    * the classic bit-interleave-with-rotation: per round, quadrant
    * digit `(3·rx) xor ry` scales by s², then the (x, y) frame
    * reflects/swaps. The full-width complement `(2¹⁶−1)−x` is used for
    * the reflection — subsequent rounds only read bits below s, where
    * it agrees with the in-quadrant complement, and the SAME unrolled
    * form replays in DuckDB so the oracle is bit-identical.
    *
    * NOT a single Column on purpose: each round reads the previous
    * round's (x, y) several times, so one nested expression would grow
    * 4^order nodes (observed: OOM in Column normalization at order
    * 16). Per-round NAMED projections keep every Project small, and
    * CollapseProject declines to inline multiply-referenced non-cheap
    * aliases, so the plan stays a 16-step linear chain — correct but
    * slow to EXECUTE (~100 nodes per row × 16 projections), which is
    * why production goes through [[withHilbert]]'s native expression. */
  def withHilbertColumns(df: DataFrame, xc: org.apache.spark.sql.Column,
      yc: org.apache.spark.sql.Column, out: String,
      order: Int = 16): DataFrame = {
    val n = 1L << order
    // same low-`order`-bit domain mask as HilbertIndex.xy2d and the
    // oracle h0 CTE — keeps all three surfaces bit-identical when a
    // key exceeds the 2^order grid
    var cur = df.withColumn("__hx", xc.cast("long").bitwiseAND(lit(n - 1)))
      .withColumn("__hy", yc.cast("long").bitwiseAND(lit(n - 1)))
      .withColumn("__hd", lit(0L))
    var s = n >> 1
    while (s > 0) {
      val x = col("__hx"); val y = col("__hy")
      val rx = when(x.bitwiseAND(s) > 0, 1L).otherwise(0L)
      val ry = when(y.bitwiseAND(s) > 0, 1L).otherwise(0L)
      val flip = ry === 0 && rx === 1
      val xf = when(flip, lit(n - 1) - x).otherwise(x)
      val yf = when(flip, lit(n - 1) - y).otherwise(y)
      cur = cur
        .withColumn("__hd2", col("__hd") +
          lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry))
        .withColumn("__hx2", when(ry === 0, yf).otherwise(xf))
        .withColumn("__hy2", when(ry === 0, xf).otherwise(yf))
        .drop("__hd", "__hx", "__hy")
        .withColumnRenamed("__hd2", "__hd")
        .withColumnRenamed("__hx2", "__hx")
        .withColumnRenamed("__hy2", "__hy")
      s >>= 1
    }
    cur.withColumnRenamed("__hd", out).drop("__hx", "__hy")
  }

  /** The DuckDB replica of [[withHilbert]] as a chain of per-round CTE
    * column rewrites over table `src` (must expose `hx`, `hy`, the
    * carried columns, and is consumed as `h0`): returns (cteList,
    * finalName) where finalName's `hd` column is the Hilbert index. */
  def hilbertOracleCtes(carry: Seq[String], order: Int = 16): (Seq[String], String) = {
    val n = 1L << order
    val carryCols = carry.mkString(", ")
    val ctes = (0 until order).map { r =>
      val s = 1L << (order - 1 - r)
      s"""h${r + 1} AS (SELECT $carryCols,
         |    CASE WHEN ((CASE WHEN (hy & $s) > 0 THEN 0 ELSE 1 END) = 1)
         |      THEN (CASE WHEN (hx & $s) > 0 AND (hy & $s) = 0 THEN ${n - 1} - hy ELSE hy END)
         |      ELSE (CASE WHEN (hx & $s) > 0 AND (hy & $s) = 0 THEN ${n - 1} - hx ELSE hx END) END AS hx,
         |    CASE WHEN ((CASE WHEN (hy & $s) > 0 THEN 0 ELSE 1 END) = 1)
         |      THEN (CASE WHEN (hx & $s) > 0 AND (hy & $s) = 0 THEN ${n - 1} - hx ELSE hx END)
         |      ELSE (CASE WHEN (hx & $s) > 0 AND (hy & $s) = 0 THEN ${n - 1} - hy ELSE hy END) END AS hy,
         |    hd + ${s * s} * xor(3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
         |      (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)) AS hd
         |  FROM h$r)""".stripMargin
    }
    (ctes, s"h$order")
  }

  /** The layout family's key projection: (tie-break keys, clustering
    * keys, Morton value) over lineitem — shared by [[zorderLayout]]
    * and [[layoutSkipWorkload]]. */
  private def layoutKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .withColumn("zval", morton(col("l_partkey"), col("l_suppkey")))

  /** Z-ORDER data layout — the multi-dimensional clustering pass a
    * 100 TB table needs when queries filter on TWO keys (Delta/Iceberg
    * OPTIMIZE ZORDER BY): rows order by the bit-interleaved
    * (l_partkey, l_suppkey) Morton value and pack into fixed-size
    * blocks ("files"), whose per-block min/max ZONE MAPS are what a
    * scan prunes with. The report compares, for one rectangle
    * predicate, how many blocks a z-ordered layout touches vs the
    * natural (orderkey-ordered) layout — the number that justifies the
    * layout job. Everything is exact integer bit arithmetic.
    *
    * Scale: a layout job IS a global range-partitioned sort — and the
    * global position that assigns block ids is computed the DISTRIBUTED
    * way (range-repartition → per-partition rank → broadcast of the
    * P-row partition-offset table), never a single-partition window.
    * The zone-map census is one map-side collapsed aggregate per
    * layout; the report touches only the per-block min/max table,
    * never the data again. */
  def zorderLayout(spark: SparkSession, sfDir: String,
      blockRows: Int = 4096): DataFrame = {
    val keys = layoutKeys(spark, sfDir)
    // Distributed global rank: the tie-break columns make the order
    // total, so (partition offset + within-partition row_number) IS the
    // global position no matter where the sampled range bounds fall.
    // The only single-partition window runs over the P-row offset
    // table, which is then broadcast back — nothing wide ever
    // serializes through one task.
    def zoneMaps(ordered: Seq[org.apache.spark.sql.Column]) =
      zoneMapsFor(keys, ordered, blockRows)
    // the rectangle a two-key query carves; a block survives pruning
    // iff its zone map intersects it
    val (pLo, pHi, sLo, sHi) = (100L, 150L, 200L, 260L)
    def touched(zm: DataFrame) = zm.filter(
      col("p_max") >= pLo && col("p_min") <= pHi &&
        col("s_max") >= sLo && col("s_min") <= sHi)
      .agg(count(lit(1)).as("touched"))
    val z = zoneMaps(Seq(col("zval"), col("l_orderkey"), col("l_linenumber")))
      .localCheckpoint() // consumed by the census AND the pruning probe
    val linear = zoneMaps(Seq(col("l_orderkey"), col("l_linenumber")))
    z.agg(count(lit(1)).as("n_blocks"))
      .crossJoin(broadcast(touched(z).withColumnRenamed("touched", "z_touched")))
      .crossJoin(broadcast(touched(linear).withColumnRenamed("touched", "linear_touched")))
  }

  /** Shared block/zone-map builder for the layout family: global
    * position by the DISTRIBUTED rank (range-repartition →
    * per-partition rank → broadcast P-row offset table), rows packed
    * into `blockRows`-sized blocks, per-block min/max zone maps on the
    * two clustering keys. */
  private def zoneMapsFor(keys: DataFrame,
      ordered: Seq[org.apache.spark.sql.Column], blockRows: Int): DataFrame = {
      val parts = math.max(keys.sparkSession.sessionState.conf.numShufflePartitions, 1)
      // localCheckpoint is CORRECTNESS here, not just reuse: the
      // offsets table and the final join both consume `ranked`, and
      // range-exchange sample seeds derive from RDD ids — computed as
      // two independent subtrees the two sides can draw DIFFERENT
      // range boundaries, making the offset table disagree with the
      // join-side _pid and leaving holes in the global positions
      // (observed: a phantom extra block at sf0.01). Materializing
      // once pins a single partitioning for both consumers. The conf
      // gate exists ONLY so the plan guard can inspect the
      // un-truncated plan (a checkpoint hides the range exchange);
      // production leaves it on.
      // In-partition rank WITHOUT the window's hash re-exchange
      // (guide §2.4): rows are already range-partitioned by `ordered`,
      // but a row_number() window PARTITIONED BY _pid re-shuffles the
      // full table by _pid (hashpartitioning ≠ the range partitioning
      // Catalyst just produced) — one redundant full-data exchange per
      // layout pass, 3 per skip-workload run. Sorting within the range
      // partitions and taking monotonically_increasing_id's low 33
      // bits (the per-partition row index, consecutive from 0) yields
      // the IDENTICAL rank: `ordered` ends with the unique tie-break
      // keys, so the sort order is total and the index equals the old
      // row_number − 1. Both id-expressions are non-deterministic, so
      // the optimizer cannot reorder them below the sort. (row_number
      // is also an Int — mono_id keeps the rank a long at any scale.)
      val rankedPlan = keys.repartitionByRange(parts, ordered: _*)
        .sortWithinPartitions(ordered: _*)
        .withColumn("_pid", spark_partition_id())
        .withColumn("_rn",
          monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      val ranked =
        if (keys.sparkSession.conf
            .getOption("graft.zorder.pinPartitioning").forall(_.toBoolean))
          rankedPlan.localCheckpoint(eager = false)
        else rankedPlan
      val offsets = ranked.groupBy(col("_pid")).agg(count(lit(1)).as("_pc"))
        .withColumn("_off", coalesce(sum(col("_pc")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("_pid"), col("_off"))
      ranked.join(broadcast(offsets), "_pid")
        .withColumn("block", expr(s"(_off + _rn) DIV $blockRows"))
        .groupBy(col("block"))
        .agg(min(col("l_partkey")).as("p_min"), max(col("l_partkey")).as("p_max"),
          min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"))
    }

  /** WORKLOAD-DRIVEN data-skipping evaluation — the number a layout
    * decision is actually made on: [[zorderLayout]] probes ONE
    * rectangle; real clustering choices are judged against a QUERY
    * WORKLOAD (Delta/Snowflake clustering advisors do exactly this
    * census over recent query predicates). A deterministic workload of
    * `nRects` two-key rectangles — positioned/sized by integer
    * fractions of the observed key ranges, so the same workload is
    * meaningful at every SF — is evaluated against the zone maps of
    * THREE layouts (z-order, Hilbert, linear), emitting per (layout,
    * rectangle) the blocks touched and the skip percentage. Hilbert is
    * the modern-lakehouse clustering default; the advisor shows
    * whether its adjacency advantage over Z materializes for THIS
    * workload.
    *
    * Scale: each layout's zone-map table is block-count-sized (rows /
    * blockRows — ~25k blocks per PB at 128 MiB files), built once via
    * the shared distributed-rank pass and reused for ALL rectangles;
    * the rectangle table is `nRects` rows cross-joined against zone
    * maps (a broadcast), and the census collapses map-side to
    * 2·nRects rows. The data itself is read ONCE per layout — the
    * whole point of zone-map evaluation is that the workload probe
    * never rescans the table.
    *
    * Curve domain: the Hilbert/Morton keys here (`l_partkey`,
    * `l_suppkey`) must fit the order-16 grid (< 65536, true through
    * ~sf0.3); beyond that the expressions mask to the low 16 bits
    * (consistent across Spark chain, native expression, and oracle)
    * but the layout premise — curve adjacency ⇒ key locality — wraps
    * into 65536-wide tiles. A larger deployment quantizes each key
    * into [0, 2¹⁶) range-buckets before the curve, which preserves
    * the locality the zone maps exploit. */
  def layoutSkipWorkload(spark: SparkSession, sfDir: String,
      blockRows: Int = 4096, nRects: Int = 12): DataFrame = {
    // ONE scan feeds everything: the three layouts
    // need three DIFFERENT global sort orders — those ranking passes
    // cannot share an exchange — but they CAN share the input: lineitem
    // is read once with BOTH curve keys computed (zval from layoutKeys,
    // hval here), checkpointed, and the bounds probe plus all three
    // zoneMapsFor passes consume the stored rows instead of four
    // parquet scans each re-deriving the interleave expressions.
    val keys = withHilbert(layoutKeys(spark, sfDir),
        col("l_partkey"), col("l_suppkey"), "hval")
      .localCheckpoint(eager = false)
    val bounds = keys.agg(
      min(col("l_partkey")).as("pmn"), max(col("l_partkey")).as("pmx"),
      min(col("l_suppkey")).as("smn"), max(col("l_suppkey")).as("smx"))
    val rects = spark.range(nRects.toLong).select(col("id").as("rect_id"))
      .crossJoin(broadcast(bounds))
      .withColumn("p_lo", expr("pmn + ((pmx - pmn) * ((rect_id * 37) % 80)) DIV 100"))
      .withColumn("p_hi", expr("p_lo + greatest(((pmx - pmn) * (5 + (rect_id * 13) % 20)) DIV 100, 1)"))
      .withColumn("s_lo", expr("smn + ((smx - smn) * ((rect_id * 53) % 80)) DIV 100"))
      .withColumn("s_hi", expr("s_lo + greatest(((smx - smn) * (5 + (rect_id * 29) % 20)) DIV 100, 1)"))
      .select(col("rect_id"), col("p_lo"), col("p_hi"), col("s_lo"), col("s_hi"))
    val zm = zoneMapsFor(keys,
        Seq(col("zval"), col("l_orderkey"), col("l_linenumber")), blockRows)
      .withColumn("layout", lit("zorder"))
      .unionByName(zoneMapsFor(keys,
          Seq(col("hval"), col("l_orderkey"), col("l_linenumber")), blockRows)
        .withColumn("layout", lit("hilbert")))
      .unionByName(zoneMapsFor(keys,
          Seq(col("l_orderkey"), col("l_linenumber")), blockRows)
        .withColumn("layout", lit("linear")))
    zm.crossJoin(broadcast(rects))
      .groupBy(col("layout"), col("rect_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("p_max") >= col("p_lo") && col("p_min") <= col("p_hi") &&
          col("s_max") >= col("s_lo") && col("s_min") <= col("s_hi"),
          1L).otherwise(0L)).as("touched"))
      .withColumn("skip_pct", graft.operators.PortableRound.pround(
        (col("n_blocks") - col("touched")) * 100.0 / col("n_blocks"), 4))
  }

  /** One layout's zone-map build in isolation — AbBench instrument for
    * attributing [[layoutSkipWorkload]]'s cost to its three ranking
    * passes (not a declared query). */
  def zoneMapsBench(spark: SparkSession, sfDir: String,
      layout: String, blockRows: Int = 4096): DataFrame = {
    val keys = layoutKeys(spark, sfDir)
    layout match {
      case "zorder" =>
        zoneMapsFor(keys, Seq(col("zval"), col("l_orderkey"), col("l_linenumber")), blockRows)
      case "hilbert" =>
        zoneMapsFor(withHilbert(keys, col("l_partkey"), col("l_suppkey"), "hval"),
          Seq(col("hval"), col("l_orderkey"), col("l_linenumber")), blockRows)
      case _ =>
        zoneMapsFor(keys, Seq(col("l_orderkey"), col("l_linenumber")), blockRows)
    }
  }

  /** Explicit GROUPING SETS with `grouping()` indicator columns — the
    * last grouping-set flavor the substrate hadn't exercised (cube and
    * rollup are the closed forms; real report queries mix arbitrary
    * sets). Indicator columns are emitted per-column via `grouping()`
    * (0/1 longs) rather than `grouping_id()`, because the engines'
    * bit-packing conventions differ while the per-column indicator is
    * standard SQL everywhere; null keys coalesce to a sentinel so the
    * hash compare is stable.
    *
    * Scale: Catalyst plans this as a single Expand + one partial-then-
    * final aggregate — the row multiplier is the number of sets (3),
    * applied map-side before the one shuffle. */
  def groupingSetsOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      // grouping() is only legal inside the aggregate list (it reads
      // the Expand-generated grouping bits, not a data column)
      .agg(grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"),
        count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("g_rf"), col("g_ls"), col("n"), col("sum_qty"))

  /** UNPIVOT (wide → long) — the melt operation: per-returnflag
    * aggregate measures unpivoted into (rf, measure, value) rows.
    * Spark's native `unpivot` plans a single Expand over the 3-row
    * aggregate — no shuffle beyond the aggregate itself; values are
    * integer cents so the long compare is exact. The oracle states
    * the same melt as a UNION ALL (engine-portable by construction
    * rather than relying on UNPIVOT dialect agreement). */
  def unpivotOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
          .as("price_cents"),
        sum(expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"))
          .as("discount_cents"),
        sum(col("l_quantity").cast("bigint") * 100).as("qty_cents"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("price_cents"), col("discount_cents"), col("qty_cents")),
        "measure", "value_cents")

  /** RANKING-FUNCTION SUBSTRATE — the remaining SQL window surface in
    * one oracled query: `percent_rank`, `cume_dist`, `ntile`,
    * `nth_value`, `lead`/`lag` over the same (returnflag)-partitioned
    * price ordering. The ordering key (price_c, orderkey, linenumber)
    * is UNIQUE, so every rank-derived number — including the two
    * doubles, which are exact IEEE quotients of integers
    * ((rn−1)/(n−1), rn/n) — is a pure function of the data on both
    * engines; prices ride as integer cents. Output thinned to every
    * 997th rank so the declared result stays bounded while sampling
    * all three partitions end to end.
    *
    * Scale: one window pass over one shuffle; partition count here is
    * |returnflag| = 3 (calibration data) — in production the same
    * query partitions by a high-cardinality key, and nothing in the
    * plan changes: no global sort, no single-partition window. */
  def windowRankFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("price_c"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("price_c"), col("l_orderkey"), col("l_linenumber"))
    li.select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("price_c"),
        row_number().over(w).cast("long").as("rn"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ntile(4).over(w).cast("long").as("quartile"),
        nth_value(col("price_c"), 10).over(w).as("nth10_price_c"),
        lag(col("price_c"), 1).over(w).as("prev_price_c"),
        lead(col("price_c"), 1).over(w).as("next_price_c"))
      .filter(col("rn") % 997 === 0)
  }

  /** JOIN-ORDER ADVISOR — the System-R cardinality-estimation step as
    * a first-class query (the optimizer-adjacent advisor next to
    * [[skewAdvisor]] and [[bloomAdvisor]]): for the 3-table chain
    * customer ⋈ orders ⋈ lineitem, estimate each candidate order's
    * intermediate cardinality from per-table stats only —
    * |A ⋈ B| ≈ |A|·|B| DIV max(ndv_A(k), ndv_B(k)), the classic
    * uniform-containment formula — rank the orders by estimated total
    * intermediate work, and report the ACTUAL intermediate counts
    * beside the estimates so the row doubles as an estimate-quality
    * eval (`abs_err_milli` = how far uniform-containment is from
    * truth on this data). At 100 TB this is what an AQE-less planner
    * (or a human ordering a 6-table query) consults before paying the
    * shuffles; the stats side costs one map-side-combined scan per
    * table and the whole decision is integer arithmetic.
    *
    * Scale: three stat scans + the two intermediate-count joins
    * (each one equi-keyed shuffle; at calibration SF only — a
    * production advisor would drop the actuals and keep the
    * stats-only estimate, which never touches the fact table twice);
    * all stat rows combine via 1-row broadcasts. */
  def joinOrderAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    val sc = c.agg(count(lit(1)).as("n_c"),
      countDistinct(col("c_custkey")).as("ndv_c_cust"))
    val so = o.agg(count(lit(1)).as("n_o"),
      countDistinct(col("o_custkey")).as("ndv_o_cust"),
      countDistinct(col("o_orderkey")).as("ndv_o_ord"))
    val sl = l.agg(count(lit(1)).as("n_l"),
      countDistinct(col("l_orderkey")).as("ndv_l_ord"))
    val aCO = c.join(o, col("c_custkey") === col("o_custkey"))
      .agg(count(lit(1)).as("act_co"))
    val aOL = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("act_ol"))
    val one = sc.crossJoin(broadcast(so)).crossJoin(broadcast(sl))
      .crossJoin(broadcast(aCO)).crossJoin(broadcast(aOL))
      .select(col("*"),
        expr("(n_c * n_o) DIV greatest(ndv_c_cust, ndv_o_cust)").as("est_co"),
        expr("(n_o * n_l) DIV greatest(ndv_o_ord, ndv_l_ord)").as("est_ol"))
      // the final 3-way cardinality estimate is shared by both orders
      // (the chain's last join key is o_orderkey either way)
      .withColumn("est_final",
        expr("(est_co * n_l) DIV greatest(ndv_o_ord, ndv_l_ord)"))
    one.select(explode(array(
        struct(lit("customer_orders_first").as("plan"),
          col("est_co").as("est_inter"), col("act_co").as("act_inter")),
        struct(lit("orders_lineitem_first").as("plan"),
          col("est_ol").as("est_inter"), col("act_ol").as("act_inter"))))
        .as("p"),
        col("est_final"), col("est_co"), col("est_ol"))
      .select(col("p.plan").as("plan"), col("p.est_inter").as("est_inter"),
        col("p.act_inter").as("act_inter"), col("est_final"),
        expr("abs(p.est_inter - p.act_inter) * 1000 DIV p.act_inter")
          .as("abs_err_milli"),
        (col("p.est_inter") === least(col("est_co"), col("est_ol")))
          .as("chosen"))
  }
}
