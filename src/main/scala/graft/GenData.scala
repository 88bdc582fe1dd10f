package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SF1 TEST-DATA GENERATOR for the scaling audit's fourth decade
  * (sf1, one decade past sf0.1). The driver's own generator produced
  * /root/testdata/sf{0.001,0.01,0.1} (read-only); this main writes a
  * DISTRIBUTION-MATCHED sf1 set from the measured properties of those
  * tables, one decade up:
  *
  *  - every column's family, range and discretization replicated from
  *    DuckDB probes of the shipped data (uniform keys, uniform
  *    dates/prices at 2 decimals, Exp(50) event values, Poisson-4
  *    lines per order via independent uniform orderkeys, the 30-word
  *    corpus vocabulary + the 5% near-dup docs carrying the rare
  *    `dup` marker token, unit-norm 64-d Gaussian embeddings with a
  *    structureless 10-way label);
  *  - row counts are 10× sf0.1 (lineitem 6M, orders 1.5M, customer
  *    150K, events 1M over the same 30-day window with 15K users,
  *    documents 50K, embeddings 20K);
  *  - timestamps written as TIMESTAMP_NTZ µs, matching the shipped
  *    parquet logical type, one FILE per table (name.parquet), so
  *    Tables/DuckDB tooling read it identically.
  *
  * NOT the driver's seed-42 stream: values differ row-for-row from
  * what the driver would emit at sf1. Scaling exponents only need the
  * distribution family and the ×10 cardinality ratios to carry — both
  * are matched, and the sf0.1 slice of every dependent statistic was
  * cross-checked (degree census, bucket census, dup-pair mass).
  *
  * Everything derives from xxhash64(id, salt) — pure per-row
  * functions, so the output is deterministic under any parallelism
  * and regenerable bit-identically (no rand(), whose draw depends on
  * partitioning).
  */
object GenData {
  private val P = 1000000L

  /** Uniform [0,1) from a keyed hash — (h mod 1e6 + 0.5)/1e6. */
  private def u(salt: String, id: Column, extra: Column*): Column =
    (pmod(xxhash64((id +: extra :+ lit(salt)): _*), lit(P)).cast("double") + 0.5) / P.toDouble

  /** Uniform integer [0, m) as long. */
  private def ui(salt: String, m: Long, id: Column, extra: Column*): Column =
    pmod(xxhash64((id +: extra :+ lit(salt)): _*), lit(m))

  private def round2(c: Column): Column = round(c, 2)

  private def ntzDay(base: String, days: Column): Column =
    date_add(lit(base).cast("date"), days.cast("int")).cast("timestamp_ntz")

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Adjs = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  private def pick(vals: Seq[String], idx: Column): Column =
    element_at(array(vals.map(lit): _*), idx.cast("int") + 1)

  /** The document body as a pure function of a doc id: 10–100 words.
    * Default: uniform over the 30-word vocabulary (the shipped
    * corpus's exact vocab; `dup` is reserved for the near-dup marker).
    * Zipf mode (skewed word ranks, which separate class-A artifacts):
    * Zipf(s=1)-distributed ranks via the inverse-CDF construction
    * rank = floor(999^u) for u ∈ [0, 1) — i.e. ranks 1..998 (998
    * effective words, since 999^u ∈ [1, 999)) with
    * P(rank ≤ r) = ln(r+1)/ln 999, so
    * p(r) ∝ ln(1 + 1/r) ≈ 1/r — realistic text statistics, so
    * shingle/bucket
    * structures that only densify under the tiny uniform vocab reveal
    * themselves as ARTIFACTS when their sf0.1→sf1 exponent flattens
    * on this arm, while real mechanisms persist. */
  private def docText(id: Column, zipf: Boolean): Column = {
    val nw = lit(10) + ui("nw", 91, id).cast("int")
    def word(k: Column): Column =
      if (zipf) concat(lit("zw"),
        floor(pow(lit(999.0), u("zw", id, k))).cast("long"))
      else pick(Vocab, ui("w", Vocab.size, id, k))
    array_join(transform(sequence(lit(0), nw - 1), k => word(k)), " ")
  }

  def main(args: Array[String]): Unit = {
    val (sfStr, outDir, zipf) = args match {
      case Array(s, o) => (s, o, false)
      case Array(s, o, "zipf") => (s, o, true)
      case _ => throw new IllegalArgumentException(
        "usage: GenData <sf> <outDir> [zipf]")
    }
    val sf = sfStr.toDouble
    val cpus = Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))

    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    val nEv = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDoc = (50000 * sf).toLong
    val nEmb = (20000 * sf).toLong

    def ids(n: Long) = spark.range(n)

    write(outDir, "region", spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        col("id")).as("r_name")))

    write(outDir, "nation", spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))

    write(outDir, "customer", ids(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui("cn", 25, col("id")).cast("int").as("c_nationkey"),
      round2(lit(-1000.0) + u("cb", col("id")) * 11000.0).as("c_acctbal"),
      pick(Segments, ui("cs", 5, col("id"))).as("c_mktsegment")))

    write(outDir, "supplier", ids(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui("sn", 25, col("id")).cast("int").as("s_nationkey"),
      round2(lit(-1000.0) + u("sb", col("id")) * 11000.0).as("s_acctbal")))

    write(outDir, "part", ids(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(Adjs, ui("pa", 8, col("id"))), lit(" "),
        pick(Nouns, ui("pn", 8, col("id")))).as("p_name"),
      concat(lit("Brand#"), ui("pb", 25, col("id")) + 1).as("p_brand"),
      pick(Types, ui("pt", 6, col("id"))).as("p_type"),
      (ui("ps", 50, col("id")) + 1).cast("int").as("p_size"),
      // the shipped ladder: 900.0 + (partkey mod 1000) / 10
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice")))

    write(outDir, "orders", ids(nOrd).select(
      col("id").as("o_orderkey"),
      ui("oc", nCust, col("id")).as("o_custkey"),
      pick(Seq("O", "P", "F"), ui("os", 3, col("id"))).as("o_orderstatus"),
      round2(lit(1000.0) + u("op", col("id")) * 499000.0).as("o_totalprice"),
      ntzDay("1995-01-01", ui("od", 2405, col("id"))).as("o_orderdate"),
      pick(Priorities, ui("opr", 5, col("id"))).as("o_orderpriority")))

    // lines-per-order is Poisson(4) in the shipped data because each
    // line draws its orderkey independently — same construction here
    write(outDir, "lineitem", ids(nLine).select(
      ui("lo", nOrd, col("id")).as("l_orderkey"),
      ui("lp", nPart, col("id")).as("l_partkey"),
      ui("ls", nSupp, col("id")).as("l_suppkey"),
      (ui("ln", 7, col("id")) + 1).cast("int").as("l_linenumber"),
      (ui("lq", 50, col("id")) + 1).cast("double").as("l_quantity"),
      round2(lit(900.0) + u("le", col("id")) * 104100.0).as("l_extendedprice"),
      (ui("ld", 11, col("id")).cast("double") / 100.0).as("l_discount"),
      (ui("lt", 9, col("id")).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), ui("lr", 3, col("id"))).as("l_returnflag"),
      pick(Seq("F", "O"), ui("lls", 2, col("id"))).as("l_linestatus"),
      // shipped range check: own uniform order-day + 1..95 lag days
      ntzDay("1995-01-01",
        ui("lsd", 2405, col("id")) + ui("lsl", 95, col("id")) + 1).as("l_shipdate")))

    write(outDir, "events", ids(nEv).select(
      col("id").as("event_id"),
      // uniform µs over the same 30-day window the shipped data uses
      (lit(1704067200000000L) + // 2024-01-01T00:00:00Z in µs
        (u("ets", col("id")) * 30.0 * 86400.0 * 1e6).cast("long"))
        .as("us"),
      ui("eu", nUsers, col("id")).as("user_id"),
      pick(EventTypes, ui("et", 5, col("id"))).as("event_type"),
      round2(-lit(50.0) * log(u("ev", col("id")))).as("value"),
      format_string("{\"k\": %d}", ui("ek", 100, col("id"))).as("props"))
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")))

    // 5% of docs (id > 0) are near-copies of a uniform earlier doc
    // with the rare `dup` marker appended — the shipped corpus's
    // near-dup construction (250/5000 docs carry `dup` at sf0.1)
    write(outDir, "documents", ids(nDoc).select(col("id").as("doc_id"))
      .withColumn("is_dup",
        col("doc_id") > 0 && ui("isdup", 20, col("doc_id")) === 0)
      .withColumn("base",
        when(col("is_dup"), pmod(xxhash64(col("doc_id"), lit("base")), col("doc_id")))
          .otherwise(col("doc_id")))
      .withColumn("text",
        when(col("is_dup"), concat(docText(col("base"), zipf), lit(" dup")))
          .otherwise(docText(col("doc_id"), zipf)))
      .withColumn("lraw", ui("lang", 20, col("doc_id")))
      .select(col("doc_id"), col("text"),
        when(col("lraw") < 8, "en").when(col("lraw") < 11, "de")
          .when(col("lraw") < 14, "es").when(col("lraw") < 17, "fr")
          .otherwise("zh").as("lang"),
        concat(lit("src"), ui("src", 20, col("doc_id"))).as("source"),
        length(col("text")).cast("long").as("n_chars")))

    // unit-norm 64-d Gaussian (Box–Muller from two keyed uniforms per
    // dim); the shipped embeddings have NO cluster structure (intra-
    // label cosine == inter-label == 0) and a uniform 10-way label
    write(outDir, "embeddings", ids(nEmb).select(col("id").as("vec_id"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), i =>
        sqrt(lit(-2.0) * log(u("e1", col("vec_id"), i))) *
          cos(lit(2.0 * math.Pi) * u("e2", col("vec_id"), i))))
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        ui("lab", 10, col("vec_id")).cast("int").as("label")))

    spark.stop()
    println(s"[gendata] sf=$sf${if (zipf) " (zipf vocab)" else ""} written to $outDir")
  }

  /** Write one table as a single parquet FILE `$dir/$name.parquet`
    * (the shipped layout both Tables and the DuckDB tools expect). */
  private def write(dir: String, name: String, df: DataFrame): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp"))
    Files.move(part, Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // drop the temp dir (part moved out; the rest is _SUCCESS/CRCs)
    Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    println(s"[gendata] $name done")
  }
}
