package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a single scan of the corpus; O(Q·N) work but ZERO shuffle
  * of the corpus side, which is the right brute-force shape at 100 TB.
  * Scale path: hyperplane-LSH bucketing so candidate generation joins on
  * (plane-signature) buckets instead of crossing the corpus.
  *
  * All dot products are computed in double precision via
  * `zip_with`+`aggregate` (codegen'd higher-order functions, no UDF).
  */
object Similarity {

  /** cosine(a, b) via the native codegen'd [[graft.plans.CosineSimilarity]]
    * expression (registered per session). Double precision, index-order
    * accumulation → bit-identical to [[cosineFold]] and the DuckDB oracle.
    */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_sim", a.cast("array<double>"), b.cast("array<double>"))

  /** Built-in higher-order-function formulation (interpreted lambdas) —
    * kept as the cross-validation twin of the native expression. */
  def cosineFold(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Brute-force cosine top-k: queries = vec_id < 10 (broadcast), k=5.
    * Deterministic: rounded score then vec_id tie-break. */
  def annBruteForceTopK(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        PortableRound.pround(cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** All pairs above a cosine threshold — the exhaustive O(n²)
    * BASELINE, correct only at test SFs. At scale this shape is dead (a
    * BroadcastNestedLoopJoin over every pair); the production path is
    * [[lshVerifiedPairs]], which runs the same exact-cosine check only
    * inside LSH buckets. Kept as the small-SF ground truth the bucketed
    * variant's recall is judged against. */
  def cosineThresholdPairs(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val a = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("raw_cos", cosine(col("e1"), col("e2")))
      .filter(col("raw_cos") > threshold) // filter on RAW value like the oracle
      .select(col("id1"), col("id2"), PortableRound.pround(col("raw_cos"), 4).as("cos_sim"))
  }

  /** Few planes → few, well-occupied buckets at test SFs; production
    * would use 16+ planes with multi-probe for recall at 100 TB. */
  val Planes = 4

  /** Target per-bucket population for the SCALE-AWARE plane count
    * ([[planesFor]]): same-bucket pair mass is ~n²/2^planes, so
    * holding n/2^planes ≈ this constant makes every LSH pair
    * consumer's candidate mass LINEAR in n (≈ n·target/2 pairs)
    * instead of quadratic. 128 keeps every gated test SF (n ≤ 2048)
    * at the audited [[Planes]] = 4 shape and widens to 8 planes at
    * the sf1 slice (n = 20000), where the sf1 A/B measured planes
    * 4→8 at label purity 77.6 → 15.5 s and verified pairs 92 → 13
    * s-class. */
  val LshTargetBucket = 128L

  /** Upper clamp for [[planesFor]] — also the fixed signature width
    * the DuckDB oracle computes before masking (a 16-bit signature
    * masked to 2^p buckets equals the p-plane signature bit-for-bit,
    * because [[planeComponent]] depends only on (plane, dim)). 2^16
    * buckets × target 128 carries the formula to ~8.4M vectors; past
    * that a deployment raises the clamp (the constant is the knob,
    * not the shape). */
  val MaxPlanes = 16

  /** SCALE-AWARE hyperplane count, so per-bucket population stays
    * bounded AT DEFAULTS as the corpus grows: the smallest
    * p ∈ [[[Planes]], [[MaxPlanes]]] with n ≤ [[LshTargetBucket]]·2^p
    * (exact integer compares — no float log2 boundary risk; the
    * DuckDB oracle replays the same CASE chain over count(*)).
    * Deployment story: the one-shot pair QUERIES size their width
    * from the corpus count at build time (this function); the STORED
    * signature index ([[indexRefresh]]) keeps its build-time width
    * across delta refreshes — resizing is a rebuild, and
    * [[lshBucketOverflow]] is the alarm that triggers it. */
  def planesFor(n: Long): Int =
    (Planes to MaxPlanes).find(p => n <= (LshTargetBucket << p)).getOrElse(MaxPlanes)

  /** [[planesFor]] over the corpus row count. The count() is a
    * parquet-footer metadata action run once per build — the same
    * "size the index from catalog stats" step a production build job
    * does — and keeping planes a LITERAL keeps the signature plan
    * pure (no 1-row crossJoin in every consumer's candidate join). */
  private def scaleAwarePlanes(spark: SparkSession, sfDir: String): Int =
    planesFor(Tables.embeddings(spark, sfDir).count())

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * Knuth multiplicative mix of the index pair mapped into [-1, 1).
    * Engine-portable (plain integer arithmetic — the murmur3 `hash` it
    * replaces was Spark-private and blocked the DuckDB oracle); the
    * double ops are in fixed order so the projection sums bit-match. */
  private[operators] def planeComponent(plane: Int, dim: Column): Column =
    ((lit(1024L * plane) + dim) * lit(2654435761L) % lit(1000003L)).cast("double") /
      1000003.0 * 2.0 - 1.0

  /** DuckDB replica of [[planeComponent]] over index expression `i`. */
  private[graft] def sqlPlaneComponent(plane: Int, i: String): String =
    s"(((${1024L * plane} + $i) * 2654435761) % 1000003) / 1000003.0 * 2.0 - 1.0"

  /** Hyperplane-LSH signatures: sign bit per plane over the dot product
    * with a deterministic pseudo-random plane. The 16-bit signature is
    * the bucket key — candidate generation becomes an equi-join. */
  def lshSignatures(spark: SparkSession, sfDir: String): DataFrame =
    lshSignaturesOf(Tables.embeddings(spark, sfDir))

  /** [[lshSignatures]] over a caller-supplied embeddings slice — the
    * incremental path ([[indexRefresh]]) signs ONLY the day's new
    * vectors, never the corpus. `planes` is the scale knob: bucket
    * count is 2^planes, so same-bucket pair
    * mass is ~n²/2^planes — a deployment grows planes with log n to
    * hold per-bucket population (and therefore every LSH consumer's
    * candidate mass) constant; each +1 plane halves it. Default keeps
    * the test-SF calibration. */
  def lshSignaturesOf(emb: DataFrame, planes: Int = Planes): DataFrame = {
    val sigBits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(col("embedding").cast("array<double>"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => x * planeComponent(p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    emb.select(col("vec_id"), col("label"),
      sigBits.reduce(_.bitwiseOR(_)).as("lsh_bucket"))
  }

  /** FIXED cell count for the coarse IVF quantizer, so assignment cost
    * stays O(n·k): a seed policy of "every `stride`-th vector" grows
    * the centroid set linearly with the corpus, so the broadcast
    * assignment evaluates n × n/50 cosine folds — O(n²/50),
    * measured ~32 s/query at sf1 and flagged on every cell-family row.
    * A FIXED cell count makes assignment O(n·k) — one decade of data
    * costs one decade of work — and the probed candidate FRACTION
    * (nprobe/k) is scale-CONSTANT, so recall holds by construction
    * ([[annIvfRecall]]/[[annNprobeSweep]] measure it). k = 40 keeps
    * the sf0.1 cell census at the audited shape (2000/50 = 40
    * cells). At 100 TB: k grows only with the desired
    * cell GRANULARITY (thousands — still broadcast-sized), never with
    * n; per-cell population on the pair-join side is bounded by
    * [[IvfShardTarget]] sub-sharding instead. */
  val IvfK = 40

  /** Lloyd iterations for the default TRAINED quantizer. */
  val IvfIters = 2

  /** Target pair-block population for the cell-blocked PAIR joins
    * ([[semanticDedup]], [[semanticDecontaminate]],
    * [[knnLabelAgreement]]): cells are sub-sharded so a block holds
    * ~this many vectors, bounding total pair mass to ~n·target instead
    * of Σ|cell|² = n²/k — the same recall/cost dial as LSH bands
    * (each vector is compared against 1/nshards of its cell). At the
    * gated SFs (n ≤ 2000) nshards = 1, so the blocking is exact
    * within-cell there; the sharded path is oracle-gated on the sf1
    * slice. */
  val IvfShardTarget = 50

  val IvfCentroidsFamily = "ivf_centroids"
  val IvfCellsFamily = "ivf_cells"

  /** Embeddings projected to (vec_id, emb: array<double>) — the typed
    * working form every quantizer path starts from. */
  private def embDouble(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** Evenly-spaced fixed-k seed set: the k vectors at id spacing
    * n DIV k — an engine-portable Forgy start spread across the id
    * space (never a prefix, which would inherit any id-correlated
    * structure). The count is a 1-row broadcast, so the seed filter
    * stays in-plan; the oracle replays it with a scalar subquery. */
  private[operators] def seedCentroids(e: DataFrame, k: Int): DataFrame = {
    val n = e.agg(count(lit(1)).as("n_all"))
    e.crossJoin(broadcast(n))
      .withColumn("spacing", greatest(lit(1L), expr(s"n_all DIV $k")))
      .filter(col("vec_id") % col("spacing") === 0 &&
        expr("vec_id DIV spacing") < k)
      .select(col("vec_id").as("cent_id"), col("emb").as("c"))
  }

  /** `iters` Lloyd iterations over a seed set: assign by cosine
    * (map-side-collapsed struct-max argmax), recompute exact
    * DECIMAL(38,30) per-dimension means (order-independent — what lets
    * the DuckDB oracle replay the training bit-for-bit with unrolled
    * CTEs). Clusters that lose all members drop out (both engines
    * agree). Each iteration localCheckpoints to truncate the unrolled
    * lineage (same values; measured ~40% wall cut at sf0.1). */
  private def trainCentroids(e: DataFrame, seed: DataFrame, iters: Int): DataFrame = {
    var cent = seed
    for (_ <- 1 to iters) {
      val assigned = kmeansAssign(e, cent)
      cent = assigned
        .select(col("cent_id"), posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("x").cast("decimal(38,30)")).cast("double") / count(lit(1))).as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"), transform(col("pm"), s => s.getField("m")).as("c"))
        .localCheckpoint()
    }
    cent
  }

  /** The TRAINED fixed-k coarse quantizer behind the whole cell family
    * — [[IvfK]] spacing seeds + [[IvfIters]] Lloyd iterations, built
    * ONCE per (application, sfDir) ([[BuildOnce]]) and shared by every
    * assignment/probe consumer. k × dims rows — always broadcast-sized. */
  def ivfCentroids(spark: SparkSession, sfDir: String): DataFrame =
    BuildOnce.get(spark, IvfCentroidsFamily, sfDir) {
      graft.plans.CosineSimilarity.register(spark)
      val e = embDouble(spark, sfDir)
      trainCentroids(e, seedCentroids(e, IvfK), IvfIters).localCheckpoint()
    }

  /** LSH WIDTH ALERT — the guard on per-bucket population: with a
    * FIXED plane count the same-bucket pair mass grows ~n²/2^planes,
    * so an undersized width degrades every fixed-width LSH consumer
    * (the stored signature index behind [[indexRefresh]], the
    * multi-probe/hard-negative serving paths — the one-shot pair
    * queries now size their width from n via [[planesFor]])
    * quadratically and SILENTLY. For the stored index, THIS alarm is
    * the rebuild trigger: a red row means the build-time width has
    * been outgrown and the index is re-signed wider. This census
    * makes it a queryable red
    * row instead (the [[graft.operators.Dedup.oversizedKeys]] /
    * dropped-hubs discipline, on the embedding side): every bucket
    * whose population exceeds `maxBucket` — i.e. whose self-join
    * contribution exceeds ~maxBucket²/2 pairs — with its exact pair
    * mass. A production monitor reds on ANY row and the fix is the
    * measured knob: +1 plane halves per-bucket population (the sf1
    * A/B: planes 4→8 cut the purity query 77.6 → 15.5 s). The
    * budget deliberately bites at every test SF so the channel is
    * proven to carry rows (an alert that is only ever empty is
    * untested wiring).
    *
    * Scale: one signature scan + a (bucket)-keyed count — map-side
    * combined to 2^planes rows; everything after is arithmetic. */
  def lshBucketOverflow(spark: SparkSession, sfDir: String,
      maxBucket: Long = 24): DataFrame =
    lshSignatures(spark, sfDir)
      .groupBy(col("lsh_bucket"))
      .agg(count(lit(1)).as("n_vecs"))
      .filter(col("n_vecs") > maxBucket)
      .select(col("lsh_bucket"), col("n_vecs"),
        expr("n_vecs * (n_vecs - 1) DIV 2").as("pair_mass"))

  /** IVF (inverted-file) cell assignment over the TRAINED fixed-k
    * quantizer: each vector to its nearest trained centroid by cosine,
    * plus the deterministic pair-join sub-shard (Knuth-mix of vec_id
    * mod nshards, nshards = max(1, n DIV (k·[[IvfShardTarget]]))).
    * Build-once per (application, sfDir): columns (vec_id,
    * embedding: array<double>, cent_id, shard). The candidate join is
    * (cluster) equi-keyed — the IVF counterpart of the LSH bucket
    * join; at 100 TB the assignment is a broadcast of the k-row
    * centroid set against ONE corpus scan (O(n·k)), and this table is
    * the stored, delta-refreshed cell index. */
  def ivfAssignments(spark: SparkSession, sfDir: String): DataFrame =
    BuildOnce.get(spark, IvfCellsFamily, sfDir) {
      graft.plans.CosineSimilarity.register(spark)
      val e = embDouble(spark, sfDir)
      val n = e.agg(count(lit(1)).as("n_all"))
      kmeansAssign(e, ivfCentroids(spark, sfDir))
        .crossJoin(broadcast(n))
        .select(col("vec_id"), col("emb").as("embedding"), col("cent_id"),
          expr("(vec_id * 2654435761) % 1000003 % " +
            s"greatest(1, n_all DIV ${IvfK * IvfShardTarget})").as("shard"))
        .localCheckpoint()
    }

  def annIvfTopK(spark: SparkSession, sfDir: String, k: Int = 5,
      nprobe: Int = 2): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val cent = ivfCentroids(spark, sfDir)
    val assigned = ivfAssignments(spark, sfDir)
    val queries = embDouble(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    // nprobe nearest trained cells per query
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_c").desc, col("cent_id"))
    val probed = queries.crossJoin(broadcast(cent))
      .select(col("query_id"), col("q_emb"), col("cent_id"),
        cosine(col("q_emb"), col("c")).as("cos_c"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cent_id"))
    // candidates = vectors assigned to the probed cells; a vector lives
    // in exactly ONE cell and the probed cells are distinct, so no
    // (query, neighbor) pair can duplicate — no dedup pass needed
    val scored = probed.join(assigned, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        PortableRound.pround(cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** One Lloyd assignment pass: each vector to its nearest centroid by
    * cosine (spherical k-means — cosine is scale-invariant in the
    * centroid, so un-renormalized means assign correctly). The argmax
    * is `max(struct(cos, cent_id))` under a groupBy(vec_id): with the
    * centroid side BROADCAST, all k candidate rows of a vector sit in
    * the same input partition, so partial aggregation collapses them
    * map-side and the shuffle carries ONE row per vector — strictly
    * better than a window-rank formulation, which would shuffle all k
    * rows per vector. Ties (only possible for duplicate centroids) go
    * to the LARGEST cent_id, same as DuckDB's struct max. */
  private def kmeansAssign(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .withColumn("cos_c", cosine(col("emb"), col("c")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_c"), col("cent_id"))).as("b"),
        first(col("emb")).as("emb"))
      .select(col("vec_id"), col("emb"), col("b.cent_id").as("cent_id"))

  /** IVF with an INLINE-trained coarse quantizer: [[seedCentroids]]
    * fixed-k spacing seeds, `iters` unrolled Lloyd iterations
    * ([[trainCentroids]] — exact DECIMAL(38,30) means, so the DuckDB
    * oracle replays the training bit-for-bit with unrolled CTEs), then
    * the standard IVF probe over the trained cells. Defaults to ONE
    * MORE iteration than the build-once family ([[ivfCentroids]]),
    * which keeps this declared query a distinct convergence point —
    * and `iters = IvfIters` reproduces [[annIvfTopK]] exactly (the
    * cross-validation pin in KmeansIvfSpec: two formulations, one
    * quantizer). Each iteration is one broadcast of the k-row centroid
    * set + one narrow corpus scan (O(n·k)) + a (cent_id, pos)-keyed
    * mean whose shuffle carries only cells × dims rows. */
  def kmeansIvfTopK(spark: SparkSession, sfDir: String, k: Int = 5,
      nprobe: Int = 2, iters: Int = 3): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val e = embDouble(spark, sfDir)
    val cent = trainCentroids(e, seedCentroids(e, IvfK), iters)
    val assignedF = kmeansAssign(e, cent)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_c").desc, col("cent_id"))
    val probed = queries.crossJoin(broadcast(cent))
      .select(col("query_id"), col("q_emb"), col("cent_id"),
        cosine(col("q_emb"), col("c")).as("cos_c"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cent_id"))
    val scored = probed.join(assignedF, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        PortableRound.pround(cosine(col("q_emb"), col("emb")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** BUILD-ONCE verified LSH pair list — the embedding-side twin of
    * [[graft.operators.Dedup.winnowEdgesMaterialized]] (round-10
    * extension of the same architecture): the default-threshold
    * [[lshVerifiedPairs]] build runs once per (application, sfDir),
    * eagerly checkpointed, and every consumer (`graph_cc_star`'s star
    * contraction, the cluster-census labels, the declared pair query)
    * scans the materialized rows. At 100 TB: a bucketed table
    * refreshed with the admitted-doc delta, exactly like the winnow
    * edge list. */
  val LshPairsFamily = "lsh_pairs"
  def lshPairsMaterialized(spark: SparkSession, sfDir: String): DataFrame =
    BuildOnce.get(spark, LshPairsFamily, sfDir)(
      BuildOnce.sized(lshVerifiedPairs(spark, sfDir)))

  /** IVM REFRESH of the hyperplane-LSH vector index — the embedding-
    * side twin of [[graft.operators.Dedup.bucketRefresh]], proving the
    * "maintained index" story behind [[lshPairsMaterialized]]: apply
    * one day's ADMITTED vectors to the stored signature index and show
    * refresh == full rebuild (the oracle recomputes the rebuild over
    * corpus ∪ admitted; the driver's hash gate is the equality proof).
    *
    * Admission mirrors the near-dup gate of [[lshVerifiedPairs]] at
    * new×corpus scope only: a new vector whose bucket collides with a
    * corpus vector AND verifies at exact cosine > `threshold` is a
    * near-dup — rejected; the rest are signed (delta pass over ONLY
    * the new slice) and unioned into the index. */
  def indexRefresh(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val isNew = col("vec_id") % 10 < 2
    val corpusSig = lshSignaturesOf(emb.filter(!isNew))
    val deltaSig = lshSignaturesOf(emb.filter(isNew))
      .localCheckpoint(eager = false) // probe side AND union side
    val cand = deltaSig
      .select(col("lsh_bucket"), col("vec_id").as("new_id"))
      .join(corpusSig.select(col("lsh_bucket").as("b2"),
        col("vec_id").as("corp_id")), col("lsh_bucket") === col("b2"))
      .join(emb.select(col("vec_id").as("new_id"), col("embedding").as("e1")),
        Seq("new_id"))
      .join(emb.select(col("vec_id").as("corp_id"), col("embedding").as("e2")),
        Seq("corp_id"))
    val dup = cand.filter(cosine(col("e1"), col("e2")) > threshold)
      .select(col("new_id")).distinct()
    val admitted = deltaSig.join(dup,
      deltaSig("vec_id") === dup("new_id"), "left_anti")
    corpusSig.unionByName(
      admitted.select(col("vec_id"), col("label"), col("lsh_bucket")))
  }

  /** IVM REFRESH of the TRAINED-IVF cell index — the
    * cell-family member of the maintained-index quartet
    * ([[graft.operators.Dedup.bucketRefresh]],
    * [[graft.operators.Dedup.fpRefresh]], [[indexRefresh]]): apply one
    * day's ADMITTED vectors to the stored assignment table under a
    * FROZEN quantizer and emit the refreshed index; the DuckDB oracle
    * recomputes the full rebuild (train on day-0 corpus, assign
    * corpus ∪ admitted), so the driver's hash gate IS the
    * refresh ≡ rebuild proof.
    *
    * Frozen-at-build properties (what makes the delta O(|delta|·k)):
    *  - CENTROIDS train on the day-0 corpus only ([[seedCentroids]] +
    *    [[trainCentroids]] over the `vec_id % 10 >= 2` slice) and are
    *    never touched by the delta — assignment is per-row against a
    *    broadcast k-row set, so refresh ≡ rebuild holds by
    *    construction and the gate proves both engines agree on it;
    *  - the SHARD COUNT (pair-join sub-shard divisor) freezes at the
    *    build-time corpus count — resizing shards, like retraining,
    *    is a REBUILD, and [[centroidDrift]] is the declared monitor
    *    that triggers it (drift moves the per-label means the frozen
    *    cells were fit to; a red drift row = the quantizer no longer
    *    matches the data distribution).
    *
    * Admission reuses [[indexRefresh]]'s near-dup gate verbatim — ONE
    * admission decision feeds both maintained vector indexes (the
    * signature index and this cell index), exactly like a nightly
    * ingest job. Composition into the day-2 pipeline is the
    * `cells_touched` stage of
    * [[graft.operators.Dedup.dailyIncrement]]. */
  def cellRefresh(spark: SparkSession, sfDir: String): DataFrame =
    cellRefresh(spark, sfDir, indexRefresh(spark, sfDir))

  /** Overload taking the already-refreshed signature index so a caller
    * that ALSO consumes [[indexRefresh]] (the `dailyIncrement`
    * composition) evaluates the admission cascade — the LSH candidate
    * join + cosine gate — exactly once per run, not once for its own
    * use and again inside this method. */
  def cellRefresh(spark: SparkSession, sfDir: String,
      refreshedIndex: DataFrame): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val e = embDouble(spark, sfDir)
    val isNew = col("vec_id") % 10 < 2
    val corpus = e.filter(!isNew).localCheckpoint(eager = false)
    // Seeds by HASH-MINIMUM, not id spacing: the spacing rule
    // ([[seedCentroids]]) assumes ids dense from 0 — on the day-0
    // slice (vec_id % 10 >= 2) every spacing multiple is excluded at
    // the test SFs (spacing is a multiple of 10), which yielded an
    // EMPTY seed set and a vacuously-matching empty index. Taking
    // the k corpus vectors minimizing the deterministic
    // Knuth mix (vec_id tie-break) is id-distribution-free — the
    // right rule at 100 TB where ids are never dense — and runs as a
    // TakeOrdered (map-side partial top-k, never a global sort); the
    // oracle replays it with ORDER BY/LIMIT.
    val seeds = corpus
      .withColumn("h", expr("(vec_id * 2654435761) % 1000003"))
      .orderBy(col("h"), col("vec_id")).limit(IvfK)
      .select(col("vec_id").as("cent_id"), col("emb").as("c"))
    val cents = trainCentroids(corpus, seeds, IvfIters)
      .localCheckpoint()
    val nCorpus = corpus.agg(count(lit(1)).as("n_all"))
    def assign(slice: DataFrame): DataFrame =
      kmeansAssign(slice, cents)
        .crossJoin(broadcast(nCorpus))
        .select(col("vec_id"), col("cent_id"),
          expr("(vec_id * 2654435761) % 1000003 % " +
            s"greatest(1, n_all DIV ${IvfK * IvfShardTarget})").as("shard"))
    val admitted = refreshedIndex.filter(isNew)
      .select(col("vec_id"))
    assign(corpus).unionByName(
      assign(e.filter(isNew).join(admitted, Seq("vec_id"), "left_semi")))
  }

  /** Near-dup pair discovery AT SCALE: the two-stage LSH shape —
    * candidate generation is a (bucket) EQUI self-join, verification is
    * the exact cosine over candidates only. Replaces the O(n²)
    * [[cosineThresholdPairs]] cross product: the corpus shuffles once on
    * its bucket key and only same-bucket rows ever meet (plan-shape-
    * tested: no nested-loop join anywhere in this query). */
  def lshVerifiedPairs(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    // SCALE-AWARE width: planes from the corpus count
    // so candidate mass stays ~n·LshTargetBucket/2 at every SF — the
    // gated SFs keep the audited 4-plane shape bit-for-bit (n ≤ 2048),
    // sf1 widens to 8 planes (the measured 92 → 13 s-class knob).
    val sigs = lshSignaturesOf(Tables.embeddings(spark, sfDir),
      scaleAwarePlanes(spark, sfDir))
    val emb = Tables.embeddings(spark, sfDir)
      .join(sigs.select(col("vec_id"), col("lsh_bucket")), "vec_id")
    val a = emb.select(col("lsh_bucket"), col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = emb.select(col("lsh_bucket").as("bucket2"), col("vec_id").as("id2"), col("embedding").as("e2"))
    a.join(b, col("lsh_bucket") === col("bucket2") && col("id1") < col("id2"))
      .withColumn("raw_cos", cosine(col("e1"), col("e2")))
      .filter(col("raw_cos") > threshold) // filter on RAW value like the oracle
      .select(col("id1"), col("id2"), PortableRound.pround(col("raw_cos"), 4).as("cos_sim"))
  }

  /** SEMANTIC DEDUP THRESHOLD SWEEP — the embedding-space twin of
    * [[graft.operators.Dedup.thresholdSweep]] (lexical Jaccard) and
    * the third tuning curve of the family (with the gate and nprobe
    * sweeps): verified cosine pairs, docs a keep-first pass would
    * remove, and mean pair cosine at each candidate similarity bar —
    * the table a SemDeDup-style removal is tuned on before a 100 TB
    * pass. Thresholds compare on the ROUNDED x4-integer cosine, so
    * every boundary is an exact integer compare shared with the
    * oracle; negative-cosine candidate pairs are excluded up front
    * (a near-dup threshold below 0 is meaningless).
    *
    * Scale shape: one (bucket)-keyed LSH candidate self-join + exact
    * cosine verification (the audited [[lshVerifiedPairs]] shape,
    * checkpointed once), then the 4-way threshold explode on the tiny
    * verified-pair table; the spine left join keeps the report shape
    * SF-stable. */
  def semanticSweep(spark: SparkSession, sfDir: String,
      thresholdsX4: Seq[Long] = Seq(4000L, 5000L, 6000L, 7000L)): DataFrame = {
    val pairs = lshVerifiedPairs(spark, sfDir, threshold = 0.0)
      .withColumn("cos_x4", floor(col("cos_sim") * 10000 + 0.5).cast("long"))
      .select(col("id1"), col("id2"), col("cos_x4"))
      .localCheckpoint(eager = false)
    val agg = pairs
      .select(col("id1"), col("id2"), col("cos_x4"),
        explode(array(thresholdsX4.map(lit): _*)).as("t4"))
      .filter(col("cos_x4") >= col("t4"))
      .groupBy(col("t4"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id2")).as("n_docs_removed"),
        sum(col("cos_x4")).as("sum_cos_x4"))
    val spine = spark.range(1)
      .select(explode(array(thresholdsX4.map(lit): _*)).as("t4"))
    spine.join(agg, Seq("t4"), "left")
      .select(col("t4").as("threshold_x4"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_removed"), lit(0L)).as("n_docs_removed"),
        when(col("n_pairs").isNotNull, expr("sum_cos_x4 DIV n_pairs"))
          .otherwise(lit(null).cast("long")).as("mean_cos_x4"))
  }

  /** HARD-NEGATIVE MINING for contrastive/embedding training — the
    * batch that feeds a retriever's training loop: for each anchor
    * vector (the deterministic `vec_id % 20 = 0` slice), the top-k
    * same-LSH-bucket neighbors whose cosine falls in the HARD band
    * [lo, hi) — similar enough to confuse the model, not so similar
    * they're positives/near-dups (the standard mining recipe: ANCE /
    * in-batch-negatives literature). Cosines compare as the rounded
    * x4 integers shared bit-for-bit with the oracle (same convention
    * as [[semanticSweep]]).
    *
    * Scale shape: candidate generation stays (bucket)-equi-keyed —
    * anchors never cross buckets, so the join is |anchors|·bucket-size
    * not |anchors|·N — and the per-anchor top-k rides the bounded
    * O(k)-state `topk_by` aggregate (map-side partials), never a
    * per-anchor window over all candidates. */
  def hardNegatives(spark: SparkSession, sfDir: String, k: Int = 3,
      loX4: Long = 3000L, hiX4: Long = 7000L): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    graft.plans.BoundedAggregates.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .join(lshSignatures(spark, sfDir).select(col("vec_id"), col("lsh_bucket")),
        "vec_id")
    val anchors = emb.filter(col("vec_id") % 20 === 0)
      .select(col("lsh_bucket"), col("vec_id").as("anchor_id"),
        col("embedding").as("ea"))
    val cands = emb.select(col("lsh_bucket").as("b2"),
      col("vec_id").as("neg_id"), col("embedding").as("en"))
    anchors.join(cands,
        col("lsh_bucket") === col("b2") && col("anchor_id") =!= col("neg_id"))
      .withColumn("cos_x4",
        floor(cosine(col("ea"), col("en")) * 10000 + 0.5).cast("long"))
      .filter(col("cos_x4") >= loX4 && col("cos_x4") < hiX4)
      .groupBy(col("anchor_id"))
      .agg(call_function("topk_by",
        col("cos_x4").cast("double"), col("neg_id"), lit(k)).as("top"))
      .select(col("anchor_id"), posexplode(col("top")))
      .select(col("anchor_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neg_id"), col("col.value").cast("long").as("cos_x4"))
  }

  /** KNN LABEL-PURITY AUDIT — the "confident learning"-style mislabel
    * detector a labeled training set runs before fitting: for each
    * vector, its k nearest same-LSH-bucket neighbors by cosine vote
    * with their labels; a vector whose neighborhood majority disagrees
    * with its own label (`2·n_agree < n_neighbors`) is a mislabel
    * suspect. Complements [[centroidOutliers]] (global per-label
    * geometry) with LOCAL neighborhood evidence — a point can sit near
    * its centroid yet inside a cluster of another label.
    *
    * Scale shape: candidate generation is (bucket)-equi-keyed; the
    * per-vector top-k rides the bounded O(k)-state `topk_by` aggregate
    * (map-side partials, tie-break value DESC then smaller id); the
    * neighbor-label lookup is one id-keyed equi-join against the
    * vectors table — never a second pass over candidates. Vectors
    * alone in their bucket have no evidence and drop out (inner). */
  def labelPurity(spark: SparkSession, sfDir: String, k: Int = 5,
      planes: Int = 0): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    graft.plans.BoundedAggregates.register(spark)
    // planes = 0 (default) → scale-aware width (`planesFor`): the
    // gated SFs keep the audited 4-plane shape, sf1 widens to 8 (the
    // measured 77.6 → 15.5 s knob); explicit planes > 0 pins a width.
    val p = if (planes > 0) planes else scaleAwarePlanes(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
      .join(lshSignaturesOf(Tables.embeddings(spark, sfDir), p)
        .select(col("vec_id"), col("lsh_bucket")), "vec_id")
    val a = emb.select(col("lsh_bucket"), col("vec_id"), col("label"),
      col("embedding").as("ev"))
    val b = emb.select(col("lsh_bucket").as("b2"), col("vec_id").as("nid"),
      col("embedding").as("en"))
    val top = a.join(b, col("lsh_bucket") === col("b2") && col("vec_id") =!= col("nid"))
      .withColumn("cos_x4",
        floor(cosine(col("ev"), col("en")) * 10000 + 0.5).cast("long"))
      .groupBy(col("vec_id"), col("label"))
      .agg(call_function("topk_by",
        col("cos_x4").cast("double"), col("nid"), lit(k)).as("top"))
      .select(col("vec_id"), col("label"), explode(col("top")).as("e"))
      .select(col("vec_id"), col("label"), col("e.id").as("nid"))
    val nlbl = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("nid2"), col("label").as("nlabel"))
    top.join(nlbl, col("nid") === col("nid2"))
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("vec_id"), col("label"), col("n_neighbors"), col("n_agree"),
        expr("(n_agree * 1000) DIV n_neighbors").as("purity_milli"),
        (lit(2L) * col("n_agree") < col("n_neighbors")).as("suspect"))
  }

  /** GREEDY K-CENTER CORESET — diversity selection for training-data
    * curation (the Gonzalez 2-approximation every "select a maximally
    * diverse subset" pipeline runs): seed with the smallest vec_id,
    * then k−1 rounds of "pick the point farthest from the chosen
    * set". Distance is the integer cosine distance
    * `d_x4 = 10000 − round(cos·10⁴)` ∈ [0, 20000], so every
    * comparison and the emitted radii are exact longs. Output row r =
    * (round, chosen center, coverage radius BEFORE adding it) — the
    * radius column is the classic k-vs-coverage elbow curve.
    *
    * Scale shape: the per-point state is ONE long (min distance to
    * the chosen set), updated per round by a 1-row broadcast of the
    * new center — a narrow map over the corpus, no shuffle. The
    * per-round argmax is a 1-row max(struct) aggregate (map-side
    * partials), NEVER a sort; nothing is collected — the k rounds
    * chain as one lazy plan with the state localCheckpointed every
    * other round (the BPE-loop pattern, k is small by design).
    * Already-chosen points have min_d = 0, so re-selection is
    * impossible while any point remains uncovered. */
  def kcenterCoreset(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val seed = emb.agg(min(struct(col("vec_id"), col("e"))).as("s"))
      .select(col("s.vec_id").as("cid"), col("s.e").as("ce"))
      .localCheckpoint(eager = false)
    var centers = seed.select(lit(0L).as("round"), col("cid").as("center_id"),
      lit(20000L).as("radius_x4"))
    var cur = seed
    var state = emb.withColumn("min_d", lit(20000L))
    for (r <- 1 until k) {
      state = state.crossJoin(broadcast(cur))
        .select(col("vec_id"), col("e"),
          least(col("min_d"), lit(10000L) -
            floor(cosine(col("e"), col("ce")) * 10000 + 0.5).cast("long"))
            .as("min_d"))
      if (r % 2 == 0) state = state.localCheckpoint(eager = false)
      val sel = state
        .agg(max(struct(col("min_d").as("d"), (-col("vec_id")).as("nid"),
          col("e").as("emb"))).as("s"))
        .localCheckpoint(eager = false) // feeds cur AND the output row
      cur = sel.select((-col("s.nid")).as("cid"), col("s.emb").as("ce"))
      centers = centers.unionAll(sel.select(lit(r.toLong).as("round"),
        (-col("s.nid")).as("center_id"), col("s.d").as("radius_x4")))
    }
    centers
  }

  /** MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein 1998)
    * — the relevance-AND-diversity greedy the curation pipelines run
    * where [[kcenterCoreset]] runs diversity-only: round r picks
    * argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s). Query = the
    * smallest-vec_id embedding (the kcenter seed discipline), which is
    * also S₀, so the first pick reduces to pure relevance and every
    * later round trades relevance against redundancy with what is already
    * selected. All arithmetic is exact-integer: rel and max-sim in
    * cosine x4 units (floor(cos·10⁴ + 0.5)), λ in TENTHS so the score
    * is the plain long `lam·rel − (10−lam)·max_sim` — no division, no
    * float, identical on both engines. Output row r = (round, chosen
    * id, its relevance, its max-sim BEFORE being added, its score);
    * the round-0 row is the query/seed itself (rel = max_sim = 10⁴ by
    * definition).
    *
    * Scale shape (the [[kcenterCoreset]] loop): per-point state is ONE
    * long (max sim to the selected set) plus the static relevance,
    * updated per round by a 1-row broadcast of the new pick; the
    * per-round argmax is a 1-row max(struct) aggregate — map-side
    * partials, never a sort, nothing collected; the k rounds chain as
    * one lazy plan, state localCheckpoint'ed every other round.
    * Re-selection is impossible by construction (the `sel` flag is
    * part of the state, filtered before the argmax) — an exact-tie
    * duplicate vector can never shadow an unselected one. */
  def mmrSelect(spark: SparkSession, sfDir: String, k: Int = 8,
      lamTenths: Int = 7): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    mmrSelectOf(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
      k, lamTenths)
  }

  /** Same, over a caller-supplied (vec_id, e) table — spec-testable on
    * synthetic vectors (the prefix-factoring discipline). */
  def mmrSelectOf(emb: DataFrame, k: Int = 8, lamTenths: Int = 7): DataFrame = {
    val lam = lamTenths.toLong
    def cosX4(a: Column, b: Column): Column =
      floor(cosine(a, b) * 10000 + 0.5).cast("long")
    val seed = emb.agg(min(struct(col("vec_id"), col("e"))).as("s"))
      .select(col("s.vec_id").as("cid"), col("s.e").as("ce"))
      .localCheckpoint(eager = false)
    var picks = seed.select(lit(0L).as("round"), col("cid").as("vec_id"),
      lit(10000L).as("rel_x4"), lit(10000L).as("max_sim_x4"),
      lit(lam * 10000L - (10 - lam) * 10000L).as("mmr_score"))
    var state = emb.crossJoin(broadcast(seed))
      .withColumn("rel_x4", cosX4(col("e"), col("ce")))
      .select(col("vec_id"), col("e"), col("rel_x4"),
        col("rel_x4").as("max_sim_x4"), // S0 = {seed} = the query
        (col("vec_id") === col("cid")).as("sel"))
    var cur = seed
    for (r <- 1 until k) {
      if (r > 1) {
        state = state.crossJoin(broadcast(cur))
          .select(col("vec_id"), col("e"), col("rel_x4"),
            greatest(col("max_sim_x4"), cosX4(col("e"), col("ce"))).as("max_sim_x4"),
            (col("sel") || col("vec_id") === col("cid")).as("sel"))
        if (r % 2 == 0) state = state.localCheckpoint(eager = false)
      }
      val score = lit(lam) * col("rel_x4") - lit(10L - lam) * col("max_sim_x4")
      val sel = state.filter(!col("sel"))
        .agg(max(struct(score.as("sc"), (-col("vec_id")).as("nid"),
          col("rel_x4").as("rel"), col("max_sim_x4").as("ms"),
          col("e").as("emb"))).as("s"))
        .localCheckpoint(eager = false) // feeds cur AND the output row
      cur = sel.select((-col("s.nid")).as("cid"), col("s.emb").as("ce"))
      picks = picks.unionAll(sel.select(lit(r.toLong).as("round"),
        (-col("s.nid")).as("vec_id"), col("s.rel").as("rel_x4"),
        col("s.ms").as("max_sim_x4"), col("s.sc").as("mmr_score")))
    }
    picks
  }

  /** Per-label centroid distance outliers: element-wise mean embedding
    * per label, then each vector's squared euclidean distance to its
    * label centroid, top-k outliers per label — the standard "mislabeled
    * / off-distribution sample" sweep before training.
    *
    * Scale shape:
    *  - centroid sums go through `posexplode` + a (label, pos)-keyed
    *    aggregate: the explode is NARROW and map-side combine collapses
    *    it, so the shuffle carries only labels × dims rows;
    *  - per-dimension sums are DECIMAL(38,30) so they are exact and
    *    order-independent — a double sum would depend on partition
    *    order and break both determinism and the oracle (at 100 TB
    *    the 8 integer digits bound the per-cell row count; widen the
    *    scale trade-off there);
    *  - centroids broadcast back; dist² is the index-order
    *    `zip_with`+fold (bit-identical to DuckDB's list_dot_product
    *    of the diff with itself, like [[cosine]]);
    *  - top-k is TWO-STAGE (per (label, salt) partial top-k, then
    *    per-label final): a single per-label window is the skew trap
    *    when one label dominates the corpus. */
  def centroidOutliers(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    graft.plans.L2Distance.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
    val ex = emb.select(col("label"), posexplode(col("e")).as(Seq("pos", "x")))
    val means = ex.groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast("decimal(38,30)")).cast("double") / count(lit(1))).as("m"))
    val cent = means.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), transform(col("pm"), s => s.getField("m")).as("c"))
    val dist = emb.join(broadcast(cent), "label")
      .withColumn("dist2", l2d2(col("e"), col("c")))
    val w1 = Window.partitionBy(col("label"), pmod(col("vec_id"), lit(64)))
      .orderBy(col("dist2").desc, col("vec_id"))
    val w2 = Window.partitionBy(col("label")).orderBy(col("dist2").desc, col("vec_id"))
    dist.withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
      .select(col("label"), col("rank"), col("vec_id"),
        PortableRound.pround(col("dist2"), 4).as("dist2"))
  }

  /** SIMPLIFIED SILHOUETTE per label cluster — the clustering-quality
    * audit (Kaufman–Rousseeuw's silhouette with the O(n²) pairwise
    * terms replaced by centroid distances, the standard large-n form):
    * a(i) = squared distance to the OWN label centroid, b(i) = min
    * squared distance to any OTHER label centroid,
    * s(i) = (b−a)/max(a,b) ∈ [−1, 1]. Reported per label: member
    * count, mean/min/max silhouette in exact x4 integer units, and the
    * count of NEGATIVE-silhouette members (points sitting closer to a
    * foreign centroid — the would-be reassignments). The audit that
    * says whether the `label` partition is worth using as a dedup/
    * sampling stratification before a 100 TB pass.
    *
    * Oracle parity: centroid means are exact DECIMAL(38,30) sums (the
    * [[centroidOutliers]] discipline); dist2 is the index-order fold
    * both engines share; the per-row ratio is ONE division + ONE
    * multiply in fixed order, floored to x4 integers before any
    * aggregation, and the mean uses the sign-safe DIV (negative sums
    * truncate toward zero identically on both engines).
    *
    * Scale shape: ONE narrow corpus scan against a broadcast
    * |labels|·dims centroid table (the per-vector work is |labels|
    * distance folds — at k-means scale swap in the IVF nprobe
    * assignment); one vec-keyed min-shuffle; output is |labels| rows. */
  def silhouetteSimplified(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.L2Distance.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val ex = emb.select(col("label"), posexplode(col("e")).as(Seq("pos", "x")))
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast("decimal(38,30)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label").as("clabel"),
        transform(col("pm"), s => s.getField("m")).as("c"))
    val d = emb.crossJoin(broadcast(cent))
      .withColumn("dist2", l2d2(col("e"), col("c")))
    val own = d.filter(col("label") === col("clabel"))
      .select(col("vec_id"), col("label"), col("dist2").as("a2"))
    val oth = d.filter(col("label") =!= col("clabel"))
      .groupBy(col("vec_id")).agg(min(col("dist2")).as("b2"))
    val s = own.join(oth, Seq("vec_id"))
      .withColumn("s_x4", expr(
        """CASE WHEN greatest(a2, b2) > 0
          |THEN CAST(floor((b2 - a2) / greatest(a2, b2) * 10000 + 0.5) AS BIGINT)
          |ELSE 0L END""".stripMargin))
    s.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("s_x4")).as("ssum"),
        min(col("s_x4")).as("min_s_x4"), max(col("s_x4")).as("max_s_x4"),
        sum(when(col("s_x4") < 0, 1L).otherwise(0L)).as("n_negative"))
      .select(col("label"), col("n_vecs"),
        expr("""CASE WHEN ssum >= 0 THEN ssum DIV n_vecs
                |ELSE -((-ssum) DIV n_vecs) END""".stripMargin).as("mean_s_x4"),
        col("min_s_x4"), col("max_s_x4"), col("n_negative"))
      .orderBy(col("label"))
  }

  /** Int8 scalar quantization of the embedding column — the memory-
    * compression step an ANN index runs before serving (4× smaller than
    * float32, 8× than the double working form). Per-vector max-abs
    * scaling: `code = floor(v * 127/max|v| + 0.5)`, so the largest
    * component maps to ±127 and reconstruction error is ≤ max|v|/254
    * per component.
    *
    * Scale shape: NARROW — one scan, zero shuffle; each vector
    * quantizes independently, so the operator pipelines with whatever
    * scan feeds it. `max_abs`/`qscale` are materialized columns
    * referenced by both outputs, which keeps CollapseProject from
    * re-inlining the `array_max` fold per element inside the transform
    * lambda (the measured HOF re-evaluation trap).
    *
    * Oracle determinism: float→double widening, abs/max, one division
    * and one multiply are all exact or bit-deterministic IEEE ops, so
    * codes match DuckDB exactly with no rounding discipline; the
    * reported scale goes through [[PortableRound.pround]] only for
    * display. */
  def quantizeInt8(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("max_abs", array_max(transform(col("ed"), v => abs(v))))
      .withColumn("qscale",
        when(col("max_abs") > 0, lit(127.0) / col("max_abs")).otherwise(lit(0.0)))
      .select(col("vec_id"),
        PortableRound.pround(col("qscale"), 6).as("qscale"),
        // CSV string, not array<int>: the oracle gate's row-sort cannot
        // order array cells (pandas factorize crash), and the comma join
        // of exact ints is the same information with a portable dtype.
        array_join(transform(col("ed"),
            v => floor(v * col("qscale") + lit(0.5)).cast("int").cast("string")), ",")
          .as("codes"))

  /** Squared L2 distance via the native codegen'd
    * [[graft.plans.L2Distance]] expression (registered per session).
    * Index-order accumulation — bit-identical to [[l2d2Fold]] and to
    * the oracle's `list_dot_product` of the element diff with itself. */
  def l2d2(a: Column, b: Column): Column = call_function("l2_dist2", a, b)

  /** Higher-order-function twin of [[l2d2]] (interpreted lambdas) —
    * kept as the cross-validation reference, like [[cosineFold]]. */
  def l2d2Fold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** IVF-PQ: the full billion-scale ANN serving architecture — a coarse
    * inverted-file quantizer (FIXED-k spacing-seeded centroids, L2
    * assignment — the class-C fix: the old stride sampling made the
    * coarse assignment O(n²/50); fixed k makes it O(n·k)) over
    * RESIDUAL product-quantization codes, scored with asymmetric
    * distance against only the `nprobe` probed cells.
    *
    * Composition of the already-proven pieces: [[annIvfTopK]]'s cell
    * structure (by L2 here, PQ-consistent) + [[pqAdcTopK]]'s
    * encode/LUT, except codewords and codes live in residual space
    * (`v − centroid`), which is what makes PQ codes sharp enough to
    * rank inside a cell.
    *
    * Scale shape:
    *  - centroids, codebook, and the (query × probed-cell × 16)-entry
    *    LUT all BROADCAST;
    *  - assignment + encoding collapse map-side (struct-min argmin);
    *    the one corpus-keyed shuffle is the vec_id re-join that
    *    attaches the assigned centroid back to the vector;
    *  - scoring joins on (cent_id, s, code) — the IVF property: only
    *    same-cell candidates ever meet the LUT, unprobed cells are
    *    never read. */
  def ivfPqTopK(spark: SparkSession, sfDir: String, k: Int = 5,
      nprobe: Int = 2, kCells: Int = IvfK, subspaces: Int = 4,
      subDim: Int = 16, codebook: Int = 16, cwStride: Int = 8): DataFrame = {
    graft.plans.L2Distance.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
    val cent = seedCentroids(e.select(col("vec_id"), col("ed").as("emb")), kCells)
      .select(col("cent_id"), col("c"))
    // coarse assignment: argmin L2 over the broadcast centroid set
    val asg = e.crossJoin(broadcast(cent))
      .groupBy(col("vec_id"))
      .agg(min(struct(l2d2(col("ed"), col("c")).as("d"),
        col("cent_id").as("cc"))).as("m"))
      .select(col("vec_id"), col("m.cc").as("cent_id"))
      // the assignment aggregate feeds BOTH the residual/codes branch
      // and (via sub) the codebook branch — checkpoint so the corpus ×
      // centroids argmin runs once per action, not once per consumer
      .localCheckpoint()
    // residuals, sliced into subspaces
    val resid = asg.join(e, "vec_id").join(broadcast(cent), "cent_id")
      .select(col("vec_id"), col("cent_id"),
        zip_with(col("ed"), col("c"), (a, b) => a - b).as("r"))
    def subRows(df: DataFrame, vec: String) = df
      .select(df.columns.map(col) :+
        explode_outer(sequence(lit(0), lit(subspaces - 1))).as("s"): _*)
      .filter(col("s").isNotNull)
      .withColumn("sv", slice(col(vec), col("s") * subDim + 1, lit(subDim)))
      .drop(vec)
    val sub = subRows(resid, "r")
    val cw = sub.filter(col("vec_id") % cwStride === 0 &&
        col("vec_id") < codebook * cwStride)
      .select((col("vec_id") / cwStride).cast("int").as("cw_id"), col("s"),
        col("sv").as("cw_sv"))
    val codes = sub.join(broadcast(cw), "s")
      .groupBy(col("vec_id"), col("cent_id"), col("s"))
      .agg(min(struct(l2d2(col("sv"), col("cw_sv")).as("d"),
        col("cw_id").as("c"))).as("m"))
      .select(col("vec_id"), col("cent_id"), col("s"), col("m.c").as("code"))
    // query side: probe nprobe nearest cells, LUT over residual space
    val wp = Window.partitionBy(col("query_id")).orderBy(col("d"), col("cent_id"))
    val qprobe = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("ed").as("qe"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("qe"), col("cent_id"),
        l2d2(col("qe"), col("c")).as("d"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cent_id"))
    val qsub = subRows(
      qprobe.join(broadcast(cent), "cent_id")
        .select(col("query_id"), col("cent_id"),
          zip_with(col("qe"), col("c"), (a, b) => a - b).as("qr")),
      "qr")
    val lut = qsub.join(broadcast(cw), "s")
      .select(col("query_id"), col("cent_id").as("lc"), col("s").as("ls"),
        col("cw_id"), l2d2(col("sv"), col("cw_sv")).as("qd2"))
    val scored = codes
      .join(broadcast(lut), col("cent_id") === col("lc") &&
        col("s") === col("ls") && col("code") === col("cw_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(when(col("s") === 0, col("qd2"))).as("d0"),
        (1 until subspaces).map(i =>
          sum(when(col("s") === i, col("qd2"))).as(s"d$i")): _*)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (0 until subspaces).map(i => col(s"d$i")).reduce(_ + _).as("approx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        PortableRound.pround(col("approx"), 6).as("approx_d2"))
  }

  /** Product-quantization ANN with asymmetric distance (ADC): vectors
    * are encoded as `subspaces` small codes (nearest codeword per
    * 16-dim slice), and a query scores a vector by summing its
    * precomputed query↔codeword distances — the IVF-PQ memory layout
    * (here: 4 bytes/vector vs 256 for float32) behind every billion-
    * scale vector index. Codewords are stride-sampled corpus vectors
    * (deterministic; a trained variant would reuse the
    * [[kmeansIvfTopK]] Lloyd machinery per subspace).
    *
    * Scale shape:
    *  - the codebook (subspaces × 16 codewords) and the query LUT
    *    (queries × subspaces × 16 cells) are tiny and BROADCAST — the
    *    corpus never shuffles during encoding or scoring;
    *  - encoding's argmin is a (vec_id, s)-keyed min that collapses
    *    fully map-side (all 16 candidate rows of a key are generated
    *    from the same input row, so the shuffle carries `subspaces`
    *    rows per vector);
    *  - the ADC sum is four single-row sums in fixed syntactic order
    *    (`s0+s1+s2+s3`) — order-independent, so the oracle compares
    *    bit-exactly with no decimal widening. */
  def pqAdcTopK(spark: SparkSession, sfDir: String, k: Int = 5,
      subspaces: Int = 4, subDim: Int = 16, codebook: Int = 16,
      stride: Int = 8): DataFrame = {
    graft.plans.L2Distance.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
    def subRows(df: DataFrame, idAlias: String) = df
      .select(col("vec_id").as(idAlias),
        explode_outer(sequence(lit(0), lit(subspaces - 1))).as("s"), col("ed"))
      .filter(col("s").isNotNull)
      .select(col(idAlias), col("s"),
        slice(col("ed"), col("s") * subDim + 1, lit(subDim)).as("sv"))
    val cw = subRows(
        e.filter(col("vec_id") % stride === 0 && col("vec_id") < codebook * stride),
        "cw_vec")
      .select((col("cw_vec") / stride).cast("int").as("cw_id"), col("s"),
        col("sv").as("cw_sv"))
    def d2(a: Column, b: Column): Column = l2d2(a, b)
    val codes = subRows(e, "vec_id").join(broadcast(cw), "s")
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(d2(col("sv"), col("cw_sv")).as("d"), col("cw_id").as("c"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.c").as("code"))
    val lut = subRows(e.filter(col("vec_id") < 10), "query_id")
      .join(broadcast(cw), "s")
      .select(col("query_id"), col("s").as("ls"), col("cw_id"),
        d2(col("sv"), col("cw_sv")).as("qd2"))
    val scored = codes
      .join(broadcast(lut), col("s") === col("ls") && col("code") === col("cw_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(when(col("s") === 0, col("qd2"))).as("d0"),
        (1 until subspaces).map(i =>
          sum(when(col("s") === i, col("qd2"))).as(s"d$i")): _*)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (0 until subspaces).map(i => col(s"d$i")).reduce(_ + _).as("approx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        PortableRound.pround(col("approx"), 6).as("approx_d2"))
  }

  /** PQ DISTORTION / CODEBOOK-UTILIZATION AUDIT — the calibration
    * row behind [[pqAdcTopK]]'s memory layout (the knob sheet for
    * subspaces × codebook bits): per subspace the exact quantization
    * distortion (each vector's min codeword d², floored to micro
    * BEFORE summing so the total is partition-order-independent) and
    * the codebook utilization (codewords actually used + the hottest
    * codeword's share — dead codewords are wasted bits, a hot one is
    * a collapsed subspace). Reads next to [[embed_rank_corr]]: ρ says
    * what quantization costs in ORDER, this says where the bits go.
    *
    * Scale: the same broadcast-codebook encode as the serving path —
    * corpus never shuffles during encoding; the audit aggregates are
    * (s)- and (s, code)-keyed censuses. */
  def pqDistortion(spark: SparkSession, sfDir: String,
      subspaces: Int = 4, subDim: Int = 16, codebook: Int = 16,
      stride: Int = 8): DataFrame = {
    graft.plans.L2Distance.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
    def subRows(df: DataFrame, idAlias: String) = df
      .select(col("vec_id").as(idAlias),
        explode_outer(sequence(lit(0), lit(subspaces - 1))).as("s"), col("ed"))
      .filter(col("s").isNotNull)
      .select(col(idAlias), col("s"),
        slice(col("ed"), col("s") * subDim + 1, lit(subDim)).as("sv"))
    val cw = subRows(
        e.filter(col("vec_id") % stride === 0 && col("vec_id") < codebook * stride),
        "cw_vec")
      .select((col("cw_vec") / stride).cast("int").as("cw_id"), col("s"),
        col("sv").as("cw_sv"))
    val best = subRows(e, "vec_id").join(broadcast(cw), "s")
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(l2d2(col("sv"), col("cw_sv")).as("d"),
        col("cw_id").as("c"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.c").as("code"),
        expr("CAST(floor(m.d * 1000000 + 0.5) AS BIGINT)").as("md6"))
    val usage = best.groupBy(col("s"), col("code"))
      .agg(count(lit(1)).as("cnt"))
    val us = usage.groupBy(col("s"))
      .agg(count(lit(1)).as("codes_used"), max(col("cnt")).as("top_cnt"))
    best.groupBy(col("s"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("md6")).as("total_dist_micro"))
      .join(broadcast(us), "s")
      .select(col("s").cast("long").as("s"), col("n_vecs"),
        col("total_dist_micro"),
        expr("total_dist_micro DIV n_vecs").as("mean_dist_micro"),
        col("codes_used"),
        expr("(top_cnt * 1000) DIV n_vecs").as("top_code_share_milli"))
  }

  /** Bucketed ANN: brute-force only within the query's LSH bucket —
    * the candidate join is (bucket) equi-keyed, so the corpus shuffles
    * once on bucket instead of crossing with every query. */
  def annLshTopK(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val sigs = lshSignatures(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir).join(sigs.select("vec_id", "lsh_bucket"), "vec_id")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("lsh_bucket").as("q_bucket"))
    val scored = emb.join(broadcast(queries),
        col("lsh_bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        PortableRound.pround(cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** MULTIPROBE LSH ANN (Lv et al. 2007, "Multi-Probe LSH"): probe
    * the query's home bucket PLUS the [[Planes]] buckets at Hamming
    * distance 1 (each one sign-bit flip) — the standard recall
    * recovery for hyperplane LSH, whose worst failure mode is a query
    * sitting just across one hyperplane from its true neighbors.
    * Recall rises toward brute-force while the probed fraction stays
    * (Planes+1)/2^Planes of the corpus — the knob a 100 TB ANN serves
    * instead of adding whole extra hash tables (memory-free, same
    * bucket index).
    *
    * Scale shape: the probe set explodes on the BROADCAST query side
    * (queries × (Planes+1) rows — tiny); candidate generation stays a
    * bucket equi-join against the one corpus-side bucket index. Each
    * vector lives in exactly one bucket and the probe buckets are
    * distinct, so no (query, neighbor) pair duplicates — no dedup
    * pass needed. */
  def annLshMultiprobe(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val sigs = lshSignatures(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
      .join(sigs.select("vec_id", "lsh_bucket"), "vec_id")
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("lsh_bucket").as("home"),
        explode(array((-1 until Planes).map(p => lit(p.toLong)): _*)).as("flip"))
      .select(col("query_id"), col("q_emb"),
        when(col("flip") < 0, col("home"))
          .otherwise(expr("home ^ shiftleft(1L, CAST(flip AS INT))"))
          .as("probe_bucket"))
    val scored = emb.join(broadcast(probes),
        col("lsh_bucket") === col("probe_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        PortableRound.pround(cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** EMBEDDING CENTROID DRIFT — the embedding-space monitor for a
    * model/encoder upgrade or a corpus refresh: split the vectors
    * into the deterministic old/new halves (`vec_id % 2`), compute
    * each label's exact per-dimension mean on both halves
    * (decimal(38,30) sums — partition-order-independent), and report
    * the cosine between the paired centroids as the x4 integer. A
    * label whose centroid moved (cos ≪ 10000) flags re-embedding or
    * distribution shift BEFORE the downstream ANN index or dedup
    * thresholds silently degrade — the embedding twin of
    * `events_drift_psi`. This is the declared RETRAIN TRIGGER for the
    * frozen trained-IVF quantizer ([[cellRefresh]]): delta refreshes
    * keep the day-0 centroids by design, so a red drift row is the
    * signal that the frozen cells no longer fit the data and the
    * index needs a REBUILD (retrain + reassign), not another delta.
    *
    * Scale: one scan exploded to (label, half, dim) partial sums —
    * map-side combined to 2·|labels|·dims rows; the centroid pairing
    * is a |labels|-row join; no window, no collect. */
  def centroidDrift(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("label"), (col("vec_id") % 2 === 0).as("old_half"),
        col("embedding").cast("array<double>").as("e"))
    val means = emb
      .select(col("label"), col("old_half"), posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("old_half"), col("pos"))
      .agg((sum(col("x").cast("decimal(38,30)")).cast("double") /
        count(lit(1))).as("m"), count(lit(1)).as("n"))
    val cent = means.groupBy(col("label"), col("old_half"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"),
        max(col("n")).as("n_vecs"))
      .select(col("label"), col("old_half"),
        transform(col("pm"), s => s.getField("m")).as("c"), col("n_vecs"))
    val a = cent.filter(col("old_half"))
      .select(col("label"), col("c").as("c_old"), col("n_vecs").as("n_old"))
    val b = cent.filter(!col("old_half"))
      .select(col("label").as("l2"), col("c").as("c_new"), col("n_vecs").as("n_new"))
    a.join(b, col("label") === col("l2"))
      .select(col("label"), col("n_old"), col("n_new"),
        floor(cosine(col("c_old"), col("c_new")) * 10000 + 0.5).cast("long")
          .as("centroid_cos_x4"))
  }

  /** MULTIPROBE RECALL EVAL — the tuning row that quantifies what the
    * dominance spec only orders: recall@5 against the exact top-5 for
    * the single-probe and multiprobe LSH answers, one row per
    * (mode, query). The table answers "is one extra probe set worth
    * it for OUR data" with a number, the same role
    * [[annNprobeSweep]] plays for IVF.
    *
    * Scale: the exact side is [[annBruteForceTopK]] checkpointed
    * once; both candidate sides are the already-audited bucket-equi
    * plans; the compare is a (query, neighbor)-keyed left join over
    * queries×k rows. */
  def annMultiprobeRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = annBruteForceTopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = false)
    def recallOf(mode: String, cand: DataFrame): DataFrame =
      bf.join(cand.select(col("query_id").as("c_query"),
          col("neighbor_id").as("c_neighbor")),
          col("query_id") === col("c_query") &&
            col("neighbor_id") === col("c_neighbor"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_true"), count(col("c_neighbor")).as("n_hits"))
        .select(lit(mode).as("mode"), col("query_id"), col("n_true"),
          col("n_hits"),
          PortableRound.pround(col("n_hits").cast("double") / col("n_true"), 4)
            .as("recall"))
    recallOf("single", annLshTopK(spark, sfDir))
      .unionAll(recallOf("multiprobe", annLshMultiprobe(spark, sfDir)))
  }

  /** NORM PROFILE per label — the norm-collapse detector an embedding
    * monitor runs beside [[centroidDrift]] (drift moves the MEAN;
    * collapse shrinks the NORMS — both silently break cosine
    * thresholds downstream): per label the min / median / max of the
    * squared vector norms in centi fixed-point. The median is a value
    * quantile over the CENTI-NORM CENSUS — unit-ish norms quantize
    * into a bounded value domain, so the cumulative walk never sees a
    * per-vector row (the RFM/Gini census discipline).
    *
    * The norm² fold is the index-order `zip_with`/`aggregate` chain
    * with established bit-parity to DuckDB's `list_dot_product`.
    *
    * Scale: one scan → (label, centi-norm) census, map-side combined;
    * a label-partitioned walk over census rows; extremes are plain
    * aggregates. */
  def embedNormProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm2 = aggregate(
      zip_with(col("e"), col("e"), (p, q) => p * q), lit(0.0),
      (acc, v) => acc + v)
    val nv = Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("e"))
      .select(col("label"),
        floor(norm2 * 100 + 0.5).cast("long").as("n2c"))
    val census = nv.groupBy(col("label"), col("n2c"))
      .agg(count(lit(1)).as("m"))
    val cum = census.withColumn("cum", sum(col("m")).over(
      Window.partitionBy(col("label")).orderBy(col("n2c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = census.groupBy(col("label"))
      .agg(sum(col("m")).as("n_vecs"), min(col("n2c")).as("min_norm2_centi"),
        max(col("n2c")).as("max_norm2_centi"))
    cum.join(broadcast(tot), "label")
      .filter(col("cum") - col("m") < expr("(n_vecs + 1) DIV 2") &&
        col("cum") >= expr("(n_vecs + 1) DIV 2"))
      .select(col("label"), col("n_vecs"), col("min_norm2_centi"),
        col("n2c").as("p50_norm2_centi"), col("max_norm2_centi"))
  }

  /** K-MEANS ELBOW ADVISOR — the tuning curve behind the IVF
    * centroid-count knob (joins the nprobe/LSH-band/threshold advisor
    * family): total within-cluster inertia for a NESTED ladder of
    * centroid sets (`vec_id < k`, so each k's centroids contain the
    * previous — inertia is PROVABLY nonincreasing, the spec pins it),
    * reported per k with the exact-integer x4 per-vector floor so the
    * sum is partition-order-independent. The marginal inertia drop
    * between rungs is the elbow the operator reads.
    *
    * Scale: per rung one broadcast of k centroid rows against the
    * embedding scan (the standard assignment cost), a vec-keyed min,
    * and a 1-row sum; rungs share the checkpointed projection. */
  def kmeansElbow(spark: SparkSession, sfDir: String,
      ks: Seq[Int] = Seq(10, 20, 40)): DataFrame = {
    graft.plans.L2Distance.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .localCheckpoint(eager = false) // all rungs + all centroid sets
    ks.map { k =>
      val cent = emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("e").as("c"))
      emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), l2d2(col("e"), col("c")).as("d2"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("md"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(floor(col("md") * 10000 + 0.5).cast("long")).as("inertia_x4"))
        .select(lit(k.toLong).as("k_centroids"), col("n_vecs"),
          col("inertia_x4"),
          expr("inertia_x4 DIV n_vecs").as("mean_inertia_x4"))
    }.reduce(_.unionByName(_))
  }

  /** RANK-FIDELITY EVAL (Spearman 1904) — "how much ranking does int8
    * quantization lose?", the question every serving stack answers
    * before shipping quantized vectors: per query, the Spearman ρ
    * between the EXACT cosine top-k ordering and the ordering the
    * integer int8-code dot product induces on those same k neighbors,
    * as the exact rational ρ_milli = 1000 − 6000·Σd² DIV k(k²−1).
    * Completes the eval family (IVF recall, multiprobe recall, kNN
    * agreement) with a rank-correlation lens — recall says WHICH
    * neighbors survive, ρ says whether their ORDER does.
    *
    * Every quantity is exact: the code dot is a sum of int products
    * (codes ≤ 127), ranks are row_numbers with id tie-breaks, and the
    * Spearman formula is integer arithmetic end to end.
    *
    * Scale: the exact side is the audited brute baseline (queries are
    * a fixed panel); the quantized side joins CODES to the k·|panel|
    * candidate rows — at 100 TB the panel rides any candidate
    * generator (IVF/LSH) and this query's own shape is unchanged. */
  def rankCorrInt8(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val codes = Tables.embeddings(spark, sfDir)
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("ma", array_max(transform(col("ed"), v => abs(v))))
      .withColumn("qs",
        when(col("ma") > 0, lit(127.0) / col("ma")).otherwise(lit(0.0)))
      .select(col("vec_id"), transform(col("ed"),
        v => floor(v * col("qs") + lit(0.5)).cast("long")).as("codes"))
      .localCheckpoint(eager = false) // query + neighbor consumers
    val exact = annBruteForceTopK(spark, sfDir, k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank_exact"))
    val scored = exact
      .join(broadcast(codes.select(col("vec_id").as("query_id"),
        col("codes").as("qcodes"))), Seq("query_id"))
      .join(codes.select(col("vec_id").as("neighbor_id"),
        col("codes").as("ncodes")), Seq("neighbor_id"))
      .withColumn("qdot", aggregate(
        zip_with(col("qcodes"), col("ncodes"), (a, b) => a * b),
        lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id"))
    scored.withColumn("rank_q", row_number().over(w).cast("long"))
      .withColumn("d", col("rank_exact") - col("rank_q"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), sum(expr("d * d")).as("sum_d2"))
      .withColumn("rho_milli",
        expr("1000 - (6000 * sum_d2) DIV (k * (k * k - 1))"))
  }

  /** ALIGNMENT / UNIFORMITY AUDIT (Wang & Isola 2020, "Understanding
    * contrastive representation learning through alignment and
    * uniformity") — the embedding-quality report: per label the mean
    * squared intra-label distance (alignment — small = same-class
    * vectors sit together), plus a corpus-wide pseudo-label row
    * (label −1) whose spread is the uniformity contrast (a good space
    * has within-label ≪ overall).
    *
    * The trick that makes it exact at ANY scale: the pairwise sum
    * needs NO pairwise join — Σ_{i<j}‖qᵢ−qⱼ‖² = n·Σᵢ‖qᵢ‖² − Σ_d Sd²
    * (Sd the per-dimension coordinate sum), so the whole audit is two
    * map-side-combined aggregates over (label, dim). Coordinates are
    * quantized to centi fixed-point (floor(x·100 + 0.5) — one IEEE
    * double op, bit-identical on both engines), making every later
    * step long arithmetic. Headroom: num ≈ n²·d·q̄² per label must
    * stay under 2⁵³/100 — at d=64 centi-quant that is ~3·10⁵ vectors
    * per label; beyond that widen the two sums through decimal(38,0)
    * on both engines (documented escape hatch, same policy as
    * [[graft.operators.Relational.eventsUserGini]]).
    *
    * Scale: one scan exploded to (label, dim) partials, map-side
    * combined to |labels|·d rows; no window, no join wider than the
    * |labels|-row count join. */
  def embedAlignment(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 100 + 0.5) AS BIGINT))").as("q"))
      .localCheckpoint(eager = false) // label rows + the -1 pseudo-label
    val base = q.unionByName(q.select(lit(-1L).as("label"), col("q")))
    val perDim = base
      .select(col("label"), posexplode(col("q")).as(Seq("d", "v")))
      .groupBy(col("label"), col("d"))
      .agg(sum(expr("v * v")).as("a"), sum(col("v")).as("s"))
    val counts = base.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    perDim.groupBy(col("label"))
      .agg(sum(col("a")).as("sum_sq"), sum(expr("s * s")).as("sum_s2"))
      .join(broadcast(counts), Seq("label"))
      .filter(col("n_vecs") >= 2)
      .select(col("label"), col("n_vecs"),
        expr("n_vecs * sum_sq - sum_s2").as("ssd_centi2"),
        expr("""((n_vecs * sum_sq - sum_s2) * 100)
          | DIV ((n_vecs * (n_vecs - 1)) DIV 2)""".stripMargin)
          .as("mean_sq_micro"))
  }

  /** PQ-ADC RECALL EVAL — the missing cell of the eval matrix (IVF
    * recall, multiprobe recall, nprobe sweep, int8 ρ … and now the
    * compressed-codes path): recall@5 of [[pqAdcTopK]]'s asymmetric-
    * distance answers against the exact brute top-5, per query. Read
    * WITH [[pqDistortion]]: distortion says what the codes lose in
    * DISTANCE, this says what that costs in ANSWERS.
    *
    * Scale: both sides are the already-audited plans; the compare is
    * a (query, neighbor)-keyed left join over queries×k rows. */
  def pqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = annBruteForceTopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = false)
    bf.join(pqAdcTopK(spark, sfDir)
        .select(col("query_id").as("c_query"), col("neighbor_id").as("c_neighbor")),
        col("query_id") === col("c_query") &&
          col("neighbor_id") === col("c_neighbor"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"), count(col("c_neighbor")).as("n_hits"))
      .select(col("query_id"), col("n_true"), col("n_hits"),
        PortableRound.pround(col("n_hits").cast("double") / col("n_true"), 4)
          .as("recall"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space into IVF cells,
    * compare pairs ONLY within a cell, and drop every vector that has
    * a lower-id cell-mate above the cosine threshold (the engine's
    * deterministic keep-first rule, same convention as
    * [[graft.operators.Dedup.exactKeepFirst]]; the paper keeps the
    * member farthest from the centroid — swap the keep key for that
    * policy, the plan shape is identical).
    *
    * Scale shape (the paper's own argument): clustering makes the
    * pair space Σ|block|² instead of n². With the FIXED-k trained
    * quantizer, cell population grows as n/k — so blocks are the
    * (cent_id, shard) SUB-SHARDS of [[ivfAssignments]], whose target
    * population is [[IvfShardTarget]] at every scale: total pair mass
    * stays ~n·target (linear), and each vector is checked against
    * 1/nshards of its cell — the same recall/cost dial as LSH bands
    * (SemDeDup itself grows k with n; the deterministic shard is the
    * engine-portable equivalent with a replayable oracle). At the
    * gated SFs nshards = 1, i.e. exact within-cell. Here:
    *  - assignment reuses [[ivfAssignments]] (broadcast trained
    *    centroid set, one corpus scan, O(n·k));
    *  - the candidate join is (cent_id, shard) EQUI-keyed self-join —
    *    no nested loop (plan-shape-tested);
    *  - the survivor set is a LEFT ANTI join on vec_id: dup discovery
    *    shuffles only the (id1 < id2, cos > τ) pair ids, never the
    *    embeddings twice. */
  def semanticDedup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    val assigned = ivfAssignments(spark, sfDir)
    val a = assigned.select(col("cent_id"), col("shard"),
      col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = assigned.select(col("cent_id").as("c2"), col("shard").as("s2"),
      col("vec_id").as("id2"), col("embedding").as("e2"))
    val dupIds = a.join(b, col("cent_id") === col("c2") &&
        col("shard") === col("s2") && col("id1") < col("id2"))
      .filter(cosine(col("e1"), col("e2")) > threshold)
      .select(col("id2").as("vec_id")).distinct()
    assigned.join(dupIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cent_id"))
  }

  /** SEMANTIC DECONTAMINATION — the embedding-space sibling of the
    * n-gram `corpus_decontaminate`: paraphrased eval leakage that
    * shares no 13-gram still collides in embedding space, so release
    * pipelines also check each EVAL item's nearest TRAIN neighbor by
    * cosine and flag pairs above the leak threshold. Eval set = a
    * deterministic id slice; candidates come only from the eval item's
    * IVF cell (the [[semanticDedup]] blocking), and the per-eval argmax
    * uses the ROUNDED score + train-id tie-break so the reported
    * nearest neighbor is engine-portable. Eval items whose cell holds
    * no train member have no candidate row (nothing to audit).
    *
    * Scale: assignment is one broadcast-centroid corpus scan; the
    * eval×train join is (cell, shard) EQUI-keyed with the eval side a
    * small slice, so the pair space is Σ|block_eval|·|block_train| ~
    * n·[[IvfShardTarget]], never n·m; the argmax window partitions by
    * eval id over block-sized candidate groups. The shard bounds the
    * candidate set exactly like [[semanticDedup]]'s (nshards = 1 at
    * the gated SFs). */
  def semanticDecontaminate(spark: SparkSession, sfDir: String,
      threshold: Double = 0.35,
      evalMod: Int = 10, evalResidue: Int = 7): DataFrame = {
    val assigned = ivfAssignments(spark, sfDir)
    val ev = assigned.filter(col("vec_id") % evalMod === evalResidue)
      .select(col("cent_id"), col("shard"), col("vec_id").as("eval_id"),
        col("embedding").as("e_emb"))
    val tr = assigned.filter(col("vec_id") % evalMod =!= evalResidue)
      .select(col("cent_id").as("c2"), col("shard").as("s2"),
        col("vec_id").as("train_id"), col("embedding").as("t_emb"))
    val scored = ev.join(tr, col("cent_id") === col("c2") &&
        col("shard") === col("s2"))
      .select(col("eval_id"), col("train_id"),
        PortableRound.pround(cosine(col("e_emb"), col("t_emb")), 4)
          .as("cos_sim"))
    val w = Window.partitionBy(col("eval_id"))
      .orderBy(col("cos_sim").desc, col("train_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("eval_id"), col("train_id").as("nearest_train_id"),
        col("cos_sim").as("max_cos"),
        (col("cos_sim") >= threshold).as("leaked"))
  }

  /** Recall@k of the probed IVF index against the brute-force ground
    * truth — the evaluation harness every ANN deployment tunes nprobe
    * with. Per query: how many of the exact top-k the IVF run
    * recovered. At scale the query set is a broadcast-sized sample, so
    * both pipelines keep their own scale shapes and the comparison
    * join is query-keyed and tiny. */
  def annIvfRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = annBruteForceTopK(spark, sfDir)
    val ivf = annIvfTopK(spark, sfDir)
      .select(col("query_id").as("i_query"), col("neighbor_id").as("i_neighbor"))
    bf.join(ivf, col("query_id") === col("i_query") &&
        col("neighbor_id") === col("i_neighbor"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"), count(col("i_neighbor")).as("n_hits"))
      .select(col("query_id"), col("n_true"), col("n_hits"),
        PortableRound.pround(col("n_hits").cast("double") / col("n_true"), 4)
          .as("recall"))
  }

  /** NPROBE SWEEP — the ANN tuning curve next to [[annIvfRecall]]'s
    * single point (and the retrieval twin of
    * [[graft.operators.Dedup.thresholdSweep]]): recall@k against the
    * exact top-k for nprobe ∈ {1, 2, 4}, from ONE shared plan — the
    * corpus is assigned once, query cells are ranked once to the
    * LARGEST nprobe, and each sweep point filters `probe_rank ≤ np`
    * before its per-(np, query) top-k window. A vector lives in
    * exactly one cell, so widening the probe set only ADDS candidates
    * — recall is monotone in nprobe by construction, and the curve
    * tells a deployment the cheapest probe width that clears its
    * recall bar.
    *
    * Scale shape: one broadcast-centroid corpus scan (the assignment),
    * one Q×C probe ranking (Q and C both broadcast-small), ONE
    * (cent_id)-keyed candidate join shared by all points, then the
    * ≤3× nprobe explode on the tiny candidate table. The exact side
    * reuses [[annBruteForceTopK]] checkpointed once. */
  def annNprobeSweep(spark: SparkSession, sfDir: String, k: Int = 5,
      nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val centroids = ivfCentroids(spark, sfDir)
    val assigned = ivfAssignments(spark, sfDir)
    val queries = embDouble(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_c").desc, col("cent_id"))
    val probed = queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cent_id"),
        cosine(col("q_emb"), col("c")).as("cos_c"))
      .withColumn("probe_rank", row_number().over(wq))
      .filter(col("probe_rank") <= nprobes.max)
      .select(col("query_id"), col("q_emb"), col("cent_id"), col("probe_rank"))
    val cand = probed.join(assigned, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("probe_rank"), col("vec_id").as("neighbor_id"),
        PortableRound.pround(cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
      .localCheckpoint(eager = false)
    val npCol = explode(array(nprobes.map(np => lit(np.toLong)): _*)).as("nprobe")
    val wt = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val ivfTop = cand.select(col("query_id"), col("probe_rank"),
        col("neighbor_id"), col("cos_sim"), npCol)
      .filter(col("probe_rank") <= col("nprobe"))
      .withColumn("rank", row_number().over(wt)).filter(col("rank") <= k)
      .select(col("nprobe").as("i_nprobe"), col("query_id").as("i_query"),
        col("neighbor_id").as("i_neighbor"))
    val bf = annBruteForceTopK(spark, sfDir, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = false)
    bf.select(col("query_id"), col("neighbor_id"), npCol)
      .join(ivfTop,
        col("nprobe") === col("i_nprobe") &&
          col("query_id") === col("i_query") &&
          col("neighbor_id") === col("i_neighbor"), "left")
      .groupBy(col("nprobe"))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_true"), count(col("i_neighbor")).as("n_hits"))
      .withColumn("recall_x4", expr("(n_hits * 10000) DIV n_true"))
  }

  /** MATRYOSHKA funnel retrieval + its recall audit (Kusupati et al.
    * 2022, "Matryoshka Representation Learning"; the adaptive-retrieval
    * deployment shape): stage 1 shortlists `m` candidates per query by
    * cosine over only the FIRST `dPrefix` dimensions (a prefix of an
    * MRL-trained embedding is itself a valid embedding), stage 2
    * reranks the shortlist with the full vector, and the audit reports
    * recall@k against the exact full-dimension top-k — the number that
    * decides how small `dPrefix` can go.
    *
    * Scale: stage 1 is the whole point — the corpus-wide scan reads
    * and multiplies dPrefix/dims (here 16/64 = 25%) of the vector
    * bytes, with the same zero-corpus-shuffle broadcast shape as
    * [[annBruteForceTopK]]; at 100 TB the prefix lives in its own
    * (column-pruned) parquet column so the scan I/O really does drop
    * 4×. Stage 2 touches only Q·m rows. The shortlist rank uses the
    * ROUNDED stage-1 score with a neighbor_id tie-break so the
    * cut boundary is deterministic and engine-portable. */
  def matryoshkaRecall(spark: SparkSession, sfDir: String,
      dPrefix: Int = 16, m: Int = 20, k: Int = 5): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val s1 = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("embedding"), col("q_emb"),
        PortableRound.pround(
          cosine(slice(col("q_emb"), 1, dPrefix),
            slice(col("embedding"), 1, dPrefix)), 4).as("tcos"))
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("tcos").desc, col("neighbor_id"))
    val short = s1.withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= m)
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("fcos").desc, col("neighbor_id"))
    val funnel = short
      .withColumn("fcos",
        PortableRound.pround(cosine(col("q_emb"), col("embedding")), 4))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= k)
      .select(col("query_id").as("f_query"), col("neighbor_id").as("f_neighbor"))
    val bf = annBruteForceTopK(spark, sfDir, k)
    bf.join(funnel, col("query_id") === col("f_query") &&
        col("neighbor_id") === col("f_neighbor"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"), count(col("f_neighbor")).as("n_hits"))
      .select(col("query_id"), col("n_true"), col("n_hits"),
        PortableRound.pround(col("n_hits").cast("double") / col("n_true"), 4)
          .as("recall"))
  }

  /** Top principal direction of the embedding matrix by POWER ITERATION
    * — two unrolled `x ← Aᵀ(Ax)` passes in exact fixed-point integers
    * (floats quantize to 1/1024 steps; the inter-pass downscale is a
    * floor-division by 2²⁰ made sign-safe with a +2⁵⁰ offset — a 2³⁰
    * divisor collapsed the iterate to {-1,0,1} and destroyed the
    * direction, caught by the double-precision recount spec), so both
    * engines compute bit-identical vectors and the DuckDB oracle
    * replays the whole iteration — the eigen-analysis analogue of the
    * replayable k-means in [[kmeansIvfTopK]]. Output: per dimension,
    * the iterate after pass 1 (`x1`) and the unnormalized direction
    * after pass 2 (`z2`); dominant dims = largest |z2|.
    *
    * Scale shape per pass: one (vec_id)-keyed matvec join + one
    * (dim)-keyed transpose aggregate that collapses map-side to
    * `dims` rows; the 64-row iterate broadcasts back. The quantized
    * (vec, dim, q) rows are localCheckpoint'ed once and reused by all
    * four joins — and at 100 TB they'd instead be a bucketed table on
    * vec_id, eliding every matvec shuffle. Magnitudes: |z2| ≤
    * n·4096·|y2| ≈ 10¹⁷ at sf0.1 — widen the two sums to
    * DECIMAL(38,0) beyond ~10⁶ rows (same trade the k-means notes). */
  def pcaPowerTop(spark: SparkSession, sfDir: String): DataFrame = {
    val M = 1L << 20
    val OFF = 1L << 50
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("j0", "x")))
      .select(col("vec_id"), (col("j0") + 1).as("j"),
        floor(col("x") * 1024 + 0.5).cast("long").as("qv"))
      .localCheckpoint()
    val y1 = e.groupBy(col("vec_id")).agg(sum(col("qv")).as("y")) // x0 = 1s
    val z1 = e.join(y1, "vec_id").groupBy(col("j"))
      .agg(sum(col("qv") * col("y")).as("z1"))
    val x1 = z1.select(col("j"),
      (expr(s"(z1 + $OFF) div $M") - (OFF / M)).as("x1"))
    val y2 = e.join(broadcast(x1), "j").groupBy(col("vec_id"))
      .agg(sum(col("qv") * col("x1")).as("y2"))
    val z2 = e.join(y2, "vec_id").groupBy(col("j"))
      .agg(sum(col("qv") * col("y2")).as("z2"))
    x1.join(z2, "j").select(col("j"), col("x1"), col("z2")).orderBy(col("j"))
  }

  /** IVF CELL-BALANCE CENSUS — the partition-skew audit for the
    * embedding side of the engine (the [[graft.operators.Skew]]
    * advisor's twin for vector buckets): cell sizes bucketed into
    * power-of-two size classes with each class's vector share. Every
    * ANN/semantic-dedup query here shuffles on the cell key, so a
    * mega-cell is to those joins what a hot key is to a relational
    * join — this census is what decides whether the k-means rebalance
    * ([[kmeansCentroids]]) or a cap ([[graft.operators.Dedup.capHotKeys]])
    * is needed before a 100 TB run. Size class = floor(log2(size))
    * via the engine-portable bit-length (same trick as plog2micro's
    * leading term), shares in exact milli-units.
    *
    * Scale shape: the assignment is the usual broadcast-centroid scan;
    * the census is one (cent_id)-keyed count (map-side combined) — the
    * cell table is centroid-sized, everything after is arithmetic on
    * at most 64 class rows. Long headroom: the imbalance product
    * max_sz·tot_cells·1000 stays in Long while cells·vectors < ~10¹⁵
    * (≈10⁹ vectors at k = [[IvfK]]); past that widen the three factors
    * to decimal(38,0) — same note as the k-means moment sums. */
  def cellBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = ivfAssignments(spark, sfDir)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("sz"))
    val tot = cells.agg(count(lit(1)).as("tot_cells"), sum(col("sz")).as("tot_vecs"))
    cells.withColumn("size_class", expr("length(bin(sz)) - 1"))
      .groupBy(col("size_class"))
      .agg(count(lit(1)).as("n_cells"), sum(col("sz")).as("n_vecs"),
        min(col("sz")).as("min_sz"), max(col("sz")).as("max_sz"))
      .crossJoin(broadcast(tot))
      .select(col("size_class").cast("long").as("size_class"),
        col("n_cells"), col("n_vecs"), col("min_sz"), col("max_sz"),
        expr("(n_vecs * 1000) DIV tot_vecs").as("share_milli"),
        // how far the class's biggest cell sits above the perfectly
        // balanced size (1000 = exactly balanced)
        expr("(max_sz * tot_cells * 1000) DIV tot_vecs").as("imbalance_milli"))
  }

  /** kNN-GRAPH LABEL AGREEMENT — the standard embedding-quality audit
    * (and the metric behind SemDeDup-style cluster pruning): build the
    * k-nearest-neighbor graph over the corpus and measure, per label,
    * how often a vector's neighbors share its label. High agreement =
    * the embedding space respects the labeling (safe to drive semantic
    * dedup / stratified sampling from it); low agreement names the
    * label whose region is entangled. Reported per label: vectors,
    * edges, same-label edges, agreement rate, and mean neighbor
    * cosine (both as exact integer-division milli/10⁻⁴ units over the
    * already-rounded edge cosines, so the aggregate replicates).
    *
    * The graph is NOT all-pairs: neighbors are drawn from each
    * vector's IVF cell ([[ivfAssignments]] — same partitioner the ANN
    * queries probe), so the self-join is (cent_id) EQUI-keyed and the
    * per-vector top-k is a window inside the cell. At 100 TB the cell
    * assignment is the bucketing; cells are balanced by construction
    * (a k-means build rebalances hot cells — [[kmeansCentroids]]), and
    * a viral cell would get the same cap-and-alert treatment as the
    * LSH buckets. Approximation is the point: same-cell recall is
    * what IVF-with-nprobe=1 gives, and the agreement statistic is
    * robust to missing cross-cell edges (documented estimator, same
    * contract as [[annIvfRecall]] which MEASURES that recall). */
  def knnLabelAgreement(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame = {
    graft.plans.CosineSimilarity.register(spark)
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val av = ivfAssignments(spark, sfDir)
      .join(labels, "vec_id")
      .select(col("vec_id"), col("cent_id"), col("shard"), col("label"),
        col("embedding"))
      .localCheckpoint(eager = false)
    val edges = av.as("a").join(av.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.shard") === col("b.shard") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("nb_id"), col("b.label").as("nb_label"),
        PortableRound.pround(
          cosine(col("a.embedding"), col("b.embedding")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nb_id"))
    edges.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .withColumn("cos_x4", floor(col("cos_sim") * 10000 + 0.5).cast("long"))
      .groupBy(col("label"))
      .agg(countDistinct(col("vec_id")).as("n_vecs"),
        count(lit(1)).as("n_edges"),
        sum(when(col("label") === col("nb_label"), 1L).otherwise(0L)).as("n_same"),
        sum(col("cos_x4")).as("sum_cos_x4"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("n_edges"), col("n_same"),
        expr("(n_same * 1000) DIV n_edges").as("agree_milli"),
        expr("CASE WHEN sum_cos_x4 >= 0 THEN sum_cos_x4 DIV n_edges " +
          "ELSE -((-sum_cos_x4) DIV n_edges) END").as("mean_cos_x4"))
  }
}
