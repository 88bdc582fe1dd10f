package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale notes (100 TB):
  *  - exact dedup shuffles once on the content hash — the minimal
  *    possible shuffle for global dedup; AQE handles hash skew;
  *  - MinHash/LSH replaces the O(n²) pair space with a shuffle keyed on
  *    (band, bucket): only same-bucket docs ever meet, which is the
  *    standard web-scale near-dup design (shingle→minhash→band→join);
  *  - the n-gram Jaccard self-join is blocked on shared shingles so the
  *    join key-space is shingles, not doc pairs; good for verification
  *    of LSH candidates — the top-k variant here keeps the oracle
  *    comparable at small SF.
  */
object Dedup {

  /** Exact dedup, keep-first: one row per distinct content hash with the
    * smallest doc_id (row_number over hash-partitioned window). */
  def exactKeepFirst(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    Tables.documents(spark, sfDir)
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("content_hash"))
  }

  /** Exact dedup after text NORMALIZATION — catches the formatting
    * variants plain [[exactKeepFirst]] misses (case, punctuation,
    * whitespace runs): lowercase → strip ASCII punctuation → collapse
    * spaces → trim, then keep-first on the md5 of the normal form.
    * The punctuation class is an explicit ASCII set so the Java-regex
    * (Spark) and RE2 (oracle) interpretations are identical; unicode
    * letters pass through untouched, so non-Latin corpora don't
    * collapse to one group.
    *
    * Scale: identical to exact dedup — one shuffle on the normal-form
    * hash; the normalization itself is a narrow codegen'd projection. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[.,;:!?'\"()-]", ""), " +", " "))

  def normalizedKeepFirst(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = normalizeText(col("text"))
    val w = Window.partitionBy(col("norm_hash")).orderBy(col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), md5(norm).as("norm_hash"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("norm_hash"))
  }

  /** Exact duplicate groups (count > 1) — empty until duplicates exist
    * (sf0.1 carries 8); kept oracle-checked either way. */
  def exactDupGroups(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), sort_array(collect_list(col("doc_id"))).as("doc_ids"))
      .filter(col("n_copies") > 1)

  /** Adds a distinct word-3-gram column `sh`, materializing the word
    * array once (multi-referenced non-cheap expressions are not inlined
    * back into the lambda by CollapseProject). */
  def withShingles(df: DataFrame, textCol: String = "text", n: Int = 3): DataFrame = {
    val words = col("__w")
    df.withColumn("__w", split(col(textCol), " "))
      .withColumn("__n", size(words))
      .withColumn("sh", array_distinct(filter(
        transform(words, (w, i) =>
          when(i <= col("__n") - n,
            concat_ws(" ", (0 until n).map(k =>
              if (k == 0) w else element_at(words, i + k + 1)): _*))),
        x => x.isNotNull)))
      .drop("__w", "__n")
  }

  /** Top-k most similar pairs by word-3-gram Jaccard, blocked on shared
    * shingles (pure relational: explode → self-join → count ratio).
    * Deterministic: rounded score, (doc-id) tie-breaks.
    */
  def ngramJaccardTopPairs(spark: SparkSession, sfDir: String,
      maxShingleFreq: Int = 4096): DataFrame = {
    val docs = withShingles(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("sh"))
    // explode_outer + isNotNull: a plain explode makes
    // InferFiltersFromGenerate push a size(sh)>0 predicate below the
    // projection, re-inlining the whole shingle expression per row
    // (measured 8× slower at sf0.1). localCheckpoint: BOTH self-join
    // sides and the size lookup read the materialized shingle rows
    // instead of re-running the interpreted shingle transform per
    // consumer (cold 7.5 -> 2.0 s at sf0.1).
    val raw = docs.select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
      .localCheckpoint()
    // Stop-shingle cap (SSJoin practice): a shingle in > maxShingleFreq
    // docs is boilerplate and alone contributes O(f²) join rows; drop it
    // from the UNIVERSE — sizes and intersection alike — so the Jaccard
    // stays exact over the reduced gram set. [[oversizedKeys]] is the
    // alert channel; the default cap is far above any test-SF frequency
    // so the declared oracle is untouched.
    val exploded = capHotKeys(raw, Seq("shingle"), maxShingleFreq)
    // per-doc shingle counts off the same materialized rows; only docs
    // that can appear in a pair (≥1 shingle) ever need a size
    val sizes = exploded.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // sort-merge on the shingle key: broadcasting the exploded set would
    // ship it twice and caps out at scale (measured 2× slower at sf0.1)
    val a = exploded.hint("shuffle_merge").as("a")
    val b = exploded.hint("shuffle_merge").as("b")
    val inter = a.join(b, col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_sh", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_sh", "n2"), "doc2")
      .select(col("doc1"), col("doc2"),
        PortableRound.pround(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc1"), col("doc2"))
      .limit(20)
  }

  // --- MinHash + LSH ----------------------------------------------------

  val MinhashPerm = 32
  val Bands = 8 // 8 bands x 4 rows
  private val RowsPerBand = MinhashPerm / Bands
  private val P = 2147483647L // 2^31-1

  /** Per-doc 32-permutation minhash signature — the m0..m31 columns the
    * banding and the estimation evaluator both consume. Relational
    * formulation: explode shingles, hash once, take the k permutation
    * minima as codegen'd partial aggregates (map-side combine → the
    * shuffle carries one 32-minima row per doc). Faster than per-row
    * array transforms (interpreted HOF lambdas) and the standard
    * web-scale shape: signature state is O(k) per key. */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    minhashSignaturesOf(Tables.documents(spark, sfDir))

  /** [[minhashSignatures]] over a caller-supplied docs slice — the
    * incremental path ([[bucketRefresh]]) runs the signature pass over
    * ONLY the day's admitted documents, never the corpus. */
  def minhashSignaturesOf(docs: DataFrame): DataFrame = {
    val exploded = withShingles(docs)
      .select(col("doc_id"), explode_outer(col("sh")).as("s")) // see ngram note
      .filter(col("s").isNotNull)
      .withColumn("h", graft.functions.PortableHash.md5Hash48(col("s")))
    val mins = (0 until MinhashPerm).map { i =>
      min(pmod(col("h") * (2L * i + 1) + 104729L * (i + 1), lit(P))).as(s"m$i")
    }
    exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures banded for LSH. Deterministic AND
    * engine-portable: the base hash is [[graft.functions.PortableHash]]
    * (md5-derived 48-bit) + fixed (a,b) permutation params, so the
    * DuckDB oracle replicates every signature bit-for-bit. Output: one
    * row per (doc, band) with the band's bucket key — the join key that
    * replaces the O(n²) comparison at scale.
    */
  def minhashLshBuckets(spark: SparkSession, sfDir: String): DataFrame =
    bandSignature(minhashSignatures(spark, sfDir))

  /** Bands the m0..m31 signature columns into (doc_id, band, bucket)
    * rows — shared by the full-corpus and incremental paths so both
    * produce identical bucket keys. */
  private def bandSignature(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(
      array((0 until Bands).map(bnd =>
        struct(lit(bnd).as("band"),
          md5(concat_ws(":", (0 until RowsPerBand).map(k =>
            col(s"m${bnd * RowsPerBand + k}").cast("string")): _*)).as("bucket"))
      ): _*)))
      .select(col("doc_id"), col("col.band").as("band"), col("col.bucket").as("bucket"))

  /** Near-dup KEEP-FIRST at the minhash level: a document survives
    * unless one of its band buckets collides with a SMALLER doc_id —
    * the release-pipeline twin of [[exactKeepFirst]] one level up the
    * fuzziness ladder. One bucket-keyed self-join (candidates only,
    * never the pair space) then a broadcast-able left-anti against the
    * corpus; both shuffles are (band, bucket)/doc_id equi-keys. */
  def minhashKeepFirst(spark: SparkSession, sfDir: String): DataFrame = {
    // both self-join sides read the materialized buckets, not two
    // re-runs of the signature aggregation
    val buckets = minhashLshBuckets(spark, sfDir).localCheckpoint(eager = false)
    val dominated = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("doc_id")).distinct()
    Tables.documents(spark, sfDir)
      .join(dominated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
  }

  /** Band buckets whose population exceeds `cap` — the skew monitor
    * for the LSH self-joins. At 100 TB a viral boilerplate cluster
    * (site template, license header) lands thousands of docs in one
    * bucket and its self-join alone is O(n²) in the cluster size; the
    * production pattern is to CAP the bucket (these pairs are
    * near-certain dups anyway — route the oversized bucket to a
    * cheaper representative-vs-rest pass) and alert on what was
    * dropped rather than melt the stage. */
  def oversizedBuckets(buckets: DataFrame, cap: Int): DataFrame =
    oversizedKeys(buckets, Seq("band", "bucket"), cap)

  /** Generic form of [[oversizedBuckets]] for any blocking scheme:
    * blocking keys whose row population exceeds `cap`. One map-side-
    * combined aggregate on the already-shuffled key — the monitor costs
    * a rounding error next to the self-join it protects. */
  def oversizedKeys(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > cap)

  /** Cap-and-alert applied: drop rows whose blocking key is oversized
    * (broadcast left-anti against the small oversize list) BEFORE the
    * self-join fans them out quadratically. Callers surface the dropped
    * keys via [[oversizedKeys]] — cap, don't silently melt the stage.
    *
    * The capped rows are localCheckpoint'ed LAZILY (eager=false):
    * every caller feeds them to BOTH sides of a self-join (plus
    * per-doc size aggregates), and without materialization each lazy
    * consumer re-runs the census aggregate + anti-join (+30-45 % on
    * the blocked-join queries). Lazy = the first ACTION materializes
    * once and later consumers reuse, while merely building the
    * DataFrame (plan guards, .explain, schema-only callers) stays free.
    *
    * Trade-off: a localCheckpoint truncates lineage (executor loss
    * makes downstream stages unrecoverable on a real cluster) and its
    * blocks live until released. Right for a bench/batch session that
    * exits after the query. */
  def capHotKeys(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    if (cap == Int.MaxValue) rows
    else rows
      .join(broadcast(oversizedKeys(rows, keys, cap).select(keys.map(col): _*)),
        keys, "left_anti")
      .localCheckpoint(eager = false)

  /** Shingle sets restricted to the docs that actually appear in the
    * candidate pair list `cand` (nothing is computed only to be
    * thrown away): the minhash verify stages join
    * per-doc shingle ARRAYS onto candidate pairs, so the projection
    * semi-joins the corpus to the candidate ids BELOW the shingle
    * transform — |candidates| shingling work at 100 TB instead of
    * |corpus| (the delta ≪ corpus regime the refresh family targets).
    * Lossless by construction: docs absent from `cand` could never
    * survive the inner verify joins. Callers pass `cand` lazily
    * checkpointed, since it now feeds the verify join AND this probe. */
  private def candidateShingles(spark: SparkSession, sfDir: String,
      cand: DataFrame, c1: String, c2: String): DataFrame = {
    val ids = cand.select(col(c1).as("doc_id"))
      .unionByName(cand.select(col(c2).as("doc_id"))).distinct()
    withShingles(Tables.documents(spark, sfDir)
        .join(ids, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("sh"))
  }

  /** LSH candidate pairs verified by true 3-gram Jaccard ≥ threshold.
    * Same-bucket join → distinct pairs → verification join.
    *
    * `maxBucketSize` drops buckets over the cap from candidate
    * generation (see [[oversizedBuckets]]); the default is far above
    * any test-SF bucket, so the declared query and its oracle are
    * unaffected — a real deployment tunes it to its cluster-size
    * distribution.
    */
  def minhashNearDupPairs(spark: SparkSession, sfDir: String, threshold: Double = 0.7,
      maxBucketSize: Int = 1024): DataFrame = {
    // checkpoint BEFORE the cap: the census aggregate and the anti-join
    // otherwise each re-run the whole signature derivation
    val allBuckets = minhashLshBuckets(spark, sfDir).localCheckpoint(eager = false)
    val buckets = capHotKeys(allBuckets, Seq("band", "bucket"), maxBucketSize)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
      .localCheckpoint(eager = false) // verify join + the shingle semi-join
    val docs = candidateShingles(spark, sfDir, cand, "doc1", "doc2")
    val verified = cand
      .join(docs.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
      .join(docs.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
    verified
  }

  /** DEDUP AGGRESSIVENESS SWEEP — the "choose your threshold" table a
    * release ships before committing to a near-dup removal pass: for
    * each candidate Jaccard threshold (tenths), the verified pair
    * count, the documents keep-first would remove, and the mean
    * verified Jaccard of the surviving pairs. Thresholds compare as
    * exact integer cross-products (10·|∩| ≥ t·|∪|) and the mean is
    * integer x4-units, so every cell replicates in the oracle. The
    * sweep runs over the LSH CANDIDATE set (one band agreeing), so
    * low thresholds report the pairs the banding ADMITS — the recall
    * at each t is exactly what [[lshConfigAdvisor]]'s S-curve
    * quantifies; the two queries together are the full tuning loop.
    *
    * Scale shape: ONE bucket equi self-join for candidates (capped,
    * checkpointed — same audited shape as [[minhashNearDupPairs]]),
    * ONE pair-scoring join, then the 5-way threshold explode happens
    * AFTER scoring on the tiny pair table, and each output row is one
    * map-side-combined aggregate cell. Empty thresholds still emit
    * (zero counts) via the left join with the threshold spine, so the
    * report shape is stable at any SF. */
  def thresholdSweep(spark: SparkSession, sfDir: String,
      maxBucketSize: Int = 1024,
      thresholdsX10: Seq[Int] = Seq(5, 6, 7, 8, 9)): DataFrame = {
    val allBuckets = minhashLshBuckets(spark, sfDir).localCheckpoint(eager = false)
    val buckets = capHotKeys(allBuckets, Seq("band", "bucket"), maxBucketSize)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
      .localCheckpoint(eager = false) // verify join + the shingle semi-join
    val docs = candidateShingles(spark, sfDir, cand, "doc1", "doc2")
    val scored = cand
      .join(docs.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
      .join(docs.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
      .select(col("doc1"), col("doc2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("inter"),
        size(array_union(col("sh1"), col("sh2"))).cast("long").as("uni"))
    val agg = scored
      .select(col("doc1"), col("doc2"), col("inter"), col("uni"),
        explode(array(thresholdsX10.map(t => lit(t.toLong)): _*)).as("t10"))
      .filter(col("inter") * 10 >= col("t10") * col("uni"))
      .groupBy(col("t10"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc2")).as("n_docs_removed"),
        sum(expr("(inter * 10000) DIV uni")).as("sum_jac_x4"))
    val spine = spark.range(1)
      .select(explode(array(thresholdsX10.map(t => lit(t.toLong)): _*)).as("t10"))
    spine.join(agg, Seq("t10"), "left")
      .select(col("t10").as("threshold_x10"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_removed"), lit(0L)).as("n_docs_removed"),
        when(col("n_pairs").isNotNull, expr("sum_jac_x4 DIV n_pairs"))
          .otherwise(lit(null).cast("long")).as("mean_jac_x4"))
  }

  /** INCREMENTAL DEDUP — the daily-crawl admission pass: dedup a NEW
    * snapshot (here the deterministic `doc_id % 10 < 2` slice) against
    * the EXISTING corpus without ever re-comparing the corpus to
    * itself. This is the operation that makes dedup sustainable at
    * 100 TB: the full-corpus pass ([[minhashKeepFirst]]) runs once;
    * every arriving snapshot then costs |new|·bands candidate lookups
    * — corpus×corpus never re-materializes, and the corpus side of
    * every join is plain equi-keyed parquet (in production, the
    * bucket table is a maintained index, exactly what
    * [[graft.operators.Substrate]]'s IVM family refreshes).
    *
    * Two admission gates, mirroring the reference's exists-by-pid /
    * exists-by-metadata cascade (F6/F7) at corpus scale:
    *  - `exact`: full-text md5 equality against the corpus (the
    *    cheap gate runs first — one (hash)-keyed join);
    *  - `near`: LSH band-bucket collision (new×corpus only), verified
    *    by true 3-gram Jaccard ≥ threshold — the same capped,
    *    audited candidate shape as [[thresholdSweep]] (hot buckets
    *    over `maxBucketSize` are excluded on BOTH engines).
    * Output: one row per new doc — (doc_id, outcome ∈ exact|near|kept,
    * dup_of = min matching corpus doc or null). */
  def incrementalDedup(spark: SparkSession, sfDir: String,
      thresholdX10: Long = 7, maxBucketSize: Int = 1024): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isNew = col("doc_id") % 10 < 2
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"),
      isNew.as("is_new"))
    val exactMin = hashed.filter(!col("is_new"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("exact_of"))
    val base = hashed.filter(col("is_new"))
      .join(exactMin, Seq("h"), "left")
      .select(col("doc_id"), col("exact_of"))
    val bk = capHotKeys(
      minhashLshBuckets(spark, sfDir).localCheckpoint(eager = false),
      Seq("band", "bucket"), maxBucketSize)
    val cand = bk.filter(col("doc_id") % 10 < 2)
      .select(col("band"), col("bucket"), col("doc_id").as("new_id"))
      .join(bk.filter(col("doc_id") % 10 >= 2)
        .select(col("band").as("b2"), col("bucket").as("k2"),
          col("doc_id").as("corp_id")),
        col("band") === col("b2") && col("bucket") === col("k2"))
      .select(col("new_id"), col("corp_id")).distinct()
      .localCheckpoint(eager = false) // verify join + the shingle semi-join
    val sh = candidateShingles(spark, sfDir, cand, "new_id", "corp_id")
    val near = cand
      .join(sh.select(col("doc_id").as("new_id"), col("sh").as("sh1")), "new_id")
      .join(sh.select(col("doc_id").as("corp_id"), col("sh").as("sh2")), "corp_id")
      .filter(size(array_intersect(col("sh1"), col("sh2"))).cast("long") * 10 >=
        lit(thresholdX10) * size(array_union(col("sh1"), col("sh2"))).cast("long"))
      .groupBy(col("new_id")).agg(min(col("corp_id")).as("near_of"))
    base.join(near, col("doc_id") === col("new_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, lit("exact"))
          .when(col("near_of").isNotNull, lit("near"))
          .otherwise(lit("kept")).as("outcome"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
  }

  /** BUILD-ONCE day-2 admission table — the cascade's outcome
    * table `(doc_id, outcome, dup_of)` that a production nightly job
    * writes ONCE and every downstream refresh reads. Five declared
    * queries (`dedup_bucket_refresh`, `dedup_fp_refresh`,
    * `dedup_cluster_refresh`, `corpus_split_churn`,
    * `corpus_daily_increment`) share it, so the full cascade — a
    * corpus-wide minhash pass plus the shingle verify — runs once per
    * (application, sfDir), not once per consumer. Same lifecycle and
    * charging discipline as [[Day1ClusterFamily]]: `dedup_incremental`
    * is the declared build row (Bench cold-resets the family before
    * each of its repeats), so it reports the true cascade cost and the
    * consumers report the steady-state marginal cost of their own
    * refresh work. The DuckDB
    * oracle replicas recompute the cascade from scratch inside every
    * consumer's SQL, so hash equality keeps proving the shared table ≡
    * the inline recomputation. */
  val AdmissionFamily = "day2_admission"
  def incrementalDedupMaterialized(spark: SparkSession, sfDir: String): DataFrame =
    BuildOnce.get(spark, AdmissionFamily, sfDir)(
      BuildOnce.sized(incrementalDedup(spark, sfDir)))

  /** The admitted (`kept`) doc ids off the shared admission table —
    * the projection every day-2 consumer starts from. */
  def admittedMaterialized(spark: SparkSession, sfDir: String): DataFrame =
    incrementalDedupMaterialized(spark, sfDir)
      .filter(col("outcome") === "kept").select(col("doc_id"))

  /** IVM REFRESH of the LSH bucket index —
    * the proof behind [[incrementalDedup]]'s 100 TB story that "the
    * bucket table is a maintained index": apply one day's ADMITTED
    * documents to the stored index and show refresh == full rebuild.
    *
    * Refresh path (what production runs nightly):
    *  - `existing` — the maintained index: bucket rows of the current
    *    corpus (here recomputed for the self-contained declared query;
    *    at scale, a stored table bucketed on (band, bucket));
    *  - `admitted` — the day's docs that SURVIVED the
    *    [[incrementalDedup]] exact/near admission cascade (`kept`);
    *  - `delta` — the minhash+banding pass over ONLY the admitted
    *    slice: |new|·bands rows of work, the corpus never re-shingles
    *    (the signature pass `minhashSignaturesOf` receives the
    *    filtered slice, so the explode sits above a pruned scan);
    *  - refreshed index = existing ∪ delta (banding is per-document,
    *    so the union IS the rebuild — which is exactly what the
    *    DuckDB oracle verifies by computing the FULL REBUILD over
    *    corpus ∪ admitted and hash-comparing).
    * The same round-trip-invariant pattern as `sub_apply_changeset`
    * (MERGE apply vs snapshot recompute). */
  def bucketRefresh(spark: SparkSession, sfDir: String,
      thresholdX10: Long = 7, maxBucketSize: Int = 1024): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isNew = col("doc_id") % 10 < 2
    val existing = bandSignature(minhashSignaturesOf(docs.filter(!isNew)))
    // default params read the shared admission table (the nightly
    // job's real input); non-default calibration params re-run the
    // cascade with them, as before
    val admitted = (if (thresholdX10 == 7 && maxBucketSize == 1024)
        admittedMaterialized(spark, sfDir)
      else incrementalDedup(spark, sfDir, thresholdX10, maxBucketSize)
        .filter(col("outcome") === "kept").select(col("doc_id")))
    val delta = bandSignature(minhashSignaturesOf(
      docs.join(admitted, Seq("doc_id"), "left_semi")))
    existing.unionByName(delta)
  }

  /** IVM REFRESH of the winnow FINGERPRINT table — the third of the
    * maintained indexes: like the LSH bucket index ([[bucketRefresh]])
    * and the hyperplane signature index ([[Similarity.indexRefresh]]),
    * it has an oracle-proven refresh ≡ rebuild path, here for the
    * fingerprint table that feeds [[winnowEdgesMaterialized]] and the
    * whole graph family, so the build-once edge list's "refreshed with
    * the admitted-doc delta" claim is proven rather than asserted.
    *
    * Refresh path: `existing` — fingerprints of the current corpus
    * (at scale a stored table bucketed on fp_hash; recomputed here for
    * the self-contained declared query); `admitted` — the day's docs
    * that survived the [[incrementalDedup]] exact/near cascade;
    * `delta` — the winnow pass over ONLY the admitted slice (the
    * admission semi-join sits BELOW the gram explode, so the corpus
    * never re-fingerprints). Winnowing is per-document, so
    * existing ∪ delta IS the rebuild — which is what the DuckDB oracle
    * verifies by recomputing the FULL rebuild over corpus ∪ admitted
    * and hash-comparing. */
  def fpRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isNew = col("doc_id") % 10 < 2
    val existing = TextAnalysis.winnowDocFps(docs.filter(!isNew), 4)
    val admitted = admittedMaterialized(spark, sfDir)
    val delta = TextAnalysis
      .winnowDocFps(docs.join(admitted, Seq("doc_id"), "left_semi"), 4)
    existing.unionByName(delta)
  }

  /** The day's near-dup EDGE DELTA: fingerprint pairs with ≥ 3 shared
    * fps and ≥ 1 admitted side over the refreshed (hot-capped)
    * fingerprint table — |delta|·f work, never corpus×corpus, since
    * corpus↔corpus shared counts cannot change when docs are only
    * ADDED. Factored out of [[dailyIncrement]] so the label refresh
    * ([[clusterRefresh]]) and the census share one definition; callers
    * that already hold the refreshed fingerprint table pass it in
    * (`refreshedFp`) so the corpus never re-fingerprints. */
  def deltaEdgesOf(spark: SparkSession, sfDir: String, admitted: DataFrame,
      refreshedFp: Option[DataFrame] = None): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isNew = col("doc_id") % 10 < 2
    val fp = refreshedFp.getOrElse {
      TextAnalysis.winnowDocFps(docs.filter(!isNew), 4)
        .unionByName(TextAnalysis
          .winnowDocFps(docs.join(admitted, Seq("doc_id"), "left_semi"), 4))
        .localCheckpoint(eager = false) // both sides of the edge join
    }
    val capped = capHotKeys(fp, Seq("fp_hash"), 4096)
    capped.filter(isNew)
      .select(col("fp_hash"), col("doc_id").as("ida"))
      .join(capped.select(col("fp_hash").as("h2"), col("doc_id").as("idb")),
        col("fp_hash") === col("h2") && col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"), col("fp_hash"))
      .distinct() // both-admitted pairs arrive once per side
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  /** CLUSTER-LABEL IVM — the maintained-index family at its CONSUMER
    * end: [[bucketRefresh]], [[fpRefresh]] and the vector-index
    * refreshes maintain the candidate structures, and this maintains
    * the component labels that [[graft.operators.Corpus.clusteredSplit]]
    * and [[keepBestRepresentative]] consume, without a full
    * star-contraction rebuild on every daily increment. This is the
    * incremental form. Components only ever UNION when documents are
    * added, so the day's delta edges collapse into a LABEL-level merge
    * graph — one node per delta-touched label, one edge per delta edge
    * whose endpoints currently carry different labels — whose star
    * contraction is bounded by the DELTA, never the corpus. The merged
    * super-label is the min over merged labels, which equals the min
    * doc id of the merged component: every stored label is already its
    * component's min, and every admitted doc enters as its own
    * singleton label. Relabeling is one broadcast join of the (tiny)
    * merge map onto the stored label table.
    *
    * Maintained-table semantics (the edge memo's 100 TB contract): the
    * stored edge table is APPEND-ONLY — day-1 edges were built with the
    * hot-fp cap evaluated on the day-1 fingerprint table, the delta
    * with the cap on the refreshed table ([[deltaEdgesOf]], the
    * `edges_added` definition verbatim). The DuckDB oracle rebuilds
    * connected components FROM SCRATCH over that same union edge set,
    * so hash equality proves refresh ≡ rebuild for the label
    * maintenance itself (the `embed_cell_refresh` proof pattern);
    * ClusterRefreshSpec additionally proves it in-engine on a
    * constructed corpus where delta edges genuinely MERGE distinct
    * day-1 components. */
  def clusterRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // the shared admission table is already checkpointed by its memo
    val admitted = admittedMaterialized(spark, sfDir)
    // The day-1 corpus fingerprints and the stored label table are the
    // PERSISTED day-1 state a nightly refresh reads, not work the
    // refresh performs — they come from the build-once memo
    // ([[day1FingerprintsMaterialized]] / [[storedClusterLabelsMaterialized]]),
    // whose build cost the bench charges to `corpus_daily_increment`;
    // the three day-2 queries share one day-1 winnow + star-CC build,
    // exactly like the edge/candidate memos.
    val oldFpRaw = day1FingerprintsMaterialized(spark, sfDir)
    val refreshedFp = oldFpRaw.unionByName(TextAnalysis
        .winnowDocFps(docs.join(admitted, Seq("doc_id"), "left_semi"), 4))
      .localCheckpoint(eager = false)
    clusterRefreshOf(spark, sfDir, admitted,
      deltaEdgesOf(spark, sfDir, admitted, Some(refreshedFp)),
      Some(oldFpRaw),
      storedLabels = Some(storedClusterLabelsMaterialized(spark, sfDir)))
  }

  /** BUILD-ONCE day-1 cluster state — the two tables a
    * production deployment PERSISTS between days and every day-2 query
    * reads: the day-1 winnow fingerprint table and the day-1 component
    * labels. `dedup_cluster_refresh`, `corpus_split_churn` and
    * `corpus_daily_increment` share them: the build (day-1 winnow
    * scan + capped fp self-join + star CC) runs EXACTLY ONCE per
    * (application, sfDir) and is `localCheckpoint`ed, the same
    * lifecycle as [[winnowEdgesMaterialized]]. The bench charges the
    * build to `corpus_daily_increment` (first of the family in the
    * chain; Bench cold-resets the family before each of its repeats),
    * so the other day-2 queries report steady-state marginal cost.
    * Refresh ≡ rebuild stays oracle-proven: the DuckDB replicas
    * recompute the day-1 state from scratch and hash-compare. */
  val Day1ClusterFamily = "day1_cluster_state"

  /** Day-1 (standing corpus, `doc_id % 10 >= 2`) winnow fingerprints —
    * memoized; see [[Day1ClusterFamily]]. */
  def day1FingerprintsMaterialized(spark: SparkSession, sfDir: String): DataFrame =
    BuildOnce.get(spark, Day1ClusterFamily, sfDir + "#fp")(
      BuildOnce.sized(TextAnalysis.winnowDocFps(
          Tables.documents(spark, sfDir).filter(!(col("doc_id") % 10 < 2)), 4)))

  /** Day-1 stored component labels — memoized; see
    * [[Day1ClusterFamily]]. Built over the memoized day-1 fingerprints
    * so the family shares one winnow pass. */
  def storedClusterLabelsMaterialized(spark: SparkSession, sfDir: String): DataFrame =
    BuildOnce.get(spark, Day1ClusterFamily, sfDir + "#labels")(
      BuildOnce.sized(storedClusterLabels(spark, sfDir,
          Some(day1FingerprintsMaterialized(spark, sfDir)))))

  /** The DAY-1 stored label table: star CC over the day-1 corpus with
    * day-1-capped winnow edges — what a production deployment persists
    * and [[clusterRefreshOf]] merges into. Recomputed here for
    * self-contained declared queries; `oldFpRaw` shares the day-1
    * fingerprint scan when the caller already holds it. */
  def storedClusterLabels(spark: SparkSession, sfDir: String,
      oldFpRaw: Option[DataFrame] = None): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isNew = col("doc_id") % 10 < 2
    val oldFp = capHotKeys(
      oldFpRaw.getOrElse(
        TextAnalysis.winnowDocFps(docs.filter(!isNew), 4)),
      Seq("fp_hash"), 4096)
    val oldEdges = oldFp.select(col("fp_hash"), col("doc_id").as("id1"))
      .join(oldFp.select(col("fp_hash").as("h2"), col("doc_id").as("id2")),
        col("fp_hash") === col("h2") && col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .select(col("id1"), col("id2"))
    GraphOps.connectedComponentsStar(
      docs.filter(!isNew).select(col("doc_id")), oldEdges, "doc_id")
  }

  /** [[clusterRefresh]] with the admission cascade's output and the
    * edge delta supplied by the caller — [[dailyIncrement]] pays each
    * exactly once across all its stages (one cascade per run, as in
    * [[Similarity.cellRefresh]]); `oldFpRaw` optionally
    * shares the day-1 fingerprint scan the same way. */
  def clusterRefreshOf(spark: SparkSession, sfDir: String,
      admitted: DataFrame, deltaEdges: DataFrame,
      oldFpRaw: Option[DataFrame] = None,
      storedLabels: Option[DataFrame] = None): DataFrame = {
    // the stored day-1 state, recomputed here for the self-contained
    // declared query (at scale: the persisted label + edge tables)
    val stored = storedLabels.getOrElse(
      storedClusterLabels(spark, sfDir, oldFpRaw))
    // every current node's label BEFORE the merge: the stored table
    // plus each admitted doc as its own singleton
    val labels = stored.unionByName(
        admitted.select(col("doc_id"), col("doc_id").cast("long").as("cluster")))
      .localCheckpoint(eager = false) // merge-map build + relabel read
    val le = deltaEdges
      .join(labels.select(col("doc_id").as("id1"), col("cluster").as("c1")),
        Seq("id1"))
      .join(labels.select(col("doc_id").as("id2"), col("cluster").as("c2")),
        Seq("id2"))
      .filter(col("c1") =!= col("c2"))
      .select(col("c1"), col("c2"))
    val touched = le.select(col("c1").as("label"))
      .unionByName(le.select(col("c2").as("label"))).distinct()
    val merged = GraphOps.connectedComponentsStar(touched, le, "label")
      .select(col("label"), col("cluster").as("merged"))
    // the merge map is delta-bounded → broadcast; untouched components
    // (the overwhelming mass at 100 TB) keep their stored label
    labels.join(broadcast(merged), labels("cluster") === merged("label"),
        "left")
      .select(col("doc_id"),
        coalesce(col("merged"), labels("cluster")).as("cluster"))
  }

  /** DAY-2 INCREMENTAL INTEGRATION — the
    * daily-ingest twin of `corpus_release_funnel`, proving the IVM
    * family COMPOSES: one declared query runs the admission cascade
    * plus all three index refreshes plus the near-dup edge delta and
    * emits the per-stage census a nightly ingest job would log:
    *
    *   - `docs_admitted`     docs surviving the exact/near cascade;
    *   - `buckets_added`     LSH band rows the bucket index gains
    *                         ([[bucketRefresh]] delta);
    *   - `fingerprints_added` winnow fingerprint rows the fingerprint
    *                         table gains ([[fpRefresh]] delta);
    *   - `signatures_added`  hyperplane signature rows the vector
    *                         index gains ([[Similarity.indexRefresh]]
    *                         delta — note the vector side has its OWN
    *                         cosine admission gate, per that operator);
    *   - `cells_touched`     DISTINCT trained-IVF cells the admitted
    *                         vectors land in ([[Similarity.cellRefresh]]
    *                         delta — the posting lists a nightly job
    *                         appends to; same admission gate as the
    *                         signature index, so the two maintained
    *                         vector indexes stay in lockstep);
    *   - `edges_added`       new near-dup edges: fingerprint pairs with
    *                         ≥ 3 shared fps and ≥ 1 admitted side —
    *                         exactly the edge-list delta, since
    *                         corpus×corpus shared counts cannot change
    *                         when docs are only ADDED ([[deltaEdgesOf]]);
    *   - `clusters_touched`  DISTINCT component labels the admitted
    *                         docs land in after the incremental label
    *                         merge ([[clusterRefreshOf]] — the edge
    *                         delta above feeds it directly, so the
    *                         cascade and the edge join are both paid
    *                         once across all stages).
    *
    * Each stage count filters the corresponding refresh output to its
    * new slice (delta rows are the `% 10 < 2` side by construction), so
    * the declared query REUSES the already-proven operators verbatim;
    * the oracle replays each stage's replica scoped in its own derived
    * table. The edge delta joins the admitted docs' fingerprints
    * against the refreshed (hot-capped) table — |delta|·f work, never
    * corpus×corpus. DailyIncrementSpec pins that every stage count
    * reconciles with the standalone queries. */
  def dailyIncrement(spark: SparkSession, sfDir: String): DataFrame = {
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
    val docs = Tables.documents(spark, sfDir)
    val isNew = col("doc_id") % 10 < 2
    // ONE admission-cascade evaluation feeds every doc-side stage (the
    // nightly job's real shape: the cascade output is a table, not a
    // subquery re-run per consumer) — the shared admission memo
    val admitted = admittedMaterialized(spark, sfDir)
    val newDocs = docs.join(admitted, Seq("doc_id"), "left_semi")
    val bucketsDelta = bandSignature(minhashSignaturesOf(newDocs))
    val fpDelta = TextAnalysis.winnowDocFps(newDocs, 4)
      .localCheckpoint(eager = false) // stage count + refreshed union
    // day-1 corpus fingerprints, shared by the refreshed table AND the
    // label stage's stored-state reconstruction — the build-once memo
    // ([[Day1ClusterFamily]]); the bench charges THIS query with the
    // family's cold build, so the full day-1 winnow + star-CC cost is
    // paid (and reported) here, and the sibling day-2 queries read the
    // stored state like the production nightly job they model
    val oldFpRaw = day1FingerprintsMaterialized(spark, sfDir)
    val refreshedFp = oldFpRaw
      .unionByName(fpDelta)
      .localCheckpoint(eager = false) // both sides of the edge join
    val edges = deltaEdgesOf(spark, sfDir, admitted, Some(refreshedFp))
      .localCheckpoint(eager = false) // stage count + the label merge
    // ONE vector-admission cascade (the LSH candidate join + cosine
    // gate inside indexRefresh) feeds BOTH maintained vector indexes —
    // the signature count and the cell delta (cellRefresh's default
    // path would run its own cascade, a second one per run)
    val sigRefresh = Similarity.indexRefresh(spark, sfDir)
      .localCheckpoint(eager = false)
    stage("docs_admitted", admitted)
      .unionByName(stage("buckets_added", bucketsDelta))
      .unionByName(stage("edges_added", edges))
      .unionByName(stage("fingerprints_added", fpDelta))
      .unionByName(stage("signatures_added",
        sigRefresh.filter(col("vec_id") % 10 < 2)))
      .unionByName(stage("cells_touched",
        Similarity.cellRefresh(spark, sfDir, sigRefresh)
          .filter(col("vec_id") % 10 < 2)
          .select(col("cent_id")).distinct()))
      .unionByName(stage("clusters_touched",
        clusterRefreshOf(spark, sfDir, admitted, edges, Some(oldFpRaw),
            storedLabels = Some(storedClusterLabelsMaterialized(spark, sfDir)))
          .filter(isNew).select(col("cluster")).distinct()))
      .orderBy(col("stage"))
  }

  /** Sketch-quality evaluation: for every LSH candidate pair, the
    * minhash ESTIMATE of Jaccard (fraction of the 32 minima that
    * agree) against the exact shingle-set Jaccard, plus the absolute
    * error — the calibration loop that justifies the (bands, rows)
    * choice before a 100 TB dedup run (the dedup-family twin of
    * [[Similarity.annIvfRecall]]).
    *
    * Scale shape: ONE signature pass (localCheckpoint'ed — banding and
    * both pair sides reuse it), the CAPPED bucket equi self-join for
    * candidates (through [[capHotKeys]] with the production paths'
    * default, mirrored in the oracle, so a viral bucket of
    * mass-identical docs cannot make the calibrator quadratic in that
    * bucket), then doc-keyed joins; est/exact/err are
    * exact-integer or identical-IEEE arithmetic, so the evaluator
    * itself is oracle-checkable. */
  def minhashEstimationError(spark: SparkSession, sfDir: String,
      maxBucketSize: Int = 1024): DataFrame = {
    val sig = minhashSignatures(spark, sfDir).localCheckpoint()
    // banding is a cheap projection over the signature checkpoint, so
    // the census + anti-join inside the cap re-read the stored rows,
    // not the signature derivation — no extra checkpoint needed
    val buckets = capHotKeys(bandSignature(sig), Seq("band", "bucket"), maxBucketSize)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
      .localCheckpoint(eager = false) // verify join + the shingle semi-join
    val s1 = sig.select(col("doc_id").as("doc1") +:
      (0 until MinhashPerm).map(i => col(s"m$i").as(s"a$i")): _*)
    val s2 = sig.select(col("doc_id").as("doc2") +:
      (0 until MinhashPerm).map(i => col(s"m$i").as(s"b$i")): _*)
    val nEq = (0 until MinhashPerm).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    val docs = candidateShingles(spark, sfDir, cand, "doc1", "doc2")
    val est = col("n_equal").cast("double") / MinhashPerm
    val exact = size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
      size(array_union(col("sh1"), col("sh2")))
    cand.join(s1, "doc1").join(s2, "doc2")
      .withColumn("n_equal", nEq)
      .join(docs.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
      .join(docs.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
      .select(col("doc1"), col("doc2"), col("n_equal"),
        PortableRound.pround(est, 4).as("est_jaccard"),
        PortableRound.pround(exact, 4).as("jaccard"),
        PortableRound.pround(abs(est - exact), 4).as("abs_err"))
  }

  /** B-BIT MINWISE HASHING evaluation (Li & König 2010) — the
    * signature-compression calibrator next to
    * [[minhashEstimationError]]: keeping only the lowest `bBits` of
    * each of the 32 minima shrinks a stored signature 32/b-fold
    * (2048 → 128 bits at b = 4 — the difference between a dedup index
    * that fits executor memory at 100 TB and one that doesn't), at
    * the price of accidental low-bit collisions. The unbiased
    * estimator corrects for them exactly:
    *   Ĵ = (M − C)/(1 − C),  M = match fraction, C = 2^−b
    * which in integers is `(n_match·2^b − 32) DIV (32·(2^b − 1))` —
    * a plain signed ratio in milli-units (sign-safe DIV on both
    * engines: a pair can match FEWER than the 32·C expected chance
    * collisions, making the estimate legitimately negative). Reported
    * per LSH candidate pair side-by-side with the full-width estimate
    * and the exact shingle Jaccard, so the b-vs-error trade is a
    * queryable table, not a paper citation.
    *
    * Scale shape: identical to [[minhashEstimationError]] — one
    * checkpointed signature pass, the capped bucket equi self-join
    * for candidates (through [[capHotKeys]], the cap mirrored in the
    * oracle as for the est-err calibrator), doc-keyed joins; every
    * emitted number is an exact integer, so aggregation order is
    * irrelevant. */
  def minhashBbitError(spark: SparkSession, sfDir: String,
      bBits: Int = 4, maxBucketSize: Int = 1024): DataFrame = {
    val sig = minhashSignatures(spark, sfDir).localCheckpoint()
    val buckets = capHotKeys(bandSignature(sig), Seq("band", "bucket"), maxBucketSize)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
      .localCheckpoint(eager = false) // verify join + the shingle semi-join
    val s1 = sig.select(col("doc_id").as("doc1") +:
      (0 until MinhashPerm).map(i => col(s"m$i").as(s"a$i")): _*)
    val s2 = sig.select(col("doc_id").as("doc2") +:
      (0 until MinhashPerm).map(i => col(s"m$i").as(s"b$i")): _*)
    val twoB = 1L << bBits
    // the minima are nonnegative (% 2147483647 of nonnegative hashes),
    // so % 2^b is the low-bit mask on both engines
    val nEqFull = (0 until MinhashPerm).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    val nEqB = (0 until MinhashPerm).map(i =>
      when(col(s"a$i") % twoB === col(s"b$i") % twoB, 1L).otherwise(0L))
      .reduce(_ + _)
    val docs = candidateShingles(spark, sfDir, cand, "doc1", "doc2")
    cand.join(s1, "doc1").join(s2, "doc2")
      .withColumn("n_equal_full", nEqFull)
      .withColumn("n_equal_bbit", nEqB)
      .join(docs.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
      .join(docs.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
      .withColumn("n_int", size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("n_uni", size(array_union(col("sh1"), col("sh2"))).cast("long"))
      .select(col("doc1"), col("doc2"), col("n_equal_full"), col("n_equal_bbit"),
        expr(s"(1000 * n_equal_full) DIV $MinhashPerm").as("est_full_milli"),
        expr(s"""CASE WHEN n_equal_bbit * $twoB >= $MinhashPerm
                 THEN (1000 * (n_equal_bbit * $twoB - $MinhashPerm)) DIV (${MinhashPerm * (twoB - 1)})
                 ELSE -((1000 * ($MinhashPerm - n_equal_bbit * $twoB)) DIV (${MinhashPerm * (twoB - 1)})) END""")
          .as("est_bbit_milli"),
        expr("(1000 * n_int) DIV n_uni").as("jaccard_milli"))
      .withColumn("err_full_milli", abs(col("est_full_milli") - col("jaccard_milli")))
      .withColumn("err_bbit_milli", abs(col("est_bbit_milli") - col("jaccard_milli")))
  }

  /** LSH BAND-CONFIGURATION ADVISOR — the S-curve analysis every
    * MinHash deployment does before burning a cluster-day on the wrong
    * (bands, rows) choice: for each way of splitting the 32
    * permutations into b bands × r rows, the probability a pair with
    * Jaccard s lands in ≥1 shared bucket is 1 − (1 − s^r)^b. Evaluated
    * over the OBSERVED candidate-pair similarity sample (the
    * [[minhashEstimationError]] calibration table, exact Jaccard side),
    * it reports per config the expected duplicate catches vs the
    * expected false-candidate mass — recall/precision knobs made
    * auditable, like [[graft.operators.Skew.skewAdvisor]] for salting.
    *
    * Engine-portable math: s^r and (1−s^r)^b are REPEATED SQUARING
    * chains (b, r are powers of two), so both engines multiply in the
    * identical IEEE order — no libm `pow`, whose last-ulp differences
    * across engines the verify notes warn about. Per-pair
    * probabilities then round to exact integer MICRO-units before the
    * cross-pair sum, so aggregation order cannot perturb the result.
    *
    * Scale: the calibration sample is candidate-pair-sized (bounded by
    * the capped bucket join); the 6-config sweep re-reads the
    * checkpointed sample, never the corpus; output is 6 rows. */
  def lshConfigAdvisor(spark: SparkSession, sfDir: String,
      dupThreshold: Double = 0.5): DataFrame = {
    val pairs = minhashEstimationError(spark, sfDir)
      .select(col("jaccard")).localCheckpoint(eager = false)
    def squareChain(c: Column, e: Int): Column = {
      var acc = c; var k = 1
      while (k < e) { acc = acc * acc; k *= 2 }
      acc
    }
    val configs = Seq(32 -> 1, 16 -> 2, 8 -> 4, 4 -> 8, 2 -> 16, 1 -> 32)
    configs.map { case (b, r) =>
      val p = lit(1.0) - squareChain(lit(1.0) - squareChain(col("jaccard"), r), b)
      val pm = floor(p * 1000000 + 0.5).cast("long")
      val isDup = col("jaccard") >= dupThreshold
      pairs.select(
          when(isDup, pm).otherwise(lit(0L)).as("dupm"),
          when(isDup, lit(0L)).otherwise(pm).as("cleanm"),
          when(isDup, 1L).otherwise(0L).as("isdup"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("isdup")).as("n_dup_pairs"),
          coalesce(sum(col("dupm")), lit(0L)).as("exp_dup_caught_micro"),
          coalesce(sum(col("cleanm")), lit(0L)).as("exp_clean_caught_micro"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("n_pairs"), col("n_dup_pairs"),
          col("exp_dup_caught_micro"), col("exp_clean_caught_micro"),
          when(col("n_dup_pairs") > 0, PortableRound.pround(
            col("exp_dup_caught_micro").cast("double") /
              (col("n_dup_pairs") * 1000000.0), 4)).otherwise(0.0)
            .as("expected_recall"))
    }.reduce(_ unionByName _)
  }

  // --- SimHash ----------------------------------------------------------

  val SimhashBits = 48 // width of the portable md5-derived word hash

  /** 48-bit SimHash from the engine-portable word hash
    * ([[graft.functions.PortableHash]] — oracle-replicable, unlike
    * xxhash64). Two-level aggregation:
    *   1. `(doc_id, word_hash) → count` — shrinks the bit-vote input by
    *      the word-repeat factor and hashes each distinct (doc, word)
    *      once (was the bench hotspot: 48-64 conditional aggregates over
    *      every word occurrence);
    *   2. 48 conditional vote sums weighted by count — codegen'd partial
    *      aggregates, single logical shuffle on doc_id (level 1's
    *      (doc_id, h) shuffle co-partitions level 2 by prefix).
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("doc_id"), graft.functions.PortableHash.md5Hash48(col("w")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val bitVotes = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$b")
    }
    val votes = counts.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
    val sim = (0 until SimhashBits).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("doc_id"), sim.as("simhash"))
  }

  /** Connected components — one representative per transitive near-dup
    * CLUSTER, the standard final step of a near-dup pipeline
    * (candidate PAIRS are not enough).
    *
    * Min-label PROPAGATION (each round every node takes the min label
    * over its neighborhood) needs as many rounds as the graph DIAMETER:
    * the 8-plane sf1 LSH graph (8,559 edges / 20,000 nodes, one
    * 1,087-node sparse component) needs 21, past a 20-round bound. A
    * pointer-jump step (`cluster ← labels[cluster]`) does NOT fix the
    * asymptotics: the component minimum still has to travel the graph
    * one EDGE per round — jump targets are nodes that haven't heard
    * the true min yet, so the front advances linearly no matter how
    * labels are compressed.
    *
    * This uses the formulation whose round count is provably
    * O(log n) INDEPENDENT of diameter — alternating large-star/
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"), which rewires EDGES each round so the
    * graph itself shrinks instead of waiting for labels to flow
    * through it. The engine already carries the proven implementation
    * ([[graft.operators.GraphOps.connectedComponentsStar]] — sf1
    * oracle-gated); this delegates to it rather than keeping a
    * diameter-bound variant as a production default. Each round is
    * two (node)-keyed equi-join + min-aggregate passes — the same
    * shuffle shape as one propagation round — and non-convergence
    * throws instead of emitting wrong labels.
    *
    * `nodes` = single id column; `edges` = (id1, id2) undirected;
    * singletons keep their own id as cluster. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame =
    GraphOps.connectedComponentsStar(nodes, edges, nodes.columns.head, maxIter)

  /** Near-dup cluster labels over the verified LSH pair graph
    * (the production two-stage path: bucket candidates → exact cosine →
    * transitive clusters). Singletons keep their own id as cluster. */
  def clusterLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    val edges = Similarity.lshPairsMaterialized(spark, sfDir)
      .select(col("id1"), col("id2"))
    connectedComponents(nodes, edges)
  }

  /** CLUSTER CENSUS — the dedup-pathology audit run before trusting
    * any clustering-based removal: the near-dup cluster SIZE
    * distribution (how many clusters of each size, the duplicate
    * overhead each size class contributes, an example label to drill
    * into). The signal that matters at 100 TB is the tail: a
    * mega-cluster means a degenerate blocking key (empty docs,
    * boilerplate shingles) and keep-one-per-cluster would silently
    * delete a huge slice of the corpus.
    *
    * Scale: two map-side-combined counts on top of the already-bounded
    * cluster labels (per-cluster size, then per-size census) — output
    * is size-class-sized, never corpus-sized. */
  def clusterCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = clusterLabels(spark, sfDir)
      .groupBy(col("cluster")).agg(count(lit(1)).as("size"))
    sizes.groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"),
        min(col("cluster")).as("example_cluster"))
      .select(col("size"), col("n_clusters"), col("example_cluster"),
        (col("size") * col("n_clusters")).as("n_vectors"),
        (col("size") * col("n_clusters") - col("n_clusters"))
          .as("dup_overhead"))
  }

  /** Cluster-representative selection, keep-BEST: within each near-dup
    * cluster ([[clusterLabels]]) keep the member whose paired document
    * scores highest on the Gopher/C4 quality gate
    * ([[TextAnalysis.qualityScore]]), tie-broken by smallest id — the
    * release-pass refinement over keep-first, which discards quality
    * information and can ship the worst copy of a duplicated page
    * (`vec_id` pairs 1:1 with `doc_id` in the testdata). Emits one row
    * per cluster with the kept member and the drop census.
    *
    * Scale: the cluster labels are the expensive part and are already
    * bucketed/bounded (see [[connectedComponents]]); this pass adds one
    * id-keyed equi-join (quality rides the same row, no extra scan of
    * text) and one window PARTITIONED BY cluster — no global sort, no
    * driver collect. Cluster sizes are near-dup classes (small by
    * construction after LSH verification), so the per-partition window
    * state is bounded. */
  def keepBestRepresentative(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = clusterLabels(spark, sfDir)
    val quality = TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id").as("vec_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality_score").desc, col("vec_id"))
    labels.join(quality, Seq("vec_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cluster"))
      .agg(max(when(col("rn") === 1, col("vec_id"))).as("kept_id"),
        max(when(col("rn") === 1, col("quality_score"))).as("kept_quality"),
        count(lit(1)).as("n_members"))
      .withColumn("n_dropped", col("n_members") - 1)
  }

  /** SimHash near-dup candidates: equal 16-bit bands (standard hamming
    * blocking: 48 bits / 3 bands — distance ≤ 2 guarantees a band equal). */
  def simhashCandidates(spark: SparkSession, sfDir: String,
      maxBucketSize: Int = 1024): DataFrame = {
    val sims = simhash(spark, sfDir)
    // localCheckpoint: both self-join sides read the materialized
    // (doc, band, bucket) rows — 3 rows/doc — so the simhash
    // aggregation pipeline runs ONCE, not once per side (at sf0.1 the
    // warm win is modest, ~1.6 -> 1.5 s — cold is codegen-compile
    // dominated — but at 100 TB it halves the corpus passes)
    val allBanded = sims.select(col("doc_id"), posexplode(array((0 until 3).map(b =>
      shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
      .localCheckpoint()
    // same cap-and-alert as the minhash LSH path: a viral simhash band
    // (near-identical boilerplate corpus slice) would make this
    // self-join O(cluster²); [[oversizedBuckets]] reports what was cut
    val banded = capHotKeys(allBanded, Seq("band", "bucket"), maxBucketSize)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
  }

  /** Global repeated-chunk removal — the sub-document dedup pass
    * (RefinedWeb/CCNet-style "drop duplicated lines across the
    * corpus"): texts are cut into fixed-width word chunks (the
    * separator-free stand-in for lines — real corpora would split on
    * '\n'), any chunk appearing in ≥ `minDocs` DISTINCT documents is
    * corpus-boilerplate, and every document is re-assembled from its
    * surviving chunks in original order. Documents whose every chunk
    * is boilerplate drop out entirely (a pure-header/footer page).
    *
    * Scale shape (100 TB):
    *  - chunking is a narrow codegen'd projection + posexplode;
    *  - the boilerplate census is ONE (chunk)-keyed aggregate with
    *    map-side combine, using the SATURATING
    *    [[graft.plans.DistinctUpTo]] counter: per-chunk state is at
    *    most `minDocs` doc ids (a built-in `count_distinct` would
    *    instead shuffle and hold the full posting list of a viral
    *    chunk), and the chunk key space is what shuffles, not doc
    *    pairs;
    *  - the removal is a LEFT ANTI equi-join on the chunk key;
    *  - re-assembly shuffles (doc_id)-keyed rows once —
    *    `array_sort(collect_list(struct(pos, chunk)))` restores order
    *    without a window. */
  def chunksGlobal(spark: SparkSession, sfDir: String,
      width: Int = 4, minDocs: Int = 2): DataFrame = {
    val words = split(col("text"), " ")
    val nChunks = ceil(size(words).cast("double") / width).cast("int")
    val chunks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(words, i * width + 1, lit(width)), " ")))
          .as(Seq("pos", "chunk")))
    graft.plans.BoundedAggregates.register(spark)
    val boilerplate = chunks
      .groupBy(col("chunk"))
      .agg(expr(s"distinct_up_to(doc_id, $minDocs)").as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("chunk"))
    val perDoc = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    chunks.join(boilerplate, Seq("chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          s => s.getField("chunk")), " ").as("clean_text"))
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("clean_text"))
  }

  /** Near-dup candidate pairs by SHARED WINNOWING FINGERPRINTS: the
    * overlap join MOSS runs downstream of
    * [[TextAnalysis.winnowFingerprints]]. Because winnowing keeps only
    * ~2/(w+1) of the grams yet guarantees a shared fingerprint for any
    * match of length ≥ w+2 words, this is the same blocked self-join
    * as [[ngramJaccardTopPairs]] over a ~2.5x smaller key space with
    * the same detection floor for long matches.
    *
    * Scale notes: fingerprint rows are checkpointed once (both join
    * sides read the materialized rows — the winnow pipeline behind
    * them is an explode + window); the self-join is hinted
    * `shuffle_merge` (broadcasting a corpus-sized side twice is the
    * trap, see [[ngramJaccardTopPairs]]); hot fingerprints (boilerplate
    * grams) are capped via `maxFpFreq` with [[oversizedKeys]] as the
    * alert channel — same treatment in every blocked self-join here.
    * Deterministic: (n_shared desc, id1, id2) top-k. */
  def winnowSharedPairs(spark: SparkSession, sfDir: String,
      minShared: Int = 3, k: Int = 20): DataFrame =
    (if (minShared == 3) winnowEdgesMaterialized(spark, sfDir)
     else winnowSharedPairsAll(spark, sfDir, minShared))
      .orderBy(col("n_shared").desc, col("id1"), col("id2")).limit(k)

  /** The full (un-limited) shared-fingerprint pair set — the near-dup
    * EDGE LIST consumed by [[winnowSharedPairs]] (reporting top-k) and
    * [[graft.operators.GraphOps.pagerankNearDup]] (graph analytics). */
  def winnowSharedPairsAll(spark: SparkSession, sfDir: String,
      minShared: Int = 3, maxFpFreq: Int = 4096,
      docIdModulus: Int = 1, docIdResidue: Int = 0): DataFrame = {
    // the slice predicate sits BELOW the gram explode/window: a 1/m
    // calibration slice pays 1/m of the fingerprint scan, not just a
    // post-hoc filter over full-corpus fingerprints
    val docs = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(docIdModulus.toLong)) === docIdResidue.toLong)
    val allFp = graft.operators.TextAnalysis.winnowDocFps(docs, 4)
      .localCheckpoint()
    // hot-fingerprint cap (license headers, site chrome): identical
    // cap-and-alert as the minhash/simhash/ngram paths — a fingerprint
    // in > maxFpFreq docs is dropped from candidate generation before
    // it fans out O(f²); [[oversizedKeys]] surfaces the drops
    val fp = capHotKeys(allFp, Seq("fp_hash"), maxFpFreq)
    val a = fp.select(col("fp_hash"), col("doc_id").as("id1"))
    val b = fp.select(col("fp_hash").as("h2"), col("doc_id").as("id2"))
    a.join(b.hint("shuffle_merge"),
        col("fp_hash") === col("h2") && col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** BUILD-ONCE near-dup edge list — the materialized table the whole
    * graph-analytics family ([[graft.operators.GraphOps]]) and the
    * downstream dedup verifiers consume, instead of each query
    * re-deriving the winnow shingle census.
    *
    * Per (application, sfDir) the default-parameter
    * [[winnowSharedPairsAll]] runs EXACTLY ONCE: the result is eagerly
    * `localCheckpoint`ed (materialized to executor block storage,
    * lineage truncated) and memoized, so every later consumer's plan
    * starts from a `LogicalRDD` scan of the stored rows — the explode +
    * window + self-join behind the edge list never re-executes
    * (GraphEdgesSpec pins both the instance reuse and the plan shape).
    *
    * At 100 TB this is a bucketed table: `CREATE TABLE winnow_edges
    * ... CLUSTERED BY (id1)` written by the `graph_edges_build` job and
    * refreshed incrementally (the [[dedup_incremental]] delta shape),
    * with each graph query reading the table instead of holding
    * executor-local checkpoint blocks. `localCheckpoint` is the
    * single-JVM stand-in with the same two properties that matter:
    * compute-once and lineage truncation. Memoization, racing, and
    * eviction live in [[BuildOnce]] (keyed by applicationId so a
    * DataFrame bound to a stopped session can never leak into a later
    * one, and evicted when the application ends). */
  val EdgesFamily = "winnow_edges"
  def winnowEdgesMaterialized(spark: SparkSession, sfDir: String): DataFrame =
    BuildOnce.get(spark, EdgesFamily, sfDir)(
      BuildOnce.sized(winnowSharedPairsAll(spark, sfDir)))

  /** Winnow-candidate CALIBRATION — the evaluation harness that
    * justifies replacing the exact shingle-Jaccard join with the
    * winnowed one (same pattern as the minhash estimation-error and
    * IVF-recall evaluators): exact ground truth = pairs with shingle
    * Jaccard ≥ 35% (integer cross-multiplied test, no float), candidates
    * = [[winnowSharedPairsAll]]; reports hit counts and micro-unit
    * recall/precision in ONE summary row.
    *
    * Scale notes: both pair sets are the already-audited blocked
    * self-joins (shingle-keyed / fingerprint-keyed, checkpointed
    * inputs); the comparison is a (id1, id2)-keyed full outer join and
    * a single global aggregate — no collect, no cross product.
    *
    * EVALUATION HARNESS, NOT A PRODUCTION PATH (same label as
    * [[Similarity.cosineThresholdPairs]]): the truth side's exact
    * shingle-Jaccard join is only tractable at calibration scale — a
    * stop-shingle shared by f docs contributes f² join rows, and
    * unlike every other blocked self-join here the truth side
    * deliberately carries NO hot-key cap (capping would bias the
    * ground truth the harness exists to measure). The scale escape
    * hatch is the SAMPLING KNOB: `docIdModulus`/`docIdResidue`
    * restrict BOTH sides to the calibration slice
    * `doc_id ≡ residue (mod m)` — the whole eval then runs on the
    * sub-corpus, shrinking the per-shingle fan-out by (1/m)² — the
    * same way the decontamination harness picks its eval set. The
    * slice truth is EXACTLY the full truth restricted to in-slice
    * pairs (pinned in DedupSpec: Jaccard is a per-pair statistic, so
    * dropping other docs cannot change it); calibrate (w, k,
    * minShared) on the slice, then production runs ONLY the winnowed
    * candidate side, whose fingerprints are sparse by construction.
    * Default (1, 0) = the full corpus, for the small-SF oracle row. */
  def winnowRecallEval(spark: SparkSession, sfDir: String,
      jacPct: Int = 35, minShared: Int = 3,
      docIdModulus: Int = 1, docIdResidue: Int = 0): DataFrame = {
    val truth = winnowTruthPairs(spark, sfDir, jacPct, docIdModulus, docIdResidue)
      .select(col("id1"), col("id2"), lit(1L).as("in_truth"))
    val cand = winnowSharedPairsAll(spark, sfDir, minShared,
        docIdModulus = docIdModulus, docIdResidue = docIdResidue)
      .select(col("id1"), col("id2"), lit(1L).as("in_cand"))
    truth.join(cand, Seq("id1", "id2"), "full_outer")
      .agg(
        sum(coalesce(col("in_truth"), lit(0L))).as("n_truth"),
        sum(coalesce(col("in_cand"), lit(0L))).as("n_cand"),
        sum(when(col("in_truth") === 1L && col("in_cand") === 1L, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        expr("(n_hit * 1000000) DIV n_truth").as("recall_micro"),
        expr("(n_hit * 1000000) DIV n_cand").as("precision_micro"))
  }

  /** CONTAINMENT dedup — the asymmetric cousin of Jaccard that
    * training pipelines need for doc-IN-doc duplication: a short
    * document quoted wholesale inside a long one has tiny Jaccard
    * (the union is dominated by the long doc) but containment ≈ 1.
    * Score = shared_shingles / min(|A|, |B|) in exact micro-units
    * (integer DIV, no float), thresholded and top-k ranked with a
    * total-order boundary (containment desc, id1, id2).
    *
    * Scale: identical blocked-self-join shape to the Jaccard path —
    * shingle-keyed equi-join (never the pair space) with the
    * [[capHotKeys]] hot-shingle cap + [[oversizedKeys]] alert channel;
    * denominators are computed BEFORE the cap so the score stays true
    * (the cap only prunes candidate generation, and like the ngram
    * path the default cap is far above any test-SF shingle so the
    * declared oracle is unaffected). */
  def containmentPairs(spark: SparkSession, sfDir: String,
      pct: Int = 70, k: Int = 50, maxShingleFreq: Int = 4096): DataFrame = {
    val sh = withShingles(Tables.documents(spark, sfDir))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
        explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    val capped = capHotKeys(sh, Seq("s"), maxShingleFreq)
    val a = capped.select(col("s"), col("doc_id").as("id1"), col("n_sh").as("n1"))
    val b = capped.select(col("s").as("s2"), col("doc_id").as("id2"),
      col("n_sh").as("n2"))
    a.join(b.hint("shuffle_merge"),
        col("s") === col("s2") && col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .withColumn("containment_micro",
        expr("(shared * 1000000) DIV least(n1, n2)"))
      .filter(col("containment_micro") >= pct * 10000L)
      .orderBy(col("containment_micro").desc, col("id1"), col("id2")).limit(k)
  }

  /** Duplicated-SUBSTRING span statistics (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): the
    * per-document removal statistic behind exact-substring dedup —
    * every n-token sliding window is hashed, windows whose content
    * appears more than once ANYWHERE in the corpus are "duplicated",
    * and each document reports its duplicated-window count and the
    * fraction of its token positions covered by at least one
    * duplicated span (exact integer micro-units). A doc near 100%
    * coverage is a verbatim copy; mid-range coverage is boilerplate
    * to strip before training.
    *
    * Scale: NO self-join anywhere — the window table groups by
    * content hash (map-side combined; Heaps' law bounds distinct
    * windows) and repeated hashes join BACK to the window table
    * equi-keyed, so a boilerplate span shared by f docs costs f rows,
    * never f². The duplicated subset is checkpointed once for its two
    * consumers (window count + coverage explode); the coverage
    * explode (×n) runs over duplicated windows only. The window table
    * itself is recomputed per consumer rather than materialized — at
    * corpus scale the token-stream-sized intermediate is the thing
    * you must NOT persist. */
  def substringSpanStats(spark: SparkSession, sfDir: String,
      n: Int = 20, k: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .filter(col("n_tokens") >= n)
    val wins = docs
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(1), size(col("w")) - (n - 1))).as("i"), col("w"))
      .withColumn("h", graft.functions.PortableHash.md5Hash48(
        concat_ws(" ", slice(col("w"), col("i"), lit(n)))))
      .drop("w")
    val repeated = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("h"))
    val dup = wins.join(repeated, "h")
      .select(col("doc_id"), col("n_tokens"), col("i"))
      .localCheckpoint(eager = false)
    val perDoc = dup.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_dup_windows"))
    val covered = dup
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("covered"))
    perDoc.join(covered, "doc_id")
      .withColumn("covered_pct_micro", expr("(covered * 1000000) DIV n_tokens"))
      .orderBy(col("covered_pct_micro").desc, col("doc_id")).limit(k)
  }

  /** The exact shingle-Jaccard ground-truth pair set behind
    * [[winnowRecallEval]] — (id1, id2) with Jaccard ≥ `jacPct`%
    * (integer cross-multiplied test, no float), optionally restricted
    * to the `doc_id ≡ residue (mod m)` calibration slice. Uncapped BY
    * DESIGN (see the eval's docstring); the slice knob is what makes
    * it runnable at scale. */
  def winnowTruthPairs(spark: SparkSession, sfDir: String,
      jacPct: Int = 35, docIdModulus: Int = 1, docIdResidue: Int = 0): DataFrame = {
    val sh = withShingles(Tables.documents(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(docIdModulus.toLong)) === docIdResidue.toLong))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
        explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
      .localCheckpoint()
    val a = sh.select(col("s"), col("doc_id").as("id1"), col("n_sh").as("n1"))
    val b = sh.select(col("s").as("s2"), col("doc_id").as("id2"), col("n_sh").as("n2"))
    a.join(b.hint("shuffle_merge"),
        col("s") === col("s2") && col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"), max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .filter(col("shared") * 100 >= lit(jacPct) * (col("n1") + col("n2") - col("shared")))
      .select(col("id1"), col("id2"))
  }

  /** Fuzzy duplicate neighbors (edit distance ≤ 1) via FastSS
    * deletion-neighborhood blocking (Bocek et al. 2007): every string
    * emits itself plus each single-character deletion; two strings
    * within edit distance 1 necessarily SHARE a variant (substitution →
    * both drop the differing position; insert/delete → the longer drops
    * the extra char and meets the shorter's identity variant), so the
    * candidate join is a (variant) EQUI self-join — never the O(n²)
    * all-pairs Levenshtein. Shared variants can still join strings at
    * distance 2 (different deletions landing on the same string), so
    * candidates are verified with the real `levenshtein` — the same
    * two-stage candidates→verify shape as [[Similarity.lshVerifiedPairs]].
    *
    * Scale notes: the variant key space is Σ|s| per row (bounded by
    * string length); per-row duplicate variants (runs of equal chars)
    * collapse with array_distinct before the explode; the verify runs
    * BEFORE the candidate DISTINCT — the check is the O(n) codegen'd
    * [[graft.plans.EditWithin1]] two-pointer scan (not the O(n²)
    * `levenshtein` DP), so rejecting a duplicated candidate is cheaper
    * than shuffling it into the distinct. Run here over customer
    * names, whose numbered structure is dense in distance-1 pairs;
    * output aggregates to one row per left id. */
  def fuzzyNeighbors(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.EditWithin1.register(spark)
    val cust = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
    val n = length(col("c_name"))
    val variants = array_distinct(concat(
      array(col("c_name")),
      transform(sequence(lit(1), n), i =>
        concat(col("c_name").substr(lit(1), i - 1), col("c_name").substr(i + 1, n)))))
    // localCheckpoint: BOTH self-join sides read the materialized
    // variant rows instead of re-running the interpreted deletion-
    // variant transform per side (measured 2.7 -> 1.7 s at sf0.1; the
    // materialization is O(Σ|s|) rows, the same size the join shuffles)
    val v = cust.select(col("c_custkey"), col("c_name"), explode(variants).as("variant"))
      .localCheckpoint()
    val a = v.select(col("variant"), col("c_custkey").as("id1"), col("c_name").as("name1"))
    val b = v.select(col("variant").as("v2"), col("c_custkey").as("id2"), col("c_name").as("name2"))
    a.join(b, col("variant") === col("v2") && col("id1") < col("id2"))
      .filter(call_function("edit_within1", col("name1"), col("name2")))
      .select(col("id1"), col("id2"), col("name1"), col("name2")).distinct()
      .groupBy(col("id1"))
      .agg(count(lit(1)).as("n_matches"), min(col("id2")).as("min_id2"))
  }

  /** Largest estimated batch-side size (raw corpus bytes / batchMod)
    * for which [[prefixJaccardPairs]] broadcasts its prefix index. */
  private val PpjBroadcastMaxBytes: Long = 512L << 20

  /** EXACT set-similarity screen with PPJoin-style PREFIX FILTERING —
    * the deterministic sibling of the MinHash path: same Jaccard≥t
    * semantics, zero probabilistic recall loss, subquadratic by
    * construction (Chaudhuri/Ganti/Kaushik's SSJoin prefix principle).
    * Shaped as the production task: screen an incoming BATCH (here the
    * `doc_id % 20 == 0` slice, the decontaminate harness's split
    * trick) against the standing corpus, so work scales with the batch
    * — an all-pairs self-join on a near-duplicate-saturated corpus has
    * inherently quadratic OUTPUT and no algorithm saves it (measured:
    * this corpus holds 9k true pairs at t=0.9 among 500 docs).
    *
    * Per doc, distinct tokens sort RAREST-FIRST by (global doc-freq,
    * token); a pair with `|A∩B|/|A∪B| ≥ t` must share a token within
    * the first `n − ⌈t·n⌉ + 1` of each side, so candidates come from an
    * equi-join on PREFIX tokens only — the inverted index over rare
    * tokens; stop words (the f² blowup keys of the naive index join)
    * almost never make a prefix. Each candidate is verified with the
    * exact integer cross-multiplication `(tDen+tNum)·shared ≥
    * tNum·(n1+n2)` (⟺ Jaccard ≥ tNum/tDen). No floats anywhere.
    *
    * Because the filter is LOSSLESS, the DuckDB oracle is the plain
    * brute-force inverted-index Jaccard join over the same split — the
    * gate proves the prefix plan returns byte-identical results to the
    * exhaustive one.
    *
    * Scale: one token-census shuffle (map-side combined), one doc-keyed
    * window for the prefix rank, one equi-join keyed by rare prefix
    * tokens with the PPJoin positional bound pruning pairs at the
    * candidate groupBy, then two doc-keyed joins attaching packed
    * hashed-token sets (built only for docs that SURVIVE the filters,
    * via a semi-join on the candidate ids) for the in-row intersect —
    * shuffles scale with corpus + batch·avg_doc_len and surviving
    * candidates, never the raw pair space or whole-corpus token mass. */
  def prefixJaccardPairs(spark: SparkSession, sfDir: String,
      tNum: Int = 9, tDen: Int = 10, batchMod: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The whole screen runs on the HASHED-token domain: tokens become
    // portable 48-bit hashes IN-ROW (array_distinct before the explode
    // keeps set semantics without a dedup shuffle),
    // so the verify arrays carry longs instead of raw strings — ~8×
    // narrower packed rows at prose-length tokens. Set identity is all
    // the prefix theory and the intersect need, so every bound holds
    // verbatim on hash sets; a 48-bit collision inside one pair's
    // union (< |A|·|B|·2⁻⁴⁸ — never at any gated corpus) would only
    // merge two tokens on BOTH engines, since the oracle mirrors the
    // same hash before counting.
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(array_distinct(
        transform(filter(split(col("text"), " "), w => w =!= ""),
          w => graft.functions.PortableHash.md5Hash48(w)))).as("w"))
      .localCheckpoint() // consumed by census, prefix AND the packed-set build
    val n = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // prefix length for Jaccard t: n - ceil(t*n) + 1 (exact integer
    // ceil via DIV — Column./ would be double division)
    val prefixLen = col("n") - expr(s"(n * $tNum + ${tDen - 1}) DIV $tDen") + 1
    val ranked = tok.join(freq, "w").join(n, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("w"))))
      .filter(col("rk") <= prefixLen)
      .select(col("w"), col("doc_id"), col("n"), col("rk"))
    val a = ranked.filter(col("doc_id") % batchMod === 0)
      .select(col("w"), col("doc_id").as("id1"), col("n").as("n1"),
        col("rk").as("rk1"))
    val b = ranked.filter(col("doc_id") % batchMod =!= 0)
      .select(col("w").as("w2"), col("doc_id").as("id2"), col("n").as("n2"),
        col("rk").as("rk2"))
    // LENGTH filter rides the candidate join: J ≥ t forces
    // t·n1 ≤ n2 ≤ n1/t, an exact integer band that prunes candidates
    // before the (far costlier) verify join sees them
    //
    // POSITIONAL filter (PPJoin proper): the prefix ranks sort by
    // a GLOBAL (df, token) order, so any common token ordered before a
    // both-prefix match is itself a both-prefix match — at the pair's
    // FIRST observed match no common token precedes it, giving the
    // lossless bound  |A∩B| ≤ 1 + min(n1 − rk1, n2 − rk2).  The
    // max of that bound over the pair's matches dominates the
    // first-match bound, so  max_ub·(tDen+tNum) < tNum·(n1+n2)  prunes
    // the pair before the verify join ever sees it (set-based
    // equivalent of PPJoin's sequential accumulator filter; the
    // groupBy replaces the old distinct() — same shuffle, more work
    // pruned). Losslessness is what keeps the brute-force oracle valid.
    // the batch-side prefix index is |batch|·prefix_len rows — tiny by
    // the operator's own framing (screen a daily batch against the
    // corpus) — so BROADCAST it: the candidate join becomes a
    // shuffle-free broadcast-hash scan of the corpus prefixes, and the
    // plan stops flip-flopping between strategies on a degenerate
    // near-boundary corpus (the uniform 31-word sf1 fixture measured
    // bimodal 25–179 s under AQE's choice; broadcast pins it).
    // SIZE-GATED: the batch grows linearly with the corpus
    // (doc_id % batchMod), so an unconditional hint would ship a
    // hundreds-of-GB relation at 100 TB and OOM past AQE's checks.
    // Gate on the scan-stats estimate of the batch's share of the raw
    // corpus bytes — the prefix index is strictly narrower than the
    // text it came from (≤ ~1/t of the distinct tokens, hashed to
    // longs), so raw-bytes/batchMod bounds it from above; the estimate
    // reads parquet footer stats only (no extra job). Above the
    // threshold the hint is dropped and AQE picks the strategy.
    val batchBytesUb = Tables.documents(spark, sfDir)
      .queryExecution.optimizedPlan.stats.sizeInBytes / batchMod
    val aSide = if (batchBytesUb <= PpjBroadcastMaxBytes) broadcast(a) else a
    val candidates = aSide.join(b, col("w") === col("w2") &&
        col("n2") * tDen >= col("n1") * tNum &&
        col("n1") * tDen >= col("n2") * tNum)
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(max(least(col("n1") - col("rk1"), col("n2") - col("rk2")) + 1)
        .as("max_ub"))
      .filter(col("max_ub") * (tDen + tNum) >= lit(tNum) * (col("n1") + col("n2")))
      .select(col("id1"), col("id2"), col("n1"), col("n2"))
      .localCheckpoint(eager = false) // semi-join probe + final verify join
    // exact verify on PACKED hashed-token sets: each surviving
    // candidate joins the per-doc distinct-hash ARRAY once per side and
    // counts the intersection in-row (codegen array_intersect) — the
    // same n1 + n2 set elements per candidate move through the shuffle
    // as before, but packed in 2 rows of longs instead of exploded
    // string rows through two joins and a re-shuffle groupBy. The
    // packed build is SEMI-JOINED to the docs that actually survive the
    // positional filter, so verify storage is bounded by the surviving
    // candidates, not by whole-corpus token mass.
    val candIds = candidates.select(col("id1").as("doc_id"))
      .unionByName(candidates.select(col("id2").as("doc_id"))).distinct()
    val sets = tok.join(candIds, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("w")).as("ws"))
      .localCheckpoint(eager = false) // both verify sides
    candidates
      .join(sets.select(col("doc_id").as("id1"), col("ws").as("ws1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("ws").as("ws2")), Seq("id2"))
      .withColumn("shared",
        size(array_intersect(col("ws1"), col("ws2"))).cast("long"))
      .filter(col("shared") * (tDen + tNum) >= lit(tNum) * (col("n1") + col("n2")))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("shared"),
        expr("shared * 1000000 DIV (n1 + n2 - shared)").as("jac_micro"))
  }

  /** EDIT-DISTANCE VERIFY over the winnow candidates — the character-
    * level confirmation pass the token-level verifiers can't do
    * (shingle Jaccard is blind to within-token edits; Levenshtein
    * counts them): exact edit distance between each candidate pair's
    * texts, normalized to milli by the longer length, flagged near at
    * ≤ 20% edits. Both engines ship the CLASSIC Wagner–Fischer
    * metric, so the values — not just the flags — gate-compare
    * exactly.
    *
    * Scale: the O(len²) dynamic program runs ONLY on candidate pairs
    * the winnow blocking already bounded — the textbook blocked-
    * verify shape; the text payloads attach via two doc_id equi-joins. */
  def editDistancePairs(spark: SparkSession, sfDir: String,
      nearMilli: Long = 200L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
      .localCheckpoint(eager = false) // both pair sides
    winnowEdgesMaterialized(spark, sfDir)
      .select(col("id1"), col("id2"), col("n_shared"))
      .join(docs.select(col("doc_id").as("id1"), col("text").as("t1"),
        col("len").as("len1")), Seq("id1"))
      .join(docs.select(col("doc_id").as("id2"), col("text").as("t2"),
        col("len").as("len2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("n_shared"),
        levenshtein(col("t1"), col("t2")).cast("long").as("edit_dist"),
        greatest(col("len1"), col("len2")).as("max_len"))
      .withColumn("edit_milli", expr("(edit_dist * 1000) DIV max_len"))
      .withColumn("is_near", col("edit_milli") <= nearMilli)
  }
}
